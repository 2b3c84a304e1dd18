package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * The shared skeleton of the streaming dedup family: one wiring function
 * ([[wire]]) behind every operator's `judged` / `judgedTtl`, and one
 * bucket judge ([[Judge]]) behind the five banded operators
 * ([[StreamingNearDedup]], [[StreamingEmbDedup]], [[StreamingEmbDedupAdc]],
 * [[StreamingEmbDedupCell]], [[StreamingMediaDedup]]). An operator supplies
 * only what differs: its degenerate-row test, its score per (arrival,
 * entry), whether a row may register, and its entry / verdict
 * constructors.
 *
 * A bucket is the list of keepers registered under one band / cell / combo
 * key, in registration order. Per micro-batch the judge sorts the key's
 * rows by id; each row takes the best stored candidate by (score desc, id
 * asc) — candidates include earlier (smaller-id) same-batch registrants,
 * and a replayed keeper never matches itself. A score ≥ `threshold` is a
 * match and refreshes the keeper's `lastSeenMs`; otherwise the row
 * registers (or, on replay, re-warms its own entry — a replayed keeper
 * re-emits `keep = true`, so at-least-once sources keep the output
 * stable). Judgment is a pure function of (state, batch), so checkpoint
 * replays are deterministic.
 *
 * TTL (`horizonMs > 0`): two eviction paths, both required, because Spark
 * never flags `hasTimedOut` for a key WITH data in the batch —
 *  - DATA path: entries whose `lastSeenMs + horizon` the watermark has
 *    passed are dropped before judging, so an arrival just past the
 *    horizon cannot match a stale keeper;
 *  - TIMEOUT path: buckets idle past the horizon (no arrival re-armed the
 *    timeout) are removed wholesale when the watermark passes, bounding
 *    state size.
 * Every arrival refreshes its entry, so the horizon slides per entry; the
 * timeout is re-armed at `max(lastSeenMs) + horizon`, clamped above the
 * current watermark (Spark rejects timestamps at or below it).
 */
private[streaming] object BandedDedup {

  implicit val stringKeyEnc: Encoder[String] = Encoders.STRING
  implicit val longKeyEnc: Encoder[Long] = Encoders.scalaLong

  /** What the judge reads of a stored entry. */
  trait Keeper { def id: Long; def lastSeenMs: Long }

  /** Rows (already exploded) → (TTL only) event-time watermark on their
    * `ts` (a typed flatMap strips event-time metadata, so it must come
    * after the explode) → group by key → stateful judgment with
    * `NoTimeout`, or `EventTimeTimeout` when a watermark delay is given. */
  def wire[R, K: Encoder, S: Encoder, V: Encoder](rows: Dataset[R], key: R => K,
      watermarkDelay: Option[String])(
      judge: (K, Iterator[R], GroupState[S]) => Iterator[V]): Dataset[V] =
    watermarkDelay.fold(rows)(rows.withWatermark("ts", _)).groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append,
        if (watermarkDelay.isEmpty) GroupStateTimeout.NoTimeout
        else GroupStateTimeout.EventTimeTimeout)(judge)

  /** One banded operator's bucket judge: rows `R`, entries `E`, bucket
    * state `S`, verdicts `V`. Scores are a primitive-returning method, so
    * the loop over entries does not box. */
  abstract class Judge[R, E <: Keeper, S, V] extends Serializable {
    def threshold: Double
    def rowId(r: R): Long
    def rowTs(r: R): java.sql.Timestamp
    /** Sentinel rows: match nothing, register nothing, are kept. */
    def degenerate(r: R): Boolean
    /** A per-arrival constant handed to [[score]] and [[entry]] (a norm, a
      * Σ|q|), computed once per row instead of once per entry. */
    def perRow(r: R): Double = 0.0
    def score(r: R, q: Double, e: E): Double
    def mayRegister(r: R): Boolean = true
    def entry(r: R, q: Double, ts: Long): E
    def warmed(e: E, ts: Long): E
    def entries(s: S): Seq[E]
    def bucket(es: Seq[E]): S
    def verdict(r: R, candId: Option[Long], est: Option[Double]): V

    def judge[K](horizonMs: Long)(key: K, rows: Iterator[R],
                                  state: GroupState[S]): Iterator[V] = {
      if (horizonMs > 0 && state.hasTimedOut) {
        state.remove(); return Iterator.empty
      }
      val batch = rows.toSeq.sortBy(rowId)
      if (batch.isEmpty) return Iterator.empty
      val wm = if (horizonMs > 0) state.getCurrentWatermarkMs() else 0L
      var es = state.getOption.map(entries(_).toVector).getOrElse(Vector.empty[E])
      var changed = false
      if (horizonMs > 0) {
        val live = es.filter(_.lastSeenMs + horizonMs > wm)
        if (live.size != es.size) { es = live; changed = true }
      }
      def touch(at: Int, ts: Long): Unit =
        if (es(at).lastSeenMs < ts) { es = es.updated(at, warmed(es(at), ts)); changed = true }
      val out = batch.map { r =>
        if (degenerate(r)) verdict(r, None, None)
        else {
          val id = rowId(r)
          val ts = if (rowTs(r) == null) 0L else rowTs(r).getTime
          val q = perRow(r)
          var bestAt = -1
          var bestId = Long.MaxValue
          var best = Double.NegativeInfinity
          var i = 0
          while (i < es.length) {
            val e = es(i)
            if (e.id != id) { // keeper replay never matches itself
              val s = score(r, q, e)
              if (s > best || (s == best && e.id < bestId)) {
                best = s; bestId = e.id; bestAt = i
              }
            }
            i += 1
          }
          if (bestAt >= 0 && best >= threshold) {
            touch(bestAt, ts) // matched keeper stays hot
            verdict(r, Some(bestId), Some(best))
          } else {
            if (mayRegister(r)) {
              val at = es.indexWhere(_.id == id)
              if (at < 0) { es = es :+ entry(r, q, ts); changed = true }
              else touch(at, ts) // replay re-warms
            }
            verdict(r, None, None)
          }
        }
      }
      if (changed) {
        if (es.isEmpty) state.remove() else state.update(bucket(es))
      }
      if (horizonMs > 0 && es.nonEmpty)
        state.setTimeoutTimestamp(
          math.max(es.iterator.map(_.lastSeenMs).max + horizonMs, wm + 1))
      out.iterator
    }

    /** [[wire]] with this judge; `ttl` = (horizon, watermark delay). */
    def wired[K: Encoder](rows: Dataset[R], key: R => K,
        ttl: Option[(java.time.Duration, String)])(
        implicit s: Encoder[S], v: Encoder[V]): Dataset[V] =
      wire(rows, key, ttl.map(_._2))(judge[K](ttl.fold(0L)(_._1.toMillis)) _)
  }
}
