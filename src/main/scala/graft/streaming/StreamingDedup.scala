package graft.streaming

import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/**
 * Streaming exact dedup: the FIRST occurrence of each content hash across
 * the life of the stream is the keeper; every later arrival is judged a
 * duplicate of it. The streaming counterpart of
 * [[graft.llm.Dedup.dedupIncremental]] — a continuous document feed is
 * deduped batch-over-batch without ever re-scanning the corpus, because
 * the corpus IS the state: one (hash → keeper id) marker per distinct
 * document in the executor state store (RocksDB-backed on a real
 * cluster), partitioned by hash, no text retained, no driver state.
 *
 * Unlike Spark's built-in `dropDuplicates` (which keeps equivalent state)
 * this emits an audit row for EVERY arrival — keeper id and verdict —
 * so downstream can count/route duplicates, and an at-least-once replay
 * of the keeper re-emits `keep = true` (judgment is a pure function of
 * state), keeping the output idempotent under source replay.
 */
object StreamingDedup {

  final case class Doc(docId: Long, contentHash: String)
  /** TTL-horizon variant of [[Doc]]: `ts` is the event time the watermark
    * and the dedup horizon are measured against. */
  final case class TimedDoc(docId: Long, contentHash: String,
                            ts: java.sql.Timestamp)
  final case class Seen(keeperId: Long, lastSeenMs: Long = 0L)
  final case class Judged(docId: Long, keeperId: Long, keep: Boolean)

  implicit val docEnc: Encoder[Doc] = Encoders.product[Doc]
  implicit val timedDocEnc: Encoder[TimedDoc] = Encoders.product[TimedDoc]
  implicit val seenEnc: Encoder[Seen] = Encoders.product[Seen]
  implicit val judgedEnc: Encoder[Judged] = Encoders.product[Judged]
  implicit val stringEnc: Encoder[String] = Encoders.STRING

  /** Per-hash judgment: min-id within the first batch elects the keeper;
    * afterwards the stored keeper wins forever. */
  def judge(hash: String, rows: Iterator[Doc],
            state: GroupState[Seen]): Iterator[Judged] = {
    val batch = rows.toSeq.sortBy(_.docId)
    if (batch.isEmpty) Iterator.empty
    else state.getOption match {
      case Some(s) =>
        batch.iterator.map(d => Judged(d.docId, s.keeperId, d.docId == s.keeperId))
      case None =>
        val keeper = batch.head.docId
        state.update(Seen(keeper))
        batch.iterator.map(d => Judged(d.docId, keeper, d.docId == keeper))
    }
  }

  /** TTL judgment: the stored keeper wins while the hash has been seen
    * within `horizonMs` of the watermark (every arrival of the hash —
    * keeper replay or duplicate — refreshes the horizon: a hot hash never
    * expires), under the family's two-path eviction contract
    * ([[BandedDedup]]) applied to a single marker instead of a bucket. */
  def judgeTtl(horizonMs: Long)(hash: String, rows: Iterator[TimedDoc],
               state: GroupState[Seen]): Iterator[Judged] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val batch = rows.toSeq.sortBy(_.docId)
    if (batch.isEmpty) return Iterator.empty
    val wm = state.getCurrentWatermarkMs()
    val maxTs = batch.iterator.map(_.ts.getTime).max
    val live = state.getOption.filter(s => s.lastSeenMs + horizonMs > wm)
    val keeper = live.map(_.keeperId).getOrElse(batch.head.docId)
    val lastSeen = math.max(live.map(_.lastSeenMs).getOrElse(0L), maxTs)
    state.update(Seen(keeper, lastSeen))
    state.setTimeoutTimestamp(math.max(lastSeen + horizonMs, wm + 1))
    batch.iterator.map(d => Judged(d.docId, keeper, d.docId == keeper))
  }

  /** Wire the stateful dedup over a stream of pre-hashed docs. */
  def judged(docs: Dataset[Doc]): Dataset[Judged] =
    BandedDedup.wire(docs, (_: Doc).contentHash, None)(judge _)

  /** [[Judged]] with the group's content hash carried through — the form
    * the `foreachBatch` store bridge ([[absorbKeepers]]) consumes. */
  final case class JudgedHash(docId: Long, contentHash: String,
                              keeperId: Long, keep: Boolean)
  implicit val judgedHashEnc: Encoder[JudgedHash] = Encoders.product[JudgedHash]

  /** [[judged]] emitting the content hash alongside each verdict. */
  def judgedHash(docs: Dataset[Doc]): Dataset[JudgedHash] =
    BandedDedup.wire(docs, (_: Doc).contentHash, None) {
      (hash: String, rows: Iterator[Doc], state: GroupState[Seen]) =>
        judge(hash, rows, state).map(j => JudgedHash(j.docId, hash, j.keeperId, j.keep))
    }

  /**
   * `foreachBatch` bridge for the EXACT family — the [[graft.queries
   * .Materialized.contentHashes]] counterpart of
   * [[StreamingNearDedup.absorbKeepers]]: absorb the micro-batch's kept
   * content hashes into the stored hash table, exactly-once per
   * (streamId, micro-batch id) — a checkpoint replay re-offers the same
   * ledgered batch id and absorbs nothing. After the bridge, batch
   * Bloom-gated judgments ([[graft.llm.Dedup
   * .dedupIncrementalBloomFromHashes]] over the store view) classify a
   * copy of a streaming keep as already ingested. Returns the verdicts
   * for the caller's own sink.
   */
  def absorbKeepers(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    judgedBatch: org.apache.spark.sql.DataFrame,
                    streamId: String, microBatchId: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val kept = judgedBatch.where(col("keep"))
      .select(col("docId").as("id"), col("contentHash").as("h"))
    graft.queries.Materialized.absorb(spark, sfDir,
      graft.queries.Materialized.Stores.ContentHashes, kept, s"$streamId-$microBatchId")
    judgedBatch
  }

  /** Horizon-bounded dedup: verdicts match [[judged]] for any duplicate
    * arriving within `horizon` (event time) of the hash's last sighting —
    * with `watermarkDelay` slack for late data — and the state store
    * plateaus at the number of hashes active within one horizon instead of
    * growing with the life of the stream. A duplicate arriving AFTER the
    * horizon re-elects a keeper on the stream; the batch stores absorb
    * keeps via the `foreachBatch` bridges, so the next batch judgment
    * still catches it — the stream trades unbounded memory for a bounded
    * re-judgment window, the same contract as the batch stores' retention.
    */
  def judgedTtl(docs: Dataset[TimedDoc], horizon: java.time.Duration,
                watermarkDelay: String): Dataset[Judged] =
    BandedDedup.wire(docs, (_: TimedDoc).contentHash, Some(watermarkDelay))(
      judgeTtl(horizon.toMillis) _)
}
