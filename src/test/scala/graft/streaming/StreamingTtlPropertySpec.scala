package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, TestGroupState}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp
import org.apache.spark.api.java.Optional

/**
 * The TTL safety contract as a property: timeout-driven state eviction
 * frees MEMORY but never changes a VERDICT — every verdict is already
 * determined by the data-path rule alone ("a keeper is live while its
 * last sighting is within the horizon of the watermark"). We simulate the
 * engine faithfully through [[TestGroupState]] — including the
 * hasTimedOut invocations Spark issues for idle keys whose armed timeout
 * the watermark passed — and compare against an independent reference
 * fold that implements ONLY the data-path rule with no timeouts at all.
 * Arbitrary arrival sequences, including idle gaps far past the horizon,
 * same-batch races, keeper replays and watermark stalls, must agree.
 * The same simulation drives the banded family's shared bucket judge
 * ([[BandedDedup.Judge]], through [[StreamingMediaDedup]]'s Hamming
 * scores) against its own data-path-only reference.
 *
 * No SparkSession, no streams: pure function + TestGroupState, so the
 * property runs hundreds of sequences in milliseconds.
 */
class StreamingTtlPropertySpec extends AnyFunSuite {

  private val HorizonMs = 60_000L
  private val DelayMs = 5_000L
  private val T0 = 1_700_000_000_000L // fixed epoch base, arbitrary

  private def forAll[A](gen: Gen[A], n: Int = 60)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  // batches of (docId, hashKey) with event-time gaps that sometimes exceed
  // the horizon (eviction) and sometimes don't (retention)
  private val runsGen: Gen[List[(Long, List[(Long, String)])]] = for {
    nBatches <- Gen.choose(1, 8)
    parts <- Gen.listOfN(nBatches, for {
      gap <- Gen.frequency(3 -> Gen.choose(0L, 20_000L),
        1 -> Gen.choose(70_000L, 200_000L))
      rows <- Gen.listOfN(6, for {
        id <- Gen.choose(0L, 30L)
        h <- Gen.oneOf("hA", "hB", "hC")
      } yield (id, h))
    } yield (gap, rows))
  } yield {
    var t = T0
    parts.map { case (gap, rows) => t += gap; (t, rows) }
  }

  /** Engine-faithful simulation of a judge's per-key lifecycle: data
    * groups first, then hasTimedOut invocations for idle keys whose armed
    * timeout the watermark passed — the order FlatMapGroupsWithStateExec
    * uses. Watermark at batch N = max event time before batch N − delay.
    * `runs` are (event time, (key, row)) batches. */
  private def simulate[K: Ordering, R, S, V](runs: List[(Long, List[(K, R)])],
      judge: (K, Iterator[R], GroupState[S]) => Iterator[V],
      timeout: GroupStateTimeout = GroupStateTimeout.EventTimeTimeout): List[V] = {
    var states = Map.empty[K, S]
    var timeouts = Map.empty[K, Long]
    var maxSeen = Long.MinValue
    val out = List.newBuilder[V]
    runs.foreach { case (ts, rows) =>
      val wm = if (maxSeen == Long.MinValue) 0L else maxSeen - DelayMs
      val byKey = rows.groupBy(_._1)
      byKey.toSeq.sortBy(_._1).foreach { case (k, rs) =>
        val st = TestGroupState.create[S](
          states.get(k).map(Optional.of[S]).getOrElse(Optional.empty[S]()),
          timeout, 0L, Optional.of(wm), false)
        out ++= judge(k, rs.iterator.map(_._2), st).toList
        if (st.isRemoved) { states -= k; timeouts -= k }
        else {
          if (st.isUpdated) states += k -> st.get
          if (st.getTimeoutTimestampMs.isPresent)
            timeouts += k -> st.getTimeoutTimestampMs.get
        }
      }
      // idle keys whose timeout the watermark passed: hasTimedOut invocation
      (states.keySet -- byKey.keySet).toSeq.sorted.foreach { k =>
        if (timeouts.get(k).exists(_ <= wm)) {
          val st = TestGroupState.create[S](Optional.of(states(k)),
            GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(wm), true)
          val o = judge(k, Iterator.empty, st).toList
          assert(o.isEmpty, "timeout invocation must emit nothing")
          assert(st.isRemoved, "timeout invocation must evict")
          states -= k; timeouts -= k
        }
      }
      maxSeen = math.max(maxSeen, ts)
    }
    out.result()
  }

  /** [[simulate]] over judgedTtl's exact-dedup judge. */
  private def simulateEngine(
      runs: List[(Long, List[(Long, String)])]): List[StreamingDedup.Judged] =
    simulate(runs.map { case (ts, rows) =>
      ts -> rows.map { case (id, h) => h -> StreamingDedup.TimedDoc(id, h, new Timestamp(ts)) }
    }, StreamingDedup.judgeTtl(HorizonMs) _)

  /** Independent reference: ONLY the data-path rule, no timeouts, no
    * state-size concern — the semantic contract verdicts must follow. */
  private def referenceFold(
      runs: List[(Long, List[(Long, String)])]): List[StreamingDedup.Judged] = {
    var st = Map.empty[String, (Long, Long)] // hash -> (keeper, lastSeen)
    var maxSeen = Long.MinValue
    val out = List.newBuilder[StreamingDedup.Judged]
    runs.foreach { case (ts, rows) =>
      val wm = if (maxSeen == Long.MinValue) 0L else maxSeen - DelayMs
      rows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (h, rs) =>
        val sorted = rs.map(_._1).sorted
        val live = st.get(h).filter { case (_, seen) => seen + HorizonMs > wm }
        val keeper = live.map(_._1).getOrElse(sorted.head)
        st += h -> (keeper, math.max(live.map(_._2).getOrElse(0L), ts))
        sorted.foreach(id => out += StreamingDedup.Judged(id, keeper, id == keeper))
      }
      maxSeen = math.max(maxSeen, ts)
    }
    out.result()
  }

  test("timeout eviction never changes a verdict: engine simulation == data-path-only reference") {
    forAll(runsGen, n = 120) { runs =>
      assert(simulateEngine(runs) == referenceFold(runs), s"diverged on $runs")
    }
  }

  test("state actually shrinks: after an idle gap past the horizon, evicted keys are gone from state") {
    // deterministic shape: 3 hashes at t0, an unrelated key far later, then
    // confirm the timeout path removed the idle keys in the simulation
    val runs = List(
      (T0, List((1L, "hA"), (2L, "hB"), (3L, "hC"))),
      // the watermark only advances AFTER a batch: hB's re-arrival here is
      // judged at wm = T0 − delay (hB still live), and pushes the max
      // event time that expires hA/hC for the NEXT batch
      (T0 + 200_000L, List((50L, "hB"))),
      (T0 + 300_000L, List((9L, "hA"))), // hA has data: data-path re-elect
      (T0 + 310_000L, List((10L, "hA"))))
    val out = simulateEngine(runs)
    // hA re-elected at the third batch's arrival after eviction
    assert(out.contains(StreamingDedup.Judged(9L, 9L, true)))
    assert(out.contains(StreamingDedup.Judged(10L, 9L, false)))
    assert(out == referenceFold(runs))
  }

  // ---- the shared banded judge (BandedDedup.Judge), Media-style ----------

  import StreamingMediaDedup.{MediaBandRow, MediaBandVerdict}

  private val MaxHam = 2
  private val media = StreamingMediaDedup(maxHamming = MaxHam)
  // sketches 0–8 bits apart, so a bucket sees matches, near misses and
  // ties; a media id always carries the same sketch, every 7th is
  // unsketchable (the degenerate path)
  private val patterns = Array(0L, 1L, 3L, 7L, 0xFFL, 0xF0L, 0x3L << 20)
  private def sigOf(id: Long): Long = patterns((id % patterns.length).toInt)
  private def sketchable(id: Long): Boolean = id % 7 != 6

  /** Batches of (bucket key, media id). */
  private def bandedGen(gap: Gen[Long]): Gen[List[(Long, List[(Long, Long)])]] = for {
    nBatches <- Gen.choose(1, 8)
    parts <- Gen.listOfN(nBatches, for {
      g <- gap
      rows <- Gen.listOfN(6, for {
        key <- Gen.choose(0L, 2L)
        id <- Gen.choose(0L, 30L)
      } yield (key, id))
    } yield (g, rows))
  } yield {
    var t = T0
    parts.map { case (g, rows) => t += g; (t, rows) }
  }

  private def simulateBanded(runs: List[(Long, List[(Long, Long)])],
                             ttl: Boolean): List[MediaBandVerdict] =
    simulate(runs.map { case (ts, rows) =>
      ts -> rows.map { case (key, id) =>
        key -> MediaBandRow(id, key, sigOf(id), sketchable(id), carry = true,
          new Timestamp(ts))
      }
    }, media.judge.judge[Long](if (ttl) HorizonMs else 0L) _,
      if (ttl) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout)

  /** Independent reference for the banded judge: ONLY the data-path rule
    * (entries not seen within the horizon of the watermark are gone), no
    * timeouts. Per key, rows by id; best other entry by (hamming, id); a
    * match within `MaxHam` refreshes the keeper, otherwise the row
    * registers or re-warms its own entry. */
  private def referenceBanded(
      runs: List[(Long, List[(Long, Long)])]): List[MediaBandVerdict] = {
    var st = Map.empty[Long, Vector[(Long, Long)]] // key -> (id, lastSeen), registration order
    var maxSeen = Long.MinValue
    val out = List.newBuilder[MediaBandVerdict]
    def warm(es: Vector[(Long, Long)], id: Long, ts: Long) =
      es.map { case (i, seen) => (i, if (i == id) math.max(seen, ts) else seen) }
    runs.foreach { case (ts, rows) =>
      val wm = if (maxSeen == Long.MinValue) 0L else maxSeen - DelayMs
      rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (key, rs) =>
        var es = st.getOrElse(key, Vector.empty).filter(_._2 + HorizonMs > wm)
        rs.map(_._2).sorted.foreach { id =>
          val cands = es.collect { case (i, _) if i != id =>
            (java.lang.Long.bitCount(sigOf(i) ^ sigOf(id)), i) }
          if (!sketchable(id)) out += MediaBandVerdict(id, None, None, carry = true)
          else if (cands.nonEmpty && cands.min._1 <= MaxHam) {
            val (ham, cand) = cands.min
            es = warm(es, cand, ts)
            out += MediaBandVerdict(id, Some(cand), Some(-ham.toDouble), carry = true)
          } else {
            es = if (es.exists(_._1 == id)) warm(es, id, ts) else es :+ ((id, ts))
            out += MediaBandVerdict(id, None, None, carry = true)
          }
        }
        st += key -> es
      }
      maxSeen = math.max(maxSeen, ts)
    }
    out.result()
  }

  private val anyGap = Gen.frequency(3 -> Gen.choose(0L, 20_000L),
    1 -> Gen.choose(70_000L, 200_000L))

  test("banded judge: timeout eviction never changes a verdict (engine simulation == data-path-only reference)") {
    forAll(bandedGen(anyGap), n = 120) { runs =>
      assert(simulateBanded(runs, ttl = true) == referenceBanded(runs), s"diverged on $runs")
    }
  }

  test("banded judge: within one horizon the TTL judge judges exactly like the NoTimeout judge") {
    // at most 8 batches 7 s apart: the whole run spans under one horizon,
    // so no entry goes unseen long enough to expire
    forAll(bandedGen(Gen.choose(0L, 7_000L)), n = 120) { runs =>
      assert(simulateBanded(runs, ttl = true) == simulateBanded(runs, ttl = false),
        s"diverged on $runs")
    }
  }
}
