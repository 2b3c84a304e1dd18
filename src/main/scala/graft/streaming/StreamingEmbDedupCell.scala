package graft.streaming

import graft.llm.Similarity
import org.apache.spark.sql.{Dataset, Encoders}

/**
 * Streaming embedding near-dup partitioned by IVF CELL — the streaming
 * form of the batch hybrid ([[graft.llm.Similarity.knnJoinHammingIvfRes]]),
 * and the total-state rung below [[StreamingEmbDedupAdc]]:
 *
 *  - **State is keyed by cell, not band.** The band family registers a
 *    keeper once per band (`bands` × 32 B of state per keeper); here a
 *    keeper registers exactly ONCE, in its IVF assignment cell (the house
 *    `(dist, centroid_id)` argmin over the broadcast centroid sidecar —
 *    bit-identical to [[graft.llm.Similarity.ivfAssign]], so the stream's
 *    cells ARE the batch index's). 32 B per KEEPER total — a further
 *    `bands`× cut over the ADC stream at the same sketch width, and the
 *    state store's hash partitioning spreads cells across executors the
 *    way FAISS shards inverted lists.
 *  - **Entries are RESIDUAL sketches.** What's stored is the 128-plane
 *    densified sign sketch of `v − centroid(cell)`
 *    ([[graft.llm.Similarity.hammingResidualSigRows]]'s code, built from
 *    the shared [[Similarity.superBitProj]]/[[Similarity.packSketch]]
 *    kernels), so every comparison inside a cell is between offsets from
 *    the same centroid — the binary-IVF refinement, measured on the batch
 *    grid (BASELINE.md round 15: residual beats raw everywhere under the
 *    per-cell cut).
 *  - **Arrivals probe `nprobe` cells.** Each arrival emits one probe row
 *    per nearest cell, carrying the arrival's exact per-plane RESIDUAL
 *    projection magnitudes w.r.t. THAT cell (1 KB riding the shuffle
 *    transiently, never the state store); the cell's judgment ADC-scores
 *    them against its stored sign bits via the exact-integer
 *    [[Similarity.adcScoreKernel]] and thresholds the estimated cosine
 *    `cos((π/2)·(1 − s/Σ|q_k|))` — [[StreamingEmbDedupAdc]]'s estimator,
 *    bit-replayable on restart. Registration happens ONLY in the home
 *    (argmin) cell, and only when that cell's judgment found no match —
 *    the family's per-group register rule.
 *
 * Dup-detection contract: an EXACT copy assigns to its keeper's home cell
 * (same argmin on an identical vector), its residual equals the keeper's,
 * every decided plane agrees → est = 1 exactly — structural, like the
 * parent. NEAR-copies must probe the keeper's home cell to match:
 * `nprobe` is the recall dial (measured at 55k, BASELINE.md round 15:
 * 0.896 → 1.000 as nprobe 1 → 4 on planted 0.995-cosine pairs, uniform
 * corpus). Degenerate vectors (null/zero/∞, or a vector EXACTLY on its
 * home centroid, whose residual carries no angle) take a per-doc
 * sentinel key, match nothing, register nothing, are kept.
 *
 * VERDICT SEMANTICS — what `threshold` thresholds: the estimated
 * WITHIN-CELL (residual) cosine, NOT the raw cosine the band family
 * estimates. The two agree where centroids are small relative to the
 * data (isotropic corpora) and on exact copies (est = 1 under both),
 * but on a clustered corpus the cell centroid absorbs the direction
 * mass every member shares, so organic same-cell pairs whose RAW
 * cosine is high score LOW here unless they also agree on the
 * within-cell offset — this is SemDeDup's semantic (Abbas et al. 2023,
 * "SemDeDup": k-means cells + within-cluster similarity threshold),
 * streamed, with 16-byte sketch state; the band-ADC stream is the
 * raw-cosine (MinHashLSH-style) semantic. Pick by what "duplicate"
 * means for the corpus — the measured divergence on an anisotropic
 * corpus is in BASELINE.md (the band stream judged 85% of organic
 * arrivals dups at 0.9 raw; the cell stream kept most of them).
 *
 * Verdict columns are the family contract ([[StreamingEmbDedupAdc.AdcBandVerdict]]);
 * reduce with [[StreamingNearDedup.verdicts]], absorb keepers into the
 * stored search artifacts with [[StreamingEmbDedupAdc.absorbKeepers]]
 * (absorb-time assignment replays the same argmin, so the absorbed cell
 * store agrees with the stream's registration cells). [[judgedTtl]]
 * bounds state to one dedup horizon ([[BandedDedup]]).
 *
 * 100 TB shape: per-arrival work is `Σ probed-cell sizes` ≈
 * `nprobe · N/C` sketch scores — the inverted-list scan; size `C` so
 * lists stay bounded (the batch index's retrain/split triad maintains
 * exactly that invariant). Hot cells are the skew risk and more cells
 * the FAISS answer; the centroid sidecar rides the closure
 * (`C · dims · 8` bytes, e.g. 2 MB at C=4096/d=64).
 */
final case class StreamingEmbDedupCell(cents: Array[(Long, Array[Double])],
                                       nprobe: Int = 2, dims: Int = 64,
                                       threshold: Double = 0.9) {
  import BandedDedup.stringKeyEnc
  import StreamingEmbDedupAdc.{AdcBucket, AdcEntry, AdcBandVerdict, absSum, adcBucketEnc, adcBandVerdictEnc, estCosine}
  import StreamingEmbDedupCell._
  require(cents.nonEmpty, "empty centroid sidecar")
  require(cents.forall(_._2.length == dims),
    s"centroid dims must match vector dims $dims")
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
  require(dims <= 64,
    s"the 128-plane densified sign sketch covers <= 64 dims, got $dims")
  require(threshold > -1.0 && threshold <= 1.0,
    s"threshold is an estimated cosine and must be in (-1, 1], got $threshold")
  // centroid_id-ascending: strict < over this order = min_by (dist, cid)
  private val sorted = cents.sortBy(_._1)

  /** One probe row per (arrival, probed cell): the residual projection
    * table w.r.t. THAT cell plus the packed residual sketch (used for
    * registration on the home row only). */
  private def explode(vecId: Long, v: Array[Double],
                      ts: java.sql.Timestamp): Iterator[CellProbeRow] = {
    def sentinel = Iterator.single(CellProbeRow(vecId, s"empty:$vecId", 0L, 0L,
      Array.emptyLongArray, home = true, ts, Array.emptyDoubleArray))
    if (StreamingEmbDedup.degenerateVec(v, dims)) sentinel
    else {
      // nprobe nearest cells by (squared L2, cid) — the house probe rule
      val top = new Array[Int](math.min(nprobe, sorted.length))
      val dist = Array.fill(top.length)(Double.PositiveInfinity)
      var j = 0
      while (j < sorted.length) {
        val cv = sorted(j)._2
        var s = 0.0; var i = 0
        while (i < cv.length) { val dx = cv(i) - v(i); s += dx * dx; i += 1 }
        var at = top.length
        while (at > 0 && s < dist(at - 1)) at -= 1 // strict <: ties keep lower cid
        if (at < top.length) {
          var m = top.length - 1
          while (m > at) { top(m) = top(m - 1); dist(m) = dist(m - 1); m -= 1 }
          top(at) = j; dist(at) = s
        }
        j += 1
      }
      val rows = Vector.newBuilder[CellProbeRow]
      var homeDegenerate = false
      var p = 0
      while (p < top.length && !homeDegenerate) {
        val (cid, cv) = sorted(top(p))
        val r = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { r(i) = v(i) - cv(i); i += 1 }
        val proj = Similarity.superBitProj(r.toSeq)
        if (absSum(proj) == 0L) {
          // a zero residual carries no angle. On the HOME cell that means
          // the arrival sits exactly on its centroid: it can neither
          // verify nor register — the family's degenerate verdict (kept,
          // registers nothing). A non-home zero residual just yields no
          // probe row (nothing to score).
          if (p == 0) homeDegenerate = true
        } else {
          val (lo, hi) = Similarity.packSketch(proj)
          rows += CellProbeRow(vecId, s"c:$cid", lo, hi, proj, home = p == 0,
            ts, if (p == 0) v else Array.emptyDoubleArray)
        }
        p += 1
      }
      if (homeDegenerate) sentinel else rows.result().iterator
    }
  }

  /** The per-cell judgment ([[BandedDedup.Judge]]): the ADC stream's
    * estimate, with registration gated on the HOME row — non-home probes
    * only report candidates, so each keeper owns exactly one state entry. */
  private val judge = new BandedDedup.Judge[CellProbeRow, AdcEntry, AdcBucket, AdcBandVerdict] {
    def threshold: Double = StreamingEmbDedupCell.this.threshold
    def rowId(r: CellProbeRow): Long = r.vecId
    def rowTs(r: CellProbeRow): java.sql.Timestamp = r.ts
    def degenerate(r: CellProbeRow): Boolean = r.proj.isEmpty
    override def perRow(r: CellProbeRow): Double = absSum(r.proj).toDouble
    def score(r: CellProbeRow, q: Double, e: AdcEntry): Double =
      estCosine(r.proj, q, e.slo, e.shi)
    override def mayRegister(r: CellProbeRow): Boolean = r.home
    def entry(r: CellProbeRow, q: Double, ts: Long): AdcEntry = AdcEntry(r.vecId, r.slo, r.shi, ts)
    def warmed(e: AdcEntry, ts: Long): AdcEntry = e.copy(lastSeenMs = ts)
    def entries(s: AdcBucket): Seq[AdcEntry] = s.entries
    def bucket(es: Seq[AdcEntry]): AdcBucket = AdcBucket(es)
    def verdict(r: CellProbeRow, candId: Option[Long], est: Option[Double]): AdcBandVerdict =
      AdcBandVerdict(r.vecId, candId, est, r.home, Option.when(r.home && r.vec.nonEmpty)(r.vec))
  }

  /** Wire the cell-partitioned judgment over an embedding stream. Output
    * is one verdict per (doc, probed cell) — reduce with
    * [[StreamingNearDedup.verdicts]] (shared column contract). */
  def judged(docs: Dataset[StreamingEmbDedup.VecDoc]): Dataset[AdcBandVerdict] =
    judge.wired(docs.flatMap(d => explode(d.vecId, d.vec, null)), _.cellKey, None)

  /** Horizon-bounded variant: state plateaus at one dedup horizon. */
  def judgedTtl(docs: Dataset[StreamingEmbDedup.TimedVecDoc],
                horizon: java.time.Duration,
                watermarkDelay: String): Dataset[AdcBandVerdict] =
    judge.wired(docs.flatMap(d => explode(d.vecId, d.vec, d.ts)), _.cellKey,
      Some(horizon -> watermarkDelay))
}

object StreamingEmbDedupCell {

  /** Build from a centroid table (`centroid_id`, `vec`) — the batch IVF
    * index's sidecar ([[graft.queries.Materialized.ivfIndex]]), so the
    * stream partitions by exactly the cells the batch searches probe. */
  def fromCentroids(centroids: org.apache.spark.sql.DataFrame,
                    nprobe: Int = 2, dims: Int = 64,
                    threshold: Double = 0.9): StreamingEmbDedupCell =
    StreamingEmbDedupCell(
      Similarity.collectCentroids(centroids, "StreamingEmbDedupCell"),
      nprobe, dims, threshold)

  /** One probe row per (arrival, probed cell); `home` marks the argmin
    * cell — the only row that may register, and the only carry row. */
  final case class CellProbeRow(vecId: Long, cellKey: String, slo: Long,
                                shi: Long, proj: Array[Long], home: Boolean,
                                ts: java.sql.Timestamp = null,
                                vec: Array[Double] = Array.emptyDoubleArray)

  implicit val cellProbeRowEnc: org.apache.spark.sql.Encoder[CellProbeRow] =
    Encoders.product[CellProbeRow]
}
