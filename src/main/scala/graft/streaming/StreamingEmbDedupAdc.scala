package graft.streaming

import graft.llm.Similarity
import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/**
 * Streaming embedding near-dup with an ADC (asymmetric-distance)
 * verification stage — the state-bytes rung below [[StreamingEmbDedup]]:
 * the banding is IDENTICAL (same deterministic sign-LSH band keys, same
 * recall geometry `1 − (1 − p^r)^b`), but the state store keeps only each
 * keeper's 128-bit densified sign sketch ([[Similarity.superBitKernel]] —
 * 16 bytes) instead of its full vector (dims·8 = 512 bytes): **32 B per
 * entry per band vs 528 B, a 16× state cut at equal recall geometry.**
 * The price is the verdict: verification scores the ARRIVAL's exact
 * per-plane projection magnitudes ([[Similarity.superBitProj]], exact
 * integers) against the stored corpus sign bits — the streaming form of
 * the batch ADC rung (`knnJoinHammingAdc`, Jégou et al. 2011's
 * asymmetric move) — and thresholds an ESTIMATED cosine, like the
 * MinHash stream's component-match estimate and unlike the parent's
 * exact cosine.
 *
 * The estimator: for sign-random-projection planes, each plane agrees
 * with probability `1 − θ/π`, so `E[s] = Σ|q_k|·(1 − 2θ/π)` for the ADC
 * score `s = Σ q_k·sign_k(corpus)`; inverting,
 * `est = cos((π/2)·(1 − s/Σ|q_k|))`. An exact copy agrees on every
 * decided plane → `s = Σ|q_k|` → est = 1 exactly, so the dup-detection
 * contract (copies lose to their keepers) is structural, not
 * probabilistic. Both `s` and `Σ|q_k|` are exact integers, so replays
 * and restarts re-verify identically.
 *
 * Everything else is the family contract ([[BandedDedup]]): per-doc
 * verdicts reduce with [[StreamingNearDedup.verdicts]] (`est` = the
 * estimated cosine); degenerate vectors take a per-doc sentinel band and
 * are kept; [[judgedTtl]] bounds state to one dedup horizon.
 */
final case class StreamingEmbDedupAdc(bands: Int = 16, planesPerBand: Int = 8,
                                      dims: Int = 64, threshold: Double = 0.9) {
  import BandedDedup.stringKeyEnc
  import StreamingEmbDedupAdc._
  require(dims <= 64,
    s"the 128-plane densified sign sketch covers <= 64 dims, got $dims")
  // the estimator is a cosine: anything outside (-1, 1] either matches
  // nothing (> 1) or would index the -2.0 "no candidate" sentinel as a
  // real match (<= -1) — fail at construction, not mid-stream
  require(threshold > -1.0 && threshold <= 1.0,
    s"threshold is an estimated cosine and must be in (-1, 1], got $threshold")

  private val signer: Array[Double] => Array[Long] =
    Similarity.lshBandSignatureKernel(bands, planesPerBand, dims)

  /** Explode a vector into its band rows: the band keys of the parent
    * stream, plus the arrival's packed sketch (what registers) and its
    * full projection table (what verifies — 1 KB riding the shuffle
    * transiently, never the state store). */
  private def explode(vecId: Long, v: Array[Double],
                      ts: java.sql.Timestamp): Iterator[AdcBandRow] = {
    def sentinel = Iterator.single(AdcBandRow(vecId, s"empty:$vecId", 0L, 0L,
      Array.emptyLongArray, carry = true, ts, Array.emptyDoubleArray))
    if (StreamingEmbDedup.degenerateVec(v, dims)) sentinel
    else {
      val proj = Similarity.superBitProj(v.toSeq)
      // a vector whose every projection magnitude is zero carries no
      // angle through the sketch — treat as degenerate (kept), the
      // sentinel-band verdict; cannot happen for nonzero 6-dp vectors
      // short of pathological cancellation on all 128 planes
      if (absSum(proj) == 0L) sentinel
      else {
        // the shared packer — stream and batch sketch bit-parity is
        // structural, not a convention maintained by hand
        val (lo, hi) = Similarity.packSketch(proj)
        val sig = signer(v)
        // the raw vector rides ONLY the carry row (band 0) — the absorb
        // bridge re-signs keepers for the batch store; verification and
        // registration need only proj/sketch
        (0 until bands).iterator.map { bi =>
          AdcBandRow(vecId, s"$bi:${sig(bi)}", lo, hi, proj, carry = bi == 0,
            ts, if (bi == 0) v else Array.emptyDoubleArray)
        }
      }
    }
  }

  /** The per-bucket judgment ([[BandedDedup.Judge]]): score = the ADC
    * cosine estimate, Σ|q_k| computed once per row. */
  private val judge = new BandedDedup.Judge[AdcBandRow, AdcEntry, AdcBucket, AdcBandVerdict] {
    def threshold: Double = StreamingEmbDedupAdc.this.threshold
    def rowId(r: AdcBandRow): Long = r.vecId
    def rowTs(r: AdcBandRow): java.sql.Timestamp = r.ts
    def degenerate(r: AdcBandRow): Boolean = r.proj.isEmpty
    override def perRow(r: AdcBandRow): Double = absSum(r.proj).toDouble
    def score(r: AdcBandRow, q: Double, e: AdcEntry): Double =
      estCosine(r.proj, q, e.slo, e.shi)
    def entry(r: AdcBandRow, q: Double, ts: Long): AdcEntry = AdcEntry(r.vecId, r.slo, r.shi, ts)
    def warmed(e: AdcEntry, ts: Long): AdcEntry = e.copy(lastSeenMs = ts)
    def entries(s: AdcBucket): Seq[AdcEntry] = s.entries
    def bucket(es: Seq[AdcEntry]): AdcBucket = AdcBucket(es)
    def verdict(r: AdcBandRow, candId: Option[Long], est: Option[Double]): AdcBandVerdict =
      AdcBandVerdict(r.vecId, candId, est, r.carry, Option.when(r.carry && r.vec.nonEmpty)(r.vec))
  }

  /** Wire the stateful ADC judgment over an embedding stream. Output is
    * one verdict per (doc, band) — reduce with
    * [[StreamingNearDedup.verdicts]] (shared column contract). */
  def judged(docs: Dataset[StreamingEmbDedup.VecDoc]): Dataset[AdcBandVerdict] =
    judge.wired(docs.flatMap(d => explode(d.vecId, d.vec, null)), _.bandKey, None)

  /** Horizon-bounded variant: state plateaus at one dedup horizon. */
  def judgedTtl(docs: Dataset[StreamingEmbDedup.TimedVecDoc],
                horizon: java.time.Duration,
                watermarkDelay: String): Dataset[AdcBandVerdict] =
    judge.wired(docs.flatMap(d => explode(d.vecId, d.vec, d.ts)), _.bandKey,
      Some(horizon -> watermarkDelay))
}

object StreamingEmbDedupAdc {

  /**
   * `foreachBatch` bridge from the ADC stream to the BATCH binary-sketch
   * stores: reduce the micro-batch's band verdicts, then absorb the kept
   * vectors' full signature rows ([[Similarity.hammingSigRows]] —
   * axis-sign word + densified sketch, the store's `d64_b1_k128` config)
   * into ALL the stored search artifacts, each store making its own rows
   * from the kept vectors:
   * [[graft.queries.Materialized.Stores.HammingSigs]] (flat),
   * [[graft.queries.Materialized.Stores.HammingSigsIvf]] (cell-
   * partitioned raw sketches, keepers assigned to their IVF cell at
   * absorb time), [[graft.queries.Materialized.Stores.HammingSigsIvfRes]]
   * (cell-partitioned RESIDUAL sketches),
   * [[graft.queries.Materialized.Stores.Q8Codes]] (flat int8 rerank
   * codes) and [[graft.queries.Materialized.Stores.Q8CodesIvf]]
   * (cell-partitioned int8 codes, assigned at absorb time) — so batch
   * `FromSigs` searches, both hybrid searches, the flat SQ search AND
   * the fully-composed search see the same corpus after the micro-batch; no
   * stored path serves a stale membership view. Exactly-once per (streamId, micro-batch id)
   * via each store's ledger — the family contract of
   * [[StreamingEmbDedup.absorbKeepers]]; a crash between the two absorbs
   * replays idempotently (the already-absorbed store no-ops). Returns
   * the per-doc verdicts for the caller's own sink.
   *
   * The FromSigs CALLER CONTRACT follows: once keepers are absorbed,
   * batch searches over the absorbed sig head must pass a corpus view
   * that UNIONS the kept vectors (see
   * [[graft.llm.Similarity.knnJoinHammingFromSigs]]'s contract and the
   * StreamingEmbDedupAdcSpec absorb test) — a sig id with no corpus row
   * would silently shrink the rerank pool.
   */
  def absorbKeepers(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    bandVerdicts: org.apache.spark.sql.DataFrame,
                    streamId: String, microBatchId: Long): org.apache.spark.sql.DataFrame = {
    import graft.queries.Materialized
    import graft.queries.Materialized.Stores._
    val (v, keptVecs) = StreamingEmbDedup.keptVectors(bandVerdicts)
    for (store <- Seq(HammingSigs, HammingSigsIvf, HammingSigsIvfRes, Q8Codes, Q8CodesIvf))
      Materialized.absorb(spark, sfDir, store,
        store.rowsOf(spark, sfDir, keptVecs, "docId", "vec"), s"$streamId-$microBatchId")
    v
  }

  /** Σ|q_k| of a projection table (exact integer). */
  private[streaming] def absSum(proj: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < proj.length) { s += math.abs(proj(i)); i += 1 }
    s
  }

  /** The ADC estimate of the cosine between an arrival (projections, with
    * its Σ|q_k| precomputed ONCE per row — a per-arrival constant, not a
    * per-entry one) and a stored keeper (sign bits). Score via the shared
    * [[Similarity.adcScoreKernel]] — exact-integer, deterministic across
    * replays, bit-identical to the batch ADC. */
  private[streaming] def estCosine(proj: Array[Long], qabs: Double,
                                   lo: Long, hi: Long): Double = {
    val s = Similarity.adcScoreKernel(proj, lo, hi)
    math.cos(math.Pi / 2.0 * (1.0 - s.toDouble / qabs))
  }

  final case class AdcBandRow(vecId: Long, bandKey: String, slo: Long,
                              shi: Long, proj: Array[Long], carry: Boolean,
                              ts: java.sql.Timestamp = null,
                              vec: Array[Double] = Array.emptyDoubleArray)
  /** State entry: 16 bytes of sketch + id + last-seen — the keeper's
    * vector never enters the state store. */
  final case class AdcEntry(id: Long, slo: Long, shi: Long,
                            lastSeenMs: Long = 0L) extends BandedDedup.Keeper
  final case class AdcBucket(entries: Seq[AdcEntry])
  /** Column contract shared with [[StreamingNearDedup.verdicts]]:
    * `est` is the ADC-estimated cosine; `vec` rides carry rows only,
    * for the absorb bridge. */
  final case class AdcBandVerdict(docId: Long, candId: Option[Long],
                                  est: Option[Double], carry: Boolean,
                                  vec: Option[Array[Double]] = None)

  implicit val adcBandRowEnc: Encoder[AdcBandRow] =
    Encoders.product[AdcBandRow]
  implicit val adcBucketEnc: Encoder[AdcBucket] =
    Encoders.product[AdcBucket]
  implicit val adcBandVerdictEnc: Encoder[AdcBandVerdict] =
    Encoders.product[AdcBandVerdict]
}
