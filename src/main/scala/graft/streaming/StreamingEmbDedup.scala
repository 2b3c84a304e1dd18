package graft.streaming

import graft.llm.Similarity
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/**
 * Streaming EMBEDDING near-dup (banded sign-LSH): the vector counterpart
 * of [[StreamingNearDedup]] — a continuous embedding feed is judged
 * against every previously kept vector at cosine ≥ `threshold` without
 * re-scanning anything, because the kept corpus lives in the state store
 * as its sign-LSH index: state is keyed by band key (one bucket per
 * band-local bit pattern) and holds the `(keeper id, vector, norm)`
 * entries registered there. An arrival colliding with a bucket verifies
 * by EXACT cosine against each entry — unlike the MinHash stream, whose
 * component-match estimate carries σ ≈ 0.035, the vector itself is the
 * state, so streaming verdicts are exact up to banding recall
 * (`1 − (1 − p^r)^b`, `p = 1 − acos(t)/π`, same geometry as the batch
 * family). Per-doc verdicts reduce with [[StreamingNearDedup.verdicts]]
 * (identical column contract: best candidate by (score desc, id asc)).
 *
 * Design notes, 100 TB shape:
 *  - Judgment is band-local; `dupOf` attribution resolves to canonical
 *    roots downstream, exactly like the batch pair tables.
 *  - State carries `bands` copies of each kept vector (dims doubles per
 *    entry per band) — the LSH state trade. RocksDB-backed stores absorb
 *    it; unbounded feeds use [[judgedTtl]] (event-time eviction bounds
 *    state to one dedup horizon), or drop `bands` (recall falls
 *    predictably, state shrinks linearly).
 *  - The banding planes are the SAME deterministic hyperplane family as
 *    the batch signers ([[Similarity.lshBandSignatureKernel]] — md5-mixed,
 *    no RNG state), so every restart and every generation of the stream
 *    signs identically; checkpoint replay of a keeper never matches
 *    itself, never re-registers, and re-emits `keep = true`.
 *  - Degenerate vectors (null / wrong dims / zero or non-finite norm)
 *    take a per-doc sentinel band, match nothing, register nothing, and
 *    are kept — cosine is undefined, the batch family's verdict.
 */
final case class StreamingEmbDedup(bands: Int = 16, planesPerBand: Int = 8,
                                   dims: Int = 64, threshold: Double = 0.9) {
  import BandedDedup.stringKeyEnc
  import StreamingEmbDedup._
  // a cosine: outside (-1, 1] the threshold matches nothing (> 1) or lets
  // a bucket with no candidate look like a match (<= -1)
  require(threshold > -1.0 && threshold <= 1.0,
    s"threshold is a cosine and must be in (-1, 1], got $threshold")

  /** Shared signer closure: plane matrix built once on the driver,
    * shipped in the task closure (bands×planes×dims doubles). */
  private val signer: Array[Double] => Array[Long] =
    Similarity.lshBandSignatureKernel(bands, planesPerBand, dims)

  /** Explode a vector into its band rows (band key = band index + that
    * band's bucket id — exact, no re-hash collisions; degenerate vectors
    * take one sentinel band). The vector rides on EVERY row (each bucket
    * needs it to verify and register); `carry` marks band 0 so downstream
    * `foreachBatch` consumers re-emit each doc's vector exactly once; `ts`
    * rides on every row for the TTL path's watermark. */
  private def explode(vecId: Long, v: Array[Double],
                      ts: java.sql.Timestamp): Iterator[EmbBandRow] =
    if (degenerateVec(v, dims))
      Iterator.single(EmbBandRow(vecId, s"empty:$vecId",
        Array.emptyDoubleArray, carry = true, ts))
    else {
      val sig = signer(v)
      (0 until bands).iterator.map { bi =>
        EmbBandRow(vecId, s"$bi:${sig(bi)}", v, carry = bi == 0, ts)
      }
    }

  /** The per-bucket judgment ([[BandedDedup.Judge]]): score = EXACT
    * cosine, the arrival's norm computed once per row. */
  private val judge = new BandedDedup.Judge[EmbBandRow, EmbEntry, EmbBucket, EmbBandVerdict] {
    def threshold: Double = StreamingEmbDedup.this.threshold
    def rowId(r: EmbBandRow): Long = r.vecId
    def rowTs(r: EmbBandRow): java.sql.Timestamp = r.ts
    def degenerate(r: EmbBandRow): Boolean = r.vec.isEmpty
    override def perRow(r: EmbBandRow): Double = norm(r.vec)
    def score(r: EmbBandRow, q: Double, e: EmbEntry): Double =
      dot(r.vec, e.vec) / (q * e.norm)
    def entry(r: EmbBandRow, q: Double, ts: Long): EmbEntry = EmbEntry(r.vecId, r.vec, q, ts)
    def warmed(e: EmbEntry, ts: Long): EmbEntry = e.copy(lastSeenMs = ts)
    def entries(s: EmbBucket): Seq[EmbEntry] = s.entries
    def bucket(es: Seq[EmbEntry]): EmbBucket = EmbBucket(es)
    def verdict(r: EmbBandRow, candId: Option[Long], est: Option[Double]): EmbBandVerdict =
      EmbBandVerdict(r.vecId, candId, est, r.carry, Option.when(r.carry && r.vec.nonEmpty)(r.vec))
  }

  /** Wire the stateful banded judgment over an embedding stream. Output is
    * one verdict per (doc, band) — reduce with
    * [[StreamingNearDedup.verdicts]] (shared column contract) inside
    * `foreachBatch`. */
  def judged(docs: Dataset[VecDoc]): Dataset[EmbBandVerdict] =
    judge.wired(docs.flatMap(d => explode(d.vecId, d.vec, null)), _.bandKey, None)

  /** Horizon-bounded embedding near-dup: verdicts match [[judged]] for
    * any arrival within `horizon` (event time) of the matched keeper's
    * last sighting — with `watermarkDelay` slack for late data — and
    * bucket state plateaus at the entries active within one horizon. An
    * arrival after the horizon re-registers on the stream; the batch
    * stores and the IVF index absorb keeps via [[absorbKeepers]] /
    * [[absorbKeepersIvf]], so the next batch judgment still catches the
    * evicted-then-reseen duplicate. */
  def judgedTtl(docs: Dataset[TimedVecDoc], horizon: java.time.Duration,
                watermarkDelay: String): Dataset[EmbBandVerdict] =
    judge.wired(docs.flatMap(d => explode(d.vecId, d.vec, d.ts)), _.bandKey,
      Some(horizon -> watermarkDelay))
}

object StreamingEmbDedup {

  final case class VecDoc(vecId: Long, vec: Array[Double])
  /** TTL-horizon variant of [[VecDoc]]: `ts` is the event time the
    * watermark and the dedup horizon are measured against. */
  final case class TimedVecDoc(vecId: Long, vec: Array[Double],
                               ts: java.sql.Timestamp)
  final case class EmbBandRow(vecId: Long, bandKey: String,
                              vec: Array[Double], carry: Boolean,
                              ts: java.sql.Timestamp = null)
  final case class EmbEntry(id: Long, vec: Array[Double], norm: Double,
                            lastSeenMs: Long = 0L) extends BandedDedup.Keeper
  final case class EmbBucket(entries: Seq[EmbEntry])
  /** Column contract shared with [[StreamingNearDedup.verdicts]]:
    * `docId`, `candId`, `est` (here: exact cosine). */
  final case class EmbBandVerdict(docId: Long, candId: Option[Long],
                                  est: Option[Double], carry: Boolean,
                                  vec: Option[Array[Double]])

  implicit val vecDocEnc: Encoder[VecDoc] = Encoders.product[VecDoc]
  implicit val timedVecDocEnc: Encoder[TimedVecDoc] =
    Encoders.product[TimedVecDoc]
  implicit val embBandRowEnc: Encoder[EmbBandRow] = Encoders.product[EmbBandRow]
  implicit val embBucketEnc: Encoder[EmbBucket] = Encoders.product[EmbBucket]
  implicit val embBandVerdictEnc: Encoder[EmbBandVerdict] =
    Encoders.product[EmbBandVerdict]

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /** Null, wrong-dims, zero or non-finite-norm vectors: cosine is
    * undefined, so the family keeps them under a per-doc sentinel key. */
  private[streaming] def degenerateVec(v: Array[Double], dims: Int): Boolean =
    v == null || v.length != dims || {
      val s = dot(v, v)
      !(s > 0.0) || s.isInfinite
    }

  /** A micro-batch's per-doc verdicts, and the (docId, vec) of its kept
    * docs read off the carry rows — what the absorb bridges publish. */
  private[streaming] def keptVectors(bandVerdicts: DataFrame): (DataFrame, DataFrame) = {
    val v = StreamingNearDedup.verdicts(bandVerdicts)
    (v, bandVerdicts.where(col("carry") && col("vec").isNotNull)
      .select(col("docId"), col("vec"))
      .join(v.where(col("keep")).select("docId"), Seq("docId"), "left_semi"))
  }

  /**
   * `foreachBatch` bridge from the stream to the BATCH signature store:
   * reduce the micro-batch's band verdicts, then absorb the kept vectors'
   * deep-banding signatures (the batch family's d64_r16b128 config, signed
   * by the store's own batch signer, `Stores.EmbSigs.rowsOf` — the
   * stream-internal shallow banding never leaves the state store) into
   * [[graft.queries.Materialized.embeddingSignatures]]'s store, so batch
   * jobs (`dedupIncrementalEmb`) judge future data against streaming keeps
   * too. Exactly-once per (streamId, micro-batch id) via the store ledger,
   * same contract as [[StreamingNearDedup.absorbKeepers]]. Returns the
   * per-doc verdicts for the caller's own sink.
   */
  def absorbKeepers(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    bandVerdicts: DataFrame, streamId: String,
                    microBatchId: Long): DataFrame = {
    val (v, keptVecs) = keptVectors(bandVerdicts)
    val store = graft.queries.Materialized.Stores.EmbSigs
    graft.queries.Materialized.absorb(spark, sfDir, store,
      store.rowsOf(spark, sfDir, keptVecs, "docId", "vec"), s"$streamId-$microBatchId")
    v
  }

  /**
   * `foreachBatch` bridge from the stream to the stored IVF INDEX: the
   * micro-batch's kept vectors are assigned against the STORED centroids
   * — no retrain, no corpus re-read — and published as an appended
   * cell-partitioned index generation
   * ([[graft.queries.Materialized.appendIvfIndex]]), so probed-cell
   * searches over the head view (`ivfIndexCurrent`) retrieve streaming
   * keeps too: a vector deduped on the stream becomes searchable the
   * moment its micro-batch commits. Exactly-once per (streamId,
   * micro-batch id) via the index store's absorb ledger — a checkpoint
   * replay of the micro-batch re-resolves to the same batch id and is a
   * no-op. Composable with [[absorbKeepers]] in the same `foreachBatch`
   * (distinct ledgers: signature store vs index store). Returns the
   * per-doc verdicts for the caller's own sink.
   */
  def absorbKeepersIvf(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                       bandVerdicts: DataFrame, streamId: String,
                       microBatchId: Long): DataFrame = {
    val (v, keptVecs) = keptVectors(bandVerdicts)
    graft.queries.Materialized.appendIvfIndex(spark, sfDir, keptVecs,
      "docId", "vec", s"ivf-$streamId-$microBatchId")
    v
  }
}
