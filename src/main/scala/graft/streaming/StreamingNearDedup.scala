package graft.streaming

import graft.llm.TextHashing
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/**
 * Streaming NEAR-dup (banded MinHash): the fuzzy counterpart of
 * [[StreamingDedup]] — a continuous document feed is judged against every
 * previously kept document at Jaccard ≥ `threshold` without ever
 * re-scanning the corpus, because the corpus lives in the state store as
 * its LSH index: state is keyed by band key and holds the `(keeper id,
 * signature)` entries registered in that bucket. An arrival compares its
 * signature against each band candidate (the unbiased signature-estimate
 * Jaccard — matching components / k, σ ≈ √(J(1−J)/k) ≈ 0.035 at k = 128)
 * and is a duplicate when any band produces an estimate ≥ `threshold`;
 * otherwise it registers itself in that bucket. Per-doc verdicts are the
 * stateless per-micro-batch reduction [[StreamingNearDedup.verdicts]]
 * (best candidate across the doc's bands, ties to the smaller id — the
 * same rule as [[graft.llm.Dedup.dedupIncrementalNear]]), applied inside
 * `foreachBatch` where all of a doc's band rows are co-batched.
 *
 * Design notes, 100 TB shape:
 *  - The judgment is band-LOCAL and the match target is the first
 *    registrant of the bucket, so `dupOf` may itself be a duplicate that
 *    registered in a bucket its own match never probed — verdicts are
 *    exact (duplicate vs kept, up to banding recall and estimator noise),
 *    attribution is resolved to canonical roots downstream exactly like
 *    the batch pair tables (`dedup_clusters`).
 *  - No document text is retained anywhere: state carries signatures
 *    only (k longs per entry per probed band). The bands-fold duplication
 *    is the classic LSH state trade — RocksDB-backed state stores absorb
 *    it; unbounded feeds use [[judgedTtl]], which bounds state to one
 *    dedup horizon via event-time eviction.
 *  - Shingle-less docs (null/short text) take a per-doc sentinel band,
 *    match nothing, register nothing, and are kept — the batch family's
 *    verdict for an undefined Jaccard.
 */
final case class StreamingNearDedup(shingleN: Int = 3, bands: Int = 32,
                                    rowsPerBand: Int = 4,
                                    threshold: Double = 0.8) {
  import BandedDedup.stringKeyEnc
  import StreamingNearDedup._
  require(threshold > 0.0 && threshold <= 1.0,
    s"threshold is a Jaccard estimate and must be in (0, 1], got $threshold")

  /** Signature length, k = bands×rows as in the batch family. */
  val k: Int = bands * rowsPerBand

  /** Independent md5-derived permutation coefficients, one pair per
    * component. The batch kernel's `(j+1)·A, (j+1)·B` family is fine
    * there — banding only GENERATES candidates and exact Jaccard verifies
    * them — but its components are scalar multiples of one permutation,
    * which biases the component-match estimator (measured ~0.73 for a
    * true J = 0.92). Estimate-based verdicts need independent components;
    * these are deterministic, so every generation of the stream state
    * signs consistently. Precomputed once and shipped in the closure
    * (2k longs). */
  private val aCoef: Array[Long] = Array.tabulate(k)(j =>
    math.floorMod(TextHashing.md5Long60Kernel(s"snd-a:$j"), TextHashing.P - 1) + 1)
  private val bCoef: Array[Long] = Array.tabulate(k)(j =>
    math.floorMod(TextHashing.md5Long60Kernel(s"snd-b:$j"), TextHashing.P))

  /** k-minhash with the independent family — unbiased component-match
    * estimator (σ = √(J(1−J)/k)). */
  private[streaming] def signature(shingles: Array[String]): Array[Long] = {
    val sig = Array.fill(k)(TextHashing.P)
    if (shingles.isEmpty) return sig
    val hs = shingles.map(s => TextHashing.md5Long60Kernel(s) % TextHashing.P)
    var j = 0
    while (j < k) {
      val a = aCoef(j)
      val b = bCoef(j)
      var m = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = (a * hs(i) + b) % TextHashing.P
        if (v < m) m = v
        i += 1
      }
      sig(j) = m
      j += 1
    }
    sig
  }

  /** Explode a doc into its band rows: one row per band carrying the FULL
    * signature (the bucket needs it to verify future arrivals), band key =
    * the band's sub-signature (exact — no re-hash collisions); shingle-less
    * docs take one sentinel band. The text rides on exactly ONE band row
    * per doc (band 0) so downstream `foreachBatch` consumers —
    * [[StreamingNearDedup.absorbKeepers]] — can re-sign keepers for the
    * shared store without a second input; `ts` rides on every row for the
    * TTL path's watermark. Per-row kernel work only; no shuffle until the
    * stateful groupByKey. */
  private def explode(docId: Long, text: String,
                      ts: java.sql.Timestamp): Iterator[BandRow] = {
    val sh = if (text == null) Array.empty[String]
             else TextHashing.wordShinglesKernel(text, shingleN)
    if (sh.isEmpty)
      Iterator.single(BandRow(docId, s"empty:$docId",
        Array.emptyLongArray, Option(text), ts))
    else {
      val sig = signature(sh)
      val r = rowsPerBand
      (0 until bands).iterator.map { bi =>
        val sub = java.util.Arrays.copyOfRange(sig, bi * r, bi * r + r)
        BandRow(docId, s"$bi:${sub.mkString("-")}", sig,
          if (bi == 0) Option(text) else None, ts)
      }
    }
  }

  /** The per-bucket judgment ([[BandedDedup.Judge]]): score = the
    * signature-estimate Jaccard. */
  private val judge = new BandedDedup.Judge[BandRow, Entry, Bucket, BandVerdict] {
    def threshold: Double = StreamingNearDedup.this.threshold
    def rowId(r: BandRow): Long = r.docId
    def rowTs(r: BandRow): java.sql.Timestamp = r.ts
    def degenerate(r: BandRow): Boolean = r.sig.isEmpty
    def score(r: BandRow, q: Double, e: Entry): Double = sigEstimate(r.sig, e.sig)
    def entry(r: BandRow, q: Double, ts: Long): Entry = Entry(r.docId, r.sig, ts)
    def warmed(e: Entry, ts: Long): Entry = e.copy(lastSeenMs = ts)
    def entries(s: Bucket): Seq[Entry] = s.entries
    def bucket(es: Seq[Entry]): Bucket = Bucket(es)
    def verdict(r: BandRow, candId: Option[Long], est: Option[Double]): BandVerdict =
      BandVerdict(r.docId, candId, est, r.text)
  }

  /** Wire the stateful banded judgment over a document stream. Output is
    * one verdict per (doc, band) — reduce with [[StreamingNearDedup.verdicts]]
    * inside `foreachBatch`. */
  def judged(docs: Dataset[TextDoc]): Dataset[BandVerdict] =
    judge.wired(docs.flatMap(d => explode(d.docId, d.text, null)), _.bandKey, None)

  /** Horizon-bounded near-dup: verdicts match [[judged]] for any arrival
    * within `horizon` (event time) of the matched keeper's last sighting —
    * with `watermarkDelay` slack for late data — and bucket state plateaus
    * at the entries active within one horizon instead of growing with the
    * life of the stream. An arrival after the horizon re-registers on the
    * stream; the batch signature stores absorb keeps via
    * [[StreamingNearDedup.absorbKeepers]], so the next batch judgment
    * still catches the evicted-then-reseen duplicate. */
  def judgedTtl(docs: Dataset[TimedTextDoc], horizon: java.time.Duration,
                watermarkDelay: String): Dataset[BandVerdict] =
    judge.wired(docs.flatMap(d => explode(d.docId, d.text, d.ts)), _.bandKey,
      Some(horizon -> watermarkDelay))
}

object StreamingNearDedup {

  final case class TextDoc(docId: Long, text: String)
  /** TTL-horizon variant of [[TextDoc]]: `ts` is the event time the
    * watermark and the dedup horizon are measured against. */
  final case class TimedTextDoc(docId: Long, text: String,
                                ts: java.sql.Timestamp)
  final case class BandRow(docId: Long, bandKey: String, sig: Array[Long],
                           text: Option[String],
                           ts: java.sql.Timestamp = null)
  final case class Entry(id: Long, sig: Array[Long], lastSeenMs: Long = 0L)
    extends BandedDedup.Keeper
  final case class Bucket(entries: Seq[Entry])
  final case class BandVerdict(docId: Long, candId: Option[Long],
                               est: Option[Double], text: Option[String])

  implicit val textDocEnc: Encoder[TextDoc] = Encoders.product[TextDoc]
  implicit val timedTextDocEnc: Encoder[TimedTextDoc] =
    Encoders.product[TimedTextDoc]
  implicit val bandRowEnc: Encoder[BandRow] = Encoders.product[BandRow]
  implicit val bucketEnc: Encoder[Bucket] = Encoders.product[Bucket]
  implicit val bandVerdictEnc: Encoder[BandVerdict] = Encoders.product[BandVerdict]

  /** Matching-components / k — the unbiased MinHash estimate of Jaccard.
    * Exact in binary for power-of-two k, so no rounding step. */
  private def sigEstimate(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /**
   * `foreachBatch` bridge from the stream to the BATCH signature store:
   * reduce the micro-batch's band verdicts, then absorb the kept docs'
   * batch-family MinHash signatures into
   * [[graft.queries.Materialized.minhashSignatures]]'s store — so batch
   * jobs (`dedupIncrementalNear`) judge future data against streaming
   * keeps too, not just the original corpus. Absorption is exactly-once
   * per (streamId, micro-batch id): a checkpoint replay re-offers the
   * same `<streamId>-<id>` batch id and the store ledger makes it a
   * no-op, so at-least-once delivery cannot double-absorb — give each
   * logical stream feeding the store a distinct `streamId` (e.g. derived
   * from its checkpoint location). Returns the per-doc verdicts for the
   * caller's own sink.
   *
   * The stored signatures are the BATCH family's (re-signed from the kept
   * text) — the stream-internal independent-coefficient signatures are
   * estimator-correct but deliberately never leave the state store, so
   * the shared artifact stays consistent with every batch consumer.
   */
  def absorbKeepers(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    bandVerdicts: DataFrame, streamId: String,
                    microBatchId: Long): DataFrame = {
    val v = verdicts(bandVerdicts)
    val keptDocs = bandVerdicts.where(col("text").isNotNull)
      .select(col("docId"), col("text"))
      .join(v.where(col("keep")).select("docId"), Seq("docId"), "left_semi")
    // the ledger id namespaces by STREAM, not just micro-batch: two
    // different queries feeding the same store both start at micro-batch 0,
    // and without the caller-chosen streamId the second stream's early
    // batches would silently no-op against the first's ledger entries
    val store = graft.queries.Materialized.Stores.MinhashSigs
    graft.queries.Materialized.absorb(spark, sfDir, store,
      store.rowsOf(spark, sfDir, keptDocs, "docId", "text"), s"$streamId-$microBatchId")
    v
  }

  /** Per-doc reduction of a micro-batch's band verdicts: best candidate by
    * (estimate desc, candidate id asc) — the batch family's tie rule —
    * null candidate ⇒ `keep`. Plain batch function for `foreachBatch`. */
  def verdicts(bandVerdicts: DataFrame): DataFrame = {
    val matched = bandVerdicts.where(col("candId").isNotNull)
      .groupBy("docId")
      .agg(max_by(struct(col("candId"), col("est")),
        struct(col("est"), (-col("candId")).as("neg"))).as("best"))
    bandVerdicts.select("docId").distinct()
      .join(matched, Seq("docId"), "left")
      .select(col("docId"), col("best.candId").as("dupOf"),
        col("best.est").as("est"), col("best.candId").isNull.as("keep"))
  }
}
