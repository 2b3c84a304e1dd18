package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 *  - [[topK]] — brute-force cosine top-k against one query vector: a single
 *    codegen'd projection + `TakeOrderedAndProject` (no shuffle of the data,
 *    only k rows to the driver). The correct baseline, and at 100 TB still
 *    the right *plan shape* — the scan is embarrassingly parallel and the
 *    top-k combine is logarithmic.
 *  - [[annLsh]] — random-hyperplane (sign) LSH: per-row bucket signature,
 *    then search only same-bucket candidates. Hyperplanes are derived from a
 *    deterministic integer formula, so buckets are reproducible across runs
 *    and engines (no RNG state to ship).
 *  - [[ivfAssign]] / [[ivfIndexRows]] / [[ivfSearch]] — IVF coarse
 *    quantization: assignment resolves at BUILD time into a stored,
 *    cell-partitioned index (`graft.queries.Materialized.ivfIndex`); a
 *    search reads only the probed cells' files via partition pruning — the
 *    scale path for repeated query workloads.
 */
/** Typed row for the JIT-compiled pair kernels (top-level for Encoder derivation). */
final case class VecRow(id: Long, v: Array[Double], norm: Double)

/** One stored IVF index row: the vector co-located with its cell plus the
  * build-time stats search needs, AND its int8 quantization (`scale` +
  * 1-byte-per-component `qcode`, the [[Similarity.quantizeInt8]] codes) —
  * quantized searches column-prune to (id, scale, qcode) and never read
  * the 8-byte-per-component `v` (top-level for Encoder derivation). */
final case class IvfRow(id: Long, centroid_id: Long, dist: Double,
                        norm: Double, v: Array[Double],
                        scale: Double, qcode: Array[Byte])

object Similarity {

  /** Sequential dot product of two double arrays — the native codegen'd
    * Catalyst expression ([[graft.functions.VectorExpressions.DotProduct]]);
    * same left-to-right IEEE order as the HOF fold and [[dotKernel]]. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.graft_dot(a, b)

  /** Scala kernel with the same left-to-right IEEE order as [[dot]] —
    * higher-order functions evaluate interpreted (no codegen), so for
    * millions of pairs the typed-Dataset path with a JIT'd loop is ~10×
    * faster while producing bit-identical doubles. */
  def dotKernel(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Replica of Spark's `round(double, scale)` (BigDecimal HALF_UP). */
  def roundHalfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** (id, v_double, norm) as a typed Dataset — the staged form every pair
    * kernel starts from (norm = sqrt of sequential sum of squares, matching
    * the expression path bit-for-bit). */
  def vecRows(emb: DataFrame, idCol: String, vecCol: String): org.apache.spark.sql.Dataset[VecRow] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => VecRow(id, v, math.sqrt(dotKernel(v, v))) }
  }

  def norm(v: Column): Column = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))

  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Cosine similarity rounded to 6 dp (rounding absorbs cross-engine ulp
    * differences in division order; see SURVEY oracle notes). */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)

  /** Brute-force top-k by cosine against `queryVec` (driver-provided). */
  def topK(emb: DataFrame, idCol: String, vecCol: String,
           queryVec: Seq[Double], k: Int, excludeId: Option[Long] = None): DataFrame = {
    val qn = math.sqrt(queryVec.map(x => x * x).sum)
    val q = typedLit(queryVec)
    val e0 = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val e1 = excludeId.map(x => e0.where(col("id") =!= x)).getOrElse(e0)
    e1.select(col("id"),
        cosine(col("v"), q, norm(col("v")), lit(qn)).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /**
   * Hard-negative mining for contrastive training: for each labeled query
   * vector, the `k` nearest corpus vectors whose label DIFFERS — the
   * negatives a contrastive loss learns most from (closest in embedding
   * space, wrong class). ONE corpus scan joined against the broadcast
   * (bounded, [[knnJoin]]-style) query side; the label-mismatch predicate
   * rides IN the join condition so same-class rows never leave the scan;
   * the per-query rank window is cut by WindowGroupLimit at `k`. Cosines
   * through the codegen'd [[dot]] expression, 6-dp rounded — bit-equal to
   * every other cosine in the library.
   */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queries: DataFrame, k: Int,
                    maxQueries: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = emb.select(col(idCol).cast("long").as("neighbor_id"),
        col(labelCol).cast("int").as("neighbor_label"),
        asDouble(col(vecCol)).as("nv"))
      .withColumn("nn", norm(col("nv")))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        col(labelCol).cast("int").as("query_label"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    // bound check touches at most maxQueries+1 rows — never a full count
    // of the query subtree (which at scale is its own Spark job)
    val over = q.limit(maxQueries + 1).count() > maxQueries
    require(!over,
      s"query side has more than $maxQueries vectors; broadcast hard-negative " +
        "mining is bounded there — use the IVF/distributed kNN shapes past it")
    val joined = corpus
      .join(broadcast(q), col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"),
        cosine(col("nv"), col("qv"), col("nn"), col("qn")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label",
        "rank", "cosine")
  }

  /**
   * Table-scale hard-negative mining over the STORED IVF index — the
   * [[hardNegatives]] semantics past the broadcast Q bound, the same step
   * [[knnJoinDistributed]] takes past [[knnJoin]]: queries stay a
   * DataFrame end-to-end, candidates ride the probed-cell equi-join,
   * and the label-mismatch filter runs BEFORE the rank window so `k`
   * true negatives always emerge (an oversample-then-refilter over the
   * unlabeled join can come up short when a cell is label-pure). Labels
   * join the index by id (hash join, co-partitionable with the index;
   * a production index would store the label column and skip even
   * that). Cosines through the codegen'd [[dot]], 6-dp rounded.
   *
   * Degenerate-vector policy is ASYMMETRIC by design: a zero/non-finite
   * QUERY vector fails loud (`raise_error` — the caller asked for its
   * negatives, so an undefined cosine is their bug to see), while a
   * zero-norm CORPUS row is filtered out of the candidate set (the
   * kNN-oracle convention: a degenerate index row can never be a
   * meaningful negative for anyone, and failing the whole mining job on
   * one bad stored row would make the index's hygiene every caller's
   * outage). Filtered corpus rows simply never appear in any negative
   * set.
   */
  def hardNegativesDistributed(index: DataFrame, centroids: DataFrame,
                               queries: DataFrame, labels: DataFrame,
                               qIdCol: String, vecCol: String,
                               labelCol: String, k: Int,
                               nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qn0 = sqrt(dot(col("qv"), col("qv")))
    val q = queries
      .select(col(qIdCol).cast("long").as("query_id"),
        col(labelCol).cast("int").as("query_label"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", when(
        qn0.isNull || isnan(qn0) || qn0 <= 0.0 || qn0 === Double.PositiveInfinity,
        raise_error(concat(lit("hard-negative query "),
          col("query_id").cast("string"),
          lit(" has a null/zero/non-finite vector — cosine undefined"))))
        .otherwise(qn0))
    val cents = broadcast(centroids
      .select(col("centroid_id").cast("long").as("cell"), col("vec")))
    val probeW = Window.partitionBy("query_id").orderBy(col("cdist"), col("cell"))
    val probe = q.crossJoin(cents)
      .withColumn("cdist",
        graft.functions.VectorExpressions.graft_l2sq(col("qv"), col("vec")))
      .withColumn("prn", row_number().over(probeW))
      .where(col("prn") <= nprobe)
      .select(col("query_id"), col("query_label"), col("qv"), col("qn"),
        col("cell"))
    val lab = labels.select(col("id").cast("long").as("neighbor_id"),
      col(labelCol).cast("int").as("neighbor_label"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    index
      .select(col("id").cast("long").as("neighbor_id"),
        col("centroid_id").cast("long").as("cell"), col("norm"), col("v"))
      .where(col("norm") > 0.0)
      .join(lab, "neighbor_id")
      .join(probe, Seq("cell"))
      .where(col("neighbor_label") =!= col("query_label"))
      .withColumn("cosine",
        round(dot(col("v"), col("qv")) / (col("norm") * col("qn")), 6))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("rank"), col("cosine"))
  }

  /** splitmix64 finalizer — full avalanche, so components are independent.
    * (A plain multiplicative-congruential formula here made every plane a
    * segment of one arithmetic progression mod M: planes were correlated and
    * the banding independence math silently didn't hold.) */
  private def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-random hyperplane component for (plane j, dim d):
    * uniform in [-0.5, 0.5), derived from an integer hash — no RNG state. */
  private def hyperplane(j: Int, dims: Int): Seq[Double] =
    (0 until dims).map { d =>
      (mix64(j.toLong * dims + d) >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }

  /** Flat row-major hyperplane matrix for `nPlanes` planes — the data the
    * fused signature kernel consumes (same [[hyperplane]] values). */
  private def planeMatrix(nPlanes: Int, dims: Int): Array[Double] = {
    val flat = new Array[Double](nPlanes * dims)
    var j = 0
    while (j < nPlanes) {
      val hp = hyperplane(j, dims)
      var d = 0
      while (d < dims) { flat(j * dims + d) = hp(d); d += 1 }
      j += 1
    }
    flat
  }

  /** Sign-LSH bucket id (one bit per hyperplane) as a column — the 1-band
    * case of [[lshBandSignature]] (identical global plane indexing). */
  def lshBucket(vecDouble: Column, planes: Int, dims: Int): Column =
    element_at(lshBandSignature(vecDouble, 1, planes, dims), 1)

  /**
   * Banded sign-LSH signature as `array<long>` (bucket per band, band-
   * indexed): `bands` independent buckets of `planesPerBand` planes each
   * (plane index is global, so bands never share a hyperplane). ONE fused
   * codegen'd kernel ([[graft.functions.VectorExpressions.LshSignature]])
   * — the composed per-plane expression form exceeded janino's method
   * budget and ran interpreted, at ~3 ms/row. Per-pair miss probability
   * for cosine ≥ t is `(1 - p^r)^b` with `p = 1 - acos(t)/π`.
   */
  def lshBandSignature(vecDouble: Column, bands: Int, planesPerBand: Int,
                       dims: Int): Column =
    graft.functions.VectorExpressions.graft_lsh_signature(
      vecDouble, planeMatrix(bands * planesPerBand, dims), planesPerBand, dims)

  /**
   * JVM-side banded signature kernel — the typed path for PRODUCTION
   * banding depths (r=16 × b=128 = 2,048 planes): materializes the flat
   * plane matrix once on the driver and returns a closure that delegates to
   * [[graft.functions.VectorExpressions.lshSignatureKernel]], so a typed
   * `Dataset.map` computes signatures in one JIT'd loop per row with zero
   * Catalyst plumbing. Buckets are bit-identical to the [[lshBandSignature]]
   * codegen expression at any (bands, planesPerBand): same [[planeMatrix]]
   * values, same sequential IEEE accumulation (property-tested in LlmSpec).
   */
  def lshBandSignatureKernel(bands: Int, planesPerBand: Int,
                             dims: Int): Array[Double] => Array[Long] = {
    val planes = planeMatrix(bands * planesPerBand, dims)
    v => graft.functions.VectorExpressions.lshSignatureKernel(
      v, planes, planesPerBand, dims)
  }

  /**
   * Staged `(id, sig)` banded-signature table via the typed kernel — the
   * deep-banding front half of candidate generation. The plane matrix
   * (2,048 × dims doubles ≈ 1 MB at production depth) ships to executors
   * ONCE as a broadcast variable instead of riding in every task closure.
   */
  def lshSigRowsTyped(emb: DataFrame, idCol: String, vecCol: String,
                      bands: Int, planesPerBand: Int, dims: Int,
                      spread: Boolean = false): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val planesBc = spark.sparkContext.broadcast(
      planeMatrix(bands * planesPerBand, dims))
    // `spread = true` at CORPUS-scale call sites only: bands x planes x
    // dims multiply-adds per row must not serialize into a single-split
    // scan (r15; see TextAnalysis.spreadByDoc) — but batch/keeper-sized
    // inputs (incremental judgments, streaming absorbs) keep their layout,
    // where the extra exchange is pure overhead (measured)
    val base = emb.select(col(idCol).cast("long").as("id"),
      asDouble(col(vecCol)).as("v"))
    (if (spread) TextAnalysis.spreadIfNarrow(base, col("id")) else base)
      .as[(Long, Array[Double])]
      // expression-path parity: a null or wrong-dims vector gets a null
      // signature there and never enters the banding index — drop it here
      .filter(r => r._2 != null && r._2.length == dims)
      .map { case (id, v) =>
        (id, graft.functions.VectorExpressions.lshSignatureKernel(
          v, planesBc.value, planesPerBand, dims))
      }
      .toDF("id", "sig")
  }

  /** [[lshBandSignature]] shaped as `array<struct<band,bucket>>` for
    * explode-based OR-construction joins. */
  def lshBandBuckets(vecDouble: Column, bands: Int, planesPerBand: Int, dims: Int): Column =
    transform(lshBandSignature(vecDouble, bands, planesPerBand, dims),
      (bucket, i) => struct(i.as("band"), bucket.as("bucket")))

  /**
   * ANN via sign-LSH bucketing: candidate pairs share a bucket; cosine
   * computed only within buckets. Approximate (recall < 1 near bucket
   * boundaries) — the scale path; use [[Dedup.embeddingNearDup]] when
   * exactness is required at bounded n.
   */
  def annLsh(emb: DataFrame, idCol: String, vecCol: String, dims: Int,
             planes: Int = 12, minCosine: Double = 0.4): DataFrame = {
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("norm", norm(col("v")))
      .withColumn("bucket", lshBucket(col("v"), planes, dims))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v"), col("a.norm"), col("b.norm")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /**
   * IVF probed-cell search over a STORED index ([[ivfIndexRows]] written
   * partitioned by `centroid_id` — see `graft.queries.Materialized.ivfIndex`):
   * find the `nprobe` centroids nearest the query (driver-side; the centroid
   * table is tiny and collected anyway for the probe), then compute cosine
   * ONLY over the probed cells. Because cell membership was resolved at
   * BUILD time and `centroid_id` is a storage partition key, the filter is a
   * partition-pruning predicate — a search reads only the probed cells'
   * files, O(probed cells) not O(corpus), and the plan is a pruned scan →
   * TakeOrderedAndProject (k rows to the driver, no join, no shuffle).
   */
  def ivfSearch(index: DataFrame, centroids: DataFrame,
                queryVec: Seq[Double], k: Int, nprobe: Int,
                excludeId: Option[Long] = None): DataFrame = {
    val q = queryVec.toArray
    val cents = centroids
      .select(col("centroid_id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probed = cents.map { case (cid, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { val dx = v(i) - q(i); s += dx * dx; i += 1 }
        (cid, s)
      }.sortBy { case (cid, dist) => (dist, cid) }.take(nprobe).map(_._1).toSeq
    val qn = math.sqrt(q.map(x => x * x).sum)
    val qc = typedLit(queryVec)
    val base = index.where(col("centroid_id").isin(probed: _*))
    val e1 = excludeId.map(x => base.where(col("id") =!= x)).getOrElse(base)
    e1.select(col("id"), col("centroid_id").cast("long").as("cell"),
        cosine(col("v"), qc, col("norm"), lit(qn)).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /**
   * [[ivfSearch]] over the index's int8 QUANTIZATION: ranks the probed
   * cells by dequantized cosine (`qcode·scale/127` against the
   * full-precision query — the [[topKQuantized]] ranking, bit-identical
   * because the stored codes use the same HALF_UP rounding). The scan
   * column-prunes to `(id, scale, qcode)` — 1 byte per component instead
   * of the 8-byte `v` doubles, so a probed cell reads ~8× less vector
   * data — and still partition-prunes to the probed cells. One fused JIT
   * kernel per row (dequantize + dot + norm), then TakeOrderedAndProject;
   * a zero/degenerate quantization (scale 0) yields a null cosine and
   * ranks last.
   */
  def ivfSearchQ8(index: DataFrame, centroids: DataFrame,
                  queryVec: Seq[Double], k: Int, nprobe: Int,
                  excludeId: Option[Long] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val q = queryVec.toArray
    // fail loud at the driver: a zero-norm OR non-finite query makes the
    // cosine NaN, which the HALF_UP rounding would turn into an
    // executor-side NumberFormatException (ivfSearch's expression path
    // tolerates the degenerate query; the kernel path must reject it
    // instead). NaN != 0.0 is TRUE, so the finiteness check cannot be
    // folded into the zero check.
    require(q.nonEmpty && q.forall(java.lang.Double.isFinite) && q.exists(_ != 0.0),
      "ivfSearchQ8: zero/empty/non-finite query vector — cosine undefined")
    val cents = centroids
      .select(col("centroid_id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probed = cents.map { case (cid, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { val dx = v(i) - q(i); s += dx * dx; i += 1 }
        (cid, s)
      }.sortBy { case (cid, dist) => (dist, cid) }.take(nprobe).map(_._1).toSeq
    val qn = math.sqrt(q.map(x => x * x).sum)
    require(java.lang.Double.isFinite(qn), // components finite but norm overflowed
      "ivfSearchQ8: query norm overflows Double — rescale the query")
    val qB = spark.sparkContext.broadcast(q)
    val base = index.where(col("centroid_id").isin(probed: _*))
    val e1 = excludeId.map(x => base.where(col("id") =!= x)).getOrElse(base)
    e1.select(col("id").cast("long"), col("centroid_id").cast("long"),
        col("scale"), col("qcode"))
      .as[(Long, Long, Double, Array[Byte])]
      .map { case (id, cell, scale, qc) =>
        val qv = qB.value
        var dot = 0.0
        var nn = 0.0
        if (scale != 0.0) {
          var i = 0
          while (i < qc.length) {
            val dq = qc(i) * scale / 127.0
            dot += dq * qv(i); nn += dq * dq; i += 1
          }
        }
        (id, cell,
          if (nn == 0.0) Option.empty[Double]
          else Some(roundHalfUp(dot / (math.sqrt(nn) * qn), 6)))
      }
      .toDF("id", "cell", "cosine")
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /**
   * Build rows of the stored IVF index: every vector co-located with its
   * nearest-centroid cell, plus the stats search consumes (`norm`) and the
   * build diagnostic (`dist`, rounded 6 dp). One typed JIT kernel per row —
   * the k×dims centroid matrix is collected once (tiny by construction) and
   * broadcast, so assignment is a shuffle-free scan at any corpus size.
   * Bit-identical to the [[ivfAssign]] expression path (same sequential IEEE
   * distance order, same (dist, centroid_id) tie-break, same HALF_UP
   * rounding; property-tested in LlmSpec).
   */
  def ivfIndexRows(emb: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("centroid_id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfIndexRows: empty centroid table")
    val bc = spark.sparkContext.broadcast(cents)
    emb.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val cs = bc.value
        var bestId = cs(0)._1
        var best = Double.PositiveInfinity
        var j = 0
        while (j < cs.length) {
          val cv = cs(j)._2
          var s = 0.0; var i = 0
          while (i < v.length) { val dx = v(i) - cv(i); s += dx * dx; i += 1 }
          // strict < over centroid_id-ascending order = min_by struct(dist, centroid_id)
          if (s < best) { best = s; bestId = cs(j)._1 }
          j += 1
        }
        var scale = 0.0
        var i2 = 0
        while (i2 < v.length) {
          val a = math.abs(v(i2)); if (a > scale) scale = a; i2 += 1
        }
        val qc = new Array[Byte](v.length)
        if (scale != 0.0) {
          i2 = 0
          while (i2 < v.length) {
            // same HALF_UP rounding as quantizeInt8 / topKQuantized, so the
            // stored codes are bit-replayable by the SQL oracle
            qc(i2) = roundHalfUp(v(i2) / scale * 127.0, 0).toByte
            i2 += 1
          }
        }
        IvfRow(id, bestId, roundHalfUp(best, 6), math.sqrt(dotKernel(v, v)), v,
          scale, qc)
      }
      .toDF()
  }

  /**
   * Distributed k-means (Lloyd) training of the IVF coarse centroids:
   * deterministic init (first `k` corpus vectors), then `iters` rounds of
   * assign (broadcast-centroid argmin, [[ivfAssign]]) + recompute means.
   *
   * Means use exact DECIMAL(30,15) sums — associativity-free, so partial
   * aggregation parallelizes arbitrarily AND the result is engine-portable
   * (the DuckDB oracle sums the same decimals; double sums would drift with
   * partition order). Per iteration: one broadcast join + one shuffle of
   * `n×dims` (centroid_id, dim, value) rows — map-side combine reduces that
   * to `k×dims` per partition, so the shuffle is tiny at any scale. A
   * centroid whose cell empties (e.g. duplicate init vectors tie-broken
   * away) drops out, deterministically in both engines.
   *
   * Returns long form `(centroid_id, dim, m)` — the trained centroid
   * components, dim 0-based, rounded to 6 dp.
   */
  def ivfTrain(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int): DataFrame =
    ivfTrainCentroids(emb, idCol, vecCol, k, iters)
      .select(col("centroid_id"), posexplode(col("vec")).as(Seq("dim", "mval")))
      .select(col("centroid_id"), col("dim").cast("long").as("dim"),
        round(col("mval"), 6).as("m"))

  /** [[ivfTrain]]'s centroids in wide form `(centroid_id, vec)`, UNROUNDED —
    * the table the stored index is built against (assignment must use the
    * exact trained values, not the 6-dp presentation rounding). */
  def ivfTrainCentroids(emb: DataFrame, idCol: String, vecCol: String,
                        k: Int, iters: Int,
                        init: Option[DataFrame] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    // default init = the first k corpus vectors (ids < k). Callers whose
    // row ids are arbitrary — the cell-local 2-means of
    // [[graft.queries.Materialized.splitIvfCells]] — pass an explicit
    // `(centroid_id, vec)` seed instead. Collected up front: the k-row
    // centroid table is a bounded control-plane pull every consumer makes
    // anyway, and round-tripping it through the driver per round keeps
    // the per-iteration PLAN flat (the r15 lineage-truncation argument).
    var centArr: Array[(Long, Array[Double])] =
      init.map(_.select(col("centroid_id").cast("long").as("centroid_id"),
          asDouble(col("vec")).as("vec")))
        .getOrElse(emb.where(col(idCol) < k)
          .select(col(idCol).cast("long").as("centroid_id"),
            asDouble(col(vecCol)).as("vec")))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(centArr.nonEmpty, "ivfTrainCentroids: empty init centroid set")
    // r16 (guide §2.4; the pqTrainCodebooks shape): per Lloyd round,
    // assignment and mean contributions come from ONE typed pass — each
    // row finds its argmin centroid against the broadcast sidecar
    // (strict < over the centroid_id-ascending scan = min_by
    // struct(dist, centroid_id), the hammingResidualSigRows equivalence;
    // distances accumulate dim-ascending, the same IEEE sequence as the
    // zip_with/aggregate expression) and emits its (centroid, dim, value)
    // triples directly. One scan + ONE map-side-combined exchange per
    // round — the old shape paid the crossJoin+argmin aggregation's
    // exchange AND a join back into the corpus per round. Null / empty /
    // wrong-dims vectors contribute nothing, exactly as before (their
    // expression-path distance was null, so min_by never assigned them
    // and the mean join carried no rows). DECIMAL(30,15) means unchanged
    // — centroids bit-identical.
    (0 until iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(centArr)
      val dims = centArr(0)._2.length
      val means = e.as[(Long, Array[Double])]
        .flatMap { case (_, v) =>
          if (v == null || v.length != dims) Iterator.empty
          else {
            val cs = bc.value
            var bestAt = 0
            var best = Double.PositiveInfinity
            var j = 0
            while (j < cs.length) {
              val cv = cs(j)._2
              var s = 0.0; var i = 0
              while (i < cv.length) { val dx = v(i) - cv(i); s += dx * dx; i += 1 }
              if (s < best) { best = s; bestAt = j }
              j += 1
            }
            val cid = cs(bestAt)._1
            v.iterator.zipWithIndex.map { case (x, d) => (cid, d, x) }
          }
        }.toDF("centroid_id", "dim", "val")
        .groupBy("centroid_id", "dim")
        .agg((sum(col("val").cast("decimal(30,15)")).cast("double") /
          count(lit(1))).as("m"))
      centArr = means.select(col("centroid_id"), col("dim"), col("m"))
        .as[(Long, Int, Double)].collect()
        .groupBy(_._1).toArray
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_._2).map(_._3)) }
        .sortBy(_._1)
    }
    centArr.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "vec")
  }

  // ------------------------------------------------------------------
  // Product quantization (the FAISS-style IVF-PQ scale path): split the
  // vector into `m` subspaces, k-means a tiny per-subspace codebook, and
  // represent each vector by its m nearest-code ids — m bytes-ish per
  // vector instead of 8·dims, so a probed-cell ADC search reads ~64×
  // less vector data than full doubles (and ~8× less than int8 codes).
  // Residual-free variant: codes quantize the raw vector (cells are used
  // for pruning only), which keeps every stage exactly replayable by the
  // SQL oracle.
  // ------------------------------------------------------------------

  /** Driver-side codebook form: per subspace (ascending), the (code_id,
    * code vector) list ascending by code id — the tie-break scan order of
    * every assignment kernel. m·ksub·(dims/m) doubles — tiny by
    * construction (the whole point of PQ), so collect + broadcast is the
    * correct distribution strategy at any corpus size. */
  private def collectBooks(codebooks: DataFrame): Array[(Int, Array[(Long, Array[Double])])] =
    codebooks.select(col("subspace").cast("int"), col("code_id").cast("long"), col("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (s, rows) => (s, rows.map(r => (r._2, r._3)).sortBy(_._1)) }

  /** Nearest code per subspace — strict `<` over the code_id-ascending
    * scan = min_by struct(dist, code_id), the same deterministic
    * tie-break as [[ivfIndexRows]], identical in the SQL oracle replay. */
  private def pqAssignOne(v: Array[Double], subDim: Int,
                          books: Array[(Int, Array[(Long, Array[Double])])]): Array[Long] = {
    val out = new Array[Long](books.length)
    var s = 0
    while (s < books.length) {
      val (sub, codes) = books(s)
      val off = sub * subDim
      var bestCode = codes(0)._1
      var best = Double.PositiveInfinity
      var j = 0
      while (j < codes.length) {
        val cv = codes(j)._2
        var acc = 0.0; var i = 0
        while (i < subDim) { val dx = v(off + i) - cv(i); acc += dx * dx; i += 1 }
        if (acc < best) { best = acc; bestCode = codes(j)._1 }
        j += 1
      }
      out(s) = bestCode
      s += 1
    }
    out
  }

  /**
   * IVF residuals: `rv = v − centroid(cell)` for every assigned vector —
   * the input classic IVF-PQ (the FAISS architecture) trains and encodes
   * on. Quantizing the residual instead of the raw vector concentrates
   * the variance the codes must capture (the coarse centroid already
   * explains the cell's mean), which is where most recall at fixed code
   * bytes comes from. One broadcast join against the tiny centroid
   * sidecar + a per-row `zip_with` — no shuffle; plain IEEE subtraction,
   * identical in the SQL oracle.
   *
   * `assignment` needs `(idCol, centroid_id, vecCol)`; `centroids` is the
   * `(centroid_id, vec)` sidecar.
   */
  def ivfResiduals(assignment: DataFrame, centroids: DataFrame,
                   idCol: String = "id", vecCol: String = "v"): DataFrame =
    assignment
      .select(col(idCol).cast("long").as("id"),
        col("centroid_id").cast("long").as("centroid_id"),
        asDouble(col(vecCol)).as("v"))
      .join(broadcast(centroids.select(col("centroid_id").cast("long").as("centroid_id"),
        col("vec").as("_cvec"))), Seq("centroid_id"))
      .select(col("id"), col("centroid_id"),
        zip_with(col("v"), col("_cvec"), (x, c) => x - c).as("rv"))

  /**
   * Train per-subspace PQ codebooks by distributed k-means: deterministic
   * init (subspace slices of the first `ksub` corpus vectors, code_id =
   * the donor's id), then `iters` Lloyd rounds. Each round is ONE
   * distributed job over the corpus: a typed kernel assigns all m
   * subspaces per row against the broadcast codebook (m·ksub·subDim
   * doubles — tiny), emits `(subspace, code, dim, value)` and the means
   * reduce with exact DECIMAL(30,15) sums — associativity-free, so
   * partial aggregation parallelizes arbitrarily AND the result is
   * engine-portable (the DuckDB oracle sums the same decimals). The
   * shuffle after map-side combine is m·ksub·subDim rows per partition.
   * The codebook round-trips through the driver between rounds (bounded
   * control-plane pull, same lineage-truncation rationale as
   * [[ivfTrainCentroids]]). A code whose cell empties drops out,
   * deterministically in both engines.
   *
   * Returns wide form `(subspace, code_id, cv)`, UNROUNDED — the table
   * assignments must be computed against ([[pqTrain]] is the 6-dp
   * presentation form).
   */
  def pqTrainCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                       m: Int, ksub: Int, iters: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"pqTrainCodebooks: dims=$dims not divisible by m=$m")
    val subDim = dims / m
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .as[(Long, Array[Double])]
    val init = e.filter(_._1 < ksub).collect().sortBy(_._1)
    require(init.nonEmpty, "pqTrainCodebooks: no init vectors (ids < ksub)")
    var books: Array[(Int, Array[(Long, Array[Double])])] =
      (0 until m).map { s =>
        (s, init.map { case (id, v) => (id, v.slice(s * subDim, (s + 1) * subDim)) })
      }.toArray
    (0 until iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(books)
      val rows = e.flatMap { case (_, v) =>
        val bks = bc.value
        val out = new Array[(Int, Long, Int, Double)](v.length)
        var o = 0; var s = 0
        while (s < bks.length) {
          val (sub, codes) = bks(s)
          val off = sub * subDim
          var bestCode = codes(0)._1
          var best = Double.PositiveInfinity
          var j = 0
          while (j < codes.length) {
            val cv = codes(j)._2
            var acc = 0.0; var i = 0
            while (i < subDim) { val dx = v(off + i) - cv(i); acc += dx * dx; i += 1 }
            if (acc < best) { best = acc; bestCode = codes(j)._1 }
            j += 1
          }
          var i = 0
          while (i < subDim) { out(o) = (sub, bestCode, i, v(off + i)); o += 1; i += 1 }
          s += 1
        }
        out.toIndexedSeq
      }.toDF("subspace", "code_id", "dim", "value")
      val means = rows.groupBy("subspace", "code_id", "dim")
        .agg((sum(col("value").cast("decimal(30,15)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      books = means.groupBy(r => (r._1, r._2)).toArray
        .map { case ((s, c), vs) =>
          (s, c, vs.sortBy(_._3).map(_._4))
        }
        .groupBy(_._1).toArray.sortBy(_._1)
        .map { case (s, rows2) => (s, rows2.map(r => (r._2, r._3)).sortBy(_._1)) }
    }
    books.flatMap { case (s, codes) =>
      codes.map { case (cid, cv) => (s.toLong, cid, cv.toSeq) }
    }.toIndexedSeq.toDF("subspace", "code_id", "cv")
  }

  /** [[pqTrainCodebooks]] in long presentation form
    * `(subspace, code_id, dim, m)`, 6-dp rounded — the `sim_pq_train`
    * result shape. */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
              m: Int, ksub: Int, iters: Int, dims: Int): DataFrame =
    pqTrainCodebooks(emb, idCol, vecCol, m, ksub, iters, dims)
      .select(col("subspace"), col("code_id"),
        posexplode(col("cv")).as(Seq("dim", "mval")))
      .select(col("subspace"), col("code_id"), col("dim").cast("long").as("dim"),
        round(col("mval"), 6).as("m"))

  /**
   * Encode vectors against trained codebooks: one shuffle-free scan, a
   * typed kernel computing all m codes per row against the broadcast
   * codebook. `cellCol` passes a coarse-cell column through (the IVF-PQ
   * layout: codes stored partitioned by the cell, so an ADC search
   * partition-prunes to the probed cells and reads ONLY m small code ids
   * per candidate).
   */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, dims: Int,
               cellCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val books = collectBooks(codebooks)
    require(books.nonEmpty, "pqEncode: empty codebook table")
    val m = books.length
    // loud rejects, not silently truncated subspaces: a dims not divisible
    // by m would encode against offsets that ignore trailing components,
    // and a codebook trained at a different subDim would slice garbage
    require(dims % m == 0, s"pqEncode: dims=$dims not divisible by m=$m")
    require(books(0)._2(0)._2.length == dims / m,
      s"pqEncode: codebook subvector length ${books(0)._2(0)._2.length} != " +
        s"dims/m = ${dims / m} — codebook trained at a different geometry")
    val subDim = dims / m
    val bc = spark.sparkContext.broadcast(books)
    cellCol match {
      case Some(cc) =>
        df.select(col(idCol).cast("long").as("id"), col(cc).cast("long").as("cell"),
            asDouble(col(vecCol)).as("v"))
          .as[(Long, Long, Array[Double])]
          .map { case (id, cell, v) => (id, cell, pqAssignOne(v, subDim, bc.value)) }
          .toDF("id", "centroid_id", "codes")
      case None =>
        df.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
          .as[(Long, Array[Double])]
          .map { case (id, v) => (id, pqAssignOne(v, subDim, bc.value)) }
          .toDF("id", "codes")
    }
  }

  /**
   * ADC (asymmetric distance computation) probed-cell search over a
   * stored PQ-coded index: probe the `nprobe` nearest coarse cells
   * (driver-side against the tiny centroid sidecar, same as
   * [[ivfSearch]]), build the per-query lookup table — for every
   * (subspace, code): the query-subvector·code dot product and the code's
   * squared norm, each HALF_UP-rounded to 6 dp so the decimal reduction
   * is order-independent and engine-portable — then rank candidates by
   * approximate cosine from their codes alone: the scan partition-prunes
   * to the probed cells and reads ONLY `(id, codes)`. The plan is a
   * pruned scan → posexplode → broadcast LUT join (m·ksub rows) → partial
   * hash-agg of exact DECIMAL sums → TakeOrderedAndProject. A candidate
   * whose codes reconstruct to zero norm yields a null cosine and ranks
   * last (the [[ivfSearchQ8]] degenerate-vector convention).
   *
   * `residual = true` scores codes that quantize `v − centroid(cell)`
   * ([[ivfResiduals]], the classic IVF-PQ layout): the reconstruction is
   * `centroid + decoded residual`, so the LUT gains the per-(cell,
   * subspace, code) centroid·code cross terms (nprobe·m·ksub rows, still
   * a trivial broadcast) and the per-cell `query·centroid` / `‖centroid‖²`
   * constants. A candidate whose code id is missing from the codebook is
   * inner-join-dropped here; the fused kernel ([[knnJoinPq]]) fails
   * loudly instead — prefer it when store corruption must stop the job.
   */
  def pqSearchAdc(codes: DataFrame, codebooks: DataFrame, centroids: DataFrame,
                  queryVec: Seq[Double], k: Int, nprobe: Int,
                  excludeId: Option[Long] = None,
                  residual: Boolean = false,
                  rotation: Option[Array[Double]] = None): DataFrame = {
    require(rotation.isEmpty || residual,
      "pqSearchAdc: the OPQ-lite rotation applies to residual codes only")
    val spark = codes.sparkSession
    import spark.implicits._
    val q = queryVec.toArray
    val books = collectBooks(codebooks)
    require(books.nonEmpty, "pqSearchAdc: empty codebook table")
    val subDim = books(0)._2(0)._2.length
    val cents = centroids
      .select(col("centroid_id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probed = cents.map { case (cid, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { val dx = v(i) - q(i); s += dx * dx; i += 1 }
        (cid, s)
      }.sortBy { case (cid, dist) => (dist, cid) }.take(nprobe).map(_._1).toSeq
    val qn = math.sqrt(dotKernel(q, q))
    val base = codes.where(col("centroid_id").isin(probed: _*))
    val e1 = excludeId.map(x => base.where(col("id") =!= x)).getOrElse(base)
    val exploded = e1.select(col("id"), col("centroid_id").cast("long").as("cell"),
        posexplode(col("codes")).as(Seq("subspace", "code_id")))
      .withColumn("subspace", col("subspace").cast("long"))
    if (!residual) {
      val lut = books.flatMap { case (s, cs) =>
        cs.map { case (cid, cv) =>
          var dt = 0.0; var nn = 0.0; var i = 0
          while (i < cv.length) {
            dt += q(s * subDim + i) * cv(i); nn += cv(i) * cv(i); i += 1
          }
          (s.toLong, cid, roundHalfUp(dt, 6), roundHalfUp(nn, 6))
        }
      }.toIndexedSeq.toDF("subspace", "code_id", "dot6", "nn6")
      exploded
        .join(broadcast(lut), Seq("subspace", "code_id"))
        .groupBy("id", "cell")
        .agg(sum(col("dot6").cast("decimal(20,6)")).as("sdot"),
          sum(col("nn6").cast("decimal(20,6)")).as("snn"))
        .select(col("id"), col("cell"),
          when(col("snn") === 0, lit(null).cast("double"))
            .otherwise(round(col("sdot").cast("double") /
              (sqrt(col("snn").cast("double")) * qn), 6))
            .as("adc_cosine"))
        .orderBy(col("adc_cosine").desc, col("id"))
        .limit(k)
    } else {
      // residual codes reconstruct v̂ = c(cell) + r̂, so the approximate
      // cosine needs the cell terms too:
      //   dot(q, v̂)  = dot(q, c)  + Σ_s dot(q_s, cv_s)
      //   ‖v̂‖²      = ‖c‖² + 2·Σ_s dot(c_s, cv_s) + Σ_s ‖cv_s‖²
      // Every term is 6-dp-rounded at the LUT and reduced with exact
      // DECIMAL sums — order-independent and oracle-replayable. The
      // cross-term LUT is keyed by (cell, subspace, code): nprobe·m·ksub
      // rows, still a trivial broadcast.
      // OPQ-lite: codes quantize R·rv, so the per-subspace dot terms pair
      // the codes with the ROTATED query / centroid (dot(q, Rᵀr̂) =
      // dot(R·q, r̂)); the cell constants qc6/cn6 and the query norm are
      // rotation-free (R is orthonormal, the reconstruction's cell term
      // lives in the original space)
      val centMap = cents.toMap
      val rq = rotation.map(sg => opqRotateKernel(q, sg)).getOrElse(q)
      val lut = probed.flatMap { cell =>
        val c0 = centMap(cell)
        val c = rotation.map(sg => opqRotateKernel(c0, sg)).getOrElse(c0)
        books.toIndexedSeq.flatMap { case (s, cs) =>
          cs.map { case (cid, cv) =>
            var dt = 0.0; var nn = 0.0; var cd = 0.0; var i = 0
            while (i < cv.length) {
              dt += rq(s * subDim + i) * cv(i)
              nn += cv(i) * cv(i)
              cd += c(s * subDim + i) * cv(i)
              i += 1
            }
            (cell, s.toLong, cid,
              roundHalfUp(dt, 6), roundHalfUp(nn, 6), roundHalfUp(cd, 6))
          }
        }
      }.toDF("cell", "subspace", "code_id", "dot6", "nn6", "cdot6")
      val cellConst = probed.map { cell =>
        val c = centMap(cell)
        (cell, roundHalfUp(dotKernel(q, c), 6), roundHalfUp(dotKernel(c, c), 6))
      }.toDF("cell", "qc6", "cn6")
      exploded
        .join(broadcast(lut), Seq("cell", "subspace", "code_id"))
        .groupBy("id", "cell")
        .agg(sum(col("dot6").cast("decimal(20,6)")).as("sdot0"),
          sum(col("cdot6").cast("decimal(20,6)")).as("scd"),
          sum(col("nn6").cast("decimal(20,6)")).as("snn0"))
        .join(broadcast(cellConst), Seq("cell"))
        .select(col("id"), col("cell"),
          (col("qc6").cast("decimal(20,6)") + col("sdot0")).as("sdot"),
          (col("cn6").cast("decimal(20,6)") + lit(2) * col("scd") + col("snn0"))
            .as("snn"))
        .select(col("id"), col("cell"),
          when(col("snn") <= 0, lit(null).cast("double"))
            .otherwise(round(col("sdot").cast("double") /
              (sqrt(col("snn").cast("double")) * qn), 6))
            .as("adc_cosine"))
        .orderBy(col("adc_cosine").desc, col("id"))
        .limit(k)
    }
  }

  // ------------------------------------------------------------------
  // OPQ-lite: a deterministic orthogonal pre-rotation for residual PQ —
  // the SVD-free randomized-rotation trick (sign-flip diagonal D followed
  // by a fast Walsh–Hadamard transform H, scaled 1/√d): R = H·D/√d is
  // exactly orthonormal (RᵀR = D·H·H·D/d = D·(dI)·D/d = I), spreads every
  // input coordinate's energy uniformly across all output coordinates in
  // O(d log d) integer-index arithmetic, and needs no linear-algebra
  // library or training loop. Rotating residuals before PQ encoding
  // decorrelates the subspace split (the failure mode of plain PQ when
  // variance concentrates in a few dimensions — the problem OPQ's trained
  // rotation solves with an SVD loop); the reconstruction path applies
  // Rᵀ = D·H/√d. The rotation is fully determined by (dims, seed), the
  // seed rides in the store artifact's config key, and the butterfly is
  // replayed STAGE-FOR-STAGE by the SQL oracle (identical FP operation
  // order, so results are bit-equal — a literal matrix multiply would
  // sum in a different order and drift by ulps).
  // ------------------------------------------------------------------

  /** The ±1 sign diagonal, derived from `(dims, seed)` by splittable
    * integer arithmetic (no RNG state — deterministic, engine-portable:
    * the oracle interpolates these as literals). */
  def opqSigns(dims: Int, seed: Long): Array[Double] = {
    require(dims > 0 && (dims & (dims - 1)) == 0,
      s"opqSigns: dims must be a power of two for the Hadamard butterfly, got $dims")
    Array.tabulate(dims) { i =>
      val h = (i.toLong * 2654435761L + seed * 40503L + 12345L) >> 16
      if ((h & 1L) == 0L) 1.0 else -1.0
    }
  }

  /** Forward rotation `R·v = FWHT(D·v)/√d` — the encode-side transform.
    * The butterfly stages run in ascending stride order; the SQL oracle
    * replays the identical stage sequence, so outputs are bit-equal. */
  def opqRotateKernel(v: Array[Double], signs: Array[Double]): Array[Double] = {
    val n = signs.length
    require(v.length == n, s"opqRotateKernel: vector dims ${v.length} != signs $n")
    var cur = new Array[Double](n)
    var i = 0
    while (i < n) { cur(i) = v(i) * signs(i); i += 1 }
    var s = 1
    while (s < n) {
      val next = new Array[Double](n)
      i = 0
      while (i < n) {
        if ((i & s) == 0) next(i) = cur(i) + cur(i + s)
        else next(i) = cur(i - s) - cur(i)
        i += 1
      }
      cur = next
      s <<= 1
    }
    val scale = math.sqrt(n.toDouble)
    i = 0
    while (i < n) { cur(i) = cur(i) / scale; i += 1 }
    cur
  }

  /** Inverse rotation `Rᵀ·v = D·FWHT(v)/√d` — the reconstruction-side
    * transform (H is symmetric, D its own inverse). */
  def opqRotateInverseKernel(v: Array[Double], signs: Array[Double]): Array[Double] = {
    val n = signs.length
    require(v.length == n, s"opqRotateInverseKernel: vector dims ${v.length} != signs $n")
    var cur = v.clone()
    var s = 1
    while (s < n) {
      val next = new Array[Double](n)
      var i = 0
      while (i < n) {
        if ((i & s) == 0) next(i) = cur(i) + cur(i + s)
        else next(i) = cur(i - s) - cur(i)
        i += 1
      }
      cur = next
      s <<= 1
    }
    val scale = math.sqrt(n.toDouble)
    var i = 0
    while (i < n) { cur(i) = cur(i) * signs(i) / scale; i += 1 }
    cur
  }

  /** Rotate an `(id, centroid_id, rv)` residual table ([[ivfResiduals]]'
    * output) — one shuffle-free typed-kernel scan, O(d log d) per row;
    * feed the result to [[pqTrainCodebooks]] / [[pqEncode]] unchanged
    * (they are source-agnostic). */
  def opqRotateResiduals(res: DataFrame, signs: Array[Double]): DataFrame = {
    val spark = res.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(signs)
    res.select(col("id").cast("long").as("id"),
        col("centroid_id").cast("long").as("centroid_id"),
        asDouble(col("rv")).as("rv"))
      .as[(Long, Long, Array[Double])]
      .map { case (id, cell, rv) => (id, cell, opqRotateKernel(rv, bc.value)) }
      .toDF("id", "centroid_id", "rv")
  }

  /**
   * Symmetric int8 quantization of an embedding column (4× storage shrink
   * for ANN indexes): per-vector scale = max|x|, q_i = round(x_i/scale·127).
   * Pure per-row expression — no shuffle; dequantize error ≤ scale/254 per
   * component. Zero vectors quantize to all-zero with scale 0.
   */
  def quantizeInt8(vecDouble: Column): Column = {
    val scale = array_max(transform(vecDouble, x => abs(x)))
    struct(
      scale.as("scale"),
      transform(vecDouble, x =>
        when(scale === 0.0, lit(0L))
          .otherwise(round(x / scale * 127.0, 0).cast("long"))).as("q"))
  }

  /** Typed-kernel form of the [[quantizeInt8]] summary (per-vector scale +
    * integer checksums of the quantized components) — bit-identical to the
    * expression path for real vectors (same widening, same HALF_UP
    * rounding; property-tested in LlmSpec) with the five interpreted
    * per-element lambda folds replaced by one JIT'd loop per row.
    *
    * Degenerate vectors follow the SQL-oracle semantics: a null or empty
    * vector yields null scale AND null checksums (DuckDB `list_sum(NULL)` /
    * `list_sum([])` are NULL). This deliberately diverges from a Spark
    * `aggregate(v, 0L, ...)` fold, whose empty-array result is the 0 seed —
    * a zero checksum would make a missing vector indistinguishable from a
    * legitimate all-zero quantization. */
  def quantizeChecksums(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        if (v == null || v.isEmpty)
          (id, Option.empty[Double], Option.empty[Long], Option.empty[Long])
        else {
          var scale = 0.0
          var i = 0
          while (i < v.length) { val a = math.abs(v(i)); if (a > scale) scale = a; i += 1 }
          // the expression path degrades silently on NaN (non-ANSI NaN→long
          // casts); a vector that broken should fail the job loudly instead
          require(!scale.isNaN && (0 until v.length).forall(j => !v(j).isNaN),
            s"NaN component in vector $id")
          var qSum = 0L; var qL1 = 0L
          if (scale != 0.0) {
            i = 0
            while (i < v.length) {
              val q = roundHalfUp(v(i) / scale * 127.0, 0).toLong
              qSum += q; qL1 += math.abs(q); i += 1
            }
          }
          (id, Some(roundHalfUp(scale, 6)), Some(qSum), Some(qL1))
        }
      }
      .toDF(idCol, "scale", "q_sum", "q_l1")
  }

  /**
   * Binary sign quantization: bit `d` of the signature is set when
   * component `d` is non-negative — the 1-bit-per-dimension code (64×
   * below raw float64 at dims=64) that anchors the cheap end of the
   * bytes/precision ladder (binary → int8 → PQ → raw). Sign bits are the
   * axis-plane special case of the random-hyperplane family
   * ([[lshBucket]]), so `popcount(xor)` between two signatures estimates
   * the angle. Pure per-row expression (one integer fold — whole-stage
   * codegen, no shuffle). IEEE notes: `-0.0 >= 0` is true in Spark and
   * DuckDB alike, so signed zeros bucket together; bits past `dims` stay 0.
   */
  def binarySig(vecDouble: Column, dims: Int): Column = {
    require(dims >= 1 && dims <= 64, s"binarySig packs one 64-bit word; dims=$dims")
    aggregate(sequence(lit(0), lit(dims - 1)), lit(0L),
      (acc, d) => acc.bitwiseOR(
        when(element_at(vecDouble, (d + 1).cast("int")) >= 0.0,
          call_function("shiftleft", lit(1L), d.cast("int"))).otherwise(lit(0L))))
  }

  /** ±1 projection planes for the densified (2-bit/dim) sign sketch —
    * md5 parity of `hb|k|i`, engine-portable, no persisted RNG state
    * (the deterministic-hyperplane discipline of [[lshBucket]]). */
  private lazy val superBitPlanes: Array[Array[Long]] =
    Array.tabulate(128, 64) { (k, i) =>
      if ((TextHashing.md5Long60Kernel(s"hb|$k|$i") & 1L) == 0L) 1L else -1L
    }

  /**
   * Densified 2-bit-per-dimension sign sketch: 128 sign bits of
   * deterministic ±1 hyperplane projections (sign-random-projection
   * simhash, Charikar 2002), packed as two 64-bit words. Twice the
   * angle samples of the 64-bit axis-sign code halves the Hamming
   * estimator's variance — the recall dial on STRUCTURELESS corpora,
   * where axis signs are the 1-bit worst case (a naive two-threshold
   * thermometer at mean |v| was measured WORSE than the sign code here:
   * its region boundary sits at peak component density, so boundary
   * noise dominates — see LlmSpec). Projections are EXACT integers
   * (6-dp µ-unit components × ±1 planes), so the bits replay in any
   * engine with no float sign decision; 16 bytes/row = still 32× below
   * raw float64.
   */
  /** The 128 raw plane projections (exact integers, µ-unit components ×
    * ±1 planes) the densified sketch signs — kept UNSIGNED here for the
    * asymmetric-distance path, which scores corpus sign bits against the
    * query's full projection magnitudes. */
  // public (not private[llm]): the streaming ADC verifier
  // (graft.streaming.StreamingEmbDedupAdc) scores arrivals' projections
  // against stored corpus sketches with the same kernels
  def superBitProj(v: Seq[Double]): Array[Long] = {
    require(v.length <= 64,
      s"superBitKernel planes cover <= 64 dims, got ${v.length}")
    val v6 = v.iterator.map(x => Math.round(roundHalfUp(x, 6) * 1e6)).toArray
    val out = new Array[Long](128)
    var k = 0
    while (k < 128) {
      val pk = superBitPlanes(k)
      var s = 0L
      var i = 0
      while (i < v6.length) { s += v6(i) * pk(i); i += 1 }
      out(k) = s
      k += 1
    }
    out
  }

  /** Pack the 128 projection signs (`> 0`) into the two sketch words —
    * THE sign convention of the densified ring, shared by every packer
    * (batch kernel, streaming ADC ingest) so stream/batch bit-parity is
    * structural, not maintained by hand. */
  def packSketch(proj: Array[Long]): (Long, Long) = {
    var lo = 0L
    var hi = 0L
    var k = 0
    while (k < 128) {
      if (proj(k) > 0L) {
        if (k < 64) lo |= (1L << k) else hi |= (1L << (k - 64))
      }
      k += 1
    }
    (lo, hi)
  }

  /** The exact-long ADC score `Σ_k q_k·sign_k` of a query's projection
    * magnitudes against a packed corpus sketch — shared by the batch ADC
    * searches and the streaming ADC verifier. */
  def adcScoreKernel(proj: Array[Long], lo: Long, hi: Long): Long = {
    var s = 0L
    var k = 0
    while (k < 128) {
      val bit = if (k < 64) ((lo >>> k) & 1L) == 1L
                else ((hi >>> (k - 64)) & 1L) == 1L
      s += (if (bit) proj(k) else -proj(k))
      k += 1
    }
    s
  }

  def superBitKernel(v: Seq[Double]): (Long, Long) = packSketch(superBitProj(v))

  /** The one dims guard of the packed-code builds and searches — the
    * driver-side twin of [[superBitProj]]'s executor require, so a bad
    * call fails at validation, not mid-job: both codes pack into 64-bit
    * words and the 128 planes cover at most 64 dims. */
  private def requireSketch(dims: Int, bitsPerDim: Int = 2): Unit = {
    require(bitsPerDim == 1 || bitsPerDim == 2,
      s"bitsPerDim must be 1 (axis signs) or 2 (densified sign sketch), got $bitsPerDim")
    require(dims >= 1 && dims <= 64,
      s"the packed sign codes cover 1 to 64 dims, got $dims")
  }

  /**
   * Batch kNN join through a Hamming prefilter over [[binarySig]]
   * signatures with exact-cosine rerank — the 1-bit ANN regime:
   *
   *  - stage 1 scans the corpus once, computing each row's 8-byte
   *    signature and its Hamming distance (`bit_count(sig ^ qsig)` — two
   *    codegen'd integer ops) to every broadcast query signature, and
   *    keeps each query's `k·oversample` Hamming-nearest candidates via a
   *    rank window. The `row_number <= limit` filter is pushed into
   *    WindowGroupLimit (PlanSpec-pinned), so each partition forwards at
   *    most Q·k·oversample rows into the exchange — the shuffle carries
   *    candidates, never the n·Q score matrix;
   *  - stage 2 broadcast-joins the candidate ids back into the corpus
   *    scan (the corpus is never shuffled) and ranks the survivors by the
   *    house exact cosine (sequential IEEE dot, HALF_UP 6 dp, ties by
   *    smaller id — [[topK]]'s rule).
   *
   * At 100 TB the signature is a stored 8-byte column beside the PQ codes
   * (stage 1 reads 8 bytes/row instead of 512) and stage 2 touches only
   * Q·k·oversample vectors. The trade is recall: Hamming over `dims` sign
   * bits is a coarse angle estimate, so `oversample` is the recall dial
   * (spec-measured against [[knnJoin]] ground truth in LlmSpec).
   * Zero-norm/null corpus vectors carry no angle (their sign word is all
   * ones) and are excluded from candidacy, exactly as [[knnJoin]] skips
   * them; queries are validated loud the same way.
   */
  def knnJoinHamming(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, qIdCol: String, k: Int, dims: Int,
                     oversample: Int = 4, excludeSelf: Boolean = true,
                     maxQueries: Int = 4096, bitsPerDim: Int = 1): DataFrame = {
    requireSketch(dims, bitsPerDim)
    val spark = corpus.sparkSession
    val q = hammingQueryTable(spark,
      collectHammingQueries(queries, vecCol, qIdCol, maxQueries), bitsPerDim, dims)
    val base = hammingBase(corpus, idCol, vecCol)
    val sigged =
      if (bitsPerDim == 1)
        base.select(col("neighbor_id"), binarySig(col("v"), dims).as("sig"))
      else liveSketches(base).toDF("neighbor_id", "slo", "shi")
    rerank(base, hammingCandidates(sigged, q, bitsPerDim, excludeSelf, k * oversample),
      k, "hamming", requireCoverage = false)
  }

  /** The zero-norm-filtered raw-vector corpus view every Hamming-family
    * search reranks against — ONE definition, so live and stored paths
    * cannot diverge on candidacy. */
  private def hammingBase(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol).cast("long").as("neighbor_id"), asDouble(col(vecCol)).as("v"))
      .where(col("v").isNotNull && size(col("v")) > 0)
      .withColumn("nrm", norm(col("v")))
      .where(col("nrm") > 0.0)

  /** The live re-sketch of a [[hammingBase]] view: `(id, slo, shi)`. */
  private def liveSketches(base: DataFrame): Dataset[(Long, Long, Long)] = {
    import base.sparkSession.implicits._
    base.select(col("neighbor_id"), col("v"))
      .as[(Long, Seq[Double])]
      .map { case (id, v) =>
        val (lo, hi) = superBitKernel(v)
        (id, lo, hi)
      }
  }

  /** Broadcast-side query table `(query_id, qv, qn)` the rerank reads. */
  private def queryTable(spark: SparkSession,
      qRows: Array[(Long, Seq[Double], Double)]): DataFrame = {
    import spark.implicits._
    qRows.toSeq.toDF("query_id", "qv", "qn")
  }

  /** Broadcast query table of the SDC cut (signatures beside the vector
    * and norm the rerank needs). */
  private def hammingQueryTable(spark: SparkSession,
      qRows: Array[(Long, Seq[Double], Double)], bitsPerDim: Int,
      dims: Int): DataFrame = {
    import spark.implicits._
    if (bitsPerDim == 1)
      queryTable(spark, qRows).withColumn("qsig", binarySig(col("qv"), dims))
    else qRows.toSeq.map { case (qid, v, qn) =>
      val (lo, hi) = superBitKernel(v)
      (qid, v, qn, lo, hi)
    }.toDF("query_id", "qv", "qn", "qlo", "qhi")
  }

  /** Hamming distance between the packed 2-bit sketch words and the
    * query's — two `bit_count(xor)` per row. */
  private def sketchHamming: Column =
    (call_function("bit_count", col("slo").bitwiseXOR(col("qlo"))) +
      call_function("bit_count", col("shi").bitwiseXOR(col("qhi")))).cast("long")

  private def dropSelf(scored: DataFrame, excludeSelf: Boolean): DataFrame =
    if (excludeSelf) scored.where(col("neighbor_id") =!= col("query_id")) else scored

  /** The stage-1 cut of every Hamming-family search: each `keys` group
    * keeps its `limit` best rows by `order` — the `row_number <= limit`
    * filter is pushed into WindowGroupLimit, so each partition forwards
    * at most that many rows per group into the exchange. */
  private def cutTop(scored: DataFrame, keys: Seq[String], limit: Int,
                     order: Column*): DataFrame =
    scored.withColumn("hrank", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .where(col("hrank") <= limit)

  private def byHamming: Seq[Column] = Seq(col("hamming"), col("neighbor_id"))

  /** Stage-1 candidates joined to the query vectors the rerank needs. */
  private def withQueries(cand: DataFrame, q: DataFrame): DataFrame =
    cand.join(q.select(col("query_id"), col("qv"), col("qn")), "query_id")

  /** Stage 1 of the SDC family from a prepared signature view `sigged`
    * (`(neighbor_id, sig)` or `(neighbor_id, slo, shi)`): Hamming
    * distance to every broadcast query signature, per-query cut to
    * `limit` — shared by the live, stored and SQ-rerank searches so
    * candidacy cannot diverge. */
  private def hammingCandidates(sigged: DataFrame, q: DataFrame,
      bitsPerDim: Int, excludeSelf: Boolean, limit: Int): DataFrame = {
    val qSigCols =
      if (bitsPerDim == 1) Seq(col("query_id"), col("qsig"))
      else Seq(col("query_id"), col("qlo"), col("qhi"))
    val scored = dropSelf(sigged.crossJoin(broadcast(q.select(qSigCols: _*))), excludeSelf)
      .withColumn("hamming",
        if (bitsPerDim == 1)
          call_function("bit_count", col("sig").bitwiseXOR(col("qsig"))).cast("long")
        else sketchHamming)
    withQueries(cutTop(scored, Seq("query_id"), limit, byHamming: _*)
      .select(col("query_id"), col("neighbor_id"), col("hamming")), q)
  }

  /** ADC stage 1 + exact rerank from prepared `(id, slo, shi)` sketch
    * rows — the ONE body behind [[knnJoinHammingAdc]] and
    * [[knnJoinHammingAdcFromSigs]]. */
  private def adcSearch(base: DataFrame, sketches: Dataset[(Long, Long, Long)],
      qRows: Array[(Long, Seq[Double], Double)], excludeSelf: Boolean,
      k: Int, oversample: Int, requireCoverage: Boolean): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    // per-query projection table, computed once on the driver and shipped
    // in the task closure (≤ maxQueries × 1 KB)
    val qProj: Array[(Long, Array[Long])] =
      qRows.map { case (qid, v, _) => (qid, superBitProj(v)) }
    val exSelf = excludeSelf
    val scored = sketches
      .flatMap { case (nid, lo, hi) =>
        qProj.iterator
          .filter { case (qid, _) => !exSelf || qid != nid }
          .map { case (qid, qp) => (nid, qid, adcScoreKernel(qp, lo, hi)) }
      }.toDF("neighbor_id", "query_id", "ascore")
    val cand = cutTop(scored, Seq("query_id"), k * oversample,
        col("ascore").desc, col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("ascore"))
    rerank(base, withQueries(cand, queryTable(spark, qRows)), k, "ascore",
      requireCoverage)
  }

  /**
   * ASYMMETRIC-distance kNN over the densified binary sketch — the ADC
   * step (Jégou et al. 2011's symmetric→asymmetric move, already shipped
   * for PQ in `sim_graph_sdc`) applied to the binary ring: the CORPUS
   * stays 16 bytes/row (the 128 packed sign bits of [[superBitKernel]]),
   * but the QUERY keeps its full per-plane projection magnitudes
   * ([[superBitProj]] — exact integer µ-units), and stage 1 ranks by
   * `Σ_k q_k·sign_k(corpus)` instead of Hamming distance. A plane where
   * the query projects near zero contributes ~nothing either way (it
   * carries no angle information for THIS query), while Hamming weighs
   * every disagreeing plane equally — that reweighting is worth ~2× the
   * oversample dial on structureless vectors (measured, BASELINE.md).
   * The score is an EXACT LONG (integer projections × ±1), so candidate
   * sets replay bit-for-bit in any engine; ties break by smaller id.
   * Stage 2 is the house exact-cosine rerank, unchanged.
   *
   * 100 TB shape: identical to [[knnJoinHamming]] — one corpus scan of a
   * stored 16-byte column, per-partition candidate cut pushed into
   * WindowGroupLimit, queries a bounded broadcast (the projection table
   * is 1 KB/query); the per-row work rises from 2 integer ops to a
   * 128-step fused loop, the classic ADC compute-for-recall trade.
   */
  def knnJoinHammingAdc(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, qIdCol: String, k: Int, dims: Int,
                        oversample: Int = 4, excludeSelf: Boolean = true,
                        maxQueries: Int = 4096): DataFrame = {
    requireSketch(dims)
    val qRows = collectHammingQueries(queries, vecCol, qIdCol, maxQueries)
    val base = hammingBase(corpus, idCol, vecCol)
    adcSearch(base, liveSketches(base), qRows, excludeSelf, k, oversample,
      requireCoverage = false)
  }

  /**
   * One-scan build of the stored binary-sketch SIGNATURE table backing
   * the Hamming ANN ring's I/O story: per corpus vector, BOTH binary
   * codes — the 64-bit axis-sign word (bit-identical to [[binarySig]];
   * kernel twin of the `>= 0.0` sign rule, `-0.0` included) and the two
   * words of the 128-plane densified sign sketch ([[superBitKernel]]) —
   * in one typed JIT pass. Null/empty/zero-norm vectors carry no angle
   * and are excluded exactly as the live [[knnJoinHamming]] stage 1
   * excludes them, so candidacy through the stored table equals
   * candidacy through a re-sketch, bit for bit. Schema
   * `(id, sig, slo, shi)`: 8 bytes of id + 24 bytes of code per row;
   * the `*FromSigs` readers column-prune to the code they need, so a
   * stage-1 scan reads 8 (axis signs) or 16 (densified sketch) bytes of
   * code per row instead of the 512-byte raw vector.
   */
  def hammingSigRows(emb: DataFrame, idCol: String, vecCol: String,
                     dims: Int): DataFrame = {
    requireSketch(dims)
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .where(col("v").isNotNull && size(col("v")) > 0)
      .as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        val arr = v.toArray
        val nrm = math.sqrt(dotKernel(arr, arr))
        if (!(nrm > 0.0)) Iterator.empty // zero/NaN norm: no angle, no code
        else {
          var sig = 0L
          var d = 0
          val lim = math.min(dims, arr.length)
          while (d < lim) { if (arr(d) >= 0.0) sig |= 1L << d; d += 1 }
          val (lo, hi) = superBitKernel(v)
          Iterator.single((id, sig, lo, hi))
        }
      }.toDF("id", "sig", "slo", "shi")
  }

  /** Shared bounded query-side pull of the Hamming ANN family: at most
    * `maxQueries + 1` rows reach the driver before the fail-loud bound
    * fires ([[hardNegatives]]' bound discipline); every query is
    * validated non-null / non-empty / positive-finite-norm loud. */
  private def collectHammingQueries(queries: DataFrame, vecCol: String,
      qIdCol: String, maxQueries: Int): Array[(Long, Seq[Double], Double)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRaw = queries
      .select(col(qIdCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .limit(maxQueries + 1)
      .as[(Long, Array[Double])].collect()
    require(qRaw.length <= maxQueries,
      s"query side has more than $maxQueries vectors; broadcast Hamming kNN is bounded there")
    qRaw.map { case (qid, v) =>
      require(v != null && v.nonEmpty, s"kNN query $qid has a null/empty vector")
      val qn = math.sqrt(dotKernel(v, v))
      require(qn > 0.0 && !qn.isInfinite,
        s"kNN query $qid has zero/non-finite norm — cosine undefined")
      (qid, v.toSeq, qn)
    }
  }

  /** The house exact cosine of a candidate row — (v, nrm) against
    * (qv, qn), HALF_UP 6 dp. */
  private def exactCosine: Column =
    round(dot(col("v"), asDouble(col("qv"))) / (col("nrm") * col("qn")), 6)

  /** The int8 code cosine `Σq_i·qv_i / (√(Σq_i²)·‖qv‖)` — the per-vector
    * scale cancels, so the rerank never reads it. */
  private def q8Cosine: Column = {
    val qd = asDouble(col("q"))
    round(dot(qd, asDouble(col("qv"))) / (sqrt(dot(qd, qd)) * col("qn")), 6)
  }

  /** The ONE rerank body behind every stage 2 of the Hamming family:
    * broadcast the stage-1 candidates into `src` (keyed by `neighbor_id`
    * — the never-shuffled raw corpus for the exact-cosine paths, the
    * stored int8 code table for the SQ paths), score with `cosine`, and
    * cut each `keys` group (one query, or one (nprobe, query) ladder
    * rung) to the final k by (cosine desc, id asc). `carry` is the
    * stage-1 score column that rides along into the output (`hamming` or
    * `ascore`).
    *
    * `requireCoverage` enforces the `FromSigs` CALLER CONTRACT ("`corpus`
    * covers every id in `sigs`") in the plan instead of documentation:
    * each group's stage-1 candidate count rides the broadcast
    * (`cand_cnt`, a window over the tiny candidate set), the joined rows
    * are re-counted per group (`got_cnt` — same partitioning as the rank
    * window, so no extra exchange), and every output row's cosine
    * asserts their equality — a sig-store id missing from the rerank
    * corpus fails loud with the contract's name instead of silently
    * shrinking the rerank pool below k·oversample. The one shape this
    * row-borne assert cannot see is a query whose candidates are ALL
    * missing (zero joined rows → zero asserts → zero output rows for that
    * query): not silent wrongness — the query vanishes from the result
    * instead of returning a plausible-but-wrong top-k. */
  private def rerank(src: DataFrame, cand: DataFrame, k: Int, carry: String,
                     requireCoverage: Boolean, cosine: Column = exactCosine,
                     keys: Seq[String] = Seq("query_id")): DataFrame = {
    val wq = Window.partitionBy(keys.map(col): _*)
    val cand2 =
      if (requireCoverage) cand.withColumn("cand_cnt", count(lit(1)).over(wq))
      else cand
    val joined = src.join(broadcast(cand2), "neighbor_id")
    val rer =
      if (requireCoverage)
        joined.withColumn("got_cnt", count(lit(1)).over(wq))
          // the house fail-loud idiom: assert_true returns null when the
          // contract holds, so the coalesce is free and unprunable (the
          // cosine is consumed by the rank window and the output)
          .withColumn("cosine", coalesce(
            assert_true(col("got_cnt") === col("cand_cnt"), concat(
              lit("FromSigs caller contract violated: query "),
              col("query_id").cast("string"),
              lit(" has "), col("cand_cnt").cast("string"),
              lit(" stage-1 candidates but only "),
              col("got_cnt").cast("string"),
              lit(" corpus rows to rerank — every sig-store id must have " +
                "a row in the rerank corpus (union absorbed keepers' " +
                "vectors into the corpus view)"))).cast("double"),
            cosine))
      else joined.withColumn("cosine", cosine)
    val wr = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("cosine").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(wr).cast("long"))
      .where(col("rank") <= k)
      .select((keys ++ Seq("neighbor_id", "rank", carry, "cosine")).map(col): _*)
  }

  /**
   * [[knnJoinHamming]] reading a STORED signature table
   * ([[hammingSigRows]]' schema) instead of re-sketching raw vectors —
   * the shipped form of the ring's I/O claim: stage 1 scans ONLY the
   * sig table's `(id, sig)` (1-bit) or `(id, slo, shi)` (2-bit) columns
   * (ReadSchema-pruned, PlanSpec-pinned — the raw vector column never
   * reaches stage 1), computes the same `bit_count(xor)` Hamming cut
   * against the broadcast query signatures, and stage 2 joins the
   * k·oversample candidate ids back into the raw corpus for the exact
   * cosine rerank. The stored codes ARE the re-sketch (exact integer
   * sign decisions), so the result is bit-replayable with
   * [[knnJoinHamming]] and the oracle is unchanged. At 100 TB stage 1
   * reads 16–24 bytes/row instead of 520 — a ~25× probe-byte cut the
   * sig store pays for once at build time.
   *
   * CALLER CONTRACT (ENFORCED in the plan): `corpus` must cover every id
   * in `sigs` — the rerank joins stage-1 candidates back into the corpus
   * by id, so a sig-store id missing from the corpus view would shrink
   * the rerank pool below k·oversample and break replayability with the
   * live path. The rerank asserts per-query candidate coverage
   * (see [[rerank]]) and FAILS LOUD naming this
   * contract instead of returning a short result. In the
   * streaming-absorb composition ([[graft.streaming
   * .StreamingEmbDedupAdc.absorbKeepers]]) this means the corpus view
   * must be `base ∪ absorbed keepers' vectors` (union the kept vectors,
   * exactly as StreamingEmbDedupAdcSpec does) whenever `sigs` is the
   * absorbed head view.
   */
  def knnJoinHammingFromSigs(corpus: DataFrame, sigs: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, qIdCol: String,
      k: Int, dims: Int, oversample: Int = 4, excludeSelf: Boolean = true,
      maxQueries: Int = 4096, bitsPerDim: Int = 1): DataFrame = {
    requireSketch(dims, bitsPerDim)
    val q = hammingQueryTable(corpus.sparkSession,
      collectHammingQueries(queries, vecCol, qIdCol, maxQueries), bitsPerDim, dims)
    val base = hammingBase(corpus, idCol, vecCol)
    // stage 1: the stored codes, nothing else — the whole point
    val sigged =
      if (bitsPerDim == 1) sigs.select(col("id").as("neighbor_id"), col("sig"))
      else sigs.select(col("id").as("neighbor_id"), col("slo"), col("shi"))
    rerank(base, hammingCandidates(sigged, q, bitsPerDim, excludeSelf, k * oversample),
      k, "hamming", requireCoverage = true)
  }

  /**
   * [[knnJoinHammingAdc]] reading the STORED densified sketch
   * ([[hammingSigRows]]' `(id, slo, shi)`) instead of re-sketching raw
   * vectors: stage 1 is a typed scan of the 16-byte code columns scoring
   * each corpus row's sign bits against the broadcast per-query
   * projection magnitudes (the same exact-long ADC score), stage 2 the
   * shared exact-cosine rerank. Bit-replayable with
   * [[knnJoinHammingAdc]]; oracle unchanged. Same ENFORCED CALLER
   * CONTRACT as [[knnJoinHammingFromSigs]]: `corpus` must cover every id
   * in `sigs` (union absorbed keepers' vectors into the corpus view when
   * `sigs` is an absorbed head) — a coverage gap fails loud in the
   * rerank.
   */
  def knnJoinHammingAdcFromSigs(corpus: DataFrame, sigs: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, qIdCol: String,
      k: Int, dims: Int, oversample: Int = 4, excludeSelf: Boolean = true,
      maxQueries: Int = 4096): DataFrame = {
    requireSketch(dims)
    import corpus.sparkSession.implicits._
    val qRows = collectHammingQueries(queries, vecCol, qIdCol, maxQueries)
    adcSearch(hammingBase(corpus, idCol, vecCol),
      sigs.select(col("id"), col("slo"), col("shi")).as[(Long, Long, Long)],
      qRows, excludeSelf, k, oversample, requireCoverage = true)
  }

  /**
   * One-scan build of the stored INT8 scalar-quantization code table —
   * the rerank-side artifact of the all-stored search: per corpus
   * vector, [[quantizeInt8]]'s per-vector max-abs scale and the 64
   * signed-byte codes (`round(x/scale·127)` HALF_UP — the exact values
   * [[topKQuantized]] dequantizes), schema `(id, scale, q)`: 8 B id +
   * 8 B scale + 64 B codes vs the 520 B raw row. Null/empty and
   * zero/NaN-scale vectors carry no direction and are excluded, exactly
   * as [[hammingSigRows]] excludes them — so the code table covers
   * precisely the sig table's ids and the `FromSigs` coverage contract
   * holds between the two stored artifacts by construction.
   */
  def q8CodeRows(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol).cast("long").as("id"),
        quantizeInt8(asDouble(col(vecCol))).as("c"))
      .where(col("c.scale") > 0.0 && !isnan(col("c.scale")))
      .select(col("id"), col("c.scale").as("scale"),
        transform(col("c.q"), x => x.cast("byte")).as("q"))

  /**
   * The ALL-STORED two-level search — [[knnJoinHammingFromSigs]] with
   * the exact-cosine rerank replaced by an int8 SCALAR-QUANTIZED rerank
   * from the stored [[q8CodeRows]] table: stage 1 scans only the
   * 16-byte sketch columns (identical candidacy to every other 2-bit
   * stage 1 — shared [[hammingCandidates]] body), stage 2 joins the
   * broadcast candidates into the code table and ranks by the
   * quantized cosine. NO RAW VECTOR IS EVER READ: the search touches
   * 16 B/row at stage 1 and 72 B/candidate at stage 2 (the per-vector
   * `scale` column is not referenced — it cancels in the cosine:
   * `cos(dequant(q), qv) = Σq_i·qv_i / (√(Σq_i²)·‖qv‖)` since dequant
   * is `q·scale/127` — so column pruning drops it; it stays in the
   * store for reconstruction/L2 consumers). This is the SQ8 flat-index
   * shape (FAISS `IndexScalarQuantizer` with a binary coarse filter):
   * the rank it returns is the QUANTIZED ranking — agreement with the
   * exact-rerank twin is the fidelity dial, measured by
   * `sim_hamming_q8_recall`. Ties and rounding are the house rules
   * (HALF_UP 6 dp, id asc), the cosine is replayable exactly (integer
   * codes, sequential IEEE sums). Same ENFORCED CALLER CONTRACT,
   * guarded in-plan: `codes` must cover every id in `sigs`.
   */
  def knnJoinHammingSqFromSigs(codes: DataFrame, sigs: DataFrame,
      queries: DataFrame, vecCol: String, qIdCol: String,
      k: Int, dims: Int, oversample: Int = 4, excludeSelf: Boolean = true,
      maxQueries: Int = 4096): DataFrame = {
    requireSketch(dims)
    val q = hammingQueryTable(sigs.sparkSession,
      collectHammingQueries(queries, vecCol, qIdCol, maxQueries), 2, dims)
    val sigged = sigs.select(col("id").as("neighbor_id"), col("slo"), col("shi"))
    rerank(codes.select(col("id").as("neighbor_id"), col("q")),
      hammingCandidates(sigged, q, 2, excludeSelf, k * oversample), k, "hamming",
      requireCoverage = true, cosine = q8Cosine)
  }

  /**
   * IVF × binary-sketch HYBRID kNN — the two pruning axes of the ring
   * composed (the FAISS IVF-with-binary-quantization shape): the coarse
   * quantizer prunes WHICH rows stage 1 reads (probed-cell partition
   * pruning over the cell-partitioned signature store —
   * `PartitionFilters` at the scan, PlanSpec-pinned), and the densified
   * sketch prunes WHAT stage 1 reads per row (16 bytes of code, never
   * the vector). Per query: its `nprobe` nearest cells ([[probe]]), then
   * the Hamming cut over the probed cells' sketches (the
   * [[knnJoinHamming]] 2-bit metric), then the shared exact-cosine
   * rerank. Recall composes multiplicatively: cell recall (the probed
   * cells must hold the true neighbors) × sketch recall (the oversample
   * dial) — the trade that buys O(probed cells × 16 B/row) stage-1 I/O
   * at 100 TB.
   *
   * `sigs` is the CELL-PARTITIONED signature table
   * ([[graft.queries.Materialized]]'s `hamming_sigs_ivf` store:
   * `(id, sig, slo, shi, centroid_id)`). Same ENFORCED CALLER CONTRACT
   * as [[knnJoinHammingFromSigs]]: `corpus` must cover the sig ids — a
   * coverage gap fails loud in the rerank.
   *
   * SCALE NOTE: the exact rerank joins the broadcast candidates into the
   * FULL corpus scan — stage 1 is partition-pruned but the rerank reads
   * the whole raw corpus per search batch. The exact-rerank hybrids are
   * the FIDELITY REFERENCES; the production-scale form is
   * [[knnJoinHammingIvfResSq]], whose cell-partitioned int8 code store
   * prunes the rerank scan to probed cells too (and whose int8 rank was
   * measured recall-identical at every 55k grid point).
   */
  def knnJoinHammingIvf(sigs: DataFrame, corpus: DataFrame,
      centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qIdCol: String, k: Int, dims: Int, nprobe: Int,
      oversample: Int = 4, excludeSelf: Boolean = true,
      maxQueries: Int = 4096): DataFrame = {
    requireSketch(dims)
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val p = probe(centroids, queries, vecCol, qIdCol, maxQueries, nprobe,
      residual = false, "knnJoinHammingIvf")
    rerank(hammingBase(corpus, idCol, vecCol),
      hybridCandidates(sigs, p, excludeSelf, k * oversample, residual = false),
      k, "hamming", requireCoverage = true)
  }

  /** Bounded driver pull of a centroid sidecar (≤ k rows by construction),
    * centroid_id-ascending — the scan/tie order of every assignment. */
  private[graft] def collectCentroids(centroids: DataFrame,
                                      caller: String): Array[(Long, Array[Double])] = {
    val cents = centroids.select(col("centroid_id").cast("long"), col("vec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    require(cents.nonEmpty, s"$caller: empty centroid table")
    cents
  }

  /** `v − cv`: the IVF residual the residual sketches sign (plain IEEE
    * subtraction) — one kernel for the stored codes and the probes. */
  private def residualOf(v: Array[Double], cv: Array[Double]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i) - cv(i); i += 1 }
    r
  }

  /** The driver side of a hybrid search: the query table `q`, the
    * broadcast probe table `qp(query_id, centroid_id, qlo, qhi, prn)` and
    * the distinct probed `cells` (ascending). */
  private case class Probed(q: DataFrame, qp: DataFrame, cells: Seq[Long])

  /** The ONE probe of the hybrid searches: per query, its `nprobe`
    * nearest cells by squared L2 ((dist, cid) tie rule — [[knnJoinIvf]]'s
    * probe convention, driver-side against the collected centroid
    * sidecar), each with its PROBE RANK `prn` (1-based, the same order)
    * and the query's sketch — of the raw vector, or with `residual` of
    * `v − centroid(cell)`, so both sides of every residual comparison are
    * offsets from the same centroid. A query whose length differs from
    * the centroids' fails loud here. ≤ Q·nprobe rows of 16 bytes of code
    * each. */
  private def probe(centroids: DataFrame, queries: DataFrame, vecCol: String,
      qIdCol: String, maxQueries: Int, nprobe: Int, residual: Boolean,
      caller: String): Probed = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = collectCentroids(centroids, caller)
    val qRows = collectHammingQueries(queries, vecCol, qIdCol, maxQueries)
    val rows = qRows.toSeq.flatMap { case (qid, v, _) =>
      val va = v.toArray
      cents.map { case (cid, cv) =>
          require(va.length == cv.length, s"$caller: query $qid has " +
            s"${va.length} dims but the centroids have ${cv.length}")
          var s = 0.0; var i = 0
          while (i < cv.length) { val dx = cv(i) - va(i); s += dx * dx; i += 1 }
          (cid, cv, s)
        }.sortBy { case (cid, _, dist) => (dist, cid) }.take(nprobe)
        .zipWithIndex
        .map { case ((cid, cv, _), rk) =>
          val (lo, hi) = superBitKernel((if (residual) residualOf(va, cv) else va).toSeq)
          (qid, cid, lo, hi, rk + 1)
        }
    }
    Probed(queryTable(spark, qRows),
      rows.toDF("query_id", "centroid_id", "qlo", "qhi", "prn"),
      rows.map(_._2).distinct.sorted)
  }

  /** Stage 1 of every hybrid search before its cut: ONE scan of the
    * probed cells' sketches (the isin prunes partitions at the scan),
    * the broadcast probe equi-join (it replaces the crossJoin of the
    * flat searches) and the Hamming distance — `prn` rides along so a
    * ladder can slice rungs. */
  private def probedScan(sigs: DataFrame, p: Probed,
                         excludeSelf: Boolean): DataFrame =
    dropSelf(sigs.where(col("centroid_id").isin(p.cells: _*))
        .select(col("id").as("neighbor_id"),
          col("centroid_id").cast("long").as("centroid_id"),
          col("slo"), col("shi"))
        .join(broadcast(p.qp), "centroid_id"), excludeSelf)
      .withColumn("hamming", sketchHamming)

  /** The stage-1 rank scope of the hybrids. RAW sketches share one
    * global sign basis, so their Hamming distances are comparable across
    * cells and the cut is per QUERY (k·oversample candidates total — the
    * FAISS global binary heap). RESIDUAL sketches measure angles of
    * offsets from EACH CELL'S OWN centroid — two cells' distances are
    * not on the same scale, and a global rank lets far cells' random
    * residual angles crowd out the near cell's true candidates (measured
    * at 55k: recall FALLS as nprobe grows under a global cut). So the
    * residual cut is per (query, probed cell) — k·oversample per
    * inverted list, the classic scan-each-list shape — and the exact
    * rerank (cosines, globally comparable) resolves the per-cell
    * winners. Candidate bound: nprobe·k·oversample per query, still a
    * broadcast-sized set. */
  private def cutKeys(residual: Boolean): Seq[String] =
    if (residual) Seq("query_id", "centroid_id") else Seq("query_id")

  /** Stage-1 candidates of the single-shot hybrids, shared by the
    * exact-rerank and the SQ-rerank variants so candidacy cannot
    * diverge. */
  private def hybridCandidates(sigs: DataFrame, p: Probed,
      excludeSelf: Boolean, limit: Int, residual: Boolean): DataFrame =
    withQueries(cutTop(probedScan(sigs, p, excludeSelf), cutKeys(residual),
        limit, byHamming: _*)
      .select(col("query_id"), col("neighbor_id"), col("hamming")), p.q)

  /**
   * One-scan build of the RESIDUAL binary-sketch signature table — the
   * FAISS binary-IVF refinement of [[hammingSigRows]]: per corpus
   * vector, the 128-plane densified sign sketch of its IVF RESIDUAL
   * `r = v − centroid(cell)` instead of the raw vector. Inside a cell
   * every member shares the centroid offset, so raw-vector sign bits
   * spend planes re-encoding the cell's common direction; sketching the
   * residual concentrates all 128 bits on exactly the variance the
   * coarse quantizer leaves — the within-cell ranking's entropy (the
   * same move the residual-PQ rung makes for codebooks,
   * [[ivfResiduals]]). Assignment is the house (dist, centroid_id)
   * argmin over the broadcast sidecar — bit-identical to
   * [[ivfIndexRows]]/[[ivfAssign]] — so the store's cells ARE the
   * index's. Schema `(id, slo, shi, centroid_id)`, cell-partitioned by
   * construction (a residual code is only comparable within its own
   * cell). Zero-norm raw vectors carry no angle and are excluded
   * exactly as [[hammingSigRows]] excludes them; residual components
   * pass through the same 6-dp µ-unit rounding ([[superBitProj]]), so
   * the codes replay exactly in any engine.
   */
  def hammingResidualSigRows(emb: DataFrame, idCol: String, vecCol: String,
                             centroids: DataFrame, dims: Int): DataFrame = {
    requireSketch(dims)
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = collectCentroids(centroids, "hammingResidualSigRows")
    val bc = spark.sparkContext.broadcast(cents)
    emb.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .where(col("v").isNotNull && size(col("v")) > 0)
      .as[(Long, Array[Double])]
      .flatMap { case (id, v) =>
        val nrm = math.sqrt(dotKernel(v, v))
        if (!(nrm > 0.0)) Iterator.empty // zero/NaN norm: no angle, no code
        else {
          val cs = bc.value
          var bestAt = 0
          var best = Double.PositiveInfinity
          var j = 0
          while (j < cs.length) {
            val cv = cs(j)._2
            var s = 0.0; var i = 0
            while (i < v.length) { val dx = v(i) - cv(i); s += dx * dx; i += 1 }
            // strict < over centroid_id-ascending order = min_by struct(dist, cid)
            if (s < best) { best = s; bestAt = j }
            j += 1
          }
          val (lo, hi) = superBitKernel(residualOf(v, cs(bestAt)._2).toSeq)
          Iterator.single((id, lo, hi, cs(bestAt)._1))
        }
      }.toDF("id", "slo", "shi", "centroid_id")
  }

  /**
   * IVF × RESIDUAL-sketch hybrid kNN — [[knnJoinHammingIvf]] with the
   * sketch entropy concentrated where the cells leave it: stage 1
   * compares the stored residual sketches ([[hammingResidualSigRows]])
   * against the QUERY'S residual sketch w.r.t. EACH probed cell (the
   * probe table carries one `(qlo, qhi)` per (query, probed cell) —
   * still ≤ Q·nprobe·16 bytes broadcast), so both sides of every
   * Hamming comparison are offsets from the same centroid — the FAISS
   * binary-IVF refinement. Probe convention, partition pruning, rerank
   * and the coverage guard are the raw hybrid's (shared body); the
   * stage-1 cut is PER PROBED CELL (k·oversample per inverted list, so
   * up to nprobe·k·oversample candidates reach the rerank) because
   * residual Hamming distances are only comparable within a cell — see
   * [[cutKeys]] for the measured failure of a global cut. Same ENFORCED
   * CALLER CONTRACT: `corpus` must cover the sig ids.
   */
  def knnJoinHammingIvfRes(sigs: DataFrame, corpus: DataFrame,
      centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qIdCol: String, k: Int, dims: Int, nprobe: Int,
      oversample: Int = 4, excludeSelf: Boolean = true,
      maxQueries: Int = 4096): DataFrame = {
    requireSketch(dims)
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val p = probe(centroids, queries, vecCol, qIdCol, maxQueries, nprobe,
      residual = true, "knnJoinHammingIvfRes")
    rerank(hammingBase(corpus, idCol, vecCol),
      hybridCandidates(sigs, p, excludeSelf, k * oversample, residual = true),
      k, "hamming", requireCoverage = true)
  }

  // ------------------------------------------------------------------
  // nprobe LADDERS: the recall-dial artifacts replay the same search at
  // nprobe 1/2/4/8 in one plan. A ladder probes ONCE at max(nprobes)
  // carrying the probe rank `prn`, scores stage 1 over the max-rung
  // cells, re-derives each rung's cut by `prn <= rung` (the rung's
  // candidate set is exactly the scored rows whose cell ranks within its
  // nprobe — same rows, same Hamming values), and reranks the UNION
  // against one corpus scan with every window keyed by (nprobe, query).
  // Each rung's slice is row-identical to the single-shot search at that
  // nprobe: the raw ladder re-ranks per rung because its per-QUERY cut
  // depends on which cells compete; the residual ladder ranks once
  // because its per-(query, CELL) cut is rung-independent. So the
  // residual ladder's one sig scan feeds every rung through a reused
  // exchange, while the raw ladder's executed plan reads the probed cells
  // once per rung (PlanSpec pins both counts).
  // ------------------------------------------------------------------

  private def ladder(sigs: DataFrame, corpus: DataFrame, centroids: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, qIdCol: String,
      k: Int, dims: Int, nprobes: Seq[Int], oversample: Int,
      excludeSelf: Boolean, maxQueries: Int, residual: Boolean,
      caller: String): DataFrame = {
    requireSketch(dims)
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1),
      s"nprobes must be nonempty with every rung >= 1, got $nprobes")
    val p = probe(centroids, queries, vecCol, qIdCol, maxQueries, nprobes.max,
      residual, caller)
    val scored = probedScan(sigs, p, excludeSelf)
    val limit = k * oversample
    val cut = if (residual) cutTop(scored, cutKeys(residual), limit, byHamming: _*)
              else scored
    val rungs = nprobes.map { np =>
      val slice = cut.where(col("prn") <= np)
      (if (residual) slice else cutTop(slice, cutKeys(residual), limit, byHamming: _*))
        .select(lit(np.toLong).as("nprobe"), col("query_id"),
          col("neighbor_id"), col("hamming"))
    }.reduce(_.unionByName(_))
    rerank(hammingBase(corpus, idCol, vecCol), withQueries(rungs, p.q), k,
      "hamming", requireCoverage = true, keys = Seq("nprobe", "query_id"))
  }

  /** [[knnJoinHammingIvf]] replayed at every rung of `nprobes` in ONE
    * plan — output `(nprobe, query_id, neighbor_id, rank, hamming,
    * cosine)`, each rung's slice row-identical to the single-shot
    * search at that nprobe. The per-QUERY stage-1 cut is re-ranked per
    * rung (which cells compete depends on the rung), so each rung reads
    * the probed cells' sketches again; the probe collect and the rerank
    * corpus scan are paid once. */
  def knnJoinHammingIvfLadder(sigs: DataFrame, corpus: DataFrame,
      centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qIdCol: String, k: Int, dims: Int, nprobes: Seq[Int],
      oversample: Int = 4, excludeSelf: Boolean = true,
      maxQueries: Int = 4096): DataFrame =
    ladder(sigs, corpus, centroids, queries, idCol, vecCol, qIdCol, k, dims,
      nprobes, oversample, excludeSelf, maxQueries, residual = false,
      "knnJoinHammingIvfLadder")

  /** [[knnJoinHammingIvfRes]] replayed at every rung of `nprobes` in ONE
    * plan. The residual stage-1 cut is per (query, probed CELL) — a
    * cell's candidate ranking does not depend on which other cells are
    * probed — so the ladder ranks ONCE at max nprobe and each rung is a
    * pure `prn <= rung` slice of the cut candidates. */
  def knnJoinHammingIvfResLadder(sigs: DataFrame, corpus: DataFrame,
      centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qIdCol: String, k: Int, dims: Int, nprobes: Seq[Int],
      oversample: Int = 4, excludeSelf: Boolean = true,
      maxQueries: Int = 4096): DataFrame =
    ladder(sigs, corpus, centroids, queries, idCol, vecCol, qIdCol, k, dims,
      nprobes, oversample, excludeSelf, maxQueries, residual = true,
      "knnJoinHammingIvfResLadder")

  /**
   * The FULLY-COMPOSED all-stored search — every pruning axis of the
   * ring in ONE plan, with NO raw corpus vector read anywhere (the
   * FAISS IVF + binary refinement + SQ-rerank shape): the coarse
   * quantizer prunes WHICH rows stage 1 reads (probed-cell
   * `PartitionFilters` over the cell-partitioned RESIDUAL sketch store,
   * [[hammingResidualSigRows]]), the residual sketch prunes WHAT stage
   * 1 reads per row (16 bytes, entropy concentrated on the within-cell
   * variance), and the rerank joins the surviving ≤ nprobe·k·oversample
   * candidates into the stored int8 code table and ranks by the
   * QUANTIZED cosine — 72 B/candidate, `scale` pruned (it cancels, see
   * [[knnJoinHammingSqFromSigs]]). `codes` is the CELL-PARTITIONED
   * code table (`(id, scale, q, centroid_id)`, [[q8CodeRows]] laid out
   * by the index's assignment): every stage-1 candidate lives in a
   * probed cell, so the rerank scan is restricted to the probed cells'
   * partitions — WITHOUT this the rerank side would scan the ENTIRE
   * code store per search batch (~1.5 TB at a 100 TB corpus) while
   * stage 1 reads nprobe/C of its store; with it, BOTH scans carry
   * probed-cell `PartitionFilters` and total I/O is
   * `nprobe/C · corpus × (16 B + 88 B)`. Stage-1 candidacy is
   * bit-equal to [[knnJoinHammingIvfRes]] (shared body, per-cell cut —
   * residual distances are only comparable within a cell); the rank is
   * the quantized ranking by definition, with agreement vs the
   * exact-rerank twin as the fidelity dial. Same ENFORCED CALLER
   * CONTRACT, guarded in-plan: `codes` must cover every sig id — the
   * two stores share the exclusion rule AND the assignment, so
   * coverage holds cell-by-cell by construction, and the probed-cell
   * restriction cannot drop a candidate's code row. The centroid
   * sidecar and the query table are bounded driver pulls — the plan
   * survives a 1000-executor scale-up with nothing but the broadcast
   * probe table on the wire.
   */
  def knnJoinHammingIvfResSq(codes: DataFrame, sigs: DataFrame,
      centroids: DataFrame, queries: DataFrame, vecCol: String,
      qIdCol: String, k: Int, dims: Int, nprobe: Int,
      oversample: Int = 4, excludeSelf: Boolean = true,
      maxQueries: Int = 4096): DataFrame = {
    requireSketch(dims)
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(codes.columns.contains("centroid_id"),
      "knnJoinHammingIvfResSq needs the CELL-PARTITIONED code table " +
        "(id, scale, q, centroid_id) — a flat q8 store would be scanned " +
        "in full at the rerank; use knnJoinHammingSqFromSigs for flat codes")
    val p = probe(centroids, queries, vecCol, qIdCol, maxQueries, nprobe,
      residual = true, "knnJoinHammingIvfResSq")
    rerank(codes.where(col("centroid_id").isin(p.cells: _*))
        .select(col("id").as("neighbor_id"), col("q")),
      hybridCandidates(sigs, p, excludeSelf, k * oversample, residual = true),
      k, "hamming", requireCoverage = true, cosine = q8Cosine)
  }

  /**
   * Brute-force top-k over int8-QUANTIZED vectors — the ranking an ANN
   * index that stores [[quantizeInt8]] codes (4× memory shrink) actually
   * produces: each vector is quantized, dequantized (`round(x/s·127)·s/127`)
   * and ranked by cosine against the full-precision query. One typed JIT
   * kernel per row (quantize + dequantized dot + norm fused in one loop —
   * the expression form would run four interpreted lambda folds per row);
   * plan is scan → TakeOrderedAndProject, no shuffle. Same HALF_UP rounding
   * and sequential IEEE order as the SQL oracle. A zero/degenerate vector
   * (norm 0) yields a null cosine and ranks last.
   */
  def topKQuantized(emb: DataFrame, idCol: String, vecCol: String,
                    queryVec: Seq[Double], k: Int,
                    excludeId: Option[Long] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qArr = queryVec.toArray
    val qn = math.sqrt(queryVec.map(x => x * x).sum)
    val scored = emb
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        var scale = 0.0
        var i = 0
        while (i < v.length) { val a = math.abs(v(i)); if (a > scale) scale = a; i += 1 }
        var dot = 0.0; var nn = 0.0
        if (scale != 0.0) {
          i = 0
          while (i < v.length) {
            val qd = roundHalfUp(v(i) / scale * 127.0, 0) * scale / 127.0
            dot += qd * qArr(i); nn += qd * qd; i += 1
          }
        }
        (id, if (nn == 0.0) Option.empty[Double]
             else Some(roundHalfUp(dot / (math.sqrt(nn) * qn), 6)))
      }
      .toDF("id", "cosine")
    val e1 = excludeId.map(x => scored.where(col("id") =!= x)).getOrElse(scored)
    e1.orderBy(col("cosine").desc, col("id")).limit(k)
  }

  /**
   * Batch kNN join: every query vector gets its cosine top-k corpus
   * neighbors in ONE corpus scan. The query side is a bounded control-plane
   * pull (`require` ≤ maxQueries) broadcast to every partition; each
   * partition keeps one k-bounded heap per query (Q×k tuples of memory), so
   * the corpus — the 100 TB side — is never shuffled: the only exchange
   * carries the ≤ partitions×Q×k partial winners into a per-query
   * row_number that cuts the final k. A per-query driver loop of [[topK]]
   * would launch Q jobs and scan the corpus Q times; a crossJoin + global
   * window would shuffle n×Q scored rows. Scores use the same sequential
   * IEEE dot, HALF_UP 6-dp rounding, and (cosine desc, id asc) tie rule as
   * [[topK]] (property-tested equal per query in LlmSpec). Corpus vectors
   * that are null/empty/zero-norm have no cosine and are skipped.
   */
  /** Worst element at the heap top: lower cosine, then LARGER id (the tie
    * rule prefers smaller ids, so the larger id is evicted first) — shared
    * by [[knnJoin]] and [[knnJoinIvf]] so their rankings cannot diverge. */
  /** Per-partition cap on [[knnJoinPq]]'s lazily built query LUT cache
    * (LRU): the probed query table is a broadcast, so one partition can
    * meet the whole query set; ~2·m·ksub longs per entry keeps the cap at
    * a few MB. Eviction only costs a rebuild if the query re-appears in
    * the same partition (candidates arrive join-clustered, so in practice
    * a query's candidates are adjacent). */
  val LutCacheCap = 1024

  private val worstFirst: Ordering[(Double, Long)] = (a, b) => {
    val c = java.lang.Double.compare(b._1, a._1)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }

  def knnJoin(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, qIdCol: String, k: Int,
              excludeSelf: Boolean = true, maxQueries: Int = 4096): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries
      .select(col(qIdCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .as[(Long, Array[Double])].collect()
      .map { case (qid, v) =>
        // fail loud: a null/zero query would NPE in the kernel or rank by
        // NaN silently (Double.compare sorts NaN above every real cosine)
        require(v != null && v.nonEmpty, s"kNN query $qid has a null/empty vector")
        val qn = math.sqrt(dotKernel(v, v))
        require(qn > 0.0 && !qn.isInfinite, // NaN fails the > (non-finite components land here)
          s"kNN query $qid has zero/non-finite norm — cosine undefined")
        (qid, v, qn)
      }
    require(q.length <= maxQueries,
      s"query side has ${q.length} vectors; broadcast kNN is bounded at $maxQueries")
    val qB = spark.sparkContext.broadcast(q)
    val kk = k
    val self = excludeSelf
    val partial = vecRows(corpus.where(col(vecCol).isNotNull && size(col(vecCol)) > 0),
        idCol, vecCol)
      .mapPartitions { it =>
        val qs = qB.value
        val heaps = Array.fill(qs.length)(
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst))
        it.foreach { row =>
          if (row.norm > 0.0) {
            var j = 0
            while (j < qs.length) {
              val (qid, qv, qn) = qs(j)
              if (!(self && qid == row.id)) {
                val cand = (roundHalfUp(dotKernel(row.v, qv) / (row.norm * qn), 6), row.id)
                val h = heaps(j)
                if (h.size < kk) h.enqueue(cand)
                else if (worstFirst.compare(cand, h.head) < 0) { h.dequeue(); h.enqueue(cand) }
              }
              j += 1
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, j) =>
          h.iterator.map { case (c, id) => (qs(j)._1, id, c) }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    partial.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= kk)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /**
   * kNN majority-vote classifier over a labeled corpus — the standard
   * embedding-space label-propagation shape for bootstrapping quality /
   * domain classifiers from a small labeled seed set: each query takes
   * its `k` nearest labeled neighbors ([[knnJoin]] — one corpus scan,
   * broadcast query side) and the label with the most votes wins.
   * Tie-breaks are integer-only (no float comparisons to drift across
   * engines): more votes → nearest best-ranked neighbor → smaller label.
   *
   * Output `(query_id, pred_label, votes, best_rank)`. The label join
   * broadcasts the Q×k neighbor set into the labeled corpus's
   * (id, label) scan, so the corpus is never shuffled; the vote
   * aggregation and the per-query winner window both run on Q×k rows.
   * At 100 TB swap [[knnJoin]] for [[knnJoinIvf]]/[[knnJoinDistributed]]
   * via the same neighbor contract ([[knnClassifyFrom]]).
   */
  def knnClassify(labeled: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, qIdCol: String,
                  k: Int): DataFrame =
    knnClassifyFrom(knnJoin(labeled, queries, idCol, vecCol, qIdCol, k),
      labeled, idCol, labelCol)

  /** Vote + winner election over any `(query_id, neighbor_id, rank, …)`
    * neighbor table — the classifier's second half, reusable over every
    * kNN-join variant's output.
    *
    * The label column must cast cleanly to long on every labeled row:
    * a null or uncastable label (e.g. a free-text string) fails LOUD via
    * `raise_error` at scan time rather than silently becoming NULL —
    * NULL labels would collapse all votes into one group and elect
    * `pred_label = NULL` (NULL sorts first in the ascending label
    * tie-break), the classic silent-cast corruption. Same fail-loud
    * contract as [[knnJoin]]'s bad-query-vector check. */
  def knnClassifyFrom(neighbors: DataFrame, labeled: DataFrame,
                      idCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val castLbl = col(labelCol).cast("long")
    val lbl = labeled.select(col(idCol).cast("long").as("neighbor_id"),
      when(castLbl.isNull,
        raise_error(concat(
          lit(s"knnClassifyFrom: label column '$labelCol' has a null or " +
            "non-numeric value (got '"),
          coalesce(col(labelCol).cast("string"), lit("NULL")), lit("'))"))))
        .otherwise(castLbl).as("label"))
    val votes = lbl
      .join(broadcast(neighbors.select(col("query_id"), col("neighbor_id"),
        col("rank"))), Seq("neighbor_id"))
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("votes"),
        min(col("rank")).cast("long").as("best_rank"))
    votes
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("best_rank"), col("label"))))
      .where(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"),
        col("votes"), col("best_rank"))
  }

  /**
   * IVF-probed batch kNN join over a STORED index
   * (`graft.queries.Materialized.ivfIndex`): each query probes its
   * `nprobe` nearest cells (driver-side against the tiny centroid
   * sidecar, same (dist, centroid_id) rule as [[ivfSearch]]), the scan
   * reads ONLY the union of all queries' probed cells — `centroid_id` is
   * a storage partition key, so the filter prunes at the file level — and
   * each partition keeps one k-bounded heap per query, consulting only
   * the queries that probed the row's cell (cell → query-index map, so
   * per-row work is O(queries probing this cell), not O(Q)).
   *
   * This is the large-Q retrieval shape [[knnJoin]]'s 4,096-query bound
   * points at: per-query cost is O(probed cells) instead of O(corpus),
   * total scan volume is the probed-cell union (≤ nprobe/k of the corpus
   * when queries cluster), and Q is bounded by broadcast memory alone
   * (`maxQueries` default 65,536 ≈ 32 MB of query vectors at 64 dims)
   * rather than by per-partition heap arithmetic. Approximate in the
   * standard IVF sense: a true neighbor living in an unprobed cell is
   * missed; at `nprobe` = #cells the result equals [[knnJoin]] exactly
   * (property-tested in LlmSpec), and recall rises monotonically with
   * `nprobe` because probed sets are nested.
   */
  def knnJoinIvf(index: DataFrame, centroids: DataFrame, queries: DataFrame,
                 qIdCol: String, vecCol: String, k: Int, nprobe: Int,
                 excludeSelf: Boolean = true,
                 maxQueries: Int = 65536): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val cents = centroids
      .select(col("centroid_id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(cents.nonEmpty, "knnJoinIvf: empty centroid table")
    val q = queries
      .select(col(qIdCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .as[(Long, Array[Double])].collect()
      .map { case (qid, v) =>
        require(v != null && v.nonEmpty, s"kNN query $qid has a null/empty vector")
        val qn = math.sqrt(dotKernel(v, v))
        require(qn > 0.0 && !qn.isInfinite, // NaN fails the > (non-finite components land here)
          s"kNN query $qid has zero/non-finite norm — cosine undefined")
        val probed = cents.map { case (cid, cv) =>
            var s = 0.0; var i = 0
            while (i < cv.length) { val dx = cv(i) - v(i); s += dx * dx; i += 1 }
            (cid, s)
          }.sortBy { case (cid, dist) => (dist, cid) }.take(nprobe).map(_._1)
        (qid, v, qn, probed)
      }
    require(q.length <= maxQueries,
      s"query side has ${q.length} vectors; broadcast kNN is bounded at $maxQueries")
    val cellToQ: Map[Long, Array[Int]] = q.zipWithIndex
      .flatMap { case ((_, _, _, probed), j) => probed.map(_ -> j) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val allCells = cellToQ.keys.toSeq.sorted
    val qB = spark.sparkContext.broadcast(q.map { case (qid, v, qn, _) => (qid, v, qn) })
    val cellQB = spark.sparkContext.broadcast(cellToQ)
    val kk = k
    val self = excludeSelf
    val partial = index
      .where(col("centroid_id").isin(allCells: _*))
      .select(col("id").cast("long"), col("centroid_id").cast("long"),
        col("norm"), col("v"))
      .as[(Long, Long, Double, Array[Double])]
      .mapPartitions { it =>
        val qs = qB.value
        val cq = cellQB.value
        val heaps = Array.fill(qs.length)(
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst))
        it.foreach { case (id, cell, norm, v) =>
          if (norm > 0.0) {
            val js = cq.getOrElse(cell, Array.emptyIntArray)
            var x = 0
            while (x < js.length) {
              val j = js(x)
              val (qid, qv, qn) = qs(j)
              if (!(self && qid == id)) {
                val cand = (roundHalfUp(dotKernel(v, qv) / (norm * qn), 6), id)
                val h = heaps(j)
                if (h.size < kk) h.enqueue(cand)
                else if (worstFirst.compare(cand, h.head) < 0) { h.dequeue(); h.enqueue(cand) }
              }
              x += 1
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, j) =>
          h.iterator.map { case (c, id) => (qs(j)._1, id, c) }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    partial.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= kk)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /**
   * Fully DISTRIBUTED IVF-probed kNN join: both the stored index AND the
   * query set stay DataFrames end-to-end — no driver-side collect, no
   * broadcast of query vectors, so Q scales to a full table. This is the
   * day-N retrieval shape ("for every new document, its k nearest stored
   * neighbors") that [[knnJoin]]'s hard 4,096 bound and [[knnJoinIvf]]'s
   * broadcast-memory bound both point at.
   *
   * Plan shape (declarative — every stage is the optimizer's own bound,
   * not a hand-rolled heap):
   *  1. probe: queries × broadcast(centroids) (k rows, the only broadcast)
   *     → per-query `nprobe` nearest cells by codegen'd subtraction-form
   *     L2 ([[graft.functions.VectorExpressions.L2Sq]]; same (dist, cell)
   *     tie rule as [[ivfSearch]]). `row_number ≤ nprobe` rewrites to
   *     WindowGroupLimit, pruning before the exchange.
   *  2. candidates: probe ⋈ index on `centroid_id`. With a small query
   *     side Catalyst broadcasts it and dynamic partition pruning reaches
   *     the cell-partitioned scan; at huge Q it becomes a co-partitioned
   *     shuffle join, and AQE's skew split handles hot cells.
   *  3. rank: codegen'd dot/norm cosine, then `row_number ≤ k` per query —
   *     WindowGroupLimit again caps each input partition's contribution at
   *     k rows per query before the final exchange (the same
   *     partial-winner bound [[knnJoinIvf]] enforces with heaps).
   *
   * Degenerate queries (null/zero/non-finite norm) fail the JOB loudly via
   * a codegen'd `raise_error` — the distributed counterpart of the
   * driver-side requires in [[knnJoin]]/[[knnJoinIvf]]; a silent drop
   * would break the every-query-gets-a-verdict contract. Rows with
   * degenerate STORED vectors are skipped, matching [[knnJoinIvf]].
   * Output and semantics are identical to [[knnJoinIvf]] at the same
   * (k, nprobe) — property-tested in LlmSpec.
   */
  def knnJoinDistributed(index: DataFrame, centroids: DataFrame,
                         queries: DataFrame, qIdCol: String, vecCol: String,
                         k: Int, nprobe: Int,
                         excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qn0 = sqrt(dot(col("qv"), col("qv")))
    val q = queries
      .select(col(qIdCol).cast("long").as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", when(
        qn0.isNull || isnan(qn0) || qn0 <= 0.0 || qn0 === Double.PositiveInfinity,
        raise_error(concat(lit("kNN query "), col("query_id").cast("string"),
          lit(" has a null/zero/non-finite vector — cosine undefined"))))
        .otherwise(qn0))
    val cents = broadcast(centroids
      .select(col("centroid_id").cast("long").as("cell"), col("vec")))
    val probeW = Window.partitionBy("query_id").orderBy(col("cdist"), col("cell"))
    val probe = q.crossJoin(cents)
      .withColumn("cdist",
        graft.functions.VectorExpressions.graft_l2sq(col("qv"), col("vec")))
      .withColumn("prn", row_number().over(probeW))
      .where(col("prn") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    val cand = index
      .select(col("id").cast("long").as("neighbor_id"),
        col("centroid_id").cast("long").as("cell"), col("norm"), col("v"))
      .where(col("norm") > 0.0)
      .join(probe, Seq("cell"))
    val cand1 =
      if (excludeSelf) cand.where(col("neighbor_id") =!= col("query_id")) else cand
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand1
      .withColumn("cosine",
        round(dot(col("v"), col("qv")) / (col("norm") * col("qn")), 6))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /**
   * Corpus-wide kNN GRAPH over the stored IVF index — [[knnJoinDistributed]]
   * with the index as its own query side: every stored vector gets its
   * approximate k nearest neighbors from the `nprobe` cells nearest to it
   * (its own cell first), the blocked construction behind NN-descent-style
   * graph dedup, graph-based diversity selection, and SemDeDup-adjacent
   * clustering. No broadcast of the query side (it IS the corpus);
   * candidate mass is Σ_cells n_cell·(probed-cell occupancy) — the same
   * cell-share dial `splitIvfCells` enforces bounds the per-cell quadratic,
   * and both legs of the candidate join co-partition on `centroid_id`.
   *
   * Output adds `mutual`: true iff the reverse edge also made its
   * endpoint's top-k — the symmetric-edge signal mutual-kNN dedup and
   * diversity filters consume. The flag is derived in ONE pass over the
   * edge table: both directions of a pair canonicalize to the same
   * `(lo, hi)` group key, so a single n·k-row hash aggregation (16-byte
   * keys, vectors long since dropped) marks groups of size 2 — no
   * reverse-side self-join, which would re-evaluate the whole kNN join a
   * second time. Zero-norm stored vectors are skipped on the CANDIDATE
   * side (cosine undefined, [[knnJoinIvf]]'s rule) but would fail the
   * query side loudly — a graph over a corpus with degenerate vectors is
   * a data bug upstream, not a row to drop silently.
   */
  def knnGraph(index: DataFrame, centroids: DataFrame, k: Int,
               nprobe: Int = 1): DataFrame = {
    val edges = knnJoinDistributed(index, centroids,
      index.select(col("id"), col("v")), "id", "v", k, nprobe,
      excludeSelf = true)
    edges
      .select(least(col("query_id"), col("neighbor_id")).as("lo"),
        greatest(col("query_id"), col("neighbor_id")).as("hi"),
        struct(col("query_id"), col("neighbor_id"), col("rank"), col("cosine")).as("s"))
      .groupBy("lo", "hi").agg(collect_list(col("s")).as("ss"))
      .select(explode(col("ss")).as("s"), (size(col("ss")) === 2).as("mutual"))
      .select(col("s.query_id"), col("s.neighbor_id"), col("s.rank"),
        col("s.cosine"), col("mutual"))
  }

  /**
   * Code-to-code SYMMETRIC-distance kNN graph over the residual-PQ code
   * table — FAISS's SDC regime applied to graph construction: BOTH sides
   * of every comparison are m-byte codes, so building the graph reads the
   * code table alone (at the measured 1M geometry, 12.8 MB of codes vs
   * 630 MB of raw vectors — the 49× scan cut now applies to the
   * quadratic, not just to retrieval). Candidates are cell-local (the
   * [[knnGraph]] construction at nprobe=1); scoring decomposes the
   * reconstruction cosine over same-cell residual codes
   *
   *   v̂ = c + r̂,   v̂_a·v̂_b = ‖c‖² + c·r̂_a + c·r̂_b + r̂_a·r̂_b
   *
   * into four families of PRECOMPUTED 6-dp terms — ‖c‖² per cell, c·cv
   * per (cell, subspace, code), cv_a·cv_b per (subspace, code, code), and
   * ‖cv‖² per (subspace, code) — k·(1+m·ksub) + m·ksub² scaled longs,
   * broadcast. Per pair the kernel does m integer lookups and exact long
   * sums, so the score is order-independent and the DuckDB oracle replays
   * it bit-for-bit as DECIMAL sums (the ADC/recon convention). Each cell's
   * member list is materialized in its group task (bounded by the
   * cell-share dial); per-query top-k is selected in-kernel — the group
   * holds the COMPLETE candidate set, so no window pass is needed. Rows
   * whose codes reconstruct to zero norm are skipped on both sides
   * (cosine undefined, the [[pqSearchAdc]] convention); a code id missing
   * from the codebook fails loudly (stale store). `mutual` is the
   * [[knnGraph]] canonical-pair aggregation.
   */
  /**
   * Cell-balanced diversity sampling over the stored IVF index — the
   * embedding-space counterpart of α-tempered source mixing: an `n`-row
   * budget is apportioned to cells by `share_c = n_c^α / Σ n_d^α`
   * (α=1 keeps natural cluster proportions, α→0 flattens toward uniform —
   * the cluster-balanced subset selection that keeps rare modes
   * represented), quotas fixed by integer largest-remainder over
   * 6-dp-scaled shares (ties to the smaller cell id), and each cell admits
   * its quota in PROTOTYPICALITY order — ascending build-time distance to
   * the centroid (the stored 6-dp `dist`), ties to the smaller id. All
   * arithmetic after one `pow` round is integer, so both engines allocate
   * identical quotas; admission is one window per cell partition. A quota
   * can exceed a small cell's population (α-flattening's point); the op
   * emits what exists and reports `quota` so callers see the deficit.
   */
  def cellBalancedSample(index: DataFrame, alpha: Double, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0, 1], got $alpha")
    require(n > 0, s"budget must be positive, got $n")
    val spark = index.sparkSession
    import spark.implicits._
    val counts = index.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_c"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val z = counts.map { case (_, c) => math.pow(c.toDouble, alpha) }.sum
    val fr6 = counts.map { case (cid, c) =>
      (cid, c, math.round(math.pow(c.toDouble, alpha) / z * n * 1e6)) }
    val extra = n.toLong - fr6.map(_._3 / 1000000L).sum
    // deficit impossible below 2·10⁶ cells (each fr6 overshoots < 0.5
    // micro-seats — the temperatureMix argument); fail loud, never
    // silently over-emit the budget
    require(extra >= 0L,
      s"largest-remainder deficit (extra = $extra) — cell alphabet too " +
        "large for exact 6-dp apportionment")
    val seats = fr6.map { case (cid, _, f) => (cid, f % 1000000L) }
      .sortBy { case (cid, frac) => (-frac, cid) }
      .take(extra.toInt).map(_._1).toSet
    val quotas = fr6.map { case (cid, _, f) =>
      (cid, f / 1000000L + (if (seats.contains(cid)) 1L else 0L)) }
      .toSeq.toDF("centroid_id", "quota")
    val w = Window.partitionBy("centroid_id").orderBy(col("dist"), col("id"))
    index.select(col("id"), col("centroid_id"), col("dist"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .join(broadcast(quotas), Seq("centroid_id"))
      .where(col("pos") <= col("quota"))
      .select(col("id"), col("centroid_id").as("cell"), col("pos"), col("quota"))
  }

  /** DENSE SDC term tables ([[knnGraphSdc]]'s decomposition), collected
    * driver-side and scaled to 6-dp longs. Code ids may be non-dense
    * (per-subspace k-means can drop empty codes), so each subspace carries
    * a code→dense-slot map applied ONCE per member; the per-PAIR hot path
    * is then pure flat-array arithmetic — the first 55k measurement of the
    * boxed-tuple-map version spent 7× the float graph's wall on per-lookup
    * tuple allocation. k·(1+m·ksub) + m·ksub² longs — tiny by PQ's
    * construction, broadcast by every SDC consumer. */
  private[llm] final case class SdcTables(
      m: Int,
      codeIdx: Array[Map[Long, Int]],      // per sub: code id → dense slot
      nn: Array[Array[Long]],              // per sub, dense: ‖cv‖²·10⁶
      sd: Array[Array[Long]],              // per sub, a·ksub+b: cv_a·cv_b·10⁶
      ksub: Array[Int],
      cn: Map[Long, Long],                 // per cell: ‖c‖²·10⁶
      cd: Map[Long, Array[Array[Long]]]) { // per cell, sub, dense: c·cv·10⁶
    /** Dense slots for a member's codes — m map lookups, once per row. */
    def dense(codes: Array[Long], ctx: => String): Array[Int] =
      Array.tabulate(m) { s =>
        codeIdx(s).getOrElse(codes(s), throw new IllegalStateException(
          s"$ctx: code ${codes(s)} of subspace $s missing from the codebook — stale store"))
      }
  }

  /** `rotation`: when the codebooks/codes quantize OPQ-ROTATED residuals
    * (`R·(v − c)`, [[opqRotateKernel]]), pass the sign diagonal so the
    * centroid-cross term pairs the codes with the ROTATED centroid:
    * `c·Rᵀr̂ = (R·c)·r̂` — the same identity [[pqSearchAdc]]'s rotated
    * LUT uses. `‖c‖²` stays in the original space (R is orthonormal; the
    * oracle replays it on the unrotated centroid), and the code-code
    * table needs no change (both sides already live in rotated space). */
  private[llm] def sdcTermTables(codebooks: DataFrame, centroids: DataFrame,
                                 rotation: Option[Array[Double]] = None): SdcTables = {
    def s6(x: Double): Long = math.round(roundHalfUp(x, 6) * 1e6)
    val rows = codebooks
      .select(col("subspace").cast("int"), col("code_id").cast("long"), col("cv"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "sdcTermTables: empty codebook table")
    val m = rows.map(_._1).max + 1
    val sub = rows.head._3.length
    val bySub: Array[Array[(Long, Array[Double])]] = Array.tabulate(m) { s =>
      rows.filter(_._1 == s).map(r => (r._2, r._3)).sortBy(_._1)
    }
    val codeIdx = bySub.map(_.iterator.map(_._1).zipWithIndex.toMap)
    val ksub = bySub.map(_.length)
    val nn = bySub.map(_.map { case (_, cv) => s6(dotKernel(cv, cv)) })
    val sd = bySub.map { arr =>
      val k = arr.length
      val out = new Array[Long](k * k)
      var a = 0
      while (a < k) {
        var b = 0
        while (b < k) { out(a * k + b) = s6(dotKernel(arr(a)._2, arr(b)._2)); b += 1 }
        a += 1
      }
      out
    }
    val cents = centroids
      .select(col("centroid_id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val cn = cents.map { case (cid, c) => cid -> s6(dotKernel(c, c)) }
    val cd = cents.map { case (cid, c) =>
      val cRot = rotation.map(opqRotateKernel(c, _)).getOrElse(c)
      cid -> Array.tabulate(m) { s =>
        bySub(s).map { case (_, cv) =>
          var acc = 0.0; var i = 0
          while (i < cv.length) { acc += cRot(s * sub + i) * cv(i); i += 1 }
          s6(acc)
        }
      }
    }
    SdcTables(m, codeIdx, nn, sd, ksub, cn, cd)
  }

  /** `rotation`: see [[sdcTermTables]] — pass the OPQ sign diagonal when
    * `codes`/`codebooks` are the rotated-residual artifacts; everything
    * downstream of the term tables is unchanged (the distributed kernel
    * never sees vectors, only codes and 6-dp long terms). */
  def knnGraphSdc(codes: DataFrame, codebooks: DataFrame, centroids: DataFrame,
                  k: Int, rotation: Option[Array[Double]] = None): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(sdcTermTables(codebooks, centroids, rotation))
    val edges = codes
      .select(col("id").cast("long"), col("centroid_id").cast("long"), col("codes"))
      .as[(Long, Long, Seq[Long])]
      .groupByKey(_._2)
      .flatMapGroups { (cell, it) =>
        val t = bc.value
        val cn = t.cn.getOrElse(cell,
          throw new IllegalStateException(s"knnGraphSdc: unknown cell $cell"))
        val cd = t.cd(cell)
        // per member: (id, dense codes, sa = Σ c·cv, na = ‖v̂‖² scaled)
        val members = it.map { case (id, _, cs) =>
          require(cs.length == t.m,
            s"knnGraphSdc: row $id carries ${cs.length} codes, codebook has ${t.m} subspaces")
          val dc = t.dense(cs.toArray, "knnGraphSdc")
          var sa = 0L; var snn = 0L; var s = 0
          while (s < t.m) { sa += cd(s)(dc(s)); snn += t.nn(s)(dc(s)); s += 1 }
          (id, dc, sa, cn + 2 * sa + snn)
        }.filter(_._4 > 0L).toArray.sortBy(_._1)
        members.iterator.flatMap { case (qid, qc, qsa, qna) =>
          // exact in-group top-k: the group IS the complete candidate set.
          // Primitive-array insertion (best-first by (cos desc, id asc)) —
          // a boxed heap costs one tuple allocation per CANDIDATE, which
          // dominated the first 55k measurement of this kernel
          val csArr = new Array[Double](k)
          val idArr = new Array[Long](k)
          var size = 0
          // hoist sqrt(qna) only — the full expression SHAPE (dot / (sq·sn))
          // must stay identical to the oracle's, ulp for ulp
          val sq = math.sqrt(qna / 1e6)
          var mi = 0
          while (mi < members.length) {
            val (nid, ncodes, nsa, nna) = members(mi)
            if (nid != qid) {
              var sab = 0L; var s = 0
              while (s < t.m) { sab += t.sd(s)(qc(s) * t.ksub(s) + ncodes(s)); s += 1 }
              val cos0 = ((cn + qsa + nsa + sab) / 1e6) / (sq * math.sqrt(nna / 1e6))
              // BigDecimal rounding (Spark round() parity) costs an
              // allocation per call — skip it when even the round-UP bound
              // (|round₆(x) − x| ≤ 5e-7) cannot reach the current worst
              if (size == k && cos0 + 5e-7 < csArr(k - 1)) { /* cannot enter */ }
              else {
              val cos = roundHalfUp(cos0, 6)
              val reject = size == k &&
                (cos < csArr(k - 1) || (cos == csArr(k - 1) && nid > idArr(k - 1)))
              if (!reject) {
                var p = size
                while (p > 0 && (cos > csArr(p - 1) ||
                  (cos == csArr(p - 1) && nid < idArr(p - 1)))) p -= 1
                if (p < k) {
                  var q = math.min(size, k - 1)
                  while (q > p) { csArr(q) = csArr(q - 1); idArr(q) = idArr(q - 1); q -= 1 }
                  csArr(p) = cos; idArr(p) = nid
                  if (size < k) size += 1
                }
              }
              }
            }
            mi += 1
          }
          (0 until size).iterator.map(i => (qid, idArr(i), (i + 1).toLong, csArr(i)))
        }
      }
      .toDF("query_id", "neighbor_id", "rank", "sdc_cosine")
    edges
      .select(least(col("query_id"), col("neighbor_id")).as("lo"),
        greatest(col("query_id"), col("neighbor_id")).as("hi"),
        struct(col("query_id"), col("neighbor_id"), col("rank"), col("sdc_cosine")).as("s"))
      .groupBy("lo", "hi").agg(collect_list(col("s")).as("ss"))
      .select(explode(col("ss")).as("s"), (size(col("ss")) === 2).as("mutual"))
      .select(col("s.query_id"), col("s.neighbor_id"), col("s.rank"),
        col("s.sdc_cosine"), col("mutual"))
  }

  /**
   * Fully distributed batch kNN join over the PQ-coded index — the
   * IVF-PQ retrieval shape at table-vs-table scale: both the stored code
   * table and the query set stay DataFrames end-to-end with no driver
   * collect. The query-side bound is broadcast memory: the probed
   * (query, cell) table is broadcast to the code-table scan, so Q scales
   * to what an executor can hold (tens of MB of query vectors), not to
   * [[knnJoin]]'s hard 4,096 — per-executor LUT memory stays flat
   * regardless via the kernel's LRU cache ([[LutCacheCap]]). Probe
   * assignment is the [[knnJoinDistributed]] pattern (queries ×
   * broadcast centroid sidecar, WindowGroupLimit caps nprobe cells per
   * query); candidates come from ONE equi-join of the code table
   * against the probed (query, cell) pairs, shipping only
   * `(neighbor_id, cell, codes)` plus the 8-byte query norm — the full-
   * precision vectors never move. Scoring is the fused per-partition
   * LUT kernel (order-independent scaled-long sums, oracle-replayable);
   * the top-k is WindowGroupLimit-bounded. `residual = true` scores
   * codes that quantize `v − centroid(cell)` ([[ivfResiduals]]), adding
   * the per-cell centroid terms to the reconstruction. Candidates whose
   * codes reconstruct to zero norm are dropped (cosine undefined — the
   * [[pqSearchAdc]] convention). Queries with null/zero/non-finite
   * vectors fail loudly, same contract as [[knnJoinDistributed]]; a
   * code id missing from the codebook fails loudly too (stale store).
   */
  def knnJoinPq(codes: DataFrame, codebooks: DataFrame, centroids: DataFrame,
                queries: DataFrame, qIdCol: String, vecCol: String,
                k: Int, nprobe: Int, excludeSelf: Boolean = true,
                residual: Boolean = false,
                rotation: Option[Array[Double]] = None): DataFrame = {
    require(rotation.isEmpty || residual,
      "knnJoinPq: the OPQ-lite rotation applies to residual codes only")
    import org.apache.spark.sql.expressions.Window
    val spark = codes.sparkSession
    import spark.implicits._
    val qn0 = sqrt(dot(col("qv"), col("qv")))
    val q = queries
      .select(col(qIdCol).cast("long").as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", when(
        qn0.isNull || isnan(qn0) || qn0 <= 0.0 || qn0 === Double.PositiveInfinity,
        raise_error(concat(lit("kNN query "), col("query_id").cast("string"),
          lit(" has a null/zero/non-finite vector — cosine undefined"))))
        .otherwise(qn0))
    val centRows = centroids
      .select(col("centroid_id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val cents = broadcast(centRows.map { case (cid, v) => (cid, v.toSeq) }
      .toSeq.toDF("cell", "vec"))
    val probeW = Window.partitionBy("query_id").orderBy(col("cdist"), col("cell"))
    val probe = q.crossJoin(cents)
      .withColumn("cdist",
        graft.functions.VectorExpressions.graft_l2sq(col("qv"), col("vec")))
      .withColumn("prn", row_number().over(probeW))
      .where(col("prn") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    val booksBc = spark.sparkContext.broadcast(collectBooks(codebooks))
    val centsBc = spark.sparkContext.broadcast(centRows)
    // OPQ-lite: codes quantize R·rv, so the per-subspace LUT dots pair
    // codes with the ROTATED query/centroid; the query norm, ‖c‖² and
    // query·centroid constants stay in the original space (R orthonormal)
    val rotBc = spark.sparkContext.broadcast(rotation)
    val cand0 = codes
      .select(col("id").cast("long").as("neighbor_id"),
        col("centroid_id").cast("long").as("cell"), col("codes"))
      .join(broadcast(probe), Seq("cell"))
    val cand = if (excludeSelf) cand0.where(col("neighbor_id") =!= col("query_id"))
               else cand0
    // Fused ADC scoring kernel: one row per (query, candidate) in and out —
    // no m-fold explode, no LUT join, no hash agg (the relational form was
    // measured 23× slower than the full-precision join at 60k×4k from
    // exactly that row multiplication). Each partition lazily builds the
    // per-query lookup table on first sight of the query: for every
    // (subspace, code), the 6-dp-rounded query·code dot and code norm as
    // SCALED LONGS (value·10⁶ — exact, order-independent sums, bit-equal
    // to the SQL oracle's DECIMAL(20,6) reduction and to [[pqSearchAdc]]'s
    // relational form), plus (residual mode) the per-cell query·centroid
    // constants. The cache is LRU-BOUNDED at `LutCacheCap` queries
    // (~2·m·ksub longs each): the probe side is a broadcast, so one
    // partition can meet the full query set — an unbounded cache would
    // scale executor memory with Q. Per pair: m array lookups + 2 long
    // adds (+3 in residual mode).
    //
    // Residual mode adds the query-INDEPENDENT cell tables (‖c‖² and the
    // per-(cell, subspace, code) centroid·code cross terms), built once
    // per cell seen by the partition — never per query.
    //
    // A stored code id absent from the codebook (stale code table vs
    // retrained codebooks) fails LOUDLY with the offending (subspace,
    // code_id) — not the bare unboxing NPE this kernel used to throw, and
    // deliberately not [[pqSearchAdc]]'s silent inner-join drop: a
    // corrupted store should stop the job, not thin the result.
    val res = residual
    val scored = cand
      .select(col("query_id"), col("qv"), col("qn"), col("neighbor_id"),
        col("cell"), col("codes"))
      .as[(Long, Array[Double], Double, Long, Long, Array[Long])]
      .mapPartitions { it =>
        val books = booksBc.value
        val m = books.length
        val subDim = books(0)._2(0)._2.length
        val centMap = new java.util.HashMap[Long, Array[Double]]()
        centsBc.value.foreach { case (cid, v) => centMap.put(cid, v) }
        // per-subspace code-id → dense index (code ids are donor ids and
        // survive cell emptying, so they need not be contiguous); boxed
        // Integer so an unknown code is a checkable null, not an NPE
        val codeIdx: Array[java.util.HashMap[java.lang.Long, java.lang.Integer]] =
          books.map { case (_, cs) =>
            val h = new java.util.HashMap[java.lang.Long, java.lang.Integer](cs.length * 2)
            cs.zipWithIndex.foreach { case ((cid, _), i) =>
              h.put(Long.box(cid), Int.box(i))
            }
            h
          }
        def scaled6(x: Double): Long =
          java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
            .movePointRight(6).longValueExact()
        def denseIdx(s: Int, codeId: Long): Int = {
          val ci = codeIdx(s).get(codeId)
          if (ci == null) throw new IllegalStateException(
            s"PQ code table references code_id=$codeId in subspace $s, which the " +
              "codebook does not contain — stale code table vs retrained codebooks?")
          ci.intValue()
        }
        val nCodes = books.map(_._2.length).sum
        // query LUTs: (dot6, nn6 [, per-cell query·centroid dot6]) —
        // LRU-bounded; eviction only costs a rebuild on re-sight
        val luts = new java.util.LinkedHashMap[Long, (Array[Long], Array[Long],
            java.util.HashMap[Long, Long])](16, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[Long, (Array[Long], Array[Long],
                java.util.HashMap[Long, Long])]): Boolean = size() > LutCacheCap
        }
        // residual cell tables (query-independent, tiny: cells × m×ksub)
        val cellLuts = new java.util.HashMap[Long, (Array[Long], Long)]()
        def cellLut(cell: Long): (Array[Long], Long) = {
          var cl = cellLuts.get(cell)
          if (cl == null) {
            val c = centMap.get(cell)
            if (c == null) throw new IllegalStateException(
              s"PQ code table references cell $cell absent from the centroid sidecar")
            val cR = rotBc.value.map(sg => opqRotateKernel(c, sg)).getOrElse(c)
            val cdL = new Array[Long](nCodes)
            var off = 0; var s = 0
            while (s < m) {
              val (sub, cs) = books(s)
              var j = 0
              while (j < cs.length) {
                val cv = cs(j)._2
                var cd = 0.0; var i = 0
                while (i < subDim) { cd += cR(sub * subDim + i) * cv(i); i += 1 }
                cdL(off + j) = scaled6(cd)
                j += 1
              }
              off += cs.length
              s += 1
            }
            cl = (cdL, scaled6(dotKernel(c, c)))
            cellLuts.put(cell, cl)
          }
          cl
        }
        it.flatMap { case (qid, qv, qn, nid, cell, cds) =>
          var lut = luts.get(qid)
          if (lut == null) {
            val qR = rotBc.value.map(sg => opqRotateKernel(qv, sg)).getOrElse(qv)
            val dotL = new Array[Long](nCodes)
            val nnL = new Array[Long](nCodes)
            var off = 0
            var s = 0
            while (s < m) {
              val (sub, cs) = books(s)
              var j = 0
              while (j < cs.length) {
                val cv = cs(j)._2
                var dt = 0.0; var nn = 0.0; var i = 0
                while (i < subDim) {
                  dt += qR(sub * subDim + i) * cv(i); nn += cv(i) * cv(i); i += 1
                }
                dotL(off + j) = scaled6(dt); nnL(off + j) = scaled6(nn)
                j += 1
              }
              off += cs.length
              s += 1
            }
            val qcByCell = new java.util.HashMap[Long, Long]()
            if (res) {
              val cit = centMap.entrySet().iterator()
              while (cit.hasNext) {
                val e = cit.next()
                qcByCell.put(e.getKey, scaled6(dotKernel(qv, e.getValue)))
              }
            }
            lut = (dotL, nnL, qcByCell)
            luts.put(qid, lut)
          }
          val cl = if (res) cellLut(cell) else null
          var sd = 0L; var sn = 0L; var scd = 0L; var s = 0; var off = 0
          while (s < m) {
            val ci = denseIdx(s, cds(s))
            sd += lut._1(off + ci); sn += lut._2(off + ci)
            if (res) scd += cl._1(off + ci)
            off += books(s)._2.length
            s += 1
          }
          if (res) {
            sd += lut._3.get(cell)
            sn += cl._2 + 2L * scd
          }
          if (sn <= 0L) Iterator.empty // zero-norm reconstruction: cosine undefined
          else Iterator.single((qid, nid,
            roundHalfUp((sd.toDouble / 1e6) / (math.sqrt(sn.toDouble / 1e6) * qn), 6)))
        }
      }
      .toDF("query_id", "neighbor_id", "adc_cosine")
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("adc_cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adc_cosine"))
  }

  /** IVF coarse assignment: nearest centroid per vector (broadcast
    * centroids, argmin by L2). `centroids`: (centroid_id, vec: array<double>). */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val e = emb.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val c = broadcast(centroids.select(col("centroid_id"), col("vec")))
    val joined = e.crossJoin(c)
      .withColumn("dist",
        aggregate(zip_with(col("v"), col("vec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x))
    joined.groupBy("id")
      .agg(min_by(struct(col("centroid_id"), col("dist")), struct(col("dist"), col("centroid_id")))
        .as("best"))
      .select(col("id"), col("best.centroid_id").as("centroid_id"),
        round(col("best.dist"), 6).as("dist"))
  }
}
