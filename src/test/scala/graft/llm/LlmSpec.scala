package graft.llm

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"), // near-dup of 1
    (3L, "completely different content about spark query engines and columnar execution"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups byte-identical docs, keeps canonical min id") {
    val out = Dedup.exact(docs, "doc_id", "text").orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(byId(1L) == ((1L, 2L, true)))   // canonical of the dup group
    assert(byId(4L) == ((1L, 2L, false)))  // duplicate, canonical=1
    assert(byId(3L) == ((3L, 1L, true)))
  }

  test("minhash LSH finds near-dup and exact-dup pairs, none below threshold") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", shingleN = 3,
        bands = 32, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash LSH verified pairs equal exact ngram jaccard at same n/threshold") {
    val d = Tables10
    val lsh = Dedup.minhashLsh(d, "doc_id", "text", shingleN = 3,
        bands = 32, rowsPerBand = 4, threshold = 0.8)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.ngramJaccard(d, "doc_id", "text", shingleN = 3, threshold = 0.8)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact)
  }

  private def Tables10 =
    graft.queries.Tables.documents(spark, TestSpark.sf).limit(100)

  test("simhash banded pairs = exact hamming≤3 pairs (pigeonhole recall 1)") {
    val d = Tables10
    val banded = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exact: brute-force over all pairs
    val sigs = d
      .select(col("doc_id"), transform(split(col("text"), " "),
        w => TextHashing.md5Long60(w)).as("hs"))
      .select(col("doc_id"), Dedup.simhashSignature(col("hs")).as("sig"))
    val exact = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("h"))
      .where(col("h") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == exact)
  }

  test("embedding near-dup is symmetric-free (a<b) and respects threshold") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),   // high cosine with 1
      (3L, Seq(0.0f, 1.0f, 0.0f))    // orthogonal to 1
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("topK returns k best by cosine, excludes the query id, ordered") {
    val emb = Tables10Emb
    val qv = emb.where(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0)
    val top = Similarity.topK(emb, "vec_id", "embedding", qv, k = 5, excludeId = Some(0L))
      .collect()
    assert(top.length == 5)
    assert(!top.exists(_.getLong(0) == 0L))
    val sims = top.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    // brute-force check of the winner
    val all = Dedup.embeddingNearDup(
        emb.where(col("vec_id") <= 50), "vec_id", "embedding", threshold = -1.0)
      .where(col("id_a") === 0 || col("id_b") === 0)
    assert(all.count() == 50)
  }

  private def Tables10Emb =
    graft.queries.Tables.embeddings(spark, TestSpark.sf).limit(100)

  test("banded embedding near-dup equals the exact all-pairs scan, with no nested-loop plan") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val banded = Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding",
      dims = 64, threshold = 0.45)
    val exact = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.45)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(asSet(banded) == asSet(exact)) // banding recall 1 at the threshold (≈7e-16 miss/pair)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded path must not fall back to an all-pairs join:\n$plan")
  }

  test("simhashPairs: wide combo keys produce the identical pair set (both generators exhaustive)") {
    val d = Tables10
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val narrow = asSet(Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3,
      comboKeys = false))
    val combo = asSet(Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3,
      comboKeys = true))
    assert(narrow == combo)
    assert(narrow.nonEmpty)
    // the DEFAULT generator is the scale-safe wide-key one (r12 verdict:
    // defaults are what a 100× user runs) — its plan carries the
    // shiftleft block-recombination, which the narrow band path never has
    val defPlan = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3)
      .queryExecution.optimizedPlan.toString
    assert(defPlan.contains("shiftleft"), defPlan)
  }

  test("t90 banded dedup: recall 1 vs exact scan AND candidate mass well below n(n-1)/2") {
    val emb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    // the measured prune at a production threshold — the 100 TB cost driver
    // (every candidate pays one exact-cosine verification). At t=0.3/0.45 the
    // corpus makes banding pruneless by construction; at t=0.9 with r=8,b=32
    // it must bite hard.
    val candidates = Dedup.embeddingLshCandidates(emb, "vec_id", "embedding",
      dims = 64, planesPerBand = 8, bands = 32).count()
    assert(candidates * 5 < allPairs,
      s"banding pruned only ${allPairs.toDouble / candidates}x ($candidates of $allPairs)")
    // and the pruned candidate set still yields the exact answer (recall 1)
    val banded = Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding",
      dims = 64, threshold = 0.9, planesPerBand = 8, bands = 32)
    val exact = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.9)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bandedSet = asSet(banded)
    assert(bandedSet == asSet(exact))
    assert(bandedSet.nonEmpty) // the planted pairs are really found
  }

  test("deep banding (r=16×b=128): recall 1 vs exact scan, candidate prune ≥100×") {
    val emb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    // the production operating point from BASELINE.md: deep banding drops
    // the random collision floor to 128·2⁻¹⁶ ≈ 0.2%, so candidate mass must
    // be ≥100× below the all-pairs count (r=8×b=32 achieves only ~7×)
    val candidates = Dedup.embeddingLshCandidates(emb, "vec_id", "embedding",
      dims = 64, planesPerBand = 16, bands = 128).count()
    assert(candidates * 100 < allPairs,
      s"deep banding pruned only ${allPairs.toDouble / candidates}x ($candidates of $allPairs)")
    // and the 100×-pruned candidate set still yields the exact answer
    val banded = Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding",
      dims = 64, threshold = 0.9, planesPerBand = 16, bands = 128)
    val exact = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.9)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bandedSet = asSet(banded)
    assert(bandedSet == asSet(exact))
    assert(bandedSet.nonEmpty)
  }

  test("typed signature kernel is bit-identical to the codegen expression path") {
    val emb = Tables10Emb
    // the two front halves of candidate generation — the broadcast typed
    // kernel (deep-banding path) and the fused codegen expression — must
    // bucket identically at any (bands, planesPerBand); same plane matrix,
    // same sequential IEEE accumulation
    for ((bands, r) <- Seq((8, 4), (32, 8), (128, 16))) {
      val typed = Similarity.lshSigRowsTyped(emb, "vec_id", "embedding",
          bands, r, dims = 64)
        .collect().map(row => row.getLong(0) -> row.getSeq[Long](1).toVector).toMap
      val expr = emb.select(col("vec_id").cast("long").as("id"),
          Similarity.lshBandSignature(
            Similarity.asDouble(col("embedding")), bands, r, dims = 64).as("sig"))
        .collect().map(row => row.getLong(0) -> row.getSeq[Long](1).toVector).toMap
      assert(typed == expr, s"bucket mismatch at bands=$bands r=$r")
    }
    // and the driver-side kernel closure agrees with both on a raw vector
    val v = emb.select(Similarity.asDouble(col("embedding")))
      .head().getSeq[Double](0).toArray
    val k = Similarity.lshBandSignatureKernel(bands = 8, planesPerBand = 4, dims = 64)
    val viaExpr = Similarity.lshSigRowsTyped(
        emb.limit(1), "vec_id", "embedding", 8, 4, 64)
      .head().getSeq[Long](1).toVector
    assert(k(v).toVector == viaExpr)
  }

  test("signature kernel rejects invalid banding configs loudly") {
    val kernelOk = Similarity.lshBandSignatureKernel(2, 4, 8)
    assert(kernelOk(Array.fill(8)(0.5)).length == 2)
    // >64 planes/band would silently wrap the long bit mask; a plane matrix
    // not divisible into bands would silently drop trailing planes
    intercept[IllegalArgumentException] {
      graft.functions.VectorExpressions.lshSignatureKernel(
        Array.fill(8)(0.5), Array.fill(8 * 65)(0.1), 65, 8)
    }
    intercept[IllegalArgumentException] {
      graft.functions.VectorExpressions.lshSignatureKernel(
        Array.fill(8)(0.5), Array.fill(100)(0.1), 4, 8)
    }
  }

  test("dense-bucket skew guard leaves banded output unchanged (property)") {
    val emb = Tables10Emb
    def pairs(cap: Int) =
      Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", dims = 64,
          threshold = 0.3, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cap=2 forces nearly every bucket through the chunk-split path; output
    // must equal the unsplit join (every pair meets in exactly one cell)
    assert(pairs(2) == pairs(100000))
  }

  test("materialize=true releases every intermediate: only the result stays cached") {
    // unique row slice → unique logical plans: an input shared with another
    // test would make persist() here re-register an already-cached plan and
    // the eager unpersist would drop that shared entry (count delta 0)
    val d = graft.queries.Tables.documents(spark, TestSpark.sf).limit(97)
    // each pair-finding op persists signature/shingle intermediates; with
    // materialize=true exactly ONE new persisted table (the result) may
    // remain, and unpersisting it must restore the session to baseline —
    // the discipline that keeps a 66-query bench session leak-free
    def persisted() = spark.sparkContext.getPersistentRDDs.size
    val before = persisted()
    val ops: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3, materialize = true),
      () => Dedup.minhashLsh(d, "doc_id", "text", shingleN = 3, bands = 32,
        rowsPerBand = 4, threshold = 0.8, materialize = true),
      () => Dedup.ngramJaccard(d, "doc_id", "text", shingleN = 3, threshold = 0.6,
        materialize = true))
    ops.foreach { op =>
      val out = op()
      assert(persisted() == before + 1, "intermediates must be released eagerly")
      out.unpersist(blocking = true)
      assert(persisted() == before)
    }
  }

  test("materialized minhash pair cache equals a fresh recomputation") {
    val d = graft.queries.Tables.documents(spark, TestSpark.sf)
    val fresh = Dedup.minhashLsh(d, "doc_id", "text",
        shingleN = 3, bands = 32, rowsPerBand = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cached = graft.queries.Materialized.minhashPairs(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cached == fresh)
  }

  test("annLsh candidates are a subset of exact pairs at the same threshold") {
    val emb = Tables10Emb
    val ann = Similarity.annLsh(emb, "vec_id", "embedding", dims = 64,
        planes = 8, minCosine = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.embeddingNearDup(emb, "vec_id", "embedding", threshold = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(exact))
  }

  test("ivfAssign assigns each vector to its nearest centroid") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.9f, 0.2f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "vec")
    val out = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 10L)))
  }

  test("ivfSearch: all cells probed = global topK; nprobe=1 stays in the query's cell") {
    val emb = Tables10Emb
    val cents = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
    val index = Similarity.ivfIndexRows(emb, "vec_id", "embedding", cents)
    val qv = emb.where(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0)
    val all = Similarity.ivfSearch(index, cents, qv,
        k = 5, nprobe = 4, excludeId = Some(0L))
      .select("id", "cosine").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val global = Similarity.topK(emb, "vec_id", "embedding", qv, k = 5, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all == global) // probing every cell degenerates to exact search
    val one = Similarity.ivfSearch(index, cents, qv,
      k = 5, nprobe = 1, excludeId = Some(0L))
    val cellOf = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one.collect().forall(_.getLong(1) == cellOf(0L)))
  }

  test("ivfIndexRows: typed build kernel is bit-identical to the ivfAssign expression path") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val cents = Similarity.ivfTrainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    val expr = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val kernel = Similarity.ivfIndexRows(emb, "vec_id", "embedding", cents)
      .select("id", "centroid_id", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(kernel == expr)
    // norm column matches the vecRows staging norm bit-for-bit
    val normsIdx = Similarity.ivfIndexRows(emb, "vec_id", "embedding", cents)
      .select("id", "norm").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val normsVec = Similarity.vecRows(emb, "vec_id", "embedding")
      .collect().map(r => r.id -> r.norm).toMap
    assert(normsIdx == normsVec)
  }

  test("ivfTrain: Lloyd iterations do not increase the k-means objective") {
    val emb = Tables10Emb
    def centsOf(iters: Int) =
      Similarity.ivfTrain(emb, "vec_id", "embedding", k = 4, iters = iters)
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("sm"))
        .select(col("centroid_id"), transform(col("sm"), s => s.getField("m")).as("vec"))
    def objective(cents: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
        .agg(sum("dist")).head().getDouble(0)
    val o1 = objective(centsOf(1))
    val o2 = objective(centsOf(2))
    assert(o2 <= o1 + 1e-3) // slack: per-row dist is rounded to 6 dp
  }

  test("ivfTrainCentroids: iters=10 runs flat (per-iter lineage truncation) with no persisted RDDs") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf).where(col("vec_id") < 100)
    val before = spark.sparkContext.getPersistentRDDs.size
    val n = Similarity.ivfTrainCentroids(emb, "vec_id", "embedding", k = 4, iters = 10).count()
    assert(n >= 1 && n <= 4) // cells may empty deterministically, never multiply
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "Lloyd lineage truncation must not retain persisted RDDs (localCheckpoint would)")
  }

  test("knnJoinPq agrees with the per-query pqSearchAdc at every probed query") {
    val idx = graft.queries.Materialized.ivfIndex(spark, TestSpark.sf)
    val codes = graft.queries.Materialized.pqCodes(spark, TestSpark.sf)
    val books = graft.queries.Materialized.pqCodebooks(spark, TestSpark.sf)
    val queries = graft.queries.Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") < 8)
    val joined = Similarity.knnJoinPq(codes, books, idx.centroids, queries,
        "vec_id", "embedding", k = 5, nprobe = 2, residual = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(t => (t._2, t._4)).toSet).toMap
    (0L until 8L).foreach { qid =>
      val qv = graft.queries.Tables.embeddings(spark, TestSpark.sf)
        .where(col("vec_id") === qid)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0)
      val single = Similarity.pqSearchAdc(codes, books, idx.centroids, qv,
          k = 5, nprobe = 2, excludeId = Some(qid), residual = true)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
      assert(joined(qid) == single,
        s"query $qid: join ${joined(qid)} vs per-query $single")
    }
  }

  test("knnJoinPq with the OPQ rotation agrees with the per-query rotated pqSearchAdc") {
    val idx = graft.queries.Materialized.ivfIndex(spark, TestSpark.sf)
    val codes = graft.queries.Materialized.opqCodes(spark, TestSpark.sf)
    val books = graft.queries.Materialized.opqCodebooks(spark, TestSpark.sf)
    val rot = Some(Similarity.opqSigns(64, graft.queries.Materialized.OpqSeed))
    val queries = graft.queries.Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") < 8)
    val joined = Similarity.knnJoinPq(codes, books, idx.centroids, queries,
        "vec_id", "embedding", k = 5, nprobe = 2, residual = true, rotation = rot)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(t => (t._2, t._4)).toSet).toMap
    (0L until 8L).foreach { qid =>
      val qv = graft.queries.Tables.embeddings(spark, TestSpark.sf)
        .where(col("vec_id") === qid)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0)
      val single = Similarity.pqSearchAdc(codes, books, idx.centroids, qv,
          k = 5, nprobe = 2, excludeId = Some(qid), residual = true, rotation = rot)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
      assert(joined(qid) == single,
        s"query $qid: join ${joined(qid)} vs per-query $single")
    }
  }

  test("bpeTrain: each merge is the argmax pair given its prefix; greedy left-to-right application") {
    val corpus = Seq(
      (1L, "aaa aaa aaa"),     // 'a a' dominates; in-word overlap: aaa -> [aa, a]
      (2L, "abab abab"),       // then 'a b' / 'ab ab' interplay
      (3L, "banana bandana")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrain(corpus, "text", merges = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // 'a a' is the most frequent pair: words aaa(×3): pairs (a,a)×2 each;
    // abab(×2): (a,b)(b,a)(a,b); banana/bandana add more. Weighted count of
    // (a,a) = 6 from aaa. Recompute expected greedily in plain Scala:
    def pairsOf(toks: Seq[String]): Seq[(String, String)] =
      toks.zip(toks.drop(1))
    def applyMerge(toks: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
          out += l + r; i += 2
        } else { out += toks(i); i += 1 }
      }
      out.toSeq
    }
    val words = Seq("aaa" -> 3L, "abab" -> 2L, "banana" -> 1L, "bandana" -> 1L)
    var state: Seq[(Seq[String], Long)] =
      words.map { case (w, f) => (w.map(_.toString): Seq[String], f) }
    m.foreach { case (_, l, r, merged, cnt) =>
      val counts = state.flatMap { case (toks, f) =>
        pairsOf(toks).map(p => p -> f)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a + " " + b) }
      assert((l, r) == best._1, s"merge ($l,$r) must be the argmax, want ${best._1}")
      assert(cnt == best._2)
      assert(merged == l + r)
      state = state.map { case (toks, f) => (applyMerge(toks, l, r), f) }
    }
  }

  test("bpeTrain releases its word-table cache before returning (purity pin)") {
    val docs = graft.queries.Tables.documents(spark, TestSpark.sf).limit(50)
    val before = spark.sparkContext.getPersistentRDDs.size
    TextAnalysis.bpeTrain(docs, "text", merges = 3).collect()
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "the per-call word-table cache must not outlive the call")
  }

  test("bpeDocTokens: 0 merges = character count; 8 merges compress; base count merge-independent") {
    val docs = graft.queries.Tables.documents(spark, TestSpark.sf).limit(100)
    val t0 = TextAnalysis.bpeDocTokens(docs, "doc_id", "text", merges = 0)
      .agg(sum("n_bpe_tokens"), sum("n_base_tokens")).head()
    assert(t0.getLong(0) == t0.getLong(1), "0 merges: BPE tokens = characters")
    val t8 = TextAnalysis.bpeDocTokens(docs, "doc_id", "text", merges = 8)
      .agg(sum("n_bpe_tokens"), sum("n_base_tokens")).head()
    assert(t8.getLong(0) < t8.getLong(1), "8 merges must compress")
    assert(t8.getLong(1) == t0.getLong(1), "base token count is merge-independent")
  }

  test("BpeApply kernel: token-level left-to-right merge (round-7 string-replace under-merge fix)") {
    import graft.functions.BpeExpressions.applyMerges
    // the string-replace form consumed the shared sentinel space between
    // consecutive occurrences: 'abab' under-merged to [ab, a, b] and
    // 'aaaa' to [aa, a, a]; token-level must give [ab, ab] / [aa, aa]
    assert(applyMerges(" a b a b ", Array("a"), Array("b")) == " ab ab ")
    assert(applyMerges(" a a a a ", Array("a"), Array("a")) == " aa aa ")
    // odd run: leftmost-first, continue AFTER the merged pair
    assert(applyMerges(" a a a ", Array("a"), Array("a")) == " aa a ")
    // sequential rank order across merges: (a,b) then (ab,ab)
    assert(applyMerges(" a b a b a ", Array("a", "ab"), Array("b", "ab")) ==
      " abab a ")
    // no-ops: empty merge list, token absent, single token
    assert(applyMerges(" x y ", Array.empty[String], Array.empty[String]) == " x y ")
    assert(applyMerges(" x ", Array("a"), Array("b")) == " x ")
    // and through the expression (exercises codegen)
    val df = Seq(" a b a b ", " a a a a ").toDF("s")
      .select(graft.functions.BpeExpressions.bpeApply(col("s"),
        Seq(("a", "b"))).as("r"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq(" ab ab ", " a a a a "))
  }

  test("bpeTrain: overlap-heavy corpus learns token-level counts (abab/aaaa regression)") {
    // 'abab'×3 has token pairs (a,b)×2, (b,a)×1 per word; 'aaaa'×2 has
    // (a,a)×3 per word. Hand-derived greedy chain under CLASSIC BPE:
    //   1. tie (a,a)=6 vs (a,b)=6 -> lexicographic -> (a,a), 'aaaa' -> [aa,aa]
    //      (the buggy string replace would have produced [aa,a,a])
    //   2. (a,b)=6, 'abab' -> [ab,ab] (bug: [ab,a,b])
    //   3. (ab,ab)=3 — only exists because step 2 merged token-level
    //   4. (aa,aa)=2
    val corpus = Seq((1L, "abab abab abab"), (2L, "aaaa aaaa")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrain(corpus, "text", merges = 4)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(m == Seq(("a", "a", 6L), ("a", "b", 6L), ("ab", "ab", 3L), ("aa", "aa", 2L)))
  }

  test("bpeTrain batched: equals the greedy chain on an order-safe corpus; diverges per the documented rule") {
    // order-safe: the four words use disjoint alphabets, so the top-4
    // pairs are mutually token-disjoint and no in-batch merge can create
    // a pair that outranks a later selection
    val safe = Seq((1L, "aa aa aa aa aa aa aa aa aa aa bb bb bb bb bb bb bb bb bb"),
      (2L, "cc cc cc cc cc cc cc cc dd dd dd dd dd dd dd")).toDF("doc_id", "text")
    val greedy = TextAnalysis.bpeTrain(safe, "text", merges = 4, batch = 1)
      .orderBy("rank").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
    val batched = TextAnalysis.bpeTrain(safe, "text", merges = 4, batch = 4)
      .orderBy("rank").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(greedy == batched, s"order-safe corpus must batch losslessly: $greedy vs $batched")
    // divergence rule: greedy's 2nd merge (aa,aa) is CREATED by its 1st
    // merge and outranks (b,c); the batch cannot see it at scan time, so
    // it keeps (b,c) second — deterministic, documented, and pinned here
    val unsafe = Seq((1L, Seq.fill(10)("aaaa").mkString(" ")),
      (2L, Seq.fill(4)("bc").mkString(" "))).toDF("doc_id", "text")
    val g2 = TextAnalysis.bpeTrain(unsafe, "text", merges = 2, batch = 1)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val b2 = TextAnalysis.bpeTrain(unsafe, "text", merges = 2, batch = 2)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(g2 == Seq(("a", "a"), ("aa", "aa")))
    assert(b2 == Seq(("a", "a"), ("b", "c")))
  }

  test("bpeTrain batched 256-budget run: contiguous ranks, well-formed merges, deep compression") {
    val docs = graft.queries.Tables.documents(spark, TestSpark.sf)
    val m = TextAnalysis.bpeTrain(docs, "text", merges = 256, batch = 32)
      .orderBy("rank").collect()
    // ranks contiguous from 1; merged = lhs + rhs throughout; the tiny
    // 31-word vocabulary runs out of disjoint candidates long before the
    // 256 budget (early stop, documented)
    assert(m.length > 32 && m.length < 256)
    assert(m.map(_.getLong(0)).toSeq == (1L to m.length.toLong))
    assert(m.forall(r => r.getString(3) == r.getString(1) + r.getString(2)))
    // a batched vocabulary this deep must compress far past the 8-merge
    // chain: most words collapse to a handful of tokens
    val agg = TextAnalysis.bpeDocTokens(docs, "doc_id", "text",
        merges = 256, batch = 32)
      .agg(sum("n_words"), sum("n_bpe_tokens"), sum("n_base_tokens")).head()
    assert(agg.getLong(1) < agg.getLong(2) / 2,
      s"expected >2x compression: ${agg.getLong(1)} BPE vs ${agg.getLong(2)} base tokens")
    assert(agg.getLong(1) >= agg.getLong(0), "BPE tokens cannot undercut word count")
  }

  test("utf8Cmp equals true UTF-8 byte order across BMP, private-use, and supplementary characters") {
    // the delta trainer's tie-break comparator vs real byte comparison —
    // the case a plain +0x2000 surrogate shift gets WRONG is a
    // supplementary char (high surrogate 0xD800+) against a BMP char in
    // [0xF800, 0xFFFF] (e.g. U+FB01 'ﬁ'), where code-point order must
    // rank the supplementary char higher
    val samples = Seq("a", "Z", "é", "ࠀ", "퟿", "", "",
      "ﬁ", "￿", new String(Character.toChars(0x10000)),
      new String(Character.toChars(0x1F600)), "一", "a￿",
      "a" + new String(Character.toChars(0x1F600)), "ab", "a")
    def byteCmp(a: String, b: String): Int = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    for (a <- samples; b <- samples)
      assert(Integer.signum(TextAnalysis.utf8Cmp(a, b)) ==
        Integer.signum(byteCmp(a, b)), s"order of '$a' vs '$b' diverges")
  }

  test("bpeTrainDelta equals the re-count loop row-for-row: corpora × batch sizes (delta-vs-recount property)") {
    // delta maintenance must be invisible: same candidate pool, same
    // disjoint selection, same counts — so the learned lists are equal
    // ROW-FOR-ROW including the recorded cnt. Corpora chosen to stress
    // the update paths: in-word overlap (chain merges), shared tokens
    // across words, tie-heavy uniform counts, and the real fixture.
    val overlap = Seq((1L, "aaa aaa aaa"), (2L, "abab abab"),
      (3L, "banana bandana")).toDF("doc_id", "text")
    val ties = Seq((1L, "ab cd ab cd ef gh ef gh"),
      (2L, "abcd efgh abcd")).toDF("doc_id", "text")
    def list(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3), r.getLong(4))).toSeq
    for ((corpus, name) <- Seq((overlap, "overlap"), (ties, "ties"), (docs, "fixture"));
         batch <- Seq(1, 4)) {
      val recount = list(TextAnalysis.bpeTrain(corpus, "text",
        merges = 8 * batch, batch = batch))
      val delta = list(TextAnalysis.bpeTrainDelta(corpus, "text",
        merges = 8 * batch, batch = batch))
      assert(delta == recount,
        s"corpus=$name batch=$batch: delta-maintained list diverged\n" +
          s"delta:   $delta\nrecount: $recount")
    }
  }

  /** Deterministic synthetic word: `len` BMP symbols from an `nSym`-wide
    * alphabet (CJK block — single UTF-16 code units, so regex `.`
    * tokenization and UTF-8 ordering agree with the corpus contract).
    * Arithmetic hash, no RNG state. */
  private def synthWord(i: Int, len: Int, nSym: Int): String =
    (0 until len).map { j =>
      val h = (i.toLong * 1315423911L + j.toLong * 2654435761L + i.toLong * j) & 0x7fffffffL
      ('一' + (h % nSym).toInt).toChar
    }.mkString

  test("bpeTrainDelta equals the re-count loop at a rich 1,024-merge budget (wide-alphabet property)") {
    // 2,000 words × 16 symbols over a 600-symbol alphabet: enough token
    // diversity that 16 rounds of 64 disjoint merges all fill — the
    // regime where the batched selection actually exercises its pool
    // truncation and the delta updates touch thousands of words per round
    val rich = (0 until 2000).map(i => (i.toLong, synthWord(i, 16, 600)))
      .toDF("doc_id", "text")
    val delta = TextAnalysis.bpeTrainDelta(rich, "text", merges = 1024, batch = 64)
      .orderBy("rank").collect()
    val recount = TextAnalysis.bpeTrain(rich, "text", merges = 1024, batch = 64)
      .orderBy("rank").collect()
    assert(delta.length == recount.length && delta.length >= 512,
      s"lists must match and be deep: ${delta.length} vs ${recount.length}")
    delta.zip(recount).foreach { case (d, r) =>
      assert((d.getLong(0), d.getString(1), d.getString(2), d.getString(3), d.getLong(4)) ==
        (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    }
  }

  test("bpeTrainDelta reaches >=4,096 merges (32k-vocab-shaped operating point) on one distributed scan") {
    // 20,000 words × 16 symbols over a 2,000-symbol alphabet = 320k
    // chars of pair supply. The re-count loop at this budget would pay
    // 32 full pair-count scans (and ~1k at a true 32k vocab); the delta
    // trainer pays ONE distributed scan + in-memory updates — the
    // operating-point gap this trainer exists to close.
    val rich = (0 until 20000).map(i => (i.toLong, synthWord(i, 16, 2000)))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val delta = TextAnalysis.bpeTrainDelta(rich, "text", merges = 16384, batch = 256)
      .orderBy("rank").collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"bpeTrainDelta ${delta.length} merges over 20k x 16-symbol vocab: $secs%.2f s")
    assert(delta.length >= 4096, s"need >=4096 merges, got ${delta.length}")
    assert(delta.map(_.getLong(0)).toSeq == (1L to delta.length.toLong))
    assert(delta.forall(r => r.getString(3) == r.getString(1) + r.getString(2)))
    // counts are non-increasing ACROSS rounds' leaders (sanity of delta
    // maintenance: a stale inflated count would surface here as a later
    // round leader outranking an earlier one is allowed only within the
    // documented batched-divergence rule — leaders themselves, pinned by
    // the equivalence property above, stay consistent)
    assert(delta.head.getLong(4) == delta.map(_.getLong(4)).max)
  }

  test("residual PQ beats raw-vector PQ at identical bytes: reconstruction cosine and probed recall") {
    import graft.queries.{Materialized, Tables}
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val idx = Materialized.ivfIndex(spark, TestSpark.sf)
    // raw ladder (the round-7 architecture): train + encode on the vectors
    val rawCb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2, dims = 64)
    // residual ladder = the stored artifacts (trained on v − centroid)
    val resCb = Materialized.pqCodebooks(spark, TestSpark.sf)
    val resCodesDf = Materialized.pqCodes(spark, TestSpark.sf)
    // driver replay over the whole corpus (500 × 64 — trivial)
    def collectBooks(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Array[Double]] =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getSeq[Double](2).toArray)).toMap
    val rawBooks = collectBooks(rawCb)
    val resBooks = collectBooks(resCb)
    val cents = idx.centroids.select(col("centroid_id").cast("long"), col("vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val vecs = idx.assignment.select(col("id"), col("centroid_id"), col("v"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Double](2).toArray)))
      .toMap
    val resCodes = resCodesDf.select(col("id"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
    val rawCodes = Similarity.pqEncode(idx.assignment, "id", "v", rawCb,
        dims = 64, cellCol = Some("centroid_id"))
      .select(col("id"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i)*b(i); aa += a(i)*a(i); bb += b(i)*b(i); i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    def recon(codes: Array[Long], books: Map[(Long, Long), Array[Double]],
              base: Array[Double]): Array[Double] = {
      val out = base.clone()
      codes.zipWithIndex.foreach { case (cid, s) =>
        val cv = books((s.toLong, cid))
        var i = 0
        while (i < cv.length) { out(s * cv.length + i) += cv(i); i += 1 }
      }
      out
    }
    val zero = new Array[Double](64)
    val (sumRaw, sumRes) = vecs.foldLeft((0.0, 0.0)) { case ((ar, ae), (id, (cell, v))) =>
      (ar + cos(v, recon(rawCodes(id), rawBooks, zero)),
        ae + cos(v, recon(resCodes(id), resBooks, cents(cell))))
    }
    val (meanRaw, meanRes) = (sumRaw / vecs.size, sumRes / vecs.size)
    assert(meanRes > meanRaw,
      f"residual codes must reconstruct better: $meanRes%.4f vs raw $meanRaw%.4f")
    // probed recall@10 vs the EXACT probed ranking, queries 0..15, nprobe=2:
    // score both ladders' ADC approximations against the same candidate set
    val nprobe = 2; val k = 10
    def probedCells(q: Array[Double]): Set[Long] =
      cents.toSeq.map { case (cid, c) =>
        var s = 0.0; var i = 0
        while (i < c.length) { val dx = c(i) - q(i); s += dx * dx; i += 1 }
        (cid, s)
      }.sortBy { case (cid, d) => (d, cid) }.take(nprobe).map(_._1).toSet
    def recallSum(books: Map[(Long, Long), Array[Double]],
                  codes: Map[Long, Array[Long]], useCentroid: Boolean): Double =
      (0L until 16L).map { qid =>
        val q = vecs(qid)._2
        val cells = probedCells(q)
        val cand = vecs.filter { case (id, (cell, _)) => id != qid && cells(cell) }
        val exact = cand.toSeq.map { case (id, (_, v)) => (cos(q, v), id) }
          .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2).toSet
        val adc = cand.toSeq.map { case (id, (cell, _)) =>
          val base = if (useCentroid) cents(cell) else zero
          (cos(q, recon(codes(id), books, base)), id)
        }.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2).toSet
        (exact intersect adc).size.toDouble / k
      }.sum
    val rRaw = recallSum(rawBooks, rawCodes, useCentroid = false)
    val rRes = recallSum(resBooks, resCodes, useCentroid = true)
    assert(rRes >= rRaw,
      f"residual recall@$k must not lose to raw: ${rRes / 16}%.3f vs ${rRaw / 16}%.3f")
  }

  test("OPQ-lite rotation: orthonormal round-trip, norm preservation, seed determinism") {
    val signs = Similarity.opqSigns(64, seed = 17L)
    assert(signs.forall(s => s == 1.0 || s == -1.0))
    assert(signs.toSeq == Similarity.opqSigns(64, 17L).toSeq, "seed-determinism")
    assert(signs.toSeq != Similarity.opqSigns(64, 18L).toSeq, "distinct seeds differ")
    val v = Array.tabulate(64)(i => math.sin(i * 1.7) * (i % 7 + 1))
    val r = Similarity.opqRotateKernel(v, signs)
    val back = Similarity.opqRotateInverseKernel(r, signs)
    def norm(a: Array[Double]) = math.sqrt(a.map(x => x * x).sum)
    assert(math.abs(norm(r) - norm(v)) < 1e-9 * norm(v), "R is orthonormal")
    v.indices.foreach { i =>
      assert(math.abs(back(i) - v(i)) <= 1e-12 * math.max(1.0, math.abs(v(i))),
        s"round-trip drift at $i: ${back(i)} vs ${v(i)}")
    }
  }

  test("OPQ-lite beats unrotated residual PQ at identical bytes on a sparse-spike corpus: recon cosine and recall") {
    // the regime the rotation exists for: SPARSE / heavy-tailed
    // coordinates (one-hot-ish spikes — outlier dimensions, hashed
    // bag-of-features embeddings). Each vector is a single large spike
    // at a hash-chosen dimension plus small dense noise: unrotated
    // residual PQ's codebooks must represent "spike at one of my 8 dims,
    // or no spike" with 16 codes — the spike POSITION is combinatorial
    // and most codes are spent on the no-spike mass, so spiky vectors
    // reconstruct poorly; the rotation turns each spike into a dense
    // signed-Hadamard pattern (Gaussianization — the classic randomized-
    // rotation effect), distinct positions map to near-orthogonal dense
    // patterns, and every subspace's 16 codes separate their projections.
    // Corpus shapes where rotation does NOT help (independent
    // equal-variance dims, hypercube corners, variance decay): measured
    // during construction, plain wins those — this spike regime is the
    // honest demonstration, not a cherry-pick of metric noise (margins:
    // recon ~0.93 vs ~0.75, recall ~0.55 vs ~0.52, all deterministic).
    def h(i: Int, j: Int): Double = {
      val x = (i.toLong * 2654435761L + j.toLong * 97531L + 7L) & 0xffffL
      x.toDouble / 65536.0 - 0.5
    }
    val planted = (0 until 400).map { i =>
      val pos = (i * 37) % 64
      val v = Array.tabulate(64) { j =>
        (if (j == pos) 6.0 + h(i, 0) else 0.0) + h(i, j) * 0.1
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.ivfTrainCentroids(planted, "vec_id", "embedding",
      k = 4, iters = 2)
    val assign = Similarity.ivfIndexRows(planted, "vec_id", "embedding", cents)
      .select(col("id"), col("centroid_id"), col("v"))
    val res = Similarity.ivfResiduals(assign, cents.select(col("centroid_id"), col("vec")))
    val signs = Similarity.opqSigns(64, 17L)
    val rot = Similarity.opqRotateResiduals(res, signs)
    val cbPlain = Similarity.pqTrainCodebooks(res, "id", "rv", m = 8, ksub = 16,
      iters = 2, dims = 64)
    val cbRot = Similarity.pqTrainCodebooks(rot, "id", "rv", m = 8, ksub = 16,
      iters = 2, dims = 64)
    def books(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Array[Double]] =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getSeq[Double](2).toArray)).toMap
    def codes(src: org.apache.spark.sql.DataFrame,
              cb: org.apache.spark.sql.DataFrame): Map[Long, Array[Long]] =
      Similarity.pqEncode(src, "id", "rv", cb, dims = 64)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
    val bPlain = books(cbPlain); val bRot = books(cbRot)
    val cPlain = codes(res, cbPlain); val cRot = codes(rot, cbRot)
    val centArr = cents.select(col("centroid_id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val vecs = assign.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Double](2).toArray))).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i)*b(i); aa += a(i)*a(i); bb += b(i)*b(i); i += 1 }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    def decode(cs: Array[Long], bk: Map[(Long, Long), Array[Double]]): Array[Double] = {
      val out = new Array[Double](64)
      cs.zipWithIndex.foreach { case (cid, s) =>
        val cv = bk((s.toLong, cid))
        var i = 0
        while (i < cv.length) { out(s * cv.length + i) = cv(i); i += 1 }
      }
      out
    }
    // reconstructions: plain v̂ = c + r̂; rotated v̂ = c + Rᵀ·r̂
    def reconPlain(id: Long): Array[Double] = {
      val (cell, _) = vecs(id)
      val r = decode(cPlain(id), bPlain)
      centArr(cell).zip(r).map { case (a, b) => a + b }
    }
    def reconRot(id: Long): Array[Double] = {
      val (cell, _) = vecs(id)
      val r = Similarity.opqRotateInverseKernel(decode(cRot(id), bRot), signs)
      centArr(cell).zip(r).map { case (a, b) => a + b }
    }
    val ids = vecs.keySet.toSeq.sorted
    val meanPlain = ids.map(id => cos(vecs(id)._2, reconPlain(id))).sum / ids.size
    val meanRot = ids.map(id => cos(vecs(id)._2, reconRot(id))).sum / ids.size
    info(f"recon cosine: rotated $meanRot%.5f vs plain $meanPlain%.5f")
    assert(meanRot > meanPlain,
      f"rotated codes must reconstruct better on the sparse-spike corpus: " +
        f"$meanRot%.5f vs $meanPlain%.5f")
    // recall@10 against the exact probed ranking, 32 queries, nprobe=2
    val nprobe = 2; val k = 10; val nq = 32
    def probedCells(q: Array[Double]): Set[Long] =
      centArr.toSeq.map { case (cid, c) =>
        var s = 0.0; var i = 0
        while (i < c.length) { val dx = c(i) - q(i); s += dx * dx; i += 1 }
        (cid, s)
      }.sortBy { case (cid, d) => (d, cid) }.take(nprobe).map(_._1).toSet
    def recallSum(recon: Long => Array[Double]): Double =
      (0L until nq.toLong).map { qid =>
        val q = vecs(qid)._2
        val cells = probedCells(q)
        val cand = vecs.filter { case (id, (cell, _)) => id != qid && cells(cell) }
        val exact = cand.toSeq.map { case (id, (_, v)) => (cos(q, v), id) }
          .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2).toSet
        val adc = cand.toSeq.map { case (id, _) => (cos(q, recon(id)), id) }
          .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2).toSet
        (exact intersect adc).size.toDouble / k
      }.sum
    val rPlain = recallSum(reconPlain)
    val rRot = recallSum(reconRot)
    info(f"recall@10: rotated ${rRot / nq}%.3f vs plain ${rPlain / nq}%.3f")
    assert(rRot >= rPlain,
      f"rotated recall@$k must not lose: ${rRot / nq}%.3f vs ${rPlain / nq}%.3f")
  }

  test("quality classifier separates vocabulary-distinct classes and reproduces the logistic gradient") {
    // a corpus the hashed bag-of-words CAN separate: the two classes use
    // disjoint vocabularies (the real signal a CCNet/fastText-style gate
    // learns — junk token distributions vs clean ones)
    val lab = (0 until 120).map { i =>
      if (i % 2 == 0)
        (i.toLong, (0 until 20).map(j => s"clean${(i + j) % 15}").mkString(" "), 1.0)
      else
        (i.toLong, (0 until 20).map(j => s"junk${(i * 3 + j) % 15}##").mkString(" "), 0.0)
    }.toDF("id", "text", "y")
    val model = TextAnalysis.qualityClfTrain(lab, "id", "text", "y",
      iters = 6, lr = 1.0)
    val scored = TextAnalysis.qualityClfScore(lab, "id", "text", model)
      .select(col("id"), col("score"), col("keep"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    (0 until 120).foreach { i =>
      val want = i % 2 == 0
      assert(scored(i.toLong)._2 == want,
        s"doc $i (y=${if (want) 1 else 0}) misclassified: score=${scored(i.toLong)._1}")
    }
    // the model table is sane: intercept sentinel present, every weight a
    // 6-dp decimal (the engine-parity invariant the oracle relies on)
    val rows = model.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.count(_._1 == -1L) == 1, "exactly one intercept row")
    rows.foreach { case (_, w) =>
      assert(graft.llm.Similarity.roundHalfUp(w, 6) == w, s"non-6dp weight $w")
    }
    // first-iteration gradient replay: from w=0 every p is exactly 0.5,
    // so after one round each bucket's weight must be
    // round(-lr * sum(0.5 - y over docs containing it) / n, 6)
    val one = TextAnalysis.qualityClfTrain(lab, "id", "text", "y",
        iters = 1, lr = 1.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val feats = TextAnalysis.qualityClfFeatures(lab, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val yById = (0 until 120).map(i => i.toLong -> (if (i % 2 == 0) 1.0 else 0.0)).toMap
    val expected = feats.groupBy(_._2).map { case (b, rows2) =>
      val g = rows2.map { case (id, _) => BigDecimal("0.5") - BigDecimal(yById(id)) }.sum
      b -> graft.llm.Similarity.roundHalfUp(-1.0 * g.toDouble / 120, 6)
    }
    expected.foreach { case (b, w) =>
      assert(one(b) == w, s"bucket $b: got ${one(b)}, want $w")
    }
  }

  test("pqEncode: every stored code is the true per-subspace argmin (driver replay)") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val cb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2, dims = 64)
    val books = cb.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, rows) => s -> rows.map(r => (r._2, r._3)).sortBy(_._1) }.toMap
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb, dims = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(enc.keySet == vecs.keySet)
    enc.foreach { case (id, codesArr) =>
      val v = vecs(id)
      codesArr.zipWithIndex.foreach { case (code, s) =>
        val sub = v.slice(s * 8, s * 8 + 8)
        val best = books(s).map { case (cid, cv) =>
          (cid, sub.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
        }.minBy { case (cid, d) => (d, cid) }._1
        assert(code == best, s"vec $id subspace $s: got $code want $best")
      }
    }
  }

  test("pqTrainCodebooks: a Lloyd round does not increase the reconstruction error") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    def sse(iters: Int): Double = {
      val cb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
        m = 8, ksub = 16, iters = iters, dims = 64)
      val books = cb.collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1)).toMap
      emb.select(transform(col("embedding"), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toArray).map { v =>
          (0 until 8).map { s =>
            val sub = v.slice(s * 8, s * 8 + 8)
            books(s).map(c => sub.zip(c._2).map { case (a, b) => (a - b) * (a - b) }.sum).min
          }.sum
        }.sum
    }
    assert(sse(2) <= sse(1) + 1e-9)
  }

  test("pqSearchAdc is EXACT when quantization is lossless (every vector a code donor, iters=0)") {
    // 12 distinct 8-d vectors, m=4 subspaces of 2 dims, ksub = corpus size,
    // iters=0: the init codebook holds every vector's exact slices, so codes
    // reconstruct each vector bit-for-bit and the ADC cosine must equal the
    // exact cosine up to the LUT's 6-dp rounding.
    val rnd = new scala.util.Random(7)
    val emb = (0L until 12L).map(i =>
        (i, Seq.fill(8)((math.rint(rnd.nextDouble() * 100) / 100.0).toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 4, ksub = 12, iters = 0, dims = 8)
    val cells = emb.select(col("vec_id").as("id"), lit(0L).as("centroid_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val codes = Similarity.pqEncode(cells, "id", "v", cb, dims = 8,
      cellCol = Some("centroid_id"))
    val cents = Seq((0L, Seq.fill(8)(0.0))).toDF("centroid_id", "vec")
    val qv = emb.where(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0)
    val adc = Similarity.pqSearchAdc(codes, cb, cents, qv,
        k = 11, nprobe = 1, excludeId = Some(0L))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val exact = Similarity.topK(emb, "vec_id", "embedding", qv,
        k = 11, excludeId = Some(0L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(adc.keySet == exact.keySet)
    adc.foreach { case (id, c) =>
      assert(math.abs(c - exact(id)) <= 2e-5, // LUT entries are 6-dp rounded
        s"vec $id: adc $c vs exact ${exact(id)}")
    }
  }

  test("pqSearchAdc on the stored index: deterministic probed recall vs the exact probed search") {
    val idx = graft.queries.Materialized.ivfIndex(spark, TestSpark.sf)
    val qv = graft.queries.Tables.embeddings(spark, TestSpark.sf)
      .where(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0)
    val adc = Similarity.pqSearchAdc(
        graft.queries.Materialized.pqCodes(spark, TestSpark.sf),
        graft.queries.Materialized.pqCodebooks(spark, TestSpark.sf),
        idx.centroids, qv, k = 10, nprobe = 2, excludeId = Some(0L),
        residual = true)
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.ivfSearch(idx.assignment, idx.centroids, qv,
        k = 10, nprobe = 2, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    // everything is deterministic (data, init, tie-breaks), so the overlap
    // is a fixed number — pin a conservative floor for the 8×16 config on
    // the synthetic (structureless, PQ-hostile) corpus (the residual
    // codes clear the raw ladder's old floor of 2)
    assert((adc & exact).size >= 2, s"adc=$adc exact=$exact")
  }

  test("minhashSignatureTable + dedupIncrementalNear survive null-text rows (kept, no NPE)") {
    val corpus = Seq((1L, "one two three four five"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatureTable(corpus, "doc_id", "text")
    assert(sigs.where(col("n_sh") === 0).count() == 1) // null row: sentinel signature
    val batch = Seq((10L, "one two three four five"),
      (11L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.dedupIncrementalNear(batch, sigs, corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 1L && !out(0).getBoolean(3)) // exact dup of corpus doc 1
    assert(out(1).isNullAt(1) && out(1).getBoolean(3)) // null text: Jaccard undefined, kept
  }

  test("knnJoinIvf: nprobe = all cells equals brute-force knnJoin exactly; nprobe=2 is a high-recall subset") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val idx = graft.queries.Materialized.ivfIndex(spark, TestSpark.sf)
    val nCells = idx.centroids.count().toInt
    val queries = emb.where(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val brute = rows(Similarity.knnJoin(emb, queries, "vec_id", "embedding",
      "vec_id", k = 5))
    val full = rows(Similarity.knnJoinIvf(idx.assignment, idx.centroids, queries,
      "vec_id", "embedding", k = 5, nprobe = nCells))
    assert(full == brute,
      "probing every cell must reproduce the brute-force ranking bit-exactly")
    val probed = rows(Similarity.knnJoinIvf(idx.assignment, idx.centroids, queries,
      "vec_id", "embedding", k = 5, nprobe = 2))
    // IVF approximation: every returned (query, neighbor, cosine) is a true
    // score; recall vs brute force is the nprobe trade-off — pinned at the
    // empirically stable floor for this corpus/index (documents the
    // approximation instead of hiding it)
    val neighborsOk = probed.forall { case (q, n, _, c) =>
      brute.exists(b => b._1 == q && b._2 == n && b._4 == c) ||
        !brute.exists(b => b._1 == q && b._2 == n)
    }
    assert(neighborsOk, "probed scores must be true cosines")
    val recall = probed.count(p => brute.exists(b => b._1 == p._1 && b._2 == p._2)).toDouble /
      brute.size
    assert(recall >= 0.5, s"nprobe=2/$nCells recall collapsed: $recall")
  }

  test("knnJoinDistributed: equals knnJoinIvf at every nprobe; degenerate queries fail the job") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val idx = graft.queries.Materialized.ivfIndex(spark, TestSpark.sf)
    val nCells = idx.centroids.count().toInt
    val queries = emb.where(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // the declarative plan (join + WindowGroupLimit) must reproduce the
    // broadcast-heap variant bit-exactly: same probe tie rule, same
    // cosine accumulation order, same rank tie-break
    for (np <- Seq(1, 2, nCells)) {
      val a = rows(Similarity.knnJoinIvf(idx.assignment, idx.centroids, queries,
        "vec_id", "embedding", k = 5, nprobe = np))
      val b = rows(Similarity.knnJoinDistributed(idx.assignment, idx.centroids,
        queries, "vec_id", "embedding", k = 5, nprobe = np))
      assert(a == b, s"nprobe=$np: distributed and heap variants diverge")
    }
    // no silent drop: a zero vector in the query TABLE fails the job
    // loudly (the raise_error counterpart of the driver-side requires)
    val zeroQ = Seq((7L, Seq.fill(64)(0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.knnJoinDistributed(idx.assignment, idx.centroids, zeroQ,
        "vec_id", "embedding", k = 1, nprobe = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("null/zero/non-finite")), ex.toString)
  }

  test("repeatedSpans: cross-doc and within-doc repeats merge into maximal spans; canonical copy and null text emit none") {
    val d = Seq(
      (1L, "a b c d e f g h"),                 // canonical copy of the shared passage
      (2L, "x y a b c d e q r s"),             // shares "a b c d e" with doc 1
      (3L, null.asInstanceOf[String]),          // null text: no grams, no crash
      (4L, "p q r z z z p q r")                // within-doc repeat of "p q r"
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(d, "doc_id", "text", 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // doc 2: flagged gram positions 3,4,5 merge into one span [3, 7]
    // doc 4: second "p q r" occurrence (pos 7) → span [7, 9]
    // doc 1 is the corpus-first winner everywhere; docs 1 and 3 emit nothing
    assert(out == Set((2L, 1L, 3L, 7L, 5L, 3L), (4L, 1L, 7L, 9L, 3L, 1L)), out.toString)
  }

  test("repeatedSpans: a gap > n between flagged grams starts a new span") {
    val shared1 = "alpha beta gamma delta"          // 4 words → two 3-grams
    val shared2 = "omega sigma tau upsilon"
    val filler = (1 to 12).map(i => s"f$i").mkString(" ")
    val d = Seq(
      (1L, s"$shared1 $shared2"),
      (2L, s"$shared1 $filler $shared2")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(d, "doc_id", "text", 3)
      .where(col("doc_id") === 2)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    // doc 2: shared1 at words 1-4, shared2 at words 17-20 — far apart, two spans
    assert(spans == Set((1L, 4L), (17L, 20L)), spans.toString)
  }

  test("repeatedSpansMaximal: a planted 200-token repeat is ONE maximal span with exact alignment, not a tiling") {
    // unique filler vocabulary per doc (no accidental repeats); one
    // 200-token block planted into doc 1 (canonical) at offset 51 and
    // doc 3 at offset 31
    val block = (0 until 200).map(i => s"rep$i").mkString(" ")
    def filler(d: Int, n0: Int, n1: Int) = (n0 until n1).map(i => s"u${d}w$i").mkString(" ")
    val d = Seq(
      (1L, s"${filler(1, 0, 50)} $block ${filler(1, 50, 80)}"),
      (2L, filler(2, 0, 120)),
      (3L, s"${filler(3, 0, 30)} $block ${filler(3, 30, 60)}")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpansMaximal(d, "doc_id", "text", n = 10, minTokens = 50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // exactly ONE span: doc 3's copy, 200 tokens, starting at word 31,
    // aligned to doc 1's copy at word 51; doc 1 (canonical) emits nothing
    assert(out.length == 1, out.mkString("; "))
    val (id, anchor, start, end, nTok, aStart, nGrams) = out.head
    assert(id == 3L && anchor == 1L, out.head.toString)
    assert(start == 31L && end == 230L && nTok == 200L, out.head.toString)
    assert(aStart == 51L, out.head.toString)
    assert(nGrams == 191L, s"200-token repeat = 191 10-gram windows, got $nGrams")
    // the fixed-n tiling construction reports the same REGION but cannot
    // verify the alignment or the partner — the maximal variant adds both
    val tiled = Dedup.repeatedSpans(d, "doc_id", "text", 10)
      .where(col("doc_id") === 3).collect()
    assert(tiled.length == 1 && tiled.head.getLong(2) == 31L)
    // two DIFFERENT adjacent repeats (anchored in different docs) split
    // into two aligned spans instead of fusing into one mosaic region
    val blockA = (0 until 60).map(i => s"pa$i").mkString(" ")
    val blockB = (0 until 60).map(i => s"pb$i").mkString(" ")
    val d2 = Seq(
      (1L, s"${filler(4, 0, 20)} $blockA ${filler(4, 20, 40)}"),
      (2L, s"${filler(5, 0, 20)} $blockB ${filler(5, 20, 40)}"),
      (3L, s"$blockA $blockB")
    ).toDF("doc_id", "text")
    val spans2 = Dedup.repeatedSpansMaximal(d2, "doc_id", "text", n = 10, minTokens = 50)
      .where(col("doc_id") === 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans2 == Set((1L, 1L, 60L), (2L, 61L, 120L)), spans2.toString)
    // the tiling construction fuses them into one 120-token mosaic
    val mosaic = Dedup.repeatedSpans(d2, "doc_id", "text", 10)
      .where(col("doc_id") === 3).collect()
    assert(mosaic.length == 1 && mosaic.head.getLong(4) == 120L)
  }

  test("repeatedSpansMaximal: chained earlier-copy interior (A ⊂ B ⊂ C) — the measured under-merge: split spans, full coverage, zero false spans") {
    // A carries the earliest copy of the 10-token inner phrase P; B the
    // earliest copy of the 30-token Q = prefix·P·suffix; C repeats Q in
    // full. C's P-interior grams anchor to A (canonical), the rest of Q's
    // grams to B — the documented canonical-anchor split. This measures
    // it: C emits THREE overlapping spans where suffix arrays would emit
    // one 30-token span vs B, but their union covers Q completely and
    // every span is a true aligned repeat (verified token-for-token).
    val inner = (0 until 10).map(i => s"p$i").mkString(" ")
    val q = (0 until 10).map(i => s"q$i").mkString(" ") + s" $inner " +
      (0 until 10).map(i => s"r$i").mkString(" ")
    val d = Seq(
      (1L, s"a0 a1 a2 $inner a3 a4 a5"),  // A: P at tokens 4..13
      (2L, s"b0 b1 $q b2 b3"),            // B: Q at tokens 3..32
      (3L, s"c0 $q c1 c2")                // C: Q at tokens 2..31
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpansMaximal(d, "doc_id", "text", n = 5, minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(5)))
    // B repeats only P (vs A); C splits into prefix+boundary vs B, the
    // P interior vs A, boundary+suffix vs B
    val bSpans = spans.filter(_._1 == 2L).toSet
    val cSpans = spans.filter(_._1 == 3L).toSet
    assert(bSpans == Set((2L, 1L, 13L, 22L, 4L)), bSpans.toString)
    assert(cSpans == Set(
      (3L, 2L, 2L, 15L, 3L),    // q-prefix + boundary windows, vs B
      (3L, 1L, 12L, 21L, 4L),   // P interior, vs A
      (3L, 2L, 18L, 31L, 19L)), // boundary + q-suffix, vs B
      cSpans.toString)
    // full coverage: the split spans jointly cover C's whole Q occurrence
    val covered = cSpans.flatMap { case (_, _, s, e, _) => (s to e).toSet }
    assert(covered == (2L to 31L).toSet, "the under-merge must not lose tokens")
    // zero false spans: every emitted span aligns token-for-token
    val toks = d.collect().map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    spans.foreach { case (id, aid, s, e, as) =>
      val got = toks(id).slice(s.toInt - 1, e.toInt)
      val want = toks(aid).slice(as.toInt - 1, as.toInt - 1 + (e - s + 1).toInt)
      assert(got.sameElements(want), s"span ($id,$aid,$s,$e,$as) misaligned")
    }
  }

  test("spanCuts: the A ⊂ B ⊂ C split fuses back into ONE trainer cut; containment cannot re-open an island; adjacency merges") {
    // same fixture as the under-merge measurement above: C's three
    // overlapping aligned spans must union to the one region a trainer
    // excises — the suffix-array cut list, recovered at the cut level
    val inner = (0 until 10).map(i => s"p$i").mkString(" ")
    val q = (0 until 10).map(i => s"q$i").mkString(" ") + s" $inner " +
      (0 until 10).map(i => s"r$i").mkString(" ")
    val d = Seq(
      (1L, s"a0 a1 a2 $inner a3 a4 a5"),
      (2L, s"b0 b1 $q b2 b3"),
      (3L, s"c0 $q c1 c2")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpansMaximal(d, "doc_id", "text", n = 5, minTokens = 5)
    val cuts = Dedup.spanCuts(spans, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(cuts == Set(
      (2L, 1L, 13L, 22L, 10L, 1L, 1L),   // B: its single span vs A
      (3L, 1L, 2L, 31L, 30L, 3L, 2L)),   // C: 3 spans, 2 anchors → ONE cut
      cuts.toString)
    // a short span strictly INSIDE an earlier long one must not re-open
    // an island (running max(end), not lag(end)); a real gap must
    val s2 = Seq((9L, 7L, 10L, 40L), (9L, 8L, 15L, 20L), (9L, 7L, 42L, 60L))
      .toDF("doc_id", "anchor_id", "span_start", "span_end")
    val c2 = Dedup.spanCuts(s2, "doc_id").orderBy("cut_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5),
        r.getLong(6)))
    assert(c2.toSeq == Seq((1L, 10L, 40L, 2L, 2L), (2L, 42L, 60L, 1L, 1L)),
      c2.mkString(";"))
    // back-to-back intervals (next start = end + 1) are one contiguous cut
    val s3 = Seq((1L, 2L, 1L, 5L), (1L, 3L, 6L, 9L))
      .toDF("doc_id", "anchor_id", "span_start", "span_end")
    assert(Dedup.spanCuts(s3, "doc_id").count() == 1)
  }

  test("lmScoreBigram: hand-computed interpolated NLL; one-word docs score the unigram term alone") {
    // corpus: uni a=3 b=3 c=1 (T=7); ctx a=3 b=1; types (a,b)=3 (b,a)=1
    // lp(a,b) = lp(b,a) = round(ln(0.75·1 + 0.25·3/7), 6) = −0.154151
    // lp1(a) = round(ln(3/7), 6) = −0.847298; lp1(c) = round(ln(1/7), 6)
    val d = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreBigram(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((4L, 3L, 1.309751)), out(1L).toString)
    assert(out(2L) == ((2L, 1L, 1.001449)), out(2L).toString)
    assert(out(3L) == ((1L, 0L, 1.94591)), out(3L).toString)
  }

  test("softDedupScores: unique doc scores 0 / weight 1; exact pair scores 0.5 / weight 0.75; short and null docs are deterministic") {
    val unique = (0 until 20).map(i => s"u$i").mkString(" ")
    val copyA = (0 until 20).map(i => s"c$i").mkString(" ")
    val d = Seq(
      (1L, unique),                 // every 4-gram unique → 0
      (2L, copyA), (3L, copyA),     // every 4-gram cnt=2 → (2-1)/2 = 0.5
      (4L, "a b c"),                // < n words → no grams
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val rows = Dedup.softDedupScores(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(rows(1L) == ((17L, 0.0, 1.0)), rows(1L).toString)
    assert(rows(2L) == ((17L, 0.5, 0.75)) && rows(3L) == ((17L, 0.5, 0.75)),
      rows.toString)
    assert(rows(4L) == ((0L, 0.0, 1.0)) && rows(5L) == ((0L, 0.0, 1.0)),
      rows.toString)
  }

  test("c4LineFilter: line rules (terminal punct, ≥5 words, javascript) and page rules (lorem, brace, <3 kept)") {
    val d = Seq(
      (1L, "this first line carries plenty of words to keep.\nshort one.\n" +
        "no terminal punctuation at all here\n" +
        "please enable JavaScript now to proceed further.\n" +
        "a second proper sentence closes the page cleanly.\n" +
        "a third proper sentence closes the page cleanly!"),
      (2L, "a good sentence with enough words right here.\n" +
        "another good sentence with enough words follows.\n" +
        "lorem ipsum dolor sit amet is planted here.\n" +
        "the last proper sentence closes this page too."),
      (3L, "function f() { return 1; } is code.\n" +
        "yet another complete sentence with enough words here.\n" +
        "one more complete sentence with enough words again.\n" +
        "a third complete sentence with enough words too."),
      (4L, "only two proper sentences live on this page.\n" +
        "here is the second and final proper sentence."),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4LineFilter(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: 6 lines, kept = 1/5/6 (short, no-punct, javascript dropped)
    assert(out(1L).getLong(1) == 6 && out(1L).getLong(2) == 3, out(1L).toString)
    assert(out(1L).getBoolean(6) &&
      out(1L).getString(7).linesIterator.size == 3, out(1L).toString)
    // doc 2: enough kept lines, but lorem ipsum poisons the page
    assert(out(2L).getBoolean(4) && !out(2L).getBoolean(6) && out(2L).isNullAt(7))
    // doc 3: curly brace poisons the page
    assert(out(3L).getBoolean(5) && !out(3L).getBoolean(6))
    // doc 4: two kept lines < 3 → page dropped
    assert(out(4L).getLong(2) == 2 && !out(4L).getBoolean(6))
    // null text is deterministic: one empty line, nothing kept, dropped
    assert(out(5L).getLong(1) == 1 && out(5L).getLong(2) == 0 &&
      !out(5L).getBoolean(6))
  }

  test("urlNormalize: scheme/www/fragment strip, tracking params dropped order-preserved, trailing slash, registered domain") {
    val d = Seq(
      (1L, "HTTPS://WWW.Sub.News.Example.COM/a/b/?utm_source=x&id=7&ref=rss&page=2#frag"),
      (2L, "http://example.org/path"),
      (3L, "https://cdn.media.example.net/img/"),
      (4L, "example.io")  // schemeless bare host
    ).toDF("id", "url")
    val out = TextAnalysis.urlNormalize(d, "url").collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getString(3), r.getString(4)))).toMap
    assert(out(1L) == (("sub.news.example.com/a/b?id=7&page=2",
      "sub.news.example.com", "example.com")), out(1L).toString)
    assert(out(2L) == (("example.org/path", "example.org", "example.org")))
    assert(out(3L) == (("cdn.media.example.net/img", "cdn.media.example.net",
      "example.net")))
    assert(out(4L) == (("example.io", "example.io", "example.io")))
  }

  test("domainCap: at most cap survivors per domain, rank dense from 1, deterministic across runs, ties broken by id") {
    val d = Seq.tabulate(40)(i => (i.toLong, s"text ${i % 4}", s"d${i % 4}.example"))
      .toDF("doc_id", "text", "domain")
    def run() = TextAnalysis.domainCap(d, "doc_id", "text", "domain", cap = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getBoolean(3)))
    val out = run()
    out.groupBy(_._2).foreach { case (dom, rows) =>
      assert(rows.count(_._4) == 5, s"$dom kept ${rows.count(_._4)}")
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"$dom ranks not dense")
    }
    // identical texts within a domain → md5 ties → id breaks them: the
    // five smallest ids of each domain survive, and two runs agree
    out.filter(_._4).groupBy(_._2).foreach { case (dom, kept) =>
      val ids = out.filter(_._2 == dom).map(_._1).sorted.take(5).toSet
      assert(kept.map(_._1).toSet == ids, s"$dom kept ${kept.map(_._1).toSet}")
    }
    assert(out.sortBy(x => (x._2, x._3)).sameElements(
      run().sortBy(x => (x._2, x._3))))
  }

  test("packBinsFfd: whole docs keep boundaries at near-emit utilization; oversized docs split into dedicated chunks + a packed tail") {
    import graft.queries.Tables
    val docs = Tables.documents(spark, graft.TestSpark.sf)
    val budget = 512
    val bins = TextAnalysis.packBinsFfd(docs, "doc_id", "text", budget, "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    val emit = TextAnalysis.packEmit(docs, "doc_id", "text", budget, "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // FFD never overfills a bin
    bins.groupBy(b => (b._1, b._2)).foreach { case (bin, spans) =>
      val tokens = spans.map(s => s._5 - s._4).sum
      assert(tokens <= budget, s"bin $bin overflows: $tokens")
    }
    // every doc appears with its full token mass, exactly once per token
    val perDocFfd = bins.groupBy(_._3).view.mapValues(_.map(s => s._5 - s._4).sum)
    val perDocEmit = emit.groupBy(_._3).view.mapValues(_.map(s => s._5 - s._4).sum)
    assert(perDocFfd.toMap == perDocEmit.toMap, "token mass must be conserved")
    // the headline trade: FFD keeps EVERY under-budget doc whole, where
    // concat-split fragments every chunk-straddling doc; utilization stays
    // within 15% of concat-split's (which is perfect by construction)
    val fracFfd = bins.count(_._6).toDouble / bins.groupBy(_._3).size
    val wholeEmit = emit.groupBy(_._3).count { case (_, spans) => spans.length == 1 }
    val fracEmit = wholeEmit.toDouble / emit.groupBy(_._3).size
    info(f"whole-doc fraction: FFD $fracFfd%.3f vs concat-split $fracEmit%.3f")
    assert(fracFfd == 1.0, s"no fixture doc exceeds the budget, all must stay whole: $fracFfd")
    assert(fracEmit < 1.0, "concat-split must fragment chunk-straddlers on this corpus")
    val ffdBins = bins.map(b => (b._1, b._2)).distinct.length
    val emitChunks = emit.map(e => (e._1, e._2)).distinct.length
    info(s"bins: FFD $ffdBins vs concat-split chunks $emitChunks")
    assert(ffdBins <= math.ceil(emitChunks * 1.15).toInt + 5,
      s"FFD utilization must stay near concat-split's: $ffdBins vs $emitChunks")
    // oversized doc: full 512-token chunks in dedicated bins, tail packed
    val words = (0 until 1100).map(i => s"w$i").mkString(" ")
    val d2 = Seq((1L, "s", words), (2L, "s", (0 until 100).map(i => s"v$i").mkString(" ")),
      (3L, "s", (0 until 300).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out2 = TextAnalysis.packBinsFfd(d2, "doc_id", "text", budget, "source")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    val doc1 = out2.filter(_._2 == 1L).sortBy(_._3)
    assert(doc1.map(s => (s._3, s._4)).toSeq == Seq((0L, 512L), (512L, 1024L), (1024L, 1100L)),
      doc1.mkString("; "))
    assert(doc1.forall(!_._5), "split doc spans are never whole_doc")
    // the 76-token tail shares a bin with the 300- and 100-token docs
    // (FFD order: 300, 100, 76 -> all fit one 512 bin)
    val tailBin = doc1.find(_._3 == 1024L).get._1
    val binMates = out2.filter(_._1 == tailBin).map(_._2).toSet
    assert(binMates == Set(1L, 2L, 3L), s"tail must pack with whole docs: $binMates")
  }

  test("bm25: scores match the closed-form formula; unmatched docs absent; top-k bounded") {
    val d = Seq(
      (1L, "x x x a"), (2L, "a b"), (3L, "b b c"), (4L, "c")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "a b")).toDF("query_id", "qtext")
    val out = TextAnalysis.bm25(d, "doc_id", "text", qs, k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // closed form: N=4, avgdl=2.5, df(a)=df(b)=2, idf=ln(2); contributions
    // rounded to 6 dp before the sum, like the operator
    def c(tf: Double, dl: Double): Double = {
      val idf = math.log((4 - 2 + 0.5) / (2 + 0.5) + 1)
      val raw = idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.5))
      math.rint(raw * 1e6) / 1e6
    }
    val exp2 = c(1, 2) + c(1, 2)   // doc 2 matches both terms
    val exp3 = c(2, 3)             // doc 3: tf(b)=2
    assert(out.map(_._1).toSeq == Seq(2L, 3L), out.mkString(","))
    assert(out.map(_._2).toSeq == Seq(1L, 2L))
    assert(math.abs(out(0)._3 - exp2) < 1e-9 && math.abs(out(1)._3 - exp3) < 1e-9,
      out.mkString(",") + s" expected $exp2, $exp3")
  }

  test("lmScore: per-doc nll matches the closed-form unigram model") {
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: a×2, b×2, c×1, total 5; lp rounded to 6 dp like the operator
    def lp(c: Double) = math.rint(math.log(c / 5.0) * 1e6) / 1e6
    val nll1 = math.rint(-(2 * lp(2) + 1 * lp(2)) * 1e6) / 1e6
    val nll2 = math.rint(-(lp(2) + lp(1)) * 1e6) / 1e6
    assert(out(1L) == ((3L, nll1)) && out(2L) == ((2L, nll2)), out.toString)
  }

  test("ngramJaccard: prefix-filtered and naive paths produce identical output") {
    val d = Tables10
    val naive = Dedup.ngramJaccard(d, "doc_id", "text", 3, 0.6, Some(false))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = Dedup.ngramJaccard(d, "doc_id", "text", 3, 0.6, Some(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive == prefix)
  }

  test("duplicateClusters: local and distributed paths agree (min-id labels)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L))
      .toDF("id_a", "id_b")
    val ids = (1L to 10L).toDF("id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 10L)
    val local = Dedup.duplicateClusters(pairs, ids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expected)
    val distributed = Dedup.duplicateClusters(pairs, ids, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == expected)
  }

  test("degenerate inputs: empty and sub-shingle-length docs don't break dedup") {
    val weird = Seq((1L, ""), (2L, "one"), (3L, "two words"),
      (4L, "now three words here for real"), (5L, "now three words here for real"))
      .toDF("doc_id", "text")
    // shingle set empty for docs 1-3 at n=3 → they join nothing, crash nothing
    val mh = Dedup.minhashLsh(weird, "doc_id", "text", 3, 32, 4, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.toSeq == Seq((4L, 5L)))
    val ng = Dedup.ngramJaccard(weird, "doc_id", "text", 3, 0.6, Some(false))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ng.toSeq == Seq((4L, 5L)))
    val sh = Dedup.simhashPairs(weird, "doc_id", "text", 3).collect()
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).contains((4L, 5L)))
    assert(Dedup.exact(weird, "doc_id", "text").count() == 5)
  }

  test("duplicateClusters: paths agree on random graphs (property)") {
    val rnd = new scala.util.Random(7)
    (0 until 5).foreach { _ =>
      val n = 20
      val edges = (0 until 15).map(_ => {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }).filter(p => p._1 != p._2).distinct
      val pairs = edges.toDF("id_a", "id_b")
      val ids = (0L until n.toLong).toDF("id")
      val local = Dedup.duplicateClusters(pairs, ids)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.duplicateClusters(pairs, ids, localThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist)
      // labels are component minima: every label ≤ its node and is a fixpoint
      assert(local.forall { case (id, lab) => lab <= id && local(lab) == lab })
    }
  }

  test("trainTestSplit is deterministic and content-based") {
    val t = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("doc_id", "text")
    val out = Dedup.trainTestSplit(t, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out(0)._2 == out(2)._2 && out(0)._3 == out(2)._3) // same content → same split
    assert(out.forall(r => (r._2 < 80) == (r._3 == "train")))
  }

  test("text analysis: token counts, langid priority, fingerprint normalization") {
    val t = Seq((1L, "the cat and the dog"), (2L, "der hund und die katze"),
      (3L, "  The   Cat  and the dog "), (4L, "qq rr zz"))
      .toDF("doc_id", "text")
    val tok = t.select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("ws"),
        TextAnalysis.tokenCountBpe(col("text")).as("bpe"))
      .orderBy("doc_id").collect()
    assert(tok(0).getInt(1) == 5 && tok(2).getInt(1) == 5)
    val lang = t.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(lang(0) == "en" && lang(1) == "de" && lang(3) == "en") // zero scores → en priority
    val fp = TextAnalysis.fingerprints(t, "doc_id", "text").orderBy("doc_id").collect()
    assert(fp(0).getString(1) == fp(2).getString(1)) // whitespace/case-normalized equal
    assert(fp(0).getLong(2) == fp(2).getLong(2))
  }

  test("budgetMix: per-source quota fills in content-hash order, boundary doc excluded") {
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "d e f g", "s1"), (3L, "h i", "s1"),
      (4L, "j k l m n", "s2")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.budgetMix(docs, "doc_id", "text", "source", budget = 5L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // reference fold: same md5-hex priority, same cumulative rule
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val s1 = Seq((1L, "a b c", 3L), (2L, "d e f g", 4L), (3L, "h i", 2L))
      .sortBy { case (id, t, _) => (md5hex(t), id) }
    var cum = 0L
    s1.foreach { case (id, _, n) =>
      cum += n
      assert(out(id) == ((n, cum, cum <= 5L)), s"doc $id: ${out(id)} vs ($n, $cum)")
    }
    assert(out(4L) == ((5L, 5L, true))) // s2's quota is independent of s1's
    assert(s1.map(t => out(t._1)._3).count(identity) >= 1,
      "at least the first-priority doc must fit")
  }

  test("lmScoreFromModel: equals lmScore on the training corpus; OOV words drop out") {
    val docs = Seq((1L, "cat dog cat"), (2L, "dog bird")).toDF("doc_id", "text")
    val model = TextAnalysis.lmModel(docs, "text")
    val live = TextAnalysis.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val stored = TextAnalysis.lmScoreFromModel(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(stored == live)
    // a doc with one in-model word and one unseen word: n_words counts
    // both, the NLL sums only the modeled word
    val probe = Seq((9L, "cat zebra")).toDF("doc_id", "text")
    val r = TextAnalysis.lmScoreFromModel(probe, "doc_id", "text", model)
      .head()
    assert(r.getLong(1) == 2L)
    val expected = math.round(-math.log(2.0 / 5.0) * 1e6) / 1e6 // cat: cnt 2 of 5
    assert(math.abs(r.getDouble(2) - expected) < 1e-9, s"${r.getDouble(2)} vs $expected")
    // an ALL-OOV doc still gets a row (nll 0) — it must not vanish from
    // the per-doc table a perplexity gate consumes
    val oov = TextAnalysis.lmScoreFromModel(
        Seq((10L, "qq rr")).toDF("doc_id", "text"), "doc_id", "text", model)
      .collect()
    assert(oov.length == 1 && oov(0).getLong(1) == 2L && oov(0).getDouble(2) == 0.0)
  }

  test("bpeDocTokensFromMerges: stored merge-list replay equals live training") {
    val docs = graft.queries.Tables.documents(spark, graft.TestSpark.sf).limit(120)
    val mergeList = TextAnalysis.bpeTrain(docs, "text", merges = 64, batch = 8)
      .orderBy("rank").select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(mergeList.nonEmpty)
    val live = TextAnalysis.bpeDocTokens(docs, "doc_id", "text",
        merges = 64, batch = 8)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val stored = TextAnalysis.bpeDocTokensFromMerges(docs, "doc_id", "text",
        mergeList)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(stored == live)
  }

  test("semanticDedup: earlier cluster member wins; exact copy caught at cos 1; keepers null") {
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.05, 0.0, 0.0)), // near-dup of 0, same cluster
      (3L, Seq(1.0, 0.0, 0.0, 0.0)),  // exact copy of 0
      (4L, Seq(0.0, 1.0, 0.05, 0.0))) // near-dup of 1, other cluster
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding", k = 2, iters = 2,
        threshold = 0.9)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getBoolean(4) && out(1L).getBoolean(4)) // cluster seeds kept
    assert(out(2L).getLong(2) == 0L && !out(2L).getBoolean(4))
    assert(out(3L).getLong(2) == 0L && out(3L).getDouble(3) == 1.0)
    assert(out(4L).getLong(2) == 1L && !out(4L).getBoolean(4))
    // the two clusters never cross: every dup_of shares its owner's cluster
    val byId = out.view.mapValues(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    byId.values.filter(_._2 >= 0).foreach { case (cl, dof) =>
      assert(byId(dof)._1 == cl)
    }
  }

  test("bloomFromHashes honors the requested sketch geometry past Catalyst's 8 MB clamp") {
    // Catalyst's BloomFilterAggregate (and stat.bloomFilter over it)
    // silently caps sketches at maxNumBits = 67,108,864; the direct
    // build must NOT — a 20M-item request needs ~191.7M bits, and
    // falling back to the clamped path would collapse the candidate
    // prune at exactly the corpus sizes the operator targets
    val hashes = spark.range(1000)
      .select(md5(col("id").cast("string")).as("h"))
    val bytes = Dedup.bloomFromHashes(hashes, expectedItems = 20000000L, fpp = 0.01)
    val needed = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(20000000L, 0.01)
    assert(bytes.length.toLong * 8 >= needed,
      s"sketch is ${bytes.length * 8L} bits — the Catalyst clamp resurfaced")
    // and the serialized form still answers probes through the Catalyst
    // predicate (shared stream format)
    val cand = hashes.where(Dedup.bloomMightContain(bytes,
      col("h"))).count()
    assert(cand == 1000L, s"every inserted hash must probe true, got $cand")
  }

  test("knnClassify: majority vote wins; vote ties break to the best-ranked label") {
    val labeled = Seq(
      (100L, Seq(1.0, 0.0, 0.0), 1),
      (101L, Seq(0.9, 0.1, 0.0), 1),
      (102L, Seq(0.0, 1.0, 0.0), 2),
      (103L, Seq(0.1, 0.9, 0.0), 2),
      (104L, Seq(0.0, 0.0, 1.0), 3)).toDF("vec_id", "embedding", "label")
    // q1 sits in label-1 territory: k=3 → two label-1 votes
    val q1 = Seq((1L, Seq(1.0, 0.05, 0.0))).toDF("vec_id", "embedding")
    val r1 = Similarity.knnClassify(labeled, q1, "vec_id", "embedding", "label",
      "vec_id", k = 3).collect()
    assert(r1.length == 1 && r1.head.getLong(1) == 1L && r1.head.getLong(2) == 2L)
    // q2 leans to label 2: k=2 → one vote each, rank-1 neighbor is 102 → label 2
    val two = labeled.where(col("vec_id").isin(100L, 102L))
    val q2 = Seq((2L, Seq(0.6, 0.8, 0.0))).toDF("vec_id", "embedding")
    val r2 = Similarity.knnClassify(two, q2, "vec_id", "embedding", "label",
      "vec_id", k = 2).collect()
    assert(r2.head.getLong(1) == 2L && r2.head.getLong(2) == 1L &&
      r2.head.getLong(3) == 1L)
    // classifier second half composes over any neighbor table (contract reuse)
    val nb = Similarity.knnJoin(labeled, q1, "vec_id", "embedding", "vec_id", k = 3)
    val r3 = Similarity.knnClassifyFrom(nb, labeled, "vec_id", "label").collect()
    assert(r3.toSeq.map(_.toSeq) == r1.toSeq.map(_.toSeq))
  }

  test("dedupIncrementalBloom equals dedupIncremental; sketch prunes; saturated sketch stays exact") {
    val t = graft.queries.Tables.documents(spark, graft.TestSpark.sf)
    val corpus = t.where(col("doc_id") < 300)
    val batch = t.where(col("doc_id") >= 300 && col("doc_id") < 350)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")) // fresh content
      .unionByName(t.where(col("doc_id") < 5)
        .select((col("doc_id") + 20000).as("doc_id"), col("text"))) // corpus dups
      .unionByName(Seq((30000L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    val base = rows(Dedup.dedupIncremental(batch, corpus, "doc_id", "text"))
    val bloomed = rows(Dedup.dedupIncrementalBloom(batch, corpus, "doc_id", "text",
      expectedCorpusItems = 100000L, fpp = 0.01))
    assert(bloomed == base)
    // the sketch admits only the true corpus dups plus the fpp share:
    // 5 planted dups out of 56 batch rows, 1% fpp → candidates ≪ batch
    val bloom = Dedup.corpusBloom(corpus, "text", 100000L, 0.01)
    val h = Dedup.contentHashSafe(col("text"))
    val cand = batch.where(Dedup.bloomMightContain(bloom, h)).count()
    assert(cand >= 5 && cand <= 10, s"candidates=$cand")
    // a deliberately undersized, saturated sketch passes (nearly) every row
    // through to the exact-confirm join — slower, never wrong
    val sat = rows(Dedup.dedupIncrementalBloom(batch, corpus, "doc_id", "text",
      expectedCorpusItems = 1L, fpp = 0.5))
    assert(sat == base)
    // empty corpus: a zero-insertion sketch rejects every probe — all novel
    val none = rows(Dedup.dedupIncrementalBloom(batch, corpus.limit(0),
      "doc_id", "text", expectedCorpusItems = 100L))
    assert(none.forall(r => r._2 != "dup_of_corpus"))
    assert(none.count(_._3) == batch.select("text").distinct().count())
  }

  test("gopherFilter: each rule trips on its violation; keep is the conjunction") {
    val goodWords = Seq("the", "pipeline", "and", "that", "data", "have", "with", "rows")
    val docs = Seq(
      (1L, Seq.fill(8)(goodWords).flatten.mkString(" ")),          // 64 clean words → keep
      (2L, goodWords.mkString(" ")),                               // 8 words → f_words fails
      (3L, Seq.fill(60)("12").mkString(" ")),                      // len-2 digits → word_len+alpha fail
      (4L, Seq.fill(8)(goodWords.map(_ + "#")).flatten.mkString(" ")), // 64 symbols/64 words → f_symbol fails
      (5L, (Seq.fill(19)("- bullet item") :+ "the end and that have with of to").mkString("\n")),
      (6L, (Seq.fill(4)("trailing off...") ++ Seq.fill(6)("the and that have with of to be solid")).mkString("\n")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    def flag(id: Long, f: String) = out(id).getBoolean(out(id).fieldIndex(f))
    assert(flag(1L, "keep"))
    assert(!flag(2L, "f_words") && flag(2L, "f_word_len") && !flag(2L, "keep"))
    assert(!flag(3L, "f_word_len") && !flag(3L, "f_alpha"))
    assert(!flag(4L, "f_symbol") && flag(4L, "f_alpha"))
    assert(!flag(5L, "f_bullet")) // 19/20 lines bulleted > 0.9
    assert(!flag(6L, "f_ellipsis")) // 4/10 lines end with ... > 0.3
    // measured features behind the flags
    assert(out(1L).getLong(out(1L).fieldIndex("n_words")) == 64)
    assert(out(4L).getDouble(out(4L).fieldIndex("symbol_ratio")) == 1.0)
    assert(out(6L).getDouble(out(6L).fieldIndex("ellipsis_ratio")) == 0.4)
  }

  test("multimodal: media schema, stub decode features, frame sampling") {
    val docs2 = Seq((0L, "abc"), (1L, "defg"), (2L, "hi")).toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs2, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "kind", "payload", "meta"))
    val m0 = media.where(col("media_id") === 0).head()
    assert(m0.getAs[Array[Byte]]("payload").toSeq == "abc".getBytes("UTF-8").toSeq)
    val feats = Multimodal.decodeFeatures(media).orderBy("media_id").collect()
    assert(feats.length == 3 && feats.forall(_.getBoolean(3)))
    assert(feats.head.getSeq[Double](2).take(3).toSeq ==
      Multimodal.DecodeStub.decodeOne("abc".getBytes("UTF-8")).take(3).toSeq)
    val frames = Multimodal.sampleFrames(media, stride = 2)
    val vids = media.where(col("kind") === "video").select("media_id", "meta.n_frames").collect()
    val expected = vids.map(r => (r.getInt(1) + 1) / 2).sum
    assert(frames.count() == expected)
  }

  test("phash: spectral-class byte permutations preserve the sketch; featureless media have none; radius-3 banding is exhaustive") {
    // swapping bytes within the same spectral class (positions ≡ mod 64)
    // is a perceptual no-op: every coefficient is exactly preserved →
    // Hamming 0
    def sk(t: String): Option[Long] =
      Multimodal.phashKernel(
        Multimodal.DecodeStub.decodeSpectral(t.getBytes("UTF-8")))
    val base = "the quick brown fox jumps over the lazy dog near a wide " +
      "slow river bend while herons stand watching for silver fish"
    assert(base.length > 64 && base(0) != base(64))
    val swapped = base(64) + base.substring(1, 64) + base(0) + base.substring(65)
    assert(swapped != base)
    assert(sk(base).isDefined && sk(base) == sk(swapped))
    // a DIFFERENT-class swap (positions 0 and 8) now changes the decoded
    // coefficients — the 8-dim histogram's blind spot (it mapped both
    // strings to identical features) the spectral decode closes; the
    // SKETCH may still agree at Hamming 0, which is exactly what a
    // perceptual hash should do for a one-pair byte perturbation
    val offClass = base(8) + base.substring(1, 8) + base(0) + base.substring(9)
    assert(!java.util.Arrays.equals(
      Multimodal.DecodeStub.decodeSpectral(offClass.getBytes("UTF-8")),
      Multimodal.DecodeStub.decodeSpectral(base.getBytes("UTF-8"))))
    // featureless: an empty payload has u ≡ 0 and no perceptual identity
    assert(sk("").isEmpty)
    // uniform bytes are NOT featureless under the dense spectral fold
    assert(sk("aaaaaaaa" * 4).isDefined)
    // pairs: planted swap recovered at Hamming 0; banding = brute force
    val docs2 = Seq(
      (1L, base), (2L, swapped),
      (3L, "completely different content about spark engines and columns"),
      (4L, "another unrelated string with its own byte histogram profile x"),
      (5L, base + " extra tail words changing several spectral classes more"))
      .toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs2, "doc_id", "text")
    val pairs = Multimodal.phashPairs(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 2L, 0L)), pairs.toString)
    // brute-force radius-3 ground truth over the sketches
    val sigs = Multimodal.phashSketches(media)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(pairs == brute, s"banded $pairs vs brute $brute")
  }

  test("phashIncremental: planted perceptual dup matches its donor at Hamming 0; fresh and unsketchable batch rows keep") {
    val base = "the quick brown fox jumps over the lazy dog near the wide " +
      "slow river bend where herons stand watching for silver fish"
    assert(base.length > 64 && base(0) != base(64))
    val corpus = Seq((1L, base),
      (2L, "completely different content about spark query engines zz"),
      (3L, "yet another corpus document with its own byte level profile"))
      .toDF("doc_id", "text")
    val sigs = Multimodal.phashSketches(
      Multimodal.asMedia(corpus, "doc_id", "text"))
    val batch = Multimodal.asMedia(Seq(
      (100L, base(64) + base.substring(1, 64) + base(0) + base.substring(65)),
      (101L, "ZQXJKVBWPY MMNHGFDSA 0192837465 entirely alien spectrum!!!"),
      (102L, "") // featureless: empty payload has no perceptual identity
    ).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.phashIncremental(batch, sigs)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))),
          r.getBoolean(3))).toMap
    assert(out(100L) == ((Some((1L, 0L)), false)), out.toString)
    assert(out(101L)._2, out.toString)     // fresh content keeps
    assert(out(102L) == ((None, true)), out.toString) // no perceptual identity
  }

  test("frameDupGroups: a duplicate video shares every sampled frame; canonical is min (media, frame)") {
    // ids ≡ 2 (mod 3) are video-kind; 2 and 5 duplicate payloads
    val vid = "frame one content frame two content frame three content!"
    val docs2 = Seq((2L, vid), (5L, vid),
      (8L, "a distinct video payload with entirely different frames here"))
      .toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs2, "doc_id", "text")
    val groups = Multimodal.frameDupGroups(media, stride = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // ground truth from the sketch table itself (tiny slices collide
    // across frames, so groups are per-SIGNATURE, not per-frame)
    val fs = Multimodal.frameSketches(media, stride = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = fs.groupBy(_._3).filter(_._2.map(_._1).distinct.length >= 2)
      .map { case (sig, rows) =>
        val ck = rows.map { case (m, f, _) => m * 1048576L + f }.min
        (sig, rows.length.toLong, rows.map(_._1).distinct.length.toLong,
          ck / 1048576L, ck % 1048576L)
      }.toSet
    assert(groups == expected, s"$groups vs $expected")
    assert(groups.nonEmpty)
    // the duplicate pair guarantees recovery: EVERY sampled frame of
    // video 2 (mirrored exactly by video 5) sits in some dup group, and
    // video 2 is always the canonical holder (min media id present)
    val dupSigs = groups.map(_._1)
    fs.filter(_._1 == 2L).foreach { case (_, f, sig) =>
      assert(dupSigs.contains(sig), s"frame $f of the dup video not grouped")
    }
    groups.foreach { case g => assert(g._4 == 2L, g.toString) }
  }

  test("frameNearDupGroups: components equal a brute-force union-find at radius 3; radius 0 reproduces the exact-signature groups") {
    val vid = "frame one content frame two content frame three content!"
    val docs2 = Seq((2L, vid), (5L, vid),
      (8L, "a distinct video payload with entirely different frames here"),
      (11L, "yet another clip whose sliced frames have their own spectra"))
      .toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs2, "doc_id", "text")
    val fs = Multimodal.frameSketches(media, stride = 2).collect()
      .map(r => (r.getLong(0) * 1048576L + r.getLong(1), r.getLong(2)))
    // brute-force union-find over ALL frame pairs at Hamming <= 3
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    for { (ia, sa) <- fs; (ib, sb) <- fs
          if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3 } {
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byCluster = fs.groupBy { case (id, _) => find(id) }
    val expected = byCluster
      .filter(_._2.map(_._1 / 1048576L).distinct.length >= 2)
      .map { case (cl, rows) =>
        (cl / 1048576L, cl % 1048576L, rows.length.toLong,
          rows.map(_._1 / 1048576L).distinct.length.toLong,
          rows.map(_._2).distinct.length.toLong)
      }.toSet
    val got = Multimodal.frameNearDupGroups(media, stride = 2, maxHamming = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected, s"$got vs $expected")
    assert(got.nonEmpty)
    // radius 0 degenerates to the exact-signature grouping of
    // frameDupGroups (clusters = per-sig cliques, n_sigs = 1)
    val r0 = Multimodal.frameNearDupGroups(media, stride = 2, maxHamming = 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val exact = Multimodal.frameDupGroups(media, stride = 2).collect()
      .map(r => (r.getLong(3), r.getLong(4), r.getLong(1), r.getLong(2), 1L))
      .toSet
    assert(r0 == exact, s"$r0 vs $exact")
  }

  test("pairFilter: hand-computed folded cosine, threshold gate, zero-norm exclusion") {
    val docs2 = Seq((0L, "abcdefgh"), (1L, "")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, (0 until 64).map(j => if (j % 8 == 0) 1.0f else 0.0f)),
      (1L, (0 until 64).map(_ => 1.0f)),
      (2L, (0 until 64).map(_ => 0.0f))) // zero-norm: excluded
      .toDF("vec_id", "embedding")
    val media = Multimodal.asMedia(docs2, "doc_id", "text")
    val out = Multimodal.pairFilter(media, emb, "vec_id", "embedding", 0.25)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    // doc 1 (empty text → zero features) and vec 2 (zero embedding) drop;
    // only pair 0 survives. mv = bytes(a..h)/255; tv = (8,0,...,0) → cos =
    // mv0·8 / (|mv|·8) = mv0/|mv|
    assert(out.map(_._1).toSeq == Seq(0L))
    val mv = "abcdefgh".getBytes("UTF-8").map(b => (b & 0xff) / 255.0)
      .map(Similarity.roundHalfUp(_, 6))
    val expect = Similarity.roundHalfUp(
      mv(0) / math.sqrt(mv.map(x => x * x).sum), 6)
    assert(out(0)._2 == expect && out(0)._3 == (expect >= 0.25), out(0).toString)
  }

  test("resizeMeta fits into the box preserving aspect, never upscales, skips audio") {
    // widths/heights via asMedia are byte_len-derived; craft texts whose
    // lengths produce a small image (no resize) and an oversized video
    val docs2 = Seq((0L, "x" * 100), (2L, "y" * 500)).toDF("doc_id", "text")
    val out = Multimodal.resizeMeta(Multimodal.asMedia(docs2, "doc_id", "text"))
      .orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // doc 0: image 101×221 — within 256 box, unchanged
    assert(out(0) == ((0L, 101L, 221L, 101L, 221L, 101L * 221 * 3)))
    // doc 2: video 501×141 → scale by 256/501: (256, 72)
    val (ow, oh) = (math.floor(501.0 * 256 / 501).toLong, math.floor(141.0 * 256 / 501).toLong)
    assert(out(1) == ((2L, 501L, 141L, ow, oh, ow * oh * 3)))
    assert(out.forall(r => math.max(r._4, r._5) <= 256 || math.max(r._2, r._3) <= 256))
  }

  test("decontaminate flags only train docs sharing an n-gram with the eval set, with distinct-overlap counts") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      // shares two distinct 3-grams with eval (overlapping window)
      (1L, "x alpha beta gamma delta y"),
      (2L, "totally unrelated words here only friend"),
      (3L, "ab"), // shorter than the gram width: zero grams, never flagged
      // repeats the same leaked 3-gram twice — still ONE distinct overlap
      (4L, "alpha beta gamma pad alpha beta gamma")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(train, eval, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((1L, 2L, true), (2L, 0L, false),
      (3L, 0L, false), (4L, 1L, true)))
  }

  test("decontaminate: hashed-gram broadcast path equals the string-gram path on the corpus") {
    val docs = graft.queries.Tables.documents(spark, graft.TestSpark.sf)
    val train = docs.where(col("doc_id") % 50 =!= 0)
    val eval = docs.where(col("doc_id") % 50 === 0)
    def run(hashGrams: Boolean) =
      TextAnalysis.decontaminate(train, eval, "doc_id", "text", n = 5,
          hashGrams = hashGrams)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(run(hashGrams = true) == run(hashGrams = false))
  }

  test("quantizeChecksums kernel is bit-identical to the quantizeInt8 expression form") {
    val emb = graft.queries.Tables.embeddings(spark, graft.TestSpark.sf)
    val q = Similarity.quantizeInt8(transform(col("embedding"), x => x.cast("double")))
    val expr = emb.select(col("vec_id"), q.as("qz"))
      .select(col("vec_id"), round(col("qz.scale"), 6).as("scale"),
        aggregate(col("qz.q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("qz.q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    val kern = Similarity.quantizeChecksums(emb, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    assert(kern == expr)
  }

  test("keepBestInCluster keeps the max-score member, ties broken by min id; singletons always keep") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (9L, 0.1))
      .toDF("doc_id", "quality")
    val out = Dedup.keepBestInCluster(clusters, scores, "doc_id", "quality")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(3)))
    // 2 and 3 tie at 0.9 → min id 2 kept; min-id member 1 loses on score
    assert(out.toSeq == Seq((1L, false), (2L, true), (3L, false), (9L, true)))
  }

  test("keepBestInCluster: an unscored member stays in the output and loses to any scored sibling") {
    val clusters = Seq((1L, 1L), (2L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((2L, 0.5)).toDF("doc_id", "quality") // 1, 7, 8 unscored
    val out = Dedup.keepBestInCluster(clusters, scores, "doc_id", "quality")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
    // 1 survives the left join with a null score and loses to scored 2;
    // an all-unscored cluster falls back to the min-id tie rule
    assert(out.toSeq == Seq((1L, None, false), (2L, Some(0.5), true),
      (7L, None, true), (8L, None, false)))
  }

  test("quantizeChecksums: null and empty vectors yield null scale AND null checksums (oracle semantics)") {
    val d = Seq((1L, Seq(0.5f, -1.0f)), (2L, Seq.empty[Float]),
        (3L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeChecksums(d, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    assert(!out(0).isNullAt(1) && out(0).getLong(2) == 64L - 127L && out(0).getLong(3) == 191L)
    Seq(1, 2).foreach { i =>
      assert(out(i).isNullAt(1) && out(i).isNullAt(2) && out(i).isNullAt(3),
        s"row ${out(i)}: degenerate vector must be all-null, not zero")
    }
  }

  test("shuffleShards: every doc lands once with contiguous per-shard positions from 1") {
    val docs = graft.queries.Tables.documents(spark, TestSpark.sf).limit(200)
    val out = TextAnalysis.shuffleShards(docs, "doc_id", "text", nShards = 4).collect()
    assert(out.map(_.getLong(0)).distinct.length == out.length && out.length == 200)
    out.groupBy(_.getLong(1)).foreach { case (shard, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to rows.length.toLong),
        s"shard $shard positions not contiguous")
    }
  }

  test("dedupIncrementalNear is pure: no persisted tables linger after consumption") {
    val corpus = Seq((1L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatureTable(corpus, "doc_id", "text")
    val batch = Seq((10L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.size
    Dedup.dedupIncrementalNear(batch, sigs, corpus, "doc_id", "text").count()
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "incremental near-dup must not leak session cache entries per call")
  }

  test("dedupIncrementalNear: near-dups matched via corpus signatures, fresh and sub-shingle docs kept") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "completely different words entirely here nothing shared at all")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatureTable(corpus, "doc_id", "text")
    val batch = Seq(
      (10L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"), // J = 8/9 vs doc 1
      (11L, "utterly unrelated fresh content with brand new tokens only"),
      (12L, "xy")                                   // shorter than shingle width
    ).toDF("doc_id", "text")
    val out = Dedup.dedupIncrementalNear(batch, sigs, corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 1L && out(0).getDouble(2) > 0.8 && !out(0).getBoolean(3))
    assert(out(1).isNullAt(1) && out(1).getBoolean(3))
    assert(out(2).isNullAt(1) && out(2).getBoolean(3))
  }

  test("dedupIncrementalEmbedding: exact copies match via stored-style signatures, fresh vectors keep") {
    val corpus = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val sigs = corpus.select(col("vec_id").as("id"),
      Similarity.lshBandSignature(
        Similarity.asDouble(col("embedding")), 32, 8, 4).as("sig"))
    val batch = Seq((10L, Seq(1f, 0f, 0f, 0f)), (11L, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.dedupIncrementalEmbedding(batch, sigs, corpus,
        "vec_id", "embedding", dims = 4, threshold = 0.9,
        planesPerBand = 8, bands = 32) // must match how `sigs` was signed
      .orderBy("vec_id").collect()
    assert(out(0).getLong(1) == 1L && out(0).getDouble(2) == 1.0 && !out(0).getBoolean(3))
    assert(out(1).isNullAt(1) && out(1).getBoolean(3))
  }

  test("incremental judgments: past the broadcast batch limit the candidate join falls back un-broadcast with identical output") {
    // the batch≪corpus broadcast contract (r12 verdict missing #4): at
    // broadcastBatchLimit = 0 every judgment takes the shuffle-join path;
    // verdicts must be IDENTICAL to the broadcast path
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toList.sortBy(_.toString)
    // text minhash judgment
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "completely different words entirely here nothing shared at all")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatureTable(corpus, "doc_id", "text")
    val batch = Seq(
      (10L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
      (11L, "utterly unrelated fresh content with brand new tokens only")
    ).toDF("doc_id", "text")
    assert(rows(Dedup.dedupIncrementalNear(batch, sigs, corpus, "doc_id", "text")) ==
      rows(Dedup.dedupIncrementalNear(batch, sigs, corpus, "doc_id", "text",
        broadcastBatchLimit = 0L)))
    // embedding judgment
    val ecorpus = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val esigs = ecorpus.select(col("vec_id").as("id"),
      Similarity.lshBandSignature(
        Similarity.asDouble(col("embedding")), 32, 8, 4).as("sig"))
    val ebatch = Seq((10L, Seq(1f, 0f, 0f, 0f)), (11L, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    def eJudge(limit: Long) = Dedup.dedupIncrementalEmbedding(ebatch, esigs,
      ecorpus, "vec_id", "embedding", dims = 4, threshold = 0.9,
      planesPerBand = 8, bands = 32, broadcastBatchLimit = limit)
    assert(rows(eJudge(Long.MaxValue)) == rows(eJudge(0L)))
    // perceptual judgment
    val mbase = "the quick brown fox jumps over the lazy dog near the wide " +
      "slow river bend where herons stand watching for silver fish"
    val mcorpus = Multimodal.asMedia(
      Seq((1L, mbase), (2L, "other corpus media row with its own spectrum"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val msigs = Multimodal.phashSketches(mcorpus)
    val mbatch = Multimodal.asMedia(Seq(
      (100L, mbase(64) + mbase.substring(1, 64) + mbase(0) + mbase.substring(65)),
      (101L, "wholly novel batch media content unlike anything stored!!"))
      .toDF("doc_id", "text"), "doc_id", "text")
    assert(rows(Multimodal.phashIncremental(mbatch, msigs)) ==
      rows(Multimodal.phashIncremental(mbatch, msigs,
        broadcastBatchLimit = 0L)))
  }

  test("dedupIncremental: corpus duplicates outrank batch duplicates; first-in-batch wins") {
    val corpus = Seq((1L, "seen before")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "brand new"),
      (11L, "seen before"),    // already in the corpus
      (12L, "twice in batch"),
      (13L, "twice in batch"), // 12 arrived first
      (14L, "seen before")     // corpus dup even though 11 precedes it in batch
    ).toDF("doc_id", "text")
    val out = Dedup.dedupIncremental(batch, corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((10L, "kept", true), (11L, "dup_of_corpus", false),
      (12L, "kept", true), (13L, "dup_in_batch", false),
      (14L, "dup_of_corpus", false)))
  }

  test("dedupIncremental: null-text docs keep their rows and dedupe against each other") {
    val corpus = Seq((1L, "real text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, null.asInstanceOf[String]),
      (11L, null.asInstanceOf[String]), // loses to 10 within the batch
      (12L, "real text")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupIncremental(batch, corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((10L, "kept", true), (11L, "dup_in_batch", false),
      (12L, "dup_of_corpus", false)),
      "null-text rows must not silently drop out of the equi-joins")
  }

  test("mixtureSample: integer weights replicate exactly, fractions are deterministic, absent keys drop") {
    val d = Seq(
      (1L, "alpha text", "double"),   // w=2.0: exactly epochs 0,1
      (2L, "beta text", "half"),      // w=0.5: 0 or 1 copy, hash-decided
      (3L, "gamma text", "other")     // absent key: dropped
    ).toDF("doc_id", "text", "src")
    val w = Map("double" -> 2.0, "half" -> 0.5)
    val out = TextAnalysis.mixtureSample(d, "doc_id", "text", "src", w)
      .orderBy("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.count(_._1 == 1L) == 2 && out.filter(_._1 == 1L).map(_._3).toSeq == Seq(0L, 1L))
    assert(out.count(_._1 == 2L) <= 1)
    assert(!out.exists(_._1 == 3L))
    // deterministic: a second run yields the identical multiset
    val again = TextAnalysis.mixtureSample(d, "doc_id", "text", "src", w)
      .orderBy("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("knnJoin rejects degenerate query vectors loudly") {
    val corpus = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val zeroQ = Seq((7L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.knnJoin(corpus, zeroQ, "vec_id", "embedding", "vec_id", k = 1)
    }
    assert(ex.getMessage.contains("zero/non-finite norm"))
    // NaN > 0.0 and Infinity > 0.0 behave differently — both must reject
    // (a NaN norm would otherwise rank every candidate by NaN silently)
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity)) {
      val badQ = Seq((8L, Seq(bad, 1f))).toDF("vec_id", "embedding")
      val e2 = intercept[IllegalArgumentException] {
        Similarity.knnJoin(corpus, badQ, "vec_id", "embedding", "vec_id", k = 1)
      }
      assert(e2.getMessage.contains("norm"), e2.getMessage)
    }
  }

  test("ivfSearchQ8 rejects zero and non-finite query vectors at the driver") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val idx = graft.queries.Materialized.ivfIndex(spark, TestSpark.sf)
    for (bad <- Seq(Seq.empty[Double], Seq(0.0, 0.0),
                    Seq(Double.NaN, 1.0), Seq(Double.PositiveInfinity, 1.0))) {
      val ex = intercept[IllegalArgumentException] {
        Similarity.ivfSearchQ8(idx.assignment, idx.centroids, bad, k = 1, nprobe = 1)
      }
      assert(ex.getMessage.contains("ivfSearchQ8"), ex.getMessage)
    }
  }

  test("knnJoin matches a per-query brute-force topK loop exactly") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val joined = Similarity.knnJoin(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", k = 4)
      .orderBy("query_id", "rank").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getDouble(3))).toSeq).toMap
    (0L until 5L).foreach { qid =>
      val qv = emb.where(col("vec_id") === qid)
        .select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0)
      val exact = Similarity.topK(emb, "vec_id", "embedding", qv, k = 4,
          excludeId = Some(qid))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(joined(qid) == exact, s"query $qid: ${joined(qid)} vs $exact")
    }
  }

  test("dedupLines keeps the corpus-wide first occurrence and reconstructs in line order") {
    val d = Seq(
      (1L, "alpha\nbeta\nalpha"),      // intra-doc repeat: pos-2 alpha dropped
      (2L, "beta\ngamma"),             // beta lost to doc 1; gamma survives
      (3L, "alpha\nbeta"),             // loses every line -> null text_dedup
      (4L, null.asInstanceOf[String])  // null text -> zero counts, null
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 2L
      && out(0).getString(3) == "alpha\nbeta")
    assert(out(1).getLong(1) == 2L && out(1).getLong(2) == 1L
      && out(1).getString(3) == "gamma")
    assert(out(2).getLong(1) == 2L && out(2).getLong(2) == 0L && out(2).isNullAt(3))
    assert(out(3).getLong(1) == 0L && out(3).getLong(2) == 0L && out(3).isNullAt(3))
  }

  test("scrubPii redacts emails before IPs and counts hits from the original text") {
    val d = Seq(
      (1L, "mail a.user+tag@sub.example.org and host 192.168.0.1 twice 10.0.0.7"),
      (2L, "no pii here at all"),
      (3L, "double bob@x.io carol@y.co")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(d, "doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == (("mail <EMAIL> and host <IP> twice <IP>", 1L, 2L)))
    assert(out(1) == (("no pii here at all", 0L, 0L)))
    assert(out(2) == (("double <EMAIL> <EMAIL>", 2L, 0L)))
  }

  test("topKQuantized: quantized ranking tracks the exact top-k (>=8/10 overlap) and self-query ranks first") {
    val emb = graft.queries.Tables.embeddings(spark, graft.TestSpark.sf)
    val qv = emb.where(col("vec_id") === 7)
      .select(transform(col("embedding"), x => x.cast("double")))
      .head().getSeq[Double](0)
    val quantized = Similarity.topKQuantized(emb, "vec_id", "embedding", qv, k = 10)
      .collect().map(_.getLong(0)).toSeq
    // the query's own (quantized) vector still wins: per-component error
    // <= scale/254 cannot displace cosine ~1
    assert(quantized.head == 7L)
    val exact = Similarity.topK(emb, "vec_id", "embedding", qv, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(quantized.toSet.intersect(exact).size >= 8,
      s"quantization degraded ranking too far: $quantized vs $exact")
  }

  test("null text: repetition scores 0 and decontamination yields no grams (oracle parity)") {
    val d = Seq((1L, null.asInstanceOf[String]), (2L, "a b c")).toDF("doc_id", "text")
    val rep = TextAnalysis.repetitionSignals(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert((1 to 3).forall(i => rep(0).getDouble(i) == 0.0))
    val eval = Seq((9L, "a b c")).toDF("doc_id", "text")
    val dec = TextAnalysis.decontaminate(d, eval, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(dec(0).getLong(1) == 0L && !dec(0).getBoolean(2)) // null doc: clean
    assert(dec(1).getLong(1) == 1L && dec(1).getBoolean(2))
  }

  test("repetitionSignals: duplicate word/ngram fractions, zero for sub-gram-width docs") {
    val d = Seq(
      (1L, "a a a a"),            // 1 distinct of 4 words; 2-grams all "a a"
      (2L, "w x y z"),            // no repetition anywhere
      (3L, "q")                   // single word: no 2/3-grams → 0.0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(out(0) == ((1L, 0.75, 0.666667, 0.5))) // 1 - 1/3 rounded to 6 dp
    assert(out(1) == ((2L, 0.0, 0.0, 0.0)))
    assert(out(2) == ((3L, 0.0, 0.0, 0.0)))
  }

  test("packSequences: per-stream running offsets, chunk = floor(start/budget), no cross-stream coupling") {
    val d = Seq(
      (1L, "w1 w2 w3", "s1"),       // 3 tokens, start 0, chunk 0
      (2L, "w1 w2 w3 w4", "s1"),    // start 3, crosses into chunk 0 (budget 4: floor(3/4)=0)
      (3L, "w1 w2", "s1"),          // start 7 → chunk 1
      (4L, "w1 w2 w3 w4 w5", "s2")  // other stream starts fresh at 0
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.packSequences(d, "doc_id", "text", budget = 4,
        partitionCol = "source")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 3L, 0L, 0L), (2L, 4L, 3L, 0L),
      (3L, 2L, 7L, 1L), (4L, 5L, 0L, 0L)))
    // invariant: within a stream each doc starts where the previous ended
    val s1 = out.filter(_._1 <= 3)
    assert(s1.sliding(2).forall { case Array(a, b) => a._3 + a._2 == b._3 })
  }

  test("lean deep-banding path: candidate set and verified pairs equal the ride-along path") {
    val emb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ca = pairSet(Dedup.embeddingLshCandidates(emb, "vec_id", "embedding",
      dims = 64, planesPerBand = 8, bands = 32))
    val cb = pairSet(Dedup.embeddingLshCandidatesLean(emb, "vec_id", "embedding",
      dims = 64, planesPerBand = 8, bands = 32))
    assert(ca == cb, s"lean-only=${(cb -- ca).take(3)} ride-only=${(ca -- cb).take(3)}")
    val va = Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", dims = 64,
      threshold = 0.9, planesPerBand = 8, bands = 32).select("id_a", "id_b", "cosine")
    val vb = Dedup.embeddingNearDupLshLean(emb, "vec_id", "embedding", dims = 64,
      threshold = 0.9, planesPerBand = 8, bands = 32).select("id_a", "id_b", "cosine")
    assert(va.exceptAll(vb).isEmpty && vb.exceptAll(va).isEmpty)
  }

  test("binarySig: bit d set iff component d >= 0; -0.0 counts as non-negative; bits past dims stay 0") {
    val d = Seq((1L, Seq(1.0, -2.0, 0.0, -0.0))).toDF("id", "v")
    // components +, -, +0, -0 → bits 0, 2, 3 → 0b1101
    assert(d.select(Similarity.binarySig(col("v"), 4)).head.getLong(0) == 13L)
    // dims=2 masks the trailing components
    assert(d.select(Similarity.binarySig(col("v"), 2)).head.getLong(0) == 1L)
    // bit 63 must not overflow the fold (all-non-negative 64-dim → all bits set)
    val d64 = Seq((1L, Seq.fill(64)(1.0))).toDF("id", "v")
    assert(d64.select(Similarity.binarySig(col("v"), 64)).head.getLong(0) == -1L)
  }

  test("knnJoinHamming: corpus-covering oversample equals exact knnJoin bit-for-bit") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val qs = emb.where(col("vec_id") % 97 === 3)
    val n = emb.count().toInt
    val exact = Similarity.knnJoin(emb, qs, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "rank", "cosine")
    // a Hamming cut wide enough to admit the whole corpus degrades to the
    // exact ranking: same cosines (same IEEE dot order, same HALF_UP 6 dp),
    // same (cosine desc, id) tie rule
    val full = Similarity.knnJoinHamming(emb, qs, "vec_id", "embedding", "vec_id",
        k = 5, dims = 64, oversample = n / 5 + 1)
      .select("query_id", "neighbor_id", "rank", "cosine")
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
  }

  test("knnJoinHamming: planted exact copies retrieve their donors at rank 1 (hamming 0, cosine 1)") {
    val emb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    val qs = emb.where(col("vec_id") >= 2000000L) // exact planted copies
    val out = Similarity.knnJoinHamming(emb, qs, "vec_id", "embedding", "vec_id",
        k = 1, dims = 64, oversample = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty)
    // the donor shares every sign bit → hamming 0 → admitted; rerank puts it
    // first on exact cosine 1 (ties to the smaller id = the donor itself)
    out.foreach { case (qid, nid, ham, cos) =>
      assert(nid == qid - 2000000L, s"query $qid retrieved $nid")
      assert(ham == 0L && cos == 1.0)
    }
  }

  test("knnJoinHamming: production oversample keeps useful recall on the structureless corpus") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val qs = emb.where(col("vec_id") % 97 === 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.knnJoin(emb, qs, "vec_id", "embedding", "vec_id", k = 5))
    val got = pairs(Similarity.knnJoinHamming(emb, qs, "vec_id", "embedding",
      "vec_id", k = 5, dims = 64, oversample = 4))
    val recall = (got & truth).size.toDouble / truth.size
    info(f"hamming oversample=4 recall@5 = $recall%.3f (uniform corpus — the 1-bit worst case)")
    // uniform vectors are the worst case for a 64-bit sign sketch; the dial
    // exists to buy recall with oversample — pin only that it's not broken
    assert(recall >= 0.2, s"recall collapsed: $recall")
    // the densified 2-bit code (128 projection sign bits) at EQUAL
    // oversample — the r11 recall dial. The comparative claim is measured
    // where the sample is real: at sf0.1 (105 truth pairs,
    // RecallProbeMain) 2-bit beats 1-bit at every oversample
    // (0.276/0.381/0.486 vs 0.200/0.267/0.400 at os=2/4/8 — BASELINE.md);
    // this 30-pair corpus only pins that the code is functional, since a
    // 3-pair swing flips the comparison either way at this sample size.
    val got2 = pairs(Similarity.knnJoinHamming(emb, qs, "vec_id", "embedding",
      "vec_id", k = 5, dims = 64, oversample = 4, bitsPerDim = 2))
    val recall2 = (got2 & truth).size.toDouble / truth.size
    info(f"hamming2 oversample=4 recall@5 = $recall2%.3f (densified 2-bit, same corpus)")
    assert(recall2 >= 0.2, s"2-bit recall collapsed: $recall2")
  }

  test("knnJoinHammingAdc: corpus-covering oversample equals exact knnJoin; planted copies take rank 1 with the maximal score") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val qs = emb.where(col("vec_id") % 97 === 3)
    val n = emb.count().toInt
    val exact = Similarity.knnJoin(emb, qs, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "rank", "cosine")
    // an asymmetric cut wide enough to admit the whole corpus degrades to
    // the exact ranking — same IEEE dot order, same (cosine desc, id) rule
    val full = Similarity.knnJoinHammingAdc(emb, qs, "vec_id", "embedding",
        "vec_id", k = 5, dims = 64, oversample = n / 5 + 1)
      .select("query_id", "neighbor_id", "rank", "cosine")
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
    // planted exact copies: the donor's stored bits agree with the sign of
    // every query projection, so its score is Σ|q_k| — the global maximum
    // over the corpus — guaranteeing admission; rerank puts it first at
    // exact cosine 1 (ties to the smaller id = the donor itself)
    val pemb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    val pqs = pemb.where(col("vec_id") >= 2000000L)
    val out = Similarity.knnJoinHammingAdc(pemb, pqs, "vec_id", "embedding",
        "vec_id", k = 1, dims = 64, oversample = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(out.nonEmpty)
    out.foreach { case (qid, nid, cos) =>
      assert(nid == qid - 2000000L && cos == 1.0, s"query $qid retrieved $nid")
    }
    // the reweighted score is the recall rung: measured at sf0.1 the ADC
    // cut reaches 0.343/0.524/0.657 at oversample 2/4/8 vs the 2-bit
    // SDC's 0.276/0.381/0.486 (RecallProbeMain — BASELINE.md); this tiny
    // corpus only pins that the path is functional
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.knnJoin(emb, qs, "vec_id", "embedding",
      "vec_id", k = 5))
    val got = pairs(Similarity.knnJoinHammingAdc(emb, qs, "vec_id",
      "embedding", "vec_id", k = 5, dims = 64, oversample = 4))
    val recall = (got & truth).size.toDouble / truth.size
    info(f"adc oversample=4 recall@5 = $recall%.3f")
    assert(recall >= 0.2, s"adc recall collapsed: $recall")
  }

  test("hammingSigRows: stored codes replay binarySig/superBitKernel bit-for-bit; FromSigs searches equal the live re-sketch searches") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val sigs = Similarity.hammingSigRows(emb, "vec_id", "embedding", dims = 64)
    // the stored axis-sign word IS binarySig over the zero-norm-filtered base
    val base = emb.select(col("vec_id").cast("long").as("id"),
        Similarity.asDouble(col("embedding")).as("v"))
      .where(col("v").isNotNull && size(col("v")) > 0)
      .where(Similarity.norm(col("v")) > 0.0)
    val expr1 = base.select(col("id"), Similarity.binarySig(col("v"), 64).as("sig"))
    assert(sigs.select("id", "sig").exceptAll(expr1).isEmpty &&
      expr1.exceptAll(sigs.select("id", "sig")).isEmpty)
    // the stored sketch words replay the kernel row-for-row
    val kern = base.as[(Long, Seq[Double])].map { case (id, v) =>
      val (lo, hi) = Similarity.superBitKernel(v); (id, lo, hi)
    }.toDF("id", "slo", "shi")
    assert(sigs.select("id", "slo", "shi").exceptAll(kern).isEmpty &&
      kern.exceptAll(sigs.select("id", "slo", "shi")).isEmpty)
    // every FromSigs search equals its live re-sketch twin bit-for-bit
    val qs = emb.where(col("vec_id") % 97 === 3)
    Seq(1, 2).foreach { bpd =>
      val live = Similarity.knnJoinHamming(emb, qs, "vec_id", "embedding",
        "vec_id", k = 5, dims = 64, oversample = 4, bitsPerDim = bpd)
      val stored = Similarity.knnJoinHammingFromSigs(emb, sigs, qs, "vec_id",
        "embedding", "vec_id", k = 5, dims = 64, oversample = 4, bitsPerDim = bpd)
      assert(stored.exceptAll(live).isEmpty && live.exceptAll(stored).isEmpty,
        s"stored-sig SDC path diverged at bitsPerDim=$bpd")
    }
    val liveAdc = Similarity.knnJoinHammingAdc(emb, qs, "vec_id", "embedding",
      "vec_id", k = 5, dims = 64, oversample = 4)
    val storedAdc = Similarity.knnJoinHammingAdcFromSigs(emb, sigs, qs,
      "vec_id", "embedding", "vec_id", k = 5, dims = 64, oversample = 4)
    assert(storedAdc.exceptAll(liveAdc).isEmpty &&
      liveAdc.exceptAll(storedAdc).isEmpty, "stored-sig ADC path diverged")
  }

  test("FromSigs coverage guard: a corpus view missing a sig-store candidate fails loud naming the caller contract") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val sigs = Similarity.hammingSigRows(emb, "vec_id", "embedding", dims = 64)
    val qs = emb.where(col("vec_id") < 4)
    def contractViolation(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(e =>
        e.getMessage != null && e.getMessage.contains("FromSigs caller contract"))
    // pick a NEIGHBOR the stored search actually returns — by construction
    // a stage-1 candidate — and drop exactly that row from the corpus view
    val victim = Similarity.knnJoinHammingFromSigs(emb, sigs, qs, "vec_id",
        "embedding", "vec_id", k = 5, dims = 64, oversample = 4, bitsPerDim = 2)
      .select("neighbor_id").head().getLong(0)
    val truncated = emb.where(col("vec_id") =!= victim)
    val eSdc = intercept[Throwable] {
      Similarity.knnJoinHammingFromSigs(truncated, sigs, qs, "vec_id",
        "embedding", "vec_id", k = 5, dims = 64, oversample = 4,
        bitsPerDim = 2).collect()
    }
    assert(contractViolation(eSdc), s"wrong failure: $eSdc")
    // ADC twin, same guard
    val victimAdc = Similarity.knnJoinHammingAdcFromSigs(emb, sigs, qs,
        "vec_id", "embedding", "vec_id", k = 5, dims = 64, oversample = 4)
      .select("neighbor_id").head().getLong(0)
    val eAdc = intercept[Throwable] {
      Similarity.knnJoinHammingAdcFromSigs(emb.where(col("vec_id") =!= victimAdc),
        sigs, qs, "vec_id", "embedding", "vec_id", k = 5, dims = 64,
        oversample = 4).collect()
    }
    assert(contractViolation(eAdc), s"wrong failure: $eAdc")
    // hybrid, same guard through the cell-partitioned store
    val idx = graft.queries.Materialized.ivfIndex(spark, TestSpark.sf)
    val isigs = graft.queries.Materialized.hammingSigsIvf(spark, TestSpark.sf)
    val victimIvf = Similarity.knnJoinHammingIvf(isigs, emb, idx.centroids,
        qs, "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = 2,
        oversample = 4)
      .select("neighbor_id").head().getLong(0)
    val eIvf = intercept[Throwable] {
      Similarity.knnJoinHammingIvf(isigs, emb.where(col("vec_id") =!= victimIvf),
        idx.centroids, qs, "vec_id", "embedding", "vec_id", k = 5, dims = 64,
        nprobe = 2, oversample = 4).collect()
    }
    assert(contractViolation(eIvf), s"wrong failure: $eIvf")
    // the fully-composed search, same guard: a DRIFTED store pair (a sig
    // row whose id is missing from the cell code store — the absorbed-
    // sigs-but-not-codes scenario the guard exists for) fails loud
    // instead of silently dropping the candidate from the rerank
    val rsigs = graft.queries.Materialized.hammingSigsIvfRes(spark, TestSpark.sf)
    val icodes = graft.queries.Materialized.q8CodesIvf(spark, TestSpark.sf)
    val victimSq = Similarity.knnJoinHammingIvfResSq(icodes, rsigs,
        idx.centroids, qs, "embedding", "vec_id", k = 5, dims = 64,
        nprobe = 2, oversample = 4)
      .select("neighbor_id").head().getLong(0)
    val eSq = intercept[Throwable] {
      Similarity.knnJoinHammingIvfResSq(icodes.where(col("id") =!= victimSq),
        rsigs, idx.centroids, qs, "embedding", "vec_id", k = 5, dims = 64,
        nprobe = 2, oversample = 4).collect()
    }
    assert(contractViolation(eSq), s"wrong failure: $eSq")
  }

  test("knnJoinHammingIvf: all-cell probe + corpus-covering oversample degrades to exact knnJoin; narrow probe stays inside probed cells") {
    val sf = TestSpark.sf
    val emb = graft.queries.Tables.embeddings(spark, sf)
    val qs = emb.where(col("vec_id") < 20)
    val idx = graft.queries.Materialized.ivfIndex(spark, sf)
    val sigs = graft.queries.Materialized.hammingSigsIvf(spark, sf)
    val nCells = idx.centroids.count().toInt
    val n = emb.count().toInt
    // probe EVERY cell and admit the whole corpus: the hybrid must equal
    // the exact join bit-for-bit (same rerank, same tie rules)
    val exact = Similarity.knnJoin(emb, qs, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "rank", "cosine")
    val full = Similarity.knnJoinHammingIvf(sigs, emb, idx.centroids, qs,
        "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = nCells,
        oversample = n / 5 + 1)
      .select("query_id", "neighbor_id", "rank", "cosine")
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
    // a narrow probe returns only neighbors from the query's probed cells
    val got = Similarity.knnJoinHammingIvf(sigs, emb, idx.centroids, qs,
        "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = 1,
        oversample = 4)
    val cellOf = sigs.select(col("id"), col("centroid_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    got.select("query_id", "neighbor_id").collect().foreach { r =>
      // with nprobe=1 every neighbor shares the query's own nearest cell
      assert(cellOf.contains(r.getLong(1)), s"neighbor outside the sig store: $r")
    }
    assert(got.count() > 0)
  }

  test("knnJoinHammingIvfRes: all-cell probe + corpus-covering oversample degrades to exact knnJoin; exact copy lands in the query's probed cell at hamming 0") {
    val sf = TestSpark.sf
    val emb = graft.queries.Tables.embeddings(spark, sf)
    val qs = emb.where(col("vec_id") < 20)
    val idx = graft.queries.Materialized.ivfIndex(spark, sf)
    val sigs = graft.queries.Materialized.hammingSigsIvfRes(spark, sf)
    val nCells = idx.centroids.count().toInt
    val n = emb.count().toInt
    val exact = Similarity.knnJoin(emb, qs, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "rank", "cosine")
    val full = Similarity.knnJoinHammingIvfRes(sigs, emb, idx.centroids, qs,
        "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = nCells,
        oversample = n / 5 + 1)
      .select("query_id", "neighbor_id", "rank", "cosine")
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
    // an exact copy shares its donor's cell (identical vector, same
    // (dist, cid) argmin) and its residual sketch bit-for-bit, so even a
    // nprobe=1 residual search retrieves it at stage-1 hamming 0 and
    // exact cosine 1
    val copies = emb.where(col("vec_id") < 8)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    val emb2 = emb.select(col("vec_id"), col("embedding")).unionByName(copies)
    val cents2 = idx.centroids
    val sigs2 = Similarity.hammingResidualSigRows(emb2, "vec_id", "embedding",
      cents2, dims = 64)
    val out = Similarity.knnJoinHammingIvfRes(sigs2, emb2, cents2,
        copies, "vec_id", "embedding", "vec_id", k = 1, dims = 64,
        nprobe = 1, oversample = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
    assert(out.length == 8, s"every copy must retrieve: ${out.toSeq}")
    out.foreach { case (qid, nid, ham, cos) =>
      assert(nid == qid - 3000000L && ham == 0L && cos == 1.0,
        s"copy $qid retrieved ($nid, ham=$ham, cos=$cos)")
    }
  }

  test("IVF ladders: every rung is row-identical to the single-shot search at that nprobe, raw and residual") {
    val sf = TestSpark.sf
    val emb = graft.queries.Tables.embeddings(spark, sf)
    val qs = emb.where(col("vec_id") < 20)
    val idx = graft.queries.Materialized.ivfIndex(spark, sf)
    val rungs = Seq(1, 2, 4, 8)
    def sorted(rows: Seq[org.apache.spark.sql.Row]) =
      rows.sortBy(r => (r.getLong(0), r.getLong(2)))
    Seq(("raw", graft.queries.Materialized.hammingSigsIvf(spark, sf)),
        ("residual", graft.queries.Materialized.hammingSigsIvfRes(spark, sf)))
      .foreach { case (variant, sigs) =>
        val ladder =
          if (variant == "raw") Similarity.knnJoinHammingIvfLadder(sigs, emb,
            idx.centroids, qs, "vec_id", "embedding", "vec_id", k = 5,
            dims = 64, nprobes = rungs, oversample = 4)
          else Similarity.knnJoinHammingIvfResLadder(sigs, emb,
            idx.centroids, qs, "vec_id", "embedding", "vec_id", k = 5,
            dims = 64, nprobes = rungs, oversample = 4)
        assert(ladder.columns.toSeq == Seq("nprobe", "query_id", "neighbor_id",
          "rank", "hamming", "cosine"))
        val byRung = ladder.collect().toSeq.groupBy(_.getLong(0))
        assert(byRung.keySet == rungs.map(_.toLong).toSet, s"$variant rungs")
        rungs.foreach { np =>
          val single =
            if (variant == "raw") Similarity.knnJoinHammingIvf(sigs, emb,
              idx.centroids, qs, "vec_id", "embedding", "vec_id", k = 5,
              dims = 64, nprobe = np, oversample = 4)
            else Similarity.knnJoinHammingIvfRes(sigs, emb, idx.centroids, qs,
              "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = np,
              oversample = 4)
          // every column: query, neighbor, rank, the stage-1 hamming and
          // the reranked cosine
          val got = sorted(byRung(np.toLong).map(r =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq.tail)))
          val want = sorted(single.collect().toSeq)
          assert(want.nonEmpty && got == want,
            s"$variant rung $np differs from the single-shot search:\n" +
              s"ladder=$got\nsingle=$want")
        }
      }
  }

  test("IVF hybrids: a query whose length differs from the centroids' fails loud naming both lengths") {
    val sf = TestSpark.sf
    val emb = graft.queries.Tables.embeddings(spark, sf)
    val idx = graft.queries.Materialized.ivfIndex(spark, sf)
    // 32 of the index's 64 dims: the probe used to read past the query's
    // end (ArrayIndexOutOfBoundsException on the driver)
    val short = emb.where(col("vec_id") < 3)
      .select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding"))
    val raw = intercept[IllegalArgumentException] {
      Similarity.knnJoinHammingIvf(graft.queries.Materialized.hammingSigsIvf(spark, sf),
        emb, idx.centroids, short, "vec_id", "embedding", "vec_id", k = 5,
        dims = 64, nprobe = 2)
    }
    val res = intercept[IllegalArgumentException] {
      Similarity.knnJoinHammingIvfRes(graft.queries.Materialized.hammingSigsIvfRes(spark, sf),
        emb, idx.centroids, short, "vec_id", "embedding", "vec_id", k = 5,
        dims = 64, nprobe = 2)
    }
    Seq(raw, res).foreach { e =>
      assert("query \\d+ has 32 dims but the centroids have 64".r
        .findFirstIn(e.getMessage).isDefined, e.getMessage)
    }
  }

  test("spreadIfNarrow: a one-split parquet input spreads by id; an input estimated at >= shuffle.partitions splits does not") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val dir = java.nio.file.Files.createTempDirectory("spread-if-narrow")
    try {
      s.range(0, 2000).selectExpr("id", "cast(id * 7 AS string) AS text")
        .coalesce(1).write.mode("overwrite").parquet(dir.toString)
      val spreadById = "hashpartitioning\\(id#\\d+L?, 4\\)".r
      def plan(df: org.apache.spark.sql.DataFrame): String =
        TextAnalysis.spreadIfNarrow(df, col("id")).queryExecution.executedPlan.toString
      // one small file: one scan split < 4 partitions — spread
      val narrow = plan(s.read.parquet(dir.toString))
      assert(spreadById.findFirstIn(narrow).isDefined, narrow)
      // 64-byte splits put the same file at far more than 4 splits — the
      // input already scans wide, so no exchange is added
      s.conf.set("spark.sql.files.maxPartitionBytes", "64")
      val wide = plan(s.read.parquet(dir.toString))
      assert(!wide.contains("hashpartitioning"), wide)
    } finally {
      val files = java.nio.file.Files.walk(dir)
      try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally files.close()
    }
  }

  test("SQ searches: corpus-covering dials degrade to the brute int8 ranking (topKQuantized), flat and composed") {
    val sf = TestSpark.sf
    val emb = graft.queries.Tables.embeddings(spark, sf)
    val qs = emb.where(col("vec_id") < 10)
    val sigs = graft.queries.Materialized.hammingSigs(spark, sf)
    val codes = graft.queries.Materialized.q8Codes(spark, sf)
    val idx = graft.queries.Materialized.ivfIndex(spark, sf)
    val resSigs = graft.queries.Materialized.hammingSigsIvfRes(spark, sf)
    val n = emb.count().toInt
    val nCells = idx.centroids.count().toInt
    // the brute int8 ranking, one typed-kernel pass per query: the
    // ranking an SQ search with nothing pruned away must reproduce —
    // the cross-implementation contract (dequantized-dot kernel vs the
    // integer-code expression rerank; the 6-dp round makes them equal)
    val brute = qs.select(col("vec_id"),
        Similarity.asDouble(col("embedding"))).collect().flatMap { r =>
      val qid = r.getLong(0)
      val v = r.getSeq[Double](1)
      Similarity.topKQuantized(emb, "vec_id", "embedding", v, k = 5,
          excludeId = Some(qid))
        .collect().zipWithIndex
        .map { case (row, i) => (qid, row.getLong(0), i + 1L, row.getDouble(1)) }
    }.toSet
    val flat = Similarity.knnJoinHammingSqFromSigs(codes, sigs, qs,
        "embedding", "vec_id", k = 5, dims = 64, oversample = n / 5 + 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSet
    assert(flat == brute,
      s"flat SQ must equal brute int8: missing=${brute -- flat} extra=${flat -- brute}")
    // all-cell probe: the per-cell cut admits k·oversample per cell, so a
    // corpus-covering oversample admits every row of every cell (and the
    // probed-cell rerank restriction covers every cell of the code store)
    val composed = Similarity.knnJoinHammingIvfResSq(
        graft.queries.Materialized.q8CodesIvf(spark, sf), resSigs,
        idx.centroids, qs, "embedding", "vec_id", k = 5, dims = 64,
        nprobe = nCells, oversample = n / 5 + 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4))).toSet
    assert(composed == brute,
      s"composed SQ must equal brute int8: missing=${brute -- composed} extra=${composed -- brute}")
  }

  test("superBitKernel: planted exact copy shares all 128 bits; negation flips all decided projections") {
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val v = emb.where(col("vec_id") === 7)
      .select(Similarity.asDouble(col("embedding"))).head().getSeq[Double](0)
    val (lo, hi) = Similarity.superBitKernel(v)
    assert(Similarity.superBitKernel(v) == ((lo, hi)))
    // scale invariance of the signs (projections scale linearly):
    // positive scaling cannot flip any strict sign... but 6-dp µ-unit
    // quantization happens BEFORE the projection, so only exact doubling
    // (which doubles every µ component exactly) is guaranteed invariant
    val (lo2, hi2) = Similarity.superBitKernel(v.map(_ * 2.0))
    assert((lo2, hi2) == ((lo, hi)), "sign sketch must be scale-invariant")
    // negation flips every decided bit: hamming(v, -v) = #k with s != 0
    val (lo3, hi3) = Similarity.superBitKernel(v.map(x => -x))
    val ham = java.lang.Long.bitCount(lo ^ lo3) + java.lang.Long.bitCount(hi ^ hi3)
    assert(ham >= 120, s"antipodal vectors nearly coincide: $ham")
  }

  test("rrfFuse: fusion of overlapping and one-sided ranks, house tie rule") {
    val a = Seq((1L, 100L, 1L), (1L, 101L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 101L, 1L), (1L, 102L, 2L)).toDF("query_id", "doc_id", "rank")
    val out = TextAnalysis.rrfFuse(a, b, "doc_id", k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // 101: 1/62 + 1/61 = 0.032522…; 100: 1/61 = 0.016393; 102: 1/62 = 0.016129
    assert(out.toSeq == Seq((101L, 1L, 0.032522), (100L, 2L, 0.016393),
      (102L, 3L, 0.016129)))
  }

  test("pplBuckets: per-language equal-mass terciles in NLL-per-token order; zero-word docs drop") {
    val scored = Seq(
      (1L, "en", 10L, 5.0), (2L, "en", 10L, 10.0), (3L, "en", 10L, 20.0),
      (4L, "en", 10L, 30.0), (5L, "en", 10L, 40.0), (6L, "en", 10L, 60.0),
      (7L, "de", 10L, 10.0), (8L, "de", 10L, 30.0), (9L, "de", 10L, 20.0),
      (10L, "en", 0L, 0.0)
    ).toDF("doc_id", "lang", "n_words", "nll_sum")
    val out = TextAnalysis.pplBuckets(scored, "doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(!out.contains(10L), "a zero-token doc has no perplexity")
    assert(out(1L) == "head" && out(2L) == "head")
    assert(out(3L) == "middle" && out(4L) == "middle")
    assert(out(5L) == "tail" && out(6L) == "tail")
    assert(out(7L) == "head" && out(9L) == "middle" && out(8L) == "tail")
  }

  test("dsirWeights: target-vocabulary docs outweigh off-target docs regardless of their own label") {
    val d = Seq(
      (1L, "alpha beta gamma alpha", "en"),
      (2L, "alpha beta beta gamma", "en"),
      (3L, "delta epsilon zeta eta", "de"),
      (4L, "delta zeta eta epsilon", "de"),
      (5L, "alpha beta gamma gamma", "de"), // looks like the target
      (6L, "delta epsilon eta zeta", "en")  // looks off-target
    ).toDF("doc_id", "text", "lang")
    val w = TextAnalysis.dsirWeights(d, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the weight reads the text's resemblance to the target DISTRIBUTION,
    // not the doc's own label: the de doc written in target vocabulary
    // outranks the de docs written off-target, and the en doc written
    // off-target sinks to their level
    assert(w(5L) > w(3L) && w(5L) > w(4L))
    assert(w(1L) > w(6L) && w(2L) > w(6L))
    // full separation: every target-vocab doc above every off-target doc.
    // (Absolute SIGN is not an invariant — Laplace +1-per-bucket smoothing
    // over 1024 buckets dwarfs a 24-token corpus and the target slice is a
    // subset of raw, so even pure-target ratios sit below 1 here; only the
    // ORDERING is the DSIR contract.)
    assert(Seq(1L, 2L, 5L).map(w).min > Seq(3L, 4L, 6L).map(w).max)
  }

  test("dsirRatios: total over the bucket domain — novel-vocabulary batches score at the smoothed floor, never drop") {
    val corpus = Seq((1L, "alpha beta", "en"), (2L, "alpha gamma", "de"))
      .toDF("doc_id", "text", "lang")
    val ratios = TextAnalysis.dsirRatios(corpus, "doc_id", "text",
      col("lang") === "en")
    // exactly one row per bucket — the stored artifact is TOTAL
    assert(ratios.count() == TextAnalysis.DsirBuckets.toLong)
    assert(ratios.select("bucket").distinct().count() == TextAnalysis.DsirBuckets.toLong)
    // all unobserved buckets (>= 1021 of 1024 here) share the smoothed
    // floor ratio ln((tot_raw+B)/(tot_t+B)) = ln(1028/1026)
    val floorVal = BigDecimal(math.log(1028.0 / 1026.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val floorCount = ratios
      .where(col("log_ratio") === lit(floorVal.toString).cast("decimal(20,6)"))
      .count()
    assert(floorCount >= (TextAnalysis.DsirBuckets - 3).toLong,
      s"only $floorCount buckets carry the floor ratio")
    // a batch written ENTIRELY in unseen vocabulary still gets a scored
    // row (the observed-only table silently dropped such docs)
    val batch = Seq((10L, "zzqx wvutk unseenword")).toDF("doc_id", "text")
    val w = TextAnalysis.dsirWeightsFromRatios(batch, "doc_id", "text", ratios)
      .collect()
    assert(w.length == 1 && w.head.getLong(0) == 10L,
      "novel-vocabulary doc must score, not vanish")
  }

  test("temperatureMix: quotas sum to the budget; alpha<1 lifts the small source above its natural share; determinism") {
    val docs = (1 to 90).map(i => (i.toLong, s"doc body $i", "big")) ++
      (91 to 100).map(i => (i.toLong, s"doc body $i", "small"))
    val d = docs.toDF("doc_id", "text", "source")
    val out = TextAnalysis.temperatureMix(d, "doc_id", "text", "source",
      alpha = 0.5, n = 50).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val quotas = out.map(r => r._2 -> r._4).toMap
    assert(quotas("big") + quotas("small") == 50)
    // natural share would give small 5/50; sqrt weighting gives
    // sqrt(10)/(sqrt(90)+sqrt(10)) = 0.25 → 12 or 13 seats
    assert(quotas("small") >= 12, s"small got ${quotas("small")}")
    // every admitted pos is within quota and contiguous from 1
    out.groupBy(_._2).foreach { case (s, rows) =>
      val ps = rows.map(_._3).sorted
      assert(ps.head == 1L && ps.last == ps.length.toLong && ps.last <= quotas(s))
    }
    // two runs agree row-for-row
    val again = TextAnalysis.temperatureMix(d, "doc_id", "text", "source",
      alpha = 0.5, n = 50).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.sortBy(x => (x._2, x._3)).toSeq == again.sortBy(x => (x._2, x._3)).toSeq)
  }

  test("budgetMixRanged / temperatureMixRanged: row-identical to the window paths on a multi-range corpus") {
    // 400 docs span many 2-char md5-priority ranges; a null-text row
    // exercises the "<n" sentinel range; two sources of different sizes
    val rows = (1 to 400).map(i => (i.toLong,
        s"body $i ${"pad " * (i % 7)}".trim,
        if (i % 3 == 0) "a" else "b")) :+
      ((401L, null.asInstanceOf[String], "a"))
    val d = rows.toDF("doc_id", "text", "source")
    val w = TextAnalysis.budgetMix(d, "doc_id", "text", "source", 500L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    val rg = TextAnalysis.budgetMixRanged(d, "doc_id", "text", "source", 500L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    assert(rg == w, "ranged prefix sum must be row-identical to the window path")
    val wt = TextAnalysis.temperatureMix(d, "doc_id", "text", "source",
        alpha = 0.7, n = 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val rt = TextAnalysis.temperatureMixRanged(d, "doc_id", "text", "source",
        alpha = 0.7, n = 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rt == wt, "ranged admission rank must be row-identical to the window path")
  }

  test("pplBucketsThreshold: agrees with ntile everywhere except straddling boundary ties, which take the earlier bucket") {
    // en: 7 rows → ntile sizes 3/2/2; docs 3 and 4 tie at the bucket-1/2
    // boundary value, so ntile splits them by id while the value-pure
    // threshold keeps both in bucket 1. de is tie-free → exact agreement.
    val scored = Seq(
      (1L, "en", 10L, 100.0), (2L, "en", 10L, 200.0), (3L, "en", 10L, 300.0),
      (4L, "en", 10L, 300.0), (5L, "en", 10L, 400.0), (6L, "en", 10L, 500.0),
      (7L, "en", 10L, 600.0),
      (11L, "de", 10L, 100.0), (12L, "de", 10L, 200.0), (13L, "de", 10L, 300.0)
    ).toDF("doc_id", "lang", "n_words", "nll_sum")
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(3), r.getLong(4)))).toMap
    val w = collect(TextAnalysis.pplBuckets(scored, "doc_id", "lang"))
    val t = collect(TextAnalysis.pplBucketsThreshold(scored, "doc_id", "lang"))
    assert(w.keySet == t.keySet)
    val disagree = w.keySet.filter(id => w(id)._3 != t(id)._3)
    // every disagreement is a tie that straddles an ntile boundary: some
    // OTHER doc shares its (lang, value) but got a different ntile bucket
    disagree.foreach { id =>
      val (lang, v, bw) = w(id)
      assert(w.exists { case (o, (l2, v2, b2)) =>
        o != id && l2 == lang && v2 == v && b2 != bw },
        s"doc $id disagreed without a straddling tie")
      assert(t(id)._3 < bw, s"doc $id: threshold must take the EARLIER bucket")
    }
    // concretely: only doc 4 moves, from ntile-middle to threshold-head
    assert(disagree == Set(4L), s"got $disagree")
    assert(w(4L)._3 == 2L && t(4L)._3 == 1L)
    Seq(11L, 12L, 13L).foreach(id => assert(w(id) == t(id)))
  }

  test("gpt2 byte map: a bijection on all 256 bytes; round-trip recovers multi-byte text; whitespace hits the marker chars") {
    assert(TextAnalysis.Gpt2ByteChar.distinct.length == 256, "not injective")
    assert(TextAnalysis.Gpt2ByteChar.forall(c => !c.isWhitespace && !c.isControl),
      "every byte must map to a printable, non-whitespace char")
    // the published anchor points of bytes_to_unicode
    assert(TextAnalysis.gpt2ByteMap(" ") == "Ġ")
    assert(TextAnalysis.gpt2ByteMap("\n") == "Ċ")
    assert(TextAnalysis.gpt2ByteMap("\t") == "ĉ")
    assert(TextAnalysis.gpt2ByteMap("!") == "!")
    // printable Latin-1 BYTES map to themselves — but the STRING "ÿ" is
    // two UTF-8 bytes (C3 BF), so it maps through the table per byte
    assert(TextAnalysis.Gpt2ByteChar(255) == 'ÿ' && TextAnalysis.Gpt2ByteChar(161) == '¡')
    assert(TextAnalysis.gpt2ByteMap("ÿ") == "Ã¿")
    assert(TextAnalysis.gpt2ByteMap("­") == "Â" + (256 + 67).toChar,
      "soft hyphen: UTF-8 C2 AD → Â (194) + the 173 shift char")
    // byte granularity: one base char PER UTF-8 BYTE
    assert(TextAnalysis.gpt2ByteMap("é") == "Ã©")
    assert(TextAnalysis.gpt2ByteMap("中").length == 3)
    assert(TextAnalysis.gpt2ByteMap("😀").length == 4)
    // lossless round-trip over every script class and all 256 raw bytes
    val samples = Seq("café über 中文 😀", " leading", "tab\tnl\ncr\r",
      "ascii only!", new String((0 until 256).map(_.toChar).toArray))
    samples.foreach { s =>
      assert(TextAnalysis.gpt2ByteDecode(TextAnalysis.gpt2ByteMap(s)) == s)
    }
    intercept[IllegalArgumentException](TextAnalysis.gpt2ByteDecode("中"))
  }

  test("byteLevelCorpus: pieces byte-map to whitespace-free words; merges stay inside pre-token boundaries") {
    val d = Seq((1L, "hello café\nworld"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.byteLevelCorpus(d, "text").as[String].collect()
    // pre-tokens: "hello", " café", "\n", "world" — é byte-maps to Ã©,
    // the space prefix to Ġ, the newline run to Ċ
    assert(out.toSeq == Seq("hello ĠcafÃ© Ċ world"))
    // every emitted word decodes back to its source piece, and no word
    // carries whitespace — so the trainer (which sees whitespace-separated
    // words) can never merge across a pre-token boundary
    val pieces = out.head.split(" ").map(TextAnalysis.gpt2ByteDecode)
    assert(pieces.toSeq == Seq("hello", " café", "\n", "world"))
    assert(out.head.split(" ").forall(w => w.nonEmpty && !w.exists(_.isWhitespace)))
  }

  test("charEntropy: uniform alphabet hits log2(k); runs score 0; null/empty score 0 over 0 chars") {
    val d = Seq(
      (1L, "abab"),          // uniform 2-char → exactly 1 bit
      (2L, "aaaa"),          // single char → 0
      (3L, "abcdabcdabcdabcd"), // uniform 4-char → exactly 2 bits
      (4L, ""), (5L, null.asInstanceOf[String]),
      (6L, "aab")            // H = log2(3) - (2·log2 2 + 0)/3 = 0.918296
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 2L, 1.0)))
    assert(out(2L) == ((4L, 1L, 0.0)))
    assert(out(3L) == ((16L, 4L, 2.0)))
    assert(out(4L) == ((0L, 0L, 0.0)) && out(5L) == ((0L, 0L, 0.0)))
    assert(out(6L) == ((3L, 2L, 0.918296)))
  }

  test("knnGraph: edges equal the distributed self-join; mutual flags are exactly the reverse-edge set; planted copies pair at rank 1") {
    val emb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    val cents = Similarity.ivfTrainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    val index = Similarity.ivfIndexRows(emb, "vec_id", "embedding", cents)
    val g = Similarity.knnGraph(index, cents, k = 3, nprobe = 1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // 1. edge set + ranks/cosines equal knnJoinDistributed with the corpus as queries
    val direct = Similarity.knnJoinDistributed(index, cents,
        index.select(col("id"), col("v")), "id", "v", k = 3, nprobe = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(g.keySet == direct.keySet)
    g.foreach { case (e, (rk, cos, _)) => assert(direct(e) == ((rk, cos))) }
    // 2. mutual is exactly reverse-edge membership
    g.foreach { case ((a, b), (_, _, m)) => assert(m == g.contains((b, a)), s"($a,$b)") }
    // 3. an exact planted copy shares its donor's cell — each is the
    // other's rank-1 neighbor at cosine 1, and that edge is mutual
    val copies = g.keys.collect { case (q, n) if q >= 2000000L && n == q - 2000000L => (q, n) }
    assert(copies.nonEmpty)
    copies.foreach { case (q, n) =>
      val (rk, cos, m) = g((q, n))
      assert(rk == 1L && cos == 1.0 && m, s"copy edge ($q,$n): rank=$rk cos=$cos mutual=$m")
    }
  }

  test("knnGraphSdc: planted exact copies pair with their donors at cosine 1, mutual; reverse-edge flags exact") {
    val emb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    val cents = Similarity.ivfTrainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    val index = Similarity.ivfIndexRows(emb, "vec_id", "embedding", cents)
      .select(col("id"), col("centroid_id"), col("v"))
    val res = Similarity.ivfResiduals(index, cents)
    val books = Similarity.pqTrainCodebooks(res, "id", "rv", m = 8, ksub = 16,
      iters = 2, dims = 64)
    val codes = Similarity.pqEncode(res, "id", "rv", books, dims = 64,
      cellCol = Some("centroid_id"))
    val g = Similarity.knnGraphSdc(codes, books, cents, k = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // identical vectors get identical codes → the copy-donor reconstruction
    // cosine is exactly 1 and the pair is symmetric
    val copyEdges = g.keys.collect { case (q, n) if q >= 2000000L && n == q - 2000000L => (q, n) }
    assert(copyEdges.nonEmpty)
    copyEdges.foreach { case (q, n) =>
      val (rk, cos, mu) = g((q, n))
      assert(cos == 1.0 && mu, s"copy edge ($q,$n): rank=$rk cos=$cos mutual=$mu")
    }
    // mutual is exactly reverse-edge membership
    g.foreach { case ((a, b), (_, _, mu)) => assert(mu == g.contains((b, a)), s"($a,$b)") }
    // ranks within a query are 1..n with strictly non-increasing cosine
    g.groupBy(_._1._1).foreach { case (_, edges) =>
      val byRank = edges.values.toSeq.sortBy(_._1)
      assert(byRank.map(_._1) == (1L to byRank.length))
      byRank.sliding(2).foreach {
        case Seq(x, y) => assert(x._2 >= y._2)
        case _ =>
      }
    }
  }

  test("knnGraphSdc with OPQ rotation: copy edges stay exact; rotated-space SDC cosine matches the Rᵀ-reconstruction cosine") {
    val emb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    val cents = Similarity.ivfTrainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    val index = Similarity.ivfIndexRows(emb, "vec_id", "embedding", cents)
      .select(col("id"), col("centroid_id"), col("v"))
    val signs = Similarity.opqSigns(64, 17L)
    val res = Similarity.opqRotateResiduals(Similarity.ivfResiduals(index, cents), signs)
    val books = Similarity.pqTrainCodebooks(res, "id", "rv", m = 8, ksub = 16,
      iters = 2, dims = 64)
    val codes = Similarity.pqEncode(res, "id", "rv", books, dims = 64,
      cellCol = Some("centroid_id"))
    val g = Similarity.knnGraphSdc(codes, books, cents, k = 3,
        rotation = Some(signs)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // identical vectors share rotated codes → copy-donor cosine exactly 1
    val copyEdges = g.keys.collect { case (q, n) if q >= 2000000L && n == q - 2000000L => (q, n) }
    assert(copyEdges.nonEmpty)
    copyEdges.foreach { case (q, n) =>
      val (_, cos, mu) = g((q, n))
      assert(cos == 1.0 && mu, s"copy edge ($q,$n): cos=$cos mutual=$mu")
    }
    // the rotation identity itself: the SDC cosine of an edge equals the
    // cosine of the Rᵀ-RECONSTRUCTED vectors (c + Rᵀ·decode(codes)) up to
    // the 6-dp term quantization — checked on a handful of edges
    val bookArr = books.select(col("subspace").cast("int"), col("code_id").cast("long"), col("cv"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Double](2).toArray)).toMap
    val codeMap = codes.select(col("id").cast("long"), col("centroid_id").cast("long"), col("codes"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Long](2).toArray))).toMap
    val centMap = cents.select(col("centroid_id").cast("long"), col("vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    def recon(id: Long): Array[Double] = {
      val (cell, cs) = codeMap(id)
      val rHat = cs.zipWithIndex.flatMap { case (c, s) => bookArr((s, c)) }
      val back = Similarity.opqRotateInverseKernel(rHat, signs)
      centMap(cell).zip(back).map { case (a, b) => a + b }
    }
    g.keys.take(5).foreach { case (q, n) =>
      val (rq, rn) = (recon(q), recon(n))
      val cos = Similarity.dotKernel(rq, rn) /
        (math.sqrt(Similarity.dotKernel(rq, rq)) * math.sqrt(Similarity.dotKernel(rn, rn)))
      assert(math.abs(g((q, n))._2 - cos) < 1e-4,
        s"edge ($q,$n): sdc=${g((q, n))._2} recon=$cos")
    }
  }

  test("semanticDedupSdc with OPQ rotation: planted exact copies elect their donors at cosine 1; keeps partition the corpus") {
    val emb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    val cents = Similarity.ivfTrainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    val index = Similarity.ivfIndexRows(emb, "vec_id", "embedding", cents)
      .select(col("id"), col("centroid_id"), col("v"))
    val signs = Similarity.opqSigns(64, 17L)
    val res = Similarity.opqRotateResiduals(Similarity.ivfResiduals(index, cents), signs)
    val books = Similarity.pqTrainCodebooks(res, "id", "rv", m = 8, ksub = 16,
      iters = 2, dims = 64)
    val codes = Similarity.pqEncode(res, "id", "rv", books, dims = 64,
      cellCol = Some("centroid_id"))
    val out = Dedup.semanticDedupSdc(codes, books, cents, threshold = 0.9,
        rotation = Some(signs))
      .collect().map(r => r.getLong(0) -> ((
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4)))).toMap
    // identical vectors share rotated codes and the cell: every planted
    // copy loses to an earlier cos-1 member (its donor, or a code twin)
    val copies = out.keys.filter(_ >= 2000000L)
    assert(copies.nonEmpty)
    copies.foreach { id =>
      val (dupOf, cos, keep) = out(id)
      assert(!keep && cos.contains(1.0),
        s"copy $id: dup_of=$dupOf cos=$cos keep=$keep")
    }
    // verdict consistency: keep ⇔ no dup_of
    assert(out.values.forall(v => v._3 == v._1.isEmpty))
  }

  test("cellBalancedSample: quotas sum to the budget; alpha lifts the small cell; admission follows prototypicality") {
    val rows = (1 to 90).map(i => (i.toLong, 1L, i.toDouble)) ++
      (91 to 100).map(i => (i.toLong, 2L, (i - 90).toDouble))
    val idx = rows.toDF("id", "centroid_id", "dist")
    val out = Similarity.cellBalancedSample(idx, alpha = 0.5, n = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val quotas = out.map(r => r._2 -> r._4).toMap
    assert(quotas(1L) + quotas(2L) == 50)
    // natural share would give the small cell 5/50; sqrt weighting gives
    // sqrt(10)/(sqrt(90)+sqrt(10)) = 0.25 of the budget
    assert(quotas(2L) >= 12, s"small cell got ${quotas(2L)}")
    // admission = ascending dist (dist == id offset here): the most
    // prototypical members fill each quota, positions contiguous from 1
    val c1 = out.filter(_._2 == 1L).sortBy(_._3)
    assert(c1.map(_._1).toSeq == (1L to quotas(1L)).toSeq)
    assert(c1.map(_._3).toSeq == (1L to quotas(1L)).toSeq)
    // the small cell's quota exceeds its population (the documented
    // deficit case): all 10 members emit, the quota reports the ask
    val c2 = out.filter(_._2 == 2L).sortBy(_._3)
    assert(c2.map(_._1).toSeq == (91L to 100L).toSeq)
    assert(c2.length == 10 && quotas(2L) > 10)
  }

  test("semanticDedupSdc: planted exact copies elect their donors at cosine 1; keeps partition the corpus") {
    val emb = graft.queries.LlmQueries.plantedEmbeddings(spark, TestSpark.sf)
    val cents = Similarity.ivfTrainCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
    val index = Similarity.ivfIndexRows(emb, "vec_id", "embedding", cents)
      .select(col("id"), col("centroid_id"), col("v"))
    val res = Similarity.ivfResiduals(index, cents)
    val books = Similarity.pqTrainCodebooks(res, "id", "rv", m = 8, ksub = 16,
      iters = 2, dims = 64)
    val codes = Similarity.pqEncode(res, "id", "rv", books, dims = 64,
      cellCol = Some("centroid_id"))
    val out = Dedup.semanticDedupSdc(codes, books, cents, threshold = 0.9)
      .collect().map { r =>
        r.getLong(0) -> ((if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
      }.toMap
    assert(out.size == emb.count())
    // every exact copy (vec_id = donor + 2000000) shares its donor's codes:
    // it must be judged a dup at reconstruction cosine 1 — of its donor or
    // of an even-earlier identical-code member
    val copies = out.keys.filter(_ >= 2000000L)
    assert(copies.nonEmpty)
    copies.foreach { q =>
      val (dupOf, cos, keep) = out(q)
      assert(!keep && cos.contains(1.0) && dupOf.exists(_ < q),
        s"copy $q: dup_of=$dupOf cos=$cos keep=$keep")
    }
    // keep ⟺ no dup_of; a dup's target is always an earlier id
    out.foreach { case (id, (dupOf, _, keep)) =>
      assert(keep == dupOf.isEmpty)
      dupOf.foreach(d => assert(d < id))
    }
  }

  test("dsirResample: deterministic Gumbel-top-k — two runs agree row-for-row") {
    val docs = graft.queries.Tables.documents(spark, TestSpark.sf)
    def run() = TextAnalysis.dsirResample(docs, "doc_id", "text",
        col("lang") === "en", n = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    val a = run(); val b = run()
    assert(a == b)
    assert(a.length == 50)
  }

  test("preTokenize: GPT-2 split semantics — contractions, space-prefixed runs, punctuation, Ġ mark") {
    val d = Seq((1L, "I'll don't 123 ok!?  end"), (2L, "I'll ok"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.preTokenize(d, "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // contraction suffixes split off; words claim one leading space;
    // digit and punctuation runs are their own pieces; the double space
    // before "end" is one whitespace piece (lookahead-free deviation),
    // so "end" still gets NO leading space
    assert(got == Map(
      "I" -> 2L, "'ll" -> 2L, " don" -> 1L, "'t" -> 1L, " 123" -> 1L,
      " ok" -> 2L, "!?" -> 1L, "  " -> 1L, "end" -> 1L))
    val marked = d.select(explode(regexp_extract_all(col("text"),
        lit(TextAnalysis.Gpt2PreTokenRegex), lit(0))).as("p"))
      .select(TextAnalysis.gpt2SpaceMark(col("p")).as("m"))
      .where(col("m").startsWith("Ġ")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(marked == Set("Ġdon", "Ġ123", "Ġok", "ĠĠ"))
  }

  test("bpeTrain over preTokenizedCorpus: merges respect pre-token boundaries; raw trainer crosses them") {
    val d = Seq((1L, "x-y x-y x-y to to to")).toDF("doc_id", "text")
    val pre = TextAnalysis.bpeTrain(
        TextAnalysis.preTokenizedCorpus(d, "text"), "text", merges = 8)
      .collect().map(_.getString(3)).toSet
    // pieces are x, -, y, Ġx, Ġto…: the only learnable merges live inside
    // Ġto / Ġx — nothing ever fuses a letter to '-' across a boundary
    assert(pre == Set("to", "Ġto", "Ġx"))
    val raw = TextAnalysis.bpeTrain(d, "text", merges = 8)
      .collect().map(_.getString(3)).toSet
    // the whitespace trainer happily learns the cross-boundary '-y'/'x-y'
    assert(raw == Set("-y", "to", "x-y"))
  }

  test("winnowFingerprints: shared-run guarantee, exact-dup set equality, short-doc domain") {
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = fps.groupBy(_._1).map { case (id, v) => id -> v.map(_._2).toSet }
    // docs 1 and 2 share their first 13 words (≥ w+k−1 = 7): the winnowing
    // guarantee promises at least one shared fingerprint
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    // byte-identical docs select identical fingerprint sets
    assert(byDoc(1L) == byDoc(4L))
    // unrelated content shares nothing
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    // 2-word doc has no 4-gram: outside the winnowing domain, no rows
    assert(!byDoc.contains(5L))
    // every selected position is a valid full-window start and density is
    // bounded: a doc never selects more fingerprints than it has windows
    val words1 = docs.where($"doc_id" === 1L).head().getString(1).split(" ").length
    val windows1 = words1 - 4 + 1 - (4 - 1) // ng − w + 1
    assert(byDoc(1L).size <= windows1)
  }

  test("winnowFingerprints: typed kernel path is row-set identical to the expression path") {
    val d = Tables10
    def rows(typed: Boolean) =
      Dedup.winnowFingerprints(d, "doc_id", "text", k = 4, w = 4, typed = typed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (tk, ex) = (rows(true), rows(false))
    assert(tk == ex, s"kernel minus expr: ${(tk -- ex).take(3)}; " +
      s"expr minus kernel: ${(ex -- tk).take(3)}")
    // and on the fixture with short/duplicate docs
    def fx(typed: Boolean) =
      Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 4, typed = typed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fx(true) == fx(false))
  }

  test("winnowPairs: dup pairs found with counts, unrelated/short docs excluded, exact dup shares the full set") {
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", k = 4, w = 4,
        minShared = 1, maxDocFreq = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // the exact-dup pair shares every fingerprint doc 1 selects (each has
    // doc-frequency ≥ 2 by virtue of the duplicate itself)
    val n1 = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 4)
      .where($"doc_id" === 1L).select("fp").distinct().count()
    assert(pairs((1L, 4L)) == n1)
  }

  test("winnowContainment: a prefix subset is fully contained in its original, never the reverse") {
    val long = (1 to 30).map(i => s"w$i").mkString(" ")
    val short = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, long), (2L, short)).toDF("doc_id", "text")
    val out = Dedup.winnowContainment(d, "doc_id", "text", k = 4, w = 4,
        minContainment = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    // the subset's windows select over the SAME positional keys the
    // original's prefix windows do, so every subset fingerprint is the
    // original's too: containment(short in long) is exactly 1
    assert(out((2L, 1L)) == 1.0)
    assert(out((1L, 2L)) < 1.0)
  }

  test("text_split_safe: no near-dup cluster straddles the train/test boundary") {
    val out = graft.SparkEntry.queries("text_split_safe")(spark, TestSpark.sf)
    val straddlers = out.groupBy("cluster_id")
      .agg(countDistinct("split").as("n")).where($"n" > 1).count()
    assert(straddlers == 0L)
    // and both sides are non-empty at this scale (a degenerate one-sided
    // split would vacuously pass the invariant)
    assert(out.select("split").distinct().count() == 2L)
  }

  test("dedupIncrementalWinnow: exact copy matches its corpus donor, novel and sub-gram docs keep") {
    val corpusFps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 4)
      .select($"doc_id".as("id"), $"fp").distinct()
    val batch = Seq(
      (100L, docs.where($"doc_id" === 1L).head().getString(1)), // exact copy
      (101L, "totally novel unrelated words appear in this batch document now"),
      (102L, "one two") // < k words: no fingerprints
    ).toDF("doc_id", "text")
    val out = Dedup.dedupIncrementalWinnow(batch, corpusFps, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getString(4))).toMap
    // exact copy shares every fingerprint with docs 1 AND 4 (identical);
    // the tie elects the smaller corpus id
    assert(out(100L)._2.contains(1L) && out(100L)._3 == "near_dup_of_corpus")
    assert(out(100L)._1 > 0)
    assert(out(101L) == ((out(101L)._1, None, "kept")))
    assert(out(102L) == ((0L, None, "kept")))
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("lmScoreKneserNey: matches an in-JVM reference of the interpolated-KN formula") {
    val corpus = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val tokss = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val uni = tokss.values.flatten.groupBy(identity).map { case (w, v) => w -> v.size.toDouble }
    val total = uni.values.sum
    val occs = tokss.values.toSeq.flatMap(ws => ws.sliding(2).filter(_.size == 2)
      .map(p => (p(0), p(1))).toSeq)
    val cb = occs.groupBy(identity).map { case (k2, v) => k2 -> v.size.toDouble }
    val cc = occs.groupBy(_._1).map { case (k2, v) => k2 -> v.size.toDouble }
    val n1f = cb.keys.toSeq.groupBy(_._1).map { case (k2, v) => k2 -> v.size.toDouble }
    val nctx = cb.keys.toSeq.groupBy(_._2).map { case (k2, v) => k2 -> v.size.toDouble }
    val tt = cb.size.toDouble
    val d = 0.75
    def lpBi(pw: String, w: String): Double = r6(math.log(
      math.max(cb((pw, w)) - d, 0.0) / cc(pw) +
        d * n1f(pw) / cc(pw) * (nctx(w) / tt)))
    val expected = tokss.map { case (id, ws) =>
      val lp1 = r6(math.log(uni(ws.head) / total))
      val bi = ws.sliding(2).filter(_.size == 2).map(p => lpBi(p(0), p(1))).sum
      id -> r6(-(lp1 + bi))
    }
    val got = TextAnalysis.lmScoreKneserNey(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    expected.foreach { case (id, e) =>
      assert(math.abs(got(id) - e) < 1e-9, s"doc $id: got ${got(id)}, want $e")
    }
  }

  test("lmScoreStupidBackoff: matches an in-JVM reference of the backoff chain; OOV counted not dropped") {
    val train = docs.where($"doc_id" % 2 === 0)
    val tokss = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val tr = train.collect().map(_.getString(1).split(" ").toSeq).toSeq
    val c1 = tr.flatten.groupBy(identity).map { case (w, v) => w -> v.size.toDouble }
    val n = c1.values.sum
    val c2 = tr.flatMap(_.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (k2, v) => k2 -> v.size.toDouble }
    val c3 = tr.flatMap(_.sliding(3).filter(_.size == 3).map(p => (p(0), p(1), p(2))))
      .groupBy(identity).map { case (k2, v) => k2 -> v.size.toDouble }
    val a = 0.4
    def s(ws: Seq[String], i: Int): Option[Double] = {
      val w = ws(i)
      if (!c1.contains(w)) None
      else if (i == 0) Some(c1(w) / n)
      else if (i == 1) {
        val pw = ws(0)
        c2.get((pw, w)).map(_ / c1(pw)).orElse(Some(a * c1(w) / n))
      } else {
        val pw = ws(i - 1); val ppw = ws(i - 2)
        c3.get((ppw, pw, w)).map(_ / c2((ppw, pw)))
          .orElse(c2.get((pw, w)).map(a * _ / c1(pw)))
          .orElse(Some(a * a * c1(w) / n))
      }
    }
    val got = TextAnalysis.lmScoreStupidBackoff(docs, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    tokss.foreach { case (id, ws) =>
      val scores = ws.indices.map(i => s(ws, i))
      val eOov = scores.count(_.isEmpty).toLong
      val eNll = r6(-scores.flatten.map(x => r6(math.log(x))).sum)
      val (nw, oov, nll) = got(id)
      assert(nw == ws.size && oov == eOov, s"doc $id words/oov")
      assert(math.abs(nll - eNll) < 1e-9, s"doc $id: got $nll, want $eNll")
    }
    // odd docs contain train-absent vocabulary: OOV mass must be visible
    assert(got.exists { case (id, (_, oov, _)) => id % 2 == 1 && oov > 0 })
  }

  test("cdcChunks: chunks tile each doc exactly; boundary stability under an early insertion") {
    val d = Tables10
    val ch = Dedup.cdcChunks(d, "doc_id", "text", k = 4, mask = 16)
    // tiling: per doc, chunks are contiguous from 1 to n_words with no
    // gaps or overlaps (c_start of chunk i+1 = c_end of chunk i + 1)
    val rows = ch.orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 == 1L, s"doc $id first chunk start")
      sorted.sliding(2).filter(_.size == 2).foreach { case Array(a, b) =>
        assert(b._3 == a._4 + 1, s"doc $id gap between chunks ${a._2}/${b._2}")
      }
      val nWords = d.where($"doc_id" === id).head().getString(1).split(" ").length
      assert(sorted.last._4 == nWords, s"doc $id last chunk end")
    }
    // content-defined stability: prepend words to one doc — all chunk
    // hashes except (at most) the ones covering the edit survive
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
      "omega one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val edited = base.select($"doc_id", concat(lit("inserted words here "), $"text").as("text"))
    def hashes(df: org.apache.spark.sql.DataFrame) =
      Dedup.cdcChunks(df, "doc_id", "text", k = 4, mask = 16)
        .select("chunk_hash").collect().map(_.getLong(0)).toSet
    val (h0, h1) = (hashes(base), hashes(edited))
    // a fixed-offset blocking would lose every block; CDC must keep the
    // tail chunks whenever any boundary fires in the shared suffix
    if (h0.size > 1) assert((h0 intersect h1).nonEmpty,
      "no chunk survived an early insertion despite multiple chunks")
  }

  test("cdcChunks: typed kernel path is row-set identical to the expression path") {
    def rows(df: org.apache.spark.sql.DataFrame, typed: Boolean) =
      Dedup.cdcChunks(df, "doc_id", "text", k = 4, mask = 16, typed = typed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(rows(Tables10, typed = true) == rows(Tables10, typed = false))
    assert(rows(docs, typed = true) == rows(docs, typed = false))
  }

  test("cdcDuplicateChunks: exact-dup docs share every chunk; canonical is min id") {
    val dup = Dedup.cdcDuplicateChunks(docs, "doc_id", "text", k = 4, mask = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // docs 1 and 4 are byte-identical: every one of their chunks is
    // duplicated with canonical id 1
    val n1 = Dedup.cdcChunks(docs.where($"doc_id" === 1L), "doc_id", "text",
      k = 4, mask = 16).count()
    val canon1 = dup.filter(_._4 == 1L)
    assert(canon1.length >= n1.toInt)
    assert(canon1.forall(c => c._2 >= 2 && c._3 >= 2))
  }

  test("blocklistFilter: fraction gate, case fold, zero-banned docs keep") {
    val d = Seq(
      (1L, "clean words only here"),
      (2L, "SPAM spam spam ok"),          // 3/4 banned (case-folded)
      (3L, "one spam in twenty words a b c d e f g h i j k l m n")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistFilter(d, "doc_id", "text",
        banned = Seq("spam"), maxFraction = 0.1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    assert(out(1L) == ((0L, true)))
    assert(out(2L) == ((3L, false)))
    assert(out(3L) == ((1L, true))) // 1/20 = 0.05 <= 0.1
  }

  test("tfidfKeywords: corpus-wide words score zero, doc-unique words rank first") {
    val d = Seq(
      (1L, "common common unique1 filler"),
      (2L, "common filler unique2 unique2"),
      (3L, "common filler other")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(d, "doc_id", "text", topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(4)))
    val top = out.filter(_._2 == 1L).map(x => x._1 -> x._3).toMap
    // 'common' appears in all 3 docs: idf = ln(1) = 0 — never a keyword
    assert(!out.exists(x => x._3 == "common" && x._4 > 0.0))
    assert(top(1L) == "unique1" && top(2L) == "unique2" && top(3L) == "other")
  }

  test("hardNegatives: no same-label neighbor ever; ranks are label-filtered top-k by cosine") {
    val d = graft.queries.Tables.embeddings(spark, TestSpark.sf)
    val q = d.where($"vec_id" % 97 === 3)
    val out = Similarity.hardNegatives(d, "vec_id", "embedding", "label", q, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.nonEmpty)
    assert(out.forall(x => x._2 != x._4), "a same-label neighbor leaked through")
    // per query: exactly k rows, ranks 1..k, cosine non-increasing
    out.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1L to 5L), s"query $qid ranks")
      assert(sorted.sliding(2).filter(_.size == 2)
        .forall { case Array(a, b) => a._6 >= b._6 }, s"query $qid cosine order")
    }
  }

  test("viterbiSegment: DP optimum equals exhaustive enumeration under the (lp, np, seq) order") {
    val lp = Map("a" -> -2.0, "b" -> -2.5, "ab" -> -3.0, "ba" -> -5.0,
      "aba" -> -6.5, "bb" -> -4.5)
    def segs(w: String): Seq[List[String]] =
      if (w.isEmpty) Seq(Nil)
      else (1 to math.min(4, w.length)).flatMap { l =>
        val p = w.substring(0, l)
        if (lp.contains(p)) segs(w.substring(l)).map(p :: _) else Seq.empty
      }
    val words = (1 to 7).flatMap(n =>
      (0 until (1 << n)).map(m =>
        (0 until n).map(i => if (((m >> i) & 1) == 0) 'a' else 'b').mkString))
    words.foreach { w =>
      val all = segs(w).map { ps =>
        (ps.foldLeft(0.0)((acc, p) => acc + lp(p)), ps.length, ps.mkString(" "))
      }
      assert(all.nonEmpty, s"$w unsegmentable in fixture vocab")
      val best = all.sortWith { case ((al, an, as), (bl, bn, bs)) =>
        TextAnalysis.unigramBetter(al, an, as, bl, bn, bs)
      }.head
      val (gSeq, gLp, gNp) = TextAnalysis.viterbiSegment(w, lp, 4)
      assert((gLp, gNp, gSeq) == best, s"word $w: DP $gSeq vs enum ${best._3}")
    }
  }

  test("unigramTrain/unigramEncode: piece-length bound, count mass conservation, encode consistency") {
    val d = Tables10
    val vocab = TextAnalysis.unigramTrain(d, "text", maxPieceLen = 4,
      seedSize = 40, iters = 2)
    val rows = vocab.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty && rows.forall(_._1.length <= 4))
    assert(rows.exists(_._1.length > 1), "hard-EM learned no multi-char piece")
    val enc = TextAnalysis.unigramEncode(d, "doc_id", "text", vocab, maxPieceLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(enc.length == d.count())
    // every word is at least one piece; NLL of a segmentation is positive
    assert(enc.forall(e => e._3 >= e._2 && e._4 > 0.0))
    // (vocab counts are the ITER-2 segmentation's masses under l1 probs;
    // encode re-segments under the final l2 probs, so the two piece masses
    // may legitimately differ — no cross-equation asserted)
  }

  test("cms: per-row mass conservation, one-sided estimates over the whole vocabulary") {
    val d = Tables10
    val cells = TextAnalysis.cmsCells(d, "text", depth = 4, width = 256)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val n = d.select(explode(split(col("text"), " "))).count()
    // each hash row partitions the full token stream: mass conserved
    cells.groupBy(_._1).foreach { case (seed, v) =>
      assert(v.map(_._3).sum == n, s"seed $seed mass")
      assert(v.size <= 256)
    }
    // estimate >= exact for EVERY corpus word (the CMS one-sided bound)
    val probe = d.select(explode(split(col("text"), " ")).as("w"))
    val est = TextAnalysis.cmsEstimate(probe, "w",
        TextAnalysis.cmsCells(d, "text", depth = 4, width = 256),
        depth = 4, width = 256)
    val exact = probe.groupBy("w").count()
    val bad = est.join(exact, "w").where(col("est") < col("count")).count()
    assert(bad == 0L)
  }

  test("gear/fastCdc kernels fail loud on non-BMP text (char vs code-point indexing would silently diverge)") {
    val astral = Seq((1L, "plain text with an astral char 😀 inside"))
      .toDF("doc_id", "text")
    val e = intercept[org.apache.spark.SparkException] {
      Dedup.gearChunks(astral, "doc_id", "text").collect()
    }
    assert(e.getMessage.contains("non-BMP") ||
      Option(e.getCause).exists(_.getMessage.contains("non-BMP")), e.toString)
    val e2 = intercept[org.apache.spark.SparkException] {
      Dedup.fastCdcChunks(astral, "doc_id", "text").collect()
    }
    assert(e2.getMessage.contains("non-BMP") ||
      Option(e2.getCause).exists(_.getMessage.contains("non-BMP")), e2.toString)
  }

  test("gearChunks: chunks partition the text; an in-word byte edit re-aligns within 64 chars") {
    val base = (1 to 400).map(i => s"w$i").mkString(" ") // ~2,400 chars
    // overwrite ONE character mid-word at offset 300 — the edit class that
    // shifts a word k-gram but must not shift distant gear boundaries
    val edited = base.substring(0, 300) + "@" + base.substring(301)
    val d = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val rows = Dedup.gearChunks(d, "doc_id", "text", maskBits = 6)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    // partition: chunks tile [1, n] contiguously in order
    rows.values.foreach { cs =>
      assert(cs.head._2 == 1L)
      cs.sliding(2).withFilter(_.length == 2).foreach { p =>
        assert(p(1)._2 == p(0)._3 + 1, s"gap: ${p(0)} -> ${p(1)}")
      }
      assert(cs.last._3 == base.length.toLong)
    }
    // re-alignment: every chunk that starts 64+ chars past the edit (and
    // every chunk fully before it) has an identical hash in both docs
    val h1 = rows(1L).map(c => (c._2, c._4)).toSet
    val far = rows(2L).filter(c => c._2 > 301 + 64 || c._3 < 301)
    assert(far.nonEmpty)
    far.foreach(c => assert(h1.contains((c._2, c._4)),
      s"chunk at ${c._2} failed to re-align"))
    // and the edit itself changed at least one chunk
    assert(rows(1L).map(_._4).toSet != rows(2L).map(_._4).toSet)
  }

  test("fastCdcChunks: tiling, size bounds, normalization actually cuts, edits re-align") {
    val base = (1 to 500).map(i => s"tok$i").mkString(" ") // ~3,400 chars
    val edited = base.substring(0, 400) + "@" + base.substring(401)
    val d = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val rows = Dedup.fastCdcChunks(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    rows.values.foreach { cs =>
      // contiguous tiling of [1, n]
      assert(cs.head._2 == 1L && cs.last._3 == base.length.toLong)
      cs.sliding(2).withFilter(_.length == 2).foreach { p =>
        assert(p(1)._2 == p(0)._3 + 1, s"gap: ${p(0)} -> ${p(1)}")
      }
      // size bounds: every chunk ≤ maxSize; every non-final chunk ≥ minSize
      cs.foreach(c => assert(c._3 - c._2 + 1 <= 256L, c.toString))
      cs.init.foreach(c => assert(c._3 - c._2 + 1 >= 64L, c.toString))
      // normalization cuts on content, not only the max bound
      assert(cs.init.exists(c => c._3 - c._2 + 1 < 256L),
        "no content-defined cut fired — fixture/mask mismatch")
    }
    // chunks fully before the edit are untouched
    val h1 = rows(1L).map(c => (c._2, c._4)).toSet
    val before = rows(2L).filter(_._3 < 401)
    assert(before.nonEmpty)
    before.foreach(c => assert(h1.contains((c._2, c._4)), c.toString))
    // re-alignment: min-size suppression makes boundary positions depend
    // on the chunk start, so an edit cascades until a boundary COINCIDES
    // again (probabilistic, unlike pure-rolling gear's 64-char bound) —
    // and once starts coincide, identical suffix content forces identical
    // cuts forever. Assert the re-sync happened: the chunk lists share a
    // nonempty common SUFFIX, and from the first post-edit match onward
    // every chunk matches.
    val sync = rows(2L).find(c => c._2 > 401 && h1.contains((c._2, c._4)))
    assert(sync.isDefined, "chunking never re-synced after the edit")
    rows(2L).filter(_._2 >= sync.get._2).foreach(c =>
      assert(h1.contains((c._2, c._4)),
        s"chunk at ${c._2} diverged after re-sync at ${sync.get._2}"))
  }

  test("hot-gram cap: capped and uncapped paths are row-identical for softDedup and repeatedSpans") {
    // every doc shares a 6-word boilerplate tail → its grams are hot at
    // threshold 3; doc-unique grams stay on the cold window path
    val d = Tables10.select(col("doc_id"),
      concat(coalesce(col("text"), lit("")),
        lit(" hb1 hb2 hb3 hb4 hb5 hb6")).as("text"))
    val softU = Dedup.softDedupScores(d, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val softC = Dedup.softDedupScores(d, "doc_id", "text", n = 4,
        hotGramThreshold = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(softU == softC)
    val spanU = Dedup.repeatedSpans(d, "doc_id", "text", n = 4)
      .collect().map(_.toSeq).toSet
    val spanC = Dedup.repeatedSpans(d, "doc_id", "text", n = 4,
        hotGramThreshold = Some(3L))
      .collect().map(_.toSeq).toSet
    assert(spanU == spanC)
    assert(spanU.nonEmpty, "the boilerplate tail must flag spans")
  }

  test("hot-census guard: a careless tiny threshold fails loud at the row bound") {
    // threshold 0 makes EVERY distinct gram "hot" — far past a 2-row bound
    val d = Tables10
    val e1 = intercept[IllegalArgumentException] {
      Dedup.softDedupScores(d, "doc_id", "text", n = 4,
        hotGramThreshold = Some(0L), hotCensusMaxRows = 2)
    }
    assert(e1.getMessage.contains("hot-gram census"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.repeatedSpans(d, "doc_id", "text", n = 4,
        hotGramThreshold = Some(0L), hotCensusMaxRows = 2)
    }
    assert(e2.getMessage.contains("hot-gram census"), e2.getMessage)
  }

  test("pplBuckets: a negative nll_sum (positive total log-prob) fails loud") {
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val scored = Seq((1L, "en", 3L, -0.25), (2L, "en", 2L, 1.5))
      .toDF("doc_id", "lang", "n_words", "nll_sum")
    val e = intercept[Exception] {
      TextAnalysis.pplBuckets(scored, "doc_id", "lang").collect()
    }
    assert(msgChain(e).contains("non-negative nll_sum"), msgChain(e))
    val e2 = intercept[Exception] {
      TextAnalysis.pplBucketsThreshold(scored, "doc_id", "lang").collect()
    }
    assert(msgChain(e2).contains("non-negative nll_sum"), msgChain(e2))
  }

  test("kn5 pruning: pruned model stays exactly normalized; quantized model within its floors") {
    val d = graft.queries.Tables.documents(spark, TestSpark.sf).limit(200)
    val types = TextAnalysis.kn5TypeTable(
      d.where(col("doc_id") % 2 === 0), "doc_id", "text").persist()
    val pruned = TextAnalysis.kn5Prune(types).persist()
    // the prune actually bites and only where it should
    assert(pruned.count() < types.count())
    assert(pruned.where(col("ord") >= 3 && col("cnt") < 2.0).count() == 0)
    assert(pruned.where(col("ord") <= 2).count() ==
      types.where(col("ord") <= 2).count())
    // normalization probe: pick the heaviest pruned order-5 context h and
    // score "h w" for EVERY vocab word — Σ_w p(w|h) must be 1. Each probe
    // doc shares the 4 history positions with the prefix doc, so their
    // rounded per-position scores cancel exactly; only the last position's
    // 6-dp ln rounding remains (≤ 5e-7 relative per term). A model whose
    // context masses were NOT recomputed over the pruned table fails this
    // at the percent level (the dropped singleton mass).
    val h = pruned.where(col("ord") === 5)
      .groupBy("h4", "h3", "h2", "h1").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("h4")).limit(1).collect()(0)
    val hist = Seq(h.getString(0), h.getString(1), h.getString(2), h.getString(3))
    val vocab = pruned.where(col("ord") === 1).select("w")
      .collect().map(_.getString(0))
    assert(vocab.length > 20, s"degenerate vocab: ${vocab.length}")
    val probe = ((-1L, hist.mkString(" ")) +: vocab.zipWithIndex.map {
      case (w, i) => (i.toLong, (hist :+ w).mkString(" "))
    }.toSeq).toDF("doc_id", "text")
    def sumP(scored: org.apache.spark.sql.DataFrame): Double = {
      val nll = scored.select(col("doc_id"), col("nll_sum"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val prefix = nll(-1L)
      vocab.indices.iterator.map(i => math.exp(prefix - nll(i.toLong))).sum
    }
    val sPruned = sumP(TextAnalysis.lmScoreKn5FromModel(probe, "doc_id",
      "text", pruned))
    assert(math.abs(sPruned - 1.0) < 1e-3, s"pruned model sum_w p(w|h) = $sPruned")
    // quantized model: same probe, quantization-error tolerance
    val quant = TextAnalysis.kn5QuantModel(pruned).persist()
    val sQuant = sumP(TextAnalysis.lmScoreKn5Quant(probe, "doc_id", "text",
      quant))
    assert(math.abs(sQuant - 1.0) < 1e-2, s"quantized model sum_w p(w|h) = $sQuant")
    // ln(0) floors: every backoff γ, the uniform floor and the pos-0
    // unigram are clamped to ≥ 1 micro-unit
    val floors = quant.where(col("kind").isin("ctx", "scal"))
      .agg(min(col("qa6")), min(col("qb6"))).collect()(0)
    assert(floors.getLong(0) >= 1L && floors.getLong(1) >= 1L, floors.toString)
    assert(quant.where(col("kind") === "uni").agg(min(col("qa6")))
      .collect()(0).getLong(0) >= 1L)
    // quantized MODIFIED-KN: same normalization probe and floors, scored
    // through the UNCHANGED lmScoreKn5Quant (the modified-ness lives
    // entirely in the stored qa6/qb6 values)
    val quantM = TextAnalysis.kn5QuantModel(pruned, modified = true).persist()
    val sQuantM = sumP(TextAnalysis.lmScoreKn5Quant(probe, "doc_id", "text",
      quantM))
    assert(math.abs(sQuantM - 1.0) < 1e-2,
      s"quantized modified model sum_w p(w|h) = $sQuantM")
    val floorsM = quantM.where(col("kind").isin("ctx", "scal"))
      .agg(min(col("qa6")), min(col("qb6"))).collect()(0)
    assert(floorsM.getLong(0) >= 1L && floorsM.getLong(1) >= 1L,
      floorsM.toString)
    // the Chen–Goodman triples actually bite on this corpus (the stored
    // values differ from the fixed-discount artifact)
    assert(quantM.exceptAll(quant).count() > 0)
    quantM.unpersist()
    types.unpersist(); pruned.unpersist(); quant.unpersist()
  }

  test("kn5 pre-join invariant: every continuation key is attested at its own order, pruned and unpruned") {
    // lmScoreKn5FromModel's model-side LEFT pre-joins (gram ⟕ continuation
    // twin on the gram key, context ⟕ continuation-context twin on the
    // history key) are only equivalent to the old independent occ-side
    // left joins when every continuation table's keys are a SUBSET of its
    // raw twin's (r15 verdict #3 / ADVICE: the suffix-closure argument is
    // correct for kn5TypeTable + any non-decreasing kn5Prune schedule, but
    // nothing failed loud if a future pruning change broke it — the
    // queries would silently null out continuation counts). Pin it: the
    // anti-join must be EMPTY per level, for the unpruned table and two
    // pruning schedules.
    val d = graft.queries.Tables.documents(spark, TestSpark.sf)
    val types0 = TextAnalysis.kn5TypeTable(d, "doc_id", "text").persist()
    try {
      assert(types0.where(col("ord") === 5).count() > 0, "degenerate corpus")
      for ((label, types) <- Seq(
          "unpruned" -> types0,
          "pruned(2)" -> TextAnalysis.kn5Prune(types0),
          "pruned(3)" -> TextAnalysis.kn5Prune(types0, 3L))) {
        def t(o: Int) = types.where(col("ord") === o)
        val violations = Seq(
          "cont1 keys (from ord 2) not in uni" ->
            t(2).select(col("w")).distinct()
              .join(t(1).select(col("w")), Seq("w"), "left_anti"),
          "cc2 keys (from ord 3) not in t2" ->
            t(3).select(col("h1"), col("w")).distinct()
              .join(t(2).select(col("h1"), col("w")), Seq("h1", "w"), "left_anti"),
          "cc3 keys (from ord 4) not in t3" ->
            t(4).select(col("h2"), col("h1"), col("w")).distinct()
              .join(t(3).select(col("h2"), col("h1"), col("w")),
                Seq("h2", "h1", "w"), "left_anti"),
          "cc4 keys (from ord 5) not in t4" ->
            t(5).select(col("h3"), col("h2"), col("h1"), col("w")).distinct()
              .join(t(4).select(col("h3"), col("h2"), col("h1"), col("w")),
                Seq("h3", "h2", "h1", "w"), "left_anti"))
        violations.foreach { case (name, v) =>
          assert(v.count() == 0,
            s"$label: $name — continuation keys escaped their raw twin; " +
              "the kn5 model-side left pre-joins are no longer equivalent " +
              "to independent occ-side joins")
        }
      }
    } finally types0.unpersist()
  }

  test("kn5QuantModel modified: an all-degenerate count-of-counts corpus falls back to the fixed model bit-for-bit") {
    // every word distinct → every count = 1 → n2..n4 = 0 at every level →
    // KenLM's validity rule falls every triple back to 0.75, which
    // quantizes to exactly 750000: the modified artifact must equal the
    // fixed one row-for-row
    val docs2 = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "lambda mu nu xi omicron")).toDF("doc_id", "text")
    val types = TextAnalysis.kn5TypeTable(docs2, "doc_id", "text").persist()
    val fixed = TextAnalysis.kn5QuantModel(types).collect()
      .map(_.toSeq.toList).toSet
    val mod = TextAnalysis.kn5QuantModel(types, modified = true).collect()
      .map(_.toSeq.toList).toSet
    assert(mod == fixed)
    types.unpersist()
  }

  test("softEmLoss: hand-computed removal losses; loss-prune keeps the max-retained-likelihood set at the cut") {
    // word "ab", vocab {a:.25, b:.25, ab:.5}: Z = .5625, Z₋ab = .0625
    // loss(ab) = ln 9 → 2.197225 → 2197225 µnats
    val l1 = TextAnalysis.softEmLoss("ab", 1L,
      Map("a" -> 0.25, "b" -> 0.25, "ab" -> 0.5), 4).toMap
    assert(l1 == Map("ab" -> 2197225L), l1.toString)
    // word "aab" f=2, vocab {a:.2, b:.2, ab:.3, aa:.3}:
    // Z = .128, Z₋ab = .068, Z₋aa = .068 (both forwards hand-checked)
    val l2 = TextAnalysis.softEmLoss("aab", 2L,
      Map("a" -> 0.2, "b" -> 0.2, "ab" -> 0.3, "aa" -> 0.3), 4).toMap
    val exp = Math.round(Similarity.roundHalfUp(
      2.0 * (math.log(0.128) - math.log(0.068)), 6) * 1e6)
    assert(l2 == Map("aa" -> exp, "ab" -> exp), s"$l2 vs $exp")

    // cut property on a real corpus, one EM round: reconstruct the seed
    // state independently, recompute masses/losses through the kernels,
    // and assert the trainer kept EXACTLY the top-loss tranche (min kept
    // loss ≥ max dropped loss, ties by piece asc), singles floor intact
    val d = Tables10
    val wt = d.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val subCounts = scala.collection.mutable.HashMap[String, Long]()
    for ((w, f) <- wt; i <- 0 until w.length;
         l <- 1 to math.min(4, w.length - i))
      subCounts.updateWith(w.substring(i, i + l))(c => Some(c.getOrElse(0L) + f))
    val top = subCounts.toSeq.sortBy { case (p, c) => (-c, p) }.take(40)
    val seed = (top ++ subCounts.toSeq.filter(_._1.length == 1))
      .distinctBy(_._1)
    val tot0 = seed.map(_._2).sum.toDouble
    val p0 = seed.map { case (p, c) => p -> (c / tot0) }.toMap
    val masses = scala.collection.mutable.HashMap[String, Long]()
    val losses = scala.collection.mutable.HashMap[String, Long]()
    for ((w, f) <- wt) {
      TextAnalysis.softEmExpected(w, f, p0, 4).foreach { case (p, m) =>
        masses.updateWith(p)(c => Some(c.getOrElse(0L) + m)) }
      TextAnalysis.softEmLoss(w, f, p0, 4).foreach { case (p, m) =>
        losses.updateWith(p)(c => Some(c.getOrElse(0L) + m)) }
    }
    val multis = masses.toSeq.filter { case (p, m) => p.length > 1 && m > 0 }
    val keep = math.max(8, math.ceil(multis.length * 0.5).toLong).toInt
    val ranked = multis.map { case (p, _) => (p, losses.getOrElse(p, 0L)) }
      .sortBy { case (p, l) => (-l, p) }
    val expectedKept = ranked.take(keep).map(_._1).toSet
    val out = TextAnalysis.unigramTrainSoft(d, "text", maxPieceLen = 4,
        seedSize = 40, iters = 1, targetMulti = 8, shrink = 0.5,
        lossPrune = true)
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    val keptMultis = out.filter(_._1.length > 1)
    assert(keptMultis.map(_._1).toSet == expectedKept,
      s"kept ${keptMultis.map(_._1).sorted} vs expected ${expectedKept.toSeq.sorted}")
    // the cut maximizes retained likelihood: nothing dropped out-ranks a keep
    if (ranked.length > keep) {
      val minKept = ranked.take(keep).map(_._2).min
      val maxDropped = ranked.drop(keep).map(_._2).max
      assert(minKept >= maxDropped, s"$minKept < $maxDropped")
    }
    // losses surfaced on multis, null on singles; coverage floor intact
    keptMultis.foreach { case (p, _, l) =>
      assert(l.contains(losses.getOrElse(p, 0L)), s"$p loss mismatch") }
    val chars = wt.flatMap(_._1.toSeq).map(_.toString).toSet
    val singles = out.filter(_._1.length == 1)
    assert(singles.map(_._1).toSet == chars)
    singles.foreach { case (p, m, l) =>
      assert(l.isEmpty && m >= 1L, s"single $p: m=$m l=$l") }
  }

  test("softEmExpected: hand-computed masses, per-position coverage conservation") {
    // word "ab", vocab {a: .25, b: .25, ab: .5}: Z = .25·.25 + .5 = .5625
    // ec(a) = ec(b) = .0625/.5625 = .1̄; ec(ab) = .5/.5625 = .8̄
    val m = TextAnalysis.softEmExpected("ab", 1L,
      Map("a" -> 0.25, "b" -> 0.25, "ab" -> 0.5), 4).toMap
    assert(m == Map("a" -> 111111L, "b" -> 111111L, "ab" -> 888889L), m.toString)
    // coverage conservation: occurrences covering each char position sum
    // to one token's mass (position 0: a + ab; position 1: b + ab)
    assert(m("a") + m("ab") == 1000000L)
    assert(m("b") + m("ab") == 1000000L)
    // frequency weighting scales linearly in the quantized units
    val m7 = TextAnalysis.softEmExpected("ab", 7L,
      Map("a" -> 0.25, "b" -> 0.25, "ab" -> 0.5), 4).toMap
    assert(m7("ab") == 6222222L, m7.toString) // round(7·0.8̄, 6)·1e6
  }

  test("unigramTrainSoft: monotone vocabulary shrink, single-char coverage floor survives pruning") {
    val d = Tables10
    def multis(iters: Int): (Set[String], Int) = {
      val rows = TextAnalysis.unigramTrainSoft(d, "text", maxPieceLen = 4,
          seedSize = 40, iters = iters, targetMulti = 8, shrink = 0.5)
        .collect().map(_.getString(0)).toSet
      (rows, rows.count(_.length > 1))
    }
    val (v1, m1) = multis(1)
    val (v2, m2) = multis(2)
    val (v3, m3) = multis(3)
    assert(m1 >= m2 && m2 >= m3,
      s"pruning schedule must shrink the multi-piece vocab: $m1, $m2, $m3")
    assert(m3 >= 8, "never below the target floor while survivors remain")
    // coverage floor: every distinct corpus character survives every round
    val chars = d.select(explode(split(col("text"), " ")).as("w"))
      .collect().flatMap(_.getString(0).toCharArray.map(_.toString)).toSet
    Seq(v1, v2, v3).foreach(v => assert(chars.subsetOf(v),
      s"missing single chars: ${chars -- v}"))
  }

  test("lmScoreKn5: OOV accounted, self-score has zero OOV, continuation probability beats raw frequency after an unseen context") {
    // 'francisco' and 'the' have EQUAL unigram counts (8), but francisco
    // only ever follows 'san' (one continuation context) while 'the'
    // follows eight distinct words — after an UNSEEN history, KN must
    // prefer 'the' (the correction raw-frequency backoff cannot make)
    val train = (
      (1 to 8).map(i => (i.toLong, "san francisco")) ++
      (1 to 8).map(i => (8L + i, s"w$i the"))
    ).toDF("doc_id", "text")
    val self = TextAnalysis.lmScoreKn5(train, train, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(self.length == 16)
    assert(self.forall(_._3 == 0L), "train-corpus self-score must have zero OOV")
    assert(self.forall(_._4 > 0.0))
    val probe = Seq((100L, "zzz francisco"), (101L, "zzz the")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreKn5(probe, train, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out(100L)._1 == 1L && out(101L)._1 == 1L, "zzz is OOV, counted once")
    assert(out(101L)._2 < out(100L)._2,
      s"after unseen context, p(the) must exceed p(francisco): $out")
  }

  test("lmScoreKn5: top-level conditional distributions normalize over the vocabulary (fixed AND modified discounts)") {
    // extract p(w|h) by score differencing: nll(prefix + w) − nll(prefix)
    // is the final position's −ln p under the chain top for that length;
    // summed over the FULL vocab it must be 1 (within 6-dp rounding dust)
    val train = Tables10.limit(40)
    val vocab = train.select(explode(split(col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0))
    assert(vocab.length >= 5)
    // an attested 4-word history from the train text (first 4 words of doc 1)
    val first = train.orderBy("doc_id").select(col("text")).head().getString(0)
    val h4 = first.split(" ").take(4)
    require(h4.length == 4)
    for (mod <- Seq(false, true)) {
      def nlls(docs: Seq[(Long, String)]): Map[Long, Double] =
        TextAnalysis.lmScoreKn5(docs.toDF("doc_id", "text"), train,
            "doc_id", "text", modified = mod)
          .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      // bigram level: p2r(w | h) over vocab sums to 1
      val h1 = h4.head
      val bg = nlls(Seq((0L, h1)) ++ vocab.zipWithIndex.map { case (w, i) =>
        ((i + 1).toLong, s"$h1 $w") })
      val base1 = bg(0L)
      val sum2 = vocab.indices.map(i => math.exp(-(bg((i + 1).toLong) - base1))).sum
      assert(math.abs(sum2 - 1.0) < 1e-3, s"p2r (modified=$mod) sums to $sum2")
      // 5-gram level: p5(w | h4 h3 h2 h1) over vocab sums to 1
      val prefix = h4.mkString(" ")
      val fg = nlls(Seq((0L, prefix)) ++ vocab.zipWithIndex.map { case (w, i) =>
        ((i + 1).toLong, s"$prefix $w") })
      val base4 = fg(0L)
      val sum5 = vocab.indices.map(i => math.exp(-(fg((i + 1).toLong) - base4))).sum
      assert(math.abs(sum5 - 1.0) < 1e-3, s"p5 (modified=$mod) sums to $sum5")
    }
  }

  test("jsDivergenceBySource: disjoint-vocabulary pair surfaces at the ln 2 maximum") {
    val d = Seq(
      ("a", "alpha beta alpha"), ("a", "beta gamma"),
      ("b", "delta epsilon"), ("b", "zeta delta"),
      ("c", "alpha delta")   // shares words with both a and b
    ).toDF("source", "text")
    val out = TextAnalysis.jsDivergenceBySource(d, "source", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // every ordered pair present, including the disjoint one
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val (nsAB, jsAB) = out(("a", "b"))
    assert(nsAB == 0L, "a/b share no words")
    assert(jsAB == Similarity.roundHalfUp(math.log(2.0), 6),
      s"disjoint pair must report ln 2, got $jsAB")
    // overlapping pairs are strictly below the maximum
    assert(out(("a", "c"))._2 < jsAB && out(("b", "c"))._2 < jsAB)
  }

  test("typed kernels fail loud on a non-integral id column; integral ids keep their type") {
    val bad = Seq(("x1", "a b c d e f"), ("x2", "g h i j k l"))
      .toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.winnowFingerprints(bad, "doc_id", "text")
    }
    assert(e1.getMessage.contains("typed kernel"))
    intercept[IllegalArgumentException] {
      Dedup.cdcChunks(bad, "doc_id", "text")
    }
    // int ids: kernel output schema matches the expression path's
    val intDocs = Seq((1, "a b c d e f g h"), (2, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val typed = Dedup.winnowFingerprints(intDocs, "doc_id", "text")
    val expr = Dedup.winnowFingerprints(intDocs, "doc_id", "text", typed = false)
    assert(typed.schema.map(f => (f.name, f.dataType)) ==
      expr.schema.map(f => (f.name, f.dataType)),
      s"${typed.schema} vs ${expr.schema}")
    assert(typed.collect().toSet == expr.collect().toSet)
  }
}
