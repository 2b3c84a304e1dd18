package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape assertions — the 100 TB scalability contract, checked on the
 * actual optimized plans: pushdown reaches the scan, projections prune
 * columns, dims broadcast, top-k avoids a full sort, aggregation is
 * partial+final, and per-row operators add no shuffle.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("s2_scan: filter pushed to parquet, schema pruned to 4+1 columns") {
    val p = plan("s2_scan")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("GreaterThan(l_quantity"), p)
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_tax"), "projection must prune unused columns\n" + p)
  }

  test("join_broadcast: dims join as BroadcastHashJoin, no shuffle join") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("topk: planned as TakeOrderedAndProject (no global sort)") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), p)
  }

  test("agg_q1: partial then final hash aggregation (map-side combine)") {
    val p = plan("agg_q1")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("k1 fold: single shuffle, hash-agg max_by, no window sort") {
    val df = graft.SparkEntry.queries("k1_upsert_lww")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "LWW fold must be an aggregation, not a window\n" + p)
    assert(p.contains("max_by") || p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    // exactly one exchange for the groupBy (plus the orderBy's range exchange)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected extra shuffles ($exchanges)\n" + p)
  }

  test("dedup/text per-row signature stages add no shuffle before candidate join") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val sigs = docs
      .select(col("doc_id"), graft.llm.TextHashing.wordShingles(col("text"), 3).as("sh"))
      .withColumn("hashes", graft.llm.TextHashing.shingleHashes(col("sh")))
    val p = sigs.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "signature computation must be shuffle-free\n" + p)
    val tq = graft.SparkEntry.queries("text_quality")(spark, sf)
    val tp = tq.queryExecution.executedPlan.toString
    // only the final presentation orderBy may exchange (range partitioning)
    assert(!tp.contains("Exchange hashpartitioning"), tp)
  }

  test("join_asof: union-and-sweep — window sweep, no nested-loop or range self-join") {
    val p = plan("join_asof")
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("mm_phash: sketch derivation is shuffle-free; pair join is banded, never cartesian") {
    import org.apache.spark.sql.functions._
    val media = graft.llm.Multimodal.asMedia(
      Tables.documents(spark, sf), "doc_id", "text")
    val sp = graft.llm.Multimodal.phashSketches(media)
      .queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange"),
      "decode + sketch must be one shuffle-free typed stage\n" + sp)
    val p = plan("mm_phash")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "pairing must go through the band join\n" + p)
  }

  test("mm_pair_filter: one id-equality join, no cartesian, codegen-compiled kernel stage") {
    val p = plan("mm_pair_filter")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"), p)
  }

  test("text_lm_kn5: live scoring materializes its score result and releases the type table") {
    // materializeAndRelease (r12 ADVICE): the builder eagerly computes the
    // per-doc scores through a persisted type table (one cached read per
    // join leg, not ~15× re-aggregation), caches the tiny result, and
    // unpersists the type table — so the final plan is a pure cached-result
    // read with ZERO model derivation left in it
    val p = plan("text_lm_kn5")
    val hits = "InMemoryTableScan|TableCacheQueryStage".r.findAllIn(p).size
    assert(hits >= 1, "the live 5-gram score result must be cached\n" + p)
    // the IMR node prints its recorded build plan — only the fragment
    // ABOVE the cache boundary is what this query actually executes
    val top = p.split("InMemoryRelation")(0)
    assert(!top.contains("HashAggregate"),
      "model derivation leaked past the materialized score result\n" + p)
  }

  test("text_lm_kn5q: every model leg is a (kind, ord)-pruned scan of the quant store; no model-side aggregation") {
    val p = plan("text_lm_kn5q")
    // 9 legs: uni + gram/ctx for orders 2..5 (scal broadcasts separately)
    val pruned = ("PartitionFilters: \\[[^\\]]*kind[^\\]]* = (uni|gram|ctx)" +
      "[^\\]]*\\]").r.findAllIn(p).size
    assert(pruned >= 9,
      s"expected >= 9 partition-pruned quant-store scans, got $pruned\n" + p)
    // scoring pays NO model derivation: the only aggregation is the final
    // per-doc rollup (partial + final)
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs <= 2, s"model-side aggregation leaked into scoring ($aggs)\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_ivf_search: partition-pruned scan of the stored index, no join over the corpus") {
    val p = plan("sim_ivf_search")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the search must read the STORED cell-partitioned index: the probed-cell
    // restriction is a partition filter on centroid_id (only those cells'
    // files are read), and cell membership is NOT re-derived — no crossJoin
    // against centroids, no join of any kind in the search plan
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
      "probed cells must prune partitions at the parquet scan\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Join"),
      "cell membership must come from storage, not a per-query re-derivation\n" + p)
  }

  test("sim_ivf_search_q8: partition-pruned AND column-pruned to the int8 codes") {
    val p = plan("sim_ivf_search_q8")
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
      "probed cells must prune partitions at the parquet scan\n" + p)
    // the quantized ranking must read the codes, not the double vectors:
    // scale+qcode in the read schema, v (and dist/norm) pruned away
    assert(p.contains("qcode"), p)
    assert("ReadSchema: [^\\n]*v:array".r.findFirstIn(p).isEmpty,
      "q8 search must not read the full-precision vectors\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("sim_ivf_search_pq: partition-pruned, reads ONLY the PQ codes, LUT join is broadcast") {
    val p = plan("sim_ivf_search_pq")
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
      "probed cells must prune partitions at the code-table scan\n" + p)
    // ADC ranks from the stored codes alone: neither the double vectors
    // nor the int8 codes may appear in any read schema
    assert(p.contains("codes"), p)
    assert("ReadSchema: [^\\n]*v:array".r.findFirstIn(p).isEmpty,
      "ADC search must not read the full-precision vectors\n" + p)
    assert("ReadSchema: [^\\n]*qcode".r.findFirstIn(p).isEmpty,
      "ADC search must not read the int8 codes\n" + p)
    // the only join is the m·ksub-row LUT broadcast — never a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("sim_pq_opq: the rotated-code search keeps the sim_ivf_search_pq plan shape") {
    // the OPQ rotation is entirely driver-side (rotated query/centroid
    // terms baked into the broadcast LUT) — the distributed plan must be
    // indistinguishable from the unrotated ADC search: partition-pruned
    // code scan, no full-precision vectors, broadcast-only join
    val p = plan("sim_pq_opq")
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
      "probed cells must prune partitions at the code-table scan\n" + p)
    assert(p.contains("codes"), p)
    assert("ReadSchema: [^\\n]*v:array".r.findFirstIn(p).isEmpty,
      "ADC search must not read the full-precision vectors\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("sim_knn_hamming4/5: stage 1 scans only the stored sketch words — raw vectors reach the plan solely through the rerank") {
    Seq("sim_knn_hamming4", "sim_knn_hamming5").foreach { q =>
      val p = plan(q)
      val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
      // the signature-store scan: 16 bytes of sketch words per row, with
      // the unused axis-sign word AND (trivially) the vector pruned away
      assert(reads.exists(r => r.contains("slo:bigint") && r.contains("shi:bigint")
          && !r.contains("embedding") && !r.contains("sig:")),
        s"$q stage 1 must scan only (id, slo, shi) from the sig store\n" + p)
      // the rerank joins the bounded candidate set broadcast-side — the
      // corpus vector scan is never shuffled
      assert(p.contains("BroadcastHashJoin"), p)
    }
  }

  test("sim_knn_hamming_q8: the all-stored search never reads a raw vector — sketch-only stage 1, scale-pruned int8 rerank") {
    val p = plan("sim_knn_hamming_q8")
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    assert(reads.exists(r => r.contains("slo:bigint") && r.contains("shi:bigint")
        && !r.contains("embedding") && !r.contains("sig:")),
      "stage 1 must scan only (id, slo, shi) from the sig store\n" + p)
    // the rerank reads the int8 codes — and ONLY the codes: the raw
    // vector never appears in any scan of this plan (queries are a
    // bounded driver pull, not a scan), and the per-vector scale column
    // prunes too (it cancels in the cosine)
    assert(reads.exists(r => r.contains("q:array<tinyint>")
        && !r.contains("scale") && !r.contains("embedding")),
      "the rerank must scan only (id, q) from the code store\n" + p)
    assert("ReadSchema: [^\\n]*embedding".r.findFirstIn(p).isEmpty,
      "no scan in the all-stored search may read raw vectors\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("sim_knn_hamming_ivf: both pruning axes in one plan — probed-cell PartitionFilters AND sketch-only ReadSchema") {
    val p = plan("sim_knn_hamming_ivf")
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
      "probed cells must prune partitions at the sig-store scan\n" + p)
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    assert(reads.exists(r => r.contains("slo:bigint") && r.contains("shi:bigint")
        && !r.contains("embedding") && !r.contains("sig:")),
      "stage 1 must scan only the 16-byte sketch words from the cell store\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sim_knn_hamming_ivfres: the residual hybrid keeps both pruning axes — PartitionFilters AND residual-sketch-only ReadSchema") {
    val p = plan("sim_knn_hamming_ivfres")
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
      "probed cells must prune partitions at the residual-sig-store scan\n" + p)
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    assert(reads.exists(r => r.contains("slo:bigint") && r.contains("shi:bigint")
        && !r.contains("embedding")),
      "stage 1 must scan only the 16-byte residual sketch words\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sim_knn_hamming_ivfres_q8: every pruning axis in one plan, and no raw vector read anywhere") {
    val p = plan("sim_knn_hamming_ivfres_q8")
    // BOTH stores prune by probed cell: the residual sketch scan AND the
    // int8 code scan each carry a centroid_id PartitionFilter — the
    // search reads nprobe/C of each store, full-scan-free end to end
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findAllIn(p).size >= 2,
      "probed cells must prune partitions at BOTH store scans\n" + p)
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    assert(reads.exists(r => r.contains("slo:bigint") && r.contains("shi:bigint")
        && !r.contains("embedding")),
      "stage 1 must scan only the 16-byte residual sketch words\n" + p)
    assert(reads.exists(r => r.contains("q:array<tinyint>")
        && !r.contains("scale") && !r.contains("embedding")),
      "the rerank must scan only (id, q) from the code store\n" + p)
    assert("ReadSchema: [^\\n]*embedding".r.findFirstIn(p).isEmpty,
      "no scan in the fully-composed search may read raw vectors\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sim_knn_join_ivf: probed-cell union pruned at the scan, no corpus join") {
    val p = plan("sim_knn_join_ivf")
    // the batch retrieval must read only the probed cells' files — the
    // cell-union restriction lands as a partition filter on the stored index
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined,
      "probed-cell union must prune partitions at the parquet scan\n" + p)
    // queries ride a broadcast into per-partition heaps: no join operator,
    // no full-corpus exchange — the only shuffle carries partial winners
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Join"), "query×corpus scoring must not be a join\n" + p)
  }

  test("sim_knn_join_dist: no driver collect — probe and rank both WindowGroupLimit-bounded, cross join only vs centroids") {
    val p = plan("sim_knn_join_dist")
    // probe (≤ nprobe cells/query) and final rank (≤ k rows/query) must
    // both plan as WindowGroupLimit — the optimizer-enforced partial-winner
    // bound that replaces knnJoinIvf's hand-rolled heaps
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "probe and rank must both be WindowGroupLimit-bounded\n" + p)
    // the only nested-loop join is queries × the k-row centroid sidecar
    // (it legitimately appears twice: once as the probe side, once as the
    // replica Catalyst clones into the SubqueryAdaptiveBroadcast that feeds
    // dynamic partition pruning); query×corpus scoring must be the
    // centroid_id equi-join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2 &&
      !p.contains("CartesianProduct"), p)
    // the probed cells must reach the stored index scan as a dynamic
    // partition-pruning filter — only probed cells' files are read
    assert("PartitionFilters: \\[[^\\]]*dynamicpruning".r.findFirstIn(p).isDefined,
      "probe must dynamically prune the cell-partitioned index scan\n" + p)
    // ranking reads full-precision vectors but never the quantized codes —
    // the index scan (the one reading the stored `norm`) must prune
    // (scale, qcode) away
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
      .filter(_.contains("norm"))
    assert(reads.nonEmpty && reads.forall(r => !r.contains("qcode")),
      "index scan must column-prune the quantized codes\n" + p)
  }

  test("sim_knn_join_pq: candidates ship only codes — vectors never move, ranking is WindowGroupLimit") {
    val p = plan("sim_knn_join_pq")
    // probe (≤ nprobe cells/query) and final rank (≤ k rows/query)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "probe and rank must both be WindowGroupLimit-bounded\n" + p)
    // the code-table scan reads (id, codes) — never the full-precision
    // vectors or the int8 codes of the base index
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
      .filter(_.contains("codes"))
    assert(reads.nonEmpty, "the code table must be scanned\n" + p)
    assert(reads.forall(r => !r.contains("v:array") && !r.contains("qcode")),
      "candidate scan must read codes only\n" + p)
    // LUT scoring joins are broadcast — the only shuffle is the decimal
    // partial agg and the per-query rank
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("text_span_dedup: winner election is partial-aggregated on the 60-bit hash — gram text never shuffles") {
    val p = plan("text_span_dedup")
    // the corpus-wide exchange must hash-partition on the gram HASH, and
    // the winner count/min must partial-aggregate before it (the map-side
    // combine that absorbs billion-fold boilerplate grams)
    assert(p.contains("hashpartitioning(gh"), p)
    assert("partial_(count|min)".r.findFirstIn(p).isDefined ||
      p.contains("HashAggregate(keys=[gh"), "winner election must be partial+final\n" + p)
    // no exchange carries the gram string — only its hash, id, pos
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(e => !e.contains("gram")),
      "gram text must not shuffle\n" + exchanges.mkString("\n"))
  }

  test("text_c4_filter / text_url_normalize: per-row page/url rules, no hash shuffle") {
    Seq("text_c4_filter", "text_url_normalize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must stay per-row\n$p")
    }
  }

  test("text_domain_cap: the only hash exchange keys on the domain (cap-bounded per-key mass)") {
    val p = plan("text_domain_cap")
    val ex = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toSeq
    assert(ex.nonEmpty && ex.forall(_.contains("domain")),
      "admission must key on the many-valued domain only\n" +
        ex.mkString("\n") + "\n" + p)
  }

  test("text_span_cuts: the union pass adds only doc-id-keyed work — no single-partition exchange anywhere") {
    val p = plan("text_span_cuts")
    assert(!p.contains("Exchange SinglePartition"),
      "the cut-list merge must stay partition-parallel\n" + p)
    // the cut-stage window/agg key on the doc id; the only other hash
    // exchanges belong to the span stage (gram hash / diagonal run keys)
    val ex = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toSeq
    assert(ex.nonEmpty && ex.forall(e =>
      e.contains("doc_id") || e.contains("gh") || e.contains("id")),
      "unexpected exchange key\n" + ex.mkString("\n"))
  }

  test("text_soft_dedup: gram counts exchange on the 60-bit hash, never gram text; per-doc rollup is partial-aggregated") {
    val p = plan("text_soft_dedup")
    assert(p.contains("hashpartitioning(gh"), p)
    assert(!p.contains("Exchange SinglePartition") &&
      !p.contains("CartesianProduct"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(e => !e.contains("gram") && !e.contains(", t#")),
      "gram/doc text must not shuffle\n" + exchanges.mkString("\n"))
  }

  test("pipeline_curation5: stages join on the doc id, stored model broadcasts, no cartesian or single-partition exchange") {
    val p = plan("pipeline_curation5")
    assert(p.contains("BroadcastHashJoin"),
      "the stored classifier weights must broadcast\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("Exchange SinglePartition"), p)
  }

  test("text_bm25: token stream pruned by broadcast semi-join before the tf shuffle; top-k is WindowGroupLimit") {
    val p = plan("text_bm25")
    // the query-term set must reach the token stream as a broadcast
    // LeftSemi BEFORE any aggregation exchange — the 100 TB prune
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    // per-query top-k must not be a global sort
    assert(p.contains("WindowGroupLimit"), p)
    // scoring joins (terms, df, stats) are all broadcast — the only
    // sort-merge-sized shuffle is the tf aggregation itself
    assert(!p.contains("SortMergeJoin"), "scoring joins must broadcast\n" + p)
  }

  test("per-row ops (quantize, unpivot, resize) shuffle only for presentation ordering") {
    Seq("sim_quantize", "unpivot_lineitem", "mm_resize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle — per-row expressions only\n$p")
    }
  }

  test("text_ngram_freq: partial+final aggregation (map-side combine on grams)") {
    val p = plan("text_ngram_freq")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_count") || p.contains("partial"), p)
  }

  test("text_decontaminate: eval grams broadcast; the train side never hash-shuffles before the overlap agg") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval gram set must broadcast\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dedup_incremental: corpus scan semi-joins the broadcast batch-hash set") {
    val p = plan("dedup_incremental")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the corpus side must stream against a broadcast hash set\n" + p)
  }

  test("text_gopher_filter: per-row rule evaluation, no hash shuffle") {
    val p = plan("text_gopher_filter")
    assert(!p.contains("Exchange hashpartitioning"),
      "the rule gate must stay per-row\n" + p)
  }

  test("dedup_bloom: sketch probe is a codegen predicate; confirm join is a broadcast semi-join") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    import org.apache.spark.sql.functions._
    // past the broadcast bound the batch stays distributed: every batch row
    // probes the Bloom sketch in a codegen predicate
    val batch = spark.range(graft.llm.Dedup.MaxBroadcastBatchRows + 1)
      .select(col("id").as("doc_id"), concat(lit("batch doc "), col("id")).as("text"))
    val past = graft.llm.Dedup.dedupIncrementalBloom(batch, Tables.documents(spark, sf),
      "doc_id", "text", expectedCorpusItems = 100000L)
    val pp = past.queryExecution.executedPlan.toString
    assert(pp.contains("might_contain"), "batch rows must probe the Bloom sketch per row\n" + pp)
    assert(pp.contains("BroadcastHashJoin") && pp.contains("LeftSemi"),
      "exact confirm must broadcast the candidate set into the hash view\n" + pp)
    // within the bound (the registry query) the batch is a local relation
    // and Catalyst runs the probe while planning: the semi-join's broadcast
    // side then holds only the rows the sketch let through
    val q = graft.SparkEntry.queries("dedup_bloom")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "exact confirm must broadcast the candidate set into the hash view\n" + p)
    val candidates = q.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi =>
        j.right.collect { case l: LocalRelation => l.data.size }.sum
    }
    val batchRows = q.count()
    assert(candidates.size == 1 && candidates.head >= 1 && candidates.head < batchRows / 2,
      s"candidates $candidates of $batchRows batch rows\n" + q.queryExecution.optimizedPlan)
  }

  test("semantic dedup: within-cell pair scan is an equi-join on the cell key, never a corpus nested loop") {
    // dedup_semantic trains live, so its plan legitimately carries the
    // corpus × k-row-centroid-sidecar cross join (ivfAssign's broadcast
    // argmin); the PAIR join itself must still be the centroid_id
    // equi-join. dedup_semantic2 reads the stored assignment — no
    // assignment cross join at all.
    // the one assign cross join appears ≤3× — Catalyst clones the subtree
    // into each of the pair join's sides and the output spine; the clones
    // are vs the same k-row broadcast sidecar, never corpus × corpus (the
    // stored-cell variant below is the shape that avoids them entirely)
    val p1 = plan("dedup_semantic")
    assert(!p1.contains("CartesianProduct") &&
      "BroadcastNestedLoopJoin".r.findAllIn(p1).size <= 3,
      "only the centroid-sidecar cross join may nest\n" + p1)
    val p2 = plan("dedup_semantic2")
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      "the stored-cell path must co-partition pairs on centroid_id\n" + p2)
  }

  test("sim_knn_label: the Q×k neighbor set broadcasts into the labeled corpus scan") {
    val p = plan("sim_knn_label")
    assert(p.contains("BroadcastHashJoin"),
      "the label join must broadcast the neighbor set\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_budget_mix: one exchange on the source key, no global sort") {
    val p = plan("text_budget_mix")
    assert("Exchange hashpartitioning\\(source".r.findFirstIn(p).isDefined,
      "the quota window must partition by source\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "exactly one hash exchange (the per-source window)\n" + p)
  }

  test("text_lm_score2: the stored vocabulary broadcasts into the scoring join") {
    val p = plan("text_lm_score2")
    assert(p.contains("BroadcastHashJoin"),
      "the stored model must broadcast\n" + p)
  }

  test("text_mix_sample: per-row replication, no hash shuffle") {
    val p = plan("text_mix_sample")
    assert(!p.contains("Exchange hashpartitioning"),
      "mixture sampling must be per-row only\n" + p)
  }

  test("text_line_dedup: every hash exchange keys on the line hash or the doc id") {
    val p = plan("text_line_dedup")
    val exchanges = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(e => e.contains("line_h") || e.contains("doc_id") || e.contains("id")),
      "line dedup shuffled on an unexpected key\n" + p)
  }

  test("dedup_incremental_near: batch band keys broadcast into the stored signature scan") {
    val p = plan("dedup_incremental_near")
    assert(p.contains("minhash_sigs"),
      "must read the stored corpus signature table\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the batch side must broadcast into the signature scan\n" + p)
  }

  test("dedup_incremental_emb: batch band keys broadcast into the stored embedding-signature scan") {
    val p = plan("dedup_incremental_emb")
    assert(p.contains("emb_sigs"),
      "must read the stored embedding signature table\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the batch side must broadcast into the signature scan\n" + p)
  }

  test("text_shard: one exchange on shard_id, no single-partition global sort") {
    val p = plan("text_shard")
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"),
      "shard permutation must not globally sort\n" + p)
  }

  test("text_repetition: per-row expression, no hash shuffle") {
    val p = plan("text_repetition")
    assert(!p.contains("Exchange hashpartitioning"),
      "repetition signals must be per-row only\n" + p)
  }

  test("text_pack: one window per source shard, no single-partition global sort") {
    val p = plan("text_pack")
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"),
      "packing must stay per-shard — a global window would serialize at scale\n" + p)
  }

  test("text_pack_emit: per-shard window + generator, no single-partition global sort") {
    val p = plan("text_pack_emit")
    assert(p.contains("Window"), p)
    assert(p.contains("Generate"), "span emission must be a generator (explode)\n" + p)
    assert(!p.contains("Exchange SinglePartition"),
      "packed-span emission must stay per-shard\n" + p)
  }

  test("text_pack_bins: per-shard hash exchange + linear FFD pass, no single-partition stage") {
    val p = plan("text_pack_bins")
    // packing is sequential PER SHARD: the plan must shard by hash and
    // never serialize the whole corpus through one partition
    assert(p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Exchange SinglePartition"),
      "FFD packing must stay per-shard — a single-partition pass would serialize at scale\n" + p)
  }

  test("sim_knn_hamming: Hamming cut pruned by WindowGroupLimit; rerank joins broadcast, corpus never shuffles") {
    val p = plan("sim_knn_hamming")
    // stage 1's rank filter must reach WindowGroupLimit so each partition
    // forwards ≤ Q·k·oversample candidates — without it the exchange
    // carries the n×Q Hamming score matrix
    assert(p.contains("WindowGroupLimit"), p)
    // both corpus touches join against broadcast sides (bounded query
    // signatures; Q·k·oversample candidates) — a sort-merge join here
    // would shuffle the 100 TB side
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must never shuffle for a broadcast-bounded query set\n" + p)
  }

  test("text_dsir: ratio table broadcasts; the cut is a TakeOrdered combine, not a global sort") {
    val p = plan("text_dsir")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("text_ppl_buckets: the tercile window partitions by language") {
    val p = plan("text_ppl_buckets")
    assert("hashpartitioning\\(lang".r.findFirstIn(p).isDefined,
      "ntile must run per language partition\n" + p)
  }

  test("dedup_embedding_lean: pair-generation joins are sort-free shuffled-hash, not SMJ") {
    val p = plan("dedup_embedding_lean")
    assert(p.contains("ShuffledHashJoin"),
      "the lean band joins must hash-probe, not sort 100M+-row sides\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "an SMJ in the lean path re-creates the sort spill the path exists to remove\n" + p)
  }

  test("sim_knn_graph: candidates via the cell equi-join; rank windows WindowGroupLimit-bounded") {
    val p = plan("sim_knn_graph")
    // the corpus-sized query side must reach candidates through the
    // centroid_id equi-join (cell co-partitioning), never a cartesian; the
    // only nested-loop joins are corpus × the k-row broadcast centroid
    // sidecar (the probe, plus Catalyst's DPP-subquery replica of it)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "query×corpus scoring must be the centroid_id equi-join\n" + p)
    // probe top-nprobe and final top-k both push into WindowGroupLimit so
    // partitions forward bounded candidate sets into their exchanges
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("text_temp_mix: quotas broadcast into the admission window; one source-partitioned window, no cartesian") {
    val p = plan("text_temp_mix")
    assert(p.contains("BroadcastHashJoin"),
      "the S-row quota table must broadcast, not shuffle the corpus\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert("hashpartitioning\\(source".r.findFirstIn(p).isDefined,
      "admission must rank within source partitions\n" + p)
  }

  test("text_budget_mix2: ranged prefix sum — the corpus window partitions by (source, range), offsets broadcast") {
    val p = plan("text_budget_mix2")
    // the corpus-scale running-sum window must be range-local: partitioned
    // by (source, p2), never by source alone (the only source-alone window
    // left runs over the ≤257-row-per-source subtotal table)
    assert("\\[source#\\d+, p2#\\d+\\], \\[pri#".r.findFirstIn(p).isDefined,
      "the running-sum window must partition by (source, range)\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the (source, range) offset table must broadcast\n" + p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("text_temp_mix2: ranged admission rank — range-local window, quotas and offsets broadcast") {
    val p = plan("text_temp_mix2")
    assert("\\[source#\\d+, p2#\\d+\\], \\[pri#".r.findFirstIn(p).isDefined,
      "the admission rank must be computed range-locally\n" + p)
    // two broadcast sides: the range-offset table and the S-row quota table
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("text_ppl_buckets2: terciles via broadcast thresholds — no corpus-rank ntile") {
    val p = plan("text_ppl_buckets2")
    assert(!p.contains("ntile"),
      "the threshold path must never rank the corpus\n" + p)
    // the only lang-partitioned window may order by the VALUE alone (the
    // bounded (lang, ppl_tok) count table); a (ppl_tok, doc_id) ordering
    // would mean the corpus itself is being sorted per language
    assert("\\[lang#\\d+\\], \\[ppl_tok#\\d+ ASC NULLS FIRST, doc_id#".r
      .findFirstIn(p).isEmpty,
      "a per-language corpus sort leaked into the threshold path\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the L×2 threshold table must broadcast\n" + p)
  }

  test("text_hybrid_rrf2: table-scale fusion — queries never collect to the driver, top-k cuts are WindowGroupLimit") {
    val p = plan("text_hybrid_rrf2")
    // a driver-side query collect would surface as a LocalTableScan of
    // materialized query literals (the knnJoin-4096 shape); the fused
    // path must read the query set as a real scan
    assert(!p.contains("LocalTableScan"),
      "the query set must stay a DataFrame end-to-end\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    // nested-loop joins only against the k-row broadcast centroid sidecar
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size ==
      "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).size, p)
    // both retrieval legs and the fusion cut bound their windows
    assert("WindowGroupLimit".r.findAllIn(p).size >= 3, p)
  }

  test("sim_graph_clusters: component labels broadcast back; no cartesian") {
    val p = plan("sim_graph_clusters")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sim_cell_sample: quota table broadcasts; admission ranks within cell partitions") {
    val p = plan("sim_cell_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("hashpartitioning\\(centroid_id".r.findFirstIn(p).isDefined,
      "admission must rank within cell partitions\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pipeline_curation4: five signals join on the doc id — no cartesian, models broadcast") {
    val p = plan("pipeline_curation4")
    assert(!p.contains("CartesianProduct"), p)
    // nested-loop joins may appear only as broadcast crosses against
    // 1-row sidecars (the LM total-count pattern) — never as a fallback
    // join between corpus-sized sides
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size ==
      "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).size, p)
    // the stored classifier weights and LM vocabulary enter as broadcast
    // sides — the corpus never shuffles for a model lookup
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // the CCNet stage composes the broadcast-threshold terciles — a
    // per-language corpus-rank ntile here fails the 100× audit
    assert(!p.contains("ntile"), p)
  }

  test("dedup_embedding consumes the stored pair table: a parquet scan, not a rebuilt join") {
    val p = plan("dedup_embedding")
    assert(p.contains("Scan parquet"), p)
    assert(!p.contains("Join"), "the pair table must be read, not re-derived\n" + p)
  }

  test("funnel_events: one events scan, every hash exchange keys on user_id") {
    val p = plan("funnel_events")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"funnel must read the events table once, saw $scans scans\n" + p)
    val exchanges = "Exchange hashpartitioning\\([^)]*".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(_.contains("user_id")),
      "a funnel stage shuffled on something other than the funnel key\n" + p)
  }

  test("whole-stage codegen covers the hot paths (no interpreted islands)") {
    val df = graft.SparkEntry.queries("agg_q1")(spark, sf)
    val codegen = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    assert(codegen.contains("WholeStageCodegen"), codegen.take(500))
  }

  test("text_cdc_chunks: chunking is one zero-shuffle scan (the only exchange is the output sort)") {
    val p = plan("text_cdc_chunks")
    // boundary detection, start/end assembly, chunk explode and hashing are
    // all per-row over staged arrays: no hash exchange anywhere — chunking
    // a 100 TB corpus is exactly one codegen'd scan
    assert(!p.contains("Exchange hashpartitioning"),
      "CDC chunking must not shuffle\n" + p)
  }

  test("text_blocklist: per-row gate — zero exchanges of any kind before the output sort") {
    val p = plan("text_blocklist")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("Join"), "the plan-literal list must not join\n" + p)
  }

  test("text_tfidf: df table broadcasts; rank window partitions by doc id and is WindowGroupLimit-cut") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      "the vocab-bounded df table must broadcast\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert("hashpartitioning\\(id".r.findFirstIn(p).isDefined,
      "the rank window must partition by the many-valued doc id\n" + p)
    assert(p.contains("WindowGroupLimit"),
      "the top-k cut must push below the window's exchange\n" + p)
  }

  test("sim_hard_negatives: corpus scanned once, query side broadcast, k-cut via WindowGroupLimit") {
    val p = plan("sim_hard_negatives")
    // the label-mismatch theta-join is corpus × broadcast(bounded queries):
    // a BroadcastNestedLoopJoin over the tiny side is the intended shape;
    // what must never appear is a shuffled or cartesian corpus pair
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert("FileScan parquet.*embeddings".r.findAllIn(p).size <= 2,
      "corpus must not be re-scanned per label\n" + p)
  }

  test("dedup_incremental_winnow: corpus served from the stored fp table, no cartesian") {
    val p = plan("dedup_incremental_winnow")
    assert(p.contains("winnow_fps"),
      "the corpus side must read the stored fingerprint table\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("sim_hard_negatives2: queries never collect; probed equi-join; WindowGroupLimit cuts") {
    val p = plan("sim_hard_negatives2")
    assert(!p.contains("LocalTableScan"),
      "the query side must stay a DataFrame\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    // corpus × k-row broadcast centroid probe (+ its DPP replica) only
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 1, p)
  }

  test("text_js_div / pipeline_datacard / text_psi: broadcast-bounded diagnostics, no cartesian on data tables") {
    Seq("text_js_div", "pipeline_datacard", "text_psi").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q\n" + p)
    }
    // the JS self-join keys on the word; totals broadcast
    val js = plan("text_js_div")
    assert(js.contains("BroadcastHashJoin"), js)
  }

  test("unigram tokenizer honors its one-corpus-scan contract (train: local model, zero scans; encode: one scan)") {
    // the trained model is a driver-resident artifact (≤ maxVocabCollect
    // rows, the BPE-merge-list class): consumers must see a local relation,
    // never a plan whose every action re-scans the corpus
    val pt = plan("text_unigram_train")
    assert(!pt.contains("FileScan parquet"),
      "the trained piece table must be a local relation\n" + pt)
    assert(!pt.contains("Exchange hashpartitioning"),
      "nothing to aggregate or join — only the output sort may exchange\n" + pt)
    // encode = ONE corpus scan: the Viterbi DP runs inline on the tf rows —
    // no second scan for a word table, no corpus-vocab broadcast
    Seq("text_unigram_encode", "text_unigram_encode2").foreach { q =>
      val p = plan(q)
      val scans = "FileScan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$q must scan exactly once, saw $scans\n" + p)
    }
    // and the TRAINING loop itself reads the corpus once: actual FILE bytes
    // across train ≈ one text-column scan (a per-EM-round re-scan would
    // read ~4-6×). Task inputMetrics would double-count cached-block reads
    // at in-memory sizes, so measure at the Hadoop FS layer — local[n]
    // executors share this JVM, and cache hits never touch the filesystem.
    def measure(body: => Unit): Long = {
      def fsBytes: Long =
        org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
          .get("file").getLong("bytesRead")
      val before = fsBytes
      body
      fsBytes - before
    }
    val docs = Tables.documents(spark, sf)
    val baseline = measure {
      docs.select(org.apache.spark.sql.functions.col("text"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).collect()
    }
    assert(baseline > 0L, "baseline scan read nothing — metric broken")
    val trained = measure {
      graft.llm.TextAnalysis.unigramTrain(docs, "text").collect()
    }
    assert(trained <= 2 * baseline,
      s"unigram training read $trained bytes vs one-scan baseline $baseline " +
        "— the EM loop is re-scanning the corpus (word table not cached?)")
  }

  test("text_gear_chunks / text_fastcdc_chunks: byte-rolling chunking is one zero-shuffle scan (only the output sort exchanges)") {
    Seq("text_gear_chunks", "text_fastcdc_chunks").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle\n" + p)
      assert(!p.contains("Join"), s"$q: the kernel is per-document\n" + p)
    }
  }

  test("text_lm_kn52: stored 5-gram KN — docs scanned once, no data-table broadcast hint, ord slices partition-pruned") {
    val df = graft.SparkEntry.queries("text_lm_kn52")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert("FileScan parquet.*documents".r.findAllIn(p).size == 1,
      "held-out scoring must tokenize the corpus exactly once\n" + p)
    // the only broadcast HINT is the ONE consolidated one-row scalar
    // aggregate (r15 optimization: the n/v and tt/w1 scalars — and, on the
    // modified path, the eight discount triples — pre-cross-join model-side
    // into a single one-row broadcast instead of a BNLJ chain through the
    // token stream); the n-gram/continuation/context tables float with
    // Catalyst — AQE broadcasts them at spec scale, shuffle-joins them at
    // corpus scale, and nothing pins a corpus-sized table to broadcast
    // memory
    val hints = "ResolvedHint".r
      .findAllIn(df.queryExecution.analyzed.toString).size
    assert(hints == 1,
      s"expected exactly the 1 consolidated scalar broadcast hint, saw $hints")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the one-row scalars may cross-join\n" + p)
    // each per-order consumer prunes the stored unified table to its slice
    assert(p.contains("PartitionFilters: ["), p)
    assert("PartitionFilters: \\[[^\\]]*ord".r.findFirstIn(p).isDefined,
      "ord must reach the store scan as a partition filter\n" + p)
  }

  test("dedup_winnow: self-join sides share the one fp pipeline (reused exchange or broadcast), never a cartesian") {
    val p = plan("dedup_winnow")
    // at corpus scale the SMJ's two identical sides reuse the single fp
    // exchange (the 10M-doc measurement's shape); at spec scale AQE may
    // legally broadcast the tiny filtered side instead — both are bounded.
    // What must never appear: a cartesian, or more than the two scans the
    // equi-join's sides can pay.
    assert(p.contains("ReusedExchange") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert("FileScan parquet.*documents".r.findAllIn(p).size <= 2,
      "fingerprinting must not run more than once per join side\n" + p)
  }

  test("IVF recall ladders: the executed plan scans the signature store once (residual) and once per rung (raw)") {
    // the FINAL adaptive plan: exchange reuse only shows after execution
    def sigScans(name: String): Int = {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      df.collect()
      val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      "ReadSchema: struct<id:bigint,slo:bigint,shi:bigint>".r.findAllIn(fin).size
    }
    // the residual ladder cuts once per (query, cell) before slicing
    // rungs, so its one scan feeds every rung through a reused exchange;
    // the raw ladder cuts per rung, and each of its 4 rungs scans the
    // probed cells again
    assert(sigScans("sim_hamming_ivfres_recall2") == 1)
    assert(sigScans("sim_hamming_ivf_recall2") == 4)
  }
}
