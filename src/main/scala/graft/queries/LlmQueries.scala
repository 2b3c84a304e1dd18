package graft.queries

import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * LLM-data-pipeline operators as correctness queries. Dedup oracles are the
 * *exact* computation (inverted-index Jaccard / full-pair scans) — the Spark
 * side uses the scalable candidate-generation path (LSH banding / pigeonhole
 * banding) whose verified output equals the exact result (recall analysis in
 * [[graft.llm.Dedup]] scaladoc).
 */
object LlmQueries {

  def all: Seq[QueryDef] = Seq(dedupExact, dedupMinhash, dedupNgram,
    dedupSimhash, dedupEmbedding, dedupEmbeddingT90, dedupEmbeddingDeep,
    dedupClusters, textSplit,
    simTopK, simTopKQ8, simAnn,
    simIvf, simIvfSearch, simIvfTrain, textLangid, textQuality, textTokens,
    textFingerprint, textNgramFreq, textSampleStratified, simQuantize, mmMeta,
    mmDecode, mmFrames, mmResize, trainingPipeline,
    textDecontaminate, textRepetition, textPack, dedupBestInCluster,
    textScrub, textLineDedup, simKnnJoin, textMixSample, dedupIncremental,
    textShard, dedupIncrementalNear, dedupIncrementalEmb, textStats,
    pipelineIntegrity, dedupIncrementalNear2, dedupIncrementalEmb2,
    simKnnJoinIvf, simIvfSearch2, simIvfSearchQ8, textPackEmit,
    simKnnJoinDist, textSpanDedup, textBm25, textLmScore,
    simPqTrain, simPqEncode, simIvfSearchPq, textBpeTrain, textBpeTokens,
    simIvfCells, simKnnJoinPq, simPqRecon, simKnnJoinAuto, simIvfSplit,
    simIvfRetrain, textGopherFilter, dedupBloom, simKnnLabel, dedupSemantic,
    dedupBloom2, dedupSemantic2, simKnnLabelIvf, pipelineCuration2,
    textBpeTokens2, simIvfRecall, textLmScore2, textBudgetMix,
    mmDedup, mmNearDup, pipelineFunnel, textBpeVocab, simKnnLabelEval,
    textBpeTrain2, simPqOpq, textQualityClf, textQualityClfEval,
    pipelineCuration3, textSpanDedup2, textPackBins,
    simKnnHamming, textHybridRrf, textPplBuckets, textDsir,
    dedupEmbeddingLean, simKnnGraph, textEntropy, textTempMix,
    simGraphClusters, textQualityClf2, textDsir2, simGraphSdc,
    dedupSemanticSdc, pipelineCuration4, simCellSample, textPretokenize,
    textBpeTrainPre,
    textBudgetMix2, textTempMix2, textPplBuckets2, textBpeTrainBytes,
    textHybridRrf2, textBpeTokensBytes, textBpeTokensBytes2,
    textSpanCuts, textC4Filter, textUrlNormalize, textDomainCap,
    textUrlDedup, textBpeFertility, textSoftDedup, pipelineCuration5,
    textLmBigram,
    textWinnow, dedupWinnow, textLmKn, textLmSbo, textCmsCount,
    textCdcChunks, dedupCdc, textBlocklist, simHardNegatives, textTfidf,
    textUnigramTrain, textUnigramEncode, textUnigramEncode2,
    textLenQuantiles,
    textPmi, textJsDiv, textPsi, pipelineDatacard,
    dedupIncrementalWinnow, simHardNegatives2, textUnigramTrainBytes,
    textSplitSafe, dedupContainment, textLmKn2,
    textLmKn5, textLmKn52, textPplBuckets5, textUnigramTrainEm,
    textGearChunks, textLmKn5m, dedupGear, textUnigramEncodeEm,
    textFastCdcChunks,
    textLmKn5p, textLmKn5q, textPplBuckets5p, textUnigramTrainEm2,
    mmPhash, mmFrameDedup, mmPairFilter, simKnnHamming2, textLmKn5pm,
    mmDedupIncremental, textUnigramEncodeEm2, mmCuration,
    mmFrameNearDup, textLmKn5qm, simKnnHamming3, simHammingRecall,
    simKnnHamming4, simKnnHamming5, simGraphSdc2, dedupSemanticSdc2,
    simKnnHammingIvf, simHammingIvfRecall, simHammingIvfRecall2,
    simKnnHammingIvfRes, simHammingIvfResRecall, simHammingIvfResRecall2,
    simKnnHammingQ8, simHammingQ8Recall, simKnnHammingIvfResQ8,
    simHammingIvfResQ8Recall)

  // ------------------------------------------------------------------
  // The Hamming/IVF search family — 16 queries over one skeleton: a
  // sketch score with a stage-1 cut (flat, over probed IVF cells, or per
  // probed cell for residual sketches), an exact or int8 rerank of the
  // k·oversample = 20 survivors, and the top-5. The oracles are composed
  // from the hand-written CTE fragments below, so each states only what
  // is its own. Fragments are defs: a val would interpolate as null into
  // the queries declared before it.
  // ------------------------------------------------------------------

  /** The family's two query sets: the sparse sample of the flat searches
    * and the first 20 vectors of the hybrids and the recall dials. */
  private def sparseQs = "vec_id % 97 = 3"
  private def first20 = "vec_id < 20"

  /** The zero-norm prelude: `e(vec_id, v)` — from the IVF training
    * closure, which also yields `c2` and `a3`, when `ivf` — then
    * `nz(vec_id, v, nrm)`, the vectors with an angle, and the query set
    * `qs(query_id, qv, qn)` of `pred`. */
  private def hamPreludeSql(ivf: Boolean, pred: String): String =
    (if (ivf) s"$ivfTrainedSql,\n$ivfAssignFromTrainedSql"
     else "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)") +
    s""",
       |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm
       |      FROM e WHERE v IS NOT NULL AND len(v) > 0),
       |nz AS (SELECT * FROM n WHERE nrm > 0),
       |qs AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM nz
       |       WHERE $pred)""".stripMargin

  /** The 128 md5-parity ±1 planes `pb(k, i, s)` of the densified sketch
    * ([[Similarity.superBitKernel]]). */
  private def hamPlanesSql: String =
    """pb AS (SELECT k, i,
      |         CASE WHEN ('0x' || substr(md5('hb|' || k || '|' || i), 1, 15))::BIGINT
      |                   % 2 = 0 THEN 1 ELSE -1 END AS s
      |       FROM range(0, 128) t1(k), range(0, 64) t2(i))""".stripMargin

  /** The raw sketch: 6-dp µ-unit integer vectors `u`, the planes, each
    * vector's exact plane projections `proj(vec_id, k, pv)`, its sign
    * bits `bits(vec_id, k, b)`, and the query side `qb(query_id, k, b,
    * pv)` of `pred` — bits for the SDC cut, magnitudes for ADC. */
  private def hamBitsSql(pred: String): String =
    s"""u AS (SELECT vec_id, [round(round(v[i], 6) * 1000000, 0)::BIGINT
       |        for i in range(1, len(v) + 1)] AS u FROM nz),
       |$hamPlanesSql,
       |proj AS (SELECT u.vec_id, pb.k,
       |           sum(u.u[pb.i + 1] * pb.s)::BIGINT AS pv
       |         FROM u, pb WHERE pb.i < len(u.u) GROUP BY 1, 2),
       |bits AS (SELECT vec_id, k, (pv > 0) AS b FROM proj),
       |qb AS (SELECT vec_id AS query_id, k, (pv > 0) AS b, pv FROM proj
       |       WHERE $pred)""".stripMargin

  /** The nprobe probe over the trained `c2`: `np` lists the rungs and
    * `probe(nprobe, query_id, centroid_id)` holds each query's `nprobe`
    * nearest cells per rung (squared L2, (dist, cid) ties) — a
    * single-shot search is the one-rung ladder. */
  private def hamProbeSql(nprobes: Int*): String =
    s"""np AS (SELECT unnest([${nprobes.mkString(", ")}])::BIGINT AS nprobe),
       |pd AS (SELECT q.query_id, c.centroid_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
       |                              for i in range(1, 65)]), c.centroid_id) AS prn
       |       FROM c2 c, qs q),
       |probe AS (SELECT np.nprobe, pd.query_id, pd.centroid_id
       |          FROM pd, np WHERE pd.prn <= np.nprobe)""".stripMargin

  /** The residual sketch (needs `pb`, `probe`): each corpus vector's
    * bits of `v − centroid(own cell)` in `cbits(vec_id, centroid_id, k,
    * b)`, each query's bits of `qv − centroid(probed cell)` in
    * `qbits(query_id, centroid_id, k, b)` — the subtraction inside the
    * same 6-dp µ-unit projection. */
  private def hamResBitsSql: String =
    """res AS (SELECT z.vec_id, a3.centroid_id,
      |          [round(round(z.v[i] - c.cv[i], 6) * 1000000, 0)::BIGINT
      |           for i in range(1, 65)] AS u
      |        FROM nz z JOIN a3 ON z.vec_id = a3.vec_id
      |        JOIN c2 c ON a3.centroid_id = c.centroid_id),
      |cbits AS (SELECT r.vec_id, r.centroid_id, pb.k,
      |            (sum(r.u[pb.i + 1] * pb.s) > 0) AS b
      |          FROM res r, pb WHERE pb.i < len(r.u) GROUP BY 1, 2, 3),
      |qres AS (SELECT p.query_id, p.centroid_id,
      |           [round(round(q.qv[i] - c.cv[i], 6) * 1000000, 0)::BIGINT
      |            for i in range(1, 65)] AS u
      |         FROM (SELECT DISTINCT query_id, centroid_id FROM probe) p
      |         JOIN qs q ON p.query_id = q.query_id
      |         JOIN c2 c ON p.centroid_id = c.centroid_id),
      |qbits AS (SELECT r.query_id, r.centroid_id, pb.k,
      |            (sum(r.u[pb.i + 1] * pb.s) > 0) AS b
      |          FROM qres r, pb WHERE pb.i < len(r.u) GROUP BY 1, 2, 3)""".stripMargin

  /** Stage 1: the scored pairs `ham$x` (the caller's SELECT) and their
    * cut `cand$x`, ranked by (`order`, id) within `keys` as `hrank`. */
  private def hamCutSql(x: String, ham: String, keys: String,
                        order: String = "hamming"): String =
    s"""ham$x AS ($ham),
       |cand$x AS (SELECT *, row_number() OVER (PARTITION BY $keys
       |             ORDER BY $order, neighbor_id) AS hrank FROM ham$x)""".stripMargin

  /** Flat stage 1 over every corpus vector: Hamming over the sketch bits
    * (SDC) or, with `adc`, the query's projection magnitudes signed by
    * the corpus bits (higher = closer). */
  private def hamFlatCutSql(adc: Boolean): String = {
    val (score, order) =
      if (adc) ("sum(CASE WHEN cb.b THEN qb.pv ELSE -qb.pv END)::BIGINT AS ascore",
        "ascore DESC")
      else ("sum(CASE WHEN cb.b <> qb.b THEN 1 ELSE 0 END)::BIGINT AS hamming",
        "hamming")
    hamCutSql("", s"""SELECT cb.vec_id AS neighbor_id, qb.query_id, $score
                     |  FROM bits cb JOIN qb USING (k)
                     |  WHERE cb.vec_id <> qb.query_id GROUP BY 1, 2""".stripMargin,
      "query_id", order)
  }

  /** Probed stage 1 of the raw hybrid: Hamming over the probed cells'
    * members, cut per (rung, query). */
  private def hamProbedCutSql: String =
    hamCutSql("",
      """SELECT p.nprobe, cb.vec_id AS neighbor_id, qb.query_id,
        |    sum(CASE WHEN cb.b <> qb.b THEN 1 ELSE 0 END)::BIGINT AS hamming
        |  FROM bits cb
        |    JOIN a3 ON cb.vec_id = a3.vec_id
        |    JOIN probe p ON a3.centroid_id = p.centroid_id
        |    JOIN qb ON qb.query_id = p.query_id AND qb.k = cb.k
        |  WHERE cb.vec_id <> qb.query_id GROUP BY 1, 2, 3""".stripMargin,
      "nprobe, query_id")

  /** Per-cell stage 1 of the residual hybrid: residual Hamming within
    * each probed cell, cut per (rung, query, cell) — residual distances
    * are only comparable within a cell. */
  private def hamCellCutSql(x: String = ""): String = {
    val perRung = s"""SELECT p.nprobe, h.* FROM cham$x h
                     |  JOIN probe p ON h.query_id = p.query_id
                     |    AND h.centroid_id = p.centroid_id""".stripMargin
    s"""cham$x AS (SELECT cb.vec_id AS neighbor_id, qb.query_id, cb.centroid_id,
       |    sum(CASE WHEN cb.b <> qb.b THEN 1 ELSE 0 END)::BIGINT AS hamming
       |  FROM cbits cb
       |    JOIN qbits qb ON cb.centroid_id = qb.centroid_id AND cb.k = qb.k
       |  WHERE cb.vec_id <> qb.query_id GROUP BY 1, 2, 3),
       |${hamCutSql(x, perRung, "nprobe, query_id, centroid_id")}""".stripMargin
  }

  /** Stage 2 `out`: the exact cosine of `cand$x`'s 20 survivors or, with
    * `q8`, their int8-code cosine (`q = round(v/max|v|·127)`, the
    * `sim_topk_q8` quantizer, codes in `qc`) — every cand column rides
    * along. */
  private def hamRerankSql(x: String = "", q8: Boolean = false,
                           out: String = "rer"): String = {
    val (codes, src, cos) =
      if (q8) ("""qc AS (SELECT vec_id, [round(v[i] / list_max([abs(x) for x in v]) * 127.0,
                 |          0)::BIGINT for i in range(1, len(v) + 1)] AS q FROM nz),
                 |""".stripMargin, "qc",
        "list_sum([cv.q[i] * qv.v[i] for i in range(1, 65)])\n" +
          "                / (sqrt(list_sum([x * x for x in cv.q])) * qv.nrm)")
      else ("", "nz", "list_sum([cv.v[i] * qv.v[i] for i in range(1, 65)])\n" +
        "                / (cv.nrm * qv.nrm)")
    s"""$codes$out$x AS (SELECT c.*, round($cos, 6) AS cosine
       |        FROM cand$x c JOIN $src cv ON cv.vec_id = c.neighbor_id
       |        JOIN nz qv ON qv.vec_id = c.query_id
       |        WHERE c.hrank <= 20)""".stripMargin
  }

  /** `out(keys, neighbor_id)`: each `keys` group's top-5 of `src` by
    * (cosine desc, id). */
  private def hamTop5Sql(out: String, src: String,
                         keys: String = "query_id"): String =
    s"""$out AS (SELECT $keys, neighbor_id FROM (
       |        SELECT *, row_number() OVER (PARTITION BY $keys
       |          ORDER BY cosine DESC, neighbor_id) AS rank FROM $src)
       |      WHERE rank <= 5)""".stripMargin

  /** The brute-force ground truth `rb`: every query's exact top-5. */
  private def hamBruteSql: String =
    s"""sb AS (SELECT q.query_id, n2.vec_id AS neighbor_id,
       |        round(list_sum([n2.v[i] * q.qv[i] for i in range(1, 65)])
       |              / (n2.nrm * q.qn), 6) AS cosine
       |      FROM nz n2, qs q WHERE n2.vec_id <> q.query_id),
       |${hamTop5Sql("rb", "sb")}""".stripMargin

  /** A search's own output: per query the top-5 of `rer`, with the
    * stage-1 score `carry`. */
  private def hamKnnOutSql(carry: String = "hamming"): String =
    s"""r AS (SELECT query_id, neighbor_id, $carry, cosine,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY cosine DESC, neighbor_id) AS rank FROM rer)
       |SELECT query_id, neighbor_id, rank, $carry, cosine FROM r
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Per-query recall@5 of the search's top-5 `ra` vs brute `rb`. */
  private def hamRecallOutSql: String =
    s"""h AS (SELECT rb.query_id, count(*)::BIGINT AS hits
       |      FROM rb JOIN ra USING (query_id, neighbor_id) GROUP BY 1)
       |SELECT q.query_id, 5::BIGINT AS k,
       |  coalesce(h.hits, 0)::BIGINT AS hits,
       |  round(coalesce(h.hits, 0) / 5.0, 6) AS recall
       |FROM (SELECT vec_id AS query_id FROM embeddings WHERE $first20) q
       |LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin

  /** Aggregate recall@5 per `np` rung of the ladder top-5 `ra` vs `rb`;
    * an empty rung still gets its row. */
  private def hamLadderOutSql: String =
    """tot AS (SELECT count(*)::BIGINT AS total FROM rb),
      |h AS (SELECT ra.nprobe, count(*)::BIGINT AS hits
      |      FROM rb JOIN ra USING (query_id, neighbor_id) GROUP BY 1)
      |SELECT np.nprobe, coalesce(h.hits, 0)::BIGINT AS hits, tot.total,
      |  round(coalesce(h.hits, 0)::DOUBLE / tot.total, 6) AS recall
      |FROM np LEFT JOIN h USING (nprobe), tot ORDER BY nprobe""".stripMargin

  /** Top-5 agreement of the int8 rerank `rq` with the exact rerank `ra`
    * over the same stage-1 candidates. */
  private def hamAgreementOutSql: String =
    s"""${hamRerankSql(out = "rx")},
       |${hamTop5Sql("ra", "rx")},
       |${hamRerankSql(q8 = true, out = "rq0")},
       |${hamTop5Sql("rq", "rq0")},
       |tot AS (SELECT count(*)::BIGINT AS total FROM ra),
       |h AS (SELECT count(*)::BIGINT AS hits FROM ra JOIN rq
       |      USING (query_id, neighbor_id))
       |SELECT h.hits, tot.total,
       |  round(h.hits::DOUBLE / tot.total, 6) AS agreement
       |FROM h, tot""".stripMargin

  /** The raw hybrid's stage 1 at `nprobes` over the first 20 queries. */
  private def hamIvfSql(nprobes: Int*): String =
    s"""${hamPreludeSql(ivf = true, first20)},
       |${hamProbeSql(nprobes: _*)},
       |${hamBitsSql(first20)},
       |$hamProbedCutSql""".stripMargin

  /** The residual hybrid's stage 1 at `nprobes` over the first 20 queries. */
  private def hamIvfResSql(nprobes: Int*): String =
    s"""${hamPreludeSql(ivf = true, first20)},
       |${hamProbeSql(nprobes: _*)},
       |$hamPlanesSql,
       |$hamResBitsSql,
       |${hamCellCutSql()}""".stripMargin

  private def ladderRungs: Seq[Int] = Seq(1, 2, 4, 8)

  /** Per-query recall@5 of `search` (a `(query_id, neighbor_id, …)`
    * top-5) against the brute-force top-5 over `queries`; `search` is
    * built after the brute side. */
  private def recallVsBrute(emb: DataFrame, queries: DataFrame,
                            search: => DataFrame): DataFrame = {
    val brute = Similarity.knnJoin(emb, queries, "vec_id", "embedding",
      "vec_id", k = 5)
    val hits = brute.select(col("query_id"), col("neighbor_id"))
      .join(search.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(5L).as("k"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / 5.0, 6).as("recall"))
      .orderBy("query_id")
  }

  /** Aggregate recall@5 per rung of a ladder search (`(nprobe, query_id,
    * neighbor_id, …)` over [[ladderRungs]]) against the brute top-5,
    * joined once against the rung-tagged union; an empty rung resurfaces
    * through the static rung table's left join. */
  private def ladderRecall(s: SparkSession, emb: DataFrame,
                           queries: DataFrame, ladder: => DataFrame): DataFrame = {
    val brute = Similarity.knnJoin(emb, queries, "vec_id", "embedding",
      "vec_id", k = 5).select(col("query_id"), col("neighbor_id"))
    val tot = brute.agg(count(lit(1)).as("total"))
    val hits = brute.join(ladder.select(col("nprobe"), col("query_id"),
        col("neighbor_id")), Seq("query_id", "neighbor_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("hits"))
    import s.implicits._
    ladderRungs.map(_.toLong).toDF("nprobe")
      .join(hits, Seq("nprobe"), "left")
      .crossJoin(tot)
      .select(col("nprobe"), coalesce(col("hits"), lit(0L)).as("hits"),
        col("total"),
        round(coalesce(col("hits"), lit(0L)) / col("total"), 6).as("recall"))
      .orderBy("nprobe")
  }

  /** Top-5 agreement of an int8-rerank search `sq` with its exact-rerank
    * twin `exact` — one row. */
  private def agreement(exact: DataFrame, sq: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id"))
    val tot = ex.agg(count(lit(1)).as("total"))
    ex.join(sq.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(tot)
      .select(col("hits"), col("total"),
        round(col("hits") / col("total"), 6).as("agreement"))
  }

  /** The 1-bit axis-sign Hamming of every (query, corpus) pair. */
  private def hamAxisSignSql: String =
    """SELECT q.query_id, c.vec_id AS neighbor_id,
      |    len([i for i in range(1, 65)
      |         if (c.v[i] >= 0) <> (q.qv[i] >= 0)])::BIGINT AS hamming
      |  FROM nz c, qs q WHERE c.vec_id <> q.query_id""".stripMargin

  /** Binary sign quantization as an ANN regime ([[Similarity.knnJoinHamming]]):
    * an 8-byte signature per vector (64× below raw float64) prefilters
    * candidates by `bit_count(xor)` Hamming distance — two codegen'd integer
    * ops per pair — and only the `k·oversample` survivors pay an exact
    * cosine. Six queries, k=5, 4× oversample; the oracle replays the same
    * two-stage construction (Hamming cut, then rerank), so the output is
    * deterministic even where the 1-bit estimate misranks the exact order. */
  val simKnnHamming: QueryDef = QueryDef("sim_knn_hamming",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoinHamming(emb, emb.where(col("vec_id") % 97 === 3),
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, oversample = 4)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH ${hamPreludeSql(ivf = false, sparseQs)},
            |${hamCutSql("", hamAxisSignSql, "query_id")},
            |${hamRerankSql()},
            |${hamKnnOutSql()}""".stripMargin))

  /** The DENSIFIED 2-bit-per-dim Hamming regime
    * ([[Similarity.superBitKernel]]): 128 sign bits of deterministic
    * md5-parity ±1 hyperplane projections — twice the angle samples of
    * the 64-bit axis-sign code, halving the Hamming estimator's variance
    * (measured at sf0.1: recall@5 0.381 vs 0.267 at oversample 4 —
    * BASELINE.md; a naive mean-|v| thermometer measured WORSE than the
    * sign code, see LlmSpec). Projections are exact µ-unit integers, so
    * every bit replays in any engine. Same two-stage construction as
    * `sim_knn_hamming`, 16 bytes/row. The oracle is shared verbatim by
    * this live re-sketch query and its stored-signature twin
    * (`sim_knn_hamming4`) — the two Spark paths are bit-replayable by
    * construction. */
  private def hammingSdc2Sql: String =
    s"""WITH ${hamPreludeSql(ivf = false, sparseQs)},
       |${hamBitsSql(sparseQs)},
       |${hamFlatCutSql(adc = false)},
       |${hamRerankSql()},
       |${hamKnnOutSql()}""".stripMargin

  val simKnnHamming2: QueryDef = QueryDef("sim_knn_hamming2",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoinHamming(emb, emb.where(col("vec_id") % 97 === 3),
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, oversample = 4,
          bitsPerDim = 2)
        .orderBy("query_id", "rank")
    },
    Some(hammingSdc2Sql))

  /** STORED-SIGNATURE twin of `sim_knn_hamming2`
    * ([[Similarity.knnJoinHammingFromSigs]] over
    * [[Materialized.hammingSigs]]): stage 1 scans the 16-byte densified
    * sketch columns of the signature store — the raw vector column never
    * reaches the Hamming cut (ReadSchema-pruned, PlanSpec-pinned) — and
    * only the k·oversample candidates pay a vector read in the rerank.
    * Bit-replayable with the live re-sketch, so the oracle is shared
    * verbatim. This is the ANN ring's shipped I/O story: 8–16 B of
    * stage-1 probe bytes per corpus row instead of 512. */
  val simKnnHamming4: QueryDef = QueryDef("sim_knn_hamming4",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoinHammingFromSigs(emb, Materialized.hammingSigs(s, d),
          emb.where(col("vec_id") % 97 === 3),
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, oversample = 4,
          bitsPerDim = 2)
        .orderBy("query_id", "rank")
    },
    Some(hammingSdc2Sql))

  /** ASYMMETRIC-distance binary ANN ([[Similarity.knnJoinHammingAdc]] —
    * the ADC rung above the 2-bit sketch's SDC): corpus stays the
    * 16-byte packed sign sketch, the query keeps its exact-integer
    * per-plane projection magnitudes, stage 1 ranks by
    * `Σ q_k·sign_k(corpus)` (higher = more aligned; ties → smaller id)
    * and only the k·oversample survivors pay the exact cosine. The
    * integer score replays bit-for-bit in the oracle, shared verbatim by
    * this live re-sketch query and its stored-signature twin
    * (`sim_knn_hamming5`). */
  private def hammingAdcSql: String =
    s"""WITH ${hamPreludeSql(ivf = false, sparseQs)},
       |${hamBitsSql(sparseQs)},
       |${hamFlatCutSql(adc = true)},
       |${hamRerankSql()},
       |${hamKnnOutSql("ascore")}""".stripMargin

  val simKnnHamming3: QueryDef = QueryDef("sim_knn_hamming3",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoinHammingAdc(emb, emb.where(col("vec_id") % 97 === 3),
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, oversample = 4)
        .orderBy("query_id", "rank")
    },
    Some(hammingAdcSql))

  /** STORED-SIGNATURE twin of `sim_knn_hamming3`
    * ([[Similarity.knnJoinHammingAdcFromSigs]] over
    * [[Materialized.hammingSigs]]): the ADC scorer reads the stored
    * 16-byte sketch words instead of re-projecting raw vectors — same
    * exact-long scores, shared oracle. */
  val simKnnHamming5: QueryDef = QueryDef("sim_knn_hamming5",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoinHammingAdcFromSigs(emb, Materialized.hammingSigs(s, d),
          emb.where(col("vec_id") % 97 === 3),
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, oversample = 4)
        .orderBy("query_id", "rank")
    },
    Some(hammingAdcSql))

  /** The ALL-STORED two-level search
    * ([[Similarity.knnJoinHammingSqFromSigs]] over
    * [[Materialized.hammingSigs]] + [[Materialized.q8Codes]]): stage 1
    * reads only the 16-byte sketch columns, stage 2 reranks from the
    * stored int8 codes — NO raw vector is read anywhere in the plan
    * (the per-vector `scale` prunes too: it cancels in the cosine). The
    * rank is the QUANTIZED ranking by definition; the oracle replays
    * the sketch stage and the integer-code cosine
    * (`Σq_i·qv_i / (√(Σq_i²)·‖qv‖)`, `q = round(v/scale·127)` — the
    * `sim_topk_q8` quantizer) exactly. */
  val simKnnHammingQ8: QueryDef = QueryDef("sim_knn_hamming_q8",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoinHammingSqFromSigs(Materialized.q8Codes(s, d),
          Materialized.hammingSigs(s, d),
          emb.where(col("vec_id") % 97 === 3),
          "embedding", "vec_id", k = 5, dims = 64, oversample = 4)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH ${hamPreludeSql(ivf = false, sparseQs)},
            |${hamBitsSql(sparseQs)},
            |${hamFlatCutSql(adc = false)},
            |${hamRerankSql(q8 = true)},
            |${hamKnnOutSql()}""".stripMargin))

  /** Fidelity dial of the int8 rerank: top-5 agreement between the
    * all-stored SQ search and its exact-rerank twin
    * (`sim_knn_hamming4`) at the same dial point — identical stage-1
    * candidates by construction (shared body), so any disagreement is
    * PURELY what 8-bit scalar quantization moves in the final ranking.
    * One row; both chains replayed in SQL. */
  val simHammingQ8Recall: QueryDef = QueryDef("sim_hamming_q8_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") % 97 === 3)
      val sigs = Materialized.hammingSigs(s, d)
      agreement(
        Similarity.knnJoinHammingFromSigs(emb, sigs, queries,
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, oversample = 4,
          bitsPerDim = 2),
        Similarity.knnJoinHammingSqFromSigs(Materialized.q8Codes(s, d),
          sigs, queries, "embedding", "vec_id", k = 5, dims = 64,
          oversample = 4))
    },
    Some(s"""WITH ${hamPreludeSql(ivf = false, sparseQs)},
            |${hamBitsSql(sparseQs)},
            |${hamFlatCutSql(adc = false)},
            |$hamAgreementOutSql""".stripMargin))

  /** Recall@k of the ASYMMETRIC binary-sketch search vs the brute-force
    * ground truth as a first-class oracled artifact — the `sim_ivf_recall`
    * discipline applied to the ADC rung ([[Similarity.knnJoinHammingAdc]]
    * at oversample 4): both sides share the (cosine desc, id) tie rule
    * and the stage-1 cut is an exact integer score, so the sets are
    * deterministic in both engines. The honest corpus-scale numbers live
    * in BASELINE.md (RecallProbeMain at 105 truth pairs); this makes the
    * dial replayable per run. The ADC side reads the STORED signature
    * table ([[Similarity.knnJoinHammingAdcFromSigs]] over
    * [[Materialized.hammingSigs]] — the production read path; output
    * bit-identical to the live re-sketch, oracle unchanged). */
  val simHammingRecall: QueryDef = QueryDef("sim_hamming_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 20)
      recallVsBrute(emb, queries, Similarity.knnJoinHammingAdcFromSigs(emb,
        Materialized.hammingSigs(s, d), queries, "vec_id",
        "embedding", "vec_id", k = 5, dims = 64, oversample = 4))
    },
    Some(s"""WITH ${hamPreludeSql(ivf = false, first20)},
            |${hamBitsSql(first20)},
            |${hamFlatCutSql(adc = true)},
            |${hamRerankSql()},
            |${hamTop5Sql("ra", "rer")},
            |$hamBruteSql,
            |$hamRecallOutSql""".stripMargin))

  /** IVF × binary-sketch HYBRID kNN ([[Similarity.knnJoinHammingIvf]]
    * over [[Materialized.hammingSigsIvf]]): the coarse quantizer prunes
    * which PARTITIONS stage 1 reads (probed cells), the densified sketch
    * prunes what it reads per row (16 bytes) — the FAISS
    * IVF-binary-quantization shape, both pruning axes in one plan
    * (PlanSpec pins PartitionFilters + the sketch-only ReadSchema).
    * Probe convention = `sim_knn_join_ivf`'s (squared L2, (dist, cid)
    * ties); sketch metric = `sim_knn_hamming2`'s; rerank = the shared
    * exact cosine. The oracle composes the two existing replays. */
  val simKnnHammingIvf: QueryDef = QueryDef("sim_knn_hamming_ivf",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      Similarity.knnJoinHammingIvf(Materialized.hammingSigsIvf(s, d),
          Tables.embeddings(s, d), idx.centroids,
          Tables.embeddings(s, d).where(col("vec_id") < 20),
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = 2,
          oversample = 4)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH ${hamIvfSql(2)},
            |${hamRerankSql()},
            |${hamKnnOutSql()}""".stripMargin))

  /** Recall@5 of the HYBRID search vs brute-force ground truth — the
    * `sim_hamming_recall` discipline on the composed dial: the hybrid's
    * misses decompose into cell misses (the true neighbor's cell wasn't
    * probed — `nprobe`'s axis) and sketch misses (probed but cut —
    * `oversample`'s axis), so this artifact is the honest price of the
    * partition-pruned 16-byte stage 1. Both sides share the
    * (cosine desc, id) tie rule; deterministic in both engines. */
  val simHammingIvfRecall: QueryDef = QueryDef("sim_hamming_ivf_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 20)
      val idx = Materialized.ivfIndex(s, d)
      recallVsBrute(emb, queries, Similarity.knnJoinHammingIvf(
        Materialized.hammingSigsIvf(s, d), emb, idx.centroids, queries,
        "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = 2,
        oversample = 4))
    },
    Some(s"""WITH ${hamIvfSql(2)},
            |${hamRerankSql()},
            |${hamTop5Sql("ra", "rer")},
            |$hamBruteSql,
            |$hamRecallOutSql""".stripMargin))

  /** The hybrid recall dial as a LADDER — `sim_hamming_ivf_recall`
    * measures one (nprobe=2, oversample=4) point; this artifact replays
    * the whole nprobe axis (1/2/4/8 at the fixed oversample), one row
    * per rung: aggregate recall@5 of the hybrid vs brute ground truth
    * over the 20 queries. The top rung probes every trained cell, so
    * cell-miss is structurally zero there and the row equals the flat
    * sketch recall — the ladder separates the two recall factors the
    * composed dial multiplies (`nprobe`'s cell recall × `oversample`'s
    * sketch recall). The four rungs share one probe and one rerank
    * ([[Similarity.knnJoinHammingIvfLadder]], each rung row-identical to
    * the single-shot search) and one brute join. */
  val simHammingIvfRecall2: QueryDef = QueryDef("sim_hamming_ivf_recall2",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 20)
      val idx = Materialized.ivfIndex(s, d)
      val sigs = Materialized.hammingSigsIvf(s, d)
      ladderRecall(s, emb, queries, Similarity.knnJoinHammingIvfLadder(sigs,
        emb, idx.centroids, queries, "vec_id", "embedding", "vec_id", k = 5,
        dims = 64, nprobes = ladderRungs, oversample = 4))
    },
    Some(s"""WITH ${hamIvfSql(ladderRungs: _*)},
            |${hamRerankSql()},
            |${hamTop5Sql("ra", "rer", "nprobe, query_id")},
            |$hamBruteSql,
            |$hamLadderOutSql""".stripMargin))

  /** IVF × RESIDUAL-sketch hybrid kNN
    * ([[Similarity.knnJoinHammingIvfRes]] over
    * [[Materialized.hammingSigsIvfRes]]) — the FAISS binary-IVF
    * refinement: stage 1 Hamming compares sketches of `v −
    * centroid(cell)` on BOTH sides (the query re-sketches its residual
    * per probed cell), concentrating all 128 sign bits on the
    * within-cell variance the coarse quantizer leaves. Same probe
    * convention, partition pruning and exact rerank as
    * `sim_knn_hamming_ivf`; the stage-1 cut is PER PROBED CELL (residual
    * distances are only comparable within a cell — the measured failure
    * of a global cut is in BASELINE.md); the oracle replays the residual
    * subtraction inside the same 6-dp µ-unit plane projection and the
    * per-cell rank. */
  val simKnnHammingIvfRes: QueryDef = QueryDef("sim_knn_hamming_ivfres",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      Similarity.knnJoinHammingIvfRes(Materialized.hammingSigsIvfRes(s, d),
          Tables.embeddings(s, d), idx.centroids,
          Tables.embeddings(s, d).where(col("vec_id") < 20),
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = 2,
          oversample = 4)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH ${hamIvfResSql(2)},
            |${hamRerankSql()},
            |${hamKnnOutSql()}""".stripMargin))

  /** Recall@5 of the RESIDUAL-sketch hybrid vs the RAW-sketch hybrid at
    * the same (nprobe, oversample) point, both against brute-force
    * ground truth — the honest measurement of whether residual
    * sketching buys recall on THIS corpus (it concentrates sketch
    * entropy only where cells actually absorb variance; on an isotropic
    * corpus with weak cells the two variants should tie — the
    * `sdc-opq` honest-negative discipline applied to the sketch
    * family). One row per variant; both chains replayed in SQL. */
  val simHammingIvfResRecall: QueryDef = QueryDef("sim_hamming_ivfres_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 20)
      val idx = Materialized.ivfIndex(s, d)
      val brute = Similarity.knnJoin(emb, queries, "vec_id", "embedding",
        "vec_id", k = 5).select(col("query_id"), col("neighbor_id"))
      val tot = brute.agg(count(lit(1)).as("total"))
      def hitRow(name: String, hyb: DataFrame) =
        brute.join(hyb.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(name).as("variant"), col("hits"))
      hitRow("raw", Similarity.knnJoinHammingIvf(
          Materialized.hammingSigsIvf(s, d), emb, idx.centroids, queries,
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = 2,
          oversample = 4))
        .unionByName(hitRow("residual", Similarity.knnJoinHammingIvfRes(
          Materialized.hammingSigsIvfRes(s, d), emb, idx.centroids, queries,
          "vec_id", "embedding", "vec_id", k = 5, dims = 64, nprobe = 2,
          oversample = 4)))
        .crossJoin(tot)
        .select(col("variant"), col("hits"), col("total"),
          round(col("hits") / col("total"), 6).as("recall"))
        .orderBy("variant")
    },
    Some(s"""WITH ${hamIvfSql(2)},
            |${hamRerankSql()},
            |${hamTop5Sql("rar", "rer")},
            |$hamResBitsSql,
            |${hamCellCutSql("s")},
            |${hamRerankSql("s")},
            |${hamTop5Sql("ras", "rers")},
            |$hamBruteSql,
            |tot AS (SELECT count(*)::BIGINT AS total FROM rb),
            |hr AS (SELECT count(*)::BIGINT AS hits
            |       FROM rb JOIN rar USING (query_id, neighbor_id)),
            |hs AS (SELECT count(*)::BIGINT AS hits
            |       FROM rb JOIN ras USING (query_id, neighbor_id))
            |SELECT * FROM (
            |  SELECT 'raw' AS variant, hr.hits, tot.total,
            |    round(hr.hits::DOUBLE / tot.total, 6) AS recall FROM hr, tot
            |  UNION ALL
            |  SELECT 'residual' AS variant, hs.hits, tot.total,
            |    round(hs.hits::DOUBLE / tot.total, 6) AS recall FROM hs, tot)
            |ORDER BY variant""".stripMargin))

  /** The RESIDUAL hybrid's recall dial as a LADDER —
    * `sim_hamming_ivf_recall2`'s artifact for the residual variant:
    * aggregate recall@5 vs brute ground truth at nprobe 1/2/4/8, fixed
    * oversample 4, one row per rung, with the PER-CELL stage-1 cut
    * replayed (residual Hamming distances are only comparable within a
    * cell — BASELINE.md records the measured collapse of a global cut,
    * recall FALLING as nprobe grew; this stored artifact is the
    * monotone dial that fix bought). Against `sim_hamming_ivf_recall2`
    * at the same rungs the two ladders decompose the design choice:
    * same cells probed, same rerank — only the sketch basis differs.
    * The residual ladder ranks stage 1 ONCE (the per-(query, cell) cut
    * is rung-independent). */
  val simHammingIvfResRecall2: QueryDef = QueryDef("sim_hamming_ivfres_recall2",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 20)
      val idx = Materialized.ivfIndex(s, d)
      val sigs = Materialized.hammingSigsIvfRes(s, d)
      ladderRecall(s, emb, queries, Similarity.knnJoinHammingIvfResLadder(sigs,
        emb, idx.centroids, queries, "vec_id", "embedding", "vec_id", k = 5,
        dims = 64, nprobes = ladderRungs, oversample = 4))
    },
    Some(s"""WITH ${hamIvfResSql(ladderRungs: _*)},
            |${hamRerankSql()},
            |${hamTop5Sql("ra", "rer", "nprobe, query_id")},
            |$hamBruteSql,
            |$hamLadderOutSql""".stripMargin))

  /** The FULLY-COMPOSED all-stored search
    * ([[Similarity.knnJoinHammingIvfResSq]] over
    * [[Materialized.hammingSigsIvfRes]] + [[Materialized.q8CodesIvf]]):
    * probed-cell PartitionFilters prune WHICH rows BOTH scans read —
    * the sketch scan AND the rerank's code scan (the cell-partitioned
    * code store closes the last full-scan in the search; both
    * PartitionFilters PlanSpec-pinned) — the residual sketch prunes
    * WHAT stage 1 reads per row (16 B), and the rerank ranks by the
    * int8 quantized cosine from the stored codes. NO raw corpus vector
    * is read anywhere in the plan. Stage-1 candidacy is bit-equal to
    * `sim_knn_hamming_ivfres` (shared body, per-cell cut); the
    * probed-cell restriction of the rerank cannot drop a candidate
    * (same assignment on both stores), so the result is identical to a
    * flat-code rerank and the oracle replays the probe, the residual
    * µ-unit sketches, the per-cell rank AND the integer-code cosine
    * without modeling the partition layout. */
  val simKnnHammingIvfResQ8: QueryDef = QueryDef("sim_knn_hamming_ivfres_q8",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      Similarity.knnJoinHammingIvfResSq(Materialized.q8CodesIvf(s, d),
          Materialized.hammingSigsIvfRes(s, d), idx.centroids,
          Tables.embeddings(s, d).where(col("vec_id") < 20),
          "embedding", "vec_id", k = 5, dims = 64, nprobe = 2,
          oversample = 4)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH ${hamIvfResSql(2)},
            |${hamRerankSql(q8 = true)},
            |${hamKnnOutSql()}""".stripMargin))

  /** Fidelity dial of the fully-composed search: top-5 agreement
    * between the SQ-rerank residual hybrid and its exact-rerank twin
    * (`sim_knn_hamming_ivfres`) at the same (nprobe=2, oversample=4)
    * point — identical stage-1 candidates by construction (shared
    * body), so any disagreement is PURELY what the int8 rerank moves in
    * the final ranking, with the partition-pruning axis along for the
    * ride. One row; both chains replayed in SQL. */
  val simHammingIvfResQ8Recall: QueryDef = QueryDef("sim_hamming_ivfres_q8_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 20)
      val idx = Materialized.ivfIndex(s, d)
      val sigs = Materialized.hammingSigsIvfRes(s, d)
      agreement(
        Similarity.knnJoinHammingIvfRes(sigs, emb, idx.centroids,
          queries, "vec_id", "embedding", "vec_id", k = 5, dims = 64,
          nprobe = 2, oversample = 4),
        Similarity.knnJoinHammingIvfResSq(Materialized.q8CodesIvf(s, d),
          sigs, idx.centroids, queries, "embedding", "vec_id", k = 5,
          dims = 64, nprobe = 2, oversample = 4))
    },
    Some(s"""WITH ${hamIvfResSql(2)},
            |$hamAgreementOutSql""".stripMargin))

  /** Hybrid retrieval ([[TextAnalysis.rrfFuse]]): BM25 keyword top-10 and
    * embedding-kNN top-10 for the same three document-anchored queries
    * (query text = the doc's first five words, query vector = the doc's
    * embedding), fused by reciprocal-rank — only ranks cross the scorer
    * boundary, so the incomparable score scales never mix. */
  val textHybridRrf: QueryDef = QueryDef("text_hybrid_rrf",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val qids = Seq(10L, 20L, 30L)
      val qs = docs.where(col("doc_id").isin(qids: _*))
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext"))
      val bm = TextAnalysis.bm25(docs, "doc_id", "text", qs, k = 10)
        .select("query_id", "doc_id", "rank")
      val kn = Similarity.knnJoin(emb, emb.where(col("vec_id").isin(qids: _*)),
          "vec_id", "embedding", "vec_id", k = 10, excludeSelf = false)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      TextAnalysis.rrfFuse(bm, kn, "doc_id", k = 10)
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT doc_id AS query_id,
           |    array_to_string(string_split(text, ' ')[1:5], ' ') AS qtext
           |  FROM documents WHERE doc_id IN (10, 20, 30)),
           |qex AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term FROM q),
           |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |dl AS (SELECT doc_id, len(ws)::DOUBLE AS dl FROM t),
           |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
           |tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
           |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
           |       WHERE term IN (SELECT DISTINCT term FROM qex) GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
           |c AS (SELECT q.query_id, tf.doc_id,
           |        round(ln((s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1) * tf.tf * 2.2 /
           |          (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)), 6) AS c
           |      FROM tf JOIN qex q USING (term) JOIN dfq USING (term)
           |        JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
           |sc AS (SELECT query_id, doc_id, round(sum(c), 6) AS score FROM c GROUP BY 1, 2),
           |bmr AS (SELECT query_id, doc_id, rank FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, doc_id) AS rank FROM sc) WHERE rank <= 10),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |nn AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm
           |       FROM e WHERE v IS NOT NULL AND len(v) > 0),
           |qv AS (SELECT vec_id AS query_id, v AS qvec, nrm AS qn FROM nn
           |       WHERE vec_id IN (10, 20, 30)),
           |kc AS (SELECT q.query_id, c.vec_id AS doc_id,
           |         round(list_sum([c.v[i] * q.qvec[i] for i in range(1, 65)]) / (c.nrm * q.qn), 6)
           |           AS cosine
           |       FROM nn c, qv q WHERE c.nrm > 0),
           |knr AS (SELECT query_id, doc_id, rank FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, doc_id) AS rank FROM kc) WHERE rank <= 10),
           |f AS (SELECT coalesce(b.query_id, n2.query_id) AS query_id,
           |        coalesce(b.doc_id, n2.doc_id) AS doc_id,
           |        b.rank AS rank_a, n2.rank AS rank_b
           |      FROM bmr b FULL OUTER JOIN knr n2
           |        ON b.query_id = n2.query_id AND b.doc_id = n2.doc_id),
           |s2 AS (SELECT query_id, doc_id,
           |         round(coalesce(1.0 / (60.0 + rank_a), 0) +
           |               coalesce(1.0 / (60.0 + rank_b), 0), 6) AS rrf_score,
           |         rank_a, rank_b FROM f),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY rrf_score DESC, doc_id) AS rank FROM s2)
           |SELECT query_id, doc_id, rank, rrf_score, rank_a, rank_b FROM r
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))

  /** Hybrid retrieval at TABLE-scale Q ([[TextAnalysis.bm25Distributed]] +
    * [[Similarity.knnJoinDistributed]] + [[TextAnalysis.rrfFuse]]): the
    * query set is a DataFrame end-to-end — every 50th document queries
    * with its first five words (keyword leg) and its embedding against
    * the stored IVF index (vector leg). No driver-side query collect, no
    * Q-bounded broadcast hint anywhere in the fused path: the BM25 term
    * joins float with Catalyst (shuffle-on-term at huge Q), the kNN leg
    * probes through the broadcast CENTROID sidecar only (k rows), and
    * both top-k cuts plus the fusion window are WindowGroupLimit-bounded.
    * This closes `text_hybrid_rrf`'s 4,096-query broadcast bound — same
    * RRF semantics, Q-unbounded plan. Q dial: on THIS corpus's 31-word
    * synthetic vocabulary every query term matches every document, so
    * the keyword leg is inherently DENSE (Q×N scored pairs — a
    * degeneracy of the fixture, not the operator; real vocabularies are
    * selective and the semi-join prune bites). The query rate (every
    * 50th doc) is set so the bench measures the Q-unbounded plan shape,
    * not the fixture's densest point. */
  val textHybridRrf2: QueryDef = QueryDef("text_hybrid_rrf2",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val qs = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext"))
      val bm = TextAnalysis.bm25Distributed(docs, "doc_id", "text", qs, k = 10)
        .select("query_id", "doc_id", "rank")
      val idx = Materialized.ivfIndex(s, d)
      val kn = Similarity.knnJoinDistributed(idx.assignment, idx.centroids,
          Tables.embeddings(s, d).where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 10, nprobe = 2, excludeSelf = false)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      TextAnalysis.rrfFuse(bm, kn, "doc_id", k = 10)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |qh AS (SELECT doc_id AS query_id,
            |    array_to_string(string_split(text, ' ')[1:5], ' ') AS qtext
            |  FROM documents WHERE doc_id % 50 = 0),
            |qex2 AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term FROM qh),
            |th AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            |dlh AS (SELECT doc_id, len(ws)::DOUBLE AS dl FROM th),
            |statsh AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dlh),
            |tokh AS (SELECT doc_id, unnest(ws) AS term FROM th),
            |tfh AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokh
            |        WHERE term IN (SELECT DISTINCT term FROM qex2) GROUP BY 1, 2),
            |dfh AS (SELECT term, count(*)::DOUBLE AS df FROM tfh GROUP BY 1),
            |cbh AS (SELECT q2.query_id, tfh.doc_id,
            |          round(ln((s.n_docs - dfh.df + 0.5) / (dfh.df + 0.5) + 1) * tfh.tf * 2.2 /
            |            (tfh.tf + 1.2 * (1 - 0.75 + 0.75 * dlh.dl / s.avgdl)), 6) AS c
            |        FROM tfh JOIN qex2 q2 USING (term) JOIN dfh USING (term)
            |          JOIN dlh ON tfh.doc_id = dlh.doc_id CROSS JOIN statsh s),
            |sch AS (SELECT query_id, doc_id, round(sum(c), 6) AS score FROM cbh GROUP BY 1, 2),
            |bmr AS (SELECT query_id, doc_id, rank FROM (
            |    SELECT *, row_number() OVER (PARTITION BY query_id
            |      ORDER BY score DESC, doc_id) AS rank FROM sch) WHERE rank <= 10),
            |qs2 AS (SELECT vec_id AS query_id, v AS qv,
            |          sqrt(list_sum([x * x for x in v])) AS qn FROM e WHERE vec_id % 50 = 0),
            |pd2 AS (SELECT q3.query_id, c.centroid_id,
            |          row_number() OVER (PARTITION BY q3.query_id
            |            ORDER BY list_sum([(c.cv[i] - q3.qv[i]) * (c.cv[i] - q3.qv[i])
            |                               for i in range(1, 65)]), c.centroid_id) AS prn
            |        FROM c2 c, qs2 q3),
            |probe2 AS (SELECT query_id, centroid_id FROM pd2 WHERE prn <= 2),
            |nn2 AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
            |ks2 AS (SELECT q4.query_id, nn2.vec_id AS doc_id,
            |          round(list_sum([nn2.v[i] * q4.qv[i] for i in range(1, 65)]) /
            |            (nn2.nrm * q4.qn), 6) AS cosine
            |        FROM nn2 JOIN a3 ON nn2.vec_id = a3.vec_id
            |          JOIN probe2 p ON a3.centroid_id = p.centroid_id
            |          JOIN qs2 q4 ON p.query_id = q4.query_id),
            |knr AS (SELECT query_id, doc_id, rank FROM (
            |    SELECT *, row_number() OVER (PARTITION BY query_id
            |      ORDER BY cosine DESC, doc_id) AS rank FROM ks2) WHERE rank <= 10),
            |fh AS (SELECT coalesce(b2.query_id, n2.query_id) AS query_id,
            |         coalesce(b2.doc_id, n2.doc_id) AS doc_id,
            |         b2.rank AS rank_a, n2.rank AS rank_b
            |       FROM bmr b2 FULL OUTER JOIN knr n2
            |         ON b2.query_id = n2.query_id AND b2.doc_id = n2.doc_id),
            |s2h AS (SELECT query_id, doc_id,
            |          round(coalesce(1.0 / (60.0 + rank_a), 0) +
            |                coalesce(1.0 / (60.0 + rank_b), 0), 6) AS rrf_score,
            |          rank_a, rank_b FROM fh),
            |rh AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |         ORDER BY rrf_score DESC, doc_id) AS rank FROM s2h)
            |SELECT query_id, doc_id, rank, rrf_score, rank_a, rank_b FROM rh
            |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))

  /** CCNet perplexity terciles ([[TextAnalysis.pplBuckets]]) over the
    * STORED unigram LM's per-token NLL, per language: head/middle/tail
    * equal-mass buckets — the published head+middle keep rule's input.
    * Corpus text feeds the score table once ([[Materialized.lmUnigrams]]
    * is the trained artifact); the bucketing itself shuffles one double
    * per doc. */
  val textPplBuckets: QueryDef = QueryDef("text_ppl_buckets",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.lmScoreFromModel(docs, "doc_id", "text",
          Materialized.lmUnigrams(s, d))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.pplBuckets(scored, "doc_id", "lang").orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |tok AS (SELECT doc_id, len(ws)::DOUBLE AS dl, unnest(ws) AS word FROM t),
           |vocab AS (SELECT word, count(*)::DOUBLE AS cnt FROM tok GROUP BY 1),
           |tot AS (SELECT sum(cnt) AS total FROM vocab),
           |tf AS (SELECT doc_id, dl, word, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2, 3),
           |c AS (SELECT tf.doc_id, tf.dl, tf.tf, round(ln(v.cnt / t.total), 6) AS lp
           |      FROM tf JOIN vocab v USING (word) CROSS JOIN tot t),
           |nll AS (SELECT doc_id, dl, round(-sum(tf * lp), 6) AS nll_sum
           |        FROM c GROUP BY 1, 2),
           |d0 AS (SELECT DISTINCT doc_id, dl FROM tok),
           |sc AS (SELECT d0.doc_id, d0.dl::BIGINT AS n_words,
           |         coalesce(nll.nll_sum, 0.0) AS nll_sum
           |       FROM d0 LEFT JOIN nll USING (doc_id, dl)),
           |p AS (SELECT sc.doc_id, dd.lang, sc.n_words,
           |        ((2 * round(sc.nll_sum * 1000000, 0)::BIGINT + sc.n_words)
           |          // (2 * sc.n_words)) / 1000000.0 AS ppl_tok
           |      FROM sc JOIN documents dd USING (doc_id) WHERE sc.n_words > 0),
           |b AS (SELECT *, ntile(3) OVER (PARTITION BY lang
           |        ORDER BY ppl_tok, doc_id)::BIGINT AS bucket FROM p)
           |SELECT doc_id, lang, n_words, ppl_tok, bucket,
           |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
           |       ELSE 'middle' END AS bucket_label
           |FROM b ORDER BY doc_id""".stripMargin))

  /** The 100×-safe tercile twin ([[TextAnalysis.pplBucketsThreshold]]):
    * per-language cut VALUES from exact order statistics over the
    * (lang, 6-dp ppl) value-count table — bounded by the rounding, not
    * the corpus — broadcast back and applied as comparisons, so no
    * language ever sorts through one `ntile` task. Tie semantics are
    * value-pure (boundary ties take the earlier bucket); the oracle
    * replays the same threshold construction, and LlmSpec pins agreement
    * with the window path off straddling boundary ties. */
  val textPplBuckets2: QueryDef = QueryDef("text_ppl_buckets2",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.lmScoreFromModel(docs, "doc_id", "text",
          Materialized.lmUnigrams(s, d))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.pplBucketsThreshold(scored, "doc_id", "lang")
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |tok AS (SELECT doc_id, len(ws)::DOUBLE AS dl, unnest(ws) AS word FROM t),
           |vocab AS (SELECT word, count(*)::DOUBLE AS cnt FROM tok GROUP BY 1),
           |tot AS (SELECT sum(cnt) AS total FROM vocab),
           |tf AS (SELECT doc_id, dl, word, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2, 3),
           |c AS (SELECT tf.doc_id, tf.dl, tf.tf, round(ln(v.cnt / t.total), 6) AS lp
           |      FROM tf JOIN vocab v USING (word) CROSS JOIN tot t),
           |nll AS (SELECT doc_id, dl, round(-sum(tf * lp), 6) AS nll_sum
           |        FROM c GROUP BY 1, 2),
           |d0 AS (SELECT DISTINCT doc_id, dl FROM tok),
           |sc AS (SELECT d0.doc_id, d0.dl::BIGINT AS n_words,
           |         coalesce(nll.nll_sum, 0.0) AS nll_sum
           |       FROM d0 LEFT JOIN nll USING (doc_id, dl)),
           |p AS (SELECT sc.doc_id, dd.lang, sc.n_words,
           |        ((2 * round(sc.nll_sum * 1000000, 0)::BIGINT + sc.n_words)
           |          // (2 * sc.n_words)) / 1000000.0 AS ppl_tok
           |      FROM sc JOIN documents dd USING (doc_id) WHERE sc.n_words > 0),
           |vc AS (SELECT lang, ppl_tok, count(*)::BIGINT AS cnt FROM p GROUP BY 1, 2),
           |nr AS (SELECT lang, sum(cnt)::BIGINT AS n_rows FROM vc GROUP BY 1),
           |cc AS (SELECT vc.lang, vc.ppl_tok,
           |         sum(vc.cnt) OVER (PARTITION BY vc.lang
           |           ORDER BY vc.ppl_tok)::BIGINT AS cum,
           |         nr.n_rows
           |       FROM vc JOIN nr USING (lang)),
           |th AS (SELECT lang,
           |         min(CASE WHEN cum >= (n_rows // 3) + least(1, n_rows % 3)
           |             THEN ppl_tok END) AS t1,
           |         min(CASE WHEN cum >= 2 * (n_rows // 3) + least(2, n_rows % 3)
           |             THEN ppl_tok END) AS t2
           |       FROM cc GROUP BY 1),
           |b AS (SELECT p.doc_id, p.lang, p.n_words, p.ppl_tok,
           |        (1 + (p.ppl_tok > th.t1)::INT + (p.ppl_tok > th.t2)::INT)::BIGINT
           |          AS bucket
           |      FROM p JOIN th USING (lang))
           |SELECT doc_id, lang, n_words, ppl_tok, bucket,
           |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
           |       ELSE 'middle' END AS bucket_label
           |FROM b ORDER BY doc_id""".stripMargin))

  /** DSIR importance resampling ([[TextAnalysis.dsirResample]]): hashed
    * unigram log-likelihood ratios against the English slice as the
    * target distribution, Gumbel-top-100 cut — the published
    * importance-resampling selector, deterministic end-to-end (content-
    * hash Gumbels, exact-DECIMAL weight sums). */
  val textDsir: QueryDef = QueryDef("text_dsir",
    (s, d) => TextAnalysis.dsirResample(Tables.documents(s, d), "doc_id",
        "text", col("lang") === "en", n = 100)
      .orderBy(col("sample_key").desc, col("doc_id")),
    Some("""WITH t AS (SELECT doc_id, lang = 'en' AS is_t,
           |    unnest(string_split(text, ' ')) AS word
           |  FROM documents WHERE text IS NOT NULL),
           |tb AS (SELECT doc_id, is_t,
           |    ('0x' || substr(md5(word), 1, 15))::BIGINT % 1024 AS bucket FROM t),
           |dist AS (SELECT bucket, count(*)::DOUBLE AS cnt_raw,
           |           sum(CASE WHEN is_t THEN 1 ELSE 0 END)::DOUBLE AS cnt_t
           |         FROM tb GROUP BY 1),
           |tots AS (SELECT sum(cnt_raw) AS tot_raw, sum(cnt_t) AS tot_t FROM dist),
           |r AS (SELECT g.bucket,
           |        round(ln(((coalesce(d.cnt_t, 0) + 1.0) / (tot_t + 1024.0)) /
           |                 ((coalesce(d.cnt_raw, 0) + 1.0) / (tot_raw + 1024.0))), 6)::DECIMAL(20,6)
           |          AS log_ratio
           |      FROM (SELECT unnest(range(0, 1024)) AS bucket) g
           |        LEFT JOIN dist d ON d.bucket = g.bucket CROSS JOIN tots),
           |dbk AS (SELECT doc_id, bucket, count(*)::BIGINT AS c FROM tb GROUP BY 1, 2),
           |ws AS (SELECT doc_id, sum(c * log_ratio) AS wsum
           |       FROM dbk JOIN r USING (bucket) GROUP BY 1),
           |g AS (SELECT doc_id, round(-ln(-ln(
           |          ((('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000) + 0.5)
           |            / 1000000.0)), 6) AS gumbel
           |      FROM documents WHERE text IS NOT NULL),
           |k AS (SELECT ws.doc_id, ws.wsum::DOUBLE AS dsir_weight, g.gumbel,
           |        round(ws.wsum::DOUBLE + g.gumbel, 6) AS sample_key
           |      FROM ws JOIN g USING (doc_id))
           |SELECT doc_id, dsir_weight, gumbel, sample_key FROM k
           |ORDER BY sample_key DESC, doc_id LIMIT 100""".stripMargin))

  /** Production twin of `text_dsir`'s weighting stage: per-doc DSIR
    * weights scored against the STORED ratio table
    * ([[Materialized.dsirRatios]] — the ≤1,024-row trained artifact,
    * estimated once per corpus snapshot), so each batch pays one token
    * scan + a broadcast join instead of re-aggregating the corpus
    * distributions. Oracle replays the estimation the store performed
    * once, then scores every doc. */
  val textDsir2: QueryDef = QueryDef("text_dsir2",
    (s, d) => TextAnalysis.dsirWeightsFromRatios(Tables.documents(s, d),
        "doc_id", "text", Materialized.dsirRatios(s, d))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, lang = 'en' AS is_t,
           |    unnest(string_split(text, ' ')) AS word
           |  FROM documents WHERE text IS NOT NULL),
           |tb AS (SELECT doc_id, is_t,
           |    ('0x' || substr(md5(word), 1, 15))::BIGINT % 1024 AS bucket FROM t),
           |dist AS (SELECT bucket, count(*)::DOUBLE AS cnt_raw,
           |           sum(CASE WHEN is_t THEN 1 ELSE 0 END)::DOUBLE AS cnt_t
           |         FROM tb GROUP BY 1),
           |tots AS (SELECT sum(cnt_raw) AS tot_raw, sum(cnt_t) AS tot_t FROM dist),
           |r AS (SELECT g.bucket,
           |        round(ln(((coalesce(d.cnt_t, 0) + 1.0) / (tot_t + 1024.0)) /
           |                 ((coalesce(d.cnt_raw, 0) + 1.0) / (tot_raw + 1024.0))), 6)::DECIMAL(20,6)
           |          AS log_ratio
           |      FROM (SELECT unnest(range(0, 1024)) AS bucket) g
           |        LEFT JOIN dist d ON d.bucket = g.bucket CROSS JOIN tots),
           |dbk AS (SELECT doc_id, bucket, count(*)::BIGINT AS c FROM tb GROUP BY 1, 2),
           |ws AS (SELECT doc_id, sum(c * log_ratio) AS wsum
           |       FROM dbk JOIN r USING (bucket) GROUP BY 1)
           |SELECT doc_id, wsum::DOUBLE AS dsir_weight FROM ws
           |ORDER BY doc_id""".stripMargin))

  /** Honest accuracy dial for the kNN classifier (the `sim_ivf_recall`
    * pattern): the 20 held-out queries DO carry true labels — compare
    * the majority-vote prediction against them, per true label. On the
    * structureless corpus accuracy sits near the 10-class floor (the
    * embedding space carries no label signal) — the dial exists to make
    * that measurable and replayable, not to flatter. */
  val simKnnLabelEval: QueryDef = QueryDef("sim_knn_label_eval",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val pred = Similarity.knnClassify(emb.where(col("vec_id") >= 20),
        emb.where(col("vec_id") < 20), "vec_id", "embedding", "label",
        "vec_id", k = 5)
      val truth = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"),
          col("label").cast("long").as("true_label"))
      truth.join(pred.select(col("query_id"), col("pred_label")), Seq("query_id"))
        .groupBy("true_label")
        .agg(count(lit(1)).as("n"),
          count(when(col("pred_label") === col("true_label"), 1)).as("correct"))
        .orderBy("true_label")
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
           |n AS (SELECT vec_id, v, label, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, label AS true_label
           |      FROM n WHERE vec_id < 20),
           |c AS (SELECT vec_id, v, nrm, label FROM n WHERE vec_id >= 20),
           |s AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
           |  round(list_sum([c.v[i] * q.qv[i] for i in range(1, 65)]) / (c.nrm * q.qn), 6) AS cosine
           |  FROM c, q),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |  ORDER BY cosine DESC, neighbor_id) AS rank FROM s),
           |k AS (SELECT query_id, label::BIGINT AS label, count(*) AS votes,
           |      min(rank) AS best_rank FROM r WHERE rank <= 5 GROUP BY 1, 2),
           |w AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |  ORDER BY votes DESC, best_rank, label) AS rn FROM k),
           |p AS (SELECT query_id, label AS pred_label FROM w WHERE rn = 1)
           |SELECT q.true_label::BIGINT AS true_label, count(*)::BIGINT AS n,
           |  count(*) FILTER (p.pred_label = q.true_label)::BIGINT AS correct
           |FROM q JOIN p ON q.query_id = p.query_id
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The tokenizer's VOCABULARY table — the artifact a trainer/consumer
    * loads alongside the merge list: base symbols (every distinct
    * non-space character in the corpus, ranked lexicographically) followed
    * by one token per stored merge in merge-rank order
    * ([[Materialized.bpeMerges]]). Two different merges can produce the
    * same surface form (`a+bc` and `ab+c`); rows are emitted as-is with
    * their own ranks — consumers keep the first. Alphabet-sized data;
    * the single window sorts ~dozens of rows. */
  // lazy: interpolates bpeTrainedSql/BpeRounds, declared further down —
  // a strict val here would capture BpeRounds = 0 during object init
  lazy val textBpeVocab: QueryDef = QueryDef("text_bpe_vocab",
    (s, d) => {
      import s.implicits._
      // the distinct character alphabet is collected-size by construction
      // (~dozens of symbols), so it is ranked DRIVER-side — a single
      // unpartitioned row_number window here would be harmless but emits
      // the `WindowExec: No Partition Defined` warning, training readers
      // to ignore the one warning that matters on unbounded windows
      // UTF-8 byte order, not String.compareTo (UTF-16 code units): both
      // Spark's UTF8String comparator and DuckDB's binary collation rank
      // supplementary characters by code point, which UTF-16 order breaks
      val alphabet = Tables.documents(s, d)
        .select(explode(regexp_extract_all(col("text"), lit("\\S"), lit(0)))
          .as("token"))
        .distinct().as[String].collect()
        .sortBy(_.getBytes("UTF-8").map(_ & 0xff).toSeq)(
          scala.math.Ordering.Implicits.seqOrdering[Seq, Int])
      val base = alphabet.zipWithIndex.toSeq
        .map { case (t, i) => (t, (i + 1).toLong, "base") }
        .toDF("token", "rank", "kind")
      val nb = alphabet.length.toLong
      val merged = Materialized.bpeMerges(s, d)
        .select(col("merged").as("token"), (col("rank") + nb).as("rank"),
          lit("merged").as("kind"))
      base.unionByName(merged).orderBy("rank", "token")
    },
    Some(s"""WITH $bpeTrainedSql,
            |mm AS (${(1 to BpeRounds).map(n =>
                 s"SELECT $n AS round, rsel, pair FROM b$n")
                 .mkString("\n|      UNION ALL ")}),
            |b AS (SELECT DISTINCT unnest(regexp_extract_all(text, '\\S')) AS token
            |      FROM documents),
            |br AS (SELECT token, row_number() OVER (ORDER BY token) AS rank,
            |       'base' AS kind FROM b),
            |nb AS (SELECT count(*) AS n FROM b),
            |mr AS (SELECT replace(pair, ' ', '') AS token,
            |       nb.n + row_number() OVER (ORDER BY round, rsel) AS rank,
            |       'merged' AS kind FROM mm, nb)
            |SELECT token, rank::BIGINT AS rank, kind
            |FROM (SELECT * FROM br UNION ALL SELECT * FROM mr)
            |ORDER BY rank, token""".stripMargin))

  /** The curation funnel as per-language observability: how many docs
    * each stage of `pipeline_curation2` passes (quality → exact →
    * semantic → selected) plus the stage each rejection is first lost at
    * — the ops dashboard a 100 TB curation run watches. One aggregation
    * over the composed verdict table. */
  // lazy: refers to pipelineCuration2, declared further down the object —
  // a strict val here would read null during object initialization
  lazy val pipelineFunnel: QueryDef = QueryDef("pipeline_funnel",
    (s, d) => pipelineCuration2.fn(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep_quality"), 1)).as("pass_quality"),
        count(when(col("keep_quality") && col("keep_exact"), 1)).as("pass_exact"),
        count(when(col("keep_quality") && col("keep_exact") && col("keep_semantic"), 1))
          .as("pass_semantic"),
        count(when(col("selected"), 1)).as("selected"),
        sum(when(col("selected"), col("n_words")).otherwise(0L)).as("selected_words"))
      .orderBy("lang"),
    pipelineCuration2.oracle.map(inner =>
      s"""WITH curated AS (${inner.replaceAll("\nORDER BY d.doc_id$", "")})
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  count(*) FILTER (keep_quality)::BIGINT AS pass_quality,
         |  count(*) FILTER (keep_quality AND keep_exact)::BIGINT AS pass_exact,
         |  count(*) FILTER (keep_quality AND keep_exact AND keep_semantic)::BIGINT
         |    AS pass_semantic,
         |  count(*) FILTER (selected)::BIGINT AS selected,
         |  coalesce(sum(n_words) FILTER (selected), 0)::BIGINT AS selected_words
         |FROM curated GROUP BY lang ORDER BY lang""".stripMargin))

  /** Exact media dedup: byte-identical payloads group on md5(payload)
    * ([[Dedup.exact]] — the hash column is the binary payload, audit
    * trail included). Five payload copies are planted at synthetic ids
    * anchored past max(doc_id) — the incremental family's convention, so
    * planted ids can never collide with real docs at any sf — and give
    * the demo real groups; at 100 TB only the 16-byte hashes shuffle,
    * never payload bytes. */
  val mmDedup: QueryDef = QueryDef("mm_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val planted = docs.where(col("doc_id") < 5)
        .select((col("doc_id") + maxd + 1001).as("doc_id"), col("text"))
      val media = Multimodal.asMedia(
        docs.select(col("doc_id"), col("text")).unionByName(planted),
        "doc_id", "text")
      Dedup.exact(media, "media_id", "payload").orderBy("media_id")
    },
    Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
           |m AS (SELECT doc_id AS media_id, text FROM documents
           |      UNION ALL SELECT doc_id + m + 1001, text FROM documents, mx WHERE doc_id < 5),
           |h AS (SELECT media_id, md5(text) AS content_hash FROM m),
           |g AS (SELECT content_hash, min(media_id) AS canonical_id,
           |      count(*) AS group_size FROM h GROUP BY 1)
           |SELECT h.media_id, h.content_hash, g.canonical_id, g.group_size,
           |  (h.media_id = g.canonical_id) AS is_canonical
           |FROM h JOIN g USING (content_hash) ORDER BY media_id""".stripMargin))

  /** Media NEAR-dup over decode-stage feature vectors: the
    * embedding-space dedup shape a production pipeline runs over
    * CLIP/audio embeddings — the deterministic stub features keep the
    * whole ladder oracled end-to-end (the oracle re-derives the 8 folded
    * components per doc, 6-dp rounded exactly as the Spark side feeds
    * them, and replays the exact pair scan). Reads the
    * storage-materialized pair table ([[Materialized.mmPairs]] — the
    * quadratic scan runs once per corpus, like [[Materialized
    * .embeddingPairs]]); at corpus scale the banded-LSH family replaces
    * the exact scan, same as for text embeddings. */
  val mmNearDup: QueryDef = QueryDef("mm_near_dup",
    (s, d) => Materialized.mmPairs(s, d)
      .orderBy("id_a", "id_b"),
    Some {
      val feats = (0 until Multimodal.DecodeStub.featDim).map(k =>
        s"coalesce(round(list_sum([ascii(substr(text, i, 1)) / 255.0 " +
          s"for i in range(1, length(text) + 1) if (i - 1) % 8 = $k]), 6), 0.0)")
        .mkString("[", ", ", "]")
      s"""WITH f AS (SELECT doc_id AS media_id, $feats AS v FROM documents),
         |n0 AS (SELECT media_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM f),
         |n AS (SELECT * FROM n0 WHERE nrm > 0)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  round(list_sum([a.v[i] * b.v[i] for i in range(1, 9)]) / (a.nrm * b.nrm), 6)
         |    AS cosine
         |FROM n a JOIN n b ON a.media_id < b.media_id
         |WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, 9)]) / (a.nrm * b.nrm), 6)
         |      >= 0.9999
         |ORDER BY 1, 2""".stripMargin
    })

  /** The deterministic perceptual tables shared by every pHash replay:
    * the KEYED 64×64×256 spectral weight fold
    * `W(k,j,b) = md5('dw|k|j|b') % 17 − 8`
    * ([[Multimodal.DecodeStub.decodeSpectral]] — keyed on the byte VALUE
    * so the cross-document byte-distribution mean carries no weight) and
    * the ±1 projection planes (md5 parity of `ph|k|i`, 64 dims). */
  private val phashPlanesSql: String =
    """pm AS (SELECT k, i,
      |         CASE WHEN ('0x' || substr(md5('ph|' || k || '|' || i), 1, 15))::BIGINT
      |                   % 2 = 0 THEN 1 ELSE -1 END AS s
      |       FROM range(0, 60) t1(k), range(0, 64) t2(i)),
      |dwt AS (SELECT k, j, b,
      |          ('0x' || substr(md5('dw|' || k || '|' || j || '|' || b), 1, 15))::BIGINT
      |            % 17 - 8 AS wt
      |        FROM range(0, 64) t1(k), range(0, 64) t2(j), range(0, 256) t3(b))""".stripMargin

  /** The pHash signature replay over a `(media_id, text)` CTE named
    * `src`: spectral 64-coefficient fold (byte class = position mod 64,
    * the exact-integer [[Multimodal.DecodeStub.decodeSpectral]]), integral
    * mean-centering `64·f − Σf`, ±1 projections, sign bits — emits `out` =
    * `(media_id, sig)`. Requires [[phashPlanesSql]] (`pm`, `dwt`) in
    * scope. Empty texts emit no byte rows and therefore no signature,
    * matching the kernel's featureless None. */
  private def phashSigSql(src: String, out: String): String =
    s"""${out}c AS (SELECT media_id, (u.i - 1) % 64 AS j,
       |          ascii(substr(text, u.i::INT, 1)) AS b
       |        FROM $src, unnest(range(1, length(text) + 1)) u(i)),
       |${out}f AS (SELECT c.media_id, dwt.k AS i,
       |          sum(dwt.wt)::BIGINT AS f
       |        FROM ${out}c c JOIN dwt ON dwt.j = c.j AND dwt.b = c.b
       |        GROUP BY 1, 2),
       |${out}s AS (SELECT media_id, sum(f)::BIGINT AS sv
       |        FROM ${out}f GROUP BY 1),
       |${out}u AS (SELECT f.media_id, f.i, 64 * f.f - s.sv AS u
       |        FROM ${out}f f JOIN ${out}s s USING (media_id)),
       |${out}k AS (SELECT media_id FROM ${out}u
       |        GROUP BY 1 HAVING max(abs(u)) > 0),
       |${out}v AS (SELECT u.media_id, pm.k AS kk,
       |          sum(u.u * pm.s)::BIGINT AS vk
       |        FROM ${out}u u JOIN ${out}k USING (media_id)
       |        JOIN pm ON pm.i = u.i GROUP BY 1, 2),
       |$out AS (SELECT media_id,
       |          sum(CASE WHEN vk > 0 THEN (1::BIGINT << kk) ELSE 0 END)::BIGINT
       |            AS sig
       |        FROM ${out}v GROUP BY 1)""".stripMargin

  /** Perceptual near-dup media pairs at Hamming ≤ 3
    * ([[Multimodal.phashPairs]] — pHash-style 60-bit sketch over the
    * SPECTRAL 64-coefficient decode composed with the wide-key Hamming
    * ring, radius-3 EXHAUSTIVE by pigeonhole). Planted perceptual dups:
    * every 41st doc (length ≥ 72) copied with bytes 1 and 65 swapped —
    * positions ≡ (mod 64) share a spectral weight column, so the decoded
    * coefficients (and the sketch) are EXACTLY preserved while the byte
    * string differs: exact dedup misses and pHash recovers at Hamming 0,
    * guaranteed. The sketch is exact integer arithmetic end-to-end
    * (integral mean-centering; no float sign decisions), so the oracle
    * replays every bit. */
  val mmPhash: QueryDef = QueryDef("mm_phash",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val planted = docs
        .where(col("text").isNotNull && length(col("text")) >= 72 &&
          col("doc_id") % 41 === 7)
        .select((col("doc_id") + maxd + 1001).as("doc_id"),
          concat(substring(col("text"), 65, 1), substring(col("text"), 2, 63),
            substring(col("text"), 1, 1),
            substring(col("text"), 66, Int.MaxValue)).as("text"))
      val media = Multimodal.asMedia(
        docs.select(col("doc_id"), col("text")).unionByName(planted),
        "doc_id", "text")
      // materialize=true (the minhashLsh discipline): the tiny pair result
      // caches eagerly and the signature intermediate unpersists, so
      // repeated registry runs don't accumulate cached tables
      Multimodal.phashPairs(media, maxHamming = 3, materialize = true)
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
            |corpus AS (
            |  SELECT doc_id AS media_id, text FROM documents
            |  WHERE text IS NOT NULL
            |  UNION ALL
            |  SELECT doc_id + m + 1001,
            |         text[65] || text[2:64] || text[1] || text[66:]
            |  FROM documents, mx
            |  WHERE text IS NOT NULL AND len(text) >= 72 AND doc_id % 41 = 7),
            |$phashPlanesSql,
            |${phashSigSql("corpus", "sig")},
            |bands AS (SELECT media_id, sig, b, (sig >> (b * 15)) % 32768 AS bv
            |          FROM sig, range(0, 4) t(b)),
            |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
            |                a.sig AS sa, b.sig AS sb
            |         FROM bands a JOIN bands b
            |           ON a.b = b.b AND a.bv = b.bv AND a.media_id < b.media_id)
            |SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
            |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
            |ORDER BY id_a, id_b""".stripMargin))

  /** Frame-level cross-video dedup ([[Multimodal.frameDupGroups]] —
    * [[Multimodal.sampleFrames]]' stride-2 indices, per-frame payload
    * slices decoded and perceptually sketched, exact-signature groups
    * spanning ≥ 2 videos). Planted duplicate videos (every 59th video
    * re-labeled with a mod-3-preserving id offset, pinned below) share
    * every sampled frame, guaranteeing recovery; the canonical holder is
    * the min packed `(media, frame)` key, the [[Dedup.exact]] election at
    * frame granularity. */
  val mmFrameDedup: QueryDef = QueryDef("mm_frame_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      // a multiple of 3 past maxd: the copy keeps doc_id mod 3 = 2, so
      // asMedia still assigns kind = video (and the same n_frames)
      val off = (maxd / 3 + 1) * 3
      val planted = docs.where(col("text").isNotNull &&
          col("doc_id") % 59 === 2 && col("doc_id") % 3 === 2)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
      val media = Multimodal.asMedia(
        docs.select(col("doc_id"), col("text")).unionByName(planted),
        "doc_id", "text")
      Multimodal.frameDupGroups(media, stride = 2).orderBy("sig")
    },
    Some(s"""WITH mx AS (SELECT ((max(doc_id) // 3) + 1) * 3 AS off
            |           FROM documents),
            |corpus AS (
            |  SELECT doc_id AS media_id, text FROM documents
            |  WHERE text IS NOT NULL
            |  UNION ALL
            |  SELECT doc_id + off, text FROM documents, mx
            |  WHERE text IS NOT NULL AND doc_id % 59 = 2 AND doc_id % 3 = 2),
            |vids AS (SELECT media_id, text, len(text)::BIGINT AS L,
            |           (len(text) % 30 + 1)::BIGINT AS nf
            |         FROM corpus WHERE media_id % 3 = 2),
            |fr AS (SELECT media_id, f,
            |         text[((f * L) // nf + 1)::INT : (((f + 1) * L) // nf)::INT]
            |           AS sl
            |       FROM vids, range(0, 30, 2) t(f) WHERE f < nf),
            |$phashPlanesSql,
            |frc AS (SELECT media_id, f, (u.i - 1) % 64 AS j,
            |          ascii(substr(sl, u.i::INT, 1)) AS b
            |        FROM fr, unnest(range(1, length(sl) + 1)) u(i)),
            |frf AS (SELECT c.media_id, c.f, dwt.k AS i,
            |          sum(dwt.wt)::BIGINT AS fv
            |        FROM frc c JOIN dwt ON dwt.j = c.j AND dwt.b = c.b
            |        GROUP BY 1, 2, 3),
            |frs AS (SELECT media_id, f, sum(fv)::BIGINT AS sv
            |        FROM frf GROUP BY 1, 2),
            |fru AS (SELECT ff.media_id, ff.f, ff.i, 64 * ff.fv - fs.sv AS u
            |        FROM frf ff JOIN frs fs USING (media_id, f)),
            |frk AS (SELECT media_id, f FROM fru
            |        GROUP BY 1, 2 HAVING max(abs(u)) > 0),
            |frv AS (SELECT u.media_id, u.f, pm.k,
            |          sum(u.u * pm.s)::BIGINT AS vk
            |        FROM fru u JOIN frk USING (media_id, f)
            |        JOIN pm ON pm.i = u.i GROUP BY 1, 2, 3),
            |sig AS (SELECT media_id, f,
            |          sum(CASE WHEN vk > 0 THEN (1::BIGINT << k) ELSE 0 END)::BIGINT
            |            AS sig
            |        FROM frv GROUP BY 1, 2)
            |SELECT sig, count(*)::BIGINT AS n_occ,
            |  count(DISTINCT media_id)::BIGINT AS n_media,
            |  min(media_id * 1048576 + f)::BIGINT // 1048576 AS canonical_media,
            |  min(media_id * 1048576 + f)::BIGINT % 1048576 AS canonical_frame
            |FROM sig GROUP BY 1 HAVING count(DISTINCT media_id) >= 2
            |ORDER BY sig""".stripMargin))

  /** Frame-level cross-video NEAR-dup grouping
    * ([[Multimodal.frameNearDupGroups]], Hamming ≤ 3 — the radius-r
    * generalization of `mm_frame_dedup`, whose exact-signature groups are
    * the radius-0 special case): frame sketches clustered by connected
    * components over the near-dup pair graph (wide combination keys, the
    * 10M-survivable generator), cluster label = min packed `(media,
    * frame)` key = the canonical holder. Same planted duplicate videos as
    * the exact twin; `n_sigs > 1` marks clusters holding genuine
    * near-dups. Oracle = recursive-CTE reachability closure over the
    * banded pair edges (generator-agnostic: narrow bands, identical pair
    * set). */
  val mmFrameNearDup: QueryDef = QueryDef("mm_frame_neardup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val off = (maxd / 3 + 1) * 3
      val planted = docs.where(col("text").isNotNull &&
          col("doc_id") % 59 === 2 && col("doc_id") % 3 === 2)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
      val media = Multimodal.asMedia(
        docs.select(col("doc_id"), col("text")).unionByName(planted),
        "doc_id", "text")
      Multimodal.frameNearDupGroups(media, stride = 2, maxHamming = 3,
          materialize = true)
        .orderBy("canonical_media", "canonical_frame")
    },
    Some(s"""WITH RECURSIVE mx AS (SELECT ((max(doc_id) // 3) + 1) * 3 AS off
            |           FROM documents),
            |corpus AS (
            |  SELECT doc_id AS media_id, text FROM documents
            |  WHERE text IS NOT NULL
            |  UNION ALL
            |  SELECT doc_id + off, text FROM documents, mx
            |  WHERE text IS NOT NULL AND doc_id % 59 = 2 AND doc_id % 3 = 2),
            |vids AS (SELECT media_id, text, len(text)::BIGINT AS L,
            |           (len(text) % 30 + 1)::BIGINT AS nf
            |         FROM corpus WHERE media_id % 3 = 2),
            |fr AS (SELECT media_id, f,
            |         text[((f * L) // nf + 1)::INT : (((f + 1) * L) // nf)::INT]
            |           AS sl
            |       FROM vids, range(0, 30, 2) t(f) WHERE f < nf),
            |$phashPlanesSql,
            |frc AS (SELECT media_id, f, (u.i - 1) % 64 AS j,
            |          ascii(substr(sl, u.i::INT, 1)) AS b
            |        FROM fr, unnest(range(1, length(sl) + 1)) u(i)),
            |frf AS (SELECT c.media_id, c.f, dwt.k AS i,
            |          sum(dwt.wt)::BIGINT AS fv
            |        FROM frc c JOIN dwt ON dwt.j = c.j AND dwt.b = c.b
            |        GROUP BY 1, 2, 3),
            |frs AS (SELECT media_id, f, sum(fv)::BIGINT AS sv
            |        FROM frf GROUP BY 1, 2),
            |fru AS (SELECT ff.media_id, ff.f, ff.i, 64 * ff.fv - fs.sv AS u
            |        FROM frf ff JOIN frs fs USING (media_id, f)),
            |frk AS (SELECT media_id, f FROM fru
            |        GROUP BY 1, 2 HAVING max(abs(u)) > 0),
            |frv AS (SELECT u.media_id, u.f, pm.k,
            |          sum(u.u * pm.s)::BIGINT AS vk
            |        FROM fru u JOIN frk USING (media_id, f)
            |        JOIN pm ON pm.i = u.i GROUP BY 1, 2, 3),
            |sig AS (SELECT media_id, f,
            |          sum(CASE WHEN vk > 0 THEN (1::BIGINT << k) ELSE 0 END)::BIGINT
            |            AS sig
            |        FROM frv GROUP BY 1, 2),
            |fid AS (SELECT media_id * 1048576 + f AS id, sig FROM sig),
            |bands AS (SELECT id, sig, b, (sig >> (b * 15)) % 32768 AS bv
            |          FROM fid, range(0, 4) t(b)),
            |pr AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
            |       FROM bands a JOIN bands b
            |         ON a.b = b.b AND a.bv = b.bv AND a.id < b.id
            |       WHERE bit_count(xor(a.sig, b.sig)) <= 3),
            |edges AS (SELECT id_a AS a, id_b AS b FROM pr
            |          UNION ALL SELECT id_b, id_a FROM pr),
            |r(id, lab) AS (
            |  SELECT id, id FROM fid
            |  UNION
            |  SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.id),
            |cl AS (SELECT id, min(lab) AS cluster_id FROM r GROUP BY 1),
            |g AS (SELECT cl.cluster_id, count(*)::BIGINT AS n_occ,
            |        count(DISTINCT fid.id // 1048576)::BIGINT AS n_media,
            |        count(DISTINCT fid.sig)::BIGINT AS n_sigs
            |      FROM fid JOIN cl USING (id) GROUP BY 1
            |      HAVING count(DISTINCT fid.id // 1048576) >= 2)
            |SELECT cluster_id // 1048576 AS canonical_media,
            |  cluster_id % 1048576 AS canonical_frame, n_occ, n_media, n_sigs
            |FROM g ORDER BY 1, 2""".stripMargin))

  /** Image-text pair gating ([[Multimodal.pairFilter]] — the LAION/CLIP-
    * score filter shape): each media row's decoded features against its
    * caption embedding folded 64→8 by congruence-class sums (the
    * deterministic stand-in for a shared encoder space), cosine ≥ 0.25
    * keeps the pair. One id-equality hash join (PlanSpec pins no
    * cartesian); zero-norm sides excluded like the embedding near-dup
    * guard. */
  val mmPairFilter: QueryDef = QueryDef("mm_pair_filter",
    (s, d) => Multimodal.pairFilter(
        Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"),
        Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.25)
      .orderBy("media_id"),
    Some {
      val feats = (0 until 8).map(k =>
        s"coalesce(round(list_sum([ascii(substr(text, i, 1)) / 255.0 " +
          s"for i in range(1, length(text) + 1) if (i - 1) % 8 = $k]), 6), 0.0)")
        .mkString("[", ", ", "]")
      val fold = (0 until 8).map(k =>
        s"round(list_sum([embedding[j]::DOUBLE for j in range(${k + 1}, 65, 8)]), 6)")
        .mkString("[", ", ", "]")
      s"""WITH mf AS (SELECT doc_id AS media_id, $feats AS mv FROM documents
         |            WHERE text IS NOT NULL),
         |tf AS (SELECT vec_id AS media_id, $fold AS tv FROM embeddings),
         |j AS (SELECT mf.media_id, mv, tv,
         |        sqrt(list_sum([x * x for x in mv])) AS mn,
         |        sqrt(list_sum([x * x for x in tv])) AS tn
         |      FROM mf JOIN tf USING (media_id)),
         |c AS (SELECT media_id,
         |        round(list_sum([mv[i] * tv[i] for i in range(1, 9)])
         |              / (mn * tn), 6) AS cosine
         |      FROM j WHERE mn > 0 AND tn > 0)
         |SELECT media_id, cosine, (cosine >= 0.25) AS kept FROM c
         |ORDER BY media_id""".stripMargin
    })

  /** Incremental media near-dup against the STORED perceptual sketch
    * table ([[Materialized.phashSigs]] ∘ [[Multimodal.phashIncremental]])
    * — the media pillar's production ingestion gate, mirroring
    * `dedup_incremental_near`: the corpus is decoded + sketched once
    * ever; the new batch broadcasts its band keys into the stored table,
    * candidates verify by exact sketch Hamming (radius-3 exhaustive by
    * pigeonhole — no payload re-read), each batch row reports its best
    * corpus match or keeps. Batch = spectral-class-swapped copies of
    * every 37th doc (bytes 1/65 swapped — coefficient-exact perceptual
    * dups → guaranteed `dup_of` at Hamming 0) plus uppercased copies of
    * others (every spectral coefficient shifts → genuinely new
    * content). */
  val mmDedupIncremental: QueryDef = QueryDef("mm_dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val dups = docs.where(col("text").isNotNull &&
          length(col("text")) >= 72 && col("doc_id") % 37 === 5)
        .select((col("doc_id") + maxd + 5001).as("doc_id"),
          concat(substring(col("text"), 65, 1), substring(col("text"), 2, 63),
            substring(col("text"), 1, 1),
            substring(col("text"), 66, Int.MaxValue)).as("text"))
      val fresh = docs.where(col("text").isNotNull && col("doc_id") % 37 === 8)
        .select((col("doc_id") + maxd + 90001).as("doc_id"),
          upper(col("text")).as("text"))
      val batch = Multimodal.asMedia(dups.unionByName(fresh), "doc_id", "text")
      Multimodal.phashIncremental(batch, Materialized.phashSigs(s, d))
        .orderBy("media_id")
    },
    Some(s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
            |$phashPlanesSql,
            |csrc AS (SELECT doc_id AS media_id, text FROM documents
            |         WHERE text IS NOT NULL),
            |bsrc AS (
            |  SELECT doc_id + m + 5001 AS media_id,
            |         text[65] || text[2:64] || text[1] || text[66:] AS text
            |  FROM documents, mx
            |  WHERE text IS NOT NULL AND len(text) >= 72 AND doc_id % 37 = 5
            |  UNION ALL
            |  SELECT doc_id + m + 90001, upper(text) FROM documents, mx
            |  WHERE text IS NOT NULL AND doc_id % 37 = 8),
            |${phashSigSql("csrc", "csig")},
            |${phashSigSql("bsrc", "bsig")},
            |cb AS (SELECT media_id, sig, b, (sig >> (b * 15)) % 32768 AS bv
            |       FROM csig, range(0, 4) t(b)),
            |bb AS (SELECT media_id, sig, b, (sig >> (b * 15)) % 32768 AS bv
            |       FROM bsig, range(0, 4) t(b)),
            |cand AS (SELECT DISTINCT bb.media_id AS id_a, cb.media_id AS id_b,
            |                bb.sig AS sa, cb.sig AS sb
            |         FROM bb JOIN cb ON bb.b = cb.b AND bb.bv = cb.bv),
            |ver AS (SELECT id_a, id_b, bit_count(xor(sa, sb))::BIGINT AS hamming
            |        FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
            |best AS (SELECT id_a, id_b, hamming FROM ver
            |         QUALIFY row_number() OVER (PARTITION BY id_a
            |           ORDER BY hamming, id_b) = 1)
            |SELECT b.media_id, best.id_b AS dup_of, best.hamming,
            |  best.id_b IS NULL AS keep
            |FROM (SELECT media_id FROM bsrc) b
            |LEFT JOIN best ON best.id_a = b.media_id
            |ORDER BY media_id""".stripMargin))

  /** Media curation capstone — the multimodal ring composed end-to-end
    * the way `pipeline_curation` composes the text gates: perceptual
    * near-dup drop (any media with a smaller-id Hamming ≤ 3 partner
    * drops — exact payload dups are Hamming 0, so exact dedup is
    * subsumed) ∧ CLIP-score pair gate (cosine ≥ 0.25 against the caption
    * embedding; media without a scorable caption — missing embedding or
    * zero norm on either side — fail the gate, the LAION default). One
    * row per media with every gate's verdict and the final keep. */
  val mmCuration: QueryDef = QueryDef("mm_curation",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val media = Multimodal.asMedia(docs, "doc_id", "text")
      val dupped = Multimodal.phashPairs(media, maxHamming = 3,
          materialize = true)
        .select(col("id_b").as("media_id")).distinct()
        .withColumn("is_dup", lit(true))
      val gated = Multimodal.pairFilter(media, Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = 0.25)
      media.select(col("media_id"))
        .join(dupped, Seq("media_id"), "left")
        .join(gated, Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("is_dup"), lit(false)).as("perceptual_dup"),
          col("cosine"),
          coalesce(col("kept"), lit(false)).as("gate_kept"),
          (!coalesce(col("is_dup"), lit(false)) &&
            coalesce(col("kept"), lit(false))).as("kept_final"))
        .orderBy("media_id")
    },
    Some {
      val feats = (0 until 8).map(k =>
        s"coalesce(round(list_sum([ascii(substr(text, i, 1)) / 255.0 " +
          s"for i in range(1, length(text) + 1) if (i - 1) % 8 = $k]), 6), 0.0)")
        .mkString("[", ", ", "]")
      val fold = (0 until 8).map(k =>
        s"round(list_sum([embedding[j]::DOUBLE for j in range(${k + 1}, 65, 8)]), 6)")
        .mkString("[", ", ", "]")
      s"""WITH $phashPlanesSql,
         |csrc AS (SELECT doc_id AS media_id, text FROM documents
         |         WHERE text IS NOT NULL),
         |${phashSigSql("csrc", "sig")},
         |bands AS (SELECT media_id, sig, b, (sig >> (b * 15)) % 32768 AS bv
         |          FROM sig, range(0, 4) t(b)),
         |pr AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
         |       FROM bands a JOIN bands b
         |         ON a.b = b.b AND a.bv = b.bv AND a.media_id < b.media_id
         |       WHERE bit_count(xor(a.sig, b.sig)) <= 3),
         |dup AS (SELECT DISTINCT id_b AS media_id FROM pr),
         |mf AS (SELECT doc_id AS media_id, $feats AS mv FROM documents
         |       WHERE text IS NOT NULL),
         |tf AS (SELECT vec_id AS media_id, $fold AS tv FROM embeddings),
         |jj AS (SELECT mf.media_id, mv, tv,
         |        sqrt(list_sum([x * x for x in mv])) AS mn,
         |        sqrt(list_sum([x * x for x in tv])) AS tn
         |      FROM mf JOIN tf USING (media_id)),
         |cs AS (SELECT media_id,
         |        round(list_sum([mv[i] * tv[i] for i in range(1, 9)])
         |              / (mn * tn), 6) AS cosine
         |      FROM jj WHERE mn > 0 AND tn > 0)
         |SELECT d.doc_id AS media_id,
         |  (dup.media_id IS NOT NULL) AS perceptual_dup,
         |  cs.cosine,
         |  coalesce(cs.cosine >= 0.25, false) AS gate_kept,
         |  (dup.media_id IS NULL AND coalesce(cs.cosine >= 0.25, false))
         |    AS kept_final
         |FROM documents d
         |LEFT JOIN dup ON dup.media_id = d.doc_id
         |LEFT JOIN cs ON cs.media_id = d.doc_id
         |ORDER BY media_id""".stripMargin
    })

  /** Recall@k of the probed IVF search vs the brute-force ground truth as
    * a FIRST-CLASS oracled query — the maintainer's honest quality dial
    * (the repo measures probe recall in LlmSpec; this makes it a
    * replayable artifact): the first 20 vectors retrieve top-5 twice,
    * brute ([[Similarity.knnJoin]]) and probed at nprobe=2 over the
    * stored index ([[Similarity.knnJoinIvf]]); per-query `hits` counts
    * the probed set's overlap with ground truth. Both sides share the
    * (cosine desc, id) tie-break, so the sets are deterministic in both
    * engines. */
  val simIvfRecall: QueryDef = QueryDef("sim_ivf_recall",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 20)
      val idx = Materialized.ivfIndex(s, d)
      recallVsBrute(emb, queries, Similarity.knnJoinIvf(idx.assignment,
        idx.centroids, queries, "vec_id", "embedding", k = 5, nprobe = 2))
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |qs AS (SELECT vec_id AS query_id, v AS qv,
            |         sqrt(list_sum([x * x for x in v])) AS qn FROM e WHERE vec_id < 20),
            |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
            |sb AS (SELECT q.query_id, n.vec_id AS neighbor_id,
            |        round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)]) /
            |          (n.nrm * q.qn), 6) AS cosine
            |      FROM n, qs q WHERE n.vec_id <> q.query_id),
            |rb AS (SELECT query_id, neighbor_id FROM (
            |        SELECT *, row_number() OVER (PARTITION BY query_id
            |          ORDER BY cosine DESC, neighbor_id) AS rank FROM sb)
            |      WHERE rank <= 5),
            |pd AS (SELECT q.query_id, c.centroid_id,
            |         row_number() OVER (PARTITION BY q.query_id
            |           ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                              for i in range(1, 65)]), c.centroid_id) AS prn
            |       FROM c2 c, qs q),
            |probe AS (SELECT query_id, centroid_id FROM pd WHERE prn <= 2),
            |sp AS (SELECT q.query_id, n.vec_id AS neighbor_id,
            |        round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)]) /
            |          (n.nrm * q.qn), 6) AS cosine
            |      FROM n JOIN a3 ON n.vec_id = a3.vec_id
            |        JOIN probe p ON a3.centroid_id = p.centroid_id
            |        JOIN qs q ON p.query_id = q.query_id
            |      WHERE n.vec_id <> q.query_id),
            |rp AS (SELECT query_id, neighbor_id FROM (
            |        SELECT *, row_number() OVER (PARTITION BY query_id
            |          ORDER BY cosine DESC, neighbor_id) AS rank FROM sp)
            |      WHERE rank <= 5),
            |j AS (SELECT b.query_id, count(*) AS hits
            |      FROM rb b JOIN rp p ON b.query_id = p.query_id
            |        AND b.neighbor_id = p.neighbor_id GROUP BY 1)
            |SELECT qs.query_id, 5::BIGINT AS k,
            |  coalesce(j.hits, 0)::BIGINT AS hits,
            |  round(coalesce(j.hits, 0) / 5.0, 6) AS recall
            |FROM qs LEFT JOIN j ON qs.query_id = j.query_id
            |ORDER BY qs.query_id""".stripMargin))

  /** Second composed curation pipeline, chaining the round-8 rings:
    * Gopher rule gate (per-row flags) ∧ exact-dedup canonical
    * (hash-group min) ∧ semantic keep through the STORED IVF index
    * ([[Dedup.semanticDedupFromCells]] at 0.45) — `selected` is the
    * training-set membership verdict with each stage's vote visible.
    * Embedding coverage is PARTIAL at some scales (sf0.1 has 5,000 docs
    * but 2,000 embeddings), so the semantic stage joins LEFT: a doc
    * without an embedding row passes the semantic gate trivially
    * (no duplication evidence) and carries `has_embedding = false` so
    * downstream can see which verdicts had vector support — an inner
    * join here would silently emit no verdict at all for most of the
    * corpus. All stages join on the single id key (one co-partitioned
    * shuffle family); the oracle replays the full ladder including the
    * Lloyd closure. */
  /** The shared `ivf2_b1` append batch: negated copies of vectors 0-4 at
    * ids anchored past max(vec_id) — collision-free at any sf (the
    * incremental family's convention; fixed offsets would collide with
    * real ids once the table outgrows them). Every query that ensures the
    * appended store state derives its batch from THIS definition, so the
    * exactly-once ledger always sees identical content per batch id. */
  private def ivf2Batch(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    val maxe = emb.agg(max("vec_id")).head.getLong(0)
    emb.where(col("vec_id") < 5)
      .select((col("vec_id") + maxe + 1001).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
  }

  val pipelineCuration2: QueryDef = QueryDef("pipeline_curation2",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val idx = Materialized.appendIvfIndex(s, d, ivf2Batch(s, d),
        "vec_id", "embedding", "ivf2_b1")
      val g = TextAnalysis.gopherFilter(docs, "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("keep").as("keep_quality"))
      val ex = Dedup.exact(docs, "doc_id", "text")
        .select(col("doc_id"), col("is_canonical").as("keep_exact"))
      val sem = Dedup.semanticDedupFromCells(
          idx.assignment.select(col("id"), col("centroid_id"), col("v")),
          threshold = 0.45)
        .select(col("id").as("doc_id"), col("keep").as("sem_keep"))
      docs.select(col("doc_id"), col("lang"))
        .join(g, "doc_id").join(ex, "doc_id")
        .join(sem, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_words"), col("keep_quality"),
          col("keep_exact"),
          col("sem_keep").isNotNull.as("has_embedding"),
          coalesce(col("sem_keep"), lit(true)).as("keep_semantic"),
          (col("keep_quality") && col("keep_exact") &&
            coalesce(col("sem_keep"), lit(true))).as("selected"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |mxe AS (SELECT max(vec_id) AS me FROM embeddings),
            |nb AS (SELECT vec_id + me + 1001 AS vec_id, [-x for x in v] AS v
            |       FROM e, mxe WHERE vec_id < 5),
            |d4 AS (SELECT nb.vec_id, c.centroid_id,
            |    list_sum([(nb.v[i] - c.cv[i]) * (nb.v[i] - c.cv[i])
            |              for i in range(1, 65)]) AS rd
            |  FROM nb, c2 c),
            |a4 AS (SELECT vec_id, centroid_id FROM (
            |    SELECT vec_id, centroid_id,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, centroid_id) AS rn
            |    FROM d4) WHERE rn = 1),
            |allv AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM nb),
            |cells AS (SELECT vec_id, centroid_id FROM a3
            |          UNION ALL SELECT vec_id, centroid_id FROM a4),
            |nn AS (SELECT c.vec_id, c.centroid_id, a.v,
            |      sqrt(list_sum([x * x for x in a.v])) AS nrm
            |      FROM cells c JOIN allv a ON c.vec_id = a.vec_id),
            |pp AS (SELECT a.vec_id AS id, b.vec_id AS id_b,
            |  round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6) AS cos
            |  FROM nn a JOIN nn b ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id),
            |sem AS (SELECT nn.vec_id, NOT EXISTS (SELECT 1 FROM pp
            |        WHERE pp.id = nn.vec_id AND pp.cos >= 0.45) AS keep_semantic FROM nn),
            |w AS (SELECT doc_id,
            |             [x for x in string_split_regex(text, '\\s+') if x <> ''] AS ws,
            |             string_split(text, chr(10)) AS ls, text FROM documents),
            |gf AS (SELECT doc_id,
            |  len(ws) AS wc,
            |  coalesce(list_sum([length(x) for x in ws]), 0) * 1.0 / greatest(len(ws), 1) AS mwl,
            |  (len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.'))) * 1.0 / greatest(len(ws), 1) AS symr,
            |  len([x for x in ls if starts_with(ltrim(x), '-') OR starts_with(ltrim(x), '*') OR starts_with(ltrim(x), '•')]) * 1.0 / len(ls) AS bulr,
            |  len([x for x in ls if ends_with(rtrim(x), '...')]) * 1.0 / len(ls) AS ellr,
            |  len([x for x in ws if regexp_matches(x, '[A-Za-z]')]) * 1.0 / greatest(len(ws), 1) AS alr,
            |  len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with')))::BIGINT AS stops
            |  FROM w),
            |g AS (SELECT doc_id, wc::BIGINT AS n_words,
            |  ((wc BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0) AND symr <= 0.1
            |   AND bulr <= 0.9 AND ellr <= 0.3 AND alr >= 0.8 AND stops >= 2) AS keep_quality
            |  FROM gf),
            |ex AS (SELECT doc_id,
            |  (doc_id = min(doc_id) OVER (PARTITION BY text)) AS keep_exact FROM documents)
            |SELECT d.doc_id, d.lang, g.n_words, g.keep_quality, ex.keep_exact,
            |  (s.vec_id IS NOT NULL) AS has_embedding,
            |  coalesce(s.keep_semantic, TRUE) AS keep_semantic,
            |  (g.keep_quality AND ex.keep_exact AND coalesce(s.keep_semantic, TRUE))
            |    AS selected
            |FROM documents d JOIN g ON d.doc_id = g.doc_id
            |  JOIN ex ON d.doc_id = ex.doc_id
            |  LEFT JOIN sem s ON d.doc_id = s.vec_id
            |ORDER BY d.doc_id""".stripMargin))

  /** kNN majority-vote classification THROUGH the stored IVF index
    * ([[Similarity.knnClassifyFrom]] over [[Similarity.knnJoinIvf]]) —
    * the classifier at retrieval scale: neighbors come from the probed
    * cells of the labeled corpus slice (vec_id ≥ 20) only, so per-query
    * cost is O(probed cells) and the label join/vote windows run on Q×k
    * rows. Approximate in the standard IVF sense; same vote/tie-break
    * contract as `sim_knn_label`. */
  val simKnnLabelIvf: QueryDef = QueryDef("sim_knn_label_ivf",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = Materialized.ivfIndex(s, d)
      val nb = Similarity.knnJoinIvf(idx.assignment.where(col("id") >= 20),
        idx.centroids, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nprobe = 2)
      Similarity.knnClassifyFrom(nb, emb.where(col("vec_id") >= 20),
          "vec_id", "label")
        .orderBy("query_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |qs AS (SELECT vec_id AS query_id, v AS qv,
            |         sqrt(list_sum([x * x for x in v])) AS qn FROM e WHERE vec_id < 20),
            |pd AS (SELECT q.query_id, c.centroid_id,
            |         row_number() OVER (PARTITION BY q.query_id
            |           ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                              for i in range(1, 65)]), c.centroid_id) AS prn
            |       FROM c2 c, qs q),
            |probe AS (SELECT query_id, centroid_id FROM pd WHERE prn <= 2),
            |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm
            |      FROM e WHERE vec_id >= 20),
            |sc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
            |        round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)]) /
            |          (n.nrm * q.qn), 6) AS cosine
            |      FROM n JOIN a3 ON n.vec_id = a3.vec_id
            |        JOIN probe p ON a3.centroid_id = p.centroid_id
            |        JOIN qs q ON p.query_id = q.query_id),
            |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc),
            |el AS (SELECT vec_id, label FROM embeddings),
            |k AS (SELECT r.query_id, el.label::BIGINT AS label, count(*) AS votes,
            |      min(rank) AS best_rank FROM r JOIN el ON r.neighbor_id = el.vec_id
            |      WHERE rank <= 5 GROUP BY 1, 2),
            |w AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |  ORDER BY votes DESC, best_rank, label) AS rn FROM k)
            |SELECT query_id, label AS pred_label, votes, best_rank::BIGINT AS best_rank
            |FROM w WHERE rn = 1 ORDER BY query_id""".stripMargin))

  /** Semantic dedup over the STORED IVF index
    * ([[Dedup.semanticDedupFromCells]]) — the production shape: the
    * clustering lives in the store (trained once, maintained by
    * append/split/retrain), each run pays only the per-cell pair scans.
    * Runs on the shared index view (base ∪ the `ivf2_b1` append —
    * idempotently ensured here, so the view state is order-independent
    * across the registry) at the corpus-scale threshold 0.45; the oracle
    * replays train → assign → append → within-cell prune. */
  val dedupSemantic2: QueryDef = QueryDef("dedup_semantic2",
    (s, d) => {
      val idx = Materialized.appendIvfIndex(s, d, ivf2Batch(s, d),
        "vec_id", "embedding", "ivf2_b1")
      Dedup.semanticDedupFromCells(
          idx.assignment.select(col("id"), col("centroid_id"), col("v")),
          threshold = 0.45)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |mxe AS (SELECT max(vec_id) AS me FROM embeddings),
            |nb AS (SELECT vec_id + me + 1001 AS vec_id, [-x for x in v] AS v
            |       FROM e, mxe WHERE vec_id < 5),
            |d4 AS (SELECT nb.vec_id, c.centroid_id,
            |    list_sum([(nb.v[i] - c.cv[i]) * (nb.v[i] - c.cv[i])
            |              for i in range(1, 65)]) AS rd
            |  FROM nb, c2 c),
            |a4 AS (SELECT vec_id, centroid_id FROM (
            |    SELECT vec_id, centroid_id,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, centroid_id) AS rn
            |    FROM d4) WHERE rn = 1),
            |allv AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM nb),
            |cells AS (SELECT vec_id, centroid_id FROM a3
            |          UNION ALL SELECT vec_id, centroid_id FROM a4),
            |n AS (SELECT c.vec_id, c.centroid_id, a.v,
            |      sqrt(list_sum([x * x for x in a.v])) AS nrm
            |      FROM cells c JOIN allv a ON c.vec_id = a.vec_id),
            |p AS (SELECT a.vec_id AS id, b.vec_id AS id_b,
            |  round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6) AS cos
            |  FROM n a JOIN n b ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id),
            |f AS (SELECT * FROM p WHERE cos >= 0.45),
            |best AS (SELECT id, id_b, cos,
            |  row_number() OVER (PARTITION BY id ORDER BY cos DESC, id_b) AS rn FROM f)
            |SELECT n.vec_id, n.centroid_id AS cluster_id, b.id_b AS dup_of,
            |  b.cos AS cosine, (b.id_b IS NULL) AS keep
            |FROM n LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON n.vec_id = b.id
            |ORDER BY n.vec_id""".stripMargin))

  /** Day-2 Bloom-gated incremental exact dedup — the stored-artifact form
    * of `dedup_bloom` completing the continuous-ingestion contract: batch
    * B1 (50 docs plus five novel 'qx'-interleaved rewrites of docs 0-4) is
    * judged against the stored content-hash view
    * ([[Materialized.contentHashes]] — corpus text hashed once, ever), its
    * keeps' hashes are ABSORBED as a delta generation
    * ([[Materialized.absorb]] into [[Materialized.Stores.ContentHashes]]),
    * and batch B2 (the last 50
    * docs, 'qx'-copies of three absorbed B1 keeps, a copy of corpus doc
    * 10, and a 'zz'-rewrite pair for within-batch dedup) is judged against
    * corpus ∪ kept(B1) — sketch build AND exact confirm both read the
    * 16-byte hash view, never corpus text. Slices anchored at
    * max(doc_id). */
  val dedupBloom2: QueryDef = QueryDef("dedup_bloom2",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val cut = maxd - 99
      val novel = regexp_replace(col("text"), " ", " qx ")
      val novel2 = regexp_replace(col("text"), " ", " zz ")
      val b1 = docs.where(col("doc_id") >= cut && col("doc_id") < cut + 50)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") < 5)
          .select((col("doc_id") + maxd + 1001).as("doc_id"), novel.as("text")))
      val corpusHashes = Materialized.contentHashes(s, d).where(col("id") < cut)
      // B1 verdict evaluated ONCE, keep ids pinned driver-side (bounded by
      // the batch broadcast contract — see dedup_incremental_near2)
      import s.implicits._
      val keptIdSeq = Dedup.dedupIncrementalBloomFromHashes(b1, corpusHashes,
          "doc_id", "text", expectedCorpusItems = 100000L, fpp = 0.01)
        .where(col("keep")).select(col("doc_id")).as[Long].collect().toSeq
      val keptIds = keptIdSeq.toDF("doc_id")
      val keptDocs = b1.join(broadcast(keptIds), Seq("doc_id"), "left_semi")
      Materialized.absorb(s, d, Materialized.Stores.ContentHashes,
        keptDocs.select(col("doc_id").as("id"),
          Dedup.contentHashSafe(col("text")).as("h")), "bloom2_b1")
      val b2 = docs.where(col("doc_id") >= cut + 50).select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") < 3)
          .select((col("doc_id") + maxd + 2001).as("doc_id"), novel.as("text")))
        .unionByName(docs.where(col("doc_id") === 10)
          .select(lit(maxd + 3001).as("doc_id"), col("text")))
        .unionByName(docs.where(col("doc_id") === 3)
          .select(lit(maxd + 4001).as("doc_id"), novel2.as("text")))
        .unionByName(docs.where(col("doc_id") === 3)
          .select(lit(maxd + 4002).as("doc_id"), novel2.as("text")))
      val day2Hashes = Materialized.contentHashes(s, d).where(col("id") < cut ||
        col("id").isInCollection(keptIdSeq))
      Dedup.dedupIncrementalBloomFromHashes(b2, day2Hashes, "doc_id", "text",
        expectedCorpusItems = 100000L, fpp = 0.01).orderBy("doc_id")
    },
    Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
           |corpus AS (SELECT doc_id, text FROM documents, mx WHERE doc_id < m - 99),
           |b1 AS (SELECT doc_id, text FROM documents, mx WHERE doc_id >= m - 99 AND doc_id < m - 49
           |       UNION ALL SELECT doc_id + m + 1001, replace(text, ' ', ' qx ') FROM documents, mx WHERE doc_id < 5),
           |ct1 AS (SELECT DISTINCT text FROM corpus),
           |j1 AS (SELECT b1.doc_id, b1.text, (b1.text IN (SELECT text FROM ct1)) AS in_c,
           |       min(b1.doc_id) OVER (PARTITION BY b1.text) AS first_id FROM b1),
           |kept1 AS (SELECT doc_id, text FROM j1 WHERE NOT in_c AND doc_id = first_id),
           |day2 AS (SELECT text FROM corpus UNION ALL SELECT text FROM kept1),
           |b2 AS (SELECT doc_id, text FROM documents, mx WHERE doc_id >= m - 49
           |       UNION ALL SELECT doc_id + m + 2001, replace(text, ' ', ' qx ') FROM documents, mx WHERE doc_id < 3
           |       UNION ALL SELECT m + 3001, text FROM documents, mx WHERE doc_id = 10
           |       UNION ALL SELECT m + 4001, replace(text, ' ', ' zz ') FROM documents, mx WHERE doc_id = 3
           |       UNION ALL SELECT m + 4002, replace(text, ' ', ' zz ') FROM documents, mx WHERE doc_id = 3),
           |ct2 AS (SELECT DISTINCT text, TRUE AS hit FROM day2),
           |j2 AS (SELECT b2.doc_id, coalesce(ct2.hit, FALSE) AS in_corpus,
           |        min(b2.doc_id) OVER (PARTITION BY b2.text) AS first_id
           |      FROM b2 LEFT JOIN ct2 ON b2.text IS NOT DISTINCT FROM ct2.text)
           |SELECT doc_id,
           |  CASE WHEN in_corpus THEN 'dup_of_corpus'
           |       WHEN doc_id <> first_id THEN 'dup_in_batch'
           |       ELSE 'kept' END AS status,
           |  (NOT in_corpus AND doc_id = first_id) AS keep
           |FROM j2 ORDER BY doc_id""".stripMargin))

  /** SemDeDup-style semantic dedup ([[Dedup.semanticDedup]]) on the
    * planted near/exact-dup corpus at t=0.9: cluster (k=8, 2 Lloyd
    * rounds — the IVF training closure), then prune earlier-member
    * matches within clusters only. The oracle replays the full ladder:
    * seeded k-means → assignment → within-cluster pair scan → best-match
    * election. */
  val dedupSemantic: QueryDef = QueryDef("dedup_semantic",
    (s, d) => Dedup.semanticDedup(plantedEmbeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, threshold = 0.9)
      .orderBy("vec_id"),
    Some(s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            |planted AS (
            |  SELECT vec_id, v FROM base
            |  UNION ALL
            |  SELECT vec_id + 1000000, list_concat([-v[1], -v[2], -v[3]], v[4:])
            |  FROM base WHERE vec_id % 10 = 0
            |  UNION ALL
            |  SELECT vec_id + 2000000, v FROM base WHERE vec_id % 10 = 5),
            |e AS (SELECT vec_id, v FROM planted),
            |c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
            |${ivfIterSql(1, "c0")},
            |c1 AS (SELECT centroid_id, list(m ORDER BY dim) AS cv FROM m1 GROUP BY 1),
            |${ivfIterSql(2, "c1")},
            |c2 AS (SELECT centroid_id, list(m ORDER BY dim) AS cv FROM m2 GROUP BY 1),
            |$ivfAssignFromTrainedSql,
            |n AS (SELECT e.vec_id, a3.centroid_id, e.v,
            |      sqrt(list_sum([x * x for x in e.v])) AS nrm
            |      FROM e JOIN a3 ON e.vec_id = a3.vec_id),
            |p AS (SELECT a.vec_id AS id, b.vec_id AS id_b,
            |  round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6) AS cos
            |  FROM n a JOIN n b ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id),
            |f AS (SELECT * FROM p WHERE cos >= 0.9),
            |best AS (SELECT id, id_b, cos,
            |  row_number() OVER (PARTITION BY id ORDER BY cos DESC, id_b) AS rn FROM f)
            |SELECT n.vec_id, n.centroid_id AS cluster_id, b.id_b AS dup_of,
            |  b.cos AS cosine, (b.id_b IS NULL) AS keep
            |FROM n LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON n.vec_id = b.id
            |ORDER BY n.vec_id""".stripMargin))

  /** kNN majority-vote classification ([[Similarity.knnClassify]]): the
    * first 20 vectors are "unlabeled" queries, the rest the labeled seed
    * corpus; k=5 neighbors vote, integer-only tie-breaks. Oracle replays
    * brute-force kNN (`sim_knn_join`'s shape, corpus restricted to
    * vec_id ≥ 20) plus the vote/winner windows. */
  val simKnnLabel: QueryDef = QueryDef("sim_knn_label",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnClassify(emb.where(col("vec_id") >= 20),
          emb.where(col("vec_id") < 20), "vec_id", "embedding", "label",
          "vec_id", k = 5)
        .orderBy("query_id")
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
           |n AS (SELECT vec_id, v, label, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 20),
           |c AS (SELECT vec_id, v, nrm, label FROM n WHERE vec_id >= 20),
           |s AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
           |  round(list_sum([c.v[i] * q.qv[i] for i in range(1, 65)]) / (c.nrm * q.qn), 6) AS cosine
           |  FROM c, q),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |  ORDER BY cosine DESC, neighbor_id) AS rank FROM s),
           |k AS (SELECT query_id, label::BIGINT AS label, count(*) AS votes,
           |      min(rank) AS best_rank FROM r WHERE rank <= 5 GROUP BY 1, 2),
           |w AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |  ORDER BY votes DESC, best_rank, label) AS rn FROM k)
           |SELECT query_id, label AS pred_label, votes, best_rank::BIGINT AS best_rank
           |FROM w WHERE rn = 1 ORDER BY query_id""".stripMargin))

  /** Gopher-rule heuristic filter ([[TextAnalysis.gopherFilter]]): the
    * published pretraining quality gate, per-rule flags + conjunction —
    * per-row expressions, fully oracled (flag comparisons run on exact
    * int/int divisions in both engines; only presentation ratios round). */
  val textGopherFilter: QueryDef = QueryDef("text_gopher_filter",
    (s, d) => TextAnalysis.gopherFilter(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id,
           |                  [x for x in string_split_regex(text, '\s+') if x <> ''] AS ws,
           |                  string_split(text, chr(10)) AS ls, text FROM documents),
           |f AS (SELECT doc_id,
           |  len(ws) AS wc,
           |  coalesce(list_sum([length(x) for x in ws]), 0) * 1.0 / greatest(len(ws), 1) AS mwl,
           |  (len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.'))) * 1.0 / greatest(len(ws), 1) AS symr,
           |  len([x for x in ls if starts_with(ltrim(x), '-') OR starts_with(ltrim(x), '*') OR starts_with(ltrim(x), '•')]) * 1.0 / len(ls) AS bulr,
           |  len([x for x in ls if ends_with(rtrim(x), '...')]) * 1.0 / len(ls) AS ellr,
           |  len([x for x in ws if regexp_matches(x, '[A-Za-z]')]) * 1.0 / greatest(len(ws), 1) AS alr,
           |  len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with')))::BIGINT AS stops
           |  FROM w)
           |SELECT doc_id, wc::BIGINT AS n_words, round(mwl, 4) AS mean_word_len,
           |  round(symr, 4) AS symbol_ratio, round(bulr, 4) AS bullet_ratio,
           |  round(ellr, 4) AS ellipsis_ratio, round(alr, 4) AS alpha_ratio,
           |  stops AS stop_hits,
           |  (wc BETWEEN 50 AND 100000) AS f_words,
           |  (mwl BETWEEN 3.0 AND 10.0) AS f_word_len,
           |  (symr <= 0.1) AS f_symbol,
           |  (bulr <= 0.9) AS f_bullet,
           |  (ellr <= 0.3) AS f_ellipsis,
           |  (alr >= 0.8) AS f_alpha,
           |  (stops >= 2) AS f_stop,
           |  ((wc BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0) AND symr <= 0.1
           |   AND bulr <= 0.9 AND ellr <= 0.3 AND alr >= 0.8 AND stops >= 2) AS keep
           |FROM f ORDER BY doc_id""".stripMargin))

  /** Resize planning for image/video media: fit-to-256 box, aspect
    * preserved, no upscale — per-row integer arithmetic, fully oracled. */
  val mmResize: QueryDef = QueryDef("mm_resize",
    (s, d) => Multimodal.resizeMeta(
        Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"), box = 256)
      .orderBy("media_id"),
    Some("""WITH m AS (SELECT doc_id AS media_id,
           |  (['image','audio','video'])[(doc_id % 3)::INT + 1] AS kind,
           |  (octet_length(encode(text)) % 640 + 1)::BIGINT AS w,
           |  (octet_length(encode(text)) * 7 % 480 + 1)::BIGINT AS h
           |FROM documents),
           |r AS (SELECT media_id, kind, w, h,
           |  CASE WHEN greatest(w, h) <= 256 THEN w
           |       ELSE greatest(floor(w * 256.0 / greatest(w, h))::BIGINT, 1) END AS ow,
           |  CASE WHEN greatest(w, h) <= 256 THEN h
           |       ELSE greatest(floor(h * 256.0 / greatest(w, h))::BIGINT, 1) END AS oh
           |FROM m WHERE kind <> 'audio')
           |SELECT media_id, kind, w AS width, h AS height,
           |  ow AS out_width, oh AS out_height, ow * oh * 3 AS out_bytes
           |FROM r ORDER BY media_id""".stripMargin))

  /** Canonical selection by quality: keep each minhash cluster's
    * highest-quality member (ties → min doc_id) — the production keep
    * policy after dedup; shares the stored pair table. Oracle = recursive
    * CTE clusters + the quality expression + a per-cluster row_number. */
  val dedupBestInCluster: QueryDef = QueryDef("dedup_best_in_cluster",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = Dedup.duplicateClusters(Materialized.minhashPairs(s, d),
          docs.select(col("doc_id").as("id")))
        .withColumnRenamed("id", "doc_id")
      val quality = TextAnalysis.qualityFeatures(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      Dedup.keepBestInCluster(clusters, quality, "doc_id", "quality")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $docShingles3,
            |$clusterClosureSql,
            |q AS (SELECT doc_id,
            |  $qualityExprSql AS quality
            |  FROM documents),
            |b AS (SELECT c.doc_id, c.cluster_id, q.quality,
            |      row_number() OVER (PARTITION BY c.cluster_id
            |                         ORDER BY q.quality DESC, c.doc_id) AS rn
            |      FROM c JOIN q USING (doc_id))
            |SELECT doc_id, cluster_id, quality, rn = 1 AS keep FROM b
            |ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination: train docs sharing any distinct word
    * 5-gram with the eval set (doc_id % 50 == 0 plays the benchmark) are
    * flagged — the GPT-3-style n-gram overlap test. The tiny eval gram set
    * broadcasts; the train side never shuffles (see
    * [[TextAnalysis.decontaminate]]). */
  val textDecontaminate: QueryDef = QueryDef("text_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.decontaminate(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id, list_distinct([list_reduce(ws[i:i+4], (a, b) -> a || ' ' || b)
           |        for i in range(1, len(ws) - 3)]) AS gs FROM w),
           |ev AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 50 = 0),
           |tr AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id % 50 <> 0),
           |hit AS (SELECT doc_id, count(*)::BIGINT AS n_overlap FROM tr JOIN ev USING (g) GROUP BY 1)
           |SELECT d.doc_id, coalesce(h.n_overlap, 0)::BIGINT AS n_overlap,
           |  coalesce(h.n_overlap, 0) > 0 AS contaminated
           |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
           |WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin))

  /** Within-document repetition ratios (duplicate word/2-gram/3-gram
    * fractions) — Gopher-style quality filters, pure per-row expressions. */
  val textRepetition: QueryDef = QueryDef("text_repetition",
    (s, d) => TextAnalysis.repetitionSignals(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id, ws,
           |  [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] AS g2,
           |  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)] AS g3
           |FROM w)
           |SELECT doc_id,
           |  CASE WHEN len(ws) > 0 THEN round(1.0 - len(list_distinct(ws)) * 1.0 / len(ws), 6) ELSE 0.0 END AS rep_word,
           |  CASE WHEN len(g2) > 0 THEN round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 6) ELSE 0.0 END AS rep_2gram,
           |  CASE WHEN len(g3) > 0 THEN round(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 6) ELSE 0.0 END AS rep_3gram
           |FROM g ORDER BY doc_id""".stripMargin))

  /** Sequence packing (concat-then-split into 512-token context windows,
    * one running-sum window per source shard — no global sort at scale). */
  val textPack: QueryDef = QueryDef("text_pack",
    (s, d) => TextAnalysis.packSequences(Tables.documents(s, d), "doc_id", "text",
        budget = 512, partitionCol = "source")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, source,
           |  len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens FROM documents),
           |o AS (SELECT doc_id, source, n_tokens,
           |  (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens)::BIGINT AS start_offset
           |  FROM t)
           |SELECT doc_id, source, n_tokens, start_offset,
           |  floor(start_offset / 512.0)::BIGINT AS chunk_id
           |FROM o ORDER BY doc_id""".stripMargin))

  /** The packed training artifact: per-chunk document spans — one row per
    * (source stream, 512-token chunk, doc slice) with doc-relative
    * token_start/token_end, including budget-boundary splits, so every
    * chunk's spans sum to exactly 512 tokens except each stream's tail.
    * Same no-global-sort plan as `text_pack` plus a generator. */
  val textPackEmit: QueryDef = QueryDef("text_pack_emit",
    (s, d) => TextAnalysis.packEmit(Tables.documents(s, d), "doc_id", "text",
        budget = 512, partitionCol = "source")
      .orderBy("source", "chunk_id", "doc_id"),
    Some("""WITH t AS (SELECT doc_id, source,
           |  len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens FROM documents),
           |o AS (SELECT doc_id, source, n_tokens,
           |  (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens)::BIGINT
           |    AS start_offset
           |  FROM t),
           |x AS (SELECT doc_id, source, n_tokens, start_offset,
           |        unnest(generate_series(floor(start_offset / 512.0)::BIGINT,
           |                               floor((start_offset + n_tokens - 1) / 512.0)::BIGINT))
           |          AS chunk_id
           |      FROM o WHERE n_tokens > 0)
           |SELECT source, chunk_id, doc_id,
           |  greatest(0, chunk_id * 512 - start_offset)::BIGINT AS token_start,
           |  least(n_tokens, (chunk_id + 1) * 512 - start_offset)::BIGINT AS token_end
           |FROM x ORDER BY source, chunk_id, doc_id""".stripMargin))

  /** The DuckDB replay of the per-shard FFD fold: state string
    * `"<bin remainders>|<doc:bin:ts:sz;...>"`, one `list_reduce` step per
    * item in `(size DESC, id)` order — the same sequential pass
    * [[TextAnalysis.packBinsFfd]]'s mapPartitions kernel runs. */
  private def ffdFoldSql(budget: Int): String = {
    val R = "[y::BIGINT for y in string_split(split_part(acc, '|', 1), ' ') if y <> '']"
    val S = "string_split(x, ':')[2]::BIGINT"
    val F = s"[j for j in range(1, len($R) + 1) if ($R)[j] >= $S]"
    // ONE line: this text is interpolated into an outer stripMargin
    // string, where a continuation line starting with "||" would lose
    // its first pipe to the margin strip
    (s"CASE WHEN len($F) > 0 THEN " +
      s"array_to_string([CASE WHEN i = ($F)[1] THEN ($R)[i] - $S ELSE ($R)[i] END " +
      s"for i in range(1, len($R) + 1)], ' ') " +
      s"|| '|' || split_part(acc, '|', 2) || string_split(x, ':')[1] || ':' || " +
      s"($F)[1] || ':' || string_split(x, ':')[3] || ':' || $S || ';' " +
      s"ELSE array_to_string(list_append($R, $budget - $S), ' ') " +
      s"|| '|' || split_part(acc, '|', 2) || string_split(x, ':')[1] || ':' || " +
      s"(len($R) + 1) || ':' || string_split(x, ':')[3] || ':' || $S || ';' END")
  }

  /** Doc-boundary FFD packing ([[TextAnalysis.packBinsFfd]]): whole
    * documents first-fit-decreasing-packed into 512-token bins per source
    * shard — training sequences keep document boundaries, only over-budget
    * docs split (dedicated full-chunk bins + the tail re-enters the pack).
    * The oracle replays the identical sequential FFD pass as a
    * `list_reduce` fold per shard. The whole-doc-fraction vs utilization
    * trade against `text_pack_emit`'s concat-split is measured in
    * LlmSpec. */
  val textPackBins: QueryDef = QueryDef("text_pack_bins",
    (s, d) => TextAnalysis.packBinsFfd(Tables.documents(s, d), "doc_id", "text",
        budget = 512, partitionCol = "source")
      .orderBy("source", "bin_id", "doc_id", "token_start"),
    Some(s"""WITH t AS (SELECT source, doc_id,
            |  len(regexp_extract_all(text, '\\S+'))::BIGINT AS n FROM documents),
            |wt AS (SELECT source, doc_id, n AS sz, 0::BIGINT AS ts FROM t
            |       WHERE n > 0 AND n <= 512),
            |tl AS (SELECT source, doc_id, (n % 512) AS sz, (n - n % 512)::BIGINT AS ts
            |       FROM t WHERE n > 512 AND n % 512 > 0),
            |items AS (SELECT * FROM wt UNION ALL SELECT * FROM tl),
            |lst AS (SELECT source, list(doc_id || ':' || sz || ':' || ts ORDER BY sz DESC, doc_id) AS its
            |        FROM items GROUP BY 1),
            |st AS (SELECT source, list_reduce(list_prepend('|', its), (acc, x) ->
            |${ffdFoldSql(512)}) AS s FROM lst),
            |asn AS (SELECT source, unnest(string_split(rtrim(split_part(s, '|', 2), ';'), ';')) AS a
            |        FROM st WHERE split_part(s, '|', 2) <> ''),
            |ffd AS (SELECT source, string_split(a, ':')[2]::BIGINT AS bin_id,
            |          string_split(a, ':')[1]::BIGINT AS doc_id,
            |          string_split(a, ':')[3]::BIGINT AS token_start,
            |          string_split(a, ':')[3]::BIGINT + string_split(a, ':')[4]::BIGINT AS token_end
            |        FROM asn),
            |kk AS (SELECT source, count(*) AS k FROM items GROUP BY 1),
            |ch AS (SELECT source, doc_id, unnest(range(0, (n // 512)::BIGINT)) AS c
            |       FROM t WHERE n > 512),
            |ded AS (SELECT ch.source AS source,
            |          coalesce(kk.k, 0) + row_number() OVER (PARTITION BY ch.source ORDER BY ch.doc_id, ch.c) AS bin_id,
            |          ch.doc_id AS doc_id, (c * 512)::BIGINT AS token_start,
            |          ((c + 1) * 512)::BIGINT AS token_end
            |        FROM ch LEFT JOIN kk ON ch.source = kk.source),
            |uni AS (SELECT * FROM ffd UNION ALL SELECT * FROM ded)
            |SELECT u.source, u.bin_id, u.doc_id, u.token_start, u.token_end,
            |  (u.token_start = 0 AND u.token_end = t.n) AS whole_doc
            |FROM uni u JOIN t ON u.source = t.source AND u.doc_id = t.doc_id
            |ORDER BY u.source, u.bin_id, u.doc_id, u.token_start""".stripMargin))

  /** Video frame sampling: every 2nd frame index per video-kind row — a
    * generator expression (explode of a bounded sequence), no shuffle. */
  val mmFrames: QueryDef = QueryDef("mm_frames",
    (s, d) => Multimodal.sampleFrames(
        Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"), stride = 2)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"))
      .orderBy("media_id", "frame_idx"),
    Some("""SELECT doc_id AS media_id,
           |  unnest(range(0, (octet_length(encode(text)) % 30 + 1)::BIGINT, 2)) AS frame_idx
           |FROM documents
           |WHERE (['image','audio','video'])[(doc_id % 3)::INT + 1] = 'video'
           |ORDER BY media_id, frame_idx""".stripMargin))

  /** Deterministic stratified sampling by predicted language (en kept at
    * 40%, es at 70%, rest at 100%) — hash-bucket sampling is reproducible
    * across runs and engines, unlike RNG-based sampleBy. */
  val textSampleStratified: QueryDef = QueryDef("text_sample_stratified",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val withLang = docs.withColumn("lang_pred", TextAnalysis.langId(col("text")))
      TextAnalysis.sampleStratified(withLang, "text", col("lang_pred"),
          Map("en" -> 40, "es" -> 70))
        .select(col("doc_id"), col("lang_pred"), col("bucket"), col("keep_pct"))
        .orderBy("doc_id")
    },
    Some("""WITH sc AS (SELECT doc_id, text,
           |  len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to','in','is','it')))::BIGINT AS s_en,
           |  len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','ist','ein','zu')))::BIGINT AS s_de,
           |  len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','es','un','en')))::BIGINT AS s_es,
           |  len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','est','un','dans')))::BIGINT AS s_fr
           |FROM documents),
           |s AS (SELECT doc_id,
           |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
           |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
           |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred,
           |  ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS bucket
           |FROM sc)
           |SELECT doc_id, lang_pred, bucket,
           |  (CASE lang_pred WHEN 'en' THEN 40 WHEN 'es' THEN 70 ELSE 100 END)::BIGINT AS keep_pct
           |FROM s
           |WHERE bucket < CASE lang_pred WHEN 'en' THEN 40 WHEN 'es' THEN 70 ELSE 100 END
           |ORDER BY doc_id""".stripMargin))

  /** Int8 embedding quantization (ANN index storage shrink). Gated through
    * integer checksums (sum and L1 of the quantized components — exact,
    * associative, engine-portable) plus the round-6 scale. Runs through the
    * typed kernel ([[Similarity.quantizeChecksums]], bit-identical to the
    * [[Similarity.quantizeInt8]] expression — LlmSpec property); the
    * expression form's five interpreted lambda folds per row made this the
    * costliest per-row query on the board. */
  val simQuantize: QueryDef = QueryDef("sim_quantize",
    (s, d) => Similarity.quantizeChecksums(Tables.embeddings(s, d), "vec_id", "embedding")
      .orderBy("vec_id"),
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id,
           |    list_max([abs(x) for x in v]) AS scale,
           |    [CASE WHEN list_max([abs(y) for y in v]) = 0 THEN 0
           |          ELSE round(x / list_max([abs(y) for y in v]) * 127.0, 0)::BIGINT
           |     END for x in v] AS qv
           |  FROM e)
           |SELECT vec_id, round(scale, 6) AS scale,
           |  list_sum(qv)::BIGINT AS q_sum,
           |  list_sum([abs(x) for x in qv])::BIGINT AS q_l1
           |FROM q ORDER BY vec_id""".stripMargin))

  /** Corpus-wide bigram heavy hitters (top 50, deterministic tie-break) —
    * the statistic that feeds stop-shingle lists for the PPJoin prefix
    * filter at scale. */
  val textNgramFreq: QueryDef = QueryDef("text_ngram_freq",
    (s, d) => TextAnalysis.ngramFrequencies(Tables.documents(s, d), "text", n = 2)
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(50),
    Some("""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
           |b AS (SELECT unnest([ws[i] || ' ' || ws[i + 1]
           |                     for i in range(1, len(ws))]) AS ngram FROM w)
           |SELECT ngram, count(*)::BIGINT AS cnt FROM b
           |GROUP BY 1 ORDER BY cnt DESC, ngram LIMIT 50""".stripMargin))

  /** IVF coarse assignment read from the STORED index
    * ([[Materialized.ivfIndex]]): centroids k-means-trained once, every
    * vector written into its cell partition at build time — this query is a
    * scan of the published assignment, not a recomputation. Oracle replays
    * the full train-then-assign closure ([[ivfTrainedSql]]). */
  val simIvf: QueryDef = QueryDef("sim_ivf_assign",
    (s, d) => Materialized.ivfIndex(s, d).assignment
      .select(col("id").as("vec_id"), col("centroid_id"), col("dist"))
      .orderBy("vec_id"),
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql
            |SELECT vec_id, centroid_id, round(rd, 6) AS dist FROM a3
            |ORDER BY vec_id""".stripMargin))

  /** IVF probed-cell search over the STORED index: assign the query
    * (vec_id=0) to its nprobe=2 nearest trained centroids, then cosine
    * top-10 reading ONLY those two cells' partition files (partition
    * pruning — PlanSpec asserts the scan carries a `centroid_id` partition
    * filter and the plan has no join over the corpus). Completes the IVF
    * story: `sim_ivf_train` is the live training cost, `sim_ivf_assign` the
    * stored index side, this the repeated-query search path. */
  val simIvfSearch: QueryDef = QueryDef("sim_ivf_search",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      val qv = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .head().getSeq[Double](0)
      Similarity.ivfSearch(idx.assignment, idx.centroids, qv,
          k = 10, nprobe = 2, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
            |probe AS (SELECT centroid_id FROM c2 c, q
            |  ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                     for i in range(1, 65)]), centroid_id
            |  LIMIT 2),
            |$ivfAssignFromTrainedSql,
            |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e)
            |SELECT n.vec_id, a3.centroid_id AS cell,
            |  round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)]) / (n.nrm *
            |    (SELECT sqrt(list_sum([x * x for x in qv])) FROM q)), 6) AS cosine
            |FROM n JOIN a3 ON n.vec_id = a3.vec_id, q
            |WHERE a3.centroid_id IN (SELECT centroid_id FROM probe) AND n.vec_id <> 0
            |ORDER BY cosine DESC, n.vec_id LIMIT 10""".stripMargin))

  /** Probed search over the index's int8 QUANTIZATION: same probe as
    * `sim_ivf_search`, but ranking reads only the stored codes — 1 byte
    * per component (`qcode` binary + `scale`), column-pruned so the
    * 8-byte-per-component `v` doubles are never read — and scores by
    * dequantized cosine in one fused kernel. The oracle replays
    * quantize → dequantize → cosine exactly over the probed cells. */
  val simIvfSearchQ8: QueryDef = QueryDef("sim_ivf_search_q8",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      val qv = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .head().getSeq[Double](0)
      Similarity.ivfSearchQ8(idx.assignment, idx.centroids, qv,
          k = 10, nprobe = 2, excludeId = Some(0L))
        .withColumnRenamed("id", "vec_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
            |probe AS (SELECT centroid_id FROM c2 c, q
            |  ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                     for i in range(1, 65)]), centroid_id
            |  LIMIT 2),
            |qz AS (SELECT vec_id, list_max([abs(x) for x in v]) AS scale, v FROM e),
            |dq AS (SELECT vec_id,
            |  [CASE WHEN scale = 0 THEN 0.0
            |        ELSE round(x / scale * 127.0, 0) * scale / 127.0 END
            |   for x in v] AS dv FROM qz)
            |SELECT dq.vec_id, a3.centroid_id AS cell,
            |  round(list_sum([dq.dv[i] * q.qv[i] for i in range(1, 65)]) /
            |    (sqrt(list_sum([x * x for x in dq.dv])) *
            |     (SELECT sqrt(list_sum([x * x for x in qv])) FROM q)), 6) AS cosine
            |FROM dq JOIN a3 ON dq.vec_id = a3.vec_id, q
            |WHERE a3.centroid_id IN (SELECT centroid_id FROM probe) AND dq.vec_id <> 0
            |ORDER BY cosine DESC, dq.vec_id LIMIT 10""".stripMargin))

  /** Probed search over the INCREMENTALLY MAINTAINED IVF index: a batch of
    * five novel vectors (negated copies of 0-4, max-anchored ids) is assigned
    * against the STORED centroids — no retrain, no corpus re-read — and
    * published as an appended cell-partitioned generation
    * ([[Materialized.appendIvfIndex]]); the search (query = negated
    * vector 1) then finds its exact appended copy at cosine 1.0 — a
    * result only the appended generation can produce. The oracle replays
    * train → base assign → batch assign → union → probe → rank. */
  val simIvfSearch2: QueryDef = QueryDef("sim_ivf_search2",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = Materialized.appendIvfIndex(s, d, ivf2Batch(s, d),
        "vec_id", "embedding", "ivf2_b1")
      val qv = emb.where(col("vec_id") === 1)
        .select(transform(col("embedding"), x => -x.cast("double")).as("v"))
        .head().getSeq[Double](0)
      Similarity.ivfSearch(idx.assignment, idx.centroids, qv, k = 10, nprobe = 2)
        .withColumnRenamed("id", "vec_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |mxe AS (SELECT max(vec_id) AS me FROM embeddings),
            |nb AS (SELECT vec_id + me + 1001 AS vec_id, [-x for x in v] AS v
            |       FROM e, mxe WHERE vec_id < 5),
            |d4 AS (SELECT nb.vec_id, c.centroid_id,
            |    list_sum([(nb.v[i] - c.cv[i]) * (nb.v[i] - c.cv[i])
            |              for i in range(1, 65)]) AS rd
            |  FROM nb, c2 c),
            |a4 AS (SELECT vec_id, centroid_id FROM (
            |    SELECT vec_id, centroid_id,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, centroid_id) AS rn
            |    FROM d4) WHERE rn = 1),
            |allv AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM nb),
            |cells AS (SELECT vec_id, centroid_id FROM a3
            |          UNION ALL SELECT vec_id, centroid_id FROM a4),
            |q AS (SELECT [-x for x in v] AS qv FROM e WHERE vec_id = 1),
            |probe AS (SELECT centroid_id FROM c2 c, q
            |  ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                     for i in range(1, 65)]), centroid_id
            |  LIMIT 2),
            |n AS (SELECT a.vec_id, a.v, sqrt(list_sum([x * x for x in a.v])) AS nrm
            |      FROM allv a)
            |SELECT n.vec_id, cl.centroid_id AS cell,
            |  round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)]) / (n.nrm *
            |    (SELECT sqrt(list_sum([x * x for x in qv])) FROM q)), 6) AS cosine
            |FROM n JOIN cells cl ON n.vec_id = cl.vec_id, q
            |WHERE cl.centroid_id IN (SELECT centroid_id FROM probe)
            |ORDER BY cosine DESC, n.vec_id LIMIT 10""".stripMargin))

  /** Fully distributed IVF-PQ batch kNN join — table-vs-table retrieval
    * where the candidates ship ONLY their stored codes: probe assignment
    * and top-k are WindowGroupLimit-bounded (no driver collect, no query
    * bound), per-query ADC lookup tables come from a tiny queries ×
    * codebook cross join, and scoring is a broadcast LUT join + exact
    * DECIMAL partial agg — the full-precision vectors never move. The
    * oracle replays IVF train → assign → PQ train → encode → probe →
    * per-query LUT → decimal-sum ranking. */
  val simKnnJoinPq: QueryDef = QueryDef("sim_knn_join_pq",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      Similarity.knnJoinPq(Materialized.pqCodes(s, d),
          Materialized.pqCodebooks(s, d), idx.centroids,
          Tables.embeddings(s, d).where(col("vec_id") < 40),
          "vec_id", "embedding", k = 5, nprobe = 2, residual = true)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$ivfResidualSql,
            |$pqTrainedSql,
            |$pqEncodeSql,
            |qs AS (SELECT vec_id AS query_id, v AS qv,
            |         sqrt(list_sum([x * x for x in v])) AS qn FROM e WHERE vec_id < 40),
            |pd AS (SELECT q.query_id, c.centroid_id,
            |         row_number() OVER (PARTITION BY q.query_id
            |           ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                              for i in range(1, 65)]), c.centroid_id) AS prn
            |       FROM c2 c, qs q),
            |probe AS (SELECT query_id, centroid_id FROM pd WHERE prn <= 2),
            |lutq AS (SELECT q.query_id, p.subspace, p.code_id,
            |        round(list_sum([q.qv[p.subspace*8 + i] * p.cv[i]
            |                        for i in range(1, 9)]), 6) AS dot6,
            |        round(list_sum([x * x for x in p.cv]), 6) AS nn6
            |        FROM pb2 p, qs q),
            |lutc AS (SELECT c.centroid_id AS cell, p.subspace, p.code_id,
            |        round(list_sum([c.cv[p.subspace*8 + i] * p.cv[i]
            |                        for i in range(1, 9)]), 6) AS cdot6
            |        FROM pb2 p, c2 c),
            |qcc AS (SELECT q.query_id, c.centroid_id AS cell,
            |        round(list_sum([q.qv[i] * c.cv[i] for i in range(1, 65)]), 6) AS qc6
            |       FROM qs q, c2 c),
            |cc AS (SELECT centroid_id AS cell,
            |        round(list_sum([x * x for x in cv]), 6) AS cn6 FROM c2),
            |cd AS (SELECT p.query_id, a.vec_id AS neighbor_id,
            |              a3.centroid_id AS cell, a.subspace, a.code_id
            |       FROM pa3 a JOIN a3 ON a.vec_id = a3.vec_id
            |       JOIN probe p ON a3.centroid_id = p.centroid_id
            |       WHERE a.vec_id <> p.query_id),
            |sc AS (SELECT cd.query_id, cd.neighbor_id, cd.cell,
            |        sum(CAST(l.dot6 AS DECIMAL(20,6))) AS sdot0,
            |        sum(CAST(lc.cdot6 AS DECIMAL(20,6))) AS scd,
            |        sum(CAST(l.nn6 AS DECIMAL(20,6))) AS snn0
            |       FROM cd JOIN lutq l ON cd.query_id = l.query_id
            |         AND cd.subspace = l.subspace AND cd.code_id = l.code_id
            |       JOIN lutc lc ON cd.cell = lc.cell
            |         AND cd.subspace = lc.subspace AND cd.code_id = lc.code_id
            |       GROUP BY 1, 2, 3),
            |fin AS (SELECT sc.query_id, sc.neighbor_id,
            |        CAST(qcc.qc6 AS DECIMAL(20,6)) + sc.sdot0 AS sdot,
            |        CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * sc.scd + sc.snn0 AS snn
            |       FROM sc JOIN qcc ON sc.query_id = qcc.query_id AND sc.cell = qcc.cell
            |       JOIN cc ON sc.cell = cc.cell),
            |r AS (SELECT fin.query_id, fin.neighbor_id,
            |        round((sdot::DOUBLE) / (sqrt(snn::DOUBLE) * qs.qn), 6) AS adc_cosine
            |      FROM fin JOIN qs ON fin.query_id = qs.query_id WHERE snn > 0),
            |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |         ORDER BY adc_cosine DESC, neighbor_id) AS rank FROM r)
            |SELECT query_id, neighbor_id, rank, adc_cosine FROM rk
            |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** Per-cell PQ reconstruction quality — the dial an IVF-PQ operator
    * watches to decide when codes need retraining: for every vector, the
    * cosine between it and its code reconstruction (the same 6-dp LUT
    * terms the ADC search uses, reduced with exact DECIMAL sums), rolled
    * up per cell as mean and worst case. A cell whose reconstruction
    * cosine sags is where ADC ranking quality dies first. Reads the
    * stored codes + the index's v/norm; the per-(vector, subspace) join
    * against the 128-row codebook is a broadcast. */
  val simPqRecon: QueryDef = QueryDef("sim_pq_recon",
    (s, d) => {
      val ivf = Materialized.ivfIndex(s, d)
      val idx = ivf.assignment
        .select(col("id"), col("centroid_id"), col("v"), col("norm"))
      val codes = Materialized.pqCodes(s, d)
        .select(col("id"), posexplode(col("codes")).as(Seq("subspace", "code_id")))
        .withColumn("subspace", col("subspace").cast("long"))
      val books = Materialized.pqCodebooks(s, d)
        .select(col("subspace").cast("long").as("subspace"), col("code_id"), col("cv"))
      // residual reconstruction v̂ = c(cell) + r̂, so the cosine needs the
      // centroid terms: per-(cell, subspace, code) c_s·cv cross products
      // (cells × m × ksub rows — broadcastable) and the per-cell/per-id
      // constants ‖c‖² and v·c
      val ccb = ivf.centroids
        .select(col("centroid_id").cast("long").as("centroid_id"), col("vec"))
        .crossJoin(broadcast(books))
        .select(col("centroid_id"), col("subspace"), col("code_id"),
          expr("round(aggregate(sequence(1, size(cv)), 0D, (acc, i) -> " +
            "acc + element_at(vec, CAST(subspace * size(cv) + i AS INT)) * " +
            "element_at(cv, i)), 6)").as("cdot6"))
      val cellConst = ivf.centroids
        .select(col("centroid_id").cast("long").as("centroid_id"),
          expr("round(aggregate(vec, 0D, (acc, x) -> acc + x * x), 6)").as("cn6"))
      val vConst = idx
        .join(broadcast(ivf.centroids
          .select(col("centroid_id").cast("long").as("centroid_id"),
            col("vec").as("_cvec"))), Seq("centroid_id"))
        .select(col("id"),
          round(graft.functions.VectorExpressions.graft_dot(col("v"), col("_cvec")), 6)
            .as("vc6"))
      val terms = codes.join(broadcast(books), Seq("subspace", "code_id"))
        .join(idx, Seq("id"))
        .join(broadcast(ccb), Seq("centroid_id", "subspace", "code_id"))
        .select(col("id"), col("centroid_id"), col("norm"),
          expr("round(aggregate(sequence(1, size(cv)), 0D, (acc, i) -> " +
            "acc + element_at(v, CAST(subspace * size(cv) + i AS INT)) * " +
            "element_at(cv, i)), 6)").as("dot6"),
          expr("round(aggregate(cv, 0D, (acc, x) -> acc + x * x), 6)").as("nn6"),
          col("cdot6"))
      terms.groupBy("id", "centroid_id", "norm")
        .agg(sum(col("dot6").cast("decimal(20,6)")).as("sdot0"),
          sum(col("cdot6").cast("decimal(20,6)")).as("scd"),
          sum(col("nn6").cast("decimal(20,6)")).as("snn0"))
        .join(vConst, Seq("id"))
        .join(broadcast(cellConst), Seq("centroid_id"))
        .select(col("centroid_id"),
          (col("vc6").cast("decimal(20,6)") + col("sdot0")).as("sdot"),
          (col("cn6").cast("decimal(20,6)") + lit(2) * col("scd") + col("snn0"))
            .as("snn"),
          col("norm"))
        .where(col("snn") > 0)
        .select(col("centroid_id"),
          round(col("sdot").cast("double") /
            (sqrt(col("snn").cast("double")) * col("norm")), 6).as("rc"))
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n_vectors"),
          round(sum(col("rc").cast("decimal(20,6)")).cast("double") /
            count(lit(1)), 6).as("avg_recon_cosine"),
          min("rc").as("min_recon_cosine"))
        .orderBy("centroid_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$ivfResidualSql,
            |$pqTrainedSql,
            |$pqEncodeSql,
            |nv AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
            |lutc AS (SELECT c.centroid_id AS cell, p.subspace, p.code_id,
            |        round(list_sum([c.cv[p.subspace*8 + i] * p.cv[i]
            |                        for i in range(1, 9)]), 6) AS cdot6
            |        FROM pb2 p, c2 c),
            |cc AS (SELECT centroid_id AS cell,
            |        round(list_sum([x * x for x in cv]), 6) AS cn6 FROM c2),
            |vc AS (SELECT a3.vec_id,
            |        round(list_sum([e.v[i] * c.cv[i] for i in range(1, 65)]), 6) AS vc6
            |       FROM a3 JOIN e ON a3.vec_id = e.vec_id
            |       JOIN c2 c ON a3.centroid_id = c.centroid_id),
            |tm AS (SELECT a.vec_id, a3.centroid_id,
            |        round(list_sum([n.v[a.subspace*8 + i] * p.cv[i]
            |                        for i in range(1, 9)]), 6) AS dot6,
            |        round(list_sum([x * x for x in p.cv]), 6) AS nn6,
            |        lc.cdot6
            |       FROM pa3 a
            |       JOIN pb2 p ON a.subspace = p.subspace AND a.code_id = p.code_id
            |       JOIN nv n ON a.vec_id = n.vec_id
            |       JOIN a3 ON a.vec_id = a3.vec_id
            |       JOIN lutc lc ON a3.centroid_id = lc.cell
            |         AND a.subspace = lc.subspace AND a.code_id = lc.code_id),
            |sc AS (SELECT tm.vec_id, tm.centroid_id,
            |        sum(CAST(tm.dot6 AS DECIMAL(20,6))) AS sdot0,
            |        sum(CAST(tm.cdot6 AS DECIMAL(20,6))) AS scd,
            |        sum(CAST(tm.nn6 AS DECIMAL(20,6))) AS snn0
            |       FROM tm GROUP BY 1, 2),
            |fin AS (SELECT sc.vec_id, sc.centroid_id,
            |        CAST(vc.vc6 AS DECIMAL(20,6)) + sc.sdot0 AS sdot,
            |        CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * sc.scd + sc.snn0 AS snn
            |       FROM sc JOIN vc ON sc.vec_id = vc.vec_id
            |       JOIN cc ON sc.centroid_id = cc.cell),
            |rc AS (SELECT fin.centroid_id,
            |        round((fin.sdot::DOUBLE) / (sqrt(fin.snn::DOUBLE) * nv.nrm), 6) AS rc
            |       FROM fin JOIN nv ON fin.vec_id = nv.vec_id
            |       WHERE fin.snn > 0)
            |SELECT centroid_id, count(*)::BIGINT AS n_vectors,
            |  round((sum(CAST(rc AS DECIMAL(20,6)))::DOUBLE) / count(*), 6)
            |    AS avg_recon_cosine,
            |  min(rc) AS min_recon_cosine
            |FROM rc GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Cell-occupancy histogram of the stored IVF index — the operational
    * skew check every IVF maintainer needs: a cell that dominates the
    * corpus makes its probes scan-heavy (the signal to split it or
    * retrain), an empty-ish cell wastes a probe. One partial+final agg
    * over the stored assignment (reads only the partition column and the
    * 6-dp dist); `pct` is exact from the same scan. */
  val simIvfCells: QueryDef = QueryDef("sim_ivf_cells",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d).assignment
      val total = idx.count().toDouble
      // stored dists are exact 6-dp decimals (rounded at build): the
      // DECIMAL sum is exact and order-independent, so the mean is
      // engine-portable without trusting double summation order
      idx.groupBy("centroid_id")
        .agg(count(lit(1)).as("n_vectors"),
          round(sum(col("dist").cast("decimal(20,6)")).cast("double") /
            count(lit(1)), 6).as("avg_dist"))
        .select(col("centroid_id"), col("n_vectors"),
          round(col("n_vectors") / total * 100, 4).as("pct"),
          col("avg_dist"))
        .orderBy("centroid_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql
            |SELECT centroid_id, count(*)::BIGINT AS n_vectors,
            |  round(count(*) * 100.0 / (SELECT count(*) FROM a3), 4) AS pct,
            |  round((sum(CAST(round(rd, 6) AS DECIMAL(20,6)))::DOUBLE) / count(*), 6)
            |    AS avg_dist
            |FROM a3 GROUP BY 1 ORDER BY 1""".stripMargin))

  /** IVF cell maintenance ([[Materialized.splitIvfCells]]) oracled
    * end-to-end: force one maintenance round (`maxShare = 0`), which
    * splits the HOTTEST trained cell by local 2-means — deterministic
    * min-id seeds, 2 Lloyd rounds over only that cell's stored rows —
    * retires the parent behind the atomic centroid-head swap, and reports
    * the post-split occupancy histogram. Runs against an ISOLATED store
    * root: maintenance must not move the shared artifacts every other sim
    * oracle replays (they pin the unsplit trained base). The oracle
    * replays train → assign → hottest-cell election (count desc, id asc)
    * → seeded 2-means → child relabel past the max centroid id →
    * reassign → histogram. The temp-store conf swap is restored before
    * returning; the result frame keeps reading the already-written temp
    * entries. */
  val simIvfSplit: QueryDef = QueryDef("sim_ivf_split",
    (s, d) => {
      Materialized.ivfIndex(s, d) // shared base, built once for the registry
      Materialized.withStoreSandbox(s, Seq("ivf_centroids_", "ivf_index_")) {
        val rep = Materialized.splitIvfCells(s, d, maxShare = 0.0, maxRounds = 1)
        rep.index.assignment.groupBy("centroid_id")
          .agg(count(lit(1)).as("n_vectors"))
          .orderBy("centroid_id")
      }
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |hot AS (SELECT centroid_id FROM a3 GROUP BY 1
            |        ORDER BY count(*) DESC, centroid_id LIMIT 1),
            |cr AS MATERIALIZED (SELECT e.vec_id, e.v FROM e JOIN a3 USING (vec_id)
            |      WHERE a3.centroid_id IN (SELECT centroid_id FROM hot)),
            |s0 AS (SELECT vec_id AS sid, v AS sv FROM cr ORDER BY vec_id LIMIT 2),
            |sd1 AS (SELECT cr.vec_id, s.sid,
            |    list_sum([(cr.v[i] - s.sv[i]) * (cr.v[i] - s.sv[i])
            |              for i in range(1, 65)]) AS rd
            |  FROM cr, s0 s),
            |sa1 AS (SELECT vec_id, sid FROM (
            |    SELECT vec_id, sid,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, sid) AS rn
            |    FROM sd1) WHERE rn = 1),
            |sm1 AS (SELECT a.sid, t.i - 1 AS dim,
            |    (sum(CAST(cr.v[t.i] AS DECIMAL(30,15)))::DOUBLE) / count(*) AS m
            |  FROM sa1 a JOIN cr ON a.vec_id = cr.vec_id, range(1, 65) t(i)
            |  GROUP BY 1, 2),
            |s1 AS (SELECT sid, list(m ORDER BY dim) AS sv FROM sm1 GROUP BY 1),
            |sd2 AS (SELECT cr.vec_id, s.sid,
            |    list_sum([(cr.v[i] - s.sv[i]) * (cr.v[i] - s.sv[i])
            |              for i in range(1, 65)]) AS rd
            |  FROM cr, s1 s),
            |sa2 AS (SELECT vec_id, sid FROM (
            |    SELECT vec_id, sid,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, sid) AS rn
            |    FROM sd2) WHERE rn = 1),
            |sm2 AS (SELECT a.sid, t.i - 1 AS dim,
            |    (sum(CAST(cr.v[t.i] AS DECIMAL(30,15)))::DOUBLE) / count(*) AS m
            |  FROM sa2 a JOIN cr ON a.vec_id = cr.vec_id, range(1, 65) t(i)
            |  GROUP BY 1, 2),
            |s2 AS (SELECT sid, list(m ORDER BY dim) AS sv FROM sm2 GROUP BY 1),
            |ch AS (SELECT (SELECT max(centroid_id) FROM c2)
            |         + row_number() OVER (ORDER BY sid) AS centroid_id,
            |       sv AS cv FROM s2),
            |rd3 AS (SELECT cr.vec_id, ch.centroid_id,
            |    list_sum([(cr.v[i] - ch.cv[i]) * (cr.v[i] - ch.cv[i])
            |              for i in range(1, 65)]) AS rd
            |  FROM cr, ch),
            |ra AS (SELECT vec_id, centroid_id FROM (
            |    SELECT vec_id, centroid_id,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, centroid_id) AS rn
            |    FROM rd3) WHERE rn = 1),
            |fin AS (SELECT vec_id, centroid_id FROM a3
            |        WHERE centroid_id NOT IN (SELECT centroid_id FROM hot)
            |        UNION ALL SELECT vec_id, centroid_id FROM ra)
            |SELECT centroid_id, count(*)::BIGINT AS n_vectors
            |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Periodic IVF retrain ([[Materialized.retrainIvfIndex]]) oracled
    * end-to-end: in an isolated store, a 5-vector batch (negated copies
    * of 0-4 at max-anchored ids) is absorbed via [[Materialized.appendIvfIndex]],
    * then the index is RETRAINED on the current view (corpus ∪ batch) —
    * k-min-id seeds relocated past the max centroid id, 2 Lloyd rounds,
    * every generation folded into one fresh entry behind the atomic
    * centroid-head swap — and the retrained occupancy histogram is
    * reported. The oracle replays base train (for the id relocation
    * offset) → batch union → seeded retrain over the union → final
    * assignment → histogram. */
  val simIvfRetrain: QueryDef = QueryDef("sim_ivf_retrain",
    (s, d) => {
      Materialized.ivfIndex(s, d) // shared base, built once for the registry
      Materialized.withStoreSandbox(s, Seq("ivf_centroids_", "ivf_index_")) {
        Materialized.appendIvfIndex(s, d, ivf2Batch(s, d),
          "vec_id", "embedding", "rt_b1")
        val re = Materialized.retrainIvfIndex(s, d)
        re.assignment.groupBy("centroid_id")
          .agg(count(lit(1)).as("n_vectors"))
          .orderBy("centroid_id")
      }
    },
    Some(s"""WITH $ivfTrainedSql,
            |mxe AS (SELECT max(vec_id) AS me FROM embeddings),
            |nb AS (SELECT vec_id + me + 1001 AS vec_id, [-x for x in v] AS v
            |       FROM e, mxe WHERE vec_id < 5),
            |allv AS MATERIALIZED (SELECT vec_id, v FROM e
            |       UNION ALL SELECT vec_id, v FROM nb),
            |r0 AS (SELECT vec_id + (SELECT max(centroid_id) FROM c2) + 1 AS rid,
            |       v AS rv FROM allv ORDER BY vec_id LIMIT 8),
            |rd1 AS (SELECT a.vec_id, r.rid,
            |    list_sum([(a.v[i] - r.rv[i]) * (a.v[i] - r.rv[i])
            |              for i in range(1, 65)]) AS rd
            |  FROM allv a, r0 r),
            |ra1 AS (SELECT vec_id, rid FROM (
            |    SELECT vec_id, rid,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, rid) AS rn
            |    FROM rd1) WHERE rn = 1),
            |rm1 AS (SELECT x.rid, t.i - 1 AS dim,
            |    (sum(CAST(a.v[t.i] AS DECIMAL(30,15)))::DOUBLE) / count(*) AS m
            |  FROM ra1 x JOIN allv a ON x.vec_id = a.vec_id, range(1, 65) t(i)
            |  GROUP BY 1, 2),
            |r1 AS (SELECT rid, list(m ORDER BY dim) AS rv FROM rm1 GROUP BY 1),
            |rd2 AS (SELECT a.vec_id, r.rid,
            |    list_sum([(a.v[i] - r.rv[i]) * (a.v[i] - r.rv[i])
            |              for i in range(1, 65)]) AS rd
            |  FROM allv a, r1 r),
            |ra2 AS (SELECT vec_id, rid FROM (
            |    SELECT vec_id, rid,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, rid) AS rn
            |    FROM rd2) WHERE rn = 1),
            |rm2 AS (SELECT x.rid, t.i - 1 AS dim,
            |    (sum(CAST(a.v[t.i] AS DECIMAL(30,15)))::DOUBLE) / count(*) AS m
            |  FROM ra2 x JOIN allv a ON x.vec_id = a.vec_id, range(1, 65) t(i)
            |  GROUP BY 1, 2),
            |r2 AS (SELECT rid, list(m ORDER BY dim) AS rv FROM rm2 GROUP BY 1),
            |fd AS (SELECT a.vec_id, r.rid,
            |    list_sum([(a.v[i] - r.rv[i]) * (a.v[i] - r.rv[i])
            |              for i in range(1, 65)]) AS rd
            |  FROM allv a, r2 r),
            |fa AS (SELECT vec_id, rid FROM (
            |    SELECT vec_id, rid,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, rid) AS rn
            |    FROM fd) WHERE rn = 1)
            |SELECT rid AS centroid_id, count(*)::BIGINT AS n_vectors
            |FROM fa GROUP BY 1 ORDER BY 1""".stripMargin))

  /** RESIDUAL product-quantization codebook training (live cost, the PQ
    * sibling of `sim_ivf_train`): codes are trained on `v − centroid(cell)`
    * of the stored IVF assignment — the classic IVF-PQ architecture, where
    * the coarse centroid explains the cell mean and the 8-bit codes spend
    * their capacity on the residual variance that actually separates
    * neighbors. 8 subspaces × 16 codes × 8 dims, 2 distributed Lloyd
    * rounds — one corpus job per round against the broadcast codebook,
    * exact DECIMAL means. The oracle replays IVF train → assign →
    * residuals → per-subspace k-means bit-for-bit ([[pqTrainedSql]]). */
  val simPqTrain: QueryDef = QueryDef("sim_pq_train",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      Similarity.pqTrain(
          Similarity.ivfResiduals(idx.assignment, idx.centroids),
          "id", "rv", m = 8, ksub = 16, iters = 2, dims = 64)
        .orderBy("subspace", "code_id", "dim")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$ivfResidualSql,
            |$pqTrainedSql
            |SELECT subspace, code_id, dim::BIGINT AS dim, round(m, 6) AS m FROM pm2
            |ORDER BY subspace, code_id, dim""".stripMargin))

  /** The stored RESIDUAL PQ code table ([[Materialized.pqCodes]]) read
    * back in relational form: every vector's 8 code ids, one row per
    * (vector, subspace) — this query is a scan of the published codes
    * (trained once on the assignment residuals, encoded in one
    * shuffle-free corpus scan, co-located with the IVF cells), not a
    * recomputation. Oracle replays IVF train → residuals → PQ train →
    * encode. */
  val simPqEncode: QueryDef = QueryDef("sim_pq_encode",
    (s, d) => Materialized.pqCodes(s, d)
      .select(col("id").as("vec_id"),
        posexplode(col("codes")).as(Seq("subspace", "code_id")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        col("code_id"))
      .orderBy("vec_id", "subspace"),
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$ivfResidualSql,
            |$pqTrainedSql,
            |$pqEncodeSql
            |SELECT vec_id, subspace, code_id FROM pa3
            |ORDER BY vec_id, subspace""".stripMargin))

  /** IVF-PQ probed ADC search — the 100 TB retrieval operating point:
    * probe nprobe=2 cells (driver-side against the centroid sidecar),
    * build the per-query (subspace, code) lookup table of 6-dp-rounded
    * dot products and code norms, and rank candidates from their stored
    * codes ALONE — the scan partition-prunes to the probed cells and
    * column-prunes to `(id, codes)`, ~64× less vector data than the
    * full doubles. Exact DECIMAL sums of the rounded LUT entries make
    * the reduction order-independent, so the DuckDB oracle replays the
    * ranking bit-for-bit. `sim_ivf_search` (exact, reads `v`) /
    * `sim_ivf_search_q8` (int8) / this (PQ codes) are one family:
    * precision vs bytes-scanned, same probe, same plan shape. */
  val simIvfSearchPq: QueryDef = QueryDef("sim_ivf_search_pq",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      val qv = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .head().getSeq[Double](0)
      Similarity.pqSearchAdc(Materialized.pqCodes(s, d),
          Materialized.pqCodebooks(s, d), idx.centroids, qv,
          k = 10, nprobe = 2, excludeId = Some(0L), residual = true)
        .withColumnRenamed("id", "vec_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$ivfResidualSql,
            |$pqTrainedSql,
            |$pqEncodeSql,
            |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
            |probe AS (SELECT centroid_id FROM c2 c, q
            |  ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                     for i in range(1, 65)]), centroid_id
            |  LIMIT 2),
            |lut AS (SELECT pr.centroid_id AS cell, p.subspace, p.code_id,
            |        round(list_sum([q.qv[p.subspace*8 + i] * p.cv[i]
            |                        for i in range(1, 9)]), 6) AS dot6,
            |        round(list_sum([x * x for x in p.cv]), 6) AS nn6,
            |        round(list_sum([c.cv[p.subspace*8 + i] * p.cv[i]
            |                        for i in range(1, 9)]), 6) AS cdot6
            |        FROM pb2 p, q, probe pr
            |        JOIN c2 c ON pr.centroid_id = c.centroid_id),
            |cc AS (SELECT pr.centroid_id AS cell,
            |        round(list_sum([q.qv[i] * c.cv[i] for i in range(1, 65)]), 6) AS qc6,
            |        round(list_sum([x * x for x in c.cv]), 6) AS cn6
            |       FROM probe pr JOIN c2 c ON pr.centroid_id = c.centroid_id, q),
            |sc AS (SELECT a.vec_id, a3.centroid_id AS cell,
            |        sum(CAST(l.dot6 AS DECIMAL(20,6))) AS sdot0,
            |        sum(CAST(l.cdot6 AS DECIMAL(20,6))) AS scd,
            |        sum(CAST(l.nn6 AS DECIMAL(20,6))) AS snn0
            |       FROM pa3 a
            |       JOIN a3 ON a.vec_id = a3.vec_id
            |       JOIN lut l ON a3.centroid_id = l.cell
            |         AND a.subspace = l.subspace AND a.code_id = l.code_id
            |       WHERE a.vec_id <> 0
            |       GROUP BY 1, 2),
            |fin AS (SELECT sc.vec_id, sc.cell,
            |        CAST(cc.qc6 AS DECIMAL(20,6)) + sc.sdot0 AS sdot,
            |        CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * sc.scd + sc.snn0 AS snn
            |       FROM sc JOIN cc ON sc.cell = cc.cell)
            |SELECT vec_id, cell,
            |  CASE WHEN snn <= 0 THEN NULL
            |       ELSE round((sdot::DOUBLE) / (sqrt(snn::DOUBLE) *
            |         (SELECT sqrt(list_sum([x * x for x in qv])) FROM q)), 6) END
            |    AS adc_cosine
            |FROM fin ORDER BY adc_cosine DESC, vec_id LIMIT 10""".stripMargin))

  /** ADC search over the OPQ-LITE store ([[Materialized.opqCodes]]):
    * codes quantize the ROTATED residuals `R·(v − centroid)` with
    * `R = H·D/√64` (deterministic sign-flip + fast Walsh–Hadamard — the
    * SVD-free OPQ), so the per-subspace LUT terms pair the codes with the
    * rotated query/centroid (`dot(q, Rᵀr̂) = dot(R·q, r̂)`) while the cell
    * constants stay in the original space. The oracle replays the
    * rotation as the same 6-stage butterfly (bit-equal FP order), then
    * the standard PQ train/encode/LUT replay over the rotated residuals.
    * Identical bytes to `sim_ivf_search_pq`; the recall/reconstruction
    * gain on anisotropic corpora is pinned in LlmSpec. */
  val simPqOpq: QueryDef = QueryDef("sim_pq_opq",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      val qv = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .head().getSeq[Double](0)
      Similarity.pqSearchAdc(Materialized.opqCodes(s, d),
          Materialized.opqCodebooks(s, d), idx.centroids, qv,
          k = 10, nprobe = 2, excludeId = Some(0L), residual = true,
          rotation = Some(Similarity.opqSigns(64, Materialized.OpqSeed)))
        .withColumnRenamed("id", "vec_id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$opqSgCte,
            |${ivfResidualRawSql("er0")},
            |${opqChainSql("er0", "er", "vec_id, centroid_id")},
            |$pqTrainedSql,
            |$pqEncodeSql,
            |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
            |q0 AS (SELECT qv AS rv FROM q),
            |${opqChainSql("q0", "qrot", "")},
            |qr AS (SELECT rv AS qv FROM qrot),
            |c20 AS (SELECT centroid_id, cv AS rv FROM c2),
            |${opqChainSql("c20", "crot", "centroid_id")},
            |cr AS (SELECT centroid_id, rv AS cv FROM crot),
            |probe AS (SELECT centroid_id FROM c2 c, q
            |  ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                     for i in range(1, 65)]), centroid_id
            |  LIMIT 2),
            |lut AS (SELECT pr.centroid_id AS cell, p.subspace, p.code_id,
            |        round(list_sum([qr.qv[p.subspace*8 + i] * p.cv[i]
            |                        for i in range(1, 9)]), 6) AS dot6,
            |        round(list_sum([x * x for x in p.cv]), 6) AS nn6,
            |        round(list_sum([c.cv[p.subspace*8 + i] * p.cv[i]
            |                        for i in range(1, 9)]), 6) AS cdot6
            |        FROM pb2 p, qr, probe pr
            |        JOIN cr c ON pr.centroid_id = c.centroid_id),
            |cc AS (SELECT pr.centroid_id AS cell,
            |        round(list_sum([q.qv[i] * c.cv[i] for i in range(1, 65)]), 6) AS qc6,
            |        round(list_sum([x * x for x in c.cv]), 6) AS cn6
            |       FROM probe pr JOIN c2 c ON pr.centroid_id = c.centroid_id, q),
            |sc AS (SELECT a.vec_id, a3.centroid_id AS cell,
            |        sum(CAST(l.dot6 AS DECIMAL(20,6))) AS sdot0,
            |        sum(CAST(l.cdot6 AS DECIMAL(20,6))) AS scd,
            |        sum(CAST(l.nn6 AS DECIMAL(20,6))) AS snn0
            |       FROM pa3 a
            |       JOIN a3 ON a.vec_id = a3.vec_id
            |       JOIN lut l ON a3.centroid_id = l.cell
            |         AND a.subspace = l.subspace AND a.code_id = l.code_id
            |       WHERE a.vec_id <> 0
            |       GROUP BY 1, 2),
            |fin AS (SELECT sc.vec_id, sc.cell,
            |        CAST(cc.qc6 AS DECIMAL(20,6)) + sc.sdot0 AS sdot,
            |        CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * sc.scd + sc.snn0 AS snn
            |       FROM sc JOIN cc ON sc.cell = cc.cell)
            |SELECT vec_id, cell,
            |  CASE WHEN snn <= 0 THEN NULL
            |       ELSE round((sdot::DOUBLE) / (sqrt(snn::DOUBLE) *
            |         (SELECT sqrt(list_sum([x * x for x in qv])) FROM q)), 6) END
            |    AS adc_cosine
            |FROM fin ORDER BY adc_cosine DESC, vec_id LIMIT 10""".stripMargin))

  /** Distributed k-means training of the IVF coarse index (2 Lloyd rounds
    * from the deterministic first-8 init) — kept LIVE as the training-cost
    * datapoint (the stored index's build consumes the same computation).
    * Means use exact DECIMAL sums — associativity-free, so the oracle
    * reproduces them bit-for-bit while Spark's partial aggregation
    * parallelizes arbitrarily. */
  val simIvfTrain: QueryDef = QueryDef("sim_ivf_train",
    (s, d) => Similarity.ivfTrain(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2)
      .orderBy("centroid_id", "dim"),
    Some(s"""WITH $ivfTrainedSql
            |SELECT centroid_id, dim::BIGINT AS dim, round(m, 6) AS m FROM m2
            |ORDER BY centroid_id, dim""".stripMargin))

  // defs, not vals: referenced by queries declared ABOVE this point — a val
  // would interpolate as null during object initialization

  /** One k-means Lloyd round: assign to `centsCte`'s centroids (a$n), then
    * exact-DECIMAL per-dim means (m$n) — the oracle replica of
    * [[Similarity.ivfTrainCentroids]]'s iteration. */
  private def ivfIterSql(n: Int, centsCte: String) =
    s"""d$n AS (SELECT e.vec_id, c.centroid_id,
       |    list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
       |              for i in range(1, 65)]) AS rd
       |  FROM e, $centsCte c),
       |a$n AS (SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, centroid_id) AS rn
       |    FROM d$n) WHERE rn = 1),
       |m$n AS (SELECT a.centroid_id, t.i - 1 AS dim,
       |    (sum(CAST(e.v[t.i] AS DECIMAL(30,15)))::DOUBLE) / count(*) AS m
       |  FROM a$n a JOIN e ON a.vec_id = e.vec_id, range(1, 65) t(i)
       |  GROUP BY 1, 2)""".stripMargin

  /** The k-means(k=8, iters=2) training closure over `embeddings`, ending
    * in `c2(centroid_id, cv)` — the UNROUNDED trained centroids (and `m2`,
    * their long form) — shared by all three IVF oracles so the training
    * parameters cannot silently diverge between them. */
  private def ivfTrainedSql =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
       |${ivfIterSql(1, "c0")},
       |c1 AS (SELECT centroid_id, list(m ORDER BY dim) AS cv FROM m1 GROUP BY 1),
       |${ivfIterSql(2, "c1")},
       |c2 AS (SELECT centroid_id, list(m ORDER BY dim) AS cv FROM m2 GROUP BY 1)""".stripMargin

  /** Final assignment against the trained `c2` centroids, ending in
    * `a3(vec_id, centroid_id, rd)` — the oracle replica of the stored
    * index's build-time cell membership ([[Similarity.ivfIndexRows]]). */
  private def ivfAssignFromTrainedSql =
    """d3 AS (SELECT e.vec_id, c.centroid_id,
      |    list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
      |              for i in range(1, 65)]) AS rd
      |  FROM e, c2 c),
      |a3 AS (SELECT vec_id, centroid_id, rd FROM (
      |    SELECT vec_id, centroid_id, rd,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY rd, centroid_id) AS rn
      |    FROM d3) WHERE rn = 1)""".stripMargin

  /** IVF residuals of the trained assignment — `er(vec_id, centroid_id,
    * rv)` with `rv = v − centroid(cell)` (plain IEEE subtraction, the
    * [[graft.llm.Similarity.ivfResiduals]] replica): the input the whole
    * PQ ladder trains and encodes on (classic IVF-PQ). Assumes `e`, `a3`
    * and `c2` (the IVF closure). */
  private def ivfResidualSql = ivfResidualRawSql("er")

  private def ivfResidualRawSql(name: String) =
    s"""$name AS MATERIALIZED (SELECT e.vec_id, a3.centroid_id,
       |    [e.v[i] - c.cv[i] for i in range(1, 65)] AS rv
       |  FROM e JOIN a3 ON e.vec_id = a3.vec_id
       |  JOIN c2 c ON a3.centroid_id = c.centroid_id)""".stripMargin

  /** The OPQ-lite sign diagonal as a SQL literal (derived from the SAME
    * `(dims, seed)` the store artifacts carry — [[Materialized.OpqSeed]]),
    * shared by every rotation chain in an oracle. */
  private def opqSgCte: String = {
    val signs = graft.llm.Similarity.opqSigns(64, Materialized.OpqSeed)
    s"sg AS (SELECT [${signs.map(x => if (x > 0) "1.0" else "-1.0").mkString(", ")}]::DOUBLE[] AS g)"
  }

  /** The 6-stage fast Walsh–Hadamard butterfly `R·rv = FWHT(D·rv)/√64`,
    * replayed STAGE-FOR-STAGE in the exact FP operation order of
    * [[graft.llm.Similarity.opqRotateKernel]] (a literal 64×64 matrix
    * multiply would sum in a different order and drift by ulps — the
    * butterfly replay is bit-equal). `src` must expose `rv`; emits CTEs
    * `${out}x0`, `${out}h0..h5` and the final `$out`. */
  private def opqChainSql(src: String, out: String, keys: String): String = {
    val ksel = if (keys.isEmpty) "" else keys + ", "
    val head = s"${out}x0 AS (SELECT $ksel[rv[i] * sg.g[i] for i in range(1, 65)] AS rv FROM $src, sg)"
    val stages = (0 until 6).map { kk =>
      val st = 1 << kk
      val prev = if (kk == 0) s"${out}x0" else s"${out}h${kk - 1}"
      s"${out}h$kk AS (SELECT $ksel[CASE WHEN ((i-1) & $st) = 0 " +
        s"THEN rv[i] + rv[i + $st] ELSE rv[i - $st] - rv[i] END " +
        s"for i in range(1, 65)] AS rv FROM $prev)"
    }
    val fin = s"$out AS MATERIALIZED (SELECT $ksel[x / sqrt(64.0) for x in rv] AS rv FROM ${out}h5)"
    (head +: stages :+ fin).mkString(",\n")
  }

  /** One per-subspace Lloyd round of the PQ training replay (assumes the
    * residual CTE `er(vec_id, rv)` and the previous codebook
    * `prev(subspace, code_id, cv)`): assign every (residual, subspace) to
    * its nearest code — row_number over (rd, code_id) = the kernel's
    * strict-< scan — then recompute means with the same exact
    * DECIMAL(30,15) sums as the Spark side. Subspace s covers
    * rv[s·8+1 .. s·8+8] (1-based). */
  private def pqIterSql(n: Int, prev: String) =
    s"""pd$n AS (SELECT er.vec_id, p.subspace, p.code_id,
       |    list_sum([(er.rv[p.subspace*8 + i] - p.cv[i]) * (er.rv[p.subspace*8 + i] - p.cv[i])
       |              for i in range(1, 9)]) AS rd
       |  FROM er, $prev p),
       |pa$n AS (SELECT vec_id, subspace, code_id FROM (
       |    SELECT vec_id, subspace, code_id,
       |      row_number() OVER (PARTITION BY vec_id, subspace ORDER BY rd, code_id) AS rn
       |    FROM pd$n) WHERE rn = 1),
       |pm$n AS (SELECT a.subspace, a.code_id, t.i - 1 AS dim,
       |    (sum(CAST(er.rv[a.subspace*8 + t.i] AS DECIMAL(30,15)))::DOUBLE) / count(*) AS m
       |  FROM pa$n a JOIN er ON a.vec_id = er.vec_id, range(1, 9) t(i)
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** The residual-PQ(m=8, ksub=16, iters=2) training closure (assumes CTE
    * `er`), ending in `pb2(subspace, code_id, cv)` — the UNROUNDED trained
    * codebooks (and `pm2`, their long form) — shared by all PQ oracles so
    * the training parameters cannot silently diverge between them. Init:
    * subspace slices of the first 16 RESIDUALS, code_id = the donor id
    * (the [[graft.llm.Similarity.pqTrainCodebooks]] init replayed). */
  private def pqTrainedSql =
    s"""pb0 AS (SELECT s.s::BIGINT AS subspace, er.vec_id AS code_id,
       |        list_slice(er.rv, s.s*8 + 1, s.s*8 + 8) AS cv
       |        FROM er, range(0, 8) s(s) WHERE er.vec_id < 16),
       |${pqIterSql(1, "pb0")},
       |pb1 AS (SELECT subspace, code_id, list(m ORDER BY dim) AS cv FROM pm1 GROUP BY 1, 2),
       |${pqIterSql(2, "pb1")},
       |pb2 AS (SELECT subspace, code_id, list(m ORDER BY dim) AS cv FROM pm2 GROUP BY 1, 2)""".stripMargin

  /** Final PQ encode against the trained `pb2` codebooks, ending in
    * `pa3(vec_id, subspace, code_id)` — the oracle replica of the stored
    * code table ([[Materialized.pqCodes]]). */
  private def pqEncodeSql =
    """pd3 AS (SELECT er.vec_id, p.subspace, p.code_id,
      |    list_sum([(er.rv[p.subspace*8 + i] - p.cv[i]) * (er.rv[p.subspace*8 + i] - p.cv[i])
      |              for i in range(1, 9)]) AS rd
      |  FROM er, pb2 p),
      |pa3 AS (SELECT vec_id, subspace, code_id FROM (
      |    SELECT vec_id, subspace, code_id,
      |      row_number() OVER (PARTITION BY vec_id, subspace ORDER BY rd, code_id) AS rn
      |    FROM pd3) WHERE rn = 1)""".stripMargin

  /** Batched-BPE training parameters of the oracled queries: 8 rounds ×
    * 32 merges = a 256-merge budget (the synthetic corpus' 31-word
    * vocabulary exhausts its pair supply well before the budget — both
    * engines run out identically, so the learned list is simply shorter).
    * Pool = the `CandidateFactor × batch` candidate bound both engines
    * share. */
  private val BpeRounds = 8
  private val BpeBatch = 32
  private val BpePool = 4 * BpeBatch

  /** `text_bpe_train2`'s budget: 16 rounds × 256 = a 4,096-merge
    * (32k-vocab-shaped) budget, runnable because the delta-maintained
    * trainer pays one corpus scan total. The synthetic corpus exhausts
    * its pair supply far earlier (31-word vocabulary); both engines stop
    * at the same point, and the full-budget capability is spec-pinned on
    * a rich generated vocabulary in LlmSpec. */
  private val Bpe2Rounds = 16
  private val Bpe2Batch = 256

  /** One batched greedy BPE round of the SQL replay, mirroring
    * [[graft.llm.TextAnalysis.bpeTrain]] exactly: weighted adjacent-pair
    * counts over `w${n-1}`'s token strings; the top-`pool` candidate list
    * in `(cnt DESC, pair ASC)` order (binary collation — the Spark side's
    * orderBy); a `list_reduce` fold selecting up to `batch` mutually
    * token-disjoint pairs (no shared L, R, or merged token — single-token
    * containment tests against a space-delimited used-token string are
    * exact because tokens cannot contain spaces; `chr(1)`/`chr(2)`
    * separate the used-token region from the kept-pair list and cannot
    * appear in corpus tokens, which are `[A-Za-z0-9]` words); and the
    * merged word table — a nested fold applying each kept pair TOKEN-
    * LEVEL, left-to-right, continuing after each merged pair (classic
    * BPE; a chain-merge of the freshly merged tail is impossible since
    * `LR != L`). Every CTE is MATERIALIZED: each round references the
    * previous word table twice (pair counts + merge apply), so inlined
    * CTEs re-evaluate the whole chain per reference — exponential in the
    * round count (measured: minutes vs 0.5 s at 8 rounds, sf0.01). */
  private def bpeIterSql(n: Int, batch: Int = BpeBatch) =
    s"""p$n AS MATERIALIZED (SELECT pair, sum(freq) AS cnt FROM (
       |    SELECT unnest([t.toks[i] || ' ' || t.toks[i + 1]
       |                   for i in range(1, len(t.toks))]) AS pair, t.freq
       |    FROM (SELECT string_split(trim(s), ' ') AS toks, freq FROM w${n - 1}) t)
       |  GROUP BY 1),
       |sel$n AS MATERIALIZED (SELECT list_reduce(
       |    list_prepend(' ' || chr(1), (SELECT coalesce(list(pair ORDER BY cnt DESC, pair), [])
       |      FROM (SELECT pair, cnt FROM p$n ORDER BY cnt DESC, pair LIMIT ${4 * batch}) tp)),
       |    (acc, p) -> CASE WHEN len(string_split(split_part(acc, chr(1), 1), ' ')) - 2 < ${3 * batch}
       |        AND NOT contains(split_part(acc, chr(1), 1), ' ' || string_split(p, ' ')[1] || ' ')
       |        AND NOT contains(split_part(acc, chr(1), 1), ' ' || string_split(p, ' ')[2] || ' ')
       |        AND NOT contains(split_part(acc, chr(1), 1), ' ' || replace(p, ' ', '') || ' ')
       |      THEN split_part(acc, chr(1), 1) || string_split(p, ' ')[1] || ' ' || string_split(p, ' ')[2] ||
       |        ' ' || replace(p, ' ', '') || ' ' || chr(1) || split_part(acc, chr(1), 2) || p || chr(2)
       |      ELSE acc END) AS st),
       |b$n AS MATERIALIZED (SELECT u.i AS rsel, u.pair, p.cnt FROM
       |    (SELECT unnest(ps) AS pair, unnest(generate_series(1, len(ps))) AS i FROM
       |      (SELECT string_split(split_part(st, chr(1), 2), chr(2)) AS ps FROM sel$n) sp) u
       |    JOIN p$n p USING (pair)),
       |w$n AS MATERIALIZED (SELECT w, list_reduce(
       |    list_prepend(s, (SELECT coalesce(list(pair ORDER BY rsel), []) FROM b$n)),
       |    (s2, m) -> list_reduce(list_prepend('', string_split(trim(s2), ' ')),
       |      (acc, x) -> CASE WHEN x = string_split(m, ' ')[2]
       |            AND ends_with(acc, ' ' || string_split(m, ' ')[1])
       |          THEN acc[1:len(acc) - len(string_split(m, ' ')[1])] || replace(m, ' ', '')
       |          ELSE acc || ' ' || x END) || ' ') AS s, freq
       |  FROM w${n - 1})""".stripMargin

  /** The batched-BPE training closure over `documents` — word-frequency
    * table, character-level token strings with sentinel boundaries, then
    * [[BpeRounds]] [[bpeIterSql]] rounds, ending in `w$BpeRounds` (the
    * fully merged word table) and `b1..b$BpeRounds` (the kept merges with
    * in-round selection ranks) — shared by both BPE oracles so the
    * training parameters cannot silently diverge. */
  private def bpeTrainedSql: String = bpeTrainedSqlFor(BpeRounds, BpeBatch)

  /** Whitespace word stream — the default trainer input. */
  private val wsWordSql: String =
    "SELECT unnest(regexp_extract_all(text, '\\S+')) AS w FROM documents"

  /** GPT-2 pre-token piece stream with the whitespace markers (Ġ and the
    * tab/newline family — [[TextAnalysis.gpt2SpaceMark]]'s six chars) —
    * the [[TextAnalysis.preTokenizedCorpus]] trainer input
    * (`text_bpe_train_pre`). */
  private val gpt2PieceWordSql: String =
    "SELECT translate(unnest(regexp_extract_all(text, " +
      "'''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')), " +
      "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13), 'ĠĉĊċČč') AS w " +
      "FROM documents WHERE text IS NOT NULL"

  private def bpeTrainedSqlFor(rounds: Int, batch: Int,
                               wordSql: String = wsWordSql) =
    s"""wc AS MATERIALIZED (SELECT w, count(*) AS freq FROM (
       |    $wordSql)
       |  GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT w,
       |    ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' ' AS s, freq
       |  FROM wc),
       |${(1 to rounds).map(n => bpeIterSql(n, batch)).mkString(",\n")}""".stripMargin

  // ---- trained quality classifier (hashed-n-gram logistic regression) ----

  /** Fixed GD schedule of the oracled classifier queries. */
  private[queries] val ClfIters = 3
  private[queries] val ClfLr = 0.5

  /** Planted negatives: deterministic symbol-junk documents appended to
    * the gopher-labeled corpus (the "∪ planted negatives" half of the
    * bootstrap label set). Interpolated literally into the SQL replay, so
    * both engines train on byte-identical rows. */
  private def clfJunkTexts: Seq[String] = (0 until 20).map { i =>
    (0 until 40).map(j => s"qq${(i * 7 + j * 13) % 97}zz##").mkString(" ")
  }

  /** The Spark-side bootstrap label table `(id, text, y)`: every corpus
    * doc labeled by its [[TextAnalysis.gopherFilter]] keep verdict, plus
    * [[clfJunkTexts]] as planted negatives at collision-free ids. */
  private[queries] def clfLabeled(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val maxd = docs.agg(max("doc_id")).head.getLong(0)
    val g = TextAnalysis.gopherFilter(docs, "doc_id", "text")
      .select(col("doc_id").as("id"),
        when(col("keep"), 1.0).otherwise(0.0).as("y"))
    val junk = clfJunkTexts.zipWithIndex
      .map { case (t, i) => (maxd + 1001 + i, t, 0.0) }
      .toDF("id", "text", "y")
    docs.select(col("doc_id").as("id"), col("text")).join(g, "id")
      .select(col("id"), col("text"), col("y"))
      .unionByName(junk)
  }

  /** Gopher keep verdict as reusable CTEs ending in `gk(doc_id, keep)` —
    * the label bootstrap of the classifier oracles (the same expressions
    * as `text_gopher_filter`'s oracle). */
  private def gopherKeepSql =
    """gw AS (SELECT doc_id,
      |            [x for x in string_split_regex(text, '\s+') if x <> ''] AS ws,
      |            string_split(text, chr(10)) AS ls, text FROM documents),
      |gf AS (SELECT doc_id,
      |  len(ws) AS wc,
      |  coalesce(list_sum([length(x) for x in ws]), 0) * 1.0 / greatest(len(ws), 1) AS mwl,
      |  (len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.'))) * 1.0 / greatest(len(ws), 1) AS symr,
      |  len([x for x in ls if starts_with(ltrim(x), '-') OR starts_with(ltrim(x), '*') OR starts_with(ltrim(x), '•')]) * 1.0 / len(ls) AS bulr,
      |  len([x for x in ls if ends_with(rtrim(x), '...')]) * 1.0 / len(ls) AS ellr,
      |  len([x for x in ws if regexp_matches(x, '[A-Za-z]')]) * 1.0 / greatest(len(ws), 1) AS alr,
      |  len(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with')))::BIGINT AS stops
      |  FROM gw),
      |gk AS (SELECT doc_id,
      |  ((wc BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0) AND symr <= 0.1
      |   AND bulr <= 0.9 AND ellr <= 0.3 AND alr >= 0.8 AND stops >= 2) AS keep
      |  FROM gf)""".stripMargin

  /** One full-batch GD round of the classifier replay — EXACTLY the
    * [[TextAnalysis.qualityClfTrain]] iteration: exact-DECIMAL margin
    * sums over the previous round's 6-dp weights, sigmoid rounded to
    * 6 dp before the residual enters the gradient reduction, update
    * re-rounded to 6 dp. Assumes `f(id, bucket)`, `ids(id, y)`,
    * `nn(n)`, `w${n-1}`, `b${n-1}`. */
  private def clfIterSql(n: Int) =
    s"""zs$n AS (SELECT f.id, sum(w.w::DECIMAL(20,6)) AS zs
       |  FROM f JOIN w${n - 1} w USING (bucket) GROUP BY 1),
       |r$n AS (SELECT ids.id,
       |  (round(1.0 / (1.0 + exp(-round(coalesce(zs.zs::DOUBLE, 0.0), 6))), 6)::DECIMAL(20,6)
       |    - ids.y::DECIMAL(20,6)) AS r
       |  FROM ids LEFT JOIN zs$n zs USING (id)),
       |g$n AS (SELECT f.bucket, sum(r.r) AS g FROM f JOIN r$n r USING (id) GROUP BY 1),
       |w$n AS MATERIALIZED (SELECT coalesce(g.bucket, w.bucket) AS bucket,
       |  round(coalesce(w.w, 0.0) - $ClfLr * coalesce(g.g, 0)::DOUBLE / (SELECT n FROM nn), 6) AS w
       |  FROM g$n g FULL OUTER JOIN w${n - 1} w ON g.bucket = w.bucket)""".stripMargin

  /** The trained-classifier closure: bootstrap labels (gopher ∪ planted
    * junk), hashed features, and [[ClfIters]] GD rounds ending in
    * `w$ClfIters` / `b$ClfIters` — shared by all classifier oracles so
    * the training schedule cannot silently diverge. */
  private def clfTrainedSql = {
    val junkValues = clfJunkTexts.zipWithIndex
      .map { case (t, i) => s"($i, '$t')" }.mkString(", ")
    s"""mx AS (SELECT max(doc_id) AS m FROM documents),
       |$gopherKeepSql,
       |junk AS (SELECT mx.m + 1001 + v.i AS id, v.t AS text, 0.0 AS y
       |  FROM mx, (VALUES $junkValues) v(i, t)),
       |lab AS (SELECT d.doc_id AS id, d.text,
       |    (CASE WHEN gk.keep THEN 1.0 ELSE 0.0 END) AS y
       |  FROM documents d JOIN gk USING (doc_id)
       |  UNION ALL SELECT id, text, y FROM junk),
       |f AS MATERIALIZED (SELECT DISTINCT id, bucket FROM (
       |    SELECT id,
       |      ('0x' || substr(md5(word), 1, 15))::BIGINT % ${TextAnalysis.QualityClfBuckets} AS bucket
       |    FROM (SELECT id, unnest([w for w in string_split_regex(text, '\\s+') if w <> '']) AS word
       |          FROM lab)
       |    UNION ALL SELECT id, -1 AS bucket FROM lab)),
       |ids AS (SELECT id, y FROM lab),
       |nn AS (SELECT count(*) AS n FROM ids),
       |w0 AS (SELECT CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS DOUBLE) AS w WHERE 1 = 0),
       |${(1 to ClfIters).map(clfIterSql).mkString(",\n")}""".stripMargin
  }

  /** Per-doc scores of the TRAINED quality classifier
    * ([[TextAnalysis.qualityClfTrain]] → [[TextAnalysis.qualityClfScore]]):
    * the CCNet/fastText-style learned gate, bootstrap-labeled from the
    * gopher rule filter plus planted junk negatives. The oracle replays
    * the full deterministic GD loop — hashed features, exact-DECIMAL
    * margins, 6-dp sigmoid/update rounding — so the weight trajectory is
    * engine-identical. */
  val textQualityClf: QueryDef = QueryDef("text_quality_clf",
    (s, d) => {
      val model = TextAnalysis.qualityClfTrain(clfLabeled(s, d), "id", "text",
        "y", iters = ClfIters, lr = ClfLr)
      TextAnalysis.qualityClfScore(Tables.documents(s, d), "doc_id", "text",
          model, spread = true)
        .orderBy("doc_id")
    },
    Some(s"""WITH $clfTrainedSql,
            |zsf AS (SELECT f.id, sum(w.w::DECIMAL(20,6)) AS zs
            |  FROM f JOIN w$ClfIters w USING (bucket) GROUP BY 1),
            |sc AS (SELECT d.doc_id,
            |    round(coalesce(zs.zs::DOUBLE, 0.0), 6) AS z
            |  FROM documents d LEFT JOIN zsf zs ON d.doc_id = zs.id),
            |so AS (SELECT doc_id, z, round(1.0 / (1.0 + exp(-z)), 6) AS score FROM sc)
            |SELECT doc_id, z, score, (score >= 0.5) AS keep
            |FROM so ORDER BY doc_id""".stripMargin))

  /** Production twin of `text_quality_clf`: scores against the STORED
    * weight table ([[Materialized.clfWeights]] — trained once per corpus,
    * the `text_lm_score2`/`dedup_semantic2` pattern), so each run pays a
    * broadcast model join at scan speed instead of the GD loop. Same
    * oracle: the SQL replays the training the store performed once. */
  val textQualityClf2: QueryDef = QueryDef("text_quality_clf2",
    (s, d) => TextAnalysis.qualityClfScore(Tables.documents(s, d), "doc_id",
        "text", Materialized.clfWeights(s, d), spread = true)
      .orderBy("doc_id"),
    Some(s"""WITH $clfTrainedSql,
            |zsf AS (SELECT f.id, sum(w.w::DECIMAL(20,6)) AS zs
            |  FROM f JOIN w$ClfIters w USING (bucket) GROUP BY 1),
            |sc AS (SELECT d.doc_id,
            |    round(coalesce(zs.zs::DOUBLE, 0.0), 6) AS z
            |  FROM documents d LEFT JOIN zsf zs ON d.doc_id = zs.id),
            |so AS (SELECT doc_id, z, round(1.0 / (1.0 + exp(-z)), 6) AS score FROM sc)
            |SELECT doc_id, z, score, (score >= 0.5) AS keep
            |FROM so ORDER BY doc_id""".stripMargin))

  /** The classifier's honest accuracy dial (the `sim_knn_label_eval`
    * mold): per bootstrap label, how many verdicts the trained model
    * reproduces — including the planted negatives. On THIS synthetic
    * corpus every real doc draws from the same 31-word vocabulary, so
    * binary word-presence features are constant across real docs and the
    * optimal logistic fit is the majority class (the gopher labels here
    * are length-driven, invisible to a bag-of-words) — the dial makes
    * that measurable rather than flattering it; LlmSpec pins full
    * separation on a corpus whose classes actually differ in vocabulary,
    * which is the signal this classifier family exists to learn. */
  val textQualityClfEval: QueryDef = QueryDef("text_quality_clf_eval",
    (s, d) => {
      // the label bootstrap (gopher rules over corpus text) feeds the
      // training loop AND the post-training scoring AND the verdict join —
      // pin it for the query's lifetime (released below) so it is computed
      // once per run, and pull the TWO-ROW per-label verdict driver-side
      // while the pin is alive (the bounded control-plane collect the
      // incremental-dedup family already established; everything is
      // recomputed from parquet on every run — r15 optimization)
      val lab = clfLabeled(s, d).persist()
      try {
        val model = TextAnalysis.qualityClfTrain(lab, "id", "text", "y",
          iters = ClfIters, lr = ClfLr, callerPinned = true)
        val scored = TextAnalysis.qualityClfScore(lab, "id", "text", model,
          spread = true)
        val rows = lab.select(col("id"), col("y").cast("long").as("label"))
          .join(scored.select(col("id"), col("keep")), Seq("id"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            count(when(col("keep") === (col("label") === 1L), 1)).as("correct"))
          .orderBy("label")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        import s.implicits._
        rows.toSeq.toDF("label", "n", "correct")
      } finally lab.unpersist()
    },
    Some(s"""WITH $clfTrainedSql,
            |zse AS (SELECT f.id, sum(w.w::DECIMAL(20,6)) AS zs
            |  FROM f JOIN w$ClfIters w USING (bucket) GROUP BY 1),
            |pe AS (SELECT ids.id, ids.y,
            |    (round(1.0 / (1.0 + exp(-round(coalesce(zs.zs::DOUBLE, 0.0), 6))), 6) >= 0.5) AS keep
            |  FROM ids LEFT JOIN zse zs USING (id))
            |SELECT y::BIGINT AS label, count(*)::BIGINT AS n,
            |  count(*) FILTER (keep = (y = 1.0))::BIGINT AS correct
            |FROM pe GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The curation pipeline with the TRAINED gate composed in: per doc,
    * the gopher rule verdict, the exact-dedup verdict, and the learned
    * classifier verdict — `selected` is their conjunction. The
    * rule-vs-learned disagreement columns are the observability a
    * production stack watches when promoting a trained gate. */
  /** The round-9 capstone composition: every quality surface the engine
    * trains or derives, chained into ONE per-doc verdict — Gopher rules ∧
    * exact-dedup canonical ∧ STORED-classifier keep ∧ CCNet head+middle
    * (stored-LM perplexity terciles per language) ∧ character-entropy
    * floor. All learned stages read store artifacts (clf_model, lm_model);
    * the corpus text is scanned once per independent signal and every join
    * key is the doc id. Docs with no tokens carry no perplexity bucket and
    * fail the CCNet keep (reported as `ppl_bucket = 'none'`). */
  val pipelineCuration4: QueryDef = QueryDef("pipeline_curation4",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val g = TextAnalysis.gopherFilter(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("keep_quality"))
      val ex = Dedup.exact(docs, "doc_id", "text")
        .select(col("doc_id"), col("is_canonical").as("keep_exact"))
      val clf = TextAnalysis.qualityClfScore(docs, "doc_id", "text",
          Materialized.clfWeights(s, d))
        .select(col("doc_id"), col("keep").as("keep_clf"))
      val scored = TextAnalysis.lmScoreFromModel(docs, "doc_id", "text",
          Materialized.lmUnigrams(s, d))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      // the broadcast-threshold tercile twin — the capstone composes the
      // plan that survives 100×, not the per-language single-task ntile
      val ppl = TextAnalysis.pplBucketsThreshold(scored, "doc_id", "lang")
        .select(col("doc_id"), col("bucket_label"))
      val ent = TextAnalysis.charEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), col("char_entropy"))
      docs.select(col("doc_id"), col("lang"))
        .join(g, "doc_id").join(ex, "doc_id").join(clf, "doc_id")
        .join(ppl, Seq("doc_id"), "left")
        .join(ent, "doc_id")
        .select(col("doc_id"), col("lang"), col("keep_quality"),
          col("keep_exact"), col("keep_clf"),
          coalesce(col("bucket_label"), lit("none")).as("ppl_bucket"),
          (coalesce(col("bucket_label"), lit("tail")) =!= "tail").as("keep_ppl"),
          col("char_entropy"),
          (col("char_entropy") >= 3.0).as("keep_entropy"))
        .withColumn("selected", col("keep_quality") && col("keep_exact") &&
          col("keep_clf") && col("keep_ppl") && col("keep_entropy"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $clfTrainedSql,
            |zsf AS (SELECT f.id, sum(w.w::DECIMAL(20,6)) AS zs
            |  FROM f JOIN w$ClfIters w USING (bucket) GROUP BY 1),
            |so AS (SELECT d.doc_id,
            |    round(1.0 / (1.0 + exp(-round(coalesce(zs.zs::DOUBLE, 0.0), 6))), 6)
            |      AS clf_score
            |  FROM documents d LEFT JOIN zsf zs ON d.doc_id = zs.id),
            |pt AS (SELECT doc_id, string_split(text, ' ') AS ws2 FROM documents),
            |ptok AS (SELECT doc_id, len(ws2)::DOUBLE AS dl, unnest(ws2) AS word FROM pt),
            |pvocab AS (SELECT word, count(*)::DOUBLE AS cnt FROM ptok GROUP BY 1),
            |ptot AS (SELECT sum(cnt) AS total FROM pvocab),
            |ptf AS (SELECT doc_id, dl, word, count(*)::DOUBLE AS tf FROM ptok GROUP BY 1, 2, 3),
            |pc2 AS (SELECT ptf.doc_id, ptf.dl, ptf.tf,
            |          round(ln(v.cnt / t.total), 6) AS lp
            |        FROM ptf JOIN pvocab v USING (word) CROSS JOIN ptot t),
            |pnll AS (SELECT doc_id, dl, round(-sum(tf * lp), 6) AS nll_sum
            |         FROM pc2 GROUP BY 1, 2),
            |pd0 AS (SELECT DISTINCT doc_id, dl FROM ptok),
            |psc AS (SELECT pd0.doc_id, pd0.dl::BIGINT AS n_words,
            |          coalesce(pnll.nll_sum, 0.0) AS nll_sum
            |        FROM pd0 LEFT JOIN pnll USING (doc_id, dl)),
            |pp AS (SELECT psc.doc_id, dd.lang,
            |         ((2 * round(psc.nll_sum * 1000000, 0)::BIGINT + psc.n_words)
            |          // (2 * psc.n_words)) / 1000000.0 AS ppl_tok
            |       FROM psc JOIN documents dd USING (doc_id) WHERE psc.n_words > 0),
            |pvc AS (SELECT lang, ppl_tok, count(*)::BIGINT AS cnt FROM pp GROUP BY 1, 2),
            |pnr AS (SELECT lang, sum(cnt)::BIGINT AS n_rows FROM pvc GROUP BY 1),
            |pcc AS (SELECT pvc.lang, pvc.ppl_tok,
            |          sum(pvc.cnt) OVER (PARTITION BY pvc.lang
            |            ORDER BY pvc.ppl_tok)::BIGINT AS cum,
            |          pnr.n_rows
            |        FROM pvc JOIN pnr USING (lang)),
            |pth AS (SELECT lang,
            |          min(CASE WHEN cum >= (n_rows // 3) + least(1, n_rows % 3)
            |              THEN ppl_tok END) AS t1,
            |          min(CASE WHEN cum >= 2 * (n_rows // 3) + least(2, n_rows % 3)
            |              THEN ppl_tok END) AS t2
            |        FROM pcc GROUP BY 1),
            |pbl AS (SELECT pp.doc_id,
            |          CASE WHEN pp.ppl_tok <= pth.t1 THEN 'head'
            |               WHEN pp.ppl_tok <= pth.t2 THEN 'middle'
            |               ELSE 'tail' END AS bucket_label
            |        FROM pp JOIN pth USING (lang)),
            |e0 AS (SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i
            |       FROM documents WHERE text IS NOT NULL AND len(text) > 0),
            |ecc AS (SELECT doc_id, substr(text, i, 1) AS ch, count(*)::BIGINT AS cnt
            |        FROM e0 GROUP BY 1, 2),
            |es AS (SELECT doc_id,
            |         sum(round(cnt * log2(cnt), 6)::DECIMAL(20,6)) AS scv,
            |         sum(cnt)::BIGINT AS n
            |       FROM ecc GROUP BY 1),
            |ent AS (SELECT d.doc_id,
            |          coalesce(round(log2(es.n) - (es.scv::DOUBLE) / es.n, 6), 0.0)
            |            AS char_entropy
            |        FROM documents d LEFT JOIN es ON d.doc_id = es.doc_id),
            |ex2 AS (SELECT doc_id,
            |  (doc_id = min(doc_id) OVER (PARTITION BY text)) AS keep_exact
            |  FROM documents)
            |SELECT d.doc_id, d.lang, gk.keep AS keep_quality, ex2.keep_exact,
            |  (so.clf_score >= 0.5) AS keep_clf,
            |  coalesce(pbl.bucket_label, 'none') AS ppl_bucket,
            |  (coalesce(pbl.bucket_label, 'tail') <> 'tail') AS keep_ppl,
            |  ent.char_entropy, (ent.char_entropy >= 3.0) AS keep_entropy,
            |  (gk.keep AND ex2.keep_exact AND so.clf_score >= 0.5
            |   AND coalesce(pbl.bucket_label, 'tail') <> 'tail'
            |   AND ent.char_entropy >= 3.0) AS selected
            |FROM documents d JOIN gk ON d.doc_id = gk.doc_id
            |  JOIN ex2 ON d.doc_id = ex2.doc_id
            |  JOIN so ON d.doc_id = so.doc_id
            |  LEFT JOIN pbl ON d.doc_id = pbl.doc_id
            |  JOIN ent ON d.doc_id = ent.doc_id
            |ORDER BY d.doc_id""".stripMargin))

  val pipelineCuration3: QueryDef = QueryDef("pipeline_curation3",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // the STORED weights ([[Materialized.clfWeights]] — trained once under
      // the oracle's exact schedule): the pipeline composes production
      // stages; the live GD measurement lives in `text_quality_clf`
      val clf = TextAnalysis.qualityClfScore(docs, "doc_id", "text",
          Materialized.clfWeights(s, d))
        .select(col("doc_id"), col("score").as("clf_score"),
          col("keep").as("keep_clf"))
      val g = TextAnalysis.gopherFilter(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("keep_quality"))
      val ex = Dedup.exact(docs, "doc_id", "text")
        .select(col("doc_id"), col("is_canonical").as("keep_exact"))
      docs.select(col("doc_id"), col("lang"))
        .join(g, "doc_id").join(ex, "doc_id").join(clf, "doc_id")
        .select(col("doc_id"), col("lang"), col("keep_quality"),
          col("keep_exact"), col("clf_score"), col("keep_clf"),
          (col("keep_quality") =!= col("keep_clf")).as("gate_disagrees"),
          (col("keep_quality") && col("keep_exact") && col("keep_clf"))
            .as("selected"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $clfTrainedSql,
            |zsf AS (SELECT f.id, sum(w.w::DECIMAL(20,6)) AS zs
            |  FROM f JOIN w$ClfIters w USING (bucket) GROUP BY 1),
            |sc AS (SELECT d.doc_id,
            |    round(coalesce(zs.zs::DOUBLE, 0.0), 6) AS z
            |  FROM documents d LEFT JOIN zsf zs ON d.doc_id = zs.id),
            |so AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS clf_score FROM sc),
            |ex AS (SELECT doc_id,
            |  (doc_id = min(doc_id) OVER (PARTITION BY text)) AS keep_exact FROM documents)
            |SELECT d.doc_id, d.lang, gk.keep AS keep_quality, ex.keep_exact,
            |  so.clf_score, (so.clf_score >= 0.5) AS keep_clf,
            |  (gk.keep <> (so.clf_score >= 0.5)) AS gate_disagrees,
            |  (gk.keep AND ex.keep_exact AND so.clf_score >= 0.5) AS selected
            |FROM documents d JOIN gk ON d.doc_id = gk.doc_id
            |  JOIN ex ON d.doc_id = ex.doc_id
            |  JOIN so ON d.doc_id = so.doc_id
            |ORDER BY d.doc_id""".stripMargin))

  private def docShingles3 =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |        for i in range(1, len(ws) - 1)]) AS shs FROM w)""".stripMargin

  /** The minhash-cluster closure over [[docShingles3]]'s `sh` (exact-Jaccard
    * edges at 0.8 → recursive reachability → min-label), ending in CTE
    * `c(doc_id, cluster_id)` — shared by every cluster-consuming oracle so a
    * threshold edit cannot silently diverge between them. */
  private def clusterClosureSql =
    """ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b FROM p
      |      JOIN sh x ON p.id_a = x.doc_id JOIN sh y ON p.id_b = y.doc_id
      |      WHERE inter * 1.0 / (len(x.shs) + len(y.shs) - inter) >= 0.8),
      |edges AS (SELECT id_a AS a, id_b AS b FROM j
      |          UNION ALL SELECT id_b, id_a FROM j),
      |r(id, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.b, r.lab FROM r JOIN edges e ON e.a = r.id),
      |c AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM r GROUP BY id)""".stripMargin

  /** The composite quality score expression (same text in the `text_quality`
    * oracle, the pipeline oracle, and the best-in-cluster oracle). Plain
    * triple-quoted (single backslashes) — interpolation passes values
    * through unprocessed, so hosts embed it safely from `s"..."` strings. */
  private def qualityExprSql =
    """round(least(len(regexp_extract_all(text, '\S+')) / 100.0, 1.0) * 0.5 +
      |        (len(list_filter(string_split(text,' '), w1 -> w1 IN
      |    ('the','a','of','and','to','in','is','it','der','die','das','und','ist','ein','zu',
      |     'el','la','de','y','es','un','en','le','et','est','dans')))
      |          / len(regexp_extract_all(text, '\S+'))) * 0.3 +
      |        (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) / length(text)) * 0.2,
      |        4)""".stripMargin

  val dedupExact: QueryDef = QueryDef("dedup_exact",
    (s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id"),
    Some("""WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
           |g AS (SELECT content_hash, min(doc_id) AS canonical_id, count(*) AS group_size
           |      FROM h GROUP BY 1)
           |SELECT doc_id, h.content_hash, canonical_id, group_size,
           |  doc_id = canonical_id AS is_canonical
           |FROM h JOIN g USING (content_hash) ORDER BY doc_id""".stripMargin))

  /** MinHash(128)+LSH(32×4) candidates, exact-Jaccard verified at 0.8 —
    * oracle is the exact inverted-index Jaccard join. Consumes the
    * storage-materialized pair table ([[Materialized.minhashPairs]], shared
    * with `dedup_clusters`/`pipeline_training_set` — written to parquet once
    * per corpus, read by every consumer, reused across restarts); the
    * computation itself is independently re-derived and checked against
    * the exact join in LlmSpec. */
  val dedupMinhash: QueryDef = QueryDef("dedup_minhash",
    (s, d) => Materialized.minhashPairs(s, d)
      .orderBy("id_a", "id_b"),
    Some(s"""WITH $docShingles3,
            |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
            |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            |      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
            |SELECT id_a, id_b,
            |  round(inter * 1.0 / (len(x.shs) + len(y.shs) - inter), 6) AS jaccard
            |FROM p JOIN sh x ON p.id_a = x.doc_id JOIN sh y ON p.id_b = y.doc_id
            |WHERE inter * 1.0 / (len(x.shs) + len(y.shs) - inter) >= 0.8
            |ORDER BY 1, 2""".stripMargin))

  /** Exact word-3-gram Jaccard via inverted-index self-join at 0.6,
    * written once to the pair store ([[Materialized.ngramPairs]]). */
  val dedupNgram: QueryDef = QueryDef("dedup_ngram_jaccard",
    (s, d) => Materialized.ngramPairs(s, d)
      .orderBy("id_a", "id_b"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |sh AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
           |        for i in range(1, len(ws) - 1)]) AS shs FROM w),
           |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  round(inter * 1.0 / (len(x.shs) + len(y.shs) - inter), 6) AS jaccard
           |FROM p JOIN sh x ON p.id_a = x.doc_id JOIN sh y ON p.id_b = y.doc_id
           |WHERE inter * 1.0 / (len(x.shs) + len(y.shs) - inter) >= 0.6
           |ORDER BY 1, 2""".stripMargin))

  /** SimHash(60-bit) pairs at hamming ≤ 3 via pigeonhole banding (exact —
    * recall 1 by construction); oracle is the full-pair scan. Reads the
    * written pair table ([[Materialized.simhashPairs]]). */
  val dedupSimhash: QueryDef = QueryDef("dedup_simhash",
    (s, d) => Materialized.simhashPairs(s, d)
      .orderBy("id_a", "id_b"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |h AS (SELECT doc_id, [('0x' || substr(md5(x), 1, 15))::BIGINT for x in ws] AS hs
           |      FROM w),
           |sig AS (SELECT doc_id,
           |  list_sum([CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) % 2 = 1)) >= len(hs)
           |                 THEN (1::BIGINT << j) ELSE 0 END
           |            for j in range(0, 60)])::BIGINT AS sg FROM h)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  bit_count(xor(a.sg, b.sg))::BIGINT AS hamming
           |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sg, b.sg)) <= 3 ORDER BY 1, 2""".stripMargin))

  /** Embedding-cosine near-dup pairs at 0.45: banded sign-LSH candidates
    * (equi-join, no all-pairs nested loop) + exact cosine verification —
    * output identical to the all-pairs scan (banding recall 1 at the
    * threshold, see [[Dedup.embeddingNearDupLsh]]); oracle is the exact
    * full-pair computation, and LlmSpec asserts banded == all-pairs on the
    * corpus. Reads the storage-materialized ≥0.45 pair table
    * ([[Materialized.embeddingPairs]] — built once per corpus, restart-safe). */
  val dedupEmbedding: QueryDef = QueryDef("dedup_embedding",
    (s, d) => Materialized.embeddingPairs(s, d)
      .orderBy("id_a", "id_b"),
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6)
           |    AS cosine
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6)
           |      >= 0.45
           |ORDER BY 1, 2""".stripMargin))

  /**
   * The production-threshold banded-LSH datapoint: the corpus's own max
   * cosine is ~0.6, so [[dedupEmbedding]]'s t=0.3/0.45 registration proves
   * the *plan shape* but banding cannot prune there (every pair collides in
   * some band — an exact sub-quadratic dense join at t≈0.45 does not
   * exist). Real near-dup dedup runs at t ≥ 0.9, where r=8×b=32 banding
   * prunes hard; this query plants deterministic near-duplicates to create
   * that regime and runs the SAME code path at t=0.9.
   *
   * Planting is exact in both engines: one copy with the first 3 components
   * sign-flipped (pure sign change — no rounding; cosine ≈ 0.95) and one
   * exact copy (cosine 1.0), derived from rows with `vec_id % 10 ∈ {0, 5}`.
   * Candidate-mass ≪ n(n-1)/2 is asserted in LlmSpec (the measured prune
   * the 100 TB design relies on); recall 1 vs the exact scan is asserted
   * there too. Banding miss at the weakest passing pair (cosine = 0.9):
   * `(1 - p^8)^32 ≈ 1.1e-5`, `p = 1 - acos(0.9)/π ≈ 0.86`.
   */
  val dedupEmbeddingT90: QueryDef = QueryDef("dedup_embedding_t90",
    (s, d) => Dedup.embeddingNearDupLsh(plantedEmbeddings(s, d),
        "vec_id", "embedding", dims = 64, threshold = 0.9,
        planesPerBand = 8, bands = 32)
      .orderBy("id_a", "id_b"),
    Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |planted AS (
           |  SELECT vec_id, v FROM base
           |  UNION ALL
           |  SELECT vec_id + 1000000, list_concat([-v[1], -v[2], -v[3]], v[4:])
           |  FROM base WHERE vec_id % 10 = 0
           |  UNION ALL
           |  SELECT vec_id + 2000000, v FROM base WHERE vec_id % 10 = 5),
           |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM planted)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6)
           |    AS cosine
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6)
           |      >= 0.9
           |ORDER BY 1, 2""".stripMargin))

  /**
   * The deep-banding PRODUCTION configuration (r=16 × b=128 = 2,048
   * hyperplanes) on the same planted corpus and threshold as
   * [[dedupEmbeddingT90]]: identical oracle (banding recall stays
   * effectively 1 — miss at the weakest passing pair is
   * `(1 - p^16)^128 ≈ 1.4e-5` at cosine 0.9, `p ≈ 0.856`), but the random
   * collision floor drops from `32·2⁻⁸ ≈ 11.8%` to `128·2⁻¹⁶ ≈ 0.2%` —
   * the ~100×-deeper candidate prune that BASELINE.md derives as the 100 TB
   * operating point. Above [[Dedup.TypedSignaturePlaneThreshold]] planes the
   * signature runs through the typed JIT kernel with the plane matrix
   * broadcast once ([[graft.llm.Similarity.lshSigRowsTyped]]); LlmSpec
   * asserts the measured prune (≥100× vs n(n-1)/2) and recall 1 vs the
   * exact scan, and the bucket bit-identity between the typed and codegen
   * signature paths.
   */
  val dedupEmbeddingDeep: QueryDef = QueryDef("dedup_embedding_deep",
    (s, d) => Dedup.embeddingNearDupLsh(plantedEmbeddings(s, d),
        "vec_id", "embedding", dims = 64, threshold = 0.9,
        planesPerBand = 16, bands = 128)
      .orderBy("id_a", "id_b"),
    Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |planted AS (
           |  SELECT vec_id, v FROM base
           |  UNION ALL
           |  SELECT vec_id + 1000000, list_concat([-v[1], -v[2], -v[3]], v[4:])
           |  FROM base WHERE vec_id % 10 = 0
           |  UNION ALL
           |  SELECT vec_id + 2000000, v FROM base WHERE vec_id % 10 = 5),
           |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM planted)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6)
           |    AS cosine
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6)
           |      >= 0.9
           |ORDER BY 1, 2""".stripMargin))

  /** Temperature-weighted source mixing ([[TextAnalysis.temperatureMix]]):
    * α=0.5 source shares `n_s^α/Σn_t^α`, a 200-doc budget apportioned by
    * integer largest-remainder, each source admitting its quota in
    * content-hash priority order — the mT5/XLM-R low-resource-lift rule,
    * deterministic end-to-end. */
  private val tempMixOracleSql: String =
    """WITH c AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY 1),
           |z AS (SELECT sum(pow(n_s, 0.5)) AS z FROM c),
           |f AS (SELECT source, n_s,
           |        round(pow(n_s, 0.5) / z.z * 200 * 1e6, 0)::BIGINT AS fr6
           |      FROM c CROSS JOIN z),
           |b AS (SELECT source, n_s, fr6 // 1000000 AS base,
           |        fr6 % 1000000 AS frac6 FROM f),
           |ex AS (SELECT 200 - sum(base) AS extra FROM b),
           |sr AS (SELECT source,
           |         row_number() OVER (ORDER BY frac6 DESC, source) AS rk FROM b),
           |q AS (SELECT b.source,
           |        base + CASE WHEN sr.rk <= ex.extra THEN 1 ELSE 0 END AS quota
           |      FROM b JOIN sr USING (source) CROSS JOIN ex),
           |p AS (SELECT doc_id, source,
           |        coalesce(md5(text), '<null-text>') AS pri FROM documents),
      |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
      |        ORDER BY pri, doc_id)::BIGINT AS pos FROM p)
      |SELECT r.doc_id, r.source, r.pos, q.quota FROM r JOIN q USING (source)
      |WHERE r.pos <= q.quota ORDER BY r.source, r.pos""".stripMargin

  val textTempMix: QueryDef = QueryDef("text_temp_mix",
    (s, d) => TextAnalysis.temperatureMix(Tables.documents(s, d), "doc_id",
        "text", "source", alpha = 0.5, n = 200)
      .orderBy("source", "pos"),
    Some(tempMixOracleSql))

  /** The 100×-safe twin ([[TextAnalysis.temperatureMixRanged]]): same
    * driver-exact α-quota apportionment, but the admission rank is the
    * ranged prefix COUNT — no source ever ranks through one window task.
    * Row-identical to `text_temp_mix` (same oracle). */
  val textTempMix2: QueryDef = QueryDef("text_temp_mix2",
    (s, d) => TextAnalysis.temperatureMixRanged(Tables.documents(s, d),
        "doc_id", "text", "source", alpha = 0.5, n = 200)
      .orderBy("source", "pos"),
    Some(tempMixOracleSql))

  /** Character-entropy quality signal ([[TextAnalysis.charEntropy]]):
    * code-point Shannon entropy per doc — the gibberish/binary detector
    * beside the word-level Gopher rules. Per-distinct-char terms round to
    * 6 dp and sum as scaled longs/DECIMAL, so both engines reduce
    * order-independently; zero shuffle, pure per-row kernel. */
  val textEntropy: QueryDef = QueryDef("text_entropy",
    (s, d) => TextAnalysis.charEntropy(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t0 AS (SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i
           |  FROM documents WHERE text IS NOT NULL AND len(text) > 0),
           |cc AS (SELECT doc_id, substr(text, i, 1) AS c, count(*)::BIGINT AS cnt
           |       FROM t0 GROUP BY 1, 2),
           |s AS (SELECT doc_id,
           |        sum(round(cnt * log2(cnt), 6)::DECIMAL(20,6)) AS sc,
           |        sum(cnt)::BIGINT AS n, count(*)::BIGINT AS nd
           |      FROM cc GROUP BY 1)
           |SELECT d.doc_id, coalesce(s.n, 0) AS n_cp,
           |  coalesce(s.nd, 0) AS n_distinct_cp,
           |  coalesce(round(log2(s.n) - (s.sc::DOUBLE) / s.n, 6), 0.0) AS char_entropy
           |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
           |ORDER BY d.doc_id""".stripMargin))

  /** The deep-banding geometry over the LEAN candidate path
    * ([[Dedup.embeddingNearDupLshLean]]): bare `(band, bucket, id)` band
    * rows plus a 16-byte pair distinct instead of ride-along signatures —
    * the shuffle-bytes regime the 1M-vector validation run forced (the
    * ride-along exchange spilled ~130 GB at n=10⁶). Same geometry, same
    * exact all-pairs oracle as `dedup_embedding_deep`: the two paths are
    * output-set-equal by construction (property-pinned in LlmSpec) and
    * both reach recall 1 on the planted corpus. */
  val dedupEmbeddingLean: QueryDef = QueryDef("dedup_embedding_lean",
    (s, d) => Dedup.embeddingNearDupLshLean(plantedEmbeddings(s, d),
        "vec_id", "embedding", dims = 64, threshold = 0.9,
        planesPerBand = 16, bands = 128)
      .orderBy("id_a", "id_b"),
    Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |planted AS (
           |  SELECT vec_id, v FROM base
           |  UNION ALL
           |  SELECT vec_id + 1000000, list_concat([-v[1], -v[2], -v[3]], v[4:])
           |  FROM base WHERE vec_id % 10 = 0
           |  UNION ALL
           |  SELECT vec_id + 2000000, v FROM base WHERE vec_id % 10 = 5),
           |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM planted)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6)
           |    AS cosine
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6)
           |      >= 0.9
           |ORDER BY 1, 2""".stripMargin))

  /** The t90 corpus: embeddings plus deterministic planted near/exact
    * duplicates (sign flips and copies are representation-exact in float
    * AND double, so Spark and DuckDB derive bit-identical vectors). */
  def plantedEmbeddings(s: org.apache.spark.sql.SparkSession,
                                         d: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val near = base.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) => when(i < 3, -x).otherwise(x)).as("embedding"))
    val exact = base.where(col("vec_id") % 10 === 5)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    base.unionByName(near).unionByName(exact)
  }

  /** Duplicate-cluster canonicalization: connected components over the
    * verified minhash pair graph (min-id labels); oracle is a recursive-CTE
    * reachability closure over the exact-Jaccard edges. */
  val dedupClusters: QueryDef = QueryDef("dedup_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Materialized.minhashPairs(s, d)
      Dedup.duplicateClusters(pairs, docs.select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $docShingles3,
            |$clusterClosureSql
            |SELECT doc_id, cluster_id FROM c ORDER BY doc_id""".stripMargin))

  /** LEAKAGE-SAFE train/test split: every document inherits its near-dup
    * CLUSTER representative's content-hash bucket, so a near-duplicate
    * pair can never straddle train/test (the eval-contamination mode a
    * doc-keyed split like `text_split` permits — a paraphrase of a
    * training doc landing in test). Clusters come from the stored
    * minhash pair table; the canonical's text joins by the min-id
    * cluster label; split stays the deterministic md5 bucket. The
    * per-cluster single-split invariant is spec-asserted. */
  val textSplitSafe: QueryDef = QueryDef("text_split_safe",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = Dedup.duplicateClusters(Materialized.minhashPairs(s, d),
          docs.select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("cluster_id"))
      val canon = docs.select(col("doc_id").as("cluster_id"),
        col("text").as("canon_text"))
      val bucket = pmod(graft.llm.TextHashing.md5Long60(col("canon_text")),
        lit(100L))
      docs.select(col("doc_id"))
        .join(clusters, "doc_id")
        .join(canon, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), bucket.as("bucket"),
          when(bucket < 80, lit("train")).otherwise(lit("test")).as("split"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $docShingles3,
            |$clusterClosureSql
            |SELECT c.doc_id, c.cluster_id,
            |  ('0x' || substr(md5(t.text), 1, 15))::BIGINT % 100 AS bucket,
            |  CASE WHEN ('0x' || substr(md5(t.text), 1, 15))::BIGINT % 100 < 80
            |       THEN 'train' ELSE 'test' END AS split
            |FROM c JOIN documents t ON c.cluster_id = t.doc_id
            |ORDER BY c.doc_id""".stripMargin))

  /** Deterministic content-hash train/test split. */
  val textSplit: QueryDef = QueryDef("text_split",
    (s, d) => Dedup.trainTestSplit(Tables.documents(s, d), "doc_id", "text",
      trainPct = 80).orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS bucket,
           |  CASE WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 < 80
           |       THEN 'train' ELSE 'test' END AS split
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Brute-force cosine top-10 against the vec_id=0 query vector. */
  val simTopK: QueryDef = QueryDef("sim_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val qv = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .head().getSeq[Double](0)
      Similarity.topK(emb, "vec_id", "embedding", qv, k = 10, excludeId = Some(0L))
        .select(col("id").as("vec_id"), col("cosine"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
           |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0)
           |SELECT e2.vec_id,
           |  round(list_sum([e2.v[i] * q.qv[i] for i in range(1, 65)]) / (e2.nrm * q.qn), 6)
           |    AS cosine
           |FROM n e2, q WHERE e2.vec_id <> 0
           |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin))

  /** Incremental NEAR-dup against the STORED corpus signature table: the
    * last 100 docs arrive as a batch (plus five last-word-dropped
    * near-copies of docs 0-4 at collision-free synthetic ids) and are
    * judged against the preceding corpus via its stored MinHash
    * signatures — the corpus is signed once, never re-deduped; batch band
    * keys broadcast into the signature scan. */
  val dedupIncrementalNear: QueryDef = QueryDef("dedup_incremental_near",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // slices anchored at max(doc_id): fixed-size batch, corpus grows
      // with sf, synthetic ids collision-free (see dedup_incremental)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val cut = maxd - 99
      val corpus = docs.where(col("doc_id") < cut)
      val batch = docs.where(col("doc_id") >= cut).select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") < 5)
          .select((col("doc_id") + maxd + 1001).as("doc_id"),
            regexp_replace(col("text"), " \\S+$", "").as("text")))
      val corpusSigs = Materialized.minhashSignatures(s, d)
        .where(col("id") < cut)
      Dedup.dedupIncrementalNear(batch, corpusSigs, corpus, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some(s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
            |corpus AS (SELECT doc_id, text FROM documents, mx WHERE doc_id < m - 99),
            |nb AS (SELECT doc_id, text FROM documents, mx WHERE doc_id >= m - 99
            |       UNION ALL SELECT doc_id + m + 1001, regexp_replace(text, ' \\S+$$', '')
            |                 FROM documents, mx WHERE doc_id < 5),
            |wb AS (SELECT doc_id, string_split(text, ' ') AS ws FROM nb),
            |shb AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
            |        for i in range(1, len(ws) - 1)]) AS shs FROM wb),
            |wc AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
            |shc AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
            |        for i in range(1, len(ws) - 1)]) AS shs FROM wc),
            |exb AS (SELECT doc_id, unnest(shs) AS s FROM shb),
            |exc AS (SELECT doc_id, unnest(shs) AS s FROM shc),
            |p AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS inter
            |      FROM exb b JOIN exc c ON b.s = c.s GROUP BY 1, 2),
            |j AS (SELECT bid, cid,
            |        round(inter * 1.0 / (len(x.shs) + len(y.shs) - inter), 6) AS jac
            |      FROM p JOIN shb x ON p.bid = x.doc_id JOIN shc y ON p.cid = y.doc_id
            |      WHERE inter * 1.0 / (len(x.shs) + len(y.shs) - inter) >= 0.8),
            |best AS (SELECT bid, cid, jac,
            |         row_number() OVER (PARTITION BY bid ORDER BY jac DESC, cid) AS rn
            |         FROM j)
            |SELECT nb.doc_id, b.cid AS dup_of, b.jac AS jaccard, b.cid IS NULL AS keep
            |FROM nb LEFT JOIN best b ON nb.doc_id = b.bid AND b.rn = 1
            |ORDER BY nb.doc_id""".stripMargin))

  /** Cross-modal integrity audit: documents FULL OUTER joined to their
    * embeddings (window shifts carve out both failure classes) → per-status
    * counts with id ranges. The join co-partitions both sides on the id —
    * one exchange each at any scale — and is the only full-outer in the
    * registry. */
  val pipelineIntegrity: QueryDef = QueryDef("pipeline_integrity",
    (s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") >= 5).select("doc_id")
      val emb = Tables.embeddings(s, d).where(col("vec_id") < 495).select("vec_id")
      docs.join(emb, col("doc_id") === col("vec_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("vec_id")).as("id"),
          when(col("doc_id").isNull, "orphan_embedding")
            .when(col("vec_id").isNull, "missing_embedding")
            .otherwise("matched").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), min("id").as("min_id"), max("id").as("max_id"))
        .orderBy("status")
    },
    Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id >= 5),
           |e AS (SELECT vec_id FROM embeddings WHERE vec_id < 495),
           |j AS (SELECT coalesce(d.doc_id, e.vec_id) AS id,
           |        CASE WHEN d.doc_id IS NULL THEN 'orphan_embedding'
           |             WHEN e.vec_id IS NULL THEN 'missing_embedding'
           |             ELSE 'matched' END AS status
           |      FROM d FULL OUTER JOIN e ON d.doc_id = e.vec_id)
           |SELECT status, count(*)::BIGINT AS n, min(id) AS min_id, max(id) AS max_id
           |FROM j GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Per-language corpus statistics (the curation dashboard query): doc
    * counts, char volume, exact token percentiles. One partial+final hash
    * agg; the exact `percentile` buffers a counts-map over the BOUNDED
    * token-count domain (doc lengths), so it parallelizes — for unbounded
    * value domains `approx_distinct`'s pattern (approx_percentile) is the
    * scale path. */
  val textStats: QueryDef = QueryDef("text_stats",
    (s, d) => Tables.documents(s, d)
      .withColumn("n_tokens", TextAnalysis.tokenCountWs(col("text")).cast("long"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round(avg("n_tokens"), 6).as("avg_tokens"),
        round(expr("percentile(n_tokens, 0.5D)"), 6).as("p50_tokens"),
        round(expr("percentile(n_tokens, 0.95D)"), 6).as("p95_tokens"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"))
      .orderBy("lang"),
    Some("""SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
           |  round(avg(len(regexp_extract_all(text, '\S+'))), 6) AS avg_tokens,
           |  round(quantile_cont(len(regexp_extract_all(text, '\S+')), 0.5), 6)
           |    AS p50_tokens,
           |  round(quantile_cont(len(regexp_extract_all(text, '\S+')), 0.95), 6)
           |    AS p95_tokens,
           |  min(len(regexp_extract_all(text, '\S+')))::BIGINT AS min_tokens,
           |  max(len(regexp_extract_all(text, '\S+')))::BIGINT AS max_tokens
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Incremental embedding near-dup against the STORED sign-LSH bucket
    * table: the last 50 vectors arrive as a batch (plus five exact copies
    * of vectors 0-4 at collision-free synthetic ids) and are judged
    * against the preceding corpus via its stored band signatures;
    * deterministic hyperplanes mean the batch signs itself consistently
    * with the store. Slices anchored at max(vec_id): fixed-size batch at
    * every sf. */
  val dedupIncrementalEmb: QueryDef = QueryDef("dedup_incremental_emb",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val maxe = emb.agg(max("vec_id")).head.getLong(0)
      val cut = maxe - 49
      val corpus = emb.where(col("vec_id") < cut)
      val batch = emb.where(col("vec_id") >= cut)
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.where(col("vec_id") < 5)
          .select((col("vec_id") + maxe + 1001).as("vec_id"), col("embedding")))
      val sigs = Materialized.embeddingSignatures(s, d).where(col("id") < cut)
      Dedup.dedupIncrementalEmbedding(batch, sigs, corpus, "vec_id", "embedding",
        dims = 64, threshold = 0.9).orderBy("vec_id")
    },
    Some("""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |corpus AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm
           |           FROM e, mx WHERE vec_id < m - 49),
           |nb0 AS (SELECT vec_id, v FROM e, mx WHERE vec_id >= m - 49
           |        UNION ALL SELECT vec_id + m + 1001, v FROM e, mx WHERE vec_id < 5),
           |nb AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM nb0),
           |p AS (SELECT b.vec_id AS bid, c.vec_id AS cid,
           |        round(list_sum([b.v[i] * c.v[i] for i in range(1, 65)]) /
           |          (b.nrm * c.nrm), 6) AS cs
           |      FROM nb b, corpus c),
           |j AS (SELECT bid, cid, cs FROM p WHERE cs >= 0.9),
           |best AS (SELECT bid, cid, cs,
           |         row_number() OVER (PARTITION BY bid ORDER BY cs DESC, cid) AS rn
           |         FROM j)
           |SELECT nb.vec_id, b.cid AS dup_of, b.cs AS cosine, b.cid IS NULL AS keep
           |FROM nb LEFT JOIN best b ON nb.vec_id = b.bid AND b.rn = 1
           |ORDER BY nb.vec_id""".stripMargin))

  /** Day-2 incremental near-dup — the continuous-ingestion contract
    * completed: batch B1 (the 50 docs before the last 50, plus five NOVEL
    * 'qx'-interleaved rewrites of docs 0-4 at synthetic ids) is judged
    * against the preceding corpus via the stored signatures, its keeps'
    * signatures are ABSORBED into the store as a batch-sized delta
    * generation ([[Materialized.absorb]] into
    * [[Materialized.Stores.MinhashSigs]]), and batch B2
    * (the last 50 docs plus last-word-dropped near-copies of three
    * absorbed B1 keeps and of corpus doc 10) is judged against corpus ∪
    * kept(B1) — the day-2 signatures resolved THROUGH the absorbed store
    * head, so a B2 duplicate of a B1 keep classifies as a dup. The corpus
    * is signed once, ever; day-2 reads never re-touch corpus text beyond
    * the candidate set. Slices anchored at max(doc_id): both days stay
    * fixed-size at every sf while the corpus grows. */
  val dedupIncrementalNear2: QueryDef = QueryDef("dedup_incremental_near2",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // slices anchored at max(doc_id): two fixed-size 50-doc days against
      // a corpus that grows with sf (see dedup_incremental)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val cut = maxd - 99
      val corpus = docs.where(col("doc_id") < cut)
      val novel = regexp_replace(col("text"), " ", " qx ")
      val b1 = docs.where(col("doc_id") >= cut && col("doc_id") < cut + 50)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") < 5)
          .select((col("doc_id") + maxd + 1001).as("doc_id"), novel.as("text")))
      val corpusSigs = Materialized.minhashSignatures(s, d).where(col("id") < cut)
      // the B1 verdict is evaluated ONCE and its keep-id set pinned
      // driver-side — the incremental family already bounds the batch to
      // broadcast size, so the day's keep ledger is driver-safe; reusing
      // the lazy plan instead would re-run the whole B1 judgment at every
      // reference (measured 2x the query cost)
      import s.implicits._
      val keptIdSeq = Dedup.dedupIncrementalNear(b1, corpusSigs, corpus,
          "doc_id", "text")
        .where(col("keep")).select(col("doc_id")).as[Long].collect().toSeq
      val keptIds = keptIdSeq.toDF("doc_id")
      val keptDocs = b1.join(broadcast(keptIds), Seq("doc_id"), "left_semi")
      val store = Materialized.Stores.MinhashSigs
      Materialized.absorb(s, d, store, store.rowsOf(s, d, keptDocs, "doc_id", "text"),
        "near2_b1v2")
      val b2 = docs.where(col("doc_id") >= cut + 50).select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") < 3)
          .select((col("doc_id") + maxd + 2001).as("doc_id"),
            regexp_replace(novel, " \\S+$", "").as("text")))
        .unionByName(docs.where(col("doc_id") === 10)
          .select(lit(maxd + 3001).as("doc_id"),
            regexp_replace(col("text"), " \\S+$", "").as("text")))
      val headSigs = Materialized.minhashSignatures(s, d)
      val day2Sigs = headSigs.where(col("id") < cut ||
        col("id").isInCollection(keptIdSeq))
      val day2Docs = corpus.select(col("doc_id"), col("text")).unionByName(keptDocs)
      Dedup.dedupIncrementalNear(b2, day2Sigs, day2Docs, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
           |corpus AS (SELECT doc_id, text FROM documents, mx WHERE doc_id < m - 99),
           |b1 AS (SELECT doc_id, text FROM documents, mx
           |       WHERE doc_id >= m - 99 AND doc_id < m - 49
           |       UNION ALL SELECT doc_id + m + 1001, replace(text, ' ', ' qx ')
           |                 FROM documents, mx WHERE doc_id < 5),
           |shc AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
           |        for i in range(1, len(ws) - 1)]) AS shs
           |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus)),
           |shb1 AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
           |         for i in range(1, len(ws) - 1)]) AS shs
           |         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM b1)),
           |exc AS (SELECT doc_id, unnest(shs) AS s FROM shc),
           |exb1 AS (SELECT doc_id, unnest(shs) AS s FROM shb1),
           |p1 AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS inter
           |       FROM exb1 b JOIN exc c ON b.s = c.s GROUP BY 1, 2),
           |j1 AS (SELECT DISTINCT bid FROM p1
           |       JOIN shb1 x ON p1.bid = x.doc_id JOIN shc y ON p1.cid = y.doc_id
           |       WHERE inter * 1.0 / (len(x.shs) + len(y.shs) - inter) >= 0.8),
           |kept1 AS (SELECT doc_id, text FROM b1 WHERE doc_id NOT IN (SELECT bid FROM j1)),
           |day2 AS (SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM kept1),
           |b2 AS (SELECT doc_id, text FROM documents, mx WHERE doc_id >= m - 49
           |       UNION ALL SELECT doc_id + m + 2001,
           |                   regexp_replace(replace(text, ' ', ' qx '), ' \S+$', '')
           |                 FROM documents, mx WHERE doc_id < 3
           |       UNION ALL SELECT m + 3001, regexp_replace(text, ' \S+$', '')
           |                 FROM documents, mx WHERE doc_id = 10),
           |shd AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
           |        for i in range(1, len(ws) - 1)]) AS shs
           |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM day2)),
           |shb2 AS (SELECT doc_id, list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
           |         for i in range(1, len(ws) - 1)]) AS shs
           |         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM b2)),
           |exd AS (SELECT doc_id, unnest(shs) AS s FROM shd),
           |exb2 AS (SELECT doc_id, unnest(shs) AS s FROM shb2),
           |p2 AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS inter
           |       FROM exb2 b JOIN exd c ON b.s = c.s GROUP BY 1, 2),
           |j2 AS (SELECT bid, cid,
           |         round(inter * 1.0 / (len(x.shs) + len(y.shs) - inter), 6) AS jac
           |       FROM p2 JOIN shb2 x ON p2.bid = x.doc_id JOIN shd y ON p2.cid = y.doc_id
           |       WHERE inter * 1.0 / (len(x.shs) + len(y.shs) - inter) >= 0.8),
           |best AS (SELECT bid, cid, jac,
           |         row_number() OVER (PARTITION BY bid ORDER BY jac DESC, cid) AS rn
           |         FROM j2)
           |SELECT b2.doc_id, b.cid AS dup_of, b.jac AS jaccard, b.cid IS NULL AS keep
           |FROM b2 LEFT JOIN best b ON b2.doc_id = b.bid AND b.rn = 1
           |ORDER BY b2.doc_id""".stripMargin))

  /** Day-2 incremental EMBEDDING near-dup: batch B1 (the 25 vectors before
    * the last 25, plus five novel negated copies of vectors 0-4 at
    * synthetic ids) is judged against the preceding corpus via its stored
    * sign-LSH buckets, kept vectors' signatures are absorbed
    * ([[Materialized.absorb]] into [[Materialized.Stores.EmbSigs]]), and
    * batch B2 (the last
    * 25 vectors plus exact copies of three absorbed keeps and of corpus
    * vector 7) is judged against corpus ∪ kept(B1) through the absorbed
    * store — deterministic hyperplanes keep every generation's signatures
    * mutually consistent. Slices anchored at max(vec_id): both days stay
    * fixed-size at every sf. */
  val dedupIncrementalEmb2: QueryDef = QueryDef("dedup_incremental_emb2",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val maxe = emb.agg(max("vec_id")).head.getLong(0)
      val cut = maxe - 49
      val corpus = emb.where(col("vec_id") < cut)
      val neg = transform(col("embedding"), x => -x)
      val b1 = emb.where(col("vec_id") >= cut && col("vec_id") < cut + 25)
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.where(col("vec_id") < 5)
          .select((col("vec_id") + maxe + 1001).as("vec_id"), neg.as("embedding")))
      val corpusSigs = Materialized.embeddingSignatures(s, d).where(col("id") < cut)
      // B1 verdict evaluated once, keep ids pinned driver-side (the batch
      // side is broadcast-bounded by the operator's own contract — see
      // dedup_incremental_near2)
      import s.implicits._
      val keptIdSeq = Dedup.dedupIncrementalEmbedding(b1, corpusSigs, corpus,
          "vec_id", "embedding", dims = 64, threshold = 0.9)
        .where(col("keep")).select(col("vec_id")).as[Long].collect().toSeq
      val keptIds = keptIdSeq.toDF("vec_id")
      val keptVecs = b1.join(broadcast(keptIds), Seq("vec_id"), "left_semi")
      val store = Materialized.Stores.EmbSigs
      Materialized.absorb(s, d, store, store.rowsOf(s, d, keptVecs, "vec_id", "embedding"),
        "emb2_b1v2")
      val b2 = emb.where(col("vec_id") >= cut + 25).select(col("vec_id"), col("embedding"))
        .unionByName(emb.where(col("vec_id") < 3)
          .select((col("vec_id") + maxe + 2001).as("vec_id"), neg.as("embedding")))
        .unionByName(emb.where(col("vec_id") === 7)
          .select(lit(maxe + 3001).as("vec_id"), col("embedding")))
      val headSigs = Materialized.embeddingSignatures(s, d)
      val day2Sigs = headSigs.where(col("id") < cut ||
        col("id").isInCollection(keptIdSeq))
      val day2Emb = corpus.select(col("vec_id"), col("embedding")).unionByName(keptVecs)
      Dedup.dedupIncrementalEmbedding(b2, day2Sigs, day2Emb,
          "vec_id", "embedding", dims = 64, threshold = 0.9)
        .orderBy("vec_id")
    },
    Some("""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |corpus AS (SELECT vec_id, v FROM e, mx WHERE vec_id < m - 49),
           |b1 AS (SELECT vec_id, v FROM e, mx WHERE vec_id >= m - 49 AND vec_id < m - 24
           |       UNION ALL SELECT vec_id + m + 1001, [-x for x in v]
           |                 FROM e, mx WHERE vec_id < 5),
           |nc AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM corpus),
           |nb1 AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM b1),
           |j1 AS (SELECT DISTINCT b.vec_id AS bid
           |       FROM nb1 b, nc c
           |       WHERE round(list_sum([b.v[i] * c.v[i] for i in range(1, 65)]) /
           |         (b.nrm * c.nrm), 6) >= 0.9),
           |kept1 AS (SELECT vec_id, v FROM b1 WHERE vec_id NOT IN (SELECT bid FROM j1)),
           |day2 AS (SELECT vec_id, v FROM corpus UNION ALL SELECT vec_id, v FROM kept1),
           |b2 AS (SELECT vec_id, v FROM e, mx WHERE vec_id >= m - 24
           |       UNION ALL SELECT vec_id + m + 2001, [-x for x in v]
           |                 FROM e, mx WHERE vec_id < 3
           |       UNION ALL SELECT m + 3001, v FROM e, mx WHERE vec_id = 7),
           |nd AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM day2),
           |nb2 AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM b2),
           |p AS (SELECT b.vec_id AS bid, c.vec_id AS cid,
           |        round(list_sum([b.v[i] * c.v[i] for i in range(1, 65)]) /
           |          (b.nrm * c.nrm), 6) AS cs
           |      FROM nb2 b, nd c),
           |j2 AS (SELECT bid, cid, cs FROM p WHERE cs >= 0.9),
           |best AS (SELECT bid, cid, cs,
           |         row_number() OVER (PARTITION BY bid ORDER BY cs DESC, cid) AS rn FROM j2)
           |SELECT b2.vec_id, b.cid AS dup_of, b.cs AS cosine, b.cid IS NULL AS keep
           |FROM b2 LEFT JOIN best b ON b2.vec_id = b.bid AND b.rn = 1
           |ORDER BY b2.vec_id""".stripMargin))

  /** Batched BPE tokenizer training over the corpus (256-merge budget as
    * 8 rounds × 32): the classic word-frequency reduction — one corpus
    * scan builds the distinct-word table, then each ROUND is one flat
    * job over it (weighted pair counts → top-128 candidate pool → greedy
    * disjoint selection of ≤32 merges → one compiled token-level apply);
    * the merge list lives on the driver. Rounds scale with vocabulary /
    * batch, not vocabulary — the round-7 "32k merges = 32k jobs" gap.
    * The oracle replays the full batched loop ([[bpeTrainedSql]]) with
    * token-level merge application — the round-7 string-replace
    * under-merge (`abab` → `[ab, a, b]`) is gone from both engines. On
    * this corpus the 31-word vocabulary exhausts its pairs before the
    * budget; both engines stop identically. */
  val textBpeTrain: QueryDef = QueryDef("text_bpe_train",
    (s, d) => TextAnalysis.bpeTrain(Tables.documents(s, d), "text",
        merges = 256, batch = 32)
      .orderBy("rank"),
    Some(s"""WITH $bpeTrainedSql,
            |m AS (${(1 to BpeRounds).map(n =>
                s"SELECT $n AS round, rsel, pair, cnt FROM b$n")
                .mkString("\n|      UNION ALL ")})
            |SELECT row_number() OVER (ORDER BY round, rsel) AS rank,
            |  string_split(pair, ' ')[1] AS lhs,
            |  string_split(pair, ' ')[2] AS rhs,
            |  replace(pair, ' ', '') AS merged, cnt::BIGINT AS cnt
            |FROM m ORDER BY rank""".stripMargin))

  /** GPT-2-pre-tokenized BPE training: the same batched loop run over
    * [[TextAnalysis.preTokenizedCorpus]] — the corpus rewritten as
    * space-joined Ġ-marked pieces — so merges respect pre-token
    * boundaries (the GPT-2 invariant) and the alphabet gains `Ġ`. The
    * oracle is the SAME [[bpeTrainedSqlFor]] replay with only the word
    * stream swapped to the marked-piece stream; the loop CTEs are
    * shared, so the two trainers cannot silently diverge. */
  val textBpeTrainPre: QueryDef = QueryDef("text_bpe_train_pre",
    (s, d) => TextAnalysis.bpeTrain(
        TextAnalysis.preTokenizedCorpus(Tables.documents(s, d), "text"),
        "text", merges = 256, batch = 32)
      .orderBy("rank"),
    Some(s"""WITH ${bpeTrainedSqlFor(BpeRounds, BpeBatch, gpt2PieceWordSql)},
            |m AS (${(1 to BpeRounds).map(n =>
                s"SELECT $n AS round, rsel, pair, cnt FROM b$n")
                .mkString("\n|      UNION ALL ")})
            |SELECT row_number() OVER (ORDER BY round, rsel) AS rank,
            |  string_split(pair, ' ')[1] AS lhs,
            |  string_split(pair, ' ')[2] AS rhs,
            |  replace(pair, ' ', '') AS merged, cnt::BIGINT AS cnt
            |FROM m ORDER BY rank""".stripMargin))

  /** Deterministic multi-byte texts planted beside the (ASCII) synthetic
    * corpus so the byte-level trainer demonstrably merges at BYTE
    * granularity: Latin-1 accents (2 UTF-8 bytes/char), CJK (3), emoji
    * (4), plus a soft hyphen (the 173 shift case) and a tab/newline run.
    * Interpolated literally into the SQL replay, so both engines train
    * on byte-identical rows (the [[clfJunkTexts]] pattern). */
  private def bpeMultibyteTexts: Seq[String] = Seq(
    "café naïve résumé déjà café naïve résumé déjà",
    "der große übermut — schöne grüße — der große übermut",
    "中文 分词 测试 中文 分词 测试 中文 分词",
    "emoji 😀😀 mix 😀😀 emoji café 😀😀 mix",
    "soft­hyphen soft­hyphen tab\tand\nnewline run")

  /** GPT-2's bytes_to_unicode as a DuckDB expression over one piece
    * column — the SQL replica of [[TextAnalysis.gpt2ByteMap]] (UTF-8
    * bytes via `encode`/hex pairs, each mapped through the keep/shift
    * CASE, rejoined with `chr`). */
  private def byteMapSql(piece: String): String =
    s"""array_to_string([chr(CASE
       |    WHEN b BETWEEN 33 AND 126 OR b BETWEEN 161 AND 172
       |         OR b BETWEEN 174 AND 255 THEN b
       |    WHEN b <= 32 THEN 256 + b
       |    WHEN b BETWEEN 127 AND 160 THEN b + 162
       |    ELSE 323 END)
       |  for b in [('0x' || h)::INT
       |            for h in regexp_extract_all(hex(encode($piece)), '..')]],
       |  '')""".stripMargin

  private val gpt2RegexSqlLit: String =
    "'''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'"

  /** The byte-level piece stream: GPT-2 pre-tokens of documents ∪ the
    * planted multi-byte rows, each piece's UTF-8 bytes rewritten through
    * the bytes_to_unicode map — the exact construction
    * [[TextAnalysis.byteLevelCorpus]] performs, replayed over DuckDB's
    * `encode`/hex-pair/`chr` primitives. */
  private def byteWordSql: String = {
    val planted = bpeMultibyteTexts
      .map(t => s"('${t.replace("'", "''")}')").mkString(", ")
    s"""SELECT ${byteMapSql("piece")} AS w
       |FROM (SELECT unnest(regexp_extract_all(text,
       |    $gpt2RegexSqlLit)) AS piece
       |  FROM (SELECT text FROM documents WHERE text IS NOT NULL
       |        UNION ALL SELECT * FROM (VALUES $planted) v(text)))""".stripMargin
  }

  /** BYTE-level BPE training ([[TextAnalysis.byteLevelCorpus]] ∘
    * [[TextAnalysis.bpeTrain]]): pre-tokenize, rewrite each piece's UTF-8
    * bytes through GPT-2's bytes_to_unicode, train over the resulting
    * piece table — the trainer loop is unchanged, only the alphabet is.
    * The corpus plants accented/CJK/emoji rows so merges demonstrably
    * form at byte granularity (é enters as the two base tokens Ã©); the
    * oracle replays the byte map stage-for-stage through
    * `encode`/hex/`chr`, so the merge list is hash-gated end to end.
    * Round-trip (chars → bytes → text) is property-pinned in LlmSpec. */
  val textBpeTrainBytes: QueryDef = QueryDef("text_bpe_train_bytes",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("text"))
      val planted = bpeMultibyteTexts.toDF("text")
      TextAnalysis.bpeTrain(
          TextAnalysis.byteLevelCorpus(docs.unionByName(planted), "text"),
          "text", merges = 256, batch = 32)
        .orderBy("rank")
    },
    Some(s"""WITH ${bpeTrainedSqlFor(BpeRounds, BpeBatch, byteWordSql)},
            |m AS (${(1 to BpeRounds).map(n =>
                s"SELECT $n AS round, rsel, pair, cnt FROM b$n")
                .mkString("\n|      UNION ALL ")})
            |SELECT row_number() OVER (ORDER BY round, rsel) AS rank,
            |  string_split(pair, ' ')[1] AS lhs,
            |  string_split(pair, ' ')[2] AS rhs,
            |  replace(pair, ' ', '') AS merged, cnt::BIGINT AS cnt
            |FROM m ORDER BY rank""".stripMargin))

  /** The byte-level ENCODE twin: per-doc token counts under the stored
    * byte-level tokenizer — train the merges over the byte-mapped piece
    * table (the `text_bpe_train_bytes` construction), then replay the
    * rank-ordered list over each doc's byte-mapped piece stream
    * ([[TextAnalysis.byteLevelCorpusKeyed]] ∘
    * [[TextAnalysis.bpeDocTokensFromMerges]] — pieces ARE the word
    * table's words, so the compiled merge scan applies unchanged).
    * `n_base_tokens` counts UTF-8 BYTES (é = 2, 中 = 3, 😀 = 4 base
    * tokens — the GPT-2 alphabet), so the compression ratio is the real
    * byte-level one; planted multi-byte docs ride along at fixed ids in
    * both engines. */
  /** The `text_bpe_train_bytes` / `text_bpe_tokens_bytes*` corpus:
    * `documents` plus the planted multi-byte rows at fixed ids —
    * shared by the live queries, the stored-artifact builder
    * ([[Materialized.bpeByteMerges]]) and the SQL replays. */
  private[queries] def byteCorpusKeyed(s: org.apache.spark.sql.SparkSession,
                                       d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(bpeMultibyteTexts.zipWithIndex
        .map { case (t, i) => (90000000L + i, t) }.toDF("doc_id", "text"))
  }

  /** One per-doc byte-token replay serves the live-training query and the
    * stored-merges twin (sequential replay of the rank-ordered list equals
    * the training word table — the [[bpeTokensOracleSql]] argument). */
  private def bpeTokensBytesOracleSql: String = {
    val plantedIds = bpeMultibyteTexts.zipWithIndex
      .map { case (t, i) => s"(${90000000L + i}::BIGINT, '${t.replace("'", "''")}')" }
      .mkString(", ")
    s"""WITH ${bpeTrainedSqlFor(BpeRounds, BpeBatch, byteWordSql)},
       |wt AS (SELECT w, len(string_split(trim(s), ' ')) AS n_tok,
       |         length(w) AS n_chars FROM w$BpeRounds),
       |corpus AS (SELECT doc_id, text FROM documents
       |           UNION ALL SELECT * FROM (VALUES $plantedIds) v(doc_id, text)),
       |dp AS (SELECT doc_id, ${byteMapSql("piece")} AS w
       |       FROM (SELECT doc_id, unnest(regexp_extract_all(text,
       |           $gpt2RegexSqlLit)) AS piece
       |         FROM corpus WHERE text IS NOT NULL))
       |SELECT dp.doc_id, count(*)::BIGINT AS n_words,
       |  sum(wt.n_chars)::BIGINT AS n_base_tokens,
       |  sum(wt.n_tok)::BIGINT AS n_bpe_tokens
       |FROM dp JOIN wt ON dp.w = wt.w
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val textBpeTokensBytes: QueryDef = QueryDef("text_bpe_tokens_bytes",
    (s, d) => {
      // r15 optimization: delta-maintained trainer (one corpus scan) in
      // place of the per-round re-count loop — identical merge list
      // (LlmSpec equivalence property; `text_bpe_train_bytes` keeps
      // measuring the re-count loop itself), same oracle, same output.
      val mapped = TextAnalysis.byteLevelCorpusKeyed(
        byteCorpusKeyed(s, d), "doc_id", "text")
      val merges = TextAnalysis.bpeTrainDelta(mapped, "text",
          merges = 256, batch = 32)
        .orderBy("rank").select("lhs", "rhs").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TextAnalysis.bpeDocTokensFromMerges(mapped, "doc_id", "text", merges)
        .orderBy("doc_id")
    },
    Some(bpeTokensBytesOracleSql))

  /** Tokenization from the STORED byte-level tokenizer artifact
    * ([[Materialized.bpeByteMerges]] → the compiled merge scan over the
    * byte-mapped piece stream): training paid once per (corpus, config);
    * each encode run collects the 256-row merge list (driver-safe by
    * construction) — the `text_bpe_tokens2` production pattern at the
    * byte alphabet. */
  val textBpeTokensBytes2: QueryDef = QueryDef("text_bpe_tokens_bytes2",
    (s, d) => {
      val merges = Materialized.bpeByteMerges(s, d).orderBy("rank")
        .select("lhs", "rhs").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TextAnalysis.bpeDocTokensFromMerges(
          TextAnalysis.byteLevelCorpusKeyed(byteCorpusKeyed(s, d), "doc_id", "text"),
          "doc_id", "text", merges)
        .orderBy("doc_id")
    },
    Some(bpeTokensBytesOracleSql))

  /** Delta-maintained BPE training ([[TextAnalysis.bpeTrainDelta]]) at a
    * 32k-vocab-shaped budget (16 rounds × 256 = 4,096 merges): pair
    * counts update incrementally between rounds — only words containing
    * a just-applied merge are touched — so the whole run pays ONE
    * distributed corpus scan, vs one full pair-count scan per round in
    * `text_bpe_train`. Selection semantics are identical (property-pinned
    * equal to the re-count loop in LlmSpec), so the oracle is the same
    * batched replay at this query's (rounds, batch); on this corpus the
    * 31-word vocabulary exhausts its pairs early and both engines stop
    * at the same short list. */
  val textBpeTrain2: QueryDef = QueryDef("text_bpe_train2",
    (s, d) => TextAnalysis.bpeTrainDelta(Tables.documents(s, d), "text",
        merges = Bpe2Rounds * Bpe2Batch, batch = Bpe2Batch)
      .orderBy("rank"),
    Some(s"""WITH ${bpeTrainedSqlFor(Bpe2Rounds, Bpe2Batch)},
            |m AS (${(1 to Bpe2Rounds).map(n =>
                s"SELECT $n AS round, rsel, pair, cnt FROM b$n")
                .mkString("\n|      UNION ALL ")})
            |SELECT row_number() OVER (ORDER BY round, rsel) AS rank,
            |  string_split(pair, ' ')[1] AS lhs,
            |  string_split(pair, ' ')[2] AS rhs,
            |  replace(pair, ' ', '') AS merged, cnt::BIGINT AS cnt
            |FROM m ORDER BY rank""".stripMargin))

  /** The learned tokenizer applied back to the corpus: per document,
    * word / base-character / post-merge BPE token counts — the
    * compression the learned merges buy. One explode + one hash join on
    * the word + one partial+final agg. */
  /** The per-doc token-count replay shared by `text_bpe_tokens` (live
    * training) and `text_bpe_tokens2` (stored merge list) — sequential
    * replay of the stored rank-ordered merges equals the training word
    * table (token-disjoint batches), so one oracle serves both. */
  private def bpeTokensOracleSql =
    s"""WITH $bpeTrainedSql,
       |wt AS (SELECT w, len(string_split(trim(s), ' ')) AS n_tok,
       |         length(w) AS n_chars FROM w$BpeRounds)
       |SELECT d.doc_id, count(*)::BIGINT AS n_words,
       |  sum(wt.n_chars)::BIGINT AS n_base_tokens,
       |  sum(wt.n_tok)::BIGINT AS n_bpe_tokens
       |FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS w
       |      FROM documents) d
       |JOIN wt ON d.w = wt.w
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val textBpeTokens: QueryDef = QueryDef("text_bpe_tokens",
    // r15 optimization: the trainer feeding this TOKENIZATION measurement is
    // the delta-maintained one (ONE distributed corpus scan) instead of the
    // per-round re-count loop (rounds × pair-count jobs) — the two trainers
    // emit the identical merge list row-for-row (LlmSpec equivalence
    // property; `text_bpe_train` keeps measuring the re-count loop itself)
    // and sequential replay of the rank-ordered merges equals the training
    // word table, so the same oracle pins the output unchanged.
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = TextAnalysis.bpeTrainDelta(docs, "text",
          merges = 256, batch = 32)
        .orderBy("rank").select("lhs", "rhs").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TextAnalysis.bpeDocTokensFromMerges(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },
    Some(bpeTokensOracleSql))

  /** Tokenization from the STORED tokenizer artifact
    * ([[Materialized.bpeMerges]] → [[TextAnalysis.bpeDocTokensFromMerges]]):
    * training paid once per (corpus, config); each run collects the
    * 256-row merge list (driver-safe by construction) and replays it over
    * the distinct-word table through the compiled merge scan. */
  val textBpeTokens2: QueryDef = QueryDef("text_bpe_tokens2",
    (s, d) => {
      val merges = Materialized.bpeMerges(s, d).orderBy("rank")
        .select("lhs", "rhs").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TextAnalysis.bpeDocTokensFromMerges(Tables.documents(s, d), "doc_id",
          "text", merges)
        .orderBy("doc_id")
    },
    Some(bpeTokensOracleSql))

  /** Deterministic training-order shuffle into 8 hash shards: shard by
    * content hash, position by in-shard hash rank — a corpus permutation
    * with no global sort and no RNG state. */
  val textShard: QueryDef = QueryDef("text_shard",
    (s, d) => TextAnalysis.shuffleShards(Tables.documents(s, d), "doc_id",
        "text", nShards = 8)
      .orderBy("doc_id"),
    Some("""WITH h AS (SELECT doc_id,
           |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS hkey FROM documents),
           |s AS (SELECT doc_id, hkey, hkey % 8 AS shard_id FROM h)
           |SELECT doc_id, shard_id,
           |  row_number() OVER (PARTITION BY shard_id ORDER BY hkey, doc_id)::BIGINT
           |    AS pos
           |FROM s ORDER BY doc_id""".stripMargin))

  /** Incremental exact dedup: the LAST 100 docs arrive as a new batch
    * against the preceding corpus (slices anchored at max(doc_id) so the
    * batch stays fixed-size at every sf), with five corpus copies and one
    * in-batch copy appended to exercise both duplicate classes. */
  val dedupIncremental: QueryDef = QueryDef("dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // anchor the demo slices at the END of the table so the batch stays
      // FIXED-SIZE at every sf (the operator's production shape: small
      // batch, growing corpus) and synthetic ids (maxd-offset) can never
      // collide with real doc ids
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val cut = maxd - 99
      val corpus = docs.where(col("doc_id") < cut)
      val batch = docs.where(col("doc_id") >= cut).select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") < 5)
          .select((col("doc_id") + maxd + 1001).as("doc_id"), col("text")))
        .unionByName(docs.where(col("doc_id") === cut + 50)
          .select(lit(maxd + 1101).as("doc_id"), col("text")))
      Dedup.dedupIncremental(batch, corpus, "doc_id", "text").orderBy("doc_id")
    },
    Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
           |corpus AS (SELECT text FROM documents, mx WHERE doc_id < m - 99),
           |nb AS (SELECT doc_id, text FROM documents, mx WHERE doc_id >= m - 99
           |       UNION ALL SELECT doc_id + m + 1001, text FROM documents, mx WHERE doc_id < 5
           |       UNION ALL SELECT m + 1101, text FROM documents, mx WHERE doc_id = m - 49),
           |ct AS (SELECT DISTINCT text, TRUE AS hit FROM corpus),
           |j AS (SELECT nb.doc_id, coalesce(ct.hit, FALSE) AS in_corpus,
           |        min(nb.doc_id) OVER (PARTITION BY nb.text) AS first_id
           |      FROM nb LEFT JOIN ct ON nb.text IS NOT DISTINCT FROM ct.text)
           |SELECT doc_id,
           |  CASE WHEN in_corpus THEN 'dup_of_corpus'
           |       WHEN doc_id <> first_id THEN 'dup_in_batch'
           |       ELSE 'kept' END AS status,
           |  (NOT in_corpus AND doc_id = first_id) AS keep
           |FROM j ORDER BY doc_id""".stripMargin))

  /** Bloom-pre-filtered incremental exact dedup
    * ([[Dedup.dedupIncrementalBloom]]): same demo slices and oracle as
    * `dedup_incremental` — the Bloom sketch is a pure pre-filter (no false
    * negatives; positives exact-confirmed), so the output is bit-identical
    * and shares the exact-SQL oracle. LlmSpec pins the equality and the
    * candidate prune the sketch buys. */
  val dedupBloom: QueryDef = QueryDef("dedup_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val cut = maxd - 99
      val corpus = docs.where(col("doc_id") < cut)
      val batch = docs.where(col("doc_id") >= cut).select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") < 5)
          .select((col("doc_id") + maxd + 1001).as("doc_id"), col("text")))
        .unionByName(docs.where(col("doc_id") === cut + 50)
          .select(lit(maxd + 1101).as("doc_id"), col("text")))
      Dedup.dedupIncrementalBloom(batch, corpus, "doc_id", "text",
        expectedCorpusItems = 100000L, fpp = 0.01).orderBy("doc_id")
    },
    Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
           |corpus AS (SELECT text FROM documents, mx WHERE doc_id < m - 99),
           |nb AS (SELECT doc_id, text FROM documents, mx WHERE doc_id >= m - 99
           |       UNION ALL SELECT doc_id + m + 1001, text FROM documents, mx WHERE doc_id < 5
           |       UNION ALL SELECT m + 1101, text FROM documents, mx WHERE doc_id = m - 49),
           |ct AS (SELECT DISTINCT text, TRUE AS hit FROM corpus),
           |j AS (SELECT nb.doc_id, coalesce(ct.hit, FALSE) AS in_corpus,
           |        min(nb.doc_id) OVER (PARTITION BY nb.text) AS first_id
           |      FROM nb LEFT JOIN ct ON nb.text IS NOT DISTINCT FROM ct.text)
           |SELECT doc_id,
           |  CASE WHEN in_corpus THEN 'dup_of_corpus'
           |       WHEN doc_id <> first_id THEN 'dup_in_batch'
           |       ELSE 'kept' END AS status,
           |  (NOT in_corpus AND doc_id = first_id) AS keep
           |FROM j ORDER BY doc_id""".stripMargin))

  /** Domain-mixture sampling keyed on language: en upsampled 1.5×, es
    * 2.25×, de kept, zh/fr downsampled — replication via epochs plus a
    * deterministic content-hash Bernoulli for the fractional part. */
  val textMixSample: QueryDef = QueryDef("text_mix_sample",
    (s, d) => TextAnalysis.mixtureSample(Tables.documents(s, d), "doc_id",
        "text", "lang",
        Map("en" -> 1.5, "de" -> 1.0, "fr" -> 0.5, "es" -> 2.25, "zh" -> 0.75))
      .orderBy("doc_id", "epoch"),
    Some("""WITH w AS (SELECT doc_id, lang,
           |  CASE lang WHEN 'en' THEN 1.5 WHEN 'de' THEN 1.0 WHEN 'fr' THEN 0.5
           |            WHEN 'es' THEN 2.25 WHEN 'zh' THEN 0.75 ELSE 0.0 END AS wt,
           |  ('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000 AS bucket
           |  FROM documents),
           |n AS (SELECT doc_id, lang AS mix_key,
           |  floor(wt)::BIGINT + (CASE WHEN bucket <
           |      floor((wt - floor(wt)) * 1000000)::BIGINT THEN 1 ELSE 0 END)
           |    AS n_epochs FROM w)
           |SELECT doc_id, mix_key,
           |  unnest(generate_series(0, n_epochs - 1))::BIGINT AS epoch
           |FROM n WHERE n_epochs > 0 ORDER BY doc_id, epoch""".stripMargin))

  /** Batch kNN join: the first 20 vectors each retrieve their cosine top-5
    * corpus neighbors in ONE corpus scan (broadcast query side,
    * per-partition bounded heaps, partial-winner merge) — the retrieval
    * shape for embedding-based data curation at 100 TB. */
  val simKnnJoin: QueryDef = QueryDef("sim_knn_join",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoin(emb, emb.where(col("vec_id") < 20), "vec_id",
          "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 20),
           |s AS (SELECT q.query_id, n.vec_id AS neighbor_id,
           |  round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)]) / (n.nrm * q.qn), 6)
           |    AS cosine
           |  FROM n, q WHERE n.vec_id <> q.query_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |  ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
           |SELECT query_id, neighbor_id, rank, cosine FROM r
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** IVF-probed batch kNN join over the STORED index: the first 20 vectors
    * each probe their 2 nearest cells and rank neighbors ONLY within the
    * probed-cell union — per-query cost O(probed cells), scan pruned to
    * the probed partitions, Q bounded by broadcast memory instead of
    * [[Similarity.knnJoin]]'s hard 4,096. The oracle replays train →
    * assign → per-query probe → rank exactly. */
  /** The probed-join replay shared by `sim_knn_join_ivf` and
    * `sim_knn_join_auto` (the dispatcher adds routing, never different
    * math — one oracle keeps the two from silently diverging). */
  private def knnJoinIvfOracleSql =
    s"""WITH $ivfTrainedSql,
       |$ivfAssignFromTrainedSql,
       |qs AS (SELECT vec_id AS query_id, v AS qv,
       |         sqrt(list_sum([x * x for x in v])) AS qn FROM e WHERE vec_id < 20),
       |pd AS (SELECT q.query_id, c.centroid_id,
       |         row_number() OVER (PARTITION BY q.query_id
       |           ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
       |                              for i in range(1, 65)]), c.centroid_id) AS prn
       |       FROM c2 c, qs q),
       |probe AS (SELECT query_id, centroid_id FROM pd WHERE prn <= 2),
       |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
       |sc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
       |        round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)]) /
       |          (n.nrm * q.qn), 6) AS cosine
       |      FROM n JOIN a3 ON n.vec_id = a3.vec_id
       |        JOIN probe p ON a3.centroid_id = p.centroid_id
       |        JOIN qs q ON p.query_id = q.query_id
       |      WHERE n.vec_id <> q.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
       |SELECT query_id, neighbor_id, rank, cosine FROM r
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val simKnnJoinIvf: QueryDef = QueryDef("sim_knn_join_ivf",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      Similarity.knnJoinIvf(idx.assignment, idx.centroids,
          Tables.embeddings(s, d).where(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    Some(knnJoinIvfOracleSql))

  /** The kNN regime dispatcher ([[Materialized.knnJoinAuto]]) oracled
    * end-to-end: the stored index is ensured first, so dispatch must take
    * the "stored index wins" branch — asserted in-query, a silent
    * mis-route fails the correctness gate — and route to the IVF-probed
    * join, whose replay is the shared oracle above. */
  val simKnnJoinAuto: QueryDef = QueryDef("sim_knn_join_auto",
    (s, d) => {
      Materialized.ivfIndex(s, d) // deterministic regime: index present
      // baseView: the oracle replays train→assign from the corpus alone,
      // so dispatch must read the base generation, not a live view that
      // may carry absorbed batches from maintenance queries (the sf0.1
      // divergence this pins down)
      val choice = Materialized.knnJoinAuto(s, d,
        Tables.embeddings(s, d).where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nprobe = 2, baseView = true)
      require(choice.strategy == "ivf-probed",
        s"dispatch must choose the stored index: ${choice.strategy}")
      choice.result.orderBy("query_id", "rank")
    },
    Some(knnJoinIvfOracleSql))

  /** Fully DISTRIBUTED IVF-probed kNN join
    * ([[Similarity.knnJoinDistributed]]): the query side stays a DataFrame
    * end-to-end — no driver collect, no query broadcast, no Q bound — so
    * this is the table-vs-table retrieval shape ("every new doc's k
    * nearest stored neighbors") at any scale. Probe assignment runs as a
    * codegen'd L2 against the broadcast centroid sidecar with a
    * WindowGroupLimit capping it at nprobe rows per query; candidates come
    * from one equi-join on the index's `centroid_id` partition key; the
    * final per-query top-k is again WindowGroupLimit-bounded before its
    * exchange. Results are identical to `sim_knn_join_ivf` at the same
    * (k, nprobe) — LlmSpec property-pins the equality; the oracle replays
    * train → assign → probe → rank over a 40-query set. */
  val simKnnJoinDist: QueryDef = QueryDef("sim_knn_join_dist",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      Similarity.knnJoinDistributed(idx.assignment, idx.centroids,
          Tables.embeddings(s, d).where(col("vec_id") < 40),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |qs AS (SELECT vec_id AS query_id, v AS qv,
            |         sqrt(list_sum([x * x for x in v])) AS qn FROM e WHERE vec_id < 40),
            |pd AS (SELECT q.query_id, c.centroid_id,
            |         row_number() OVER (PARTITION BY q.query_id
            |           ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                              for i in range(1, 65)]), c.centroid_id) AS prn
            |       FROM c2 c, qs q),
            |probe AS (SELECT query_id, centroid_id FROM pd WHERE prn <= 2),
            |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
            |sc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
            |        round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)]) /
            |          (n.nrm * q.qn), 6) AS cosine
            |      FROM n JOIN a3 ON n.vec_id = a3.vec_id
            |        JOIN probe p ON a3.centroid_id = p.centroid_id
            |        JOIN qs q ON p.query_id = q.query_id
            |      WHERE n.vec_id <> q.query_id),
            |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
            |SELECT query_id, neighbor_id, rank, cosine FROM r
            |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** Table-scale hard negatives over the stored IVF index
    * ([[Similarity.hardNegativesDistributed]]): the `sim_hard_negatives`
    * semantics past the broadcast Q bound — label-mismatch filtered
    * BEFORE the rank so k true negatives always emerge; the oracle
    * replays train → assign → probe → label-filter → rank. */
  val simHardNegatives2: QueryDef = QueryDef("sim_hard_negatives2",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegativesDistributed(idx.assignment, idx.centroids,
          emb.where(col("vec_id") % 97 === 3),
          emb.select(col("vec_id").as("id"), col("label")),
          "vec_id", "embedding", "label", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |qs AS (SELECT e.vec_id AS query_id, emb.label AS query_label,
            |         e.v AS qv, sqrt(list_sum([x * x for x in e.v])) AS qn
            |       FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id
            |       WHERE e.vec_id % 97 = 3),
            |pd AS (SELECT q.query_id, c.centroid_id,
            |         row_number() OVER (PARTITION BY q.query_id
            |           ORDER BY list_sum([(c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i])
            |                              for i in range(1, 65)]), c.centroid_id) AS prn
            |       FROM c2 c, qs q),
            |probe AS (SELECT query_id, centroid_id FROM pd WHERE prn <= 2),
            |n AS (SELECT e.vec_id, emb.label, e.v,
            |        sqrt(list_sum([x * x for x in e.v])) AS nrm
            |      FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id
            |      WHERE list_sum([x * x for x in e.v]) > 0),
            |sc AS (SELECT q.query_id, q.query_label, n.vec_id AS neighbor_id,
            |        n.label AS neighbor_label,
            |        round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)]) /
            |          (n.nrm * q.qn), 6) AS cosine
            |      FROM n JOIN a3 ON n.vec_id = a3.vec_id
            |        JOIN probe p ON a3.centroid_id = p.centroid_id
            |        JOIN qs q ON p.query_id = q.query_id
            |      WHERE n.label <> q.query_label),
            |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc)
            |SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cosine
            |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** Corpus-wide kNN GRAPH ([[Similarity.knnGraph]]): every stored vector's
    * approximate top-3 neighbors from its own IVF cell (nprobe=1 — the
    * blocked NN-descent-style construction), plus the `mutual` flag
    * (reverse edge also ranked) that mutual-kNN dedup and diversity
    * selection consume. The query side IS the index — no broadcast, no Q
    * bound; candidate mass is the per-cell quadratic the cell-share dial
    * bounds. At nprobe=1 the probe re-rank reduces to the stored
    * assignment (same (dist, cell) tie rule), which is exactly how the
    * oracle replays it: train → assign → within-cell rank → reverse-edge
    * left join. */
  val simKnnGraph: QueryDef = QueryDef("sim_knn_graph",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      Similarity.knnGraph(idx.assignment, idx.centroids, k = 3, nprobe = 1)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |n AS (SELECT e.vec_id, e.v, sqrt(list_sum([x * x for x in e.v])) AS nrm,
            |        a3.centroid_id
            |      FROM e JOIN a3 ON e.vec_id = a3.vec_id),
            |sc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |        round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) /
            |          (a.nrm * b.nrm), 6) AS cosine
            |      FROM n a JOIN n b ON a.centroid_id = b.centroid_id
            |        AND a.vec_id <> b.vec_id
            |      WHERE b.nrm > 0),
            |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc),
            |g AS (SELECT query_id, neighbor_id, rank::BIGINT AS rank, cosine
            |      FROM r WHERE rank <= 3)
            |SELECT g.query_id, g.neighbor_id, g.rank, g.cosine,
            |  (g2.query_id IS NOT NULL) AS mutual
            |FROM g LEFT JOIN g g2 ON g.query_id = g2.neighbor_id
            |  AND g.neighbor_id = g2.query_id
            |ORDER BY g.query_id, g.rank""".stripMargin))

  /** Cell-balanced diversity sampling ([[Similarity.cellBalancedSample]]):
    * a 200-row budget apportioned over the stored IVF cells at α=0.5
    * (largest-remainder integer quotas), each cell admitting in
    * prototypicality order (stored build-time distance, then id) — the
    * cluster-balanced subset selector that keeps rare modes represented.
    * Oracle replays train → assign, the quota arithmetic, and the
    * per-cell window over `round(rd, 6)` (the stored `dist`'s rounding). */
  val simCellSample: QueryDef = QueryDef("sim_cell_sample",
    (s, d) => Similarity.cellBalancedSample(
        Materialized.ivfIndex(s, d).assignment, alpha = 0.5, n = 200)
      .orderBy("cell", "pos"),
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |cnts AS (SELECT centroid_id, count(*)::BIGINT AS n_c FROM a3 GROUP BY 1),
            |z AS (SELECT sum(pow(n_c, 0.5)) AS z FROM cnts),
            |f AS (SELECT centroid_id,
            |        round(pow(n_c, 0.5) / z.z * 200 * 1e6, 0)::BIGINT AS fr6
            |      FROM cnts CROSS JOIN z),
            |b AS (SELECT centroid_id, fr6 // 1000000 AS base,
            |        fr6 % 1000000 AS frac6 FROM f),
            |exx AS (SELECT 200 - sum(base) AS extra FROM b),
            |sr AS (SELECT centroid_id,
            |         row_number() OVER (ORDER BY frac6 DESC, centroid_id) AS rk FROM b),
            |q AS (SELECT b.centroid_id,
            |        base + CASE WHEN sr.rk <= exx.extra THEN 1 ELSE 0 END AS quota
            |      FROM b JOIN sr USING (centroid_id) CROSS JOIN exx),
            |r AS (SELECT vec_id, centroid_id,
            |        row_number() OVER (PARTITION BY centroid_id
            |          ORDER BY round(rd, 6), vec_id)::BIGINT AS pos
            |      FROM a3)
            |SELECT r.vec_id AS id, r.centroid_id AS cell, r.pos, q.quota
            |FROM r JOIN q USING (centroid_id)
            |WHERE r.pos <= q.quota ORDER BY cell, pos""".stripMargin))

  /** Mutual-kNN graph clustering: connected components over the
    * [[Similarity.knnGraph]] edges that are MUTUAL with non-negative
    * cosine — the graph-dedup endpoint (mutual edges are the standard
    * symmetrization that keeps hub vectors from chaining unrelated docs
    * through one-way neighbors). Components via [[Dedup.duplicateClusters]]
    * (driver union-find under the 1M-edge gate, distributed label
    * propagation past it); the oracle replays graph → mutual filter →
    * recursive reachability closure with min-id labels. */
  val simGraphClusters: QueryDef = QueryDef("sim_graph_clusters",
    (s, d) => {
      val idx = Materialized.ivfIndex(s, d)
      val g = Similarity.knnGraph(idx.assignment, idx.centroids, k = 3, nprobe = 1)
      val pairs = g.where(col("mutual") && col("cosine") >= 0.0 &&
          col("query_id") < col("neighbor_id"))
        .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
      Dedup.duplicateClusters(pairs,
          Tables.embeddings(s, d).select(col("vec_id").as("id")))
        .select(col("id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |n AS (SELECT e.vec_id, e.v, sqrt(list_sum([x * x for x in e.v])) AS nrm,
            |        a3.centroid_id
            |      FROM e JOIN a3 ON e.vec_id = a3.vec_id),
            |sc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
            |        round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) /
            |          (a.nrm * b.nrm), 6) AS cosine
            |      FROM n a JOIN n b ON a.centroid_id = b.centroid_id
            |        AND a.vec_id <> b.vec_id
            |      WHERE b.nrm > 0),
            |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |        ORDER BY cosine DESC, neighbor_id) AS rank FROM sc),
            |g AS (SELECT query_id, neighbor_id, cosine FROM rk WHERE rank <= 3),
            |gm AS (SELECT g.query_id AS id_a, g.neighbor_id AS id_b
            |       FROM g JOIN g g2 ON g.query_id = g2.neighbor_id
            |         AND g.neighbor_id = g2.query_id
            |       WHERE g.query_id < g.neighbor_id AND g.cosine >= 0.0),
            |edges AS (SELECT id_a AS a, id_b AS b FROM gm
            |          UNION ALL SELECT id_b, id_a FROM gm),
            |r(id, lab) AS (
            |  SELECT vec_id, vec_id FROM embeddings
            |  UNION
            |  SELECT e2.b, r.lab FROM r JOIN edges e2 ON e2.a = r.id)
            |SELECT id AS vec_id, min(lab) AS cluster_id FROM r GROUP BY id
            |ORDER BY vec_id""".stripMargin))

  /** SemDeDup at code bytes ([[Dedup.semanticDedupSdc]]): the within-cell
    * dedup scan scored entirely in residual-PQ code space over the STORED
    * index artifacts — both sides of the quadratic read m-byte codes.
    * Same election contract as `dedup_semantic2` (best earlier match,
    * ties to the smaller id, keep when none); t=0.5 on reconstruction
    * cosines. Oracle replays the full chain and the four-term DECIMAL
    * decomposition. */
  val dedupSemanticSdc: QueryDef = QueryDef("dedup_semantic_sdc",
    (s, d) => {
      val ivf = Materialized.ivfIndex(s, d)
      Dedup.semanticDedupSdc(Materialized.pqCodes(s, d),
          Materialized.pqCodebooks(s, d), ivf.centroids, threshold = 0.5)
        .orderBy("id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$ivfResidualSql,
            |$pqTrainedSql,
            |$pqEncodeSql,
            |nnt AS (SELECT subspace, code_id,
            |          round(list_sum([x * x for x in cv]), 6) AS nn6 FROM pb2),
            |sdt AS (SELECT p1.subspace, p1.code_id AS ca, p2.code_id AS cb,
            |          round(list_sum([p1.cv[i] * p2.cv[i] for i in range(1, 9)]), 6)
            |            AS sdot6
            |        FROM pb2 p1 JOIN pb2 p2 ON p1.subspace = p2.subspace),
            |lutc AS (SELECT c.centroid_id AS cell, p.subspace, p.code_id,
            |          round(list_sum([c.cv[p.subspace*8 + i] * p.cv[i]
            |                          for i in range(1, 9)]), 6) AS cdot6
            |         FROM pb2 p, c2 c),
            |cc AS (SELECT centroid_id AS cell,
            |        round(list_sum([x * x for x in cv]), 6) AS cn6 FROM c2),
            |mem AS (SELECT a.vec_id, a3.centroid_id AS cell,
            |          sum(CAST(l.cdot6 AS DECIMAL(20,6))) AS sa,
            |          sum(CAST(n.nn6 AS DECIMAL(20,6))) AS snn
            |        FROM pa3 a JOIN a3 ON a.vec_id = a3.vec_id
            |        JOIN lutc l ON a3.centroid_id = l.cell
            |          AND a.subspace = l.subspace AND a.code_id = l.code_id
            |        JOIN nnt n ON a.subspace = n.subspace AND a.code_id = n.code_id
            |        GROUP BY 1, 2),
            |memn AS (SELECT mem.vec_id, mem.cell, mem.sa,
            |          CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * mem.sa + mem.snn AS na
            |         FROM mem JOIN cc ON mem.cell = cc.cell),
            |valid AS (SELECT * FROM memn WHERE na > 0),
            |sc AS (SELECT a.vec_id AS id, b.vec_id AS id_b, a.cell,
            |         a.sa AS qsa, a.na AS qna, b.sa AS nsa, b.na AS nna
            |       FROM valid a JOIN valid b ON a.cell = b.cell
            |         AND b.vec_id < a.vec_id),
            |sab AS (SELECT sc.id, sc.id_b,
            |          sum(CAST(s.sdot6 AS DECIMAL(20,6))) AS sab
            |        FROM sc JOIN pa3 qa ON sc.id = qa.vec_id
            |          JOIN pa3 qb ON sc.id_b = qb.vec_id
            |            AND qb.subspace = qa.subspace
            |          JOIN sdt s ON s.subspace = qa.subspace
            |            AND s.ca = qa.code_id AND s.cb = qb.code_id
            |        GROUP BY 1, 2),
            |sco AS (SELECT sc.id, sc.id_b,
            |          round(((CAST(cc.cn6 AS DECIMAL(20,6)) + sc.qsa + sc.nsa
            |                  + sab.sab)::DOUBLE)
            |            / (sqrt(sc.qna::DOUBLE) * sqrt(sc.nna::DOUBLE)), 6) AS cos
            |        FROM sc JOIN sab ON sc.id = sab.id AND sc.id_b = sab.id_b
            |          JOIN cc ON sc.cell = cc.cell),
            |best AS (SELECT id, id_b AS dup_of, cos AS sdc_cosine FROM (
            |    SELECT *, row_number() OVER (PARTITION BY id
            |      ORDER BY cos DESC, id_b) AS rn
            |    FROM sco WHERE cos >= 0.5) WHERE rn = 1)
            |SELECT m.vec_id AS id, m.cell AS cluster_id, best.dup_of,
            |  best.sdc_cosine, (best.dup_of IS NULL) AS keep
            |FROM memn m LEFT JOIN best ON m.vec_id = best.id
            |ORDER BY id""".stripMargin))

  /** Code-to-code SDC kNN graph ([[Similarity.knnGraphSdc]]): the graph
    * construction at PURE CODE BYTES — both sides of every comparison are
    * the stored m-byte residual-PQ codes (12.8 MB vs 630 MB raw at the
    * measured 1M geometry), scored through precomputed 6-dp term tables
    * (‖c‖², c·cv, cv·cv per code pair) with exact integer sums. The
    * oracle replays train → assign → residual → PQ-train → encode, then
    * the same four-term decomposition as DECIMAL sums. */
  val simGraphSdc: QueryDef = QueryDef("sim_graph_sdc",
    (s, d) => {
      val ivf = Materialized.ivfIndex(s, d)
      Similarity.knnGraphSdc(Materialized.pqCodes(s, d),
          Materialized.pqCodebooks(s, d), ivf.centroids, k = 3)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$ivfResidualSql,
            |$pqTrainedSql,
            |$pqEncodeSql,
            |nnt AS (SELECT subspace, code_id,
            |          round(list_sum([x * x for x in cv]), 6) AS nn6 FROM pb2),
            |sdt AS (SELECT p1.subspace, p1.code_id AS ca, p2.code_id AS cb,
            |          round(list_sum([p1.cv[i] * p2.cv[i] for i in range(1, 9)]), 6)
            |            AS sdot6
            |        FROM pb2 p1 JOIN pb2 p2 ON p1.subspace = p2.subspace),
            |lutc AS (SELECT c.centroid_id AS cell, p.subspace, p.code_id,
            |          round(list_sum([c.cv[p.subspace*8 + i] * p.cv[i]
            |                          for i in range(1, 9)]), 6) AS cdot6
            |         FROM pb2 p, c2 c),
            |cc AS (SELECT centroid_id AS cell,
            |        round(list_sum([x * x for x in cv]), 6) AS cn6 FROM c2),
            |mem AS (SELECT a.vec_id, a3.centroid_id AS cell,
            |          sum(CAST(l.cdot6 AS DECIMAL(20,6))) AS sa,
            |          sum(CAST(n.nn6 AS DECIMAL(20,6))) AS snn
            |        FROM pa3 a JOIN a3 ON a.vec_id = a3.vec_id
            |        JOIN lutc l ON a3.centroid_id = l.cell
            |          AND a.subspace = l.subspace AND a.code_id = l.code_id
            |        JOIN nnt n ON a.subspace = n.subspace AND a.code_id = n.code_id
            |        GROUP BY 1, 2),
            |keep AS (SELECT mem.vec_id, mem.cell, mem.sa,
            |          CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * mem.sa + mem.snn AS na
            |         FROM mem JOIN cc ON mem.cell = cc.cell
            |         WHERE CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * mem.sa + mem.snn > 0),
            |sc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.cell,
            |         a.sa AS qsa, a.na AS qna, b.sa AS nsa, b.na AS nna
            |       FROM keep a JOIN keep b ON a.cell = b.cell
            |         AND a.vec_id <> b.vec_id),
            |sab AS (SELECT sc.query_id, sc.neighbor_id,
            |          sum(CAST(s.sdot6 AS DECIMAL(20,6))) AS sab
            |        FROM sc JOIN pa3 qa ON sc.query_id = qa.vec_id
            |          JOIN pa3 qb ON sc.neighbor_id = qb.vec_id
            |            AND qb.subspace = qa.subspace
            |          JOIN sdt s ON s.subspace = qa.subspace
            |            AND s.ca = qa.code_id AND s.cb = qb.code_id
            |        GROUP BY 1, 2),
            |fin AS (SELECT sc.query_id, sc.neighbor_id,
            |          round(((CAST(cc.cn6 AS DECIMAL(20,6)) + sc.qsa + sc.nsa
            |                  + sab.sab)::DOUBLE)
            |            / (sqrt(sc.qna::DOUBLE) * sqrt(sc.nna::DOUBLE)), 6)
            |            AS sdc_cosine
            |        FROM sc JOIN sab USING (query_id, neighbor_id)
            |          JOIN cc ON sc.cell = cc.cell),
            |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |         ORDER BY sdc_cosine DESC, neighbor_id) AS rank FROM fin),
            |g AS (SELECT query_id, neighbor_id, rank::BIGINT AS rank, sdc_cosine
            |      FROM rk WHERE rank <= 3)
            |SELECT g.query_id, g.neighbor_id, g.rank, g.sdc_cosine,
            |  (g2.query_id IS NOT NULL) AS mutual
            |FROM g LEFT JOIN g g2 ON g.query_id = g2.neighbor_id
            |  AND g.neighbor_id = g2.query_id
            |ORDER BY g.query_id, g.rank""".stripMargin))

  /** OPQ-ROTATED code-to-code SDC kNN graph
    * ([[Similarity.knnGraphSdc]] with the rotation over
    * [[Materialized.opqCodes]]/[[Materialized.opqCodebooks]]): the
    * sim_graph_sdc construction at the SAME bytes, with the
    * sign-flip + Walsh–Hadamard pre-rotation decorrelating the subspace
    * split — the dial against the documented top-1-agreement weakness
    * of plain residual PQ on structureless corpora. Only the
    * centroid-cross term changes (`c·Rᵀr̂ = (R·c)·r̂`); the oracle
    * replays the rotation as the bit-equal 6-stage butterfly and then
    * the identical four-term decomposition. */
  val simGraphSdc2: QueryDef = QueryDef("sim_graph_sdc2",
    (s, d) => {
      val ivf = Materialized.ivfIndex(s, d)
      Similarity.knnGraphSdc(Materialized.opqCodes(s, d),
          Materialized.opqCodebooks(s, d), ivf.centroids, k = 3,
          rotation = Some(Similarity.opqSigns(64, Materialized.OpqSeed)))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$opqSgCte,
            |${ivfResidualRawSql("er0")},
            |${opqChainSql("er0", "er", "vec_id, centroid_id")},
            |$pqTrainedSql,
            |$pqEncodeSql,
            |c20 AS (SELECT centroid_id, cv AS rv FROM c2),
            |${opqChainSql("c20", "crot", "centroid_id")},
            |cr AS (SELECT centroid_id, rv AS cv FROM crot),
            |nnt AS (SELECT subspace, code_id,
            |          round(list_sum([x * x for x in cv]), 6) AS nn6 FROM pb2),
            |sdt AS (SELECT p1.subspace, p1.code_id AS ca, p2.code_id AS cb,
            |          round(list_sum([p1.cv[i] * p2.cv[i] for i in range(1, 9)]), 6)
            |            AS sdot6
            |        FROM pb2 p1 JOIN pb2 p2 ON p1.subspace = p2.subspace),
            |lutc AS (SELECT c.centroid_id AS cell, p.subspace, p.code_id,
            |          round(list_sum([c.cv[p.subspace*8 + i] * p.cv[i]
            |                          for i in range(1, 9)]), 6) AS cdot6
            |         FROM pb2 p, cr c),
            |cc AS (SELECT centroid_id AS cell,
            |        round(list_sum([x * x for x in cv]), 6) AS cn6 FROM c2),
            |mem AS (SELECT a.vec_id, a3.centroid_id AS cell,
            |          sum(CAST(l.cdot6 AS DECIMAL(20,6))) AS sa,
            |          sum(CAST(n.nn6 AS DECIMAL(20,6))) AS snn
            |        FROM pa3 a JOIN a3 ON a.vec_id = a3.vec_id
            |        JOIN lutc l ON a3.centroid_id = l.cell
            |          AND a.subspace = l.subspace AND a.code_id = l.code_id
            |        JOIN nnt n ON a.subspace = n.subspace AND a.code_id = n.code_id
            |        GROUP BY 1, 2),
            |keep AS (SELECT mem.vec_id, mem.cell, mem.sa,
            |          CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * mem.sa + mem.snn AS na
            |         FROM mem JOIN cc ON mem.cell = cc.cell
            |         WHERE CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * mem.sa + mem.snn > 0),
            |sc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.cell,
            |         a.sa AS qsa, a.na AS qna, b.sa AS nsa, b.na AS nna
            |       FROM keep a JOIN keep b ON a.cell = b.cell
            |         AND a.vec_id <> b.vec_id),
            |sab AS (SELECT sc.query_id, sc.neighbor_id,
            |          sum(CAST(s.sdot6 AS DECIMAL(20,6))) AS sab
            |        FROM sc JOIN pa3 qa ON sc.query_id = qa.vec_id
            |          JOIN pa3 qb ON sc.neighbor_id = qb.vec_id
            |            AND qb.subspace = qa.subspace
            |          JOIN sdt s ON s.subspace = qa.subspace
            |            AND s.ca = qa.code_id AND s.cb = qb.code_id
            |        GROUP BY 1, 2),
            |fin AS (SELECT sc.query_id, sc.neighbor_id,
            |          round(((CAST(cc.cn6 AS DECIMAL(20,6)) + sc.qsa + sc.nsa
            |                  + sab.sab)::DOUBLE)
            |            / (sqrt(sc.qna::DOUBLE) * sqrt(sc.nna::DOUBLE)), 6)
            |            AS sdc_cosine
            |        FROM sc JOIN sab USING (query_id, neighbor_id)
            |          JOIN cc ON sc.cell = cc.cell),
            |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
            |         ORDER BY sdc_cosine DESC, neighbor_id) AS rank FROM fin),
            |g AS (SELECT query_id, neighbor_id, rank::BIGINT AS rank, sdc_cosine
            |      FROM rk WHERE rank <= 3)
            |SELECT g.query_id, g.neighbor_id, g.rank, g.sdc_cosine,
            |  (g2.query_id IS NOT NULL) AS mutual
            |FROM g LEFT JOIN g g2 ON g.query_id = g2.neighbor_id
            |  AND g.neighbor_id = g2.query_id
            |ORDER BY g.query_id, g.rank""".stripMargin))

  /** OPQ-ROTATED SemDeDup at code bytes ([[Dedup.semanticDedupSdc]] with
    * the rotation over the stored OPQ artifacts): `dedup_semantic_sdc`'s
    * election contract at the same bytes, with the rotated-residual
    * codes and the `(R·c)·r̂` centroid-cross term — the SDC consumer
    * family's second member on the OPQ dial. Oracle = the full chain
    * replay with the butterfly CTEs. */
  val dedupSemanticSdc2: QueryDef = QueryDef("dedup_semantic_sdc2",
    (s, d) => {
      val ivf = Materialized.ivfIndex(s, d)
      Dedup.semanticDedupSdc(Materialized.opqCodes(s, d),
          Materialized.opqCodebooks(s, d), ivf.centroids, threshold = 0.5,
          rotation = Some(Similarity.opqSigns(64, Materialized.OpqSeed)))
        .orderBy("id")
    },
    Some(s"""WITH $ivfTrainedSql,
            |$ivfAssignFromTrainedSql,
            |$opqSgCte,
            |${ivfResidualRawSql("er0")},
            |${opqChainSql("er0", "er", "vec_id, centroid_id")},
            |$pqTrainedSql,
            |$pqEncodeSql,
            |c20 AS (SELECT centroid_id, cv AS rv FROM c2),
            |${opqChainSql("c20", "crot", "centroid_id")},
            |cr AS (SELECT centroid_id, rv AS cv FROM crot),
            |nnt AS (SELECT subspace, code_id,
            |          round(list_sum([x * x for x in cv]), 6) AS nn6 FROM pb2),
            |sdt AS (SELECT p1.subspace, p1.code_id AS ca, p2.code_id AS cb,
            |          round(list_sum([p1.cv[i] * p2.cv[i] for i in range(1, 9)]), 6)
            |            AS sdot6
            |        FROM pb2 p1 JOIN pb2 p2 ON p1.subspace = p2.subspace),
            |lutc AS (SELECT c.centroid_id AS cell, p.subspace, p.code_id,
            |          round(list_sum([c.cv[p.subspace*8 + i] * p.cv[i]
            |                          for i in range(1, 9)]), 6) AS cdot6
            |         FROM pb2 p, cr c),
            |cc AS (SELECT centroid_id AS cell,
            |        round(list_sum([x * x for x in cv]), 6) AS cn6 FROM c2),
            |mem AS (SELECT a.vec_id, a3.centroid_id AS cell,
            |          sum(CAST(l.cdot6 AS DECIMAL(20,6))) AS sa,
            |          sum(CAST(n.nn6 AS DECIMAL(20,6))) AS snn
            |        FROM pa3 a JOIN a3 ON a.vec_id = a3.vec_id
            |        JOIN lutc l ON a3.centroid_id = l.cell
            |          AND a.subspace = l.subspace AND a.code_id = l.code_id
            |        JOIN nnt n ON a.subspace = n.subspace AND a.code_id = n.code_id
            |        GROUP BY 1, 2),
            |memn AS (SELECT mem.vec_id, mem.cell, mem.sa,
            |          CAST(cc.cn6 AS DECIMAL(20,6)) + 2 * mem.sa + mem.snn AS na
            |         FROM mem JOIN cc ON mem.cell = cc.cell),
            |valid AS (SELECT * FROM memn WHERE na > 0),
            |sc AS (SELECT a.vec_id AS id, b.vec_id AS id_b, a.cell,
            |         a.sa AS qsa, a.na AS qna, b.sa AS nsa, b.na AS nna
            |       FROM valid a JOIN valid b ON a.cell = b.cell
            |         AND b.vec_id < a.vec_id),
            |sab AS (SELECT sc.id, sc.id_b,
            |          sum(CAST(s.sdot6 AS DECIMAL(20,6))) AS sab
            |        FROM sc JOIN pa3 qa ON sc.id = qa.vec_id
            |          JOIN pa3 qb ON sc.id_b = qb.vec_id
            |            AND qb.subspace = qa.subspace
            |          JOIN sdt s ON s.subspace = qa.subspace
            |            AND s.ca = qa.code_id AND s.cb = qb.code_id
            |        GROUP BY 1, 2),
            |sco AS (SELECT sc.id, sc.id_b,
            |          round(((CAST(cc.cn6 AS DECIMAL(20,6)) + sc.qsa + sc.nsa
            |                  + sab.sab)::DOUBLE)
            |            / (sqrt(sc.qna::DOUBLE) * sqrt(sc.nna::DOUBLE)), 6) AS cos
            |        FROM sc JOIN sab ON sc.id = sab.id AND sc.id_b = sab.id_b
            |          JOIN cc ON sc.cell = cc.cell),
            |best AS (SELECT id, id_b AS dup_of, cos AS sdc_cosine FROM (
            |    SELECT *, row_number() OVER (PARTITION BY id
            |      ORDER BY cos DESC, id_b) AS rn
            |    FROM sco WHERE cos >= 0.5) WHERE rn = 1)
            |SELECT m.vec_id AS id, m.cell AS cluster_id, best.dup_of,
            |  best.sdc_cosine, (best.dup_of IS NULL) AS keep
            |FROM memn m LEFT JOIN best ON m.vec_id = best.id
            |ORDER BY id""".stripMargin))

  /** Top-10 over int8-QUANTIZED vectors against the same vec_id=0 query —
    * the memory-shrunk (4×) ranking an ANN index storing quantized codes
    * produces; oracle replays quantize → dequantize → cosine exactly. */
  val simTopKQ8: QueryDef = QueryDef("sim_topk_q8",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val qv = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .head().getSeq[Double](0)
      Similarity.topKQuantized(emb, "vec_id", "embedding", qv, k = 10,
          excludeId = Some(0L))
        .select(col("id").as("vec_id"), col("cosine"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
           |qz AS (SELECT vec_id, list_max([abs(x) for x in v]) AS scale, v FROM e),
           |dq AS (SELECT vec_id,
           |  [CASE WHEN scale = 0 THEN 0.0
           |        ELSE round(x / scale * 127.0, 0) * scale / 127.0 END
           |   for x in v] AS dv FROM qz)
           |SELECT dq.vec_id,
           |  round(list_sum([dq.dv[i] * q.qv[i] for i in range(1, 65)]) /
           |    (sqrt(list_sum([x * x for x in dq.dv])) *
           |     (SELECT sqrt(list_sum([x * x for x in qv])) FROM q)), 6) AS cosine
           |FROM dq, q WHERE dq.vec_id <> 0
           |ORDER BY cosine DESC, dq.vec_id LIMIT 10""".stripMargin))

  /** PII scrubbing over documents: deterministic synthetic PII (an email
    * and a dotted-quad per doc — the corpus itself is clean word streams)
    * is appended in-query, then redacted and counted. Both engines build
    * the same augmented text, so the oracle hash covers the full scrubbed
    * string. */
  val textScrub: QueryDef = QueryDef("text_scrub",
    (s, d) => {
      val withPii = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7")).as("text"))
      TextAnalysis.scrubPii(withPii, "doc_id", "text").orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id,
           |  text || ' contact user' || doc_id || '@example.com at 10.0.' ||
           |  (doc_id % 256) || '.7' AS text FROM documents)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(text,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS scrubbed,
           |  len(regexp_extract_all(text,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
           |  len(regexp_extract_all(text,
           |    '([0-9]{1,3}\.){3}[0-9]{1,3}'))::BIGINT AS n_ip
           |FROM w ORDER BY doc_id""".stripMargin))

  /** Line-level (paragraph) exact dedup over documents. The corpus is
    * single-line word streams, so two shared boilerplate lines are appended
    * in-query (the Dolma/CCNet motivating case — repeated navigation/footer
    * text); the corpus-wide first occurrence of each line survives, so only
    * doc 0 keeps its boilerplate. Null-safe: a doc losing every line gets a
    * null `text_dedup` (string_agg semantics), pinned by the oracle shape. */
  val textLineDedup: QueryDef = QueryDef("text_line_dedup",
    (s, d) => {
      val boiler = "\nsubscribe to our newsletter today\nall rights reserved worldwide"
      val withLines = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(boiler)).as("text"))
      Dedup.dedupLines(withLines, "doc_id", "text").orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id,
           |  text || chr(10) || 'subscribe to our newsletter today' || chr(10) ||
           |  'all rights reserved worldwide' AS text FROM documents),
           |l AS (SELECT doc_id,
           |  unnest(string_split(text, chr(10))) AS line,
           |  generate_subscripts(string_split(text, chr(10)), 1)::BIGINT AS pos FROM w),
           |k AS (SELECT doc_id, pos, line,
           |  row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM l)
           |SELECT doc_id, count(*)::BIGINT AS n_lines,
           |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           |  string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos) AS text_dedup
           |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Cross-document repeated-span cut list ([[Dedup.repeatedSpans]],
    * Lee-et-al-style exact-substring dedup): 10-word-gram occurrences
    * whose corpus count > 1 are flagged at every non-canonical position
    * and merged into maximal per-doc spans. The one corpus-wide shuffle
    * carries (hash60, id, pos); count+min winner election is map-side
    * combined; span merge is a per-doc window. Oracle replays gram
    * explode → window winner → island merge in SQL. */
  val textSpanDedup: QueryDef = QueryDef("text_span_dedup",
    (s, d) => Dedup.repeatedSpans(Tables.documents(s, d), "doc_id", "text", 10)
      .orderBy("doc_id", "span_start"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id,
           |        [array_to_string(ws[i:i+9], ' ') for i in range(1, len(ws) - 8)] AS gs
           |      FROM t),
           |ex AS (SELECT doc_id, unnest(gs) AS gr,
           |         generate_subscripts(gs, 1)::BIGINT AS pos FROM g),
           |k AS (SELECT doc_id, pos,
           |        row_number() OVER (PARTITION BY gr ORDER BY doc_id, pos) AS rn,
           |        count(*) OVER (PARTITION BY gr) AS cnt FROM ex),
           |f AS (SELECT doc_id, pos FROM k WHERE cnt > 1 AND rn > 1),
           |i AS (SELECT doc_id, pos,
           |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
           |               OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
           |             THEN 1 ELSE 0 END AS brk FROM f),
           |sp AS (SELECT doc_id, pos,
           |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos)::BIGINT AS span_id
           |       FROM i)
           |SELECT doc_id, span_id, min(pos) AS span_start,
           |  max(pos) + 9 AS span_end,
           |  max(pos) + 9 - min(pos) + 1 AS n_tokens, count(*)::BIGINT AS n_grams
           |FROM sp GROUP BY doc_id, span_id ORDER BY doc_id, span_start""".stripMargin),
    )

  /** MAXIMAL repeated spans ([[Dedup.repeatedSpansMaximal]] — the Lee et
    * al. seed-and-extend semantics): every row is a verified contiguous
    * repeat ≥ 30 tokens aligned against its canonical anchor occurrence
    * (diagonal chaining of 10-gram seeds), not a flagged-window tiling.
    * The oracle replays the same canonical election, diagonal grouping,
    * and gaps-and-islands run detection over exact gram text. */
  val textSpanDedup2: QueryDef = QueryDef("text_span_dedup2",
    (s, d) => Dedup.repeatedSpansMaximal(Tables.documents(s, d), "doc_id",
        "text", n = 10, minTokens = 30)
      .orderBy("doc_id", "span_start", "anchor_id", "anchor_start"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id,
           |        [array_to_string(ws[i:i+9], ' ') for i in range(1, len(ws) - 8)] AS gs
           |      FROM t),
           |ex AS (SELECT doc_id, unnest(gs) AS gr,
           |         generate_subscripts(gs, 1)::BIGINT AS pos FROM g),
           |cn AS (SELECT gr, doc_id AS cid, pos AS cpos FROM (
           |         SELECT gr, doc_id, pos,
           |           row_number() OVER (PARTITION BY gr ORDER BY doc_id, pos) AS rn
           |         FROM ex) WHERE rn = 1),
           |sd AS (SELECT e.doc_id, e.pos, c.cid, e.pos - c.cpos AS diag
           |       FROM ex e JOIN cn c USING (gr)
           |       WHERE NOT (e.doc_id = c.cid AND e.pos = c.cpos)),
           |i AS (SELECT doc_id, cid, diag, pos,
           |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id, cid, diag ORDER BY pos) IS NULL
           |               OR pos > lag(pos) OVER (PARTITION BY doc_id, cid, diag ORDER BY pos) + 1
           |             THEN 1 ELSE 0 END AS brk FROM sd),
           |sp AS (SELECT doc_id, cid, diag, pos,
           |         sum(brk) OVER (PARTITION BY doc_id, cid, diag ORDER BY pos) AS run_id
           |       FROM i),
           |agg AS (SELECT doc_id, cid AS anchor_id, diag, min(pos) AS span_start,
           |          max(pos) + 9 AS span_end, count(*)::BIGINT AS n_grams
           |        FROM sp GROUP BY doc_id, cid, diag, run_id)
           |SELECT doc_id, anchor_id, span_start, span_end,
           |  (span_end - span_start + 1)::BIGINT AS n_tokens,
           |  (span_start - diag)::BIGINT AS anchor_start, n_grams
           |FROM agg WHERE span_end - span_start + 1 >= 30
           |ORDER BY doc_id, span_start, anchor_id, anchor_start""".stripMargin))

  /** Trainer-facing cut list ([[Dedup.spanCuts]] ∘
    * [[Dedup.repeatedSpansMaximal]]): per-doc interval union of the
    * aligned maximal spans — the second pass that fuses the canonical-
    * anchor split (the A ⊂ B ⊂ C under-merge) back into the ONE region a
    * trainer excises. Both stages window on doc id only; the oracle
    * replays the full seed-chain THEN the same running-max island merge. */
  val textSpanCuts: QueryDef = QueryDef("text_span_cuts",
    (s, d) => Dedup.spanCuts(Dedup.repeatedSpansMaximal(Tables.documents(s, d),
        "doc_id", "text", n = 10, minTokens = 30), "doc_id")
      .orderBy("doc_id", "cut_start"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id,
           |        [array_to_string(ws[i:i+9], ' ') for i in range(1, len(ws) - 8)] AS gs
           |      FROM t),
           |ex AS (SELECT doc_id, unnest(gs) AS gr,
           |         generate_subscripts(gs, 1)::BIGINT AS pos FROM g),
           |cn AS (SELECT gr, doc_id AS cid, pos AS cpos FROM (
           |         SELECT gr, doc_id, pos,
           |           row_number() OVER (PARTITION BY gr ORDER BY doc_id, pos) AS rn
           |         FROM ex) WHERE rn = 1),
           |sd AS (SELECT e.doc_id, e.pos, c.cid, e.pos - c.cpos AS diag
           |       FROM ex e JOIN cn c USING (gr)
           |       WHERE NOT (e.doc_id = c.cid AND e.pos = c.cpos)),
           |i AS (SELECT doc_id, cid, diag, pos,
           |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id, cid, diag ORDER BY pos) IS NULL
           |               OR pos > lag(pos) OVER (PARTITION BY doc_id, cid, diag ORDER BY pos) + 1
           |             THEN 1 ELSE 0 END AS brk FROM sd),
           |sp AS (SELECT doc_id, cid, diag, pos,
           |         sum(brk) OVER (PARTITION BY doc_id, cid, diag ORDER BY pos) AS run_id
           |       FROM i),
           |agg AS (SELECT doc_id, cid AS anchor_id, min(pos) AS span_start,
           |          max(pos) + 9 AS span_end
           |        FROM sp GROUP BY doc_id, cid, diag, run_id),
           |ms AS (SELECT * FROM agg WHERE span_end - span_start + 1 >= 30),
           |isl AS (SELECT doc_id, anchor_id, span_start, span_end,
           |         CASE WHEN max(span_end) OVER w IS NULL
           |                OR span_start > max(span_end) OVER w + 1
           |              THEN 1 ELSE 0 END AS brk FROM ms
           |         WINDOW w AS (PARTITION BY doc_id ORDER BY span_start, span_end
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |cu AS (SELECT doc_id, anchor_id, span_start, span_end,
           |         sum(brk) OVER (PARTITION BY doc_id ORDER BY span_start, span_end)::BIGINT AS cut_id
           |       FROM isl)
           |SELECT doc_id, cut_id, min(span_start) AS cut_start,
           |  max(span_end) AS cut_end,
           |  (max(span_end) - min(span_start) + 1)::BIGINT AS n_tokens,
           |  count(*)::BIGINT AS n_spans,
           |  count(DISTINCT anchor_id)::BIGINT AS n_anchors
           |FROM cu GROUP BY doc_id, cut_id ORDER BY doc_id, cut_start""".stripMargin))

  /** Unigram-LM quality scoring ([[TextAnalysis.lmScore]]): the
    * perplexity-proxy filter — per-doc mean negative log-likelihood in
    * nats under the corpus's own unigram model. Vocab trains in one
    * partial-aggregable shuffle and joins back broadcast; per-word ln p
    * is rounded to 6 dp before the tf-weighted sum so the reduction is
    * order-independent. */
  /** The per-doc NLL replay shared by `text_lm_score` (live model) and
    * `text_lm_score2` (stored model): the stored vocabulary IS the live
    * aggregation's result, so one oracle serves both. */
  private def lmScoreOracleSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tok AS (SELECT doc_id, len(ws)::DOUBLE AS dl, unnest(ws) AS word FROM t),
      |vocab AS (SELECT word, count(*)::DOUBLE AS cnt FROM tok GROUP BY 1),
      |tot AS (SELECT sum(cnt) AS total FROM vocab),
      |tf AS (SELECT doc_id, dl, word, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2, 3),
      |c AS (SELECT tf.doc_id, tf.dl, tf.tf, round(ln(v.cnt / t.total), 6) AS lp
      |      FROM tf JOIN vocab v USING (word) CROSS JOIN tot t),
      |nll AS (SELECT doc_id, dl, round(-sum(tf * lp), 6) AS nll_sum
      |        FROM c GROUP BY 1, 2),
      |d0 AS (SELECT DISTINCT doc_id, dl FROM tok)
      |SELECT d0.doc_id, d0.dl::BIGINT AS n_words,
      |  coalesce(nll.nll_sum, 0.0) AS nll_sum
      |FROM d0 LEFT JOIN nll USING (doc_id, dl) ORDER BY doc_id""".stripMargin

  val textLmScore: QueryDef = QueryDef("text_lm_score",
    (s, d) => TextAnalysis.lmScore(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some(lmScoreOracleSql))

  /** Scoring against the STORED unigram model
    * ([[Materialized.lmUnigrams]] → [[TextAnalysis.lmScoreFromModel]]):
    * the corpus aggregation is paid once per corpus; each run broadcasts
    * the stored vocabulary. */
  val textLmScore2: QueryDef = QueryDef("text_lm_score2",
    (s, d) => TextAnalysis.lmScoreFromModel(Tables.documents(s, d), "doc_id",
        "text", Materialized.lmUnigrams(s, d))
      .orderBy("doc_id"),
    Some(lmScoreOracleSql))

  /** Token-budget-bounded mixture ([[TextAnalysis.budgetMix]]): each
    * source admits docs in content-hash priority order until its
    * cumulative token count passes 600 — the reproducible "fill each
    * domain's quota" step of a training mix; one window per source
    * partition, no RNG state. */
  /** One admission replay serves the window path and its ranged twin —
    * the two are row-identical by construction (LlmSpec property). */
  private val budgetMixOracleSql: String =
    """WITH t AS (SELECT doc_id, source,
      |  CASE WHEN text IS NULL THEN 0
      |       ELSE len(string_split(text, ' ')) END::BIGINT AS n_tokens,
      |  coalesce(md5(text), '<null-text>') AS pri FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |  sum(n_tokens) OVER (PARTITION BY source ORDER BY pri, doc_id
      |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM t)
      |SELECT doc_id, source, n_tokens, cum_tokens,
      |  (cum_tokens <= 600) AS keep
      |FROM c ORDER BY doc_id""".stripMargin

  val textBudgetMix: QueryDef = QueryDef("text_budget_mix",
    (s, d) => TextAnalysis.budgetMix(Tables.documents(s, d), "doc_id", "text",
        "source", budget = 600L)
      .orderBy("doc_id"),
    Some(budgetMixOracleSql))

  /** The 100×-safe twin ([[TextAnalysis.budgetMixRanged]]): the per-source
    * running token sum as a distributed prefix sum over md5-priority
    * ranges — per-range subtotals, a ≤257-row offset window per source,
    * broadcast offsets, range-local windows. Row-identical to
    * `text_budget_mix` (same oracle); the plan, not the answer, changes. */
  val textBudgetMix2: QueryDef = QueryDef("text_budget_mix2",
    (s, d) => TextAnalysis.budgetMixRanged(Tables.documents(s, d), "doc_id",
        "text", "source", budget = 600L)
      .orderBy("doc_id"),
    Some(budgetMixOracleSql))

  /** BM25 keyword retrieval ([[TextAnalysis.bm25]]): top-10 documents per
    * query for three multi-term queries. The token stream is pruned by a
    * broadcast semi-join on the query-term set before the tf shuffle;
    * per-term contributions are rounded to 6 dp before the score sum so
    * the reduction is order-independent and hash-matches any engine. */
  val textBm25: QueryDef = QueryDef("text_bm25",
    (s, d) => {
      import s.implicits._
      val qs = Seq((1L, "hash join merge"), (2L, "customer order stream"),
        (3L, "vector window agg")).toDF("query_id", "qtext")
      TextAnalysis.bm25(Tables.documents(s, d), "doc_id", "text", qs, k = 10)
        .orderBy("query_id", "rank")
    },
    Some("""WITH q(query_id, qtext) AS (VALUES (1::BIGINT, 'hash join merge'),
           |  (2::BIGINT, 'customer order stream'), (3::BIGINT, 'vector window agg')),
           |qex AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term FROM q),
           |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |dl AS (SELECT doc_id, len(ws)::DOUBLE AS dl FROM t),
           |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
           |tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
           |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
           |       WHERE term IN (SELECT DISTINCT term FROM qex) GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
           |c AS (SELECT q.query_id, tf.doc_id,
           |        round(ln((s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1) * tf.tf * 2.2 /
           |          (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)), 6) AS c
           |      FROM tf JOIN qex q USING (term) JOIN dfq USING (term)
           |        JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
           |sc AS (SELECT query_id, doc_id, round(sum(c), 6) AS score FROM c GROUP BY 1, 2),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY score DESC, doc_id) AS rank FROM sc)
           |SELECT query_id, doc_id, rank, score FROM r
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))

  /** Banded sign-LSH ANN pair search at cosine ≥ 0.3, fully oracled as a
    * summary: the emitted pair count must equal DuckDB's exact full-pair
    * count (count equality + every pair exact-verified ≥ threshold ⇒ set
    * equality ⇒ banding recall 1), and `all_above_threshold` gates
    * verification conformance. Single-probe [[Similarity.annLsh]] remains
    * the point-lookup variant (subset property in LlmSpec). */
  val simAnn: QueryDef = QueryDef("sim_ann_lsh",
    (s, d) => {
      import s.implicits._
      // summary from the stored stats sidecar (one streaming agg over the
      // banded join on first use, two numbers from JSON ever after — the
      // large-at-t=0.3 pair set itself is never materialized); None (empty
      // corpus) is vacuously conform, matching the oracle's empty-set TRUE
      val st = Materialized.embeddingPairStats(s, d)
      Seq((st.nPairs, st.minCosine.forall(_ >= 0.3)))
        .toDF("n_pairs", "all_above_threshold")
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e)
           |SELECT count(*)::BIGINT AS n_pairs, TRUE AS all_above_threshold
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)]) / (a.nrm * b.nrm), 6)
           |      >= 0.3""".stripMargin))

  /**
   * The composed training-data pipeline (north-star flagship): quality
   * scoring → near-dup canonicalization (MinHash-LSH clusters, keep the
   * min-id member) → deterministic train/test split. One declarative plan —
   * Catalyst fuses the per-row stages; only the dedup candidate generation
   * and cluster closure shuffle.
   */
  val trainingPipeline: QueryDef = QueryDef("pipeline_training_set",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val quality = TextAnalysis.qualityFeatures(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      val pairs = Materialized.minhashPairs(s, d)
      val clusters = Dedup.duplicateClusters(pairs, docs.select(col("doc_id").as("id")))
        .withColumnRenamed("id", "doc_id")
      val split = Dedup.trainTestSplit(docs, "doc_id", "text")
        .select(col("doc_id"), col("split"))
      docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .join(quality, "doc_id")
        .join(clusters, "doc_id")
        .join(split, "doc_id")
        .where(col("quality") >= 0.45 && col("doc_id") === col("cluster_id"))
        .select(col("doc_id"), col("lang_pred"), col("quality"), col("split"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $docShingles3,
            |$clusterClosureSql,
            |feat AS (SELECT doc_id,
            |  CASE WHEN len(list_filter(string_split(text,' '), w1 -> w1 IN ('the','a','of','and','to','in','is','it')))
            |            >= len(list_filter(string_split(text,' '), w1 -> w1 IN ('der','die','das','und','ist','ein','zu')))
            |       AND len(list_filter(string_split(text,' '), w1 -> w1 IN ('the','a','of','and','to','in','is','it')))
            |            >= len(list_filter(string_split(text,' '), w1 -> w1 IN ('el','la','de','y','es','un','en')))
            |       AND len(list_filter(string_split(text,' '), w1 -> w1 IN ('the','a','of','and','to','in','is','it')))
            |            >= len(list_filter(string_split(text,' '), w1 -> w1 IN ('le','la','de','et','est','un','dans')))
            |       THEN 'en'
            |       WHEN len(list_filter(string_split(text,' '), w1 -> w1 IN ('der','die','das','und','ist','ein','zu')))
            |            >= len(list_filter(string_split(text,' '), w1 -> w1 IN ('el','la','de','y','es','un','en')))
            |       AND len(list_filter(string_split(text,' '), w1 -> w1 IN ('der','die','das','und','ist','ein','zu')))
            |            >= len(list_filter(string_split(text,' '), w1 -> w1 IN ('le','la','de','et','est','un','dans')))
            |       THEN 'de'
            |       WHEN len(list_filter(string_split(text,' '), w1 -> w1 IN ('el','la','de','y','es','un','en')))
            |            >= len(list_filter(string_split(text,' '), w1 -> w1 IN ('le','la','de','et','est','un','dans')))
            |       THEN 'es' ELSE 'fr' END AS lang_pred,
            |  $qualityExprSql AS quality,
            |  CASE WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 < 80
            |       THEN 'train' ELSE 'test' END AS split
            |FROM documents)
            |SELECT f.doc_id, f.lang_pred, f.quality, f.split
            |FROM feat f JOIN c ON f.doc_id = c.doc_id
            |WHERE f.quality >= 0.45 AND f.doc_id = c.cluster_id
            |ORDER BY f.doc_id""".stripMargin))

  val textLangid: QueryDef = QueryDef("text_langid",
    (s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id") +:
        (TextAnalysis.langScores(col("text")).map { case (l, c) =>
          c.cast("long").as(s"s_$l") } :+
          TextAnalysis.langId(col("text")).as("lang_pred")): _*)
        .orderBy("doc_id")
    },
    Some("""WITH s AS (SELECT doc_id,
           |  len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to','in','is','it')))::BIGINT AS s_en,
           |  len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','ist','ein','zu')))::BIGINT AS s_de,
           |  len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','es','un','en')))::BIGINT AS s_es,
           |  len(list_filter(string_split(text,' '), w -> w IN ('le','la','de','et','est','un','dans')))::BIGINT AS s_fr
           |FROM documents)
           |SELECT doc_id, s_en, s_de, s_es, s_fr,
           |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
           |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
           |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred
           |FROM s ORDER BY doc_id""".stripMargin))

  val textQuality: QueryDef = QueryDef("text_quality",
    (s, d) => TextAnalysis.qualityFeatures(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
            |  length(text)::BIGINT AS n_chars,
            |  len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_words,
            |  round(length(text) / len(regexp_extract_all(text, '\\S+')), 4) AS avg_word_len,
            |  len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::BIGINT AS n_punct,
            |  round(len(list_filter(string_split(text,' '), w1 -> w1 IN
            |    ('the','a','of','and','to','in','is','it','der','die','das','und','ist','ein','zu',
            |     'el','la','de','y','es','un','en','le','et','est','dans')))
            |    / len(regexp_extract_all(text, '\\S+')), 4) AS stopword_ratio,
            |  $qualityExprSql AS quality
            |FROM documents ORDER BY doc_id""".stripMargin))

  val textTokens: QueryDef = QueryDef("text_tokens",
    (s, d) => {
      val t = Tables.documents(s, d)
      t.select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_ws"),
          TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, len(regexp_extract_all(text, '\S+'))::BIGINT AS n_ws,
           |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))::BIGINT AS n_bpe,
           |  length(text)::BIGINT AS n_chars
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** GPT-2-style pre-tokenization ([[TextAnalysis.preTokenize]]): the
    * corpus piece-frequency table a byte-level BPE trainer consumes,
    * with the `Ġ` space-mark applied the GPT-2 way. Top-200 by
    * `(cnt DESC, piece)` — a total order (pieces are distinct after the
    * groupBy), so the limit boundary is deterministic in both engines. */
  val textPretokenize: QueryDef = QueryDef("text_pretokenize",
    (s, d) => {
      val pieces = TextAnalysis.preTokenize(Tables.documents(s, d), "text")
      pieces.select(col("piece"),
          TextAnalysis.gpt2SpaceMark(col("piece")).as("marked"), col("cnt"))
        .orderBy(col("cnt").desc, col("piece")).limit(200)
    },
    Some("""WITH p AS (
           |  SELECT unnest(regexp_extract_all(text,
           |    '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS piece
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT piece,
           |  translate(piece, ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13),
           |    'ĠĉĊċČč') AS marked,
           |  count(*)::BIGINT AS cnt
           |FROM p GROUP BY piece
           |ORDER BY cnt DESC, piece LIMIT 200""".stripMargin))

  val textFingerprint: QueryDef = QueryDef("text_fingerprint",
    (s, d) => TextAnalysis.fingerprints(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp_md5,
           |  ('0x' || substr(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp_60
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Multimodal metadata plumbing: binary payload + typed meta, projected
    * without touching the payload (column pruning keeps bytes out of the
    * scan at scale). */
  val mmMeta: QueryDef = QueryDef("mm_meta",
    (s, d) => Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text")
      .select(col("media_id"), col("kind"),
        col("meta.byte_len").as("byte_len"), col("meta.format").as("format"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"),
        col("meta.n_frames").cast("long").as("n_frames"))
      .orderBy("media_id"),
    Some("""SELECT doc_id AS media_id,
           |  (['image','audio','video'])[(doc_id % 3)::INT + 1] AS kind,
           |  octet_length(encode(text))::BIGINT AS byte_len,
           |  (['png','jpg','webp'])[(doc_id % 3)::INT + 1] AS format,
           |  (octet_length(encode(text)) % 640 + 1)::BIGINT AS width,
           |  (octet_length(encode(text)) * 7 % 480 + 1)::BIGINT AS height,
           |  (octet_length(encode(text)) % 30 + 1)::BIGINT AS n_frames
           |FROM documents ORDER BY media_id""".stripMargin))

  /** Decode stage plumbing. The stub decoder's folded byte histogram is
    * deterministic (sequential double fold over UTF-8 bytes), so the full
    * feature vector is oracled: DuckDB reproduces each of the 8 folded
    * components with a filtered list comprehension (corpus is ASCII, so
    * byte i == char i). */
  val mmDecode: QueryDef = QueryDef("mm_decode",
    (s, d) => {
      val f = Multimodal.decodeFeatures(
        Multimodal.asMedia(Tables.documents(s, d), "doc_id", "text"))
      f.select(Seq(col("media_id"), col("feat_dim").cast("long").as("feat_dim"), col("ok")) ++
          (0 until Multimodal.DecodeStub.featDim).map(k =>
            round(element_at(col("feature"), k + 1), 6).as(s"f$k")): _*)
        .orderBy("media_id")
    },
    Some {
      val feats = (0 until Multimodal.DecodeStub.featDim).map(k =>
        s"  coalesce(round(list_sum([ascii(substr(text, i, 1)) / 255.0 " +
          s"for i in range(1, length(text) + 1) if (i - 1) % 8 = $k]), 6), 0.0) AS f$k")
        .mkString(",\n")
      s"""SELECT doc_id AS media_id, 8::BIGINT AS feat_dim, TRUE AS ok,
         |$feats
         |FROM documents ORDER BY media_id""".stripMargin
    })

  /** C4-style line filter ([[TextAnalysis.c4LineFilter]], Raffel et al.
    * 2020): terminal-punctuation + ≥5-word + no-"javascript" line rules,
    * lorem-ipsum / curly-brace / <3-kept-lines page rules. The corpus is
    * single-line, so the fixture composes a deterministic page per doc —
    * the doc text as a closed sentence plus boilerplate lines exercising
    * every rule (id-parity adds the third kept line; id%7 / id%11 plant
    * the page poisons). Pure per-row array expressions — zero shuffle. */
  val textC4Filter: QueryDef = QueryDef("text_c4_filter",
    (s, d) => {
      val extra = when(col("doc_id") % 2 === 0,
        lit("\neven documents carry one more complete sentence for balance."))
        .otherwise(lit(""))
      val lorem = when(col("doc_id") % 7 === 0,
        lit("\nlorem ipsum dolor sit amet consectetur adipiscing elit."))
        .otherwise(lit(""))
      val brace = when(col("doc_id") % 11 === 0,
        lit("\nfunction render() { return markup; }")).otherwise(lit(""))
      val page = concat(coalesce(col("text"), lit("")), lit(" ends here."),
        lit("\nplease enable javascript to continue viewing this page."),
        lit("\nbuy now and save big today"),
        lit("\ntiny line."),
        lit("\nthis page has a perfectly ordinary closing sentence."),
        extra, lorem, brace)
      TextAnalysis.c4LineFilter(
          Tables.documents(s, d).select(col("doc_id"), page.as("text")),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id,
           |  coalesce(text, '') || ' ends here.' ||
           |  chr(10) || 'please enable javascript to continue viewing this page.' ||
           |  chr(10) || 'buy now and save big today' ||
           |  chr(10) || 'tiny line.' ||
           |  chr(10) || 'this page has a perfectly ordinary closing sentence.' ||
           |  CASE WHEN doc_id % 2 = 0 THEN chr(10) ||
           |    'even documents carry one more complete sentence for balance.' ELSE '' END ||
           |  CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
           |    'lorem ipsum dolor sit amet consectetur adipiscing elit.' ELSE '' END ||
           |  CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
           |    'function render() { return markup; }' ELSE '' END AS page
           |  FROM documents),
           |l AS (SELECT doc_id, page, string_split(page, chr(10)) AS ls FROM w),
           |k AS (SELECT doc_id, page, len(ls)::BIGINT AS n_lines,
           |  [x for x in ls if regexp_matches(trim(x), '[.!?"'']$')
           |     and len([y for y in string_split(trim(x), ' ') if len(y) > 0]) >= 5
           |     and not contains(lower(x), 'javascript')] AS kept,
           |  contains(lower(page), 'lorem ipsum') AS has_lorem,
           |  contains(page, '{') AS has_brace
           |  FROM l)
           |SELECT doc_id, n_lines, len(kept)::BIGINT AS n_kept,
           |  round(len(kept)::DOUBLE / greatest(n_lines, 1), 4) AS kept_ratio,
           |  has_lorem, has_brace,
           |  (NOT has_lorem AND NOT has_brace AND len(kept) >= 3) AS keep,
           |  CASE WHEN NOT has_lorem AND NOT has_brace AND len(kept) >= 3
           |       THEN array_to_string(kept, chr(10)) END AS text_clean
           |FROM k ORDER BY doc_id""".stripMargin))

  /** The shared deterministic URL fixture: scheme/www/trailing-slash/
    * tracking-param/fragment variety keyed off doc_id, hosts spreading
    * sources across 23 domain shards with an id%5 `cdn.` subdomain. */
  private val urlBuildSql: String =
    """SELECT doc_id, text,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END ||
      |   CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
      |   CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END ||
      |   source || (doc_id % 23)::VARCHAR || '.example' ||
      |   '/' || lang || '/page-' || doc_id::VARCHAR ||
      |   CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
      |   CASE WHEN doc_id % 3 = 0
      |        THEN '?utm_source=feed&id=' || (doc_id % 5)::VARCHAR || '&utm_campaign=mix'
      |        WHEN doc_id % 3 = 1
      |        THEN '?id=' || (doc_id % 5)::VARCHAR || '&ref=rss'
      |        ELSE '' END ||
      |   CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END) AS url
      |FROM documents""".stripMargin

  private def urlFixture(s: org.apache.spark.sql.SparkSession, d: String) = {
    val doc = Tables.documents(s, d)
    doc.select(col("doc_id"), col("text"), concat(
      when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
      when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("cdn.")).otherwise(lit("")),
      col("source"), (col("doc_id") % 23).cast("string"), lit(".example"),
      lit("/"), col("lang"), lit("/page-"), col("doc_id").cast("string"),
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&id="), (col("doc_id") % 5).cast("string"),
          lit("&utm_campaign=mix")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?id="), (col("doc_id") % 5).cast("string"), lit("&ref=rss")))
        .otherwise(lit("")),
      when(col("doc_id") % 6 === 0, lit("#section-2")).otherwise(lit("")))
      .as("url"))
  }

  /** URL canonicalization ([[TextAnalysis.urlNormalize]]): lowercase,
    * fragment/scheme/www strip, tracking-param drop (utm_*, ref) with
    * order-preserving keep of the rest, trailing-slash trim, host +
    * registered-domain extraction. Zero shuffle; the oracle replays every
    * regex stage (all RE2-portable). */
  val textUrlNormalize: QueryDef = QueryDef("text_url_normalize",
    (s, d) => TextAnalysis.urlNormalize(urlFixture(s, d), "url")
      .select(col("doc_id"), col("url"), col("url_norm"), col("host"),
        col("domain"))
      .orderBy("doc_id"),
    Some(s"""WITH u AS ($urlBuildSql),
           |s1 AS (SELECT doc_id, url,
           |  regexp_replace(regexp_replace(regexp_replace(lower(url),
           |    '#.*$$', ''), '^https?://', ''), '^www\\.', '') AS bare FROM u),
           |s2 AS (SELECT doc_id, url, bare,
           |  regexp_replace(regexp_replace(bare, '\\?.*$$', ''), '/$$', '') AS path,
           |  [p for p in string_split(regexp_extract(bare, '\\?(.*)$$', 1), '&')
           |     if len(p) > 0 and not starts_with(p, 'utm_')
           |        and not regexp_matches(p, '^ref=')] AS params,
           |  regexp_extract(bare, '^([^/?]+)', 1) AS host FROM s1)
           |SELECT doc_id, url,
           |  path || CASE WHEN len(params) > 0
           |               THEN '?' || array_to_string(params, '&') ELSE '' END AS url_norm,
           |  host, regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
           |FROM s2 ORDER BY doc_id""".stripMargin))

  /** Per-domain cap ([[TextAnalysis.domainCap]] ∘ urlNormalize):
    * RefinedWeb-style domain balancing — ≤2 docs per registered domain in
    * content-hash priority order. The window key is the DOMAIN (a web
    * corpus has millions; here sources × 23 shards), so per-key mass is
    * capped by construction — the scale contrast to the source/language
    * admission family and its threshold twins. */
  val textDomainCap: QueryDef = QueryDef("text_domain_cap",
    (s, d) => TextAnalysis.domainCap(
        TextAnalysis.urlNormalize(urlFixture(s, d), "url"),
        "doc_id", "text", "domain", cap = 2)
      .orderBy("domain", "rk"),
    Some(s"""WITH u AS ($urlBuildSql),
           |s1 AS (SELECT doc_id, text,
           |  regexp_replace(regexp_replace(regexp_replace(lower(url),
           |    '#.*$$', ''), '^https?://', ''), '^www\\.', '') AS bare FROM u),
           |s2 AS (SELECT doc_id, text,
           |  regexp_extract(regexp_extract(bare, '^([^/?]+)', 1),
           |    '([^.]+\\.[^.]+)$$', 1) AS domain FROM s1),
           |p AS (SELECT doc_id, domain,
           |  coalesce(md5(text), '<null-text>') AS pri FROM s2),
           |r AS (SELECT doc_id, domain,
           |  row_number() OVER (PARTITION BY domain ORDER BY pri, doc_id)::BIGINT AS rk
           |  FROM p)
           |SELECT doc_id, domain, rk, rk <= 2 AS keep
           |FROM r ORDER BY domain, rk""".stripMargin))

  /** URL dedup at the canonical key (the C4 crawl staple): docs whose
    * urls differ ONLY by scheme case, `www.`, or fragment normalize to
    * the same canonical url — the dup groups here are created by the
    * normalization itself (page slot = doc_id % 40 per source×lang). The
    * earliest doc_id per canonical url survives; the min election is a
    * window over the many-valued url key. */
  val textUrlDedup: QueryDef = QueryDef("text_url_dedup",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val doc = Tables.documents(s, d)
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        col("source"), lit(".example/"), col("lang"), lit("/page-"),
        (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 6 === 0, lit("#top")).otherwise(lit("")))
      val norm = TextAnalysis.urlNormalize(
        doc.select(col("doc_id"), url.as("url")), "url")
      val canonical = min(col("doc_id")).over(Window.partitionBy("url_norm"))
      norm.select(col("doc_id"), col("url_norm"),
          canonical.as("canonical_id"),
          (col("doc_id") =!= canonical).as("is_dup"))
        .orderBy("doc_id")
    },
    Some("""WITH u AS (SELECT doc_id,
           |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END ||
           |   CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
           |   source || '.example/' || lang || '/page-' || (doc_id % 40)::VARCHAR ||
           |   CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url
           |  FROM documents),
           |s1 AS (SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(lower(url),
           |    '#.*$', ''), '^https?://', ''), '^www\.', '') AS bare FROM u),
           |n AS (SELECT doc_id,
           |  regexp_replace(regexp_replace(bare, '\?.*$', ''), '/$', '') AS url_norm
           |  FROM s1),
           |c AS (SELECT doc_id, url_norm,
           |  min(doc_id) OVER (PARTITION BY url_norm) AS canonical_id FROM n)
           |SELECT doc_id, url_norm, canonical_id,
           |  doc_id <> canonical_id AS is_dup
           |FROM c ORDER BY doc_id""".stripMargin))

  /** Soft dedup ([[Dedup.softDedupScores]], SoftDeDup He et al. 2024):
    * reweight-instead-of-remove — per doc, the mean duplicated fraction
    * of its 4-gram occurrences under corpus-wide counts, and the
    * λ=0.5 sampling down-weight. One (gh, id) exchange + window count +
    * per-doc rollup; the oracle replays it over exact gram text with the
    * same scaled-long reduction. */
  val textSoftDedup: QueryDef = QueryDef("text_soft_dedup",
    (s, d) => Dedup.softDedupScores(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id,
           |        [array_to_string(ws[i:i+3], ' ') for i in range(1, len(ws) - 2)] AS gs
           |      FROM t),
           |ex AS (SELECT doc_id, unnest(gs) AS gr FROM g),
           |c AS (SELECT doc_id, count(*) OVER (PARTITION BY gr) AS cnt FROM ex),
           |p AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
           |        sum(round(round((cnt - 1)::DOUBLE / cnt, 6) * 1000000, 0)::BIGINT) AS s6
           |      FROM c GROUP BY 1),
           |q AS (SELECT doc_id, n_grams,
           |        (2 * s6 + n_grams) // (2 * n_grams) AS score6 FROM p)
           |SELECT d.doc_id, coalesce(q.n_grams, 0)::BIGINT AS n_grams,
           |  coalesce(q.score6, 0) / 1000000.0 AS dup_score,
           |  (1000000 - (2 * 500000 * coalesce(q.score6, 0) + 1000000) // 2000000)
           |    / 1000000.0 AS weight
           |FROM documents d LEFT JOIN q USING (doc_id) ORDER BY d.doc_id""".stripMargin))

  /** Interpolated bigram LM ([[TextAnalysis.lmScoreBigram]], λ=0.75):
    * per-doc NLL under λ·p(w|prev) + (1−λ)·p(w) — the unigram family's
    * KenLM-direction upgrade. Vocab tables broadcast; the bigram type
    * table stays a hash join; per-doc windows only. The oracle replays
    * the identical counts, interpolation, and 6-dp type rounding. */
  val textLmBigram: QueryDef = QueryDef("text_lm_bigram",
    (s, d) => TextAnalysis.lmScoreBigram(Tables.documents(s, d), "doc_id",
        "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |tok AS (SELECT doc_id, unnest(ws) AS w,
           |          generate_subscripts(ws, 1)::BIGINT AS pos FROM t),
           |uni AS (SELECT w, count(*)::DOUBLE AS cu FROM tok GROUP BY 1),
           |tot AS (SELECT sum(cu) AS t FROM uni),
           |pr AS (SELECT doc_id, pos, w,
           |         lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS pw FROM tok),
           |pairs AS (SELECT doc_id, pw, w FROM pr WHERE pw IS NOT NULL),
           |ctx AS (SELECT pw, count(*)::DOUBLE AS cc FROM pairs GROUP BY 1),
           |ty AS (SELECT pw, w, count(*)::DOUBLE AS cb FROM pairs GROUP BY 1, 2),
           |lp AS (SELECT ty.pw, ty.w,
           |         round(ln(0.75 * ty.cb / ctx.cc + 0.25 * uni.cu / tot.t), 6) AS lp
           |       FROM ty JOIN ctx USING (pw) JOIN uni ON ty.w = uni.w
           |       CROSS JOIN tot),
           |tfb AS (SELECT doc_id, pw, w, count(*)::DOUBLE AS tf
           |        FROM pairs GROUP BY 1, 2, 3),
           |bi AS (SELECT tfb.doc_id, sum(tfb.tf * lp.lp) AS bi_lp,
           |         sum(tfb.tf)::BIGINT AS n_bigrams
           |       FROM tfb JOIN lp USING (pw, w) GROUP BY 1),
           |fw AS (SELECT tok.doc_id, round(ln(uni.cu / tot.t), 6) AS lp1
           |       FROM tok JOIN uni USING (w) CROSS JOIN tot WHERE tok.pos = 1),
           |cnt AS (SELECT doc_id, count(*)::BIGINT AS n_words FROM tok GROUP BY 1)
           |SELECT cnt.doc_id, cnt.n_words,
           |  coalesce(bi.n_bigrams, 0)::BIGINT AS n_bigrams,
           |  round(-(fw.lp1 + coalesce(bi.bi_lp, 0.0)), 6) AS nll_sum
           |FROM cnt JOIN fw USING (doc_id) LEFT JOIN bi USING (doc_id)
           |ORDER BY cnt.doc_id""".stripMargin))

  /** The REWEIGHTED curation capstone: the web-curation ring's hard
    * gates (canonical-URL dedup, per-domain cap, Gopher rules) compose
    * with the SOFT signals (stored-classifier probability × soft-dedup
    * down-weight) into one per-doc sampling weight — the
    * reweight-instead-of-remove pipeline shape. Every stage reuses its
    * standalone query's fixture and plan (id-keyed joins, stored model
    * broadcast, many-key windows only); the oracle chains the five
    * stages' replays unchanged. */
  val pipelineCuration5: QueryDef = QueryDef("pipeline_curation5",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // gate 1: canonical-URL election (the text_url_dedup fixture)
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        col("source"), lit(".example/"), col("lang"), lit("/page-"),
        (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 6 === 0, lit("#top")).otherwise(lit("")))
      val norm = TextAnalysis.urlNormalize(
        docs.select(col("doc_id"), url.as("url")), "url")
      val urlGate = norm.select(col("doc_id"),
        (col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy("url_norm"))).as("keep_url"))
      // gate 2: per-domain cap (the text_domain_cap fixture, cap 2)
      val capped = TextAnalysis.domainCap(
          TextAnalysis.urlNormalize(urlFixture(s, d), "url"),
          "doc_id", "text", "domain", cap = 2)
        .select(col("doc_id"), col("keep").as("keep_domain"))
      // gate 3: Gopher rules
      val g = TextAnalysis.gopherFilter(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("keep_quality"))
      // soft 1: stored-classifier probability
      val clf = TextAnalysis.qualityClfScore(docs, "doc_id", "text",
          Materialized.clfWeights(s, d))
        .select(col("doc_id"), col("score").as("clf_score"))
      // soft 2: soft-dedup down-weight
      val soft = Dedup.softDedupScores(docs, "doc_id", "text")
        .select(col("doc_id"), col("weight").as("w_soft"))
      docs.select(col("doc_id"))
        .join(urlGate, "doc_id").join(capped, "doc_id").join(g, "doc_id")
        .join(clf, "doc_id").join(soft, "doc_id")
        .select(col("doc_id"), col("keep_url"), col("keep_domain"),
          col("keep_quality"), col("clf_score"), col("w_soft"),
          when(col("keep_url") && col("keep_domain") && col("keep_quality"),
            round(col("w_soft") * col("clf_score"), 6))
            .otherwise(lit(0.0)).as("weight"))
        .withColumn("selected", col("weight") > 0.0)
        .orderBy("doc_id")
    },
    Some(s"""WITH $clfTrainedSql,
            |zsf AS (SELECT f.id, sum(w.w::DECIMAL(20,6)) AS zs
            |  FROM f JOIN w$ClfIters w USING (bucket) GROUP BY 1),
            |so AS (SELECT d.doc_id,
            |    round(1.0 / (1.0 + exp(-round(coalesce(zs.zs::DOUBLE, 0.0), 6))), 6)
            |      AS clf_score
            |  FROM documents d LEFT JOIN zsf zs ON d.doc_id = zs.id),
            |u1 AS (SELECT doc_id,
            |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END ||
            |   CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
            |   source || '.example/' || lang || '/page-' || (doc_id % 40)::VARCHAR ||
            |   CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url
            |  FROM documents),
            |ub AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
            |    lower(url), '#.*$$', ''), '^https?://', ''), '^www\\.', '') AS bare
            |  FROM u1),
            |un AS (SELECT doc_id,
            |  regexp_replace(regexp_replace(bare, '\\?.*$$', ''), '/$$', '') AS url_norm
            |  FROM ub),
            |ug AS (SELECT doc_id,
            |  doc_id = min(doc_id) OVER (PARTITION BY url_norm) AS keep_url FROM un),
            |v1 AS ($urlBuildSql),
            |vb AS (SELECT doc_id, text, regexp_replace(regexp_replace(regexp_replace(
            |    lower(url), '#.*$$', ''), '^https?://', ''), '^www\\.', '') AS bare
            |  FROM v1),
            |vd AS (SELECT doc_id, text,
            |  regexp_extract(regexp_extract(bare, '^([^/?]+)', 1),
            |    '([^.]+\\.[^.]+)$$', 1) AS domain FROM vb),
            |vr AS (SELECT doc_id, domain,
            |  row_number() OVER (PARTITION BY domain
            |    ORDER BY coalesce(md5(text), '<null-text>'), doc_id)::BIGINT AS rk
            |  FROM vd),
            |dc AS (SELECT doc_id, rk <= 2 AS keep_domain FROM vr),
            |st AS (SELECT doc_id, string_split(text, ' ') AS ws3 FROM documents),
            |sgr AS (SELECT doc_id,
            |  [array_to_string(ws3[i:i+3], ' ') for i in range(1, len(ws3) - 2)] AS gs3
            |  FROM st),
            |sex AS (SELECT doc_id, unnest(gs3) AS gr3 FROM sgr),
            |scn AS (SELECT doc_id, count(*) OVER (PARTITION BY gr3) AS cnt3 FROM sex),
            |sp AS (SELECT doc_id, count(*)::BIGINT AS ng,
            |  sum(round(round((cnt3 - 1)::DOUBLE / cnt3, 6) * 1000000, 0)::BIGINT) AS s6
            |  FROM scn GROUP BY 1),
            |sq AS (SELECT doc_id, (2 * s6 + ng) // (2 * ng) AS score6 FROM sp),
            |sd AS (SELECT d.doc_id,
            |  (1000000 - (2 * 500000 * coalesce(sq.score6, 0) + 1000000) // 2000000)
            |    / 1000000.0 AS w_soft
            |  FROM documents d LEFT JOIN sq USING (doc_id))
            |SELECT d.doc_id, ug.keep_url, dc.keep_domain, gk.keep AS keep_quality,
            |  so.clf_score, sd.w_soft,
            |  CASE WHEN ug.keep_url AND dc.keep_domain AND gk.keep
            |       THEN round(sd.w_soft * so.clf_score, 6) ELSE 0.0 END AS weight,
            |  (CASE WHEN ug.keep_url AND dc.keep_domain AND gk.keep
            |        THEN round(sd.w_soft * so.clf_score, 6) ELSE 0.0 END) > 0.0
            |    AS selected
            |FROM documents d JOIN ug USING (doc_id) JOIN dc USING (doc_id)
            |  JOIN gk USING (doc_id) JOIN so USING (doc_id) JOIN sd USING (doc_id)
            |ORDER BY d.doc_id""".stripMargin))

  /** Tokenizer evaluation from the stored artifact ([[Materialized
    * .bpeMerges]]): per-source fertility (BPE tokens per word) and
    * compression (base chars per BPE token) — the per-domain health
    * check a tokenizer change ships with. The merge replay runs over the
    * distinct-WORD table (vocab-bounded), docs join it broadcast-style
    * on the word, and the per-source rollup is one partial+final agg. */
  val textBpeFertility: QueryDef = QueryDef("text_bpe_fertility",
    (s, d) => {
      val merges = Materialized.bpeMerges(s, d).orderBy("rank")
        .select("lhs", "rhs").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val perDoc = TextAnalysis.bpeDocTokensFromMerges(Tables.documents(s, d),
        "doc_id", "text", merges)
      perDoc.join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_tokenized"),
          sum("n_words").cast("long").as("n_words"),
          sum("n_bpe_tokens").cast("long").as("n_bpe_tokens"),
          round(sum("n_bpe_tokens").cast("double") / sum("n_words"), 6)
            .as("fertility"),
          round(sum("n_base_tokens").cast("double") / sum("n_bpe_tokens"), 6)
            .as("chars_per_token"))
        .orderBy("source")
    },
    Some(s"""WITH $bpeTrainedSql,
           |wt AS (SELECT w, len(string_split(trim(s), ' ')) AS n_tok,
           |         length(w) AS n_chars FROM w$BpeRounds),
           |pd AS (SELECT d.doc_id, count(*)::BIGINT AS n_words,
           |         sum(wt.n_chars)::BIGINT AS n_base, sum(wt.n_tok)::BIGINT AS n_bpe
           |       FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS w
           |             FROM documents) d
           |       JOIN wt ON d.w = wt.w GROUP BY 1)
           |SELECT doc.source, count(*)::BIGINT AS n_docs_tokenized,
           |  sum(pd.n_words)::BIGINT AS n_words,
           |  sum(pd.n_bpe)::BIGINT AS n_bpe_tokens,
           |  round(sum(pd.n_bpe)::DOUBLE / sum(pd.n_words), 6) AS fertility,
           |  round(sum(pd.n_base)::DOUBLE / sum(pd.n_bpe), 6) AS chars_per_token
           |FROM pd JOIN documents doc USING (doc_id)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Winnowing fingerprint selection ([[Dedup.winnowFingerprints]],
    * Schleimer et al. 2003 / MOSS): 4-gram hashes, window 4 — every
    * ≥7-word shared run is guaranteed a shared fingerprint at ~2/5 of the
    * gram storage. The oracle replays the combined rightmost-min key and
    * the full-window start filter exactly. */
  val textWinnow: QueryDef = QueryDef("text_winnow",
    (s, d) => Dedup.winnowFingerprints(Tables.documents(s, d), "doc_id",
        "text", k = 4, w = 4)
      .orderBy("doc_id", "fp_pos", "fp"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id,
           |        [array_to_string(ws[i:i+3], ' ') for i in range(1, len(ws) - 2)] AS gs
           |      FROM t),
           |ex AS (SELECT doc_id, unnest(gs) AS gr,
           |         generate_subscripts(gs, 1)::BIGINT AS pos FROM g),
           |ky AS (SELECT doc_id, pos,
           |         ('0x' || substr(md5(gr), 1, 11))::BIGINT * 524288
           |           + (524287 - pos) AS key
           |       FROM ex),
           |mn AS (SELECT doc_id, pos,
           |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
           |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS kmin,
           |         count(*) OVER (PARTITION BY doc_id) AS ng
           |       FROM ky),
           |sel AS (SELECT DISTINCT doc_id, kmin >> 19 AS fp,
           |          524287 - (kmin & 524287) AS fp_pos
           |        FROM mn WHERE pos <= greatest(ng - 3, 1))
           |SELECT doc_id, fp, fp_pos FROM sel
           |ORDER BY doc_id, fp_pos, fp""".stripMargin))

  /** Winnowing near-dup candidates ([[Dedup.winnowPairs]]): documents
    * sharing ≥2 selected fingerprints, boilerplate fingerprints (>100
    * docs) cut before pairing — the MOSS report, as a bounded-bucket
    * fingerprint join. */
  val dedupWinnow: QueryDef = QueryDef("dedup_winnow",
    (s, d) => Dedup.winnowPairs(Tables.documents(s, d), "doc_id", "text",
        k = 4, w = 4, minShared = 2, maxDocFreq = 100)
      .orderBy("id_a", "id_b"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id,
           |        [array_to_string(ws[i:i+3], ' ') for i in range(1, len(ws) - 2)] AS gs
           |      FROM t),
           |ex AS (SELECT doc_id, unnest(gs) AS gr,
           |         generate_subscripts(gs, 1)::BIGINT AS pos FROM g),
           |ky AS (SELECT doc_id, pos,
           |         ('0x' || substr(md5(gr), 1, 11))::BIGINT * 524288
           |           + (524287 - pos) AS key
           |       FROM ex),
           |mn AS (SELECT doc_id, pos,
           |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
           |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS kmin,
           |         count(*) OVER (PARTITION BY doc_id) AS ng
           |       FROM ky),
           |fp2 AS (SELECT DISTINCT doc_id, kmin >> 19 AS fp
           |        FROM mn WHERE pos <= greatest(ng - 3, 1)),
           |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fp2 GROUP BY 1)
           |         WHERE df BETWEEN 2 AND 100),
           |sh AS (SELECT fp2.doc_id, fp2.fp FROM fp2 JOIN rare USING (fp))
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
           |FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 HAVING count(*) >= 2
           |ORDER BY 1, 2""".stripMargin))

  /** The winnowing fingerprint chain over relation `rel`, CTE names
    * prefixed with `p` — the parameterized form `dedup_incremental_winnow`
    * replays over its corpus and batch slices (k=4, w=4). Ends in CTE
    * `${p}fp` = distinct `(doc_id, fp)`. */
  private def winnowFpSql(p: String, rel: String): String =
    s"""${p}t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $rel),
       |${p}g AS (SELECT doc_id,
       |        [array_to_string(ws[i:i+3], ' ') for i in range(1, len(ws) - 2)] AS gs
       |      FROM ${p}t),
       |${p}ex AS (SELECT doc_id, unnest(gs) AS gr,
       |         generate_subscripts(gs, 1)::BIGINT AS pos FROM ${p}g),
       |${p}ky AS (SELECT doc_id, pos,
       |         ('0x' || substr(md5(gr), 1, 11))::BIGINT * 524288
       |           + (524287 - pos) AS key
       |       FROM ${p}ex),
       |${p}mn AS (SELECT doc_id, pos,
       |         min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS kmin,
       |         count(*) OVER (PARTITION BY doc_id) AS ng
       |       FROM ${p}ky),
       |${p}fp AS (SELECT DISTINCT doc_id, kmin >> 19 AS fp
       |        FROM ${p}mn WHERE pos <= greatest(ng - 3, 1))""".stripMargin

  /** Incremental winnowing judgment ([[Dedup.dedupIncrementalWinnow]])
    * against the STORED corpus fingerprint table
    * ([[Materialized.winnowFps]]): the day's batch (the last-100 slice
    * plus 5 truncated near-copies of early docs, the incremental-family
    * fixture) is fingerprinted and judged — corpus text never re-read.
    * The oracle replays both fingerprint chains, the df cap, and the
    * best-match election. */
  val dedupIncrementalWinnow: QueryDef = QueryDef("dedup_incremental_winnow",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val maxd = docs.agg(max("doc_id")).head.getLong(0)
      val cut = maxd - 99
      val batch = docs.where(col("doc_id") >= cut).select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") < 5)
          .select((col("doc_id") + maxd + 1001).as("doc_id"),
            regexp_replace(col("text"), " \\S+$", "").as("text")))
      val corpusFps = Materialized.winnowFps(s, d).where(col("id") < cut)
      Dedup.dedupIncrementalWinnow(batch, corpusFps, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some(s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
            |corpus AS (SELECT doc_id, text FROM documents, mx WHERE doc_id < m - 99),
            |nb AS (SELECT doc_id, text FROM documents, mx WHERE doc_id >= m - 99
            |       UNION ALL
            |       SELECT doc_id + m + 1001, regexp_replace(text, ' \\S+$$', '')
            |       FROM documents, mx WHERE doc_id < 5),
            |${winnowFpSql("c", "corpus")},
            |${winnowFpSql("b", "nb")},
            |cap AS (SELECT doc_id AS cid, fp FROM
            |         (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
            |          FROM cfp) WHERE df <= 100),
            |m AS (SELECT b.doc_id AS bid, cap.cid, count(*)::BIGINT AS n_shared
            |      FROM bfp b JOIN cap USING (fp) GROUP BY 1, 2
            |      HAVING count(*) >= 2),
            |best AS (SELECT bid, cid AS match_id, n_shared FROM m
            |         QUALIFY row_number() OVER (PARTITION BY bid
            |           ORDER BY n_shared DESC, cid) = 1),
            |nf AS (SELECT doc_id, count(*)::BIGINT AS n_fps FROM bfp GROUP BY 1)
            |SELECT nb.doc_id, coalesce(nf.n_fps, 0)::BIGINT AS n_fps,
            |  best.match_id, coalesce(best.n_shared, 0)::BIGINT AS n_shared,
            |  CASE WHEN best.match_id IS NOT NULL THEN 'near_dup_of_corpus'
            |       ELSE 'kept' END AS status
            |FROM nb LEFT JOIN nf USING (doc_id)
            |LEFT JOIN best ON nb.doc_id = best.bid
            |ORDER BY nb.doc_id""".stripMargin))

  /** Asymmetric containment over winnow fingerprints
    * ([[Dedup.winnowContainment]], Broder containment on the winnowed
    * sketch): the quote/subset detector symmetric Jaccard misses. The
    * fixture plants a true subset: each doc with id%50==0 contributes a
    * truncated prefix copy at id+70000 whose fingerprints are (mostly)
    * contained in the original's. */
  val dedupContainment: QueryDef = QueryDef("dedup_containment",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val withSubsets = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.where(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 70000).as("doc_id"),
            regexp_replace(col("text"),
              "^((\\S+ ){10}).*$", "$1x-tail").as("text")))
      Dedup.winnowContainment(withSubsets, "doc_id", "text",
          k = 4, w = 4, minContainment = 0.5, maxDocFreq = 100)
        .orderBy("contained_id", "container_id")
    },
    Some(s"""WITH base AS (SELECT doc_id, text FROM documents
            |       UNION ALL
            |       SELECT doc_id + 70000,
            |         regexp_replace(text, '^((\\S+ ){10}).*$$', '\\1x-tail')
            |       FROM documents WHERE doc_id % 50 = 0),
            |${winnowFpSql("w", "base")},
            |sz AS (SELECT doc_id, count(*)::BIGINT AS n_fps FROM wfp GROUP BY 1),
            |cap AS (SELECT doc_id, fp FROM
            |         (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
            |          FROM wfp) WHERE df BETWEEN 2 AND 100),
            |sh AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
            |         count(*)::BIGINT AS n_shared
            |       FROM cap a JOIN cap b ON a.fp = b.fp AND a.doc_id <> b.doc_id
            |       GROUP BY 1, 2)
            |SELECT sh.contained_id, sh.container_id, sh.n_shared, sz.n_fps,
            |  round(sh.n_shared::DOUBLE / sz.n_fps, 6) AS containment
            |FROM sh JOIN sz ON sh.contained_id = sz.doc_id
            |WHERE round(sh.n_shared::DOUBLE / sz.n_fps, 6) >= 0.5
            |ORDER BY contained_id, container_id""".stripMargin))

  /** Kneser–Ney bigram scoring ([[TextAnalysis.lmScoreKneserNey]], D=0.75):
    * absolute discounting + continuation-probability backoff — the KenLM
    * smoothing, stage-for-stage replayed (type table, context mass,
    * distinct-follower/predecessor counts) by the oracle. */
  val textLmKn: QueryDef = QueryDef("text_lm_kn",
    (s, d) => TextAnalysis.lmScoreKneserNey(Tables.documents(s, d), "doc_id",
        "text")
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |tok AS (SELECT doc_id, unnest(ws) AS w,
           |          generate_subscripts(ws, 1)::BIGINT AS pos FROM t),
           |uni AS (SELECT w, count(*)::DOUBLE AS cu FROM tok GROUP BY 1),
           |tot AS (SELECT sum(cu) AS t FROM uni),
           |pr AS (SELECT doc_id, pos, w,
           |         lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS pw FROM tok),
           |pairs AS (SELECT doc_id, pw, w FROM pr WHERE pw IS NOT NULL),
           |ty AS (SELECT pw, w, count(*)::DOUBLE AS cb FROM pairs GROUP BY 1, 2),
           |cx AS (SELECT pw, sum(cb) AS cc, count(*)::DOUBLE AS n1f FROM ty GROUP BY 1),
           |cont AS (SELECT w, count(*)::DOUBLE AS nctx FROM ty GROUP BY 1),
           |tts AS (SELECT count(*)::DOUBLE AS tt FROM ty),
           |lp AS (SELECT ty.pw, ty.w,
           |         round(ln(greatest(ty.cb - 0.75, 0.0) / cx.cc
           |           + 0.75 * cx.n1f / cx.cc * (cont.nctx / tts.tt)), 6) AS lp
           |       FROM ty JOIN cx USING (pw) JOIN cont ON ty.w = cont.w
           |       CROSS JOIN tts),
           |tfb AS (SELECT doc_id, pw, w, count(*)::DOUBLE AS tf
           |        FROM pairs GROUP BY 1, 2, 3),
           |bi AS (SELECT tfb.doc_id, sum(tfb.tf * lp.lp) AS bi_lp,
           |         sum(tfb.tf)::BIGINT AS n_bigrams
           |       FROM tfb JOIN lp USING (pw, w) GROUP BY 1),
           |fw AS (SELECT tok.doc_id, round(ln(uni.cu / tot.t), 6) AS lp1
           |       FROM tok JOIN uni USING (w) CROSS JOIN tot WHERE tok.pos = 1),
           |cnt AS (SELECT doc_id, count(*)::BIGINT AS n_words FROM tok GROUP BY 1)
           |SELECT cnt.doc_id, cnt.n_words,
           |  coalesce(bi.n_bigrams, 0)::BIGINT AS n_bigrams,
           |  round(-(fw.lp1 + coalesce(bi.bi_lp, 0.0)), 6) AS nll_sum
           |FROM cnt JOIN fw USING (doc_id) LEFT JOIN bi USING (doc_id)
           |ORDER BY cnt.doc_id""".stripMargin))

  /** Kneser–Ney scoring from the STORED type table
    * ([[Materialized.knTypes]] ∘
    * [[TextAnalysis.lmScoreKneserNeyFromModel]]) — the production twin of
    * `text_lm_kn`: the four smoothing count tables are derived once per
    * corpus snapshot; scoring replays the stored `(pw, w, lp)` rows. Same
    * oracle as the live twin (the artifact's builder IS that
    * computation). */
  val textLmKn2: QueryDef = QueryDef("text_lm_kn2",
    (s, d) => TextAnalysis.lmScoreKneserNeyFromModel(Tables.documents(s, d),
        "doc_id", "text", Materialized.knTypes(s, d))
      .orderBy("doc_id"),
    textLmKn.oracle)

  /** Stupid Backoff trigram scoring ([[TextAnalysis.lmScoreStupidBackoff]],
    * Brants et al. 2007, α=0.4) on a HELD-OUT split — trained on even
    * doc_ids, scored on every doc, so unseen trigrams/bigrams/words
    * exercise the whole backoff chain (OOV positions counted, not
    * dropped). */
  val textLmSbo: QueryDef = QueryDef("text_lm_sbo",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.lmScoreStupidBackoff(docs,
          docs.where(col("doc_id") % 2 === 0), "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS ws
           |            FROM documents WHERE doc_id % 2 = 0),
           |ttok AS (SELECT doc_id, unnest(ws) AS w,
           |           generate_subscripts(ws, 1)::BIGINT AS pos FROM tr),
           |th AS (SELECT doc_id, pos, w,
           |         lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS pw,
           |         lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS ppw
           |       FROM ttok),
           |uni AS (SELECT w, count(*)::DOUBLE AS c1 FROM th GROUP BY 1),
           |nn AS (SELECT sum(c1) AS n FROM uni),
           |bi AS (SELECT pw, w, count(*)::DOUBLE AS c2 FROM th
           |       WHERE pw IS NOT NULL GROUP BY 1, 2),
           |tri AS (SELECT ppw, pw, w, count(*)::DOUBLE AS c3 FROM th
           |        WHERE ppw IS NOT NULL GROUP BY 1, 2, 3),
           |sa AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |stok AS (SELECT doc_id, unnest(ws) AS w,
           |           generate_subscripts(ws, 1)::BIGINT AS pos FROM sa),
           |sc AS (SELECT doc_id, pos, w,
           |         lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS pw,
           |         lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS ppw
           |       FROM stok),
           |j AS (SELECT sc.doc_id,
           |        CASE WHEN u.c1 IS NULL THEN NULL
           |             WHEN sc.pos = 1 THEN u.c1 / nn.n
           |             WHEN sc.pos = 2 THEN
           |               CASE WHEN b.c2 IS NOT NULL THEN b.c2 / up.c1p
           |                    ELSE 0.4 * u.c1 / nn.n END
           |             ELSE
           |               CASE WHEN t3.c3 IS NOT NULL THEN t3.c3 / bc.c2ctx
           |                    WHEN b.c2 IS NOT NULL THEN 0.4 * b.c2 / up.c1p
           |                    ELSE 0.4 * 0.4 * u.c1 / nn.n END END AS s
           |      FROM sc
           |      LEFT JOIN uni u ON sc.w = u.w
           |      LEFT JOIN (SELECT w AS pw, c1 AS c1p FROM uni) up ON sc.pw = up.pw
           |      LEFT JOIN bi b ON sc.pw = b.pw AND sc.w = b.w
           |      LEFT JOIN (SELECT pw AS ppw, w AS pw2, c2 AS c2ctx FROM bi) bc
           |        ON sc.ppw = bc.ppw AND sc.pw = bc.pw2
           |      LEFT JOIN tri t3
           |        ON sc.ppw = t3.ppw AND sc.pw = t3.pw AND sc.w = t3.w
           |      CROSS JOIN nn)
           |SELECT doc_id, count(*)::BIGINT AS n_words,
           |  sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           |  round(-sum(coalesce(round(ln(s), 6), 0.0)), 6) AS nll_sum
           |FROM j GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The shared 5-gram KN model/token CTEs: even-split training tables of
    * every order, continuation tables, the held-out token stream with its
    * four history lags — every KN5 replay builds on this prefix.
    * `prune345` replays the KenLM `--prune 0 0 1 1 1` dial: order-3/4/5
    * singleton types dropped; continuation tables derive from the PRUNED
    * orders, exactly like [[graft.llm.TextAnalysis.kn5Prune]] consumers. */
  private def kn5ModelSqlFor(prune345: Boolean): String = {
    val hv = if (prune345) " HAVING count(*) >= 2" else ""
    // a document split's token stream with its four history lags
    def hist(ws: String, tok: String, h: String, where: String): String =
      s"""$ws AS (SELECT doc_id, string_split(text, ' ') AS ws
        |       FROM documents$where),
        |$tok AS (SELECT doc_id, unnest(ws) AS w,
        |           generate_subscripts(ws, 1)::BIGINT AS pos FROM $ws),
        |$h AS (SELECT doc_id, pos, w,
        |         lag(w)    OVER (PARTITION BY doc_id ORDER BY pos) AS h1,
        |         lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS h2,
        |         lag(w, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS h3,
        |         lag(w, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS h4
        |       FROM $tok)""".stripMargin
    s"""${hist("tr", "ttok", "th", " WHERE doc_id % 2 = 0")},
      |uni AS (SELECT w, count(*)::DOUBLE AS c1 FROM th GROUP BY 1),
      |nv AS (SELECT sum(c1) AS n, count(*)::DOUBLE AS v FROM uni),
      |t2 AS (SELECT h1, w, count(*)::DOUBLE AS c2 FROM th
      |       WHERE h1 IS NOT NULL GROUP BY 1, 2),
      |t3 AS (SELECT h2, h1, w, count(*)::DOUBLE AS c3 FROM th
      |       WHERE h2 IS NOT NULL GROUP BY 1, 2, 3$hv),
      |t4 AS (SELECT h3, h2, h1, w, count(*)::DOUBLE AS c4 FROM th
      |       WHERE h3 IS NOT NULL GROUP BY 1, 2, 3, 4$hv),
      |t5 AS (SELECT h4, h3, h2, h1, w, count(*)::DOUBLE AS c5 FROM th
      |       WHERE h4 IS NOT NULL GROUP BY 1, 2, 3, 4, 5$hv),
      |cc2 AS (SELECT h1, w, count(*)::DOUBLE AS cc2 FROM t3 GROUP BY 1, 2),
      |cc3 AS (SELECT h2, h1, w, count(*)::DOUBLE AS cc3 FROM t4
      |        GROUP BY 1, 2, 3),
      |cc4 AS (SELECT h3, h2, h1, w, count(*)::DOUBLE AS cc4 FROM t5
      |        GROUP BY 1, 2, 3, 4),
      |cont1 AS (SELECT w, count(*)::DOUBLE AS nc1 FROM t2 GROUP BY 1),
      |tts AS (SELECT count(*)::DOUBLE AS tt,
      |          count(DISTINCT w)::DOUBLE AS w1 FROM t2),
      |${hist("sa", "stok", "sh", "")}""".stripMargin
  }

  /** History columns of an order-k n-gram, farthest word first. */
  private def kn5Hs(k: Int): Seq[String] = Seq("h4", "h3", "h2", "h1").takeRight(k - 1)

  private def kn5On(a: String, b: String, cols: Seq[String]): String =
    cols.map(c => s"$a.$c = $b.$c").mkString(" AND ")

  /** The per-history context CTEs, typed `ty`: `<ctx>k` (k = 2..5) over
    * the order-k table with mass `csk` and follower count classes
    * `ek_1..3` (N₁, N₂, N₃₊); `<cx>k` (k = 2..4) over the continuation
    * table with `ccsk` and `fk_1..3`. */
  private def kn5CtxsSql(ctx: String, cx: String, ty: String): String = {
    def one(cte: String, tbl: String, k: Int, c: String, cs: String, p: String) =
      s"""$cte AS (SELECT ${kn5Hs(k).mkString(", ")}, sum($c)::$ty AS $cs,
         |           ${knCls(c, p, ty)}
         |         FROM $tbl GROUP BY ${(1 until k).mkString(", ")})""".stripMargin
    ((2 to 5).map(k => one(s"$ctx$k", s"t$k", k, s"c$k", s"cs$k", s"e${k}_")) ++
      (2 to 4).map(k => one(s"$cx$k", s"cc$k", k, s"cc$k", s"ccs$k", s"f${k}_")))
      .mkString(",\n")
  }

  private def knCls(c: String, p: String, ty: String): String =
    s"""(count(*) FILTER (WHERE $c = 1))::$ty AS ${p}1,
       |           (count(*) FILTER (WHERE $c = 2))::$ty AS ${p}2,
       |           (count(*) FILTER (WHERE $c >= 3))::$ty AS ${p}3""".stripMargin

  /** One discount-triple CTE `p (p1, p2, p3)` over the counts `tbl.c`.
    * Modified: count-of-counts n₁..n₄, Chen & Goodman's `Y/D₁/D₂/D₃`
    * under KenLM's validity rule — any zero among n₁..n₄ or any estimate
    * outside `0 < Dₖ ≤ k` falls the WHOLE triple back to 0.75
    * (positivity is what keeps every probability > 0) — the same
    * expression text as [[graft.llm.TextAnalysis]]'s `kn5Discounts`.
    * Fixed: the constant 0.75 (fixed-discount KN is modified KN with
    * D₁ = D₂ = D₃ = D). `mu` rounds to micro-unit BIGINTs,
    * `round(round(d, 6)·10⁶)` (0.75 → 750000), as the quantized model
    * stores them. */
  private def knDiscountSql(p: String, tbl: String, c: String, modified: Boolean,
                            mu: Boolean): String = {
    val y = "(n1 / (n1 + 2.0 * n2))"
    val d1r = s"1.0 - 2.0 * $y * n2 / n1"
    val d2r = s"2.0 - 3.0 * $y * n3 / n2"
    val d3r = s"3.0 - 4.0 * $y * n4 / n3"
    val invalid =
      s"""n1 = 0 OR n2 = 0 OR n3 = 0 OR n4 = 0
         |         OR $d1r <= 0.0 OR $d1r > 1.0
         |         OR $d2r <= 0.0 OR $d2r > 2.0
         |         OR $d3r <= 0.0 OR $d3r > 3.0""".stripMargin
    def dk(k: Int, raw: String) = {
      val d = if (modified) s"CASE WHEN $invalid\n    THEN 0.75 ELSE $raw END"
        else "0.75::DOUBLE"
      (if (mu) s"round(round($d, 6) * 1000000, 0)::BIGINT" else d) + s" AS $p$k"
    }
    val coc =
      if (!modified) ""
      else s"""
       |  FROM (SELECT (count(*) FILTER (WHERE $c = 1))::DOUBLE AS n1,
       |          (count(*) FILTER (WHERE $c = 2))::DOUBLE AS n2,
       |          (count(*) FILTER (WHERE $c = 3))::DOUBLE AS n3,
       |          (count(*) FILTER (WHERE $c = 4))::DOUBLE AS n4 FROM $tbl)""".stripMargin
    s"""$p AS (SELECT
       |    ${dk(1, d1r)},
       |    ${dk(2, d2r)},
       |    ${dk(3, d3r)}$coc)""".stripMargin
  }

  /** The eight discounted distributions `(triple, counts table, count
    * column)`: raw levels `r2d..r5d` from raw counts, continuation levels
    * `c2d..c4d` from continuation counts, the base `ud` from the
    * continuation unigram. */
  private def kn5Levels: Seq[(String, String, String)] =
    (2 to 5).map(k => (s"r${k}d", s"t$k", s"c$k")) ++
      (2 to 4).map(k => (s"c${k}d", s"cc$k", s"cc$k")) :+ (("ud", "cont1", "nc1"))

  /** The eight discount-triple CTEs plus the base level's count classes
    * `ucls (u_1..3)`, typed `ty`. */
  private def kn5DiscountsSql(modified: Boolean, mu: Boolean, ty: String): String =
    (kn5Levels.map { case (p, tbl, c) => knDiscountSql(p, tbl, c, modified, mu) } :+
      s"ucls AS (SELECT ${knCls("nc1", "u_", ty)} FROM cont1)").mkString(",\n")

  /** `cte AS (SELECT cols FROM sh LEFT JOIN …)`: the held-out token
    * stream probing each leg `(table, alias, join columns, value
    * columns)`; `head` names the leading columns. */
  private def kn5JoinSql(cte: String, head: String,
                         legs: Seq[(String, String, Seq[String], Seq[String])],
                         tail: String = ""): String =
    s"""$cte AS (SELECT sh.doc_id, sh.pos, $head,
       |         ${legs.flatMap { case (_, a, _, vs) => vs.map(v => s"$a.$v") }.mkString(", ")}
       |       FROM sh
       |${legs.map { case (t, a, on, _) => s"       LEFT JOIN $t $a ON ${kn5On("sh", a, on)}" }.mkString("\n")}$tail)""".stripMargin

  /** The interpolation chain CTEs `t2..t5` over `t1` (which carries
    * `p1`): for k = 2..4 a continuation level `pkc` and a raw top `pkr`
    * over `p(k−1)c`, then the raw top `p5` over `p4c`. */
  private def kn5ChainSql(t: String, level: (Int, Boolean, String) => String): String =
    (2 to 5).map { k =>
      val lower = if (k == 2) "p1" else s"p${k - 1}c"
      val ps = if (k == 5) Seq(s"${level(5, false, lower)} AS p5")
        else Seq(s"${level(k, true, lower)} AS p${k}c",
          s"${level(k, false, lower)} AS p${k}r")
      s"$t$k AS (SELECT *,\n         ${ps.mkString(",\n         ")} FROM $t${k - 1})"
    }.mkString(",\n")

  /** The per-doc epilogue of every KN5 replay: the chain top per 1-based
    * position (`p0` at position 1), a null `known` marks an OOV position;
    * per-position 6-dp `ln`. Ends in `kn5s (doc_id, n_words, n_oov,
    * nll_sum)`. */
  private def kn5sSql(from: String, known: String, p0: String): String =
    s"""sp AS (SELECT doc_id,
       |         CASE WHEN $known IS NULL THEN NULL
       |              WHEN pos = 1 THEN $p0
       |              WHEN pos = 2 THEN p2r
       |              WHEN pos = 3 THEN p3r
       |              WHEN pos = 4 THEN p4r
       |              ELSE p5 END AS s FROM $from),
       |kn5s AS (SELECT doc_id, count(*)::BIGINT AS n_words,
       |           sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
       |           round(-sum(coalesce(round(ln(s), 6), 0.0)), 6) AS nll_sum
       |         FROM sp GROUP BY 1)""".stripMargin

  /** One KN interpolation level: per-count-class discount, class-weighted
    * backoff mass — mirrors the Spark `interp`. */
  private def knmLevel(c: String, cs: String, kp: String, dp: String,
                       lower: String, guard: String = ""): String =
    s"""CASE WHEN ${if (guard.isEmpty) s"$cs IS NOT NULL" else guard} THEN
       |           (CASE WHEN $c IS NULL THEN 0.0 WHEN $c = 1 THEN $c - ${dp}1
       |                 WHEN $c = 2 THEN $c - ${dp}2 ELSE $c - ${dp}3 END) / $cs
       |           + (${dp}1 * ${kp}1 + ${dp}2 * ${kp}2 + ${dp}3 * ${kp}3)
       |             / $cs * $lower
       |         ELSE $lower END""".stripMargin

  /** The 5-gram interpolated-KN score replay: model prefix, context CTEs
    * with count-class follower counts, eight discount triples (modified:
    * estimated; fixed: 0.75), class-weighted interpolation at every
    * level, the raw-count top per position order over continuation-count
    * middles and the uniform-interpolated base. Ends in `kn5s`. */
  private def kn5ScoreSqlFor(prune345: Boolean, modified: Boolean): String = {
    val legs = (2 to 5).flatMap { k =>
      val (h, g) = (kn5Hs(k), kn5Hs(k) :+ "w")
      Seq((s"t$k", s"t$k", g, Seq(s"c$k")),
        (s"ctx$k", s"ctx$k", h, s"cs$k" +: (1 to 3).map(i => s"e${k}_$i"))) ++
        (if (k == 5) Nil
         else Seq((s"cc$k", s"cc$k", g, Seq(s"cc$k")),
           (s"cx$k", s"cx$k", h, s"ccs$k" +: (1 to 3).map(i => s"f${k}_$i"))))
    }
    s"""${kn5ModelSqlFor(prune345)},
      |${kn5CtxsSql("ctx", "cx", "DOUBLE")},
      |${kn5DiscountsSql(modified, mu = false, "DOUBLE")},
      |${kn5JoinSql("jm", "u.c1, cont1.nc1",
          (("uni", "u", Seq("w"), Nil)) +: (("cont1", "cont1", Seq("w"), Nil)) +: legs)},
      |l1 AS (SELECT *, ${knmLevel("nc1", "tt", "u_", "ud", "(1.0 / v)", guard = "tt > 0.0")} AS p1
      |       FROM jm CROSS JOIN nv CROSS JOIN tts CROSS JOIN ${kn5Levels.map(_._1).mkString(" CROSS JOIN ")}
      |         CROSS JOIN ucls),
      |${kn5ChainSql("l", {
          case (k, true, lower) => knmLevel(s"cc$k", s"ccs$k", s"f${k}_", s"c${k}d", lower)
          case (k, false, lower) => knmLevel(s"c$k", s"cs$k", s"e${k}_", s"r${k}d", lower)
        })},
      |${kn5sSql("l5", "c1", "c1 / n")}""".stripMargin
  }

  /** The quantized-ARPA replay over the pruned model prefix: micro-unit
    * discount triples (modified: estimated; fixed: 750000), count-class
    * numerators `(2(10⁶c − Dµ(c)) + cs) div (2cs)` and class-weighted γ
    * `(2·ΣDₖµNₖ + cs) div (2cs)` clamped to 1 µ (and the uniform floor),
    * then the q+γ·lower chain. Ends in `kn5s`. */
  private def kn5qScoreSqlFor(modified: Boolean): String = {
    def q6(a: String, b: String) = s"(2000000 * ($a) + ($b)) // (2 * ($b))"
    def qm(c: String, p: String, cs: String) =
      s"(2 * (1000000 * ($c)::BIGINT - CASE WHEN $c = 1 THEN ${p}1 " +
        s"WHEN $c = 2 THEN ${p}2 ELSE ${p}3 END) + $cs) // (2 * ($cs))"
    def gmx(dp: String, kp: String, cs: String) =
      s"greatest((2 * (${dp}1 * ${kp}1 + ${dp}2 * ${kp}2 + ${dp}3 * ${kp}3) " +
        s"+ $cs) // (2 * ($cs)), 1)"
    // per order: the raw numerator/γ, plus (below order 5) the
    // continuation numerator/γ of the left-extended grams
    val grams = (2 to 5).map { k =>
      val (h, g) = (kn5Hs(k), kn5Hs(k) :+ "w")
      val (qc, cj) =
        if (k == 5) ("", "")
        else (s""",
          |          CASE WHEN u.cc$k IS NOT NULL THEN
          |            ${qm(s"u.cc$k", s"c${k}d", s"x.ccs$k")} END AS qc$k""".stripMargin,
          s"""
          |        LEFT JOIN cc$k u ON ${kn5On("u", "t", g)}
          |        LEFT JOIN cxq$k x ON ${kn5On("x", "t", h)} CROSS JOIN c${k}d""".stripMargin)
      s"""qg$k AS (SELECT ${g.map("t." + _).mkString(", ")},
        |          ${qm(s"t.c$k", s"r${k}d", s"c.cs$k")} AS qr$k$qc
        |        FROM t$k t JOIN ctq$k c USING (${h.mkString(", ")}) CROSS JOIN r${k}d$cj)""".stripMargin
    }
    val ctxs = (2 to 5).map { k =>
      val h = kn5Hs(k)
      val (gc, cj) =
        if (k == 5) ("", "")
        else (s""",
          |          CASE WHEN x.ccs$k IS NOT NULL THEN
          |            ${gmx(s"c${k}d", s"x.f${k}_", s"x.ccs$k")} END AS gc$k""".stripMargin,
          s" LEFT JOIN cxq$k x USING (${h.mkString(", ")}) CROSS JOIN c${k}d")
      s"""qx$k AS (SELECT ${h.map("c." + _).mkString(", ")},
        |          ${gmx(s"r${k}d", s"c.e${k}_", s"c.cs$k")} AS gr$k$gc
        |        FROM ctq$k c$cj CROSS JOIN r${k}d)""".stripMargin
    }
    val legs = (2 to 5).flatMap { k =>
      Seq((s"qg$k", s"g$k", kn5Hs(k) :+ "w", s"qr$k" +: (if (k < 5) Seq(s"qc$k") else Nil)),
        (s"qx$k", s"x$k", kn5Hs(k), s"gr$k" +: (if (k < 5) Seq(s"gc$k") else Nil)))
    }
    def lvl(q: String, g: String, lower: String) =
      s"CASE WHEN $g IS NOT NULL THEN coalesce($q, 0) / 1000000.0\n" +
        s"             + ($g / 1000000.0) * $lower ELSE $lower END"
    s"""${kn5ModelSqlFor(prune345 = true)},
      |${kn5CtxsSql("ctq", "cxq", "BIGINT")},
      |${kn5DiscountsSql(modified, mu = true, "BIGINT")},
      |${grams.mkString(",\n")},
      |${ctxs.mkString(",\n")},
      |qu AS (SELECT u.w,
      |         greatest(${q6("u.c1::BIGINT", "nv.n::BIGINT")}, 1) AS q0,
      |         CASE WHEN cont1.nc1 IS NOT NULL AND tts.tt > 0 THEN
      |           ${qm("cont1.nc1", "ud", "tts.tt::BIGINT")}
      |         END AS q1u
      |       FROM uni u LEFT JOIN cont1 ON u.w = cont1.w
      |       CROSS JOIN nv CROSS JOIN tts CROSS JOIN ud),
      |qsc AS (SELECT CASE WHEN tts.tt > 0 THEN
      |          ${gmx("ud", "ucls.u_", "tts.tt::BIGINT")}
      |        END AS gam1,
      |        greatest(${q6("1", "nv.v::BIGINT")}, 1) AS vinv
      |       FROM tts CROSS JOIN nv CROSS JOIN ud CROSS JOIN ucls),
      |${kn5JoinSql("jq", "qu.q0, qu.q1u, qsc.gam1, qsc.vinv", (("qu", "qu", Seq("w"), Nil)) +: legs,
          tail = "\n       CROSS JOIN qsc")},
      |m1 AS (SELECT *, ${lvl("q1u", "gam1", "(vinv / 1000000.0)")} AS p1 FROM jq),
      |${kn5ChainSql("m", { (k, cont, lower) =>
          val s = if (cont) "c" else "r"
          lvl(s"q$s$k", s"g$s$k", lower)
        })},
      |${kn5sSql("m5", "q0", "q0 / 1000000.0")}""".stripMargin
  }

  private val kn5ScoreSql: String = kn5ScoreSqlFor(prune345 = false, modified = false)
  private val kn5pScoreSql: String = kn5ScoreSqlFor(prune345 = true, modified = false)

  /** A per-doc KN5 score oracle over a replay ending in `kn5s`. */
  private def kn5Oracle(scoreSql: String): Option[String] =
    Some(s"""WITH $scoreSql
            |SELECT doc_id, n_words, n_oov, nll_sum FROM kn5s
            |ORDER BY doc_id""".stripMargin)

  /** Interpolated 5-gram Kneser–Ney scoring ([[TextAnalysis.lmScoreKn5]],
    * D=0.75 at every order) — the KenLM-shape gate CCNet ships: raw-count
    * top level, continuation-count middles, uniform-interpolated base,
    * weight-1 backoff on unseen histories. Trained on even doc_ids,
    * scored on every doc, so the held-out half exercises all five backoff
    * levels; OOV positions counted, never dropped. */
  val textLmKn5: QueryDef = QueryDef("text_lm_kn5",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.lmScoreKn5(docs, docs.where(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    kn5Oracle(kn5ScoreSql))

  /** 5-gram KN scoring from the STORED unified type table
    * ([[Materialized.kn5Types]] ∘ [[TextAnalysis.lmScoreKn5FromModel]]) —
    * the production twin of `text_lm_kn5`: the n-gram counting is paid
    * once per corpus snapshot; every smoothing table derives from the
    * stored types, so scoring never re-reads the training text. Same
    * oracle as the live twin (the artifact's builder IS that
    * computation). */
  val textLmKn52: QueryDef = QueryDef("text_lm_kn52",
    (s, d) => TextAnalysis.lmScoreKn5FromModel(Tables.documents(s, d),
        "doc_id", "text", Materialized.kn5Types(s, d))
      .orderBy("doc_id"),
    textLmKn5.oracle)

  /** MODIFIED Kneser–Ney 5-gram scoring (Chen & Goodman 1998 §3 — the
    * estimator KenLM actually ships): three count-of-count-estimated
    * discounts per distribution level (`Y/D₁/D₂/D₃`, clamped, fixed-0.75
    * fallback on degenerate tables) applied by count class, backoff mass
    * `γ = (D₁N₁+D₂N₂+D₃N₃₊)/c(h·)`. Reads the SAME stored type table as
    * the fixed twin — the discount triples are one-row aggregates of it,
    * never corpus scans. */
  val textLmKn5m: QueryDef = QueryDef("text_lm_kn5m",
    (s, d) => TextAnalysis.lmScoreKn5FromModel(Tables.documents(s, d),
        "doc_id", "text", Materialized.kn5Types(s, d), modified = true)
      .orderBy("doc_id"),
    kn5Oracle(kn5ScoreSqlFor(prune345 = false, modified = true)))

  /** CCNet's ACTUAL gate composition: per-language perplexity terciles
    * over the STORED 5-gram KN scores — the `text_ppl_buckets2` threshold
    * construction consuming the 5-gram scores unchanged (Wenzek et al.
    * 2020 gate KenLM 5-gram perplexity; the unigram-scored twin
    * demonstrated the plumbing). Scores come from the materialized
    * [[Materialized.kn5Scores]] table, the CCNet staging: the threshold
    * construction's two passes over its input would otherwise replay the
    * dozen-join scoring plan twice (measured 9.0 s vs ~1 s at sf0.1).
    * Thresholds from exact order statistics on the 6-dp value table,
    * broadcast back, buckets by comparison — no corpus ntile. */
  val textPplBuckets5: QueryDef = QueryDef("text_ppl_buckets5",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = Materialized.kn5Scores(s, d)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.pplBucketsThreshold(scored, "doc_id", "lang")
        .orderBy("doc_id")
    },
    Some(s"""WITH $kn5ScoreSql,
            |$pplBuckets5TailSql""".stripMargin))

  /** Perplexity-tercile construction over a `kn5s` score CTE — shared by
    * the full-model and pruned-model stored-score gates (the gate is the
    * same construction; only the scoring model differs). */
  private lazy val pplBuckets5TailSql: String =
    """p AS (SELECT k.doc_id, dd.lang, k.n_words,
            |        ((2 * round(k.nll_sum * 1000000, 0)::BIGINT + k.n_words)
            |          // (2 * k.n_words)) / 1000000.0 AS ppl_tok
            |      FROM kn5s k JOIN documents dd USING (doc_id)
            |      WHERE k.n_words > 0),
            |vc AS (SELECT lang, ppl_tok, count(*)::BIGINT AS cnt FROM p
            |       GROUP BY 1, 2),
            |nr AS (SELECT lang, sum(cnt)::BIGINT AS n_rows FROM vc GROUP BY 1),
            |cq AS (SELECT vc.lang, vc.ppl_tok,
            |         sum(vc.cnt) OVER (PARTITION BY vc.lang
            |           ORDER BY vc.ppl_tok)::BIGINT AS cum,
            |         nr.n_rows
            |       FROM vc JOIN nr USING (lang)),
            |thr AS (SELECT lang,
            |          min(CASE WHEN cum >= (n_rows // 3) + least(1, n_rows % 3)
            |              THEN ppl_tok END) AS t1,
            |          min(CASE WHEN cum >= 2 * (n_rows // 3) + least(2, n_rows % 3)
            |              THEN ppl_tok END) AS t2
            |        FROM cq GROUP BY 1),
            |b AS (SELECT p.doc_id, p.lang, p.n_words, p.ppl_tok,
            |        (1 + (p.ppl_tok > thr.t1)::INT + (p.ppl_tok > thr.t2)::INT)::BIGINT
            |          AS bucket
            |      FROM p JOIN thr USING (lang))
            |SELECT doc_id, lang, n_words, ppl_tok, bucket,
            |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
            |       ELSE 'middle' END AS bucket_label
            |FROM b ORDER BY doc_id""".stripMargin

  /** 5-gram KN scoring against the COUNT-THRESHOLD-PRUNED stored model
    * (KenLM `--prune 0 0 1 1 1`, [[Materialized.kn5TypesPruned]]):
    * order-3/4/5 singletons dropped at store time, every smoothing mass
    * re-derived from the pruned table so the model stays exactly
    * normalized (LlmSpec property). The scale story: the unpruned
    * order-4/5 slices are near corpus-sized at 100 TB — this is the
    * artifact a production gate actually ships. */
  val textLmKn5p: QueryDef = QueryDef("text_lm_kn5p",
    (s, d) => TextAnalysis.lmScoreKn5FromModel(Tables.documents(s, d),
        "doc_id", "text", Materialized.kn5TypesPruned(s, d))
      .orderBy("doc_id"),
    kn5Oracle(kn5pScoreSql))

  /** 5-gram KN scoring against the QUANTIZED ARPA-style stored model
    * ([[Materialized.kn5Quant]] ∘ [[TextAnalysis.lmScoreKn5Quant]]) —
    * KenLM's prune+quantize recipe end-to-end: per-gram discounted
    * probabilities and per-context backoff masses in 6-dp micro-unit
    * longs (γ/uniform floors clamped to 1 µ so `ln` never sees 0), two
    * partition-pruned joins per order, zero model-side aggregation at
    * scoring time. */
  val textLmKn5q: QueryDef = QueryDef("text_lm_kn5q",
    (s, d) => TextAnalysis.lmScoreKn5Quant(Tables.documents(s, d),
        "doc_id", "text", Materialized.kn5Quant(s, d))
      .orderBy("doc_id"),
    kn5Oracle(kn5qScoreSqlFor(modified = false)))

  /** The CCNet perplexity-tercile gate consuming the PRUNED stored scores
    * ([[Materialized.kn5ScoresPruned]]) — `text_ppl_buckets5`'s
    * construction unchanged over the production-pruned artifact (verdict
    * r11 item #1's done-bar). */
  val textPplBuckets5p: QueryDef = QueryDef("text_ppl_buckets5p",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = Materialized.kn5ScoresPruned(s, d)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      TextAnalysis.pplBucketsThreshold(scored, "doc_id", "lang")
        .orderBy("doc_id")
    },
    Some(s"""WITH $kn5pScoreSql,
            |$pplBuckets5TailSql""".stripMargin))

  /** MODIFIED Kneser–Ney over the PRUNED stored model — the two KenLM
    * production dials composed: count-threshold pruning
    * ([[Materialized.kn5TypesPruned]]) under the Chen–Goodman
    * count-of-count discounts. The eight discount triples re-estimate
    * from the PRUNED tables (their count-of-counts change when
    * singletons vanish — n₁ of orders 3–5 is zero post-prune, so those
    * levels fall back to the fixed discount by KenLM's validity rule,
    * exactly what KenLM does when pruning empties a count class). */
  val textLmKn5pm: QueryDef = QueryDef("text_lm_kn5pm",
    (s, d) => TextAnalysis.lmScoreKn5FromModel(Tables.documents(s, d),
        "doc_id", "text", Materialized.kn5TypesPruned(s, d), modified = true)
      .orderBy("doc_id"),
    kn5Oracle(kn5ScoreSqlFor(prune345 = true, modified = true)))

  /** Quantized MODIFIED-KN scoring ([[Materialized.kn5QuantMod]] ∘
    * [[TextAnalysis.lmScoreKn5Quant]]) — the two KenLM production dials
    * composed INTO the stored artifact: count-threshold pruning + the
    * Chen–Goodman count-class discounts, quantized to 6-dp micro-unit
    * longs (discounts first — `round(round(d,6)·10⁶)` — so every
    * numerator `(2(10⁶c − Dµ(c)) + cs) div (2cs)` and class-weighted γ
    * is exact integer arithmetic; validity-rule fallbacks quantize to
    * exactly the fixed model's 750000). Scoring is the UNCHANGED
    * partition-pruned join plan of `text_lm_kn5q` — the modified-ness
    * lives entirely in the stored qa6/qb6 values, which is the point:
    * the production artifact carries the better estimator at zero
    * scoring-time cost. */
  val textLmKn5qm: QueryDef = QueryDef("text_lm_kn5qm",
    (s, d) => TextAnalysis.lmScoreKn5Quant(Tables.documents(s, d),
        "doc_id", "text", Materialized.kn5QuantMod(s, d))
      .orderBy("doc_id"),
    kn5Oracle(kn5qScoreSqlFor(modified = true)))

  /** Count-min sketch frequency probe ([[TextAnalysis.cmsCells]] /
    * [[TextAnalysis.cmsEstimate]], Cormode & Muthukrishnan 2005): 4×1024
    * cells over the corpus word stream, probed with the distinct words of
    * every 97th document against their exact counts — `over_ok` pins the
    * one-sided estimate ≥ truth guarantee on every probe. */
  val textCmsCount: QueryDef = QueryDef("text_cms_count",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val cells = TextAnalysis.cmsCells(docs, "text", depth = 4, width = 1024)
      val probe = docs.where(col("doc_id") % 97 === 3)
        .select(explode(split(col("text"), " ")).as("w"))
      val est = TextAnalysis.cmsEstimate(probe, "w", cells,
        depth = 4, width = 1024)
      val exact = docs.select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("w"), "left")
        .select(col("w").as("word"), col("est"),
          coalesce(col("exact"), lit(0L)).as("exact"),
          (col("est") >= coalesce(col("exact"), lit(0L))).as("over_ok"))
        .orderBy("word")
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
           |sd AS (SELECT unnest(range(0, 4)) AS seed),
           |cells AS (SELECT sd.seed,
           |            ('0x' || substr(md5(sd.seed::VARCHAR || '|' || tok.w), 1, 15))::BIGINT
           |              % 1024 AS bucket,
           |            count(*)::BIGINT AS cnt
           |          FROM tok, sd GROUP BY 1, 2),
           |probe AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
           |          FROM documents WHERE doc_id % 97 = 3),
           |pb AS (SELECT p.w, sd.seed,
           |         ('0x' || substr(md5(sd.seed::VARCHAR || '|' || p.w), 1, 15))::BIGINT
           |           % 1024 AS bucket
           |       FROM probe p, sd),
           |est AS (SELECT pb.w, min(coalesce(c.cnt, 0))::BIGINT AS est
           |        FROM pb LEFT JOIN cells c USING (seed, bucket) GROUP BY 1),
           |ex AS (SELECT w, count(*)::BIGINT AS exact FROM tok GROUP BY 1)
           |SELECT e.w AS word, e.est, coalesce(x.exact, 0)::BIGINT AS exact,
           |  e.est >= coalesce(x.exact, 0) AS over_ok
           |FROM est e LEFT JOIN ex x USING (w) ORDER BY word""".stripMargin))

  /** The shared CDC chunk replay (content-defined boundaries after word j
    * iff md5-60 of the trailing 4-gram ≡ 0 mod 16) — one CTE chain used by
    * both `text_cdc_chunks` and `dedup_cdc` so the two cannot silently
    * diverge. */
  private val cdcChunkSql: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, ws,
      |        [array_to_string(ws[i:i+3], ' ') for i in range(1, len(ws) - 2)] AS gs
      |      FROM t),
      |st AS (SELECT doc_id, ws,
      |        [1] || [j + 1 for j in range(4, greatest(len(ws), 1))
      |                if (('0x' || substr(md5(gs[j-3]), 1, 15))::BIGINT % 16) = 0] AS starts
      |       FROM g),
      |se AS (SELECT doc_id, ws, starts,
      |        [starts[i+1] - 1 for i in range(1, len(starts))] || [len(ws)] AS ends
      |       FROM st),
      |cl AS (SELECT doc_id, ws,
      |        [{'ci': i, 's': starts[i], 'e': ends[i]}
      |         for i in range(1, len(starts) + 1)] AS chunks
      |       FROM se),
      |exd AS (SELECT doc_id, ws, unnest(chunks) AS c FROM cl),
      |ch AS (SELECT doc_id, c.ci::BIGINT AS chunk_idx, c.s::BIGINT AS c_start,
      |         c.e::BIGINT AS c_end, (c.e - c.s + 1)::BIGINT AS n_words,
      |         ('0x' || substr(md5(array_to_string(ws[c.s:c.e], ' ')), 1, 15))::BIGINT
      |           AS chunk_hash
      |       FROM exd)""".stripMargin

  /** Content-defined chunking ([[Dedup.cdcChunks]], the LBFS/Rabin CDC
    * idea at word granularity): boundaries decided by content, so an
    * early insertion shifts one chunk and every later chunk re-aligns —
    * the block-level dedup primitive fixed-offset blocking cannot give.
    * Zero-shuffle per-row array expressions; the oracle replays the
    * boundary rule, start/end assembly, and chunk hashing exactly. */
  val textCdcChunks: QueryDef = QueryDef("text_cdc_chunks",
    (s, d) => Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text",
        k = 4, mask = 16)
      .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH $cdcChunkSql
           |SELECT doc_id, chunk_idx, c_start, c_end, n_words, chunk_hash
           |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Cross-document duplicated CDC chunks ([[Dedup.cdcDuplicateChunks]]):
    * chunk hashes held by ≥2 docs with occurrence counts and the
    * canonical holder — which corpus REGIONS are shared. */
  val dedupCdc: QueryDef = QueryDef("dedup_cdc",
    (s, d) => Dedup.cdcDuplicateChunks(Tables.documents(s, d), "doc_id",
        "text", k = 4, mask = 16)
      .orderBy("chunk_hash"),
    Some(s"""WITH $cdcChunkSql
           |SELECT chunk_hash, count(*)::BIGINT AS n_occ,
           |  count(DISTINCT doc_id)::BIGINT AS n_docs,
           |  min(doc_id) AS canonical_id, max(n_words) AS n_words
           |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
           |ORDER BY chunk_hash""".stripMargin))

  /** The planted-edit gear corpus both gear queries run on: every 37th
    * doc plus a copy with one character overwritten mid-word. */
  private def gearCorpus(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    // the edited ids stay disjoint from the originals only because the
    // offset is not a multiple of the modulus (doc_id + 80000 ≡ doc_id + 6
    // mod 37 ≠ doc_id) — pin the invariant so editing either constant
    // independently cannot silently plant duplicate ids (r11 ADVICE)
    require(80000 % 37 != 0,
      "gearCorpus: edit-id offset must not be ≡ 0 mod the doc_id modulus")
    val docs = Tables.documents(s, d).where(col("doc_id") % 37 === 5)
    val edited = docs.select((col("doc_id") + 80000).as("doc_id"),
      concat(substring(col("text"), 1, 24), lit("@"),
        substring(col("text"), 26, Int.MaxValue)).as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(edited)
  }

  /** The rolling gear hash over the planted-edit corpus — closed-form
    * trailing-window sum in exact HUGEINT arithmetic; ends in `hh` =
    * `(doc_id, i, h)` per character plus `ln0` = doc lengths. Shared by
    * the plain-gear and FastCDC replays. */
  private val gearHashSql: String =
    """gt AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 = 5
           |            UNION ALL
           |            SELECT doc_id + 80000, text[1:24] || '@' || text[26:]
           |            FROM documents WHERE doc_id % 37 = 5),
           |ch AS MATERIALIZED (SELECT doc_id, generate_subscripts(cs, 1)::BIGINT AS i,
           |        unnest(cs) AS c
           |      FROM (SELECT doc_id, [text[j] for j in range(1, len(text) + 1)] AS cs
           |            FROM gt WHERE text IS NOT NULL)),
           |gv AS MATERIALIZED (SELECT doc_id, i,
           |        ('0x' || substr(md5(c), 1, 15))::BIGINT AS g FROM ch),
           |ln0 AS (SELECT doc_id, len(text)::BIGINT AS n FROM gt
           |        WHERE text IS NOT NULL),
           |hh AS MATERIALIZED (SELECT a.doc_id, a.i,
           |        (sum((b.g::HUGEINT * (1::HUGEINT << (a.i - b.i)))
           |             % 18446744073709551616::HUGEINT)
           |         % 18446744073709551616::HUGEINT) AS h
           |      FROM gv a JOIN gv b
           |        ON a.doc_id = b.doc_id AND b.i BETWEEN a.i - 63 AND a.i
           |      GROUP BY 1, 2),
           |""".stripMargin.dropRight(1)

  /** The plain-gear chunk chain ([[Dedup.gearChunks]]' replay): boundary
    * list, start/end assembly, chunk hashing; ends in `gch`. */
  private val gearChunkSql: String =
    s"""$gearHashSql
      |bd AS (SELECT hh.doc_id, list(hh.i ORDER BY hh.i) AS bs
           |       FROM hh JOIN ln0 ON hh.doc_id = ln0.doc_id
           |       WHERE hh.i < ln0.n AND hh.h < 288230376151711744::HUGEINT
           |       GROUP BY 1),
           |cl AS (SELECT g.doc_id, g.text,
           |         [1::BIGINT] || [b + 1 for b in coalesce(bd.bs, [])] AS starts,
           |         coalesce(bd.bs, []) || [len(g.text)::BIGINT] AS ends
           |       FROM gt g LEFT JOIN bd USING (doc_id)
           |       WHERE g.text IS NOT NULL AND len(g.text) > 0),
           |ex AS (SELECT doc_id, text,
           |         unnest([{'ci': i, 's': starts[i], 'e': ends[i]}
           |                 for i in range(1, len(starts) + 1)]) AS c
           |       FROM cl),
           |gch AS (SELECT doc_id, c.ci::BIGINT AS chunk_idx,
           |          c.s::BIGINT AS c_start, c.e::BIGINT AS c_end,
           |          (c.e - c.s + 1)::BIGINT AS n_chars,
           |          ('0x' || substr(md5(text[c.s:c.e]), 1, 15))::BIGINT
           |            AS chunk_hash
           |        FROM ex)""".stripMargin

  /** BYTE-rolling Gear CDC ([[Dedup.gearChunks]], the LBFS/FastCDC gear
    * family at character granularity): boundaries from a 64-bit rolling
    * hash over the trailing <=64 chars, so an edit INSIDE a word re-aligns
    * chunking within 64 characters -- the case word-k-gram CDC
    * (`text_cdc_chunks`) shifts a whole gram on. The fixture plants
    * exactly that (see [[gearCorpus]]); re-alignment is asserted in
    * LlmSpec. The oracle replays the rolling hash as the closed-form
    * trailing-window sum in exact HUGEINT arithmetic -- the same integers
    * the kernel's wrapping `(h<<1)+G` produces. */
  val textGearChunks: QueryDef = QueryDef("text_gear_chunks",
    (s, d) => Dedup.gearChunks(gearCorpus(s, d), "doc_id", "text",
        maskBits = 6)
      .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH $gearChunkSql
            |SELECT doc_id, chunk_idx, c_start, c_end, n_chars, chunk_hash
            |FROM gch ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Cross-document duplicated GEAR chunks ([[Dedup.gearDuplicateChunks]]):
    * the block-level dedup report at byte granularity -- on the
    * planted-edit corpus every original/edited pair shares all chunks
    * outside the edit's 64-char re-alignment window, so shared regions
    * surface as n_docs >= 2 hashes. One fixed-width (hash, id) exchange. */
  /** FastCDC normalized chunking ([[Dedup.fastCdcChunks]], Xia et al.
    * 2016): min/normal/max sizes with the two-mask normalization — a
    * stricter mask (8 bits) before the normal point, a looser one
    * (5 bits) after — over the same rolling gear hash. The oracle walks
    * the chunks with a recursive CTE whose cut rule is the kernel's:
    * first strict hit in [s+min−1, s+normal−2], else first loose hit in
    * [s+normal−1, s+max−2], else the forced max/doc-end cut. The per-
    * position next-cut table is precomputed with forward window frames
    * over the shared closed-form HUGEINT hash and the recursion is a
    * plain equi-join against it (DuckDB's recursive term silently
    * empties correlated CTE subqueries — joins replay correctly). Exact
    * because minSize ≥ 64 keeps FastCDC's per-chunk hash equal to the
    * pure rolling hash at every tested position. */
  val textFastCdcChunks: QueryDef = QueryDef("text_fastcdc_chunks",
    (s, d) => Dedup.fastCdcChunks(gearCorpus(s, d), "doc_id", "text",
        bitsS = 8, bitsL = 5, minSize = 64, normalSize = 128, maxSize = 256)
      .orderBy("doc_id", "chunk_idx"),
    Some(s"""WITH RECURSIVE
            |$gearHashSql
            |cutt AS MATERIALIZED (
            |  SELECT hh.doc_id, hh.i,
            |    least(coalesce(
            |      min(CASE WHEN h < 72057594037927936::HUGEINT THEN i END)
            |        OVER (PARTITION BY hh.doc_id ORDER BY hh.i
            |              ROWS BETWEEN 63 FOLLOWING AND 126 FOLLOWING),
            |      min(CASE WHEN h < 576460752303423488::HUGEINT THEN i END)
            |        OVER (PARTITION BY hh.doc_id ORDER BY hh.i
            |              ROWS BETWEEN 127 FOLLOWING AND 254 FOLLOWING),
            |      9223372036854775807), hh.i + 255, ln0.n) AS cut
            |  FROM hh JOIN ln0 USING (doc_id)),
            |fcs AS (
            |  SELECT doc_id, 1::BIGINT AS ci, 1::BIGINT AS s FROM ln0
            |  WHERE n > 0
            |  UNION ALL
            |  SELECT f.doc_id, f.ci + 1, c.cut + 1
            |  FROM fcs f
            |  JOIN cutt c ON c.doc_id = f.doc_id AND c.i = f.s
            |  JOIN ln0 l ON l.doc_id = f.doc_id
            |  WHERE c.cut < l.n
            |),
            |fck AS (SELECT f.doc_id, f.ci AS chunk_idx, f.s AS c_start,
            |          c.cut AS c_end
            |        FROM fcs f
            |        JOIN cutt c ON c.doc_id = f.doc_id AND c.i = f.s)
            |SELECT g.doc_id, chunk_idx, c_start, c_end,
            |  (c_end - c_start + 1)::BIGINT AS n_chars,
            |  ('0x' || substr(md5(g.text[c_start:c_end]), 1, 15))::BIGINT
            |    AS chunk_hash
            |FROM fck JOIN gt g USING (doc_id)
            |ORDER BY doc_id, chunk_idx""".stripMargin))

  val dedupGear: QueryDef = QueryDef("dedup_gear",
    (s, d) => Dedup.gearDuplicateChunks(gearCorpus(s, d), "doc_id", "text",
        maskBits = 6)
      .orderBy("chunk_hash"),
    Some(s"""WITH $gearChunkSql
            |SELECT chunk_hash, count(*)::BIGINT AS n_occ,
            |  count(DISTINCT doc_id)::BIGINT AS n_docs,
            |  min(doc_id) AS canonical_id, max(n_chars) AS n_chars
            |FROM gch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
            |ORDER BY chunk_hash""".stripMargin))

  /** Blocklist word-fraction gate ([[TextAnalysis.blocklistFilter]], the
    * UT1/RefinedWeb NSFW-wordlist shape): per-row array expression, zero
    * shuffle; keep iff ≤5% of words are listed. */
  val textBlocklist: QueryDef = QueryDef("text_blocklist",
    (s, d) => TextAnalysis.blocklistFilter(Tables.documents(s, d), "doc_id",
        "text", banned = Seq("slow", "dup", "drop", "stale"),
        maxFraction = 0.05)
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
           |           FROM documents),
           |c AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
           |        len([w for w in ws
           |             if lower(w) IN ('slow', 'dup', 'drop', 'stale')])::BIGINT
           |          AS n_banned
           |      FROM t)
           |SELECT doc_id, n_words, n_banned,
           |  round(n_banned::DOUBLE / n_words, 6) AS banned_frac,
           |  round(n_banned::DOUBLE / n_words, 6) <= 0.05 AS keep
           |FROM c ORDER BY doc_id""".stripMargin))

  /** Hard-negative mining ([[Similarity.hardNegatives]]): each labeled
    * query's top-5 nearest DIFFERENT-label corpus vectors — the
    * contrastive-training negative set, label mismatch enforced in the
    * join itself. */
  val simHardNegatives: QueryDef = QueryDef("sim_hard_negatives",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          emb.where(col("vec_id") % 97 === 3), k = 5)
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |n AS (SELECT vec_id, label, v,
           |        sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
           |q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv,
           |        nrm AS qn FROM n WHERE vec_id % 97 = 3),
           |s AS (SELECT q.query_id, q.query_label, n.vec_id AS neighbor_id,
           |        n.label AS neighbor_label,
           |        round(list_sum([n.v[i] * q.qv[i] for i in range(1, 65)])
           |              / (n.nrm * q.qn), 6) AS cosine
           |      FROM n, q WHERE n.label <> q.query_label),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY cosine DESC, neighbor_id) AS rank FROM s)
           |SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cosine
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))

  /** The shared unigram-tokenizer hard-EM replay (Kudo 2018 as the oracle
    * would compute it): substring seed → 2 rounds of full-enumeration
    * Viterbi (every segmentation of every distinct word via a recursive
    * CTE, ranked by the exact (lp desc, piece count, joined seq) order the
    * Spark DP optimizes) → re-normalized piece table. One CTE chain shared
    * by `text_unigram_train` and `text_unigram_encode`. */
  private def unigramTrainSqlFor(wordSql: String): String =
    s"""wt AS (SELECT w, count(*)::BIGINT AS f
      |       FROM ($wordSql)
      |       GROUP BY 1),
      |sub AS (SELECT substr(w, i, l) AS piece, sum(f)::BIGINT AS cnt
      |        FROM wt, range(1, 64) r(i), range(1, 5) q(l)
      |        WHERE i + l <= len(w) + 1
      |        GROUP BY 1),
      |top AS (SELECT piece, cnt FROM sub ORDER BY cnt DESC, piece LIMIT 40),
      |v0 AS (SELECT DISTINCT piece, cnt FROM
      |        (SELECT * FROM top UNION ALL SELECT * FROM sub WHERE len(piece) = 1)),
      |l0 AS (SELECT piece, round(ln(cnt / (SELECT sum(cnt)::DOUBLE FROM v0)), 6) AS lp FROM v0),
      |seg1 AS (
      |  SELECT w, 0::INT AS pos, 0.0::DOUBLE AS lp, 0::INT AS np, '' AS seq FROM wt
      |  UNION ALL
      |  SELECT s.w, (s.pos + len(v.piece))::INT, s.lp + v.lp, (s.np + 1)::INT,
      |         CASE WHEN s.seq = '' THEN v.piece ELSE s.seq || ' ' || v.piece END
      |  FROM seg1 s JOIN l0 v ON v.piece = substr(s.w, s.pos + 1, len(v.piece))
      |  WHERE s.pos < len(s.w)),
      |b1 AS (SELECT w, seq FROM seg1 WHERE pos = len(w)
      |       QUALIFY row_number() OVER (PARTITION BY w ORDER BY lp DESC, np, seq) = 1),
      |c1 AS (SELECT piece, sum(f)::BIGINT AS cnt FROM
      |        (SELECT b1.w, unnest(string_split(b1.seq, ' ')) AS piece FROM b1) e
      |       JOIN wt USING (w) GROUP BY 1),
      |l1 AS (SELECT piece, round(ln(cnt / (SELECT sum(cnt)::DOUBLE FROM c1)), 6) AS lp FROM c1),
      |seg2 AS (
      |  SELECT w, 0::INT AS pos, 0.0::DOUBLE AS lp, 0::INT AS np, '' AS seq FROM wt
      |  UNION ALL
      |  SELECT s.w, (s.pos + len(v.piece))::INT, s.lp + v.lp, (s.np + 1)::INT,
      |         CASE WHEN s.seq = '' THEN v.piece ELSE s.seq || ' ' || v.piece END
      |  FROM seg2 s JOIN l1 v ON v.piece = substr(s.w, s.pos + 1, len(v.piece))
      |  WHERE s.pos < len(s.w)),
      |b2 AS (SELECT w, seq FROM seg2 WHERE pos = len(w)
      |       QUALIFY row_number() OVER (PARTITION BY w ORDER BY lp DESC, np, seq) = 1),
      |c2 AS (SELECT piece, sum(f)::BIGINT AS cnt FROM
      |        (SELECT b2.w, unnest(string_split(b2.seq, ' ')) AS piece FROM b2) e
      |       JOIN wt USING (w) GROUP BY 1),
      |l2 AS (SELECT piece, cnt,
      |         round(ln(cnt / (SELECT sum(cnt)::DOUBLE FROM c2)), 6) AS lp FROM c2)""".stripMargin

  private val unigramTrainSql: String = unigramTrainSqlFor(
    "SELECT unnest(string_split(text, ' ')) AS w FROM documents")

  /** Unigram-LM tokenizer training ([[TextAnalysis.unigramTrain]] — the
    * SentencePiece family beside BPE): substring seed, 2 hard-EM rounds
    * of Viterbi segmentation over the distinct-word table, re-normalized
    * piece probabilities. The Spark DP and the oracle's full enumeration
    * rank by the same suffix-composable total order, so the learned
    * table matches bit-for-bit. */
  val textUnigramTrain: QueryDef = QueryDef("text_unigram_train",
    (s, d) => TextAnalysis.unigramTrain(Tables.documents(s, d), "text",
        maxPieceLen = 4, seedSize = 40, iters = 2)
      .orderBy("piece"),
    Some(s"""WITH RECURSIVE
           |$unigramTrainSql
           |SELECT piece, cnt, lp FROM l2 ORDER BY piece""".stripMargin))

  /** Unigram tokenization with the trained pieces
    * ([[TextAnalysis.unigramEncode]]): Viterbi runs once per DISTINCT
    * word (vocab-bounded, piece table broadcast); documents pay one tf
    * aggregation. Per-doc word/piece counts + segmentation NLL. */
  val textUnigramEncode: QueryDef = QueryDef("text_unigram_encode",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.unigramEncode(docs, "doc_id", "text",
          TextAnalysis.unigramTrain(docs, "text", maxPieceLen = 4,
            seedSize = 40, iters = 2), maxPieceLen = 4)
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE
           |$unigramTrainSql,
           |seg3 AS (
           |  SELECT w, 0::INT AS pos, 0.0::DOUBLE AS lp, 0::INT AS np, '' AS seq FROM wt
           |  UNION ALL
           |  SELECT s.w, (s.pos + len(v.piece))::INT, s.lp + v.lp, (s.np + 1)::INT,
           |         CASE WHEN s.seq = '' THEN v.piece ELSE s.seq || ' ' || v.piece END
           |  FROM seg3 s JOIN l2 v ON v.piece = substr(s.w, s.pos + 1, len(v.piece))
           |  WHERE s.pos < len(s.w)),
           |b3 AS (SELECT w, lp, np FROM seg3 WHERE pos = len(w)
           |       QUALIFY row_number() OVER (PARTITION BY w ORDER BY lp DESC, np, seq) = 1),
           |tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf
           |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           |             FROM documents)
           |       GROUP BY 1, 2)
           |SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_words,
           |  sum(tf.tf * b3.np)::BIGINT AS n_pieces,
           |  round(-sum(tf.tf * b3.lp), 6) AS nll_sum
           |FROM tf JOIN b3 USING (w) GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Unigram tokenization from the STORED piece artifact
    * ([[Materialized.unigramPieces]]) — the production twin of
    * `text_unigram_encode`: the EM rounds are paid once per (corpus,
    * config); scoring runs broadcast the stored table. Same oracle as the
    * live twin (the artifact's builder IS that computation). */
  val textUnigramEncode2: QueryDef = QueryDef("text_unigram_encode2",
    (s, d) => TextAnalysis.unigramEncode(Tables.documents(s, d), "doc_id",
        "text", Materialized.unigramPieces(s, d), maxPieceLen = 4)
      .orderBy("doc_id"),
    textUnigramEncode.oracle)

  /** BYTE-level unigram training: [[TextAnalysis.unigramTrain]] over the
    * byte-mapped GPT-2 piece stream (the `text_bpe_train_bytes` corpus,
    * planted multi-byte rows included) — the unigram family composes
    * with the byte alphabet exactly as BPE did: the EM loop is
    * unchanged, only the word table's alphabet moves to
    * bytes_to_unicode space, so pieces form at byte granularity
    * (é enters as Ã©). */
  /** One soft-EM round's replay: α/β forward–backward via register-
    * carrying recursive CTEs (each step folds its 4 piece-length terms in
    * the kernel's fixed order — out-of-range terms multiply a 0.0
    * register, IEEE-identical to skipping them), per-occurrence expected
    * use `α(j)·p·β(j+l)/z` quantized to integer micro-units, then the
    * deterministic prune (singles clamped ≥1, positive multis ranked by
    * (mass desc, piece asc), keep `max(8, ceil(n·0.5))`). `pIn` names the
    * incoming probability CTE; emits `a$r/b$r/occ$r/m$r/s$r/mu$r/v$r/p$r`.
    * `lossPrune` swaps the multi ranking from mass to removal-loss
    * (Kudo 2018 §3.2): per (word, candidate multi) a register-carrying
    * forward with `piece <> x` join conditions replays `Z₋ₓ` in the
    * kernel's exact fold order (a failed join multiplies a 0.0 register —
    * IEEE-identical to skipping the term), losses quantize to integer
    * micro-nats, and `mu$r` ranks by (loss desc, piece asc); also emits
    * `lw$r` so the final select can surface the kept losses. */
  private def softEmRoundSql(r: Int, pIn: String,
                             lossPrune: Boolean = false): String = {
    val muCte =
      if (!lossPrune)
        s"""mu$r AS MATERIALIZED (SELECT piece, m FROM mu${r}a, k$r
           |         QUALIFY row_number() OVER (ORDER BY m DESC, piece) <= k$r.k)"""
          .stripMargin
      else
        s"""zz$r AS (SELECT w, a0 AS z FROM a$r WHERE i = len(w)),
           |cand$r AS (SELECT wt.w, wt.f, px.piece AS x
           |           FROM wt JOIN (SELECT piece FROM $pIn
           |                         WHERE len(piece) > 1) px
           |             ON contains(wt.w, px.piece)),
           |ax$r AS (
           |  SELECT w, f, x, 0::INT AS i, 1.0::DOUBLE AS a0,
           |         0.0::DOUBLE AS am1, 0.0::DOUBLE AS am2,
           |         0.0::DOUBLE AS am3 FROM cand$r
           |  UNION ALL
           |  SELECT s.w, s.f, s.x, s.i + 1,
           |    coalesce(s.a0 * p1.p, 0.0) + coalesce(s.am1 * p2.p, 0.0)
           |      + coalesce(s.am2 * p3.p, 0.0) + coalesce(s.am3 * p4.p, 0.0),
           |    s.a0, s.am1, s.am2
           |  FROM ax$r s
           |  LEFT JOIN $pIn p1 ON p1.piece = substr(s.w, s.i + 1, 1)
           |    AND p1.piece <> s.x
           |  LEFT JOIN $pIn p2 ON p2.piece = substr(s.w, s.i, 2)
           |    AND p2.piece <> s.x
           |  LEFT JOIN $pIn p3 ON p3.piece = substr(s.w, s.i - 1, 3)
           |    AND p3.piece <> s.x
           |  LEFT JOIN $pIn p4 ON p4.piece = substr(s.w, s.i - 2, 4)
           |    AND p4.piece <> s.x
           |  WHERE s.i < len(s.w)),
           |lw$r AS MATERIALIZED (SELECT ax.x AS piece,
           |          sum(round(round(ax.f * (ln(zz.z) - ln(ax.a0)), 6)
           |                * 1000000, 0)::BIGINT)::BIGINT AS l
           |        FROM ax$r ax JOIN zz$r zz ON ax.w = zz.w
           |        WHERE ax.i = len(ax.w) GROUP BY 1),
           |mu$r AS MATERIALIZED (SELECT m.piece, m.m FROM mu${r}a m
           |         LEFT JOIN lw$r lw ON lw.piece = m.piece, k$r
           |         QUALIFY row_number()
           |           OVER (ORDER BY coalesce(lw.l, 0) DESC, m.piece) <= k$r.k)"""
          .stripMargin
    s"""a$r AS (
      |  SELECT w, f, 0::INT AS i, 1.0::DOUBLE AS a0, 0.0::DOUBLE AS am1,
      |         0.0::DOUBLE AS am2, 0.0::DOUBLE AS am3 FROM wt
      |  UNION ALL
      |  SELECT s.w, s.f, s.i + 1,
      |    coalesce(s.a0 * p1.p, 0.0) + coalesce(s.am1 * p2.p, 0.0)
      |      + coalesce(s.am2 * p3.p, 0.0) + coalesce(s.am3 * p4.p, 0.0),
      |    s.a0, s.am1, s.am2
      |  FROM a$r s
      |  LEFT JOIN $pIn p1 ON p1.piece = substr(s.w, s.i + 1, 1)
      |  LEFT JOIN $pIn p2 ON p2.piece = substr(s.w, s.i, 2)
      |  LEFT JOIN $pIn p3 ON p3.piece = substr(s.w, s.i - 1, 3)
      |  LEFT JOIN $pIn p4 ON p4.piece = substr(s.w, s.i - 2, 4)
      |  WHERE s.i < len(s.w)),
      |b$r AS (
      |  SELECT w, f, len(w)::INT AS i, 1.0::DOUBLE AS b0, 0.0::DOUBLE AS bp1,
      |         0.0::DOUBLE AS bp2, 0.0::DOUBLE AS bp3 FROM wt
      |  UNION ALL
      |  SELECT s.w, s.f, s.i - 1,
      |    coalesce(p1.p * s.b0, 0.0) + coalesce(p2.p * s.bp1, 0.0)
      |      + coalesce(p3.p * s.bp2, 0.0) + coalesce(p4.p * s.bp3, 0.0),
      |    s.b0, s.bp1, s.bp2
      |  FROM b$r s
      |  LEFT JOIN $pIn p1 ON p1.piece = substr(s.w, s.i, 1)
      |  LEFT JOIN $pIn p2 ON p2.piece = substr(s.w, s.i, 2)
      |  LEFT JOIN $pIn p3 ON p3.piece = substr(s.w, s.i, 3)
      |  LEFT JOIN $pIn p4 ON p4.piece = substr(s.w, s.i, 4)
      |  WHERE s.i > 0),
      |occ$r AS MATERIALIZED (SELECT al.w, al.f, pp.piece, pp.p, al.a0 AS aj, bt.b0 AS bi,
      |            az.a0 AS z
      |          FROM a$r al
      |          JOIN range(1, 5) q(l) ON al.i + q.l <= len(al.w)
      |          JOIN $pIn pp ON pp.piece = substr(al.w, al.i + 1, q.l)
      |          JOIN b$r bt ON bt.w = al.w AND bt.i = al.i + q.l
      |          JOIN a$r az ON az.w = al.w AND az.i = len(al.w)),
      |m$r AS MATERIALIZED (SELECT piece,
      |          sum(round(round(f * (aj * p * bi / z), 6) * 1000000, 0)::BIGINT)
      |            ::BIGINT AS m
      |        FROM occ$r GROUP BY 1),
      |s$r AS MATERIALIZED (SELECT piece, greatest(m, 1) AS m FROM m$r WHERE len(piece) = 1),
      |mu${r}a AS MATERIALIZED (SELECT piece, m FROM m$r WHERE len(piece) > 1 AND m > 0),
      |k$r AS (SELECT greatest(8, ceil(count(*) * 0.5)::BIGINT) AS k FROM mu${r}a),
      |$muCte,
      |v$r AS MATERIALIZED (SELECT * FROM s$r UNION ALL SELECT * FROM mu$r),
      |p$r AS MATERIALIZED (SELECT piece, m::DOUBLE / (SELECT sum(m)::DOUBLE FROM v$r) AS p
      |        FROM v$r)""".stripMargin
  }

  /** Soft-EM unigram training with the pruning schedule
    * ([[TextAnalysis.unigramTrainSoft]], Kudo 2018's full trainer shape):
    * forward–backward EXPECTED masses over every segmentation, exact
    * integer micro-units end-to-end, vocabulary shrinking every round
    * with the single-char coverage floor. The oracle replays both EM
    * rounds via register-carrying recursive CTEs in the kernel's exact
    * fold order. */
  val textUnigramTrainEm: QueryDef = QueryDef("text_unigram_train_em",
    (s, d) => TextAnalysis.unigramTrainSoft(Tables.documents(s, d), "text",
        maxPieceLen = 4, seedSize = 40, iters = 2,
        targetMulti = 8, shrink = 0.5)
      .orderBy("piece"),
    Some(s"""WITH RECURSIVE
            |wt AS MATERIALIZED (SELECT w, count(*)::BIGINT AS f
            |       FROM (SELECT unnest(string_split(text, ' ')) AS w
            |             FROM documents)
            |       GROUP BY 1),
            |sub AS MATERIALIZED (SELECT substr(w, i, l) AS piece, sum(f)::BIGINT AS cnt
            |        FROM wt, range(1, 64) r(i), range(1, 5) q(l)
            |        WHERE i + l <= len(w) + 1
            |        GROUP BY 1),
            |top AS (SELECT piece, cnt FROM sub ORDER BY cnt DESC, piece LIMIT 40),
            |v0 AS MATERIALIZED (SELECT DISTINCT piece, cnt FROM
            |        (SELECT * FROM top UNION ALL
            |         SELECT * FROM sub WHERE len(piece) = 1)),
            |p0 AS MATERIALIZED (SELECT piece,
            |         cnt::DOUBLE / (SELECT sum(cnt)::DOUBLE FROM v0) AS p
            |       FROM v0),
            |${softEmRoundSql(1, "p0")},
            |${softEmRoundSql(2, "p1")}
            |SELECT piece, m AS em6,
            |  round(ln(m::DOUBLE / (SELECT sum(m)::DOUBLE FROM v2)), 6) AS lp
            |FROM v2 ORDER BY piece""".stripMargin))

  /** Soft-EM unigram training with LIKELIHOOD-LOSS pruning
    * ([[TextAnalysis.unigramTrainSoft]] `lossPrune = true` — Kudo 2018
    * §3.2, the criterion SentencePiece ships): each candidate multi is
    * ranked by the exact integer micro-nat corpus likelihood delta if
    * removed (`Σ_w f·(ln Z − ln Z₋ₓ)`, computed from the same
    * forward–backward tables), lowest-loss tranche pruned; probabilities
    * still renormalize from the expected masses; singles floor and
    * monotone shrink unchanged. The oracle replays every removal forward
    * via register-carrying recursive CTEs with `piece <> x` join
    * conditions — the kernel's exact fold order — so the kept set, the
    * losses and the model match bit-for-bit. */
  val textUnigramTrainEm2: QueryDef = QueryDef("text_unigram_train_em2",
    (s, d) => TextAnalysis.unigramTrainSoft(Tables.documents(s, d), "text",
        maxPieceLen = 4, seedSize = 40, iters = 2,
        targetMulti = 8, shrink = 0.5, lossPrune = true)
      .orderBy("piece"),
    Some(s"""WITH RECURSIVE
            |wt AS MATERIALIZED (SELECT w, count(*)::BIGINT AS f
            |       FROM (SELECT unnest(string_split(text, ' ')) AS w
            |             FROM documents)
            |       GROUP BY 1),
            |sub AS MATERIALIZED (SELECT substr(w, i, l) AS piece, sum(f)::BIGINT AS cnt
            |        FROM wt, range(1, 64) r(i), range(1, 5) q(l)
            |        WHERE i + l <= len(w) + 1
            |        GROUP BY 1),
            |top AS (SELECT piece, cnt FROM sub ORDER BY cnt DESC, piece LIMIT 40),
            |v0 AS MATERIALIZED (SELECT DISTINCT piece, cnt FROM
            |        (SELECT * FROM top UNION ALL
            |         SELECT * FROM sub WHERE len(piece) = 1)),
            |p0 AS MATERIALIZED (SELECT piece,
            |         cnt::DOUBLE / (SELECT sum(cnt)::DOUBLE FROM v0) AS p
            |       FROM v0),
            |${softEmRoundSql(1, "p0", lossPrune = true)},
            |${softEmRoundSql(2, "p1", lossPrune = true)}
            |SELECT v2.piece, v2.m AS em6,
            |  CASE WHEN len(v2.piece) > 1 THEN coalesce(lw2.l, 0) END AS loss6,
            |  round(ln(v2.m::DOUBLE / (SELECT sum(m)::DOUBLE FROM v2)), 6) AS lp
            |FROM v2 LEFT JOIN lw2 ON lw2.piece = v2.piece
            |ORDER BY v2.piece""".stripMargin))

  /** Unigram tokenization from the STORED soft-EM piece artifact
    * ([[Materialized.unigramPiecesEm]] ∘ [[TextAnalysis.unigramEncode]]) —
    * the production twin of the soft trainer: forward–backward training
    * and pruning are paid once per (corpus, config); encode broadcasts
    * the stored `(piece, lp)` rows and pays its one tf scan. The oracle
    * replays both EM rounds, then full-enumeration Viterbi under the
    * soft-trained log-probs. */
  val textUnigramEncodeEm: QueryDef = QueryDef("text_unigram_encode_em",
    (s, d) => TextAnalysis.unigramEncode(Tables.documents(s, d), "doc_id",
        "text", Materialized.unigramPiecesEm(s, d), maxPieceLen = 4)
      .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE
            |wt AS MATERIALIZED (SELECT w, count(*)::BIGINT AS f
            |       FROM (SELECT unnest(string_split(text, ' ')) AS w
            |             FROM documents)
            |       GROUP BY 1),
            |sub AS MATERIALIZED (SELECT substr(w, i, l) AS piece, sum(f)::BIGINT AS cnt
            |        FROM wt, range(1, 64) r(i), range(1, 5) q(l)
            |        WHERE i + l <= len(w) + 1
            |        GROUP BY 1),
            |top AS (SELECT piece, cnt FROM sub ORDER BY cnt DESC, piece LIMIT 40),
            |v0 AS MATERIALIZED (SELECT DISTINCT piece, cnt FROM
            |        (SELECT * FROM top UNION ALL
            |         SELECT * FROM sub WHERE len(piece) = 1)),
            |p0 AS MATERIALIZED (SELECT piece,
            |         cnt::DOUBLE / (SELECT sum(cnt)::DOUBLE FROM v0) AS p
            |       FROM v0),
            |${softEmRoundSql(1, "p0")},
            |${softEmRoundSql(2, "p1")},
            |lpe AS MATERIALIZED (SELECT piece,
            |         round(ln(m::DOUBLE / (SELECT sum(m)::DOUBLE FROM v2)), 6) AS lp
            |       FROM v2),
            |sege AS (
            |  SELECT w, 0::INT AS pos, 0.0::DOUBLE AS lp, 0::INT AS np, '' AS seq FROM wt
            |  UNION ALL
            |  SELECT s.w, (s.pos + len(v.piece))::INT, s.lp + v.lp, (s.np + 1)::INT,
            |         CASE WHEN s.seq = '' THEN v.piece ELSE s.seq || ' ' || v.piece END
            |  FROM sege s JOIN lpe v ON v.piece = substr(s.w, s.pos + 1, len(v.piece))
            |  WHERE s.pos < len(s.w)),
            |be AS (SELECT w, lp, np FROM sege WHERE pos = len(w)
            |       QUALIFY row_number() OVER (PARTITION BY w ORDER BY lp DESC, np, seq) = 1),
            |tfe AS (SELECT doc_id, w, count(*)::BIGINT AS tf
            |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            |             FROM documents)
            |       GROUP BY 1, 2)
            |SELECT tfe.doc_id, sum(tfe.tf)::BIGINT AS n_words,
            |  sum(tfe.tf * be.np)::BIGINT AS n_pieces,
            |  round(-sum(tfe.tf * be.lp), 6) AS nll_sum
            |FROM tfe JOIN be USING (w) GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Unigram tokenization from the STORED loss-pruned soft-EM pieces
    * ([[Materialized.unigramPiecesEmLoss]] ∘ [[TextAnalysis.unigramEncode]])
    * — the production twin of `text_unigram_train_em2`: loss-criterion
    * training paid once per (corpus, config); encode broadcasts the
    * stored `(piece, lp)` rows and pays its one tf scan. Oracle replays
    * both loss-pruned EM rounds, then full-enumeration Viterbi. */
  val textUnigramEncodeEm2: QueryDef = QueryDef("text_unigram_encode_em2",
    (s, d) => TextAnalysis.unigramEncode(Tables.documents(s, d), "doc_id",
        "text", Materialized.unigramPiecesEmLoss(s, d), maxPieceLen = 4)
      .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE
            |wt AS MATERIALIZED (SELECT w, count(*)::BIGINT AS f
            |       FROM (SELECT unnest(string_split(text, ' ')) AS w
            |             FROM documents)
            |       GROUP BY 1),
            |sub AS MATERIALIZED (SELECT substr(w, i, l) AS piece, sum(f)::BIGINT AS cnt
            |        FROM wt, range(1, 64) r(i), range(1, 5) q(l)
            |        WHERE i + l <= len(w) + 1
            |        GROUP BY 1),
            |top AS (SELECT piece, cnt FROM sub ORDER BY cnt DESC, piece LIMIT 40),
            |v0 AS MATERIALIZED (SELECT DISTINCT piece, cnt FROM
            |        (SELECT * FROM top UNION ALL
            |         SELECT * FROM sub WHERE len(piece) = 1)),
            |p0 AS MATERIALIZED (SELECT piece,
            |         cnt::DOUBLE / (SELECT sum(cnt)::DOUBLE FROM v0) AS p
            |       FROM v0),
            |${softEmRoundSql(1, "p0", lossPrune = true)},
            |${softEmRoundSql(2, "p1", lossPrune = true)},
            |lpe AS MATERIALIZED (SELECT piece,
            |         round(ln(m::DOUBLE / (SELECT sum(m)::DOUBLE FROM v2)), 6) AS lp
            |       FROM v2),
            |sege AS (
            |  SELECT w, 0::INT AS pos, 0.0::DOUBLE AS lp, 0::INT AS np, '' AS seq FROM wt
            |  UNION ALL
            |  SELECT s.w, (s.pos + len(v.piece))::INT, s.lp + v.lp, (s.np + 1)::INT,
            |         CASE WHEN s.seq = '' THEN v.piece ELSE s.seq || ' ' || v.piece END
            |  FROM sege s JOIN lpe v ON v.piece = substr(s.w, s.pos + 1, len(v.piece))
            |  WHERE s.pos < len(s.w)),
            |be AS (SELECT w, lp, np FROM sege WHERE pos = len(w)
            |       QUALIFY row_number() OVER (PARTITION BY w ORDER BY lp DESC, np, seq) = 1),
            |tfe AS (SELECT doc_id, w, count(*)::BIGINT AS tf
            |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            |             FROM documents)
            |       GROUP BY 1, 2)
            |SELECT tfe.doc_id, sum(tfe.tf)::BIGINT AS n_words,
            |  sum(tfe.tf * be.np)::BIGINT AS n_pieces,
            |  round(-sum(tfe.tf * be.lp), 6) AS nll_sum
            |FROM tfe JOIN be USING (w) GROUP BY 1 ORDER BY 1""".stripMargin))

  val textUnigramTrainBytes: QueryDef = QueryDef("text_unigram_train_bytes",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("text"))
      val planted = bpeMultibyteTexts.toDF("text")
      TextAnalysis.unigramTrain(
          TextAnalysis.byteLevelCorpus(docs.unionByName(planted), "text"),
          "text", maxPieceLen = 4, seedSize = 40, iters = 2)
        .orderBy("piece")
    },
    Some(s"""WITH RECURSIVE
           |${unigramTrainSqlFor(byteWordSql)}
           |SELECT piece, cnt, lp FROM l2 ORDER BY piece""".stripMargin))

  /** Histogram-sketch quantiles of doc token lengths
    * ([[TextAnalysis.lenQuantileSketch]]) — the mergeable bounded-memory
    * order-statistics sketch completing the HLL/Bloom/CMS family; the
    * one-sided `exact ≤ est < exact+W` bound pinned per quantile row
    * against the exact width-1 order-statistics twin. */
  val textLenQuantiles: QueryDef = QueryDef("text_len_quantiles",
    (s, d) => TextAnalysis.lenQuantileSketch(Tables.documents(s, d), "text",
        binWidth = 8)
      .orderBy("q"),
    Some("""WITH n AS (SELECT len(string_split(coalesce(text, ''), ' '))::BIGINT AS l
           |           FROM documents),
           |tot AS (SELECT count(*)::BIGINT AS n FROM n),
           |h AS (SELECT (l // 8)::BIGINT AS bin, count(*)::BIGINT AS cnt
           |      FROM n GROUP BY 1),
           |c AS (SELECT bin, sum(cnt) OVER (ORDER BY bin)::BIGINT AS cum FROM h),
           |v AS (SELECT l, count(*)::BIGINT AS cnt FROM n GROUP BY 1),
           |cv AS (SELECT l, sum(cnt) OVER (ORDER BY l)::BIGINT AS cum FROM v),
           |qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q),
           |est AS (SELECT q, min((bin + 1) * 8 - 1)::BIGINT AS est
           |        FROM qs, c, tot WHERE cum >= ceil(q * n) GROUP BY 1),
           |ex AS (SELECT q, min(l)::BIGINT AS exact
           |       FROM qs, cv, tot WHERE cum >= ceil(q * n) GROUP BY 1)
           |SELECT est.q, est.est, ex.exact, (est.est - ex.exact)::BIGINT AS err,
           |  (est.est >= ex.exact AND est.est - ex.exact < 8) AS within_bound
           |FROM est JOIN ex USING (q) ORDER BY q""".stripMargin))

  /** PMI collocations ([[TextAnalysis.pmiCollocations]], Church & Hanks
    * 1990): top-20 adjacent pairs by pointwise mutual information over a
    * ≥20-count floor — collocation / stop-phrase discovery. */
  val textPmi: QueryDef = QueryDef("text_pmi",
    (s, d) => TextAnalysis.pmiCollocations(Tables.documents(s, d), "doc_id",
        "text", minCount = 20, topK = 20),
    Some("""WITH tok AS (SELECT doc_id, unnest(ws) AS w,
           |              generate_subscripts(ws, 1)::BIGINT AS pos
           |            FROM (SELECT doc_id, string_split(text, ' ') AS ws
           |                  FROM documents)),
           |uni AS (SELECT w, count(*)::DOUBLE AS cu FROM tok GROUP BY 1),
           |tt AS (SELECT sum(cu) AS t FROM uni),
           |pr AS (SELECT doc_id, pos, w,
           |         lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS pw FROM tok),
           |pairs AS (SELECT pw AS w1, w AS w2 FROM pr WHERE pw IS NOT NULL),
           |bt AS (SELECT count(*)::DOUBLE AS bt FROM pairs),
           |ty AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM pairs GROUP BY 1, 2)
           |SELECT ty.w1, ty.w2, ty.cb,
           |  round(ln((ty.cb / bt.bt) / ((u1.cu / tt.t) * (u2.cu / tt.t))), 6) AS pmi
           |FROM ty JOIN uni u1 ON ty.w1 = u1.w JOIN uni u2 ON ty.w2 = u2.w
           |CROSS JOIN tt CROSS JOIN bt
           |WHERE ty.cb >= 20
           |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin))

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions ([[TextAnalysis.jsDivergenceBySource]]) — the
    * mixture-design diagnostic, computed from ONE inner self-join via the
    * `(1−S)·ln 2` identity for off-intersection mass; 6-dp scaled-long
    * term sums. Disjoint-vocabulary pairs surface at the `ln 2` limit
    * (pair domain = the bounded source list, aggregate left-joined). */
  val textJsDiv: QueryDef = QueryDef("text_js_div",
    (s, d) => TextAnalysis.jsDivergenceBySource(Tables.documents(s, d),
        "source", "text")
      .orderBy("src_a", "src_b"),
    Some("""WITH c AS (SELECT source AS src, w, count(*)::DOUBLE AS c FROM
           |            (SELECT source, unnest(string_split(text, ' ')) AS w
           |             FROM documents) GROUP BY 1, 2),
           |t AS (SELECT src, sum(c) AS tot FROM c GROUP BY 1),
           |p AS (SELECT c.src, c.w, c.c / t.tot AS p FROM c JOIN t USING (src)),
           |j AS (SELECT a.src AS src_a, b.src AS src_b,
           |        count(*)::BIGINT AS n_shared_words,
           |        sum(round(round(a.p * ln(a.p / ((a.p + b.p) / 2)), 6)
           |            * 1000000, 0)::BIGINT) AS ka6,
           |        sum(round(round(b.p * ln(b.p / ((a.p + b.p) / 2)), 6)
           |            * 1000000, 0)::BIGINT) AS kb6,
           |        sum(round(round(a.p, 6) * 1000000, 0)::BIGINT) AS sa6,
           |        sum(round(round(b.p, 6) * 1000000, 0)::BIGINT) AS sb6
           |      FROM p a JOIN p b ON a.w = b.w AND a.src < b.src GROUP BY 1, 2),
           |ap AS (SELECT ta.src AS src_a, tb.src AS src_b
           |       FROM t ta JOIN t tb ON ta.src < tb.src)
           |SELECT ap.src_a, ap.src_b,
           |  coalesce(n_shared_words, 0)::BIGINT AS n_shared_words,
           |  round(0.5 * (coalesce(ka6, 0) / 1000000.0 +
           |          (1.0 - coalesce(sa6, 0) / 1000000.0) * ln(2)) +
           |        0.5 * (coalesce(kb6, 0) / 1000000.0 +
           |          (1.0 - coalesce(sb6, 0) / 1000000.0) * ln(2)), 6) AS js
           |FROM ap LEFT JOIN j ON ap.src_a = j.src_a AND ap.src_b = j.src_b
           |ORDER BY ap.src_a, ap.src_b""".stripMargin))

  /** PSI drift between the even/odd doc_id slices over the token-length
    * distribution ([[TextAnalysis.psiDrift]]) — the snapshot-A-vs-B data
    * health alarm; Laplace-smoothed over the observed bin union, bounded
    * bin table, scaled-long terms. */
  val textPsi: QueryDef = QueryDef("text_psi",
    (s, d) => TextAnalysis.psiDrift(Tables.documents(s, d),
        col("doc_id") % 2 === 0, "text", binWidth = 8)
      .orderBy("bin"),
    Some("""WITH l AS (SELECT (doc_id % 2 = 0) AS in_a,
           |             (len(string_split(coalesce(text, ''), ' ')) // 8)::BIGINT AS bin
           |           FROM documents),
           |b AS (SELECT bin,
           |        sum(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
           |        sum(CASE WHEN in_a THEN 0 ELSE 1 END)::BIGINT AS cnt_b
           |      FROM l GROUP BY 1),
           |t AS (SELECT sum(cnt_a)::BIGINT AS na, sum(cnt_b)::BIGINT AS nb,
           |        count(*)::BIGINT AS nbins FROM b),
           |w AS (SELECT bin, cnt_a, cnt_b,
           |        (cnt_a + 1)::DOUBLE / (na + nbins) AS pa,
           |        (cnt_b + 1)::DOUBLE / (nb + nbins) AS pb
           |      FROM b, t),
           |w2 AS (SELECT bin, cnt_a, cnt_b, pa, pb,
           |        round(round((pa - pb) * ln(pa / pb), 6) * 1000000, 0)::BIGINT
           |          AS term6 FROM w)
           |SELECT bin, cnt_a, cnt_b, round(pa, 6) AS pa, round(pb, 6) AS pb,
           |  round(term6 / 1000000.0, 6) AS term,
           |  round((SELECT sum(term6) FROM w2) / 1000000.0, 6) AS psi_total
           |FROM w2 ORDER BY bin""".stripMargin))

  /** Per-source data card ([[Dedup.exact]] ∘ [[TextAnalysis
    * .blocklistFilter]] ∘ per-row stats): the one-row-per-domain summary a
    * corpus release ships — doc/token counts, mean length, English share,
    * exact-duplicate fraction, blocklist keep rate. All signals join on
    * the doc id; one final rollup. */
  val pipelineDatacard: QueryDef = QueryDef("pipeline_datacard",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val dup = Dedup.exact(docs, "doc_id", "text")
        .select(col("doc_id"), col("is_canonical"))
      val bl = TextAnalysis.blocklistFilter(docs, "doc_id", "text",
          banned = Seq("slow", "dup", "drop", "stale"), maxFraction = 0.05)
        .select(col("doc_id"), col("keep"))
      docs.select(col("doc_id"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("len"))
        .join(dup, "doc_id").join(bl, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("n_tokens"),
          round(sum(col("len")).cast("double") / count(lit(1)), 6).as("mean_len"),
          round(sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("pct_en"),
          round(sum(when(col("is_canonical"), 0L).otherwise(1L)).cast("double")
            / count(lit(1)), 6).as("dup_frac"),
          round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("keep_frac"))
        .orderBy("source")
    },
    Some("""WITH h AS (SELECT doc_id, md5(text) AS ch FROM documents),
           |g AS (SELECT ch, min(doc_id) AS canon FROM h GROUP BY 1),
           |dup AS (SELECT h.doc_id, h.doc_id = g.canon AS is_canonical
           |        FROM h JOIN g USING (ch)),
           |bl AS (SELECT doc_id,
           |        round(len([w for w in string_split(coalesce(text, ''), ' ')
           |                   if lower(w) IN ('slow', 'dup', 'drop', 'stale')])::DOUBLE
           |          / len(string_split(coalesce(text, ''), ' ')), 6) <= 0.05 AS keep
           |       FROM documents),
           |base AS (SELECT d.doc_id, d.source, d.lang,
           |           len(string_split(d.text, ' '))::BIGINT AS l,
           |           dup.is_canonical, bl.keep
           |         FROM documents d JOIN dup USING (doc_id) JOIN bl USING (doc_id))
           |SELECT source, count(*)::BIGINT AS n_docs, sum(l)::BIGINT AS n_tokens,
           |  round(sum(l)::DOUBLE / count(*), 6) AS mean_len,
           |  round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
           |    AS pct_en,
           |  round(sum(CASE WHEN is_canonical THEN 0 ELSE 1 END)::DOUBLE / count(*), 6)
           |    AS dup_frac,
           |  round(sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
           |    AS keep_frac
           |FROM base GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TF-IDF keyword extraction ([[TextAnalysis.tfidfKeywords]]): top-3
    * salient terms per doc by tf·ln(N/df); vocab-bounded df broadcast,
    * WindowGroupLimit-cut per-doc rank. */
  val textTfidf: QueryDef = QueryDef("text_tfidf",
    (s, d) => TextAnalysis.tfidfKeywords(Tables.documents(s, d), "doc_id",
        "text", topK = 3)
      .orderBy("doc_id", "rank"),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           |              FROM documents),
           |tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
           |dfq AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1),
           |nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
           |sc AS (SELECT tf.doc_id, tf.w, tf.tf,
           |         round(tf.tf * round(ln(nn.n / dfq.df), 6), 6) AS score
           |       FROM tf JOIN dfq USING (w) CROSS JOIN nn),
           |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
           |        ORDER BY score DESC, w) AS rank FROM sc)
           |SELECT doc_id, rank, w AS word, tf, score FROM r WHERE rank <= 3
           |ORDER BY doc_id, rank""".stripMargin))
}
