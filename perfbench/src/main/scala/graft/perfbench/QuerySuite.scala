package graft.perfbench

import graft.SparkEntry
import graft.queries.Materialized
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/**
 * `query_suite`: read-only analytic work in `queries`, `llm` and
 * `functions`, with no sink and no stream. A step is one pass over a fixed,
 * ordered list of registry queries, each forced by a full evaluation
 * (xxhash64 over every column, `bit_xor`) whose result is also the digest
 * checked against the one recorded at HEAD.
 */
object QuerySuite {
  val Queries: Seq[String] = Seq(
    // the paper's own surface
    "k3_cdc_apply", "p2_pk_hash", "x2_router",
    // relational
    "agg_q1", "join_shuffle",
    // a query family with near-twin bodies
    "sim_knn_hamming",
    // a store reader and dedup
    "dedup_minhash")

  /** Corpus scale, and the number of corpus variants the seed picks from
    * (each has digests recorded in `query_digests.json`). */
  val Sf = 0.01
  val Variants = 4
  /** Passes per second of `--seconds` (a warm pass takes about 2 s on 4
    * cores). */
  val PassesPerSecond = 0.6
  val MinPasses = 6
  /** Untimed passes between the set-ups and the timed passes: pass times
    * still fall while the JIT compiles the planner and generated code. */
  val WarmPasses = 2

  /** The corpus tables the listed queries read. */
  val Tables: Set[String] =
    Set("orders", "customer", "lineitem", "events", "documents", "embeddings")

  def variant(seed: Long): Int = java.lang.Math.floorMod(seed, Variants.toLong).toInt
  def corpusSeed(variant: Int): Long = 42L + variant

  final case class Res(rows: Long, xor: Long, seconds: Double)

  /** Evaluate one query fully; `planned` sees the plan before the action. */
  def evaluate(spark: SparkSession, dir: String, name: String,
               planned: DataFrame => Unit = _ => ()): Res = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    val d = df.select(xxhash64(df.columns.map(df(_)).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(h), 0L)"))
    planned(d)
    val r = d.collect().head
    Res(r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
  }

  /** Fresh store directory and no in-session handles: the stores are built
    * by the warm-up pass that follows. */
  def freshStores(spark: SparkSession, dir: Path): Unit = {
    spark.conf.set("spark.graft.materialized.dir", dir.toString)
    Materialized.clearSessionCache()
    spark.catalog.clearCache()
  }

  /** HEAD digests: variant -> query -> (rows, xor); xor is None for a
    * query whose hash is not stable from pass to pass (checked by rows). */
  def recorded(file: Path): Map[Int, Map[String, (Long, Option[Long])]] = {
    val text = new String(Files.readAllBytes(file), "UTF-8")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    require(root.get("sf").asDouble == Sf, "query_digests.json was recorded at another scale")
    root.get("variants").fields().asScala.map { e =>
      e.getKey.toInt -> e.getValue.fields().asScala.map { q =>
        val x = q.getValue.get("xor")
        q.getKey -> (q.getValue.get("rows").asLong, if (x.isNull) None else Some(x.asLong))
      }.toMap
    }.toMap
  }

  def matches(res: Res, want: (Long, Option[Long])): Boolean =
    res.rows == want._1 && want._2.forall(_ == res.xor)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val v = variant(ctx.seed)
    val corpus = ctx.work.resolve("corpus")
    val g0 = System.nanoTime()
    Gen.corpus(spark, corpus, corpusSeed(v), Sf, Tables)
    val genS = (System.nanoTime() - g0) / 1e9
    val dir = corpus.toString
    val want = recorded(ctx.digests)(v)

    val plans = scala.collection.mutable.LinkedHashMap[String, String]()
    var warmFailed = 0
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      freshStores(spark, ctx.work.resolve(s"stores-$i"))
      Queries.foreach { q =>
        val r = evaluate(spark, dir, q, d => if (i == 0) plans(q) = Env.planDigest(d))
        if (!matches(r, want(q))) warmFailed += 1
      }
      (System.nanoTime() - t0) / 1e9
    }

    for (_ <- 0 until WarmPasses; q <- Queries)
      if (!matches(evaluate(spark, dir, q), want(q))) warmFailed += 1
    val passes = math.max(MinPasses, (ctx.seconds * PassesPerSecond).round.toInt)
    ctx.sparkEvents.clear(); ctx.trace.clear()
    val gc0 = Env.gcSeconds; val jit0 = Env.jitSeconds; val cg0 = Env.codegenCompiles
    val heapPeak = new Env.HeapPeak
    val mismatched = scala.collection.mutable.LinkedHashSet[String]()
    val perQuery = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    val passTimes = (0 until passes).map { i =>
      spark.sparkContext.setLocalProperty(SparkEvents.TagKey, s"pass-$i")
      val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
      Queries.foreach { q =>
        val r = ctx.trace.span(s"queries.$q") {
          evaluate(spark, dir, q, d => ctx.trace.span("queries.plan")(d.queryExecution.executedPlan))
        }
        perQuery(q) = perQuery(q) :+ r.seconds
        if (!matches(r, want(q))) mismatched += s"$q@$i"
      }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setLocalProperty(SparkEvents.TagKey, null)
      (secs, (s"pass-$i", startMs, System.currentTimeMillis()))
    }
    val gc = Env.gcSeconds - gc0; val jit = Env.jitSeconds - jit0
    val codegen = (Env.codegenCompiles - cg0).toDouble / passes
    val heap = heapPeak.stop()

    val times = passTimes.map(_._1)
    val checks = Seq("queries.warmup_digests_match_head" -> (warmFailed == 0),
      "queries.digests_match_head" -> mismatched.isEmpty)
    val e2e = Map(
      "setup_s" -> Metric(Stats.median(setups), "s"),
      "step_s_p50" -> Metric(Stats.median(times), "s"),
      "items_per_s" -> Metric(passes * Queries.size / times.sum, "1/s"))
    val report = Map("workload" -> "query_suite", "passes" -> passes.toString,
      "corpus_variant" -> v.toString, "pass_s" -> times.map(t => f"$t%.4f").mkString(" "),
      "mismatched" -> mismatched.mkString(" "), "gen_s" -> f"$genS%.4f",
      "setup_s_all" -> setups.map(t => f"$t%.4f").mkString(" ")) ++
      Queries.map(q => s"query_s.$q" -> perQuery(q).map(t => f"$t%.3f").mkString(" ")) ++
      plans.map { case (q, d) => s"plan_digest.$q" -> d }
    val layers =
      if (!ctx.trace.enabled) Map.empty[String, Metric]
      else {
        val sparkLayer = Layers.spark(ctx, passTimes.map(_._2), Layers.tagKey)
        sparkLayer ++ Layers.jvm(gc, jit, heap, codegen) ++
          Queries.map(q => s"queries.${q}_s" -> Metric(Stats.median(perQuery(q)), "s")) ++
          Map("queries.plan_s" -> Metric(ctx.trace.total("queries.plan") / passes, "s"),
            "queries.jobs_per_pass" -> sparkLayer("spark.jobs_per_batch"),
            "queries.shuffle_bytes_per_pass" -> sparkLayer("spark.shuffle_bytes_per_batch"),
            "trace.step_s_p50" -> e2e("step_s_p50"), "trace.items_per_s" -> e2e("items_per_s"))
      }
    Outcome(attempted = passes.toLong * Queries.size, failed = mismatched.size + warmFailed,
      checks, e2e, layers, report)
  }

  /** Record HEAD digests for every corpus variant: two passes each on fresh
    * stores; a query whose hash differs between them is recorded by rows. */
  def record(work: Path, cpus: Int, out: Path): Unit = {
    val spark = PerfBench.session(work, cpus)
    val variants = (0 until Variants).map { v =>
      val corpus = work.resolve(s"corpus-$v")
      Gen.corpus(spark, corpus, corpusSeed(v), Sf, Tables)
      freshStores(spark, work.resolve(s"stores-$v"))
      val a = Queries.map(q => q -> evaluate(spark, corpus.toString, q))
      val b = Queries.map(q => evaluate(spark, corpus.toString, q))
      val qs = a.zip(b).map { case ((q, x), y) =>
        require(x.rows == y.rows, s"$q: row count differs between passes")
        val xor = if (x.xor == y.xor) x.xor.toString else "null"
        s"""    ${PerfBench.json(q)}: {"rows": ${x.rows}, "xor": $xor}"""
      }
      s"""  "$v": {\n${qs.mkString(",\n")}\n  }"""
    }
    spark.stop()
    Files.write(out, s"""{"sf": $Sf, "variants": {\n${variants.mkString(",\n")}\n}}\n"""
      .getBytes("UTF-8"))
  }
}
