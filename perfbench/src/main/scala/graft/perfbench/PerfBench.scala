package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/**
 * Benchmark entry point, started by `perfbench/run.py` on the compiled
 * classes. One JVM runs one workload:
 *
 * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
 *
 * It writes the result object to `<work>/result.json`; report lines
 * (environment stamp, tail percentile, checks) go to standard output first.
 * `--digests <file>` names the HEAD query digests; `--selftest` and
 * `--record-digests <file>` are the two maintenance modes.
 */
object PerfBench {
  def session(work: Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Spark's default of 100 entries is smaller than the query suite's
      // ~180 generated classes, so each cyclic pass missed the LRU cache on
      // every class and recompiled ~100 of them (see NOTES.md).
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.graft.materialized.dir", work.resolve("stores").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A measured value with all its digits (JSON has no NaN or infinity). */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def metricsJson(ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) => s"""${json(k)}:{"value":${num(m.value)},"unit":${json(m.unit)}}""" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(opts("--work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val digests = Paths.get(opts("--digests"))
    if (opts.contains("--selftest")) sys.exit(SelfTest.run(work, cpus, digests))
    if (opts.contains("--record-digests")) {
      QuerySuite.record(work, cpus, digests); return
    }
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val traced = opts("--trace") == "1"

    val load0 = Env.loadAvg; val steal0 = Env.stealJiffies
    val t0 = System.nanoTime()
    val spark = session(work, cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val events = new SparkEvents
    if (traced) spark.sparkContext.addSparkListener(events)
    val trace = new Trace(traced, s"$workload-seed$seed-${System.currentTimeMillis()}")
    val ctx = Ctx(spark, work, seed, seconds, trace, events, cpus, digests)
    val out = workload match {
      case "cdc_sync" => CdcSync.run(ctx)
      case "etl_import" => EtlImport.run(ctx)
      case "query_suite" => QuerySuite.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val stamp = Seq(
      "cpus_effective" -> cpus.toString, "master" -> json(s"local[$cpus]"),
      "load_avg_start" -> num(load0), "load_avg_end" -> num(Env.loadAvg),
      "steal_jiffies" -> (Env.stealJiffies - steal0).toString,
      "gc_s" -> num(Env.gcSeconds), "jit_s" -> num(Env.jitSeconds),
      "java" -> json(System.getProperty("java.version")), "spark" -> json(spark.version),
      "spark_session_s" -> num(sessionS),
      "codegen_compiles" -> Env.codegenCompiles.toString) ++
      out.report.toSeq.sortBy(_._1).map { case (k, v) => k -> json(v) }
    println(stamp.map { case (k, v) => s"${json(k)}:$v" }.mkString("""{"stamp":{""", ",", "}}"))
    println(out.checks.map { case (k, ok) => s"${json(k)}:$ok" }.mkString("""{"checks":{""", ",", "}}"))
    if (traced) trace.writeJsonl(Paths.get(opts("--trace-out")).resolve(s"${trace.runId}.jsonl"))

    val metrics =
      if (!traced) Seq("setup_s", "step_s_p50", "items_per_s").map(k => k -> out.endToEnd(k))
      else Layers.Units.map { case (k, u) => k -> out.layers.getOrElse(k, Metric(0.0, u)) }
    val correct = out.checks.nonEmpty && out.checks.forall(_._2)
    val result = s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":${metricsJson(metrics)}}"""
    spark.stop()
    Files.write(work.resolve("result.json"), (result + "\n").getBytes(UTF_8))
  }
}
