package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What one workload run hands back to [[PerfBench]]. */
final case class Outcome(attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
                         endToEnd: Map[String, Metric], layers: Map[String, Metric],
                         report: Map[String, String])

/** Shared context of one run. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Int,
                     trace: Trace, sparkEvents: SparkEvents, cpus: Int, digests: Path)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of these percentiles that leaves at least 10 samples
    * above it, with its value; None when there are too few samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted; val n = s.size
    Seq(99, 95, 90, 80, 75, 50).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
      .map(p => p -> s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)))
  }
}

object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean

  def loadAvg: Double = os.getSystemLoadAverage

  /** Steal jiffies summed over cpus from /proc/stat (0 where unavailable). */
  def stealJiffies: Long =
    try {
      val cpu = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toLong else 0L
    } catch { case _: Throwable => 0L }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Janino compiles of generated code so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def jitSeconds: Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3 else 0.0
  }

  /** Heap in use just after the latest collection, over all pools, in MB. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Samples [[heapAfterGcMb]] every 100 ms until `stop`, keeping the peak. */
  final class HeapPeak {
    @volatile private var running = true
    @volatile var peakMb = 0.0
    private val t = new Thread(() => while (running) {
      peakMb = math.max(peakMb, heapAfterGcMb); Thread.sleep(100)
    }, "perfbench-heap")
    t.setDaemon(true); t.start()
    def stop(): Double = { running = false; t.join(); peakMb = math.max(peakMb, heapAfterGcMb); peakMb }
  }

  /** md5 of an executed plan with expression ids and paths masked, so the
    * same plan shape gives the same digest across runs. */
  def planDigest(df: DataFrame): String = {
    val text = df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "#")
      .replaceAll("(file:)?/[^\\s,\\]\\)]+", "<path>")
      .replaceAll("\\[id=#?\\d+\\]", "")
      .replaceAll("plan_id=\\d+", "plan_id")
    md5(text).take(12)
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

object Digest {
  /** (row count, bit_xor of xxhash64 over every column): an order-free
    * digest of a result, computed by one aggregation. */
  def of(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(df(_)).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), expr("coalesce(bit_xor(h), 0L)")).head()
    (r.getLong(0), r.getLong(1))
  }
}

object Derby {
  def url(name: String): String = s"jdbc:derby:memory:$name"

  def exec(name: String, stmts: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url(name) + ";create=true")
    try { val st = c.createStatement(); try stmts.foreach(st.execute) finally st.close() }
    finally c.close()
  }

  /** Drop an in-memory database, so nothing of it survives into the next
    * set-up or run. */
  def drop(name: String): Unit =
    try java.sql.DriverManager.getConnection(url(name) + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // dropping reports success as an exception

  /** `SCHEMA.TABLE` as a quoted Derby identifier. */
  def quoted(targetTable: String): String = "\"" + targetTable.replace(".", "\".\"") + "\""

  /** Read a table through Spark's JDBC source, columns lowercased. */
  def read(spark: SparkSession, name: String, table: String): DataFrame = {
    val df = spark.read.jdbc(url(name), table, new java.util.Properties())
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
  }
}
