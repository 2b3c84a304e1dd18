package graft.streaming

import graft.{DerbyConn, TestSpark}
import graft.model.{DbMapping, MappingConfig}
import graft.sink.{DeleteInsertDialect, SchemaProbe}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.sql.DriverManager
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

/**
 * Pins the Spark job plan of a `CanalStream.start` micro-batch, read from a
 * `SparkListener` keyed by the stream's `streaming.sql.batchId` local
 * property: a barrier-free batch over three mapped tables is one stats job
 * plus one job per table; an ADD COLUMN on one table adds its barrier and
 * source-column jobs and one more segment; no shuffle of the stream path is
 * sized by `spark.sql.shuffle.partitions`; and the non-adaptive setting
 * stays on the stream's own session.
 */
class MicroBatchPlanSpec extends AnyFunSuite {
  @transient lazy val spark = TestSpark.spark

  /** Jobs and executed reduce stages (stages reading a shuffle) per batch
    * id of one streaming query. */
  private final class BatchJobs(queryId: () => String) extends SparkListener {
    private val jobBatch = new ConcurrentHashMap[Int, Long]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    val reduceTasks = new ConcurrentLinkedQueue[(Long, Int)]()
    val marker = new CountDownLatch(1)
    @volatile private var markerJob = -1

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      val query = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
      if (batch.isDefined && query.contains(queryId())) {
        jobBatch.put(e.jobId, batch.get.toLong)
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
      if (p.exists(_.getProperty("plan-spec-marker") != null)) markerJob = e.jobId
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).map(j => jobBatch.get(j)).foreach { b =>
        if (e.stageInfo.parentIds.nonEmpty) reduceTasks.add((b, e.stageInfo.numTasks))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) marker.countDown()

    def jobsPerBatch: Map[Long, Int] =
      jobBatch.values.asScala.groupBy(identity).map { case (b, js) => b -> js.size }
  }

  private def canal(table: String, es: Int, typ: String, row: Map[String, String]): String = {
    val data = row.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    s"""{"destination":"example","groupId":"g1","database":"plan","table":"$table","type":"$typ","isDdl":false,"es":$es,"ts":$es,"data":[$data],"old":null}"""
  }

  private def addColumn(table: String, es: Int): String =
    s"""{"destination":"example","groupId":"g1","database":"plan","table":"$table","type":"ALTER","isDdl":true,"sql":"ALTER TABLE $table ADD COLUMN c INT","es":$es,"ts":$es,"data":null,"old":null}"""

  test("a micro-batch runs one stats job plus one job per table, non-adaptively, on the stream's session") {
    val url = "jdbc:derby:memory:planspec;create=true"
    val tables = Seq("ta", "tb", "tc")
    val c = DriverManager.getConnection(url)
    try tables.foreach(t => c.createStatement().execute(
      s"""CREATE TABLE "PLAN"."${t.toUpperCase}" ("ID" BIGINT PRIMARY KEY, "V" VARCHAR(64))"""))
    finally c.close()
    val cfgs = tables.map(t => MappingConfig(dataSourceKey = "ds", destination = "example",
      groupId = "g1", concurrent = true,
      dbMapping = DbMapping("plan", t, s"PLAN.${t.toUpperCase}", targetPk = Map("id" -> "id"),
        mapAll = true)))

    // batch 0: every table, no barrier; batch 1: ta gains a column mid-batch
    // (its later rows carry it), tb and tc are barrier-free
    val dir = Files.createTempDirectory("canal-plan")
    val files = Seq(
      tables.zipWithIndex.flatMap { case (t, i) =>
        (1 to 6).map(k => canal(t, 10 * i + k, "INSERT", Map("id" -> s"$k", "v" -> s"$t$k")))
      },
      Seq(canal("ta", 100, "UPDATE", Map("id" -> "1", "v" -> "ta1b")), addColumn("ta", 101),
        canal("ta", 102, "INSERT", Map("id" -> "7", "v" -> "ta7", "c" -> "70")),
        canal("tb", 103, "DELETE", Map("id" -> "2", "v" -> "tb2")),
        canal("tc", 104, "UPDATE", Map("id" -> "3", "v" -> "tc3b"))))
    files.zipWithIndex.foreach { case (lines, i) =>
      val f = dir.resolve(f"plan-$i%03d.json")
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(f, FileTime.fromMillis(1000000000000L + i * 60000L))
    }

    val numPartitions = 3
    val queryId = new AtomicReference[String]("")
    val listener = new BatchJobs(() => queryId.get)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = CanalStream.start(spark,
        spark.readStream.schema("value STRING").option("maxFilesPerTrigger", "1")
          .text(dir.toString),
        new AtomicReference[Seq[MappingConfig]](cfgs), numPartitions,
        (cfg, ordered, ctx) => {
          val schema = SchemaProbe.probe(cfg.dbMapping, DerbyConn.factory(url), DeleteInsertDialect)
          CanalStream.applyBatchToJdbc(cfg, ordered, schema, DerbyConn.factory(url),
            DeleteInsertDialect, sourceColsHint = ctx.sourceCols)
        },
        onDdl = (cfg, _) => {
          val cc = DriverManager.getConnection(url)
          try cc.createStatement().execute(s"""ALTER TABLE "PLAN"."TA" ADD "C" INT""")
          finally cc.close()
          SchemaProbe.invalidate(cfg.destination, cfg.dbMapping)
        },
        ordering = CanalStream.IngressOrdering.FileOrder)
      queryId.set(q.id.toString)
      try q.processAllAvailable() finally q.stop()
      // every event posted before the marker job's end has been delivered
      spark.sparkContext.setLocalProperty("plan-spec-marker", "1")
      try spark.sparkContext.parallelize(Seq(1)).count()
      finally spark.sparkContext.setLocalProperty("plan-spec-marker", null)
      assert(listener.marker.await(60, TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    }

    val jobs = listener.jobsPerBatch
    val reduce = listener.reduceTasks.asScala.toSeq
    info(s"jobs per batch: $jobs; (batch, reduce tasks): $reduce")
    assert(jobs.keySet == Set(0L, 1L), jobs)
    assert(jobs(0L) == 1 + tables.size, s"barrier-free batch: $jobs")
    assert(jobs(1L) <= 7, s"ADD COLUMN batch: $jobs")
    assert(reduce.nonEmpty)
    assert(reduce.forall(_._2 <= numPartitions), s"(batch, reduce tasks): $reduce")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")

    val cc = DriverManager.getConnection(url)
    def rows(t: String): Seq[(Long, String)] = {
      val rs = cc.createStatement().executeQuery(
        s"""SELECT "ID", "V" FROM "PLAN"."${t.toUpperCase}" ORDER BY "ID"""")
      Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2))).toSeq
    }
    try {
      assert(rows("ta") == (1 to 7).map(k => (k.toLong, if (k == 1) "ta1b" else s"ta$k")))
      assert(rows("tb") == Seq(1, 3, 4, 5, 6).map(k => (k.toLong, s"tb$k")))
      assert(rows("tc") == (1 to 6).map(k => (k.toLong, if (k == 3) "tc3b" else s"tc$k")))
      val rs = cc.createStatement().executeQuery("""SELECT "C" FROM "PLAN"."TA" WHERE "ID" = 7""")
      assert(rs.next() && rs.getInt(1) == 70)
    } finally cc.close()
  }
}
