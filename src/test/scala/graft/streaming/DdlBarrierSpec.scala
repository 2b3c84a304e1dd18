package graft.streaming

import graft.{DerbyConn, TestSpark}
import graft.model.{DbMapping, MappingConfig}
import graft.sink.DeleteInsertDialect
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files
import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

class DdlBarrierSpec extends AnyFunSuite {
  @transient lazy val spark = TestSpark.spark

  val config: MappingConfig = MappingConfig(
    dataSourceKey = "ds", destination = "example", groupId = "g1",
    notifyUrl = null, concurrent = true,
    dbMapping = DbMapping("mytest", "user", "MYTEST2.USER",
      targetPk = Map("id" -> "id"), mapAll = true, alter = true, drop = true))

  test("DDL statement generation: ADD with backfill, DROP gated on drop:true") {
    val add = DdlBarrier.ddlStatements(config,
      DdlBarrier.DdlEvent(1, "ALTER TABLE user ADD COLUMN age INT DEFAULT 18"))
    assert(add == Seq(
      """ALTER TABLE "MYTEST2"."USER" ADD IF NOT EXISTS "AGE" INTEGER""",
      """UPSERT INTO "MYTEST2"."USER" ("ID", "AGE") SELECT "ID", 18 FROM "MYTEST2"."USER""""))
    val drop = DdlBarrier.ddlStatements(config,
      DdlBarrier.DdlEvent(2, "ALTER TABLE user DROP COLUMN age"))
    assert(drop == Seq("""ALTER TABLE "MYTEST2"."USER" DROP COLUMN IF EXISTS "AGE""""))
    val noDrop = DdlBarrier.ddlStatements(
      config.copy(dbMapping = config.dbMapping.copy(drop = false)),
      DdlBarrier.DdlEvent(2, "ALTER TABLE user DROP COLUMN age"))
    assert(noDrop.isEmpty)
    val excluded = DdlBarrier.ddlStatements(
      config.copy(dbMapping = config.dbMapping.copy(excludeColumns = Set("age"))),
      DdlBarrier.DdlEvent(1, "ALTER TABLE user ADD COLUMN age INT"))
    assert(excluded.isEmpty)
  }

  test("DDL statement generation: a DEFAULT renders by column type ('', NULL, quoted digits)") {
    def stmts(sql: String) = DdlBarrier.ddlStatements(config, DdlBarrier.DdlEvent(1, sql))
    def add(c: String) = s"""ALTER TABLE "MYTEST2"."USER" ADD IF NOT EXISTS "$c" VARCHAR"""
    def upsert(c: String, v: String) =
      s"""UPSERT INTO "MYTEST2"."USER" ("ID", "$c") SELECT "ID", $v FROM "MYTEST2"."USER""""
    assert(stmts("ALTER TABLE user ADD COLUMN nick VARCHAR(16) NOT NULL DEFAULT ''") ==
      Seq(add("NICK"), upsert("NICK", "''")))
    assert(stmts("ALTER TABLE user ADD COLUMN note VARCHAR(16) DEFAULT NULL") == Seq(add("NOTE")))
    assert(stmts("ALTER TABLE user ADD COLUMN code VARCHAR(4) DEFAULT '1'") ==
      Seq(add("CODE"), upsert("CODE", "'1'")))
  }

  test("segments split DML at DDL sequence boundaries in order") {
    import spark.implicits._
    val dml = Seq((1L, "a"), (2L, "b"), (4L, "c"), (6L, "d"))
      .toDF("seq", "v")
    val ddl = Seq(DdlBarrier.DdlEvent(3, "ALTER x"), DdlBarrier.DdlEvent(5, "ALTER y"))
    val segs = DdlBarrier.segments(dml, ddl)
    assert(segs.map(_._1.map(_.sql)) == Seq(None, Some("ALTER x"), Some("ALTER y")))
    assert(segs(0)._2.select("v").collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    assert(segs(1)._2.select("v").collect().map(_.getString(0)).toSeq == Seq("c"))
    assert(segs(2)._2.select("v").collect().map(_.getString(0)).toSeq == Seq("d"))
  }

  test("a TRUNCATE split point applies alone between its two segments") {
    import spark.implicits._
    val dml = Seq((1L, "INSERT"), (2L, "INSERT"), (3L, "TRUNCATE"), (4L, "INSERT"))
      .toDF("seq", "type")
    val segs = DdlBarrier.segments(dml, Seq(DdlBarrier.DdlEvent(3, null, truncate = true)))
    assert(segs.map(_._1.map(_.truncate)) == Seq(None, Some(true), None))
    assert(segs.map(_._2.select("seq").collect().map(_.getLong(0)).sorted.toSeq) ==
      Seq(Seq(1L, 2L), Seq(3L), Seq(4L)))
  }

  test("sourceCols gives each segment the source columns of its own rows, in segment order") {
    import spark.implicits._
    val dml = Seq(
        (1L, Map("id" -> "1", "a" -> "x")), (2L, Map("id" -> "2")),
        (4L, Map("id" -> "3", "b" -> "y")), (5L, null), (7L, Map("id" -> "4", "c" -> "z")))
      .toDF("seq", "data").repartition(3)
    val ddl = Seq(DdlBarrier.DdlEvent(3, "ALTER x"),
      DdlBarrier.DdlEvent(5, null, truncate = true))
    // entries: [seq < 3], ALTER x → (3, 5), TRUNCATE → {5}, (5, ∞)
    assert(DdlBarrier.segments(dml, ddl).size == 4)
    assert(DdlBarrier.sourceCols(dml, ddl) ==
      Seq(Seq("a", "id"), Seq("b", "id"), Seq.empty, Seq("c", "id")))
    assert(DdlBarrier.sourceCols(dml, Seq.empty) == Seq(Seq("a", "b", "c", "id")))
  }

  test("streaming TRUNCATE (isDdl=false) is a barrier across 4 PK partitions") {
    val cfg = MappingConfig(dataSourceKey = "ds", destination = "example", groupId = "g1",
      concurrent = true,
      dbMapping = DbMapping("mytest", "tr", "TR.T", targetPk = Map("id" -> "id"), mapAll = true))
    def ins(es: Int, id: Int) =
      s"""{"destination":"example","groupId":"g1","database":"mytest","table":"tr","type":"INSERT","isDdl":false,"es":$es,"ts":$es,"data":[{"id":"$id","v":"v$id"}],"old":null}"""
    val truncate =
      """{"destination":"example","groupId":"g1","database":"mytest","table":"tr","type":"TRUNCATE","isDdl":false,"es":41,"ts":41,"data":null,"old":null}"""
    val lines = (1 to 40).map(i => ins(i, i)) ++ Seq(truncate) ++
      (1 to 40).map(i => ins(41 + i, 100 + i))
    (1 to 3).foreach { trial =>
      val url = s"jdbc:derby:memory:truncdb$trial;create=true"
      val c = DriverManager.getConnection(url)
      c.createStatement().execute(
        """CREATE TABLE "TR"."T" ("ID" BIGINT PRIMARY KEY, "V" VARCHAR(16))""")
      c.close()
      val dir = Files.createTempDirectory("canal-truncate").toFile
      Files.write(new File(dir, "t.json").toPath, lines.mkString("\n").getBytes("UTF-8"))
      val schema = graft.sink.SchemaProbe.probe(cfg.dbMapping, DerbyConn.factory(url),
        DeleteInsertDialect)
      val q = CanalStream.start(spark, spark.readStream.schema("value STRING")
          .text(dir.getAbsolutePath),
        new AtomicReference[Seq[MappingConfig]](Seq(cfg)), numPartitions = 4,
        (cf, ordered, ctx) => CanalStream.applyBatchToJdbc(cf, ordered, schema,
          DerbyConn.factory(url), DeleteInsertDialect, sourceColsHint = ctx.sourceCols))
      q.processAllAvailable()
      q.stop()
      val rs = DriverManager.getConnection(url).createStatement().executeQuery(
        """SELECT "ID", "V" FROM "TR"."T" ORDER BY "ID"""")
      val got = scala.collection.mutable.ListBuffer[(Long, String)]()
      while (rs.next()) got += ((rs.getLong(1), rs.getString(2)))
      val expected = CanalStream.materialize(
          CanalStream.parse(spark.read.text(dir.getAbsolutePath).toDF("value")),
          pkCols = Seq("id"), payload = Seq("v"))
        .collect().map(r => (r.getString(0).toLong, r.getString(1))).sortBy(_._1).toSeq
      assert(got.toSeq == (101L to 140L).map(i => (i, s"v$i")), s"trial $trial")
      assert(got.toSeq == expected, s"trial $trial")
    }
  }

  test("streaming DDL barrier e2e: ALTER lands between DML segments") {
    val url = "jdbc:derby:memory:ddldb;create=true"
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(
      """CREATE TABLE "MYTEST2"."USER" ("ID" BIGINT PRIMARY KEY, "NAME" VARCHAR(64))""")
    c.close()

    val dir = Files.createTempDirectory("canal-ddl").toFile
    val events = Seq(
      """{"destination":"example","groupId":"g1","database":"mytest","table":"user","type":"INSERT","isDdl":false,"es":1,"ts":1,"data":[{"id":"1","name":"a"}],"old":null}""",
      """{"destination":"example","groupId":"g1","database":"mytest","table":"user","type":"ALTER","isDdl":true,"sql":"ALTER TABLE user ADD COLUMN age INT DEFAULT 18","es":2,"ts":2,"data":null,"old":null}""",
      """{"destination":"example","groupId":"g1","database":"mytest","table":"user","type":"INSERT","isDdl":false,"es":3,"ts":3,"data":[{"id":"2","name":"b"}],"old":null}"""
    )
    Files.write(new File(dir, "b.json").toPath, events.mkString("\n").getBytes("UTF-8"))

    val ddlSeen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val colsSeen = new java.util.concurrent.CopyOnWriteArrayList[Option[Seq[String]]]()
    val raw = spark.readStream.schema("value STRING").text(dir.getAbsolutePath)
    val ref = new AtomicReference[Seq[MappingConfig]](Seq(config))
    // probe the schema fresh per segment — after the DDL the new column appears
    val q = CanalStream.start(spark, raw, ref, 2,
      (cfg, ordered, ctx) => {
        val schema = graft.sink.SchemaProbe.probe(cfg.dbMapping,
          DerbyConn.factory(url), DeleteInsertDialect)
        // this table has a DDL barrier in the batch, so each segment
        // carries its own columns (post-ALTER columns exist only in a later
        // segment)
        colsSeen.add(ctx.sourceCols)
        CanalStream.applyBatchToJdbc(cfg, ordered, schema,
          DerbyConn.factory(url), DeleteInsertDialect, sourceColsHint = ctx.sourceCols)
      },
      onDdl = (cfg, d) => {
        ddlSeen.add(d.sql)
        // Derby-dialect DDL (no IF NOT EXISTS support)
        val cc = DriverManager.getConnection(url)
        try {
          cc.createStatement().execute("""ALTER TABLE "MYTEST2"."USER" ADD "AGE" INT""")
          cc.createStatement().execute(
            """UPDATE "MYTEST2"."USER" SET "AGE" = 18 WHERE "AGE" IS NULL""")
        } finally cc.close()
        graft.sink.SchemaProbe.invalidate(cfg.destination, cfg.dbMapping)
      })
    q.processAllAvailable()
    q.stop()

    assert(ddlSeen.size() == 1)
    assert(colsSeen.asScala.toSeq == Seq(Some(Seq("id", "name")), Some(Seq("id", "name"))))
    val rs = DriverManager.getConnection(url).createStatement().executeQuery(
      """SELECT "ID", "NAME", "AGE" FROM "MYTEST2"."USER" ORDER BY "ID"""")
    val out = scala.collection.mutable.ListBuffer[(Long, String, Any)]()
    while (rs.next()) out += ((rs.getLong(1), rs.getString(2), rs.getObject(3)))
    // row 1 written before ALTER (age backfilled 18); row 2 after (age null —
    // insert carries no age value since data map lacks it)
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, "a"), (2L, "b")))
    assert(out.head._3 == 18)
  }

  test("ConfigMonitor polls, loads, and rejects outerAdapterKey changes") {
    val dir = Files.createTempDirectory("conf").toFile
    val yml =
      """destination: example
        |groupId: g1
        |outerAdapterKey: phoenix1
        |dbMapping:
        |  database: mytest
        |  table: user
        |  targetTable: mytest2.user
        |""".stripMargin
    Files.write(new File(dir, "a.yml").toPath, yml.getBytes)
    val ref = new AtomicReference[Seq[MappingConfig]](Seq.empty)
    val mon = new ConfigMonitor(dir, ref, pollMs = 100000)
    mon.poll()
    assert(ref.get().size == 1 && ref.get().head.outerAdapterKey == "phoenix1")
    // change outerAdapterKey → rejected (old config kept)
    Thread.sleep(5)
    Files.write(new File(dir, "a.yml").toPath,
      yml.replace("phoenix1", "phoenix2").getBytes)
    new File(dir, "a.yml").setLastModified(System.currentTimeMillis() + 2000)
    mon.poll()
    assert(ref.get().head.outerAdapterKey == "phoenix1")
    // new file → added
    Files.write(new File(dir, "b.yml").toPath,
      yml.replace("user", "orders").getBytes)
    mon.poll()
    assert(ref.get().size == 2)
    // delete → removed
    new File(dir, "b.yml").delete()
    mon.poll()
    assert(ref.get().size == 1)
    mon.close()
  }

  test("ConfigMonitor retains the prior config when a reload fails to parse") {
    val dir = Files.createTempDirectory("conf-badyml").toFile
    val yml =
      """destination: example
        |groupId: g1
        |dbMapping:
        |  database: mytest
        |  table: user
        |  targetTable: mytest2.user
        |""".stripMargin
    Files.write(new File(dir, "a.yml").toPath, yml.getBytes)
    val ref = new AtomicReference[Seq[MappingConfig]](Seq.empty)
    val mon = new ConfigMonitor(dir, ref, pollMs = 100000)
    mon.poll()
    assert(ref.get().size == 1 && ref.get().head.dbMapping.table == "user")
    // transient bad edit → prior config kept (routing must not stop)
    Files.write(new File(dir, "a.yml").toPath, "{{{ not yaml".getBytes)
    new File(dir, "a.yml").setLastModified(System.currentTimeMillis() + 2000)
    mon.poll()
    assert(ref.get().size == 1 && ref.get().head.dbMapping.table == "user")
    // fixed edit → new content applies
    Files.write(new File(dir, "a.yml").toPath, yml.replace("table: user", "table: orders").getBytes)
    new File(dir, "a.yml").setLastModified(System.currentTimeMillis() + 4000)
    mon.poll()
    assert(ref.get().head.dbMapping.table == "orders")
    mon.close()
  }

  test("ChangeNotifier posts database/table JSON to notifyUrl") {
    val posted = new java.util.concurrent.LinkedBlockingQueue[(String, String)]()
    val cfg = config.copy(notifyUrl = "http://example.invalid/hook")
    ChangeNotifier.notifyAsync(cfg, (url, body) => posted.put((url, body)))
    val (url, body) = posted.poll(5, java.util.concurrent.TimeUnit.SECONDS)
    assert(url == "http://example.invalid/hook")
    assert(body == """{"database":"mytest","table":"user"}""")
    // no notifyUrl → no call
    ChangeNotifier.notifyAsync(config, (_, _) => fail("should not post"))
  }
}
