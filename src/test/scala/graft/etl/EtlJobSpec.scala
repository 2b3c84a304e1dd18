package graft.etl

import graft.{DerbyConn, TestSpark}
import graft.model.{DbMapping, MappingConfig}
import graft.sink.DeleteInsertDialect
import org.scalatest.funsuite.AnyFunSuite

import java.sql.DriverManager

/** §3.2 bulk-import lifecycle against parquet + JDBC sources and a Derby
  * target — both ends of the reference's MySQL→Phoenix pipe are real JDBC
  * here. */
class EtlJobSpec extends AnyFunSuite {
  @transient lazy val spark = TestSpark.spark

  private val url = "jdbc:derby:memory:etldb;create=true"
  private def conn() = DriverManager.getConnection(url)

  val config: MappingConfig = MappingConfig(
    dataSourceKey = "ds", destination = "example",
    dbMapping = DbMapping("tpch", "customer", "TPCH2.CUSTOMER",
      targetPk = Map("id" -> "c_custkey"), mapAll = true,
      excludeColumns = Set("c_acctbal"),
      targetColumns = Map("id" -> "c_custkey"),
      etlCondition = "c_nationkey < {0}"))

  private def targetCount(table: String): Long = {
    val rs = conn().createStatement().executeQuery(s"SELECT COUNT(1) FROM $table")
    rs.next(); rs.getLong(1)
  }

  test("importOne: parquet → transform (T2/F2) → Derby upsert (K5); idempotent; counts") {
    val c = conn()
    c.createStatement().execute(
      """CREATE TABLE "TPCH2"."CUSTOMER" ("ID" BIGINT PRIMARY KEY,
        | "C_NAME" VARCHAR(64), "C_NATIONKEY" INT, "C_MKTSEGMENT" VARCHAR(32))""".stripMargin)
    c.close()

    val r = EtlJob.importOne(spark, config, s"${TestSpark.sf}/customer.parquet",
      params = Seq("5"), DerbyConn.factory(url), numPartitions = 2, dialect = DeleteInsertDialect)
    assert(r.succeeded, r.errorMessage)

    val expected = spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
      .where("c_nationkey < 5").count()
    assert(r.importedCount == expected && expected > 0) // PhoenixAdapter.java:191-205 parity
    assert(r.resultMessage.contains(expected.toString))
    assert(targetCount("\"TPCH2\".\"CUSTOMER\"") == expected)

    // re-import converges (DELETE-then-UPSERT semantics)
    val r2 = EtlJob.importOne(spark, config, s"${TestSpark.sf}/customer.parquet",
      params = Seq("5"), DerbyConn.factory(url), numPartitions = 2, dialect = DeleteInsertDialect)
    assert(r2.succeeded && r2.importedCount == expected)
    assert(targetCount("\"TPCH2\".\"CUSTOMER\"") == expected)
  }

  test("importSource: partitioned JDBC source read → Derby target (S2/P1 over real JDBC)") {
    // seed a Derby *source* table from the corpus — the reference's MySQL side
    val srcUrl = "jdbc:derby:memory:etlsrc;create=true"
    spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .write.mode("overwrite").jdbc(srcUrl, "TPCH_SRC.CUSTOMER", new java.util.Properties())

    val c = conn()
    c.createStatement().execute(
      """CREATE TABLE "TPCH2"."CUSTOMER_J" ("ID" BIGINT PRIMARY KEY,
        | "C_NAME" VARCHAR(64), "C_NATIONKEY" INT, "C_MKTSEGMENT" VARCHAR(32))""".stripMargin)
    c.close()

    val source = EtlJob.EtlSource.Jdbc(srcUrl, "TPCH_SRC.CUSTOMER",
      partitionColumn = "c_custkey", numPartitions = 4)

    // P1: bounds auto-probed (one MIN/MAX statement), 4 parallel range scans
    val df = EtlJob.readSource(spark, source)
    assert(df.rdd.getNumPartitions == 4)

    // S2: the etlCondition is pushed into the remote JDBC scan, not applied
    // post-read (reference appends it to its scan SQL,
    // PhoenixEtlService.java:243-247; here Catalyst pushes the Filter down)
    val cfgJ = config.copy(dbMapping = config.dbMapping.copy(targetTable = "TPCH2.CUSTOMER_J"))
    val plan = EtlJob.transform(df, cfgJ, Seq("5")).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.toUpperCase.contains("C_NATIONKEY"),
      s"condition did not reach the JDBC scan:\n$plan")

    val r = EtlJob.importSource(spark, cfgJ, source, Seq("5"),
      DerbyConn.factory(url), numPartitions = 2, dialect = DeleteInsertDialect)
    assert(r.succeeded, r.errorMessage)

    val expected = spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
      .where("c_nationkey < 5").count()
    assert(r.importedCount == expected && expected > 0)
    assert(targetCount("\"TPCH2\".\"CUSTOMER_J\"") == expected)

    // re-import from JDBC converges too
    val r2 = EtlJob.importSource(spark, cfgJ, source, Seq("5"),
      DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(r2.succeeded && targetCount("\"TPCH2\".\"CUSTOMER_J\"") == expected)
  }

  test("readSource degrades to an unpartitioned read on an empty partition column") {
    val srcUrl = "jdbc:derby:memory:etlsrcempty;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    sc.createStatement().execute(
      """CREATE TABLE "EMPTYT" ("ID" BIGINT PRIMARY KEY, "V" VARCHAR(8))""")
    sc.close()
    val df = EtlJob.readSource(spark,
      EtlJob.EtlSource.Jdbc(srcUrl, "EMPTYT", partitionColumn = "ID", numPartitions = 4))
    assert(df.count() == 0) // MIN/MAX null → no range split, still readable
  }

  test("importSource: CSV and JSON sources flow through the same transform + sink") {
    val base = java.nio.file.Files.createTempDirectory("etl-srcfmt")
    val cust = spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    cust.write.option("header", "true").csv(s"$base/csv")
    cust.write.json(s"$base/json")
    val expected = cust.where("c_nationkey < 5").count()

    val c = conn()
    c.createStatement().execute(
      """CREATE TABLE "TPCH2"."CUSTOMER_F" ("ID" BIGINT PRIMARY KEY,
        | "C_NAME" VARCHAR(64), "C_NATIONKEY" INT, "C_MKTSEGMENT" VARCHAR(32))""".stripMargin)
    c.close()
    val cfg = config.copy(dbMapping = config.dbMapping.copy(targetTable = "TPCH2.CUSTOMER_F"))
    val ddl = "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_mktsegment STRING"

    val rc = EtlJob.importSource(spark, cfg,
      EtlJob.EtlSource.Csv(s"$base/csv", schemaDdl = ddl), Seq("5"),
      DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(rc.succeeded && rc.importedCount == expected, rc.errorMessage)
    assert(targetCount("\"TPCH2\".\"CUSTOMER_F\"") == expected)

    val rj = EtlJob.importSource(spark, cfg,
      EtlJob.EtlSource.Json(s"$base/json", schemaDdl = ddl), Seq("5"),
      DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(rj.succeeded && rj.importedCount == expected, rj.errorMessage)
    assert(targetCount("\"TPCH2\".\"CUSTOMER_F\"") == expected) // idempotent across formats

    cust.write.orc(s"$base/orc")
    val ro = EtlJob.importSource(spark, cfg,
      EtlJob.EtlSource.Orc(s"$base/orc"), Seq("5"),
      DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(ro.succeeded && ro.importedCount == expected, ro.errorMessage)
    assert(targetCount("\"TPCH2\".\"CUSTOMER_F\"") == expected)
  }

  test("probeBounds names the partition column on a non-numeric or empty column") {
    val srcUrl = "jdbc:derby:memory:etlsrcbad;create=true"
    val sc = DriverManager.getConnection(srcUrl)
    sc.createStatement().execute(
      """CREATE TABLE "BADT" ("ID" BIGINT PRIMARY KEY, "NAME" VARCHAR(8))""")
    sc.createStatement().execute("""INSERT INTO "BADT" VALUES (1, 'a')""")
    sc.close()
    // non-numeric column: MIN/MAX succeeds in SQL but getLong fails — the
    // probe must surface the column name and the numeric requirement
    val e = intercept[IllegalArgumentException] {
      EtlJob.readSource(spark,
        EtlJob.EtlSource.Jdbc(srcUrl, "BADT", partitionColumn = "NAME", numPartitions = 4))
    }
    assert(e.getMessage.contains("NAME") && e.getMessage.toLowerCase.contains("numeric"))
    val e2 = intercept[IllegalArgumentException] {
      EtlJob.readSource(spark,
        EtlJob.EtlSource.Jdbc(srcUrl, "BADT", partitionColumn = "", numPartitions = 4))
    }
    assert(e2.getMessage.contains("partitionColumn"))
  }

  test("X3 orchestration fans out over configs matching the destination") {
    val other = config.copy(destination = "elsewhere")
    val src = (_: MappingConfig) =>
      EtlJob.EtlSource.Parquet(s"${TestSpark.sf}/customer.parquet")
    val results = EtlJob.etl(spark, "nomatch",
      Map("a" -> config, "b" -> other), Seq("5"),
      src, DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(results.isEmpty)
    val byName = EtlJob.etl(spark, "a",
      Map("a" -> config, "b" -> other), Seq("5"),
      src, DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(byName.size == 1 && byName.head.succeeded && byName.head.importedCount > 0)
  }

  test("X3 fan-out: target tables import concurrently, a shared target in config order, results in selected order") {
    val u = "jdbc:derby:memory:etlfanout;create=true"
    val c = DriverManager.getConnection(u)
    try Seq("A", "B").foreach(t => c.createStatement().execute(
      s"""CREATE TABLE "FAN"."$t" ("ID" BIGINT PRIMARY KEY,
         | "C_NAME" VARCHAR(64), "C_NATIONKEY" INT, "C_MKTSEGMENT" VARCHAR(32))""".stripMargin))
    finally c.close()
    def cfg(target: String, cond: String) = config.copy(destination = "fan",
      dbMapping = config.dbMapping.copy(targetTable = target, etlCondition = cond))
    // a1 and a2 share FAN.A; b writes FAN.B
    val configs = Map("a1" -> cfg("FAN.A", "c_nationkey < {0}"),
      "a2" -> cfg("FAN.A", "c_nationkey >= {0}"), "b" -> cfg("FAN.B", "c_nationkey = 1"))
    val selected = configs.values.filter(_.destination == "fan").toSeq
    val startedAt = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val name = configs.map { case (k, v) => v -> k }
    val src = (m: MappingConfig) => {
      startedAt.put(name(m), System.nanoTime())
      // a1 holds FAN.A's chain long enough that a concurrent a2 would start
      if (name(m) == "a1") Thread.sleep(1000)
      EtlJob.EtlSource.Parquet(s"${TestSpark.sf}/customer.parquet")
    }
    val results = EtlJob.etl(spark, "fan", configs, Seq("5"), src, DerbyConn.factory(u),
      dialect = DeleteInsertDialect)
    val customers = spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
    val expected = selected.map(m => customers.where(
      graft.transform.Conditions.substitute(m.dbMapping.etlCondition, Seq("5"))).count())
    assert(results.map(_.importedCount) == expected && results.forall(_.succeeded))
    assert(startedAt.get("a2") - startedAt.get("a1") >= 1000L * 1000 * 1000,
      "a2 started before a1's import finished")
    assert(startedAt.get("b") < startedAt.get("a1") + 1000L * 1000 * 1000,
      "FAN.B waited for FAN.A's chain")
  }

  test("failed import returns an EtlResult error, not an exception (X3)") {
    val bad = config.copy(dbMapping = config.dbMapping.copy(targetTable = "NO.SUCH_TABLE"))
    val r = EtlJob.importOne(spark, bad, s"${TestSpark.sf}/customer.parquet",
      Seq("5"), DerbyConn.factory(url), dialect = DeleteInsertDialect)
    assert(!r.succeeded && r.errorMessage.isDefined && r.importedCount == 0)
  }
}
