package graft.sink

import graft.{DerbyConn, TestSpark}
import graft.model.{DbMapping, MappingConfig}
import graft.sink.UpsertSink.RowOp
import graft.streaming.CanalStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.sql.{Connection, SQLException}
import java.util.concurrent.atomic.AtomicInteger

/**
 * Sink semantics against a real embedded JDBC target (Derby in-memory).
 * Phoenix statement *text* is golden-tested; the transactional/idempotency
 * semantics run for real through BatchExecutor + DeleteInsertDialect.
 */
class SinkSpec extends AnyFunSuite {

  private def url(db: String): String = s"jdbc:derby:memory:$db;create=true"
  private def derby(db: String): () => Connection = DerbyConn.factory(url(db))

  private def setup(db: String): Unit = {
    val c = derby(db)()
    try {
      val st = c.createStatement()
      st.execute("""CREATE TABLE "MYTEST2"."USER" ("ID" BIGINT PRIMARY KEY, "NAME" VARCHAR(64))""")
      st.close()
    } finally c.close()
  }

  private def queryAll(db: String): Seq[(Long, String)] = {
    val c = derby(db)()
    try {
      val rs = c.createStatement()
        .executeQuery("""SELECT "ID", "NAME" FROM "MYTEST2"."USER" ORDER BY "ID"""")
      val buf = scala.collection.mutable.ListBuffer[(Long, String)]()
      while (rs.next()) buf += ((rs.getLong(1), rs.getString(2)))
      buf.toSeq
    } finally c.close()
  }

  val mapping: DbMapping = DbMapping("mytest", "user", "MYTEST2.USER",
    targetPk = Map("id" -> "id"), commitBatch = 2)

  // the segment-level (applyBatchToJdbc) view of the same target
  private val config = MappingConfig(dataSourceKey = "ds", destination = "example",
    dbMapping = mapping.copy(mapAll = true))
  private val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))

  /** A routed segment of INSERTs for ids `1..n`, spread over `parts` partitions. */
  private def inserts(n: Int, parts: Int): DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    spark.sparkContext.parallelize((1 to n).map(i => ("INSERT", Map("id" -> s"$i", "name" -> s"n$i"))), parts)
      .toDF("type", "data")
  }

  test("Phoenix statement text golden (PhoenixSyncService.java:379-423,473-513)") {
    assert(PhoenixDialect.upsertSql(mapping, Seq("id", "name")) ==
      """UPSERT INTO "MYTEST2"."USER" ("ID", "NAME") VALUES (?, ?)""")
    assert(PhoenixDialect.deleteSql(mapping) ==
      """DELETE FROM "MYTEST2"."USER" WHERE "ID" = ?""")
    assert(PhoenixDialect.truncateSql(mapping) ==
      """TRUNCATE TABLE "MYTEST2"."USER"""")
    assert(PhoenixDialect.countSql(mapping) ==
      """SELECT COUNT(1) AS cnt FROM "MYTEST2"."USER"""")
    // escapeUpper=false quotes identifiers as-is (no case folding)
    val noUpper = mapping.copy(escapeUpper = false, targetTable = "mytest2.user")
    assert(PhoenixDialect.upsertSql(noUpper, Seq("id")) ==
      """UPSERT INTO "mytest2"."user" ("id") VALUES (?)""")
  }

  test("upsert is idempotent and last-write-wins; delete removes; commits batch") {
    setup("t1")
    val ops = Seq(
      RowOp("INSERT", Seq(1L, "alice"), Seq(1L)),
      RowOp("INSERT", Seq(2L, "bob"), Seq(2L)),
      RowOp("UPDATE", Seq(1L, "alice2"), Seq(1L)), // full post-image upsert
      RowOp("DELETE", Seq.empty, Seq(2L)),
      RowOp("INSERT", Seq(3L, "carol"), Seq(3L))
    )
    UpsertSink.applyPartition(ops.iterator, mapping, Seq("id", "name"),
      derby("t1"), dialect = DeleteInsertDialect)
    assert(queryAll("t1") == Seq((1L, "alice2"), (3L, "carol")))
    // replay the whole batch (at-least-once): state unchanged
    UpsertSink.applyPartition(ops.iterator, mapping, Seq("id", "name"),
      derby("t1"), dialect = DeleteInsertDialect)
    assert(queryAll("t1") == Seq((1L, "alice2"), (3L, "carol")))
  }

  test("TRUNCATE op clears prior state") {
    setup("t2")
    val ops = Seq(
      RowOp("INSERT", Seq(1L, "a"), Seq(1L)),
      RowOp("TRUNCATE", Seq.empty, Seq.empty),
      RowOp("INSERT", Seq(2L, "b"), Seq(2L)))
    UpsertSink.applyPartition(ops.iterator, mapping, Seq("id", "name"),
      derby("t2"), dialect = DeleteInsertDialect)
    assert(queryAll("t2") == Seq((2L, "b")))
  }

  test("D5 self-heal: schema-miss failure triggers heal then a single replay") {
    // no table yet — first run fails with TableNotFound-ish Derby error;
    // heal creates it; replay succeeds.
    var healed = 0
    val heal: Throwable => Unit = { _ =>
      healed += 1
      setup("t3")
    }
    val segment = inserts(1, 1)
    val thrown = intercept[Throwable] {
      CanalStream.applyBatchToJdbc(config, segment, schema, derby("t3"), DeleteInsertDialect,
        heal = None)
    }
    assert(thrown != null && healed == 0)
    // now with a heal hook and the Phoenix failure shape (Derby's
    // missing-table error doesn't carry the names the detector looks for):
    CanalStream.applyBatchToJdbc(config, segment, schema, DerbyConn.schemaMissOnce(url("t3")),
      DeleteInsertDialect, heal = Some(heal))
    assert(healed == 1)
    assert(queryAll("t3") == Seq((1L, "n1")))
  }

  test("D5 heal runs once per failing segment, on the driver, however many partitions miss") {
    setup("th1")
    SinkSpec.heals.set(0)
    val heal: Throwable => Unit = _ => SinkSpec.heals.incrementAndGet()
    // every one of the 4 partitions' first connection raises TableNotFound
    CanalStream.applyBatchToJdbc(config, inserts(40, 4), schema,
      DerbyConn.schemaMissOnce(url("th1")), DeleteInsertDialect, heal = Some(heal))
    assert(SinkSpec.heals.get == 1)
    assert(queryAll("th1") == (1 to 40).map(i => (i.toLong, s"n$i")))
  }

  test("D5 heal need not be serializable") {
    setup("th2")
    val driverOnly = new Object // not Serializable: shipping it to a task would fail
    var healed = 0
    val heal: Throwable => Unit = _ => driverOnly.synchronized(healed += 1)
    CanalStream.applyBatchToJdbc(config, inserts(8, 2), schema,
      DerbyConn.schemaMissOnce(url("th2")), DeleteInsertDialect, heal = Some(heal))
    assert(healed == 1)
    assert(queryAll("th2") == (1 to 8).map(i => (i.toLong, s"n$i")))
  }

  test("a partition is streamed: at most commitBatch + 1 ops are read before the first commit") {
    setup("t7")
    val readBeforeCommit = new AtomicInteger
    val ops = (1 to 1000).iterator.map { i =>
      if (DerbyConn.callsTo(url("t7"), "commit") == 0) readBeforeCommit.incrementAndGet()
      RowOp("INSERT", Seq(i.toLong, s"n$i"), Seq(i.toLong))
    }
    // MergeDialect: one statement per op, so the cadence commit comes every 100 ops
    UpsertSink.applyPartition(ops, mapping.copy(commitBatch = 100), Seq("id", "name"),
      DerbyConn.countingTx(url("t7")), dialect = MergeDialect())
    assert(readBeforeCommit.get <= 101)
    assert(queryAll("t7") == (1 to 1000).map(i => (i.toLong, s"n$i")))
  }

  test("MergeDialect: single-statement upsert matches DeleteInsertDialect final state; runs batch") {
    setup("tm1"); setup("tm2")
    val ops = Seq(
      RowOp("INSERT", Seq(1L, "alice"), Seq(1L)),
      RowOp("INSERT", Seq(2L, "bob"), Seq(2L)),
      RowOp("UPDATE", Seq(1L, "alice2"), Seq(1L)), // same-key rewrite inside one run
      RowOp("INSERT", Seq(4L, "dan"), Seq(4L)),
      RowOp("DELETE", Seq.empty, Seq(2L)),         // repeats key 2: a new window
      RowOp("INSERT", Seq(3L, "carol"), Seq(3L)))
    UpsertSink.applyPartition(ops.iterator, mapping, Seq("id", "name"),
      derby("tm1"), dialect = MergeDialect())
    UpsertSink.applyPartition(ops.iterator, mapping, Seq("id", "name"),
      derby("tm2"), dialect = DeleteInsertDialect)
    assert(queryAll("tm1") == queryAll("tm2"))
    assert(queryAll("tm1") == Seq((1L, "alice2"), (3L, "carol"), (4L, "dan")))
    // replay converges (at-least-once)
    UpsertSink.applyPartition(ops.iterator, mapping, Seq("id", "name"),
      derby("tm1"), dialect = MergeDialect())
    assert(queryAll("tm1") == Seq((1L, "alice2"), (3L, "carol"), (4L, "dan")))
    // every upsert is ONE shared statement text (DeleteInsertDialect emits
    // a DELETE and an INSERT per upsert, each batched per pk-distinct window)
    val stmts = ops.take(4).flatMap(op =>
      MergeDialect().upsert(mapping, Seq("id", "name"), op.values, op.pkValues)).map(_._1)
    assert(stmts.distinct.size == 1)
  }

  test("writeUpserts: DataFrame → Derby via foreachPartition (K5 bulk path)") {
    val spark = TestSpark.spark
    import spark.implicits._
    setup("t4")
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "name")
    UpsertSink.writeUpserts(df, mapping, derby("t4"), numPartitions = 2,
      dialect = DeleteInsertDialect)
    assert(queryAll("t4") == Seq((1L, "x"), (2L, "y"), (3L, "z")))
    // re-import converges (reference ETL is DELETE-then-UPSERT, SURVEY §2.2)
    UpsertSink.writeUpserts(df, mapping, derby("t4"), numPartitions = 2,
      dialect = DeleteInsertDialect)
    assert(queryAll("t4") == Seq((1L, "x"), (2L, "y"), (3L, "z")))
  }

  test("an empty partition opens no connection") {
    val url = "jdbc:derby:memory:t5;create=true"
    UpsertSink.applyPartition(Iterator.empty, mapping, Seq("id", "name"),
      DerbyConn.counting(url), dialect = DeleteInsertDialect)
    assert(DerbyConn.openedTo(url) == 0)
  }

  private val wide = mapping.copy(commitBatch = 100) // no cadence commit mid-partition
  private def txCalls(db: String): (Int, Int) =
    (DerbyConn.callsTo(url(db), "commit"), DerbyConn.callsTo(url(db), "rollback"))

  test("a partition commits exactly once; a failed one rolls back and never commits") {
    setup("t6")
    val ops = Seq(
      RowOp("INSERT", Seq(1L, "a"), Seq(1L)),
      RowOp("INSERT", Seq(2L, "b"), Seq(2L)),
      RowOp("DELETE", Seq.empty, Seq(1L)))
    UpsertSink.applyPartition(ops.iterator, wide, Seq("id", "name"),
      DerbyConn.countingTx(url("t6")), dialect = DeleteInsertDialect)
    assert(txCalls("t6") == ((1, 0)))
    assert(queryAll("t6") == Seq((2L, "b")))
    // NAME is VARCHAR(64): the over-long value fails the batch at commit
    intercept[Throwable] {
      UpsertSink.applyPartition(Iterator(RowOp("INSERT", Seq(3L, "x" * 65), Seq(3L))),
        wide, Seq("id", "name"), DerbyConn.countingTx(url("t6")),
        dialect = DeleteInsertDialect)
    }
    assert(txCalls("t6") == ((1, 1))) // no commit, one rollback since the first check
    assert(queryAll("t6") == Seq((2L, "b")))
  }

  test("a failing rollback or close never hides the apply's own error") {
    setup("t8")
    val thrown = intercept[SQLException] {
      UpsertSink.applyPartition(Iterator(RowOp("INSERT", Seq(3L, "x" * 65), Seq(3L))),
        wide, Seq("id", "name"), DerbyConn.countingTx(url("t8"), failing = Set("rollback", "close")),
        dialect = DeleteInsertDialect)
    }
    assert(thrown.getSQLState == "22001") // Derby's string-truncation state
    assert(thrown.getSuppressed.map(_.getMessage).toSeq == Seq("rollback failed", "close failed"))
    assert(txCalls("t8") == ((0, 1)))
  }

  test("a connection whose setAutoCommit throws is still closed") {
    intercept[SQLException] {
      UpsertSink.applyPartition(Iterator(RowOp("INSERT", Seq(1L, "a"), Seq(1L))), mapping,
        Seq("id", "name"), DerbyConn.countingTx(url("t9"), failing = Set("setAutoCommit")),
        dialect = DeleteInsertDialect)
    }
    assert(DerbyConn.callsTo(url("t9"), "close") == 1)
  }
}

object SinkSpec {
  /** Heal calls, JVM-wide: counts a heal wherever it runs (driver or task). */
  val heals = new AtomicInteger
}
