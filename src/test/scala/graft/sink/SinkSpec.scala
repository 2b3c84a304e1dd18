package graft.sink

import graft.{DerbyConn, TestSpark}
import graft.model.DbMapping
import graft.sink.UpsertSink.RowOp
import org.scalatest.funsuite.AnyFunSuite

import java.lang.reflect.{InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager}
import java.util.concurrent.atomic.AtomicInteger

/**
 * Sink semantics against a real embedded JDBC target (Derby in-memory).
 * Phoenix statement *text* is golden-tested; the transactional/idempotency
 * semantics run for real through BatchExecutor + DeleteInsertDialect.
 */
class SinkSpec extends AnyFunSuite {

  private def derby(db: String): () => Connection = {
    val url = s"jdbc:derby:memory:$db;create=true"
    () => DriverManager.getConnection(url)
  }

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

  /** [[derby]] whose connections count `commit` / `rollback` calls. */
  private def countingTx(db: String, commits: AtomicInteger,
                         rollbacks: AtomicInteger): () => Connection = () => {
    val c = derby(db)()
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      (_: AnyRef, m: Method, args: Array[AnyRef]) => {
        if (m.getName == "commit") commits.incrementAndGet()
        if (m.getName == "rollback") rollbacks.incrementAndGet()
        try { if (args == null) m.invoke(c) else m.invoke(c, args: _*) }
        catch { case e: InvocationTargetException => throw e.getCause }
      }).asInstanceOf[Connection]
  }

  val mapping: DbMapping = DbMapping("mytest", "user", "MYTEST2.USER",
    targetPk = Map("id" -> "id"), commitBatch = 2)

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
    val ops = Seq(RowOp("INSERT", Seq(1L, "a"), Seq(1L)))
    // Derby's missing-table error doesn't carry the Phoenix class names the
    // detector looks for, so wrap to emulate the Phoenix failure shape:
    val thrown = intercept[Throwable] {
      UpsertSink.applyPartition(ops.iterator, mapping, Seq("id", "name"),
        derby("t3"), heal = None, dialect = DeleteInsertDialect)
    }
    assert(thrown != null && healed == 0)
    // now with a heal hook and an error whose message mentions the miss:
    class TableNotFoundException(msg: String) extends RuntimeException(msg)
    val failingOnce: () => Connection = {
      var first = true
      () => {
        if (first) { first = false; throw new TableNotFoundException("TableNotFound: USER") }
        derby("t3")()
      }
    }
    UpsertSink.applyPartition(ops.iterator, mapping, Seq("id", "name"),
      failingOnce, heal = Some(heal), dialect = DeleteInsertDialect)
    assert(healed == 1)
    assert(queryAll("t3") == Seq((1L, "a")))
  }

  test("MergeDialect: single-statement upsert matches DeleteInsertDialect final state; runs batch") {
    setup("tm1"); setup("tm2")
    val ops = Seq(
      RowOp("INSERT", Seq(1L, "alice"), Seq(1L)),
      RowOp("INSERT", Seq(2L, "bob"), Seq(2L)),
      RowOp("UPDATE", Seq(1L, "alice2"), Seq(1L)), // same-key rewrite inside one run
      RowOp("INSERT", Seq(4L, "dan"), Seq(4L)),
      RowOp("DELETE", Seq.empty, Seq(2L)),         // breaks the run (different SQL)
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
    // the homogeneous upsert run shares ONE statement text — the batching
    // precondition DeleteInsertDialect (alternating DELETE/INSERT) lacks
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

  test("a partition commits exactly once; a failed one rolls back and never commits") {
    setup("t6")
    val (commits, rollbacks) = (new AtomicInteger, new AtomicInteger)
    val wide = mapping.copy(commitBatch = 100) // no cadence commit mid-partition
    val ops = Seq(
      RowOp("INSERT", Seq(1L, "a"), Seq(1L)),
      RowOp("INSERT", Seq(2L, "b"), Seq(2L)),
      RowOp("DELETE", Seq.empty, Seq(1L)))
    UpsertSink.applyPartition(ops.iterator, wide, Seq("id", "name"),
      countingTx("t6", commits, rollbacks), dialect = DeleteInsertDialect)
    assert((commits.get, rollbacks.get) == ((1, 0)))
    assert(queryAll("t6") == Seq((2L, "b")))
    // NAME is VARCHAR(64): the over-long value fails the batch at commit
    commits.set(0)
    intercept[Throwable] {
      UpsertSink.applyPartition(Iterator(RowOp("INSERT", Seq(3L, "x" * 65), Seq(3L))),
        wide, Seq("id", "name"), countingTx("t6", commits, rollbacks),
        dialect = DeleteInsertDialect)
    }
    assert((commits.get, rollbacks.get) == ((0, 1)))
    assert(queryAll("t6") == Seq((2L, "b")))
  }
}
