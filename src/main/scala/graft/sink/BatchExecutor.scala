package graft.sink

import java.sql.{Connection, PreparedStatement}

/**
 * X1 — transactional micro-batch executor (reference
 * `support/BatchExecutor.java:21-105`): one JDBC connection per Spark
 * partition, `autoCommit=false` (`:37`), statements accumulated with
 * `addBatch` and flushed every `commitBatch` rows (ETL cadence,
 * `PhoenixEtlService.java:456-459`), `commit`/`rollback` per
 * partition-batch (`:77-91`). Mirrors Spark's own `JdbcUtils.savePartition`
 * idiom; lives inside `foreachPartition`, below Catalyst.
 *
 * ORDERING INVARIANT: row-ops must take effect in call order per key — a
 * CDC partition interleaves DELETE/INSERT for the same keys, and reordering
 * them corrupts final state. (The reference executes every statement
 * immediately — `BatchExecutor.java:60-75` — batching only the commit.)
 *
 * Batching model — *pk-distinct windows*: [[addOp]] accumulates one open
 * window of row-ops in which every PK appears at most once (a repeat key
 * flushes first). Within such a window, ops on different keys touch
 * disjoint rows, so replaying the window as per-SQL `executeBatch` calls in
 * first-seen SQL order is state-equivalent to strict row order — each key's
 * own statements keep their relative order because every dialect emits its
 * statements in a fixed SQL order (DELETE before INSERT for
 * [[DeleteInsertDialect]], a single statement for Phoenix UPSERT /
 * [[MergeDialect]]). This recovers the `executeBatch` round-trip win even
 * for dialects that alternate statement text per row (DELETE+INSERT),
 * where naive run-length batching degrades to batches of 1.
 *
 * A required global SQL order across ops of one dialect is the one
 * precondition (upsert ops must not emit INSERT-then-DELETE while delete
 * ops batch DELETEs) — both shipped dialect families satisfy it.
 */
final class BatchExecutor(conn: Connection, commitBatch: Int = 5000) extends AutoCloseable {
  conn.setAutoCommit(false)

  private var sinceCommit = 0  // statements since last commit (cadence counter)
  private val stmts = scala.collection.mutable.Map[String, PreparedStatement]()
  // the open window: per-SQL pending counts in first-seen order + keys seen
  private val openSqls = scala.collection.mutable.ArrayBuffer[String]()
  private val pending = scala.collection.mutable.Map[String, Int]()
  private val windowKeys = scala.collection.mutable.HashSet[Seq[Any]]()
  private var lastSql: String = null

  private def stmt(sql: String): PreparedStatement =
    stmts.getOrElseUpdate(sql, conn.prepareStatement(sql))

  /**
   * Queue one row-op (all the statements one logical CDC/ETL row expands
   * to, e.g. DELETE+INSERT) under its PK; auto-commits every `commitBatch`
   * statements. `key == null` means "unknown key": the op degrades to
   * strict run-length batching (flush whenever the SQL text changes).
   */
  def addOp(key: Seq[Any], ops: Seq[(String, Seq[Any])]): Unit = {
    if (key == null) {
      // unknown key: only a homogeneous run is provably order-safe
      if (ops.exists { case (sql, _) => lastSql != null && sql != lastSql }) flush()
    } else if (!windowKeys.add(key)) {
      flush() // second op for this key → new window keeps per-key order exact
      windowKeys.add(key)
    }
    ops.foreach { case (sql, params) =>
      val ps = stmt(sql)
      if (!pending.contains(sql)) { openSqls += sql; pending(sql) = 0 }
      params.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
      ps.addBatch()
      pending(sql) += 1
      lastSql = sql
      sinceCommit += 1
    }
    if (sinceCommit >= commitBatch) commit()
  }

  /** Queue one parameterized statement with no key context (run-length
    * batching only). */
  def execute(sql: String, params: Seq[Any]): Unit = addOp(null, Seq(sql -> params))

  /** Execute an unparameterized DDL/utility statement immediately (a hard
    * ordering barrier: the open window flushes first). */
  def executeDirect(sql: String): Unit = {
    flush()
    val s = conn.createStatement()
    try s.execute(sql) finally s.close()
  }

  private def flush(): Unit = {
    openSqls.foreach(sql => stmts(sql).executeBatch())
    openSqls.clear(); pending.clear(); windowKeys.clear()
    lastSql = null
  }

  def commit(): Unit = { flush(); sinceCommit = 0; conn.commit() }

  def rollback(): Unit = {
    stmts.values.foreach(_.clearBatch())
    openSqls.clear(); pending.clear(); windowKeys.clear()
    lastSql = null; sinceCommit = 0
    conn.rollback()
  }

  /** Releases statements and the connection; commits nothing — the
    * caller ends the transaction with [[commit]] or [[rollback]]. */
  override def close(): Unit =
    try stmts.values.foreach(_.close()) finally conn.close()
}
