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
 * [[MergeDialect]]). This batches even dialects that alternate statement
 * text per row (DELETE+INSERT).
 *
 * A required global SQL order across ops of one dialect is the one
 * precondition (upsert ops must not emit INSERT-then-DELETE while delete
 * ops batch DELETEs) — both shipped dialect families satisfy it.
 *
 * Owns `conn`: it is closed even when `setAutoCommit(false)` throws here.
 */
final class BatchExecutor(conn: Connection, commitBatch: Int = 5000) extends AutoCloseable {
  try conn.setAutoCommit(false)
  catch { case t: Throwable => BatchExecutor.suppressing(t)(conn.close()); throw t }

  private var sinceCommit = 0  // statements since last commit (cadence counter)
  private val stmts = scala.collection.mutable.Map[String, PreparedStatement]()
  // the open window: SQL texts in first-seen order + keys seen
  private val openSqls = scala.collection.mutable.LinkedHashSet[String]()
  private val windowKeys = scala.collection.mutable.HashSet[Seq[Any]]()

  private def stmt(sql: String): PreparedStatement =
    stmts.getOrElseUpdate(sql, conn.prepareStatement(sql))

  /**
   * Queue one row-op (all the statements one logical CDC/ETL row expands
   * to, e.g. DELETE+INSERT) under its PK; auto-commits every `commitBatch`
   * statements.
   */
  def addOp(key: Seq[Any], ops: Seq[(String, Seq[Any])]): Unit = {
    if (!windowKeys.add(key)) {
      flush() // second op for this key → new window keeps per-key order exact
      windowKeys.add(key)
    }
    ops.foreach { case (sql, params) =>
      val ps = stmt(sql)
      openSqls += sql
      params.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
      ps.addBatch()
      sinceCommit += 1
    }
    if (sinceCommit >= commitBatch) commit()
  }

  /** Execute an unparameterized DDL/utility statement immediately (a hard
    * ordering barrier: the open window flushes first). */
  def executeDirect(sql: String): Unit = {
    flush()
    val s = conn.createStatement()
    try s.execute(sql) finally s.close()
  }

  private def flush(): Unit = {
    openSqls.foreach(sql => stmts(sql).executeBatch())
    openSqls.clear(); windowKeys.clear()
  }

  def commit(): Unit = { flush(); sinceCommit = 0; conn.commit() }

  def rollback(): Unit = {
    stmts.values.foreach(_.clearBatch())
    openSqls.clear(); windowKeys.clear(); sinceCommit = 0
    conn.rollback()
  }

  /** Releases statements and the connection; commits nothing — the
    * caller ends the transaction with [[commit]] or [[rollback]]. */
  override def close(): Unit =
    try stmts.values.foreach(_.close()) finally conn.close()
}

object BatchExecutor {
  /** Run a cleanup step after `primary` was thrown: a failure of the step is
    * attached to `primary` as suppressed instead of replacing it. */
  private[sink] def suppressing(primary: Throwable)(step: => Unit): Unit =
    try step catch { case t: Throwable => primary.addSuppressed(t) }
}
