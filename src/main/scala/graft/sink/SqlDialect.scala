package graft.sink

import graft.model.DbMapping

/**
 * Sink dialect: how one logical row-op (K1–K4) becomes parameterized JDBC
 * statements for a given target. Phoenix gets the reference's single
 * `UPSERT` (`PhoenixSyncService.java:379-423`); targets without a native
 * upsert (Derby in tests, vanilla RDBMS) get the reference's *ETL* shape —
 * DELETE-by-PK then INSERT (`PhoenixEtlService.java:409-451`), which has
 * identical last-write-wins semantics. Every dialect shares the Phoenix
 * identifier quoting and DELETE-by-PK; each states only its upsert and
 * truncate.
 */
trait SqlDialect extends Serializable {
  /** Statements for an INSERT/UPDATE (upsert) of a full post-image. */
  def upsert(mapping: DbMapping, cols: Seq[String], values: Seq[Any],
             pkValues: Seq[Any]): Seq[(String, Seq[Any])]
  def truncate(mapping: DbMapping): String
  def delete(mapping: DbMapping, pkValues: Seq[Any]): Seq[(String, Seq[Any])] =
    Seq(PhoenixDialect.deleteSql(mapping) -> pkValues)
  def quote(id: String, escapeUpper: Boolean): String = PhoenixDialect.escape(id, escapeUpper)
  def tableName(mapping: DbMapping): String = PhoenixDialect.tableName(mapping)
}

/** Phoenix-style: native UPSERT, double-quoted upper-cased identifiers. */
object PhoenixSqlDialect extends SqlDialect {
  def upsert(m: DbMapping, cols: Seq[String], values: Seq[Any],
             pkValues: Seq[Any]): Seq[(String, Seq[Any])] =
    Seq(PhoenixDialect.upsertSql(m, cols) -> values)
  def truncate(m: DbMapping): String = PhoenixDialect.truncateSql(m)
}

/**
 * ANSI `MERGE` upsert (Derby ≥10.11, DB2, SQL Server, Oracle): ONE statement
 * per row-op, like Phoenix's native UPSERT, so an upsert is one batched
 * statement where [[DeleteInsertDialect]] needs two (a DELETE and an
 * INSERT, each batched by [[BatchExecutor]]'s pk-distinct windows).
 *
 * Parameter order: ON (pk), UPDATE SET (non-pk columns), INSERT (all
 * columns). PK columns are excluded from SET (immutable under MERGE; K2
 * pk-changes arrive as DELETE+INSERT upstream, `CdcApply.expandPkChanges`).
 */
final case class MergeDialect(dummyTable: String = "SYSIBM.SYSDUMMY1") extends SqlDialect {
  def upsert(m: DbMapping, cols: Seq[String], values: Seq[Any],
             pkValues: Seq[Any]): Seq[(String, Seq[Any])] = {
    val pkCols = m.targetPk.keys.toSeq.sorted // same order as pkValues (sink contract)
    val isPk = (c: String) => pkCols.exists(_.equalsIgnoreCase(c))
    val setCols = cols.zipWithIndex.filterNot { case (c, _) => isPk(c) }
    val on = pkCols.map(c => s"""t.${quote(c, m.escapeUpper)} = ?""").mkString(" AND ")
    val set = setCols.map { case (c, _) => s"${quote(c, m.escapeUpper)} = ?" }.mkString(", ")
    val colList = cols.map(quote(_, m.escapeUpper)).mkString(", ")
    val qs = cols.map(_ => "?").mkString(", ")
    val matched = if (setCols.nonEmpty) s" WHEN MATCHED THEN UPDATE SET $set" else ""
    val sql = s"MERGE INTO ${tableName(m)} t USING $dummyTable d ON ($on)" +
      matched + s" WHEN NOT MATCHED THEN INSERT ($colList) VALUES ($qs)"
    Seq(sql -> (pkValues ++ setCols.map { case (_, i) => values(i) } ++ values))
  }
  def truncate(m: DbMapping): String = s"DELETE FROM ${tableName(m)}"
}

/** Generic JDBC (no native upsert): DELETE-by-PK + INSERT, idempotent. */
object DeleteInsertDialect extends SqlDialect {
  def upsert(m: DbMapping, cols: Seq[String], values: Seq[Any],
             pkValues: Seq[Any]): Seq[(String, Seq[Any])] = {
    val colList = cols.map(quote(_, m.escapeUpper)).mkString(", ")
    val qs = cols.map(_ => "?").mkString(", ")
    delete(m, pkValues) :+
      (s"INSERT INTO ${tableName(m)} ($colList) VALUES ($qs)" -> values)
  }
  def truncate(m: DbMapping): String =
    s"DELETE FROM ${tableName(m)}" // Derby lacks TRUNCATE in older modes; DELETE-all is equivalent here
}
