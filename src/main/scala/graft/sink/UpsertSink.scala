package graft.sink

import graft.model.DbMapping
import org.apache.spark.sql.{DataFrame, Row}
// dialects: PhoenixSqlDialect (native UPSERT) | DeleteInsertDialect (generic)

import java.sql.Connection

/**
 * K1–K5 — the JDBC upsert/delete/truncate sink (reference
 * `service/PhoenixSyncService.java:370-513` sync path,
 * `service/PhoenixEtlService.java:348-482` bulk path).
 *
 * Architecture: rows are routed with [[graft.cdc.PkHash]] (same-key →
 * same-partition, per-key order restored by a local sort), then each
 * partition opens one connection and applies its rows *sequentially* through
 * a [[BatchExecutor]] — the Spark analog of the reference's N single-thread
 * workers. D5 self-heal (schema-miss retry) wraps the partition body: on
 * `ColumnNotFound`/`TableNotFound`-style failures the supplied `heal`
 * callback runs (schema sync) and the partition batch replays once
 * (`PhoenixSyncService.java:103-131`) — safe because UPSERT/DELETE-by-PK are
 * idempotent (at-least-once, SURVEY §7.4 risk 5).
 *
 * `connFactory` must be serializable-friendly (a function creating the
 * connection *on the executor*); no connection ever crosses the driver
 * boundary.
 */
object UpsertSink {

  final case class RowOp(op: String, values: Seq[Any], pkValues: Seq[Any])

  /** Names whose presence in an exception chain triggers self-heal
    * (`PhoenixSyncService.java:107-119` checks cause suffixes). */
  private def isSchemaMiss(t: Throwable): Boolean = {
    var cur = t
    while (cur != null) {
      val n = cur.getClass.getSimpleName
      if (n.endsWith("ColumnNotFoundException") || n.endsWith("TableNotFoundException")) return true
      val msg = Option(cur.getMessage).getOrElse("")
      if (msg.contains("ColumnNotFound") || msg.contains("TableNotFound")) return true
      cur = cur.getCause
    }
    false
  }

  /**
   * Apply a partition of ordered ops: one connection and one final commit
   * (plus a commit every `commitBatch` statements), none at all for an
   * empty partition. Exposed separately so semantics are unit-testable
   * against any JDBC-ish target.
   */
  def applyPartition(ops: Iterator[RowOp], mapping: DbMapping, targetCols: Seq[String],
                     conn: () => Connection,
                     heal: Option[Throwable => Unit] = None,
                     dialect: SqlDialect = PhoenixSqlDialect): Unit = {
    val buffered = ops.toSeq // partition batch must be replayable for D5
    if (buffered.isEmpty) return // an empty partition opens no connection
    def run(): Unit = {
      val exec = new BatchExecutor(conn(), mapping.commitBatch)
      try {
        buffered.foreach {
          case RowOp("DELETE", _, pkVals) =>
            exec.addOp(pkVals, dialect.delete(mapping, pkVals))
          case RowOp("TRUNCATE", _, _) => exec.executeDirect(dialect.truncate(mapping))
          case RowOp(_, values, pkVals) => // INSERT/UPDATE → UPSERT (K1)
            exec.addOp(pkVals, dialect.upsert(mapping, targetCols, values, pkVals))
        }
        exec.commit()
      } catch {
        case t: Throwable => exec.rollback(); throw t
      } finally exec.close()
    }
    try run()
    catch {
      case t: Throwable if heal.isDefined && isSchemaMiss(t) =>
        heal.get.apply(t) // D4 schema sync
        run()             // single replay (PhoenixSyncService.java:121-127)
    }
  }

  /**
   * Sink a materialized DataFrame (ETL path K5): every row becomes an UPSERT.
   * The reference's per-row DELETE-then-UPSERT (`PhoenixEtlService.java:409-420`)
   * is unnecessary when the PK is stable — UPSERT alone is idempotent
   * (SURVEY §2.1 K5 note).
   *
   * Returns the number of rows applied (accumulator-summed across
   * partitions — the reference's per-table success count,
   * `PhoenixAdapter.java:191-205`). `debug` logs every row before applying
   * (reference `_debug` etl param, `PhoenixEtlService.java:233-236`).
   */
  def writeUpserts(df: DataFrame, mapping: DbMapping, connFactory: () => Connection,
                   numPartitions: Int = 0,
                   dialect: SqlDialect = PhoenixSqlDialect,
                   debug: Boolean = false): Long = {
    val cols = df.columns.toSeq
    // case-insensitive, fail-fast: consistent with applyBatchToJdbc's lookup;
    // a -1 here would otherwise crash opaquely inside foreachPartition
    val pkIdx = mapping.targetPk.keys.toSeq.sorted.map { p =>
      val i = cols.indexWhere(_.equalsIgnoreCase(p))
      require(i >= 0, s"target PK column '$p' not found in DataFrame columns " +
        s"(${cols.mkString(", ")})")
      i
    }
    val applied = df.sparkSession.sparkContext.longAccumulator("graft.upserts.applied")
    val routed = if (numPartitions > 0) df.repartition(numPartitions) else df
    routed.foreachPartition { (rows: Iterator[Row]) =>
      val log = if (debug) org.slf4j.LoggerFactory.getLogger("graft.sink.UpsertSink") else null
      var n = 0L
      val ops = rows.map { r =>
        n += 1
        val vals = cols.indices.map(r.get)
        if (debug) log.info(s"etl row ${cols.zip(vals).map { case (c, v) => s"$c=$v" }.mkString(", ")}")
        RowOp("INSERT", vals, pkIdx.map(r.get))
      }
      applyPartition(ops, mapping, cols, connFactory, dialect = dialect)
      applied.add(n) // ops fully consumed by applyPartition's buffering
    }
    applied.value
  }
}
