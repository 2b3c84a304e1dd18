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
 * partition opens one connection and streams its rows *sequentially*
 * through a [[BatchExecutor]] — the Spark analog of the reference's N
 * single-thread workers. A partition is read once and never buffered, so
 * sink memory is bounded by the open JDBC window (at most `commitBatch`
 * statements), not by partition size. D5 self-heal lives on the driver
 * ([[graft.streaming.CanalStream.applyBatchToJdbc]] replays the whole
 * segment after a schema miss; [[isSchemaMiss]] is its detector).
 *
 * `connFactory` must be serializable-friendly (a function creating the
 * connection *on the executor*); no connection ever crosses the driver
 * boundary.
 */
object UpsertSink {

  final case class RowOp(op: String, values: Seq[Any], pkValues: Seq[Any])

  /** Names whose presence in an exception chain triggers self-heal
    * (`PhoenixSyncService.java:107-119` checks cause suffixes). */
  private[graft] def isSchemaMiss(t: Throwable): Boolean = {
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
   * Apply a partition of ordered ops as they are read: one connection and
   * one final commit (plus a commit every `commitBatch` statements), none
   * at all for an empty partition. On failure the open transaction rolls
   * back and the apply's own error is thrown, with any rollback/close
   * failure attached as suppressed. Exposed separately so semantics are
   * unit-testable against any JDBC-ish target.
   */
  def applyPartition(ops: Iterator[RowOp], mapping: DbMapping, targetCols: Seq[String],
                     conn: () => Connection,
                     dialect: SqlDialect = PhoenixSqlDialect): Unit = {
    if (!ops.hasNext) return // an empty partition opens no connection
    val exec = new BatchExecutor(conn(), mapping.commitBatch)
    try {
      ops.foreach {
        case RowOp("DELETE", _, pkVals) =>
          exec.addOp(pkVals, dialect.delete(mapping, pkVals))
        case RowOp("TRUNCATE", _, _) => exec.executeDirect(dialect.truncate(mapping))
        case RowOp(_, values, pkVals) => // INSERT/UPDATE → UPSERT (K1)
          exec.addOp(pkVals, dialect.upsert(mapping, targetCols, values, pkVals))
      }
      exec.commit()
    } catch {
      case t: Throwable =>
        BatchExecutor.suppressing(t)(exec.rollback())
        BatchExecutor.suppressing(t)(exec.close())
        throw t
    }
    exec.close()
  }

  /**
   * Apply `df` to the target, one [[applyPartition]] per partition — the
   * one partition job of the CDC and ETL paths. `df`'s columns are the op
   * name (when `withOp`; else every row is an INSERT) followed by the
   * values of `cols`; the target PK columns resolve among `cols`
   * case-insensitively, failing fast when absent. `onRow` sees each row as
   * it is applied.
   */
  private[graft] def applyRows(df: DataFrame, withOp: Boolean, cols: Seq[String],
                               mapping: DbMapping, connFactory: () => Connection,
                               dialect: SqlDialect, onRow: Row => Unit = _ => ()): Unit = {
    val off = if (withOp) 1 else 0
    val pkIdx = mapping.targetPk.keys.toSeq.sorted.map { p =>
      val i = cols.indexWhere(_.equalsIgnoreCase(p))
      // a -1 here would otherwise crash opaquely inside the partition job
      require(i >= 0, s"target PK column '$p' not found among (${cols.mkString(", ")})")
      i + off
    }
    val valIdx = cols.indices.map(_ + off)
    df.foreachPartition { (rows: Iterator[Row]) =>
      val ops = rows.map { r =>
        onRow(r)
        RowOp(if (withOp) r.getString(0) else "INSERT", valIdx.map(r.get), pkIdx.map(r.get))
      }
      applyPartition(ops, mapping, cols, connFactory, dialect)
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
    val applied = df.sparkSession.sparkContext.longAccumulator("graft.upserts.applied")
    val routed = if (numPartitions > 0) df.repartition(numPartitions) else df
    applyRows(routed, withOp = false, cols, mapping, connFactory, dialect, { r =>
      applied.add(1)
      if (debug) org.slf4j.LoggerFactory.getLogger("graft.sink.UpsertSink")
        .info(s"etl row ${cols.zip(r.toSeq).map { case (c, v) => s"$c=$v" }.mkString(", ")}")
    })
    applied.value
  }
}
