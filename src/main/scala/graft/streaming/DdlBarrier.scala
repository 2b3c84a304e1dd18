package graft.streaming

import graft.ddl.DdlParser
import graft.model.{CanalEvent, MappingConfig}
import graft.sink.{SchemaProbe, SqlDialect, PhoenixSqlDialect}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.sql.Connection

/**
 * DDL barrier semantics for the sync stream (SURVEY §7.4 risk 4): the
 * reference applies DDL inline, *before* queueing further DML
 * (`PhoenixSyncService.java:180-198`), so DDL acts as an ordering barrier on
 * its table. In a micro-batch engine the equivalent is: split each
 * micro-batch at DDL positions and apply the segments sequentially —
 * `[DML ≤ seq₁) ; DDL₁ ; [DML < seq₂) ; DDL₂ ; …`. A TRUNCATE is a split
 * point as well: hashed by its (absent) key into one PK partition it would
 * run while the other partitions still apply earlier rows.
 *
 * DDL application itself is driver-side (tiny): parse with [[DdlParser]]
 * (D1/D2), translate ADD/DROP to target DDL (`PhoenixSyncService.java:280-327`),
 * run over JDBC, invalidate the schema cache (S4 coherence), and run the D3
 * default backfill.
 */
object DdlBarrier {

  /** A split point of a table's micro-batch rows. A DDL statement runs
    * through `onDdl`; a `truncate` point is a TRUNCATE row that came as
    * DML (`isDdl=false`, no row image), applied through the sink as a
    * segment of its own. */
  final case class DdlEvent(seq: Long, sql: String, truncate: Boolean = false)

  /** Collect the batch's split points for a config's table, in order: its
    * DDL events and every TRUNCATE row, whatever its `isDdl` flag (the
    * batch fold treats TRUNCATE as a barrier too,
    * [[graft.cdc.CdcApply.afterLastTruncate]]). DDL is rare and tiny —
    * collecting to the driver is the right plan. */
  def ddlEvents(batch: DataFrame, config: MappingConfig): Seq[DdlEvent] = {
    val isDdl = coalesce(col("isDdl"), lit(false))
    batch.where((isDdl || col("type") === CanalEvent.Truncate) &&
        col("database") === config.dbMapping.database &&
        col("table") === config.dbMapping.table)
      .select(col("seq"), col("sql"), isDdl)
      .collect().toSeq
      .map(r => DdlEvent(r.getLong(0), r.getString(1), truncate = !r.getBoolean(2)))
      .sortBy(_.seq)
  }

  /** One entry of a table's split micro-batch: the rows whose `seq` lies
    * strictly between `after` and `before` (a missing bound is open) or,
    * for a TRUNCATE point, exactly the TRUNCATE row at `at` — applied after
    * `barrier`. The row test exists twice, as a column filter and as a
    * per-row check, and both read these bounds only. */
  private final case class Segment(barrier: Option[DdlEvent], after: Option[Long] = None,
                                   before: Option[Long] = None, at: Option[Long] = None) {
    /** The filter's verdict on a row at `seq` (None: a null `seq`). */
    def holds(seq: Option[Long]): Boolean =
      at.fold(after.forall(a => seq.exists(_ > a)) && before.forall(b => seq.exists(_ < b)))(
        a => seq.contains(a))

    def rows(routed: DataFrame): DataFrame = {
      val seq = col("seq")
      val bounds = at.map(seq === _).toSeq ++ after.map(seq > _) ++ before.map(seq < _)
      bounds.reduceOption(_ && _).fold(routed)(routed.where)
    }
  }

  /** The split of a table's rows at the split points, in apply order: a
    * DDL point's entry carries the rows after it; a `truncate` point's
    * entry carries just its TRUNCATE row, and the rows after it follow in
    * an entry of their own. */
  private def split(ddl: Seq[DdlEvent]): Seq[Segment] = {
    val bounds = ddl.map(_.seq)
    Segment(None, before = bounds.headOption) +: ddl.zipWithIndex.flatMap { case (d, i) =>
      val rest = Segment(None, after = Some(d.seq), before = bounds.lift(i + 1))
      if (d.truncate) Seq(Segment(Some(d), at = Some(d.seq)), rest)
      else Seq(rest.copy(barrier = Some(d)))
    }
  }

  /** Split the routed DML rows at the split points, in apply order: each
    * entry is (split point to apply first → rows up to the next point). */
  def segments(routed: DataFrame, ddl: Seq[DdlEvent]): Seq[(Option[DdlEvent], DataFrame)] =
    split(ddl).map(s => (s.barrier, s.rows(routed)))

  /** The distinct source columns (`data` map keys) of each of
    * [[segments]]`(routed, ddl)`'s entries, in the same order, from one
    * shuffle-free job: each partition folds its rows into per-entry key
    * sets, merged on the driver. */
  def sourceCols(routed: DataFrame, ddl: Seq[DdlEvent]): Seq[Seq[String]] = {
    val segs = split(ddl)
    val partials = routed.select(col("seq"), map_keys(col("data"))).rdd.mapPartitions { rows =>
      val keys = Array.fill(segs.size)(Set.empty[String])
      rows.foreach { r =>
        val seq = if (r.isNullAt(0)) None else Some(r.getLong(0))
        val i = segs.indexWhere(_.holds(seq))
        if (i >= 0 && !r.isNullAt(1)) keys(i) ++= r.getSeq[String](1)
      }
      Iterator.single(keys.toSeq)
    }.collect()
    partials.foldLeft(Seq.fill(segs.size)(Set.empty[String]))((a, b) => a.zip(b).map {
      case (x, y) => x ++ y
    }).map(_.toSeq.sorted)
  }

  /**
   * Apply one DDL event to the target (D1/D2/D3) and invalidate the schema
   * cache. Mirrors the reference's mapping: ADD → `ALTER TABLE … ADD IF NOT
   * EXISTS` (+ default backfill), DROP → `ALTER TABLE … DROP COLUMN IF
   * EXISTS` (only when `drop: true`), with `mapAll`/exclusion honored
   * (`PhoenixSyncService.java:280-327`).
   */
  def applyDdl(config: MappingConfig, event: DdlEvent, conn: () => Connection,
               dialect: SqlDialect = PhoenixSqlDialect,
               notify: Option[MappingConfig => Unit] = None): Seq[String] = {
    val stmts = ddlStatements(config, event, dialect)
    if (stmts.nonEmpty) {
      val c = conn()
      try {
        val st = c.createStatement()
        try stmts.foreach(st.execute) finally st.close()
      } finally c.close()
      SchemaProbe.invalidate(config.destination, config.dbMapping) // S4 cache coherence
      notify.foreach(_(config)) // X4 change-notification
    }
    stmts
  }

  /** Pure statement generation for one DDL event (golden-testable). */
  def ddlStatements(config: MappingConfig, event: DdlEvent,
                    dialect: SqlDialect = PhoenixSqlDialect): Seq[String] = {
    val m = config.dbMapping
    val (_, ops) = DdlParser.parse(event.sql)
    val esc = (s: String) => dialect.quote(s, m.escapeUpper)
    ops.flatMap {
      case DdlParser.AddColumn(c, typ, _, default) if m.mapAll && !m.isExcluded(c) =>
        val t = graft.model.TypeMapping.map(typ, m.limit).targetDdl
        val add = s"ALTER TABLE ${dialect.tableName(m)} ADD IF NOT EXISTS ${esc(c)} $t"
        val backfill = default.map(d =>
          graft.ddl.SchemaEvolution.backfillSql(m, c, typ, d))
        add +: backfill.toSeq
      case DdlParser.DropColumn(c) if m.drop =>
        Seq(s"ALTER TABLE ${dialect.tableName(m)} DROP COLUMN IF EXISTS ${esc(c)}")
      case DdlParser.TruncateTable(_) =>
        Seq(dialect.truncate(m))
      case _ => Seq.empty
    }
  }
}
