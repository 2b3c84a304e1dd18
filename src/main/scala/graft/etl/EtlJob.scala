package graft.etl

import graft.model.MappingConfig
import graft.sink.UpsertSink
import graft.transform.{ColumnMapper, Conditions, EnumDecode}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.sql.Connection
import java.util.Properties

/**
 * S2/P1/X3/A1 — the bulk-import path (reference
 * `service/PhoenixEtlService.java:220-308` `importData` +
 * `PhoenixAdapter.java:162-255` etl/count endpoints), Spark-first:
 *
 *  - the reference's manual 3-thread `LIMIT offset,size` pagination (P1,
 *    `:264-287`) is replaced by a *partitioned* source read — for JDBC,
 *    `partitionColumn/lowerBound/upperBound/numPartitions` (range predicates,
 *    no O(n²) OFFSET rescans); for files, Spark's split planning. The 10k-row
 *    threshold heuristic (`:265`) becomes unnecessary: partitioned reads are
 *    cheap for small inputs too.
 *  - conditions (F1/F2) and projection (T2) are Catalyst filters/projects,
 *    so pushdown/pruning reach the scan (the reference always scans
 *    `SELECT *`, `:243-244`). For a JDBC source the filter lands in the
 *    remote `WHERE` clause (`PushedFilters` on the JDBCRelation scan).
 */
object EtlJob {

  /** Import outcome (reference `EtlResult`): `importedCount` mirrors the
    * per-table success counts the reference reports
    * (`PhoenixAdapter.java:191-205`). */
  final case class EtlResult(succeeded: Boolean, resultMessage: String,
                             errorMessage: Option[String] = None,
                             importedCount: Long = 0L)

  /** Where an import reads from. The reference only reads JDBC
    * (`PhoenixEtlService.java:243-247`); parquet is the in-engine test
    * corpus — both flow through identical downstream code. */
  sealed trait EtlSource
  object EtlSource {
    final case class Parquet(path: String) extends EtlSource

    /** Columnar ORC — same split-planned parallel scan and predicate
      * pushdown/column pruning as parquet (SURVEY §2.3 built-in formats). */
    final case class Orc(path: String) extends EtlSource

    /** Delimited text with an optional explicit schema (inferSchema scans
      * the file twice — pass `schemaDdl` at scale). */
    final case class Csv(path: String, header: Boolean = true,
                         delimiter: String = ",", schemaDdl: String = null) extends EtlSource

    /** JSON-lines with an optional explicit schema (schema inference scans
      * the file twice — pass `schemaDdl` at scale). */
    final case class Json(path: String, schemaDdl: String = null) extends EtlSource

    /**
     * Partitioned JDBC read (P1). With `partitionColumn` + `numPartitions`,
     * the bounds are probed from the remote table when not supplied (one
     * `MIN/MAX` statement — the Spark analog of the reference's row-count
     * probe that decides its thread split, `PhoenixEtlService.java:264-287`)
     * and the scan issues `numPartitions` parallel range queries.
     */
    final case class Jdbc(url: String, table: String,
                          partitionColumn: String = null,
                          numPartitions: Int = 0,
                          lowerBound: Option[Long] = None,
                          upperBound: Option[Long] = None,
                          props: Properties = new Properties()) extends EtlSource
  }

  /** Read the source (parquet corpus convenience overload). */
  def readSource(spark: SparkSession, path: String): DataFrame =
    readSource(spark, EtlSource.Parquet(path))

  /** Read the source. JDBC sources with a partition column become parallel
    * range scans; bounds are auto-probed when absent. An empty or
    * single-value partition column degrades to an unpartitioned read. */
  def readSource(spark: SparkSession, source: EtlSource): DataFrame = source match {
    case EtlSource.Parquet(p) => spark.read.parquet(p)
    case EtlSource.Orc(p) => spark.read.orc(p)
    case EtlSource.Csv(p, header, delim, ddl) =>
      val r = spark.read.option("header", header.toString).option("delimiter", delim)
      (if (ddl != null) r.schema(ddl) else r.option("inferSchema", "true")).csv(p)
    case EtlSource.Json(p, ddl) =>
      val r = spark.read
      (if (ddl != null) r.schema(ddl) else r).json(p)
    case j: EtlSource.Jdbc if j.partitionColumn != null && j.numPartitions > 1 =>
      val bounds = (j.lowerBound, j.upperBound) match {
        case (Some(l), Some(u)) => Some((l, u))
        case _ => probeBounds(j)
      }
      bounds match {
        case Some((lb, ub)) if lb < ub =>
          spark.read.jdbc(j.url, j.table, j.partitionColumn, lb, ub, j.numPartitions, j.props)
        case _ => spark.read.jdbc(j.url, j.table, j.props)
      }
    case j: EtlSource.Jdbc => spark.read.jdbc(j.url, j.table, j.props)
  }

  /** One driver-side `SELECT MIN(c), MAX(c)` over the source connection —
    * rows never cross the driver; only the two bounds do. Plain column names
    * are ANSI-quoted (case-exact — sources created by Spark carry quoted
    * lowercase identifiers); pre-quoted/expression columns pass verbatim. */
  private def probeBounds(j: EtlSource.Jdbc): Option[(Long, Long)] = {
    require(j.partitionColumn.nonEmpty,
      s"Jdbc source for ${j.table}: partitionColumn must be non-empty when numPartitions > 1")
    val c =
      if (j.partitionColumn.forall(ch => ch.isLetterOrDigit || ch == '_'))
        "\"" + j.partitionColumn + "\""
      else j.partitionColumn
    try {
      val conn = java.sql.DriverManager.getConnection(j.url, j.props)
      try {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT MIN($c), MAX($c) FROM ${j.table}")
          if (rs.next()) {
            val lo = rs.getLong(1); val loNull = rs.wasNull()
            val hi = rs.getLong(2); val hiNull = rs.wasNull()
            if (loNull || hiNull) None else Some((lo, hi))
          } else None
        } finally st.close()
      } finally conn.close()
    } catch {
      case e: java.sql.SQLException =>
        // a non-numeric partition column surfaces here as an opaque cast/SQL
        // error — name the column and the requirement instead
        throw new IllegalArgumentException(
          s"MIN/MAX bounds probe failed for partition column '${j.partitionColumn}' on " +
            s"${j.table} — the JDBC partition column must exist and be numeric " +
            s"(or pass lowerBound/upperBound explicitly): ${e.getMessage}", e)
    }
  }

  /** The transform stage of the import: condition → projection → enum
    * decode. Kept separate from the sink for testability and reuse by the
    * sync path. */
  def transform(src: DataFrame, config: MappingConfig, params: Seq[String]): DataFrame = {
    val m = config.dbMapping
    val conditioned =
      if (m.etlCondition != null) Conditions.templated(src, m.etlCondition, params)
      else Conditions.incremental(src, params)
    val projected = ColumnMapper.project(conditioned, m)
    EnumDecode.decodeAll(projected, m.enumColumns)
  }

  /** Full import of one config from the parquet corpus (§3.2 lifecycle). */
  def importOne(spark: SparkSession, config: MappingConfig, sourcePath: String,
                params: Seq[String], connFactory: () => Connection,
                numPartitions: Int = 0,
                dialect: graft.sink.SqlDialect = graft.sink.PhoenixSqlDialect): EtlResult =
    importSource(spark, config, EtlSource.Parquet(sourcePath), params, connFactory,
      numPartitions, dialect)

  /**
   * Full import of one config from any source. `config.debug` enables
   * per-row logging in the sink (reference `_debug` etl param,
   * `PhoenixEtlService.java:233-236`); `readBatch` becomes the JDBC fetch
   * size (reference read batch, `MappingConfig.java:115`).
   */
  def importSource(spark: SparkSession, config: MappingConfig, source: EtlSource,
                   params: Seq[String], connFactory: () => Connection,
                   numPartitions: Int = 0,
                   dialect: graft.sink.SqlDialect = graft.sink.PhoenixSqlDialect): EtlResult = {
    try {
      val sized = source match {
        case j: EtlSource.Jdbc if !j.props.containsKey("fetchsize") =>
          val p = new Properties()
          p.putAll(j.props)
          p.setProperty("fetchsize", config.dbMapping.readBatch.toString)
          j.copy(props = p)
        case s => s
      }
      val out = transform(readSource(spark, sized), config, params)
      val n = UpsertSink.writeUpserts(out, config.dbMapping, connFactory, numPartitions,
        dialect, debug = config.debug)
      EtlResult(succeeded = true,
        s"imported $n rows into ${config.dbMapping.targetTable}", importedCount = n)
    } catch {
      case t: Throwable =>
        EtlResult(succeeded = false, "import failed", Some(t.toString))
    }
  }

  /**
   * X3 — task orchestration (`PhoenixAdapter.java:162-207`): run one config
   * by name, or fan out over all configs whose `destination == task`,
   * aggregating per-table results (with counts).
   *
   * The fan-out imports different target tables concurrently, one chain per
   * `dbMapping.targetTable` on a thread made for this call
   * ([[graft.Chains.run]]), so their planning and Spark jobs overlap;
   * configs sharing a target table import one after another, in config
   * order. Fresh threads carry the caller's Spark local properties (job
   * group, scheduler pool) into every import. Results keep the order of the
   * selected configs.
   */
  def etl(spark: SparkSession, task: String, configs: Map[String, MappingConfig],
          params: Seq[String], sourceFor: MappingConfig => EtlSource,
          connFactory: () => Connection,
          dialect: graft.sink.SqlDialect = graft.sink.PhoenixSqlDialect): Seq[EtlResult] = {
    val selected = configs.get(task).map(Seq(_)).getOrElse(
      configs.values.filter(_.destination == task).toSeq)
    val results = new Array[EtlResult](selected.size)
    graft.Chains.run(
      graft.Chains.byKey(selected.zipWithIndex)(_._1.dbMapping.targetTable).map { chain =>
        () => chain.foreach { case (c, i) =>
          results(i) = importSource(spark, c, sourceFor(c), params, connFactory,
            dialect = dialect)
        }
      })
    results.toSeq
  }

  /** A1 — count endpoint (`PhoenixAdapter.java:216-255`). Against a remote
    * JDBC target the raw statement is cheaper than a Spark job (SURVEY §3.3);
    * against in-engine tables it's `df.count()` (partial+final aggregate). */
  def count(df: DataFrame): Long = df.count()
}
