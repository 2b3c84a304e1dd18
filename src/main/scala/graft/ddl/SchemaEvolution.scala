package graft.ddl

import graft.model.{DbMapping, TypeMapping}
import graft.sink.PhoenixDialect
import org.apache.spark.sql.types.StructType

/**
 * D3/D4/D5 — schema diff & evolution (reference
 * `service/PhoenixEtlService.java:86-172` `syncSchema`): compare the source
 * schema (MySQL `INFORMATION_SCHEMA.COLUMNS`) against the live target
 * schema; emit `CREATE TABLE` with a PK constraint when the target is
 * missing, else `ALTER TABLE … ADD` for missing columns; after an ADD with a
 * DEFAULT, backfill existing rows with an `UPSERT … SELECT` self-scan
 * (`PhoenixSyncService.java:334-361`). All statements are IF [NOT] EXISTS
 * guarded so at-least-once replay is safe (`:288,310`; SURVEY §7.4 risk 5).
 *
 * Driver-side plain Scala — no Catalyst involvement; statements are
 * golden-testable strings.
 */
object SchemaEvolution {

  /** One source column as read from INFORMATION_SCHEMA.COLUMNS
    * (`PhoenixEtlService.java:110-137` field usage). */
  final case class SourceColumn(name: String, columnType: String,
                                isPk: Boolean, nullable: Boolean,
                                default: Option[String])

  final case class Plan(createTable: Option[String], addColumns: Seq[String],
                        backfills: Seq[String])

  /**
   * Diff source columns vs the target's current columns (lowercased names —
   * the reference lowercases probe keys, `PhoenixSyncService.java:539`) and
   * produce the DDL plan. `targetCols` empty ⇒ CREATE.
   */
  def plan(mapping: DbMapping, source: Seq[SourceColumn],
           targetCols: Set[String]): Plan = {
    val esc = (s: String) => PhoenixDialect.escape(s, mapping.escapeUpper)
    val mapped = source.filterNot(c => mapping.isExcluded(c.name))
    if (targetCols.isEmpty) {
      val colDefs = mapped.map { c =>
        val t = TypeMapping.map(c.columnType, mapping.limit).targetDdl
        val nn = if (!c.nullable && !c.isPk) " NOT NULL" else ""
        s"${esc(c.name)} $t$nn"
      }
      val pks = mapped.filter(_.isPk).map(c => esc(c.name))
      val pkClause =
        if (pks.nonEmpty) s", CONSTRAINT pk PRIMARY KEY (${pks.mkString(", ")})" else ""
      Plan(
        createTable = Some(
          s"CREATE TABLE IF NOT EXISTS ${PhoenixDialect.tableName(mapping)} " +
            s"(${colDefs.mkString(", ")}$pkClause)"),
        addColumns = Seq.empty, backfills = Seq.empty)
    } else {
      val missing = mapped.filterNot(c => targetCols.contains(c.name.toLowerCase))
      val adds = missing.map { c =>
        val t = TypeMapping.map(c.columnType, mapping.limit).targetDdl
        s"ALTER TABLE ${PhoenixDialect.tableName(mapping)} ADD IF NOT EXISTS ${esc(c.name)} $t"
      }
      val backfills = missing.flatMap { c =>
        c.default.map(d => backfillSql(mapping, c.name, c.columnType, d))
      }
      Plan(None, adds, backfills)
    }
  }

  /** D3 — default-value backfill: stamp the default onto all existing rows
    * target-side (`PhoenixSyncService.java:334-361`) — cheaper than a
    * round-trip through Spark since it's a single remote self-scan. The
    * default is rendered by the MySQL column type: a number (or boolean)
    * literal on a numeric or boolean column stays bare, anything else is a
    * quoted string with `'` doubled. */
  def backfillSql(mapping: DbMapping, column: String, mysqlType: String,
                  default: String): String = {
    import org.apache.spark.sql.types.{BooleanType, NumericType}
    val esc = (s: String) => PhoenixDialect.escape(s, mapping.escapeUpper)
    val pks = mapping.targetPk.keys.toSeq.sorted.map(esc)
    val t = PhoenixDialect.tableName(mapping)
    val bare = TypeMapping.map(mysqlType, limit = false).spark match {
      case _: NumericType => default.matches("[-+]?(\\d+\\.?\\d*|\\.\\d+)([eE][-+]?\\d+)?")
      case BooleanType => default.matches("(?i)true|false|[01]")
      case _ => false
    }
    val lit = if (bare) default else "'" + default.replace("'", "''") + "'"
    s"UPSERT INTO $t (${(pks :+ esc(column)).mkString(", ")}) " +
      s"SELECT ${(pks :+ lit).mkString(", ")} FROM $t"
  }

  /** Plan from a Spark `StructType` (our engine's native schema source, e.g.
    * a parquet-backed source replacing the MySQL INFORMATION_SCHEMA). */
  def planFromSpark(mapping: DbMapping, schema: StructType, pkCols: Set[String],
                    targetCols: Set[String]): Plan = {
    val src = schema.fields.toSeq.map { f =>
      SourceColumn(f.name, sparkTypeToMysql(f.dataType), pkCols.contains(f.name),
        f.nullable, None)
    }
    plan(mapping, src, targetCols)
  }

  private def sparkTypeToMysql(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => "boolean"
      case ByteType => "tinyint"
      case ShortType => "smallint"
      case IntegerType => "int"
      case LongType => "bigint"
      case FloatType => "float"
      case DoubleType => "double"
      case d: DecimalType => s"decimal(${d.precision},${d.scale})"
      case DateType => "date"
      case TimestampType => "datetime"
      case BinaryType => "blob"
      case _ => "varchar"
    }
  }
}
