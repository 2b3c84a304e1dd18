package graft.ddl

/**
 * D1/D2 — minimal MySQL DDL parser for the statements the reference replays
 * (`service/PhoenixSyncService.java:180-198` parses incoming DDL with
 * Druid's MySQL parser and handles exactly `ALTER TABLE … ADD COLUMN` and
 * `… DROP COLUMN`; everything else is ignored). Druid isn't available (and a
 * full SQL parser is overkill for two statement shapes), so this is a small
 * hand parser — SURVEY §7.3 "custom non-Catalyst code".
 */
object DdlParser {

  sealed trait DdlOp { def column: String }
  /** `ADD [COLUMN] name type [NOT NULL] [DEFAULT expr]`
    * (reference handles default-expr capture at `:298-327`). `default` is
    * the literal's value — quotes stripped, `''` unescaped; `DEFAULT NULL`
    * is no default (there is nothing to backfill). */
  final case class AddColumn(column: String, mysqlType: String,
                             notNull: Boolean, default: Option[String]) extends DdlOp
  /** `DROP [COLUMN] name` (`:280-297`). */
  final case class DropColumn(column: String) extends DdlOp
  /** `TRUNCATE TABLE t`. */
  final case class TruncateTable(table: String) extends DdlOp { def column = "" }

  private val alterRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+(.*)""".r
  private val addRe =
    """(?is)ADD\s+(?:COLUMN\s+)?[`"]?(\w+)[`"]?\s+([a-zA-Z]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\s+unsigned)?)(.*)""".r
  private val dropRe =
    """(?is)DROP\s+(?:COLUMN\s+)?[`"]?(\w+)[`"]?\s*""".r
  private val defaultRe =
    """(?is).*\bDEFAULT\s+('(?:[^']|'')*'|\S+).*""".r
  private val truncRe =
    """(?is)\s*TRUNCATE\s+(?:TABLE\s+)?[`"]?([\w.]+)[`"]?\s*""".r

  def unquote(id: String): String = id.replaceAll("[`\"]", "")

  /** Parse one DDL statement → (table, ops); unsupported DDL → empty ops
    * (the reference silently skips non-ALTER items too). */
  def parse(sql: String): (String, Seq[DdlOp]) = sql match {
    case truncRe(table) => (unquote(table), Seq(TruncateTable(unquote(table))))
    case alterRe(table, body) =>
      // split comma-separated alter items at top level (no nested parens in our shapes)
      val items = splitTopLevel(body)
      val ops = items.flatMap {
        case addRe(name, typ, rest) =>
          val default = rest match {
            case defaultRe(d) if d.startsWith("'") =>
              Some(d.substring(1, d.length - 1).replace("''", "'"))
            case defaultRe(d) if !d.equalsIgnoreCase("NULL") => Some(d)
            case _ => None
          }
          val notNull = "(?is).*\\bNOT\\s+NULL\\b.*".r.matches(rest)
          Some(AddColumn(unquote(name), typ.trim, notNull, default))
        case dropRe(name) => Some(DropColumn(unquote(name)))
        case _ => None
      }
      (unquote(table), ops)
    case _ => ("", Seq.empty)
  }

  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }
}
