package graft.ddl

import graft.model.DbMapping
import org.scalatest.funsuite.AnyFunSuite

class DdlSpec extends AnyFunSuite {
  import DdlParser._

  test("ADD COLUMN with type, default, not null") {
    val (t, ops) = parse("ALTER TABLE user ADD COLUMN age INT DEFAULT 18")
    assert(t == "user" && ops == Seq(AddColumn("age", "INT", notNull = false, Some("18"))))
    val (_, ops2) = parse("ALTER TABLE `user` ADD gender ENUM('M','F') NOT NULL")
    assert(ops2 == Seq(AddColumn("gender", "ENUM", notNull = true, None)))
    val (_, ops3) = parse("alter table db.t add column score decimal(10,2) default '0.5'")
    assert(ops3 == Seq(AddColumn("score", "decimal(10,2)", notNull = false, Some("0.5"))))
  }

  test("DROP COLUMN and multi-item ALTER") {
    val (_, ops) = parse("ALTER TABLE user DROP COLUMN age")
    assert(ops == Seq(DropColumn("age")))
    val (_, ops2) = parse("ALTER TABLE user ADD a INT, DROP COLUMN b, ADD c VARCHAR(10)")
    assert(ops2 == Seq(AddColumn("a", "INT", notNull = false, None), DropColumn("b"),
      AddColumn("c", "VARCHAR(10)", notNull = false, None)))
  }

  test("TRUNCATE and unsupported DDL") {
    assert(parse("TRUNCATE TABLE mytest.user")._2 == Seq(TruncateTable("mytest.user")))
    assert(parse("CREATE INDEX i ON t(c)")._2.isEmpty)
    assert(parse("DROP TABLE t")._2.isEmpty)
  }

  val mapping: DbMapping = DbMapping("mytest", "user", "MYTEST2.USER",
    targetPk = Map("id" -> "id"), excludeColumns = Set("password"))
  val source = Seq(
    SchemaEvolution.SourceColumn("id", "bigint", isPk = true, nullable = false, None),
    SchemaEvolution.SourceColumn("name", "varchar(64)", isPk = false, nullable = false, None),
    SchemaEvolution.SourceColumn("age", "int", isPk = false, nullable = true, Some("18")),
    SchemaEvolution.SourceColumn("password", "varchar(64)", isPk = false, nullable = true, None))

  test("D4 CREATE with PK constraint, NOT NULL, excluded columns dropped") {
    val p = SchemaEvolution.plan(mapping, source, Set.empty)
    assert(p.createTable.contains(
      """CREATE TABLE IF NOT EXISTS "MYTEST2"."USER" ("ID" BIGINT, "NAME" VARCHAR NOT NULL, "AGE" INTEGER, CONSTRAINT pk PRIMARY KEY ("ID"))"""))
    assert(p.addColumns.isEmpty && p.backfills.isEmpty)
  }

  test("D4 ALTER ADD for missing columns + D3 default backfill") {
    val p = SchemaEvolution.plan(mapping, source, Set("id", "name"))
    assert(p.createTable.isEmpty)
    assert(p.addColumns ==
      Seq("""ALTER TABLE "MYTEST2"."USER" ADD IF NOT EXISTS "AGE" INTEGER"""))
    assert(p.backfills == Seq(
      """UPSERT INTO "MYTEST2"."USER" ("ID", "AGE") SELECT "ID", 18 FROM "MYTEST2"."USER""""))
  }

  test("D4 no-op when target has all mapped columns") {
    val p = SchemaEvolution.plan(mapping, source, Set("id", "name", "age"))
    assert(p.createTable.isEmpty && p.addColumns.isEmpty && p.backfills.isEmpty)
  }

  test("D3 DEFAULT renders by column type: '' and '1' quoted, NULL not backfilled, quotes escaped") {
    assert(parse("ALTER TABLE user ADD COLUMN nick VARCHAR(16) NOT NULL DEFAULT ''")._2 ==
      Seq(AddColumn("nick", "VARCHAR(16)", notNull = true, Some(""))))
    assert(parse("ALTER TABLE user ADD COLUMN note VARCHAR(16) DEFAULT NULL")._2 ==
      Seq(AddColumn("note", "VARCHAR(16)", notNull = false, None)))
    assert(parse("ALTER TABLE user ADD COLUMN q VARCHAR(16) DEFAULT 'it''s'")._2 ==
      Seq(AddColumn("q", "VARCHAR(16)", notNull = false, Some("it's"))))
    val added = Seq(
      SchemaEvolution.SourceColumn("nick", "varchar(16)", isPk = false, nullable = false, Some("")),
      SchemaEvolution.SourceColumn("code", "varchar(4)", isPk = false, nullable = true, Some("1")),
      SchemaEvolution.SourceColumn("q", "varchar(16)", isPk = false, nullable = true, Some("it's")),
      SchemaEvolution.SourceColumn("ratio", "decimal(10,2)", isPk = false, nullable = true, Some("-0.5")))
    val p = SchemaEvolution.plan(mapping, source ++ added, Set("id", "name", "age"))
    def upsert(c: String, v: String) =
      s"""UPSERT INTO "MYTEST2"."USER" ("ID", "$c") SELECT "ID", $v FROM "MYTEST2"."USER""""
    assert(p.backfills == Seq(upsert("NICK", "''"), upsert("CODE", "'1'"),
      upsert("Q", "'it''s'"), upsert("RATIO", "-0.5")))
  }

  test("D4 limit=true keeps varchar lengths") {
    val p = SchemaEvolution.plan(mapping.copy(limit = true), source, Set.empty)
    assert(p.createTable.get.contains(""""NAME" VARCHAR(64) NOT NULL"""))
  }
}
