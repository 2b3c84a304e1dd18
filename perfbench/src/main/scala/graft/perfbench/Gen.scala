package graft.perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/**
 * Seeded input generators. Everything a run reads is written here, before
 * any timer starts, from `seed` alone: the same seed gives byte-identical
 * files (checked by the self-test).
 *
 * The corpus tables follow the schemas of the engine's sf corpus
 * (TESTDATA.md): a TPC-H-like star plus `events`, `documents` (word text
 * with appended-suffix near copies) and `embeddings` (64-d, clustered by
 * label). Row counts scale with `sf` as in that corpus (sf 0.1 has 150,000
 * orders).
 */
object Gen {
  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  private val Vocab: Array[String] = ("join hash row batch scan customer column filter small slow merge " +
    "order vector line data table agg value key stream window spark a group part big sort " +
    "query fast the").split(" ")

  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val Day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400L

  /** Write `rows` as `<dir>/<name>.parquet` in `files` parquet files. */
  private def write(spark: SparkSession, dir: Path, name: String, schema: StructType,
                    rows: Seq[Row], files: Int): Unit =
    save(spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema), dir, name)

  private def save(df: DataFrame, dir: Path, name: String): Unit =
    df.write.parquet(dir.resolve(s"$name.parquet").toString)

  /** sf-scaled count, at least `min`. */
  private def n(sf: Double, at1: Double, min: Int = 1): Int = math.max(min, (at1 * sf).round.toInt)

  /** Seeded columns over `spark.range`: a row's values depend only on the
    * seed, the salt and the row id, so the tables generate in parallel and
    * repeat byte for byte. */
  private final class Cols(seed: Long) {
    private def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
    def int(salt: Int, k: Long): Column = pmod(h(salt), lit(k))
    def unit(salt: Int): Column = pmod(h(salt), lit(1L << 53)).cast("double") / (1L << 53).toDouble
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (int(salt, xs.size) + 1).cast("int"))
    def money(salt: Int, lo: Double, width: Double): Column = round(lit(lo) + unit(salt) * width, 2)
    def day(salt: Int, days: Int, from: Int = 0): Column =
      timestamp_seconds(lit(Day0) + (int(salt, days) + from) * 86400L)
  }

  private def range(spark: SparkSession, rows: Int, files: Int): DataFrame =
    spark.range(0, rows, 1, files).toDF()

  def orders(spark: SparkSession, dir: Path, seed: Long, sf: Double, files: Int): Unit = {
    val c = new Cols(seed * 10 + 1)
    save(range(spark, n(sf, 1500000), files).select(col("id").as("o_orderkey"),
      c.int(1, n(sf, 150000)).as("o_custkey"), c.pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      c.money(3, 1000, 499000).as("o_totalprice"), c.day(4, 2400).as("o_orderdate"),
      c.pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), dir, "orders")
  }

  def customer(spark: SparkSession, dir: Path, seed: Long, sf: Double, files: Int): Unit = {
    val c = new Cols(seed * 10 + 2)
    save(range(spark, n(sf, 150000), files).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"), c.int(1, 25).cast("int").as("c_nationkey"),
      c.money(2, -999.99, 10999).as("c_acctbal"),
      c.pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), dir, "customer")
  }

  def part(spark: SparkSession, dir: Path, seed: Long, sf: Double, files: Int): Unit = {
    val c = new Cols(seed * 10 + 3)
    val adj = Seq("small", "red", "blue", "hot", "cold", "old", "new", "large")
    val noun = Seq("ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil")
    save(range(spark, n(sf, 200000), files).select(col("id").as("p_partkey"),
      concat_ws(" ", c.pick(1, adj), c.pick(2, noun)).as("p_name"),
      concat(lit("Brand#"), (c.int(3, 25) + 1).cast("string")).as("p_brand"),
      c.pick(4, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (c.int(5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000)).cast("double") / 10).as("p_retailprice")),
      dir, "part")
  }

  val CorpusTables: Set[String] = Set("orders", "customer", "part", "region", "nation",
    "supplier", "lineitem", "events", "documents", "embeddings")

  /** The query corpus at scale `sf`: every table, or only `tables`. Each
    * table draws from its own seeded columns, so leaving one out changes no
    * other. */
  def corpus(spark: SparkSession, dir: Path, seed: Long, sf: Double,
             tables: Set[String] = CorpusTables): Unit = {
    Files.createDirectories(dir)
    if (tables("orders")) orders(spark, dir, seed, sf, 1)
    if (tables("customer")) customer(spark, dir, seed, sf, 1)
    if (tables("part")) part(spark, dir, seed, sf, 1)
    if (tables("region")) write(spark, dir, "region", StructType.fromDDL("r_regionkey INT, r_name STRING"),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) }, 1)
    if (tables("nation")) write(spark, dir, "nation", StructType.fromDDL(
      "n_nationkey INT, n_name STRING, n_regionkey INT"),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)), 1)
    if (tables("supplier")) {
      val c = new Cols(seed * 10 + 4)
      save(range(spark, n(sf, 10000), 1).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        c.int(1, 25).cast("int").as("s_nationkey"), c.money(2, -999.99, 10999).as("s_acctbal")),
        dir, "supplier")
    }
    if (tables("lineitem")) {
      val c = new Cols(seed * 10 + 5)
      val q = (c.int(4, 50) + 1).cast("double")
      save(range(spark, n(sf, 6000000), 1).select(c.int(1, n(sf, 1500000)).as("l_orderkey"),
        c.int(2, n(sf, 200000)).as("l_partkey"), c.int(3, n(sf, 10000)).as("l_suppkey"),
        (pmod(col("id"), lit(7)) + 1).cast("int").as("l_linenumber"), q.as("l_quantity"),
        round(q * (lit(900) + c.unit(5) * 1200), 2).as("l_extendedprice"),
        (c.int(6, 11).cast("double") / 100).as("l_discount"),
        (c.int(7, 9).cast("double") / 100).as("l_tax"),
        c.pick(8, Seq("A", "N", "R")).as("l_returnflag"), c.pick(9, Seq("O", "F")).as("l_linestatus"),
        c.day(10, 2497, from = 1).as("l_shipdate")), dir, "lineitem")
    }
    if (tables("events")) {
      val c = new Cols(seed * 10 + 6)
      val total = n(sf, 1000000)
      val start = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000L
      val stepMicros = 30L * 86400L * 1000000L / total
      save(range(spark, total, 1).select(col("id").as("event_id"),
        timestamp_micros(lit(start) + col("id") * stepMicros + c.int(1, 1000000)).as("ts"),
        c.int(2, n(sf, 15000, 10)).as("user_id"),
        c.pick(3, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
        c.money(4, 0.01, 490).as("value"),
        format_string("{\"k\": %d}", c.int(5, 100)).as("props")), dir, "events")
    }
    if (tables("documents")) write(spark, dir, "documents", StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
      documents(seed, n(sf, 50000, 20)).map { case (id, text) =>
        val lang = Langs(java.lang.Math.floorMod((id * 2654435761L + seed).toInt, Langs.length))
        Row(id, text, lang, s"src${id % 20}", text.length.toLong)
      }, 1)
    if (tables("embeddings")) {
      val r = rng(seed, 8)
      val centers = Array.fill(10, 64)((r.nextDouble() - 0.5) * 0.3)
      val rows = (0 until n(sf, 20000, 20)).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(k => (centers(label)(k) + (r.nextDouble() - 0.5) * 0.2).toFloat)
        Row(i.toLong, v.toSeq, label)
      }
      write(spark, dir, "embeddings", StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"), rows, 1)
    }
  }

  /** Word-text documents; every 20th is a near copy of an earlier document
    * (its text plus " dup"), so each seed has the same share of copies. */
  def documents(seed: Long, count: Int): Seq[(Long, String)] = {
    val r = rng(seed, 7)
    val out = new scala.collection.mutable.ArrayBuffer[String](count)
    (0 until count).foreach { i =>
      out += (if (i % 20 == 19) out(r.nextInt(i)) + " dup"
      else Seq.fill(8 + r.nextInt(80))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    }
    out.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
  }

  // ---- Canal flat-message backlog for the CDC workload ----

  /** One canal event slot of a batch: table, op, and whether its UPDATE
    * rows change the primary key. */
  private final case class Slot(table: String, op: String, pkChange: Boolean = false)

  /** The fixed shape of every batch: 40 events, 50 rows each, in this
    * order. Orders take half the rows, lines a quarter, users a fifth and
    * the unmapped `audit` table the rest. One orders UPDATE event carries
    * primary-key changes (25 of 2,000 rows). */
  private val BatchShape: Seq[Slot] = {
    val o = Seq.fill(8)(Slot("orders", "INSERT")) ++ Seq.fill(7)(Slot("orders", "UPDATE")) ++
      Seq(Slot("orders", "UPDATE", pkChange = true)) ++ Seq.fill(4)(Slot("orders", "DELETE"))
    val l = Seq.fill(4)(Slot("order_line", "INSERT")) ++ Seq.fill(4)(Slot("order_line", "UPDATE")) ++
      Seq.fill(2)(Slot("order_line", "DELETE"))
    val u = Seq.fill(3)(Slot("user", "INSERT")) ++ Seq.fill(4)(Slot("user", "UPDATE")) ++
      Seq(Slot("user", "DELETE"))
    val a = Seq.fill(2)(Slot("audit", "INSERT"))
    // interleave tables so each stays spread over the batch
    val groups = Seq(o, l, u, a)
    (0 until groups.map(_.size).max).flatMap(i => groups.flatMap(_.lift(i)))
  }
  private val RowsPerEvent = 50
  /** The ADD COLUMN lands in the middle batch, after this many of its events. */
  private val DdlAfterEvents = 20
  private val DdlSql = "ALTER TABLE orders ADD COLUMN extra INT"

  private def jsonMap(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")

  /** Skewed key in [0, n): low keys repeat often, so a batch revisits keys. */
  private def skewed(r: SplittableRandom, n: Int): Int = (n * math.pow(r.nextDouble(), 3)).toInt

  /**
   * Write `batches` canal JSON files (one canal batch each, one event per
   * line) to `dir`. Returns the number of rows in mapped-table DML events.
   * `withDdl` places the single nullable ADD COLUMN in the middle batch.
   */
  def canalBacklog(dir: Path, seed: Long, batches: Int, firstBatch: Int = 0,
                   withDdl: Boolean = true): Long = {
    Files.createDirectories(dir)
    val r = rng(seed, 100 + firstBatch)
    var es = 1700000000000L + firstBatch * 1000000L
    var mappedRows = 0L
    var extraColumn = false
    val status = Array("NEW", "PAID", "SHIPPED", "DONE")
    def date(): String = f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
    def stamp(): String =
      if (r.nextInt(100) == 0) "0000-00-00 00:00:00" // zero date: coerced to null
      else f"${date()} ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
    def money(max: Int): String = f"${r.nextInt(max)}.${r.nextInt(100)}%02d"
    def word(): String = Vocab(r.nextInt(Vocab.length))
    def image(table: String, key: Int): Seq[(String, String)] = table match {
      case "orders" | "audit" =>
        Seq("id" -> (if (table == "audit") (1000000000L + key).toString else key.toString),
          "status" -> status(r.nextInt(4)), "amount" -> money(100000), "odate" -> date(),
          "updated" -> stamp(), "note" -> s"${word()} ${word()}") ++
          (if (extraColumn && table == "orders") Seq("extra" -> r.nextInt(1000).toString) else Nil)
      case "order_line" =>
        Seq("order_id" -> (key / 8).toString, "line_no" -> (1 + key % 8).toString,
          "qty" -> (1 + r.nextInt(50)).toString, "price" -> money(10000))
      case "user" =>
        Seq("code" -> f"U$key%06d", "name" -> s"${word()}_${r.nextInt(1000)}",
          "balance" -> money(1000000), "born" -> date(), "seen" -> stamp())
    }
    val keySpace = Map("orders" -> 20000, "audit" -> 20000, "order_line" -> 40000, "user" -> 5000)
    (firstBatch until firstBatch + batches).foreach { b =>
      val lines = new scala.collection.mutable.ArrayBuffer[String]()
      def event(slot: Slot): String = {
        es += 10
        val rows = (0 until RowsPerEvent).map { i =>
          val key = skewed(r, keySpace(slot.table))
          val data = image(slot.table, key)
          val old: Seq[(String, String)] =
            if (slot.op != "UPDATE") Nil
            else if (slot.pkChange && i % 2 == 0)
              Seq("id" -> skewed(r, keySpace(slot.table)).toString)
            else Seq(data.last._1 -> "previous")
          (data, old)
        }
        if (slot.table != "audit") mappedRows += rows.size
        val old = if (slot.op == "UPDATE") rows.map(x => jsonMap(x._2)).mkString("[", ",", "]")
          else "null"
        s"""{"destination":"bench","groupId":"g1","database":"shop","table":"${slot.table}",""" +
          s""""type":"${slot.op}","isDdl":false,"sql":null,"es":$es,"ts":${es + 1},""" +
          s""""data":${rows.map(x => jsonMap(x._1)).mkString("[", ",", "]")},"old":$old}"""
      }
      BatchShape.zipWithIndex.foreach { case (slot, i) =>
        if (withDdl && b == firstBatch + batches / 2 && i == DdlAfterEvents) {
          es += 10
          lines += s"""{"destination":"bench","groupId":"g1","database":"shop","table":"orders",""" +
            s""""type":"ALTER","isDdl":true,"sql":"$DdlSql","es":$es,"ts":${es + 1},""" +
            s""""data":null,"old":null}"""
          extraColumn = true
        }
        lines += event(slot)
      }
      Files.write(dir.resolve(f"canal-$b%06d.json"), lines.mkString("\n").getBytes(UTF_8))
    }
    mappedRows
  }
}
