package graft.streaming

import graft.{DerbyConn, TestSpark}
import graft.model.{DbMapping, MappingConfig}
import graft.sink.{DeleteInsertDialect, SchemaProbe}
import graft.transform.Coercion
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicReference
import scala.util.Random

/**
 * Stream ≡ batch fold: a seeded random canal log, written as two rotation
 * files and drained through the production sync path (`CanalStream.start`
 * with FileOrder ingress + `applyBatchToJdbc` into Derby through
 * `DeleteInsertDialect`, one micro-batch per file), leaves the same table as
 * `CanalStream.materialize` over the whole log coerced to the target schema.
 * Logs carry repeated keys, PK-changing UPDATEs, DELETEs and a mid-log
 * TRUNCATE; each seed runs with `concurrent` true and false at 1 and 4
 * partitions. The same logs written as five files and drained three files
 * per micro-batch at 8 partitions check that a batch spanning files merges
 * their stats and ranks their rows. The same logs also drain through the
 * two other ingress orderings: SingleStream over the text source, and
 * KafkaOffsets over JSON-lines files whose rows carry the canal event as
 * `value` with its `partition` and `offset`.
 */
class StreamFoldPropertySpec extends AnyFunSuite {
  @transient lazy val spark = TestSpark.spark

  private type Row3 = (Long, String, Int)

  private def event(es: Int, typ: String, data: Seq[Map[String, String]],
                    old: Seq[Map[String, String]] = null): String = {
    def rows(rs: Seq[Map[String, String]]): String =
      if (rs == null) "null"
      else rs.map(_.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}"))
        .mkString("[", ",", "]")
    s"""{"destination":"example","groupId":"g1","database":"mytest","table":"fold","type":"$typ","isDdl":false,"es":$es,"ts":$es,"data":${rows(data)},"old":${rows(old)}}"""
  }

  /** 60 events over 8 keys, one TRUNCATE in the middle third. */
  private def randomLog(rnd: Random): Seq[String] = {
    val n = 60
    val truncateAt = n / 3 + rnd.nextInt(n / 3)
    def key() = s"${rnd.nextInt(8)}"
    def row() = Map("id" -> key(), "name" -> s"v${rnd.nextInt(100)}", "score" -> s"${rnd.nextInt(1000)}")
    (1 to n).map { es =>
      if (es == truncateAt) event(es, "TRUNCATE", null)
      else rnd.nextInt(10) match {
        case 0 | 1 => event(es, "DELETE", Seq(row()))
        case 2 | 3 | 4 =>
          val rows = Seq.fill(1 + rnd.nextInt(2))(row())
          // 40% of updated rows change their PK: the old key is in the pre-image
          event(es, "UPDATE", rows,
            rows.map(_ => if (rnd.nextInt(5) < 2) Map("id" -> key()) else Map("name" -> "prev")))
        case _ => event(es, "INSERT", Seq.fill(1 + rnd.nextInt(2))(row()))
      }
    }
  }

  /** Write the log as `files` files, each older than the next (the file
    * source takes the oldest file first): the first ends at a random point
    * in the log's middle half, the rest split the remainder evenly. With
    * `kafka`, each line wraps its event as a Kafka record: the event text
    * as `value`, one partition (canal's MQ mode sends a table's events to
    * one partition) and the event's position in the log as `offset`. */
  private def writeLog(seed: Int, files: Int = 2, kafka: Boolean = false): Path = {
    val rnd = new Random(seed)
    val log = randomLog(rnd).zipWithIndex.map { case (e, i) =>
      if (kafka) s"""{"value":"${e.replace("\"", "\\\"")}","partition":3,"offset":${100 + i}}"""
      else e
    }
    val dir = Files.createTempDirectory(s"canal-fold-$seed")
    val (head, rest) = log.splitAt(log.size / 4 + rnd.nextInt(log.size / 2))
    val n = files - 1
    val parts = head +: (0 until n).map(i => rest.slice(i * rest.size / n, (i + 1) * rest.size / n))
    parts.zipWithIndex.foreach { case (lines, i) =>
      val f = dir.resolve(f"log-$i%03d.json")
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(f, FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    dir
  }

  private val foldMapping = DbMapping("mytest", "fold", "FOLD.T",
    targetPk = Map("id" -> "id"), mapAll = true, commitBatch = 7)

  /** Create the target table at `url`; returns its probed schema. */
  private def createTarget(url: String): StructType = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(
      """CREATE TABLE "FOLD"."T" ("ID" BIGINT PRIMARY KEY, "NAME" VARCHAR(16), "SCORE" INT)""")
    finally c.close()
    SchemaProbe.probe(foldMapping, DerbyConn.factory(url), DeleteInsertDialect)
  }

  /** The target table after draining `dir` under `ordering`, and the
    * number of micro-batches that carried rows. KafkaOffsets reads
    * `writeLog(kafka = true)` files; the other orderings read text. */
  private def drain(dir: Path, url: String, concurrent: Boolean, numPartitions: Int,
                    filesPerTrigger: Int = 1,
                    ordering: CanalStream.IngressOrdering = CanalStream.IngressOrdering.FileOrder
                   ): (Seq[Row3], Int) = {
    val schema = createTarget(url)
    val cfg = MappingConfig(dataSourceKey = "ds", destination = "example", groupId = "g1",
      concurrent = concurrent, dbMapping = foldMapping)
    val reader = spark.readStream.option("maxFilesPerTrigger", filesPerTrigger.toString)
    val raw =
      if (ordering == CanalStream.IngressOrdering.KafkaOffsets)
        reader.schema("value STRING, partition INT, offset BIGINT").json(dir.toString)
      else reader.schema("value STRING").text(dir.toString)
    val q = CanalStream.start(spark, raw,
      new AtomicReference[Seq[MappingConfig]](Seq(cfg)), numPartitions,
      (cf, ordered, ctx) => CanalStream.applyBatchToJdbc(cf, ordered, schema,
        DerbyConn.factory(url), DeleteInsertDialect, sourceColsHint = ctx.sourceCols),
      ordering = ordering)
    try q.processAllAvailable() finally q.stop()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    val cc = DriverManager.getConnection(url)
    try {
      val rs = cc.createStatement().executeQuery(
        """SELECT "ID", "NAME", "SCORE" FROM "FOLD"."T" ORDER BY "ID"""")
      val out = scala.collection.mutable.ListBuffer[Row3]()
      while (rs.next()) out += ((rs.getLong(1), rs.getString(2), rs.getInt(3)))
      (out.toSeq, batches)
    } finally cc.close()
  }

  /** The batch fold of the log under `dir`, coerced to the target schema. */
  private def expectedOf(dir: Path, seed: Int): Seq[Row3] = {
    val folded = CanalStream.materialize(
      CanalStream.parse(spark.read.text(dir.toString).toDF("value")),
      pkCols = Seq("id"), payload = Seq("name", "score"))
    val targetSchema = createTarget(s"jdbc:derby:memory:foldschema$seed;create=true")
    val expected = Coercion.coerceTo(folded, targetSchema).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(expected.nonEmpty, s"seed $seed: the log folds to an empty table")
    expected
  }

  Seq(11, 23, 37).foreach { seed =>
    test(s"stream ≡ materialize on a random log (seed $seed; concurrent × 1|4 partitions)") {
      val dir = writeLog(seed)
      val expected = expectedOf(dir, seed)
      for (concurrent <- Seq(true, false); parts <- Seq(1, 4)) {
        val url = s"jdbc:derby:memory:fold${seed}_${concurrent}_$parts;create=true"
        assert(drain(dir, url, concurrent, parts)._1 == expected,
          s"seed $seed, concurrent=$concurrent, numPartitions=$parts")
      }
    }
  }

  Seq(11, 23, 37).foreach { seed =>
    test(s"stream ≡ materialize, 5 files drained 3 per batch (seed $seed; concurrent × 8 partitions)") {
      val dir = writeLog(seed, files = 5)
      val expected = expectedOf(dir, seed + 1000)
      for (concurrent <- Seq(true, false)) {
        val url = s"jdbc:derby:memory:fold3f${seed}_$concurrent;create=true"
        assert(drain(dir, url, concurrent, 8, filesPerTrigger = 3) == ((expected, 2)),
          s"seed $seed, concurrent=$concurrent")
      }
    }
  }

  Seq(11, 23, 37).foreach { seed =>
    test(s"stream ≡ materialize through SingleStream and KafkaOffsets ingress (seed $seed; 4 partitions)") {
      val expected = expectedOf(writeLog(seed), seed + 2000)
      val modes = Seq(
        CanalStream.IngressOrdering.SingleStream -> writeLog(seed),
        CanalStream.IngressOrdering.KafkaOffsets -> writeLog(seed, kafka = true))
      for ((mode, dir) <- modes) {
        val url = s"jdbc:derby:memory:foldin${seed}_$mode;create=true"
        assert(drain(dir, url, concurrent = true, 4, ordering = mode) == ((expected, 2)),
          s"seed $seed, ordering=$mode")
      }
    }
  }
}
