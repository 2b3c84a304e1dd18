package graft.queries

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * Pins the 5-gram Kneser–Ney family's outputs at the test scale: each of
 * the nine queries (the seven `text_lm_kn5*` scorers and the two
 * perplexity-bucket gates over the stored scores) keeps its row count and
 * its xxhash64 `bit_xor` digest over every output column (the perfbench
 * `QuerySuite.evaluate` form). The literals were recorded before the
 * fixed-discount and modified-discount paths were merged into one; each
 * was the same in three runs on fresh store roots. The stores are built
 * into a fresh root here too, so a warm artifact from another build can
 * not stand in for the code under test.
 */
class Kn5FamilySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val expected: Seq[(String, Long, Long)] = Seq(
    ("text_lm_kn5", 500L, -4962382033574867215L),
    ("text_lm_kn52", 500L, -4962382033574867215L),
    ("text_lm_kn5m", 500L, -9042122533426835258L),
    ("text_lm_kn5p", 500L, -2168839399403016954L),
    ("text_lm_kn5q", 500L, 5564343234366894328L),
    ("text_lm_kn5pm", 500L, 6081172978103864927L),
    ("text_lm_kn5qm", 500L, -4634605494202129884L),
    ("text_ppl_buckets5", 500L, 4094301706517932889L),
    ("text_ppl_buckets5p", 500L, -2398928522387287918L))

  test("KN5 family: row counts and output digests of all nine queries are unchanged") {
    val prev = spark.conf.getOption("spark.graft.materialized.dir")
    spark.conf.set("spark.graft.materialized.dir",
      Files.createTempDirectory("kn5-family").toString)
    Materialized.clearSessionCache()
    try {
      val got = expected.map { case (name, _, _) =>
        val df = graft.SparkEntry.queries(name)(spark, TestSpark.sf)
        val r = df.select(xxhash64(df.columns.map(df(_)).toIndexedSeq: _*).as("h"))
          .agg(count(lit(1)), expr("coalesce(bit_xor(h), 0L)")).head()
        (name, r.getLong(0), r.getLong(1))
      }
      assert(got == expected)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.materialized.dir", v)
        case None => spark.conf.unset("spark.graft.materialized.dir")
      }
      Materialized.clearSessionCache()
    }
  }
}
