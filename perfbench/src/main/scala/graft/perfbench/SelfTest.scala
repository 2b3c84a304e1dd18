package graft.perfbench

import graft.etl.EtlJob

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.jdk.CollectionConverters._

/**
 * The benchmark's own test: inputs repeat byte for byte from a seed, and
 * each correctness check fails on a corrupted output. Run with
 * `python3 perfbench/run.py --selftest`; exits non-zero on any failure.
 */
object SelfTest {
  /** md5 of every regular file's bytes under `dir`, sorted: file names that
    * carry a write-job id are ignored, the contents are not. */
  private def contents(dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString
        .startsWith(".") && !p.getFileName.toString.startsWith("_"))
      .map(p => Env.md5(new String(java.util.Base64.getEncoder.encode(Files.readAllBytes(p)))))
      .toSeq.sorted
    finally s.close()
  }

  def run(work: Path, cpus: Int, digests: Path): Int = {
    val spark = PerfBench.session(work, cpus)
    val ctx = Ctx(spark, work, 7, 1, new Trace(false, "selftest"), new SparkEvents, cpus, digests)
    val results = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    def expect(name: String, ok: => Boolean): Unit = {
      val r = try ok catch { case t: Throwable => println(s"selftest $name: $t"); false }
      println(s"selftest $name ${if (r) "ok" else "FAIL"}")
      results += name -> r
    }

    expect("same seed gives byte-identical inputs", {
      val a = work.resolve("gen-a"); val b = work.resolve("gen-b"); val c = work.resolve("gen-c")
      Seq(a, b).foreach { d =>
        Gen.canalBacklog(d.resolve("canal"), 7, 4)
        Gen.corpus(spark, d.resolve("corpus"), 7, 0.001)
        Gen.orders(spark, d.resolve("etl"), 7, 0.001, cpus)
      }
      Gen.canalBacklog(c.resolve("canal"), 8, 4)
      contents(a) == contents(b) && contents(a.resolve("canal")) != contents(c.resolve("canal"))
    })

    // cdc_sync: a drained backlog matches the fold; one altered row does not
    val backlog = work.resolve("cdc/backlog")
    Gen.canalBacklog(backlog, 7, 4)
    Gen.canalBacklog(work.resolve("cdc/warm"), 7, 1, firstBatch = 5, withDdl = false)
    CdcSync.setUp(ctx, work.resolve("cdc/warm"), 0, new AtomicReference[String]())
    CdcSync.drain(ctx, backlog, work.resolve("cdc/ckpt"), new AtomicInteger())
    expect("cdc check passes on the drained tables", CdcSync.check(ctx, backlog).forall(_._2))
    Derby.exec(CdcSync.Db, """UPDATE "CDC"."ORDERS" SET "STATUS" = 'ALTERED'
      |WHERE "ID" = (SELECT MIN("ID") FROM "CDC"."ORDERS")""".stripMargin)
    expect("cdc check fails on one altered Derby row",
      !CdcSync.check(ctx, backlog).find(_._1 == "cdc.orders_equals_fold").get._2)

    // etl_import: the target digest catches one altered row
    locally {
      val src = work.resolve("etl-src")
      Gen.customer(spark, src, 7, 0.001, cpus)
      val c = EtlImport.configs("customer")
      val source = EtlJob.EtlSource.Parquet(src.resolve("customer.parquet").toString)
      Derby.drop(EtlImport.Db); Derby.exec(EtlImport.Db, "CREATE SCHEMA ETL")
      Derby.exec(EtlImport.Db, "CREATE TABLE " + EtlImport.tables(1))
      val r = EtlJob.etl(spark, "customer", EtlImport.configs, EtlImport.Params, _ => source,
        CountingJdbc.factory(Derby.url(EtlImport.Db), counting = false),
        graft.sink.DeleteInsertDialect)
      val expected = EtlJob.transform(EtlJob.readSource(spark, source), c, EtlImport.Params)
      expect("etl digest check passes on the imported table",
        r.forall(_.succeeded) && EtlImport.targetMatches(spark, c, expected))
      Derby.exec(EtlImport.Db, """UPDATE "ETL"."CUSTOMER" SET "C_NAME" = 'altered'
        |WHERE "C_CUSTKEY" = 0""".stripMargin)
      expect("etl digest check fails on one altered Derby row",
        !EtlImport.targetMatches(spark, c, expected))
    }

    // query_suite: a fixture query (no corpus input) matches its HEAD
    // digest; the same result with one bit flipped does not
    locally {
      lazy val want = QuerySuite.recorded(digests)(0)("x2_router")
      lazy val res = QuerySuite.evaluate(spark, work.toString, "x2_router")
      expect("query digest matches HEAD", QuerySuite.matches(res, want))
      expect("query check fails on a flipped digest",
        !QuerySuite.matches(res.copy(xor = res.xor ^ 1L), want))
    }

    spark.stop()
    Derby.drop(CdcSync.Db); Derby.drop(EtlImport.Db)
    if (results.forall(_._2)) 0 else 1
  }
}
