package graft.perfbench

import graft.model.{CanalEvent, DbMapping, MappingConfig}
import graft.sink.{DeleteInsertDialect, SchemaProbe}
import graft.streaming.{CanalStream, DdlBarrier}
import graft.transform.Coercion
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/**
 * `cdc_sync`: a pre-written backlog of canal batches drained closed-loop by
 * `CanalStream.start` into in-memory Derby, one file per micro-batch, with
 * the production apply (`SchemaProbe.targetSchema` +
 * `CanalStream.applyBatchToJdbc`, `DeleteInsertDialect`).
 */
object CdcSync {
  val Db = "perfcdc"
  /** Batches drained per second of `--seconds` (a batch takes about 0.7 s
    * on 4 cores). */
  val BatchesPerSecond = 1.6
  val MinBatches = 16
  /** Untimed batches at the head of the backlog, drained by the same query
    * before the timed ones: a fresh query's first batches ran up to twice
    * as slow as its later ones while the JIT caught up. */
  val WarmBatches = 6

  private def mapping(table: String, target: String, pk: String*): MappingConfig =
    MappingConfig(dataSourceKey = "ds", destination = "bench", groupId = "g1",
      concurrent = true,
      dbMapping = DbMapping("shop", table, target,
        targetPk = pk.map(p => p -> p).toMap, mapAll = true))

  /** BIGINT, composite and VARCHAR primary keys; DECIMAL/DATE/TIMESTAMP
    * columns go through `Coercion`. The `audit` source table is unmapped. */
  val configs: Seq[MappingConfig] = Seq(
    mapping("orders", "CDC.ORDERS", "id"),
    mapping("order_line", "CDC.ORDER_LINE", "order_id", "line_no"),
    mapping("user", "CDC.USERS", "code"))

  val createTables: Seq[String] = Seq(
    """CREATE TABLE "CDC"."ORDERS" ("ID" BIGINT PRIMARY KEY, "STATUS" VARCHAR(16),
      |"AMOUNT" DECIMAL(12,2), "ODATE" DATE, "UPDATED" TIMESTAMP, "NOTE" VARCHAR(64))""".stripMargin,
    """CREATE TABLE "CDC"."ORDER_LINE" ("ORDER_ID" BIGINT NOT NULL, "LINE_NO" INT NOT NULL,
      |"QTY" INT, "PRICE" DECIMAL(10,2), PRIMARY KEY ("ORDER_ID", "LINE_NO"))""".stripMargin,
    """CREATE TABLE "CDC"."USERS" ("CODE" VARCHAR(32) PRIMARY KEY, "NAME" VARCHAR(64),
      |"BALANCE" DECIMAL(12,2), "BORN" DATE, "SEEN" TIMESTAMP)""".stripMargin)

  /** Derby has no `IF NOT EXISTS` on ADD COLUMN; the rest of the engine's
    * statement is already Derby-compatible for a nullable INT column. */
  def derbyForm(stmt: String): String = stmt.replace(" ADD IF NOT EXISTS ", " ADD ")

  final case class Drain(seconds: Double, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  /** Drain `dir` through the sync stream; the DDL hook and the apply are the
    * production ones, wrapped in spans. */
  def drain(ctx: Ctx, dir: java.nio.file.Path, ckpt: java.nio.file.Path,
            ddlEvents: AtomicInteger, onApply: DataFrame => Unit = _ => ()): Drain = {
    val spark = ctx.spark
    val conn = CountingJdbc.factory(Derby.url(Db), ctx.trace.enabled)
    val apply: (MappingConfig, DataFrame, CanalStream.SegmentCtx) => Unit = (cfg, ordered, sctx) =>
      ctx.trace.span("sink.apply") {
        onApply(ordered)
        val schema = SchemaProbe.targetSchema(cfg.destination, cfg.dbMapping, conn,
          DeleteInsertDialect)
        CanalStream.applyBatchToJdbc(cfg, ordered, schema, conn, DeleteInsertDialect,
          sourceColsHint = sctx.sourceCols)
      }
    val onDdl: (MappingConfig, DdlBarrier.DdlEvent) => Unit = (cfg, d) =>
      ctx.trace.span("ddl.apply") {
        val stmts = DdlBarrier.ddlStatements(cfg, d, DeleteInsertDialect).map(derbyForm)
        Derby.exec(Db, stmts: _*)
        SchemaProbe.invalidate(cfg.destination, cfg.dbMapping)
        ddlEvents.incrementAndGet()
      }
    val raw = spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1")
      .text(dir.toString)
    val t0 = System.nanoTime()
    val q = CanalStream.start(spark, raw, new AtomicReference(configs), ctx.cpus, apply, onDdl,
      CanalStream.IngressOrdering.FileOrder, Some(ckpt.toString))
    try {
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      q.exception.foreach(e => throw e)
      Drain(secs, q.recentProgress.toSeq.filter(_.numInputRows > 0))
    } finally q.stop()
  }

  /** Fresh database, tables and schema probes; then one untimed warm-up
    * batch, whose rows are deleted again. */
  def setUp(ctx: Ctx, warm: java.nio.file.Path, i: Int, planDigest: AtomicReference[String]): Unit = {
    Derby.drop(Db)
    Derby.exec(Db, "CREATE SCHEMA CDC")
    Derby.exec(Db, createTables: _*)
    configs.foreach { c =>
      SchemaProbe.invalidate(c.destination, c.dbMapping)
      SchemaProbe.targetSchema(c.destination, c.dbMapping, CountingJdbc.factory(Derby.url(Db),
        counting = false), DeleteInsertDialect)
    }
    drain(ctx, warm, ctx.work.resolve(s"cdc/warm-ckpt-$i"), new AtomicInteger(),
      ordered => planDigest.compareAndSet(null, Env.planDigest(ordered)))
    Derby.exec(Db, configs.map(c => s"DELETE FROM ${Derby.quoted(c.dbMapping.targetTable)}"): _*)
  }

  /** Each mapped table equals the batch fold of the log
    * (`CanalStream.materialize`) coerced to the target schema; no row of
    * the unmapped table reaches a target. */
  def check(ctx: Ctx, backlog: java.nio.file.Path): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    val log = spark.read.schema(CanalEvent.dmlSchema).json(backlog.toString)
      .where(!coalesce(col("isDdl"), lit(false)))
    configs.flatMap { c =>
      val m = c.dbMapping
      val target = SchemaProbe.probe(m, CountingJdbc.factory(Derby.url(Db), counting = false),
        DeleteInsertDialect)
      val pk = m.targetPk.keys.toSeq.sorted
      val payload = target.fieldNames.toSeq.filterNot(pk.contains)
      val expected = Coercion.coerceTo(
        CanalStream.materialize(log.where(col("table") === m.table), pk, payload), target)
        .select(target.fieldNames.toSeq.map(col): _*)
      val actual = Derby.read(spark, Db, Derby.quoted(c.dbMapping.targetTable))
        .select(target.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      val same = Digest.of(actual) == Digest.of(expected)
      val unmapped = if (m.table == "orders") Seq(s"cdc.no_unmapped_rows" ->
        actual.where(col("id") >= 1000000000L).isEmpty) else Nil
      (s"cdc.${m.table}_equals_fold" -> same) +: unmapped
    }
  }

  def run(ctx: Ctx): Outcome = {
    val batches = math.max(MinBatches, (ctx.seconds * BatchesPerSecond).round.toInt)
    val backlog = ctx.work.resolve("cdc/backlog")
    val warm = ctx.work.resolve("cdc/warm")
    val g0 = System.nanoTime()
    Gen.canalBacklog(backlog, ctx.seed, WarmBatches, withDdl = false)
    val rows = Gen.canalBacklog(backlog, ctx.seed, batches, firstBatch = WarmBatches)
    Gen.canalBacklog(warm, ctx.seed, 1, firstBatch = WarmBatches + batches + 1, withDdl = false)
    val genS = (System.nanoTime() - g0) / 1e9

    val plan = new AtomicReference[String]()
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime(); setUp(ctx, warm, i, plan); (System.nanoTime() - t0) / 1e9
    }

    ctx.sparkEvents.clear(); SinkCounters.reset(); ctx.trace.clear()
    val gc0 = Env.gcSeconds; val jit0 = Env.jitSeconds; val cg0 = Env.codegenCompiles
    val heapPeak = new Env.HeapPeak
    val ddl = new AtomicInteger()
    val d = drain(ctx, backlog, ctx.work.resolve("cdc/ckpt"), ddl)
    val gc = Env.gcSeconds - gc0; val jit = Env.jitSeconds - jit0
    val codegen = (Env.codegenCompiles - cg0).toDouble / (WarmBatches + batches)
    val heap = heapPeak.stop()

    // per-layer figures cover every drained batch; end-to-end ones the timed
    val allBatchS = d.progress.map(_.durationMs.get("triggerExecution").toDouble / 1e3)
    val batchS = allBatchS.drop(WarmBatches)
    val c0 = System.nanoTime()
    val tableChecks = check(ctx, backlog)
    val checks = tableChecks :+
      ("cdc.all_batches_drained" -> (allBatchS.size == WarmBatches + batches))
    val checkS = (System.nanoTime() - c0) / 1e9
    val tail = Stats.tail(batchS)
    val e2e = Map(
      "setup_s" -> Metric(Stats.median(setups), "s"),
      "step_s_p50" -> Metric(Stats.median(batchS), "s"),
      "items_per_s" -> Metric(rows / batchS.sum, "1/s"))
    val report = Map(
      "workload" -> "cdc_sync", "batches" -> batchS.size.toString,
      "rows_applied" -> rows.toString, "drain_s" -> f"${d.seconds}%.4f",
      "batch_s" -> batchS.map(t => f"$t%.3f").mkString(" "),
      "setup_s_all" -> setups.map(t => f"$t%.4f").mkString(" "), "check_s" -> f"$checkS%.4f",
      "gen_s" -> f"$genS%.4f",
      "batch_s_tail" -> tail.map { case (p, v) => f"p$p=$v%.4f (n=${batchS.size})" }
        .getOrElse(s"not reported: ${batchS.size} samples"),
      "plan_digest_segment" -> Option(plan.get).getOrElse(""))
    val layers =
      if (!ctx.trace.enabled) Map.empty[String, Metric]
      else {
        val n = allBatchS.size.toDouble
        val addBatch = d.progress.map(_.durationMs.get("addBatch").toDouble / 1e3)
        val sinkApply = ctx.trace.total("sink.apply")
        val ddlApply = ctx.trace.total("ddl.apply")
        Layers.streaming(allBatchS, addBatch, sinkApply, ddlApply, batchS) ++
          Layers.sink(n, sinkApply) ++
          Layers.spark(ctx, Layers.batchSteps(d.progress), (b, _) => b.map(_.toString)) ++
          Map("ddl.events" -> Metric(ddl.get, "count"), "ddl.apply_s" -> Metric(ddlApply, "s")) ++
          Layers.jvm(gc, jit, heap, codegen) ++
          Map("trace.step_s_p50" -> e2e("step_s_p50"), "trace.items_per_s" -> e2e("items_per_s"))
      }
    Outcome(attempted = batches, failed = math.max(0, batches - batchS.size) +
      tableChecks.count(!_._2),
      checks, e2e, layers, report)
  }
}
