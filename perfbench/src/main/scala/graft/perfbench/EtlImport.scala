package graft.perfbench

import graft.etl.EtlJob
import graft.model.{DbMapping, MappingConfig}
import graft.sink.DeleteInsertDialect
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/**
 * `etl_import`: the bulk path with no streaming. Each step is one
 * `EtlJob.etl` task call that fans out over the three configs of
 * destination `etl` and imports sf 0.05 parquet into freshly created, empty
 * Derby tables, as an initial load does.
 */
object EtlImport {
  val Db = "perfetl"
  /** Half the sf 0.1 source sizes, so a run fits the schedule. */
  val Sf = 0.05
  /** Import calls per second of `--seconds` (one call takes about 2 s on
    * 4 cores). */
  val StepsPerSecond = 0.5
  val MinSteps = 5
  /** Untimed imports between the set-ups and the timed ones: the first
    * import after the set-ups still ran 10-30% slower than the rest. */
  val WarmSteps = 1
  val Params = Seq("1996-01-01 00:00:00")

  val configs: Map[String, MappingConfig] = Seq(
    DbMapping("tpch", "orders", "ETL.ORDERS", targetPk = Map("o_orderkey" -> "o_orderkey"),
      mapAll = true, etlCondition = "o_orderdate >= TIMESTAMP '{0}'"),
    DbMapping("tpch", "customer", "ETL.CUSTOMER", targetPk = Map("c_custkey" -> "c_custkey"),
      mapAll = true),
    DbMapping("tpch", "part", "ETL.PART", targetPk = Map("p_partkey" -> "p_partkey"),
      mapAll = true, targetColumns = Map("part_name" -> "p_name", "brand" -> "p_brand"),
      excludeColumns = Set("p_type"))
  ).map(m => m.table -> MappingConfig(dataSourceKey = "ds", destination = "etl", dbMapping = m))
    .toMap

  val tables: Seq[String] = Seq(
    """"ETL"."ORDERS" ("O_ORDERKEY" BIGINT PRIMARY KEY, "O_CUSTKEY" BIGINT,
      |"O_ORDERSTATUS" VARCHAR(1), "O_TOTALPRICE" DOUBLE, "O_ORDERDATE" TIMESTAMP,
      |"O_ORDERPRIORITY" VARCHAR(16))""".stripMargin,
    """"ETL"."CUSTOMER" ("C_CUSTKEY" BIGINT PRIMARY KEY, "C_NAME" VARCHAR(32),
      |"C_NATIONKEY" INT, "C_ACCTBAL" DOUBLE, "C_MKTSEGMENT" VARCHAR(16))""".stripMargin,
    """"ETL"."PART" ("P_PARTKEY" BIGINT PRIMARY KEY, "PART_NAME" VARCHAR(32),
      |"BRAND" VARCHAR(16), "P_SIZE" INT, "P_RETAILPRICE" DOUBLE)""".stripMargin)

  /** Empty targets, as before an initial load. */
  private def freshTargets(): Unit = {
    Derby.drop(Db)
    Derby.exec(Db, "CREATE SCHEMA ETL")
    Derby.exec(Db, tables.map("CREATE TABLE " + _): _*)
  }

  /** The target table's digest equals the transform output's. */
  def targetMatches(spark: SparkSession, c: MappingConfig, expected: DataFrame): Boolean = {
    val actual = Derby.read(spark, Db, Derby.quoted(c.dbMapping.targetTable))
      .select(expected.schema.fields.toSeq.map(f => col(f.name.toLowerCase).cast(f.dataType)): _*)
    Digest.of(actual) == Digest.of(expected)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val src = ctx.work.resolve("etl")
    val g0 = System.nanoTime()
    Gen.orders(spark, src, ctx.seed, Sf, ctx.cpus)
    Gen.customer(spark, src, ctx.seed, Sf, ctx.cpus)
    Gen.part(spark, src, ctx.seed, Sf, ctx.cpus)
    val sourceFor = (c: MappingConfig) =>
      EtlJob.EtlSource.Parquet(src.resolve(s"${c.dbMapping.table}.parquet").toString)
    def transformed(c: MappingConfig) =
      EtlJob.transform(EtlJob.readSource(spark, sourceFor(c)), c, Params)
    val conn = CountingJdbc.factory(Derby.url(Db), ctx.trace.enabled)
    def importAll() = EtlJob.etl(spark, "etl", configs, Params, sourceFor, conn, DeleteInsertDialect)

    val genS = (System.nanoTime() - g0) / 1e9
    val expectedCount = configs.map { case (t, c) => t -> EtlJob.count(transformed(c)) }
    val setups = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); freshTargets(); importAll(); (System.nanoTime() - t0) / 1e9
    }

    for (_ <- 0 until WarmSteps) { freshTargets(); importAll() }
    val steps = math.max(MinSteps, (ctx.seconds * StepsPerSecond).round.toInt)
    ctx.sparkEvents.clear(); SinkCounters.reset(); ctx.trace.clear()
    val gc0 = Env.gcSeconds; val jit0 = Env.jitSeconds; val cg0 = Env.codegenCompiles
    val heapPeak = new Env.HeapPeak
    var failedOps = 0L
    val stepTimes = (0 until steps).map { i =>
      freshTargets()
      ctx.trace.span("etl.plan") {
        configs.values.foreach(c => transformed(c).queryExecution.executedPlan)
      }
      spark.sparkContext.setLocalProperty(SparkEvents.TagKey, s"etl-$i")
      val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
      val results = ctx.trace.span("sink.apply")(importAll())
      val secs = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty(SparkEvents.TagKey, null)
      failedOps += results.count(!_.succeeded) +
        configs.count { case (t, c) =>
          !results.exists(r => r.succeeded && r.resultMessage.contains(c.dbMapping.targetTable) &&
            r.importedCount == expectedCount(t))
        }
      (secs, (s"etl-$i", startMs, endMs), results.map(_.importedCount).sum)
    }
    val gc = Env.gcSeconds - gc0; val jit = Env.jitSeconds - jit0
    val codegen = (Env.codegenCompiles - cg0).toDouble / steps
    val heap = heapPeak.stop()

    // the last step's targets against the transform output, by digest
    val c0 = System.nanoTime()
    val digestChecks = configs.toSeq.sortBy(_._1).map { case (t, c) =>
      s"etl.${t}_target_digest" -> targetMatches(spark, c, transformed(c))
    }
    val checkS = (System.nanoTime() - c0) / 1e9
    val checks = ("etl.all_imports_succeeded_with_expected_counts" -> (failedOps == 0)) +: digestChecks
    val times = stepTimes.map(_._1)
    val rows = stepTimes.map(_._3).sum
    val e2e = Map(
      "setup_s" -> Metric(Stats.median(setups), "s"),
      "step_s_p50" -> Metric(Stats.median(times), "s"),
      "items_per_s" -> Metric(rows / times.sum, "1/s"))
    val report = Map("workload" -> "etl_import", "steps" -> steps.toString,
      "rows_per_step" -> expectedCount.values.sum.toString,
      "import_s" -> times.map(t => f"$t%.4f").mkString(" "), "gen_s" -> f"$genS%.4f",
      "setup_s_all" -> setups.map(t => f"$t%.4f").mkString(" "), "check_s" -> f"$checkS%.4f")
    val layers =
      if (!ctx.trace.enabled) Map.empty[String, Metric]
      else {
        val sparkLayer = Layers.spark(ctx, stepTimes.map(_._2), Layers.tagKey)
        // write stages: the last stage of each import job (the sink's
        // foreachPartition)
        val stages = ctx.sparkEvents.stages.asScala.toSeq.filter(_.tag.nonEmpty)
        val writeStages = stages.groupBy(_.jobId).values.map(_.maxBy(_.stageId)).toSeq
        val tasks = ctx.sparkEvents.tasks.asScala.toSeq
        val skews = writeStages.flatMap { s =>
          val d = tasks.filter(_.stageId == s.stageId).map(_.durationMs.toDouble)
          if (d.size < 2) None else Some(d.max / math.max(1.0, Stats.median(d)))
        }
        sparkLayer ++ Layers.sink(steps, ctx.trace.total("sink.apply")) ++ Layers.jvm(gc, jit, heap, codegen) ++
          Map("etl.plan_s" -> Metric(ctx.trace.total("etl.plan") / steps, "s"),
            "spark.write_tasks" -> Metric(writeStages.map(_.tasks).sum.toDouble / steps, "count"),
            "spark.task_skew" -> Metric(if (skews.isEmpty) 0.0 else skews.sum / skews.size, "ratio"),
            "trace.step_s_p50" -> e2e("step_s_p50"), "trace.items_per_s" -> e2e("items_per_s"))
      }
    Outcome(attempted = steps.toLong * configs.size, failed = failedOps + digestChecks.count(!_._2),
      checks, e2e, layers, report)
  }
}
