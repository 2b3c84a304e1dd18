package graft.perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Every name is printed on every
  * workload; a layer a workload does not reach reads 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "streaming.add_batch_s" -> "s", "streaming.overhead_s" -> "s", "streaming.route_s" -> "s",
    "streaming.batch_s_tail" -> "s",
    "sink.apply_s" -> "s", "sink.jdbc_s" -> "s", "sink.round_trips" -> "count",
    "sink.statements" -> "count", "sink.statements_per_round_trip" -> "ratio",
    "sink.commits" -> "count", "sink.rollbacks" -> "count", "sink.partition_skew" -> "ratio",
    "ddl.events" -> "count", "ddl.apply_s" -> "s", "etl.plan_s" -> "s",
    "spark.jobs_per_batch" -> "count", "spark.stages_per_batch" -> "count",
    "spark.tasks_per_batch" -> "count", "spark.shuffle_bytes_per_batch" -> "bytes",
    "spark.outside_stages_s_per_batch" -> "s", "spark.write_tasks" -> "count",
    "spark.task_skew" -> "ratio", "spark.task_retries" -> "count",
    "spark.codegen_compiles_per_batch" -> "count") ++
    QuerySuite.Queries.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "queries.plan_s" -> "s", "queries.jobs_per_pass" -> "count",
    "queries.shuffle_bytes_per_pass" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.heap_after_gc_peak_mb" -> "MB",
    "trace.step_s_p50" -> "s", "trace.items_per_s" -> "1/s")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Means over every drained batch; the tail over the timed ones only. */
  def streaming(batchS: Seq[Double], addBatch: Seq[Double], sinkApply: Double,
                ddlApply: Double, timedBatchS: Seq[Double]): Map[String, Metric] = {
    val n = math.max(1, batchS.size)
    Map(
      "streaming.add_batch_s" -> Metric(mean(addBatch), "s"),
      "streaming.overhead_s" -> Metric(mean(batchS.zip(addBatch).map { case (b, a) => b - a }), "s"),
      "streaming.route_s" -> Metric((addBatch.sum - sinkApply - ddlApply) / n, "s"),
      "streaming.batch_s_tail" -> Metric(Stats.tail(timedBatchS).map(_._2).getOrElse(0.0), "s"))
  }

  def sink(steps: Double, sinkApply: Double): Map[String, Metric] = {
    val c = SinkCounters
    val per = c.perConnection.asScala.map(_.toDouble).toSeq
    Map(
      "sink.apply_s" -> Metric(sinkApply / steps, "s"),
      "sink.jdbc_s" -> Metric(c.jdbcNanos.get / 1e9 / steps, "s"),
      "sink.round_trips" -> Metric(c.roundTrips.get.toDouble, "count"),
      "sink.statements" -> Metric(c.statements.get.toDouble, "count"),
      "sink.statements_per_round_trip" ->
        Metric(c.statements.get.toDouble / math.max(1L, c.roundTrips.get), "ratio"),
      "sink.commits" -> Metric(c.commits.get.toDouble, "count"),
      "sink.rollbacks" -> Metric(c.rollbacks.get.toDouble, "count"),
      "sink.partition_skew" -> Metric(if (per.isEmpty) 0.0 else per.max / Stats.median(per), "ratio"))
  }

  /** Step key of a job tagged by the harness (untagged jobs belong to no step). */
  val tagKey: (Option[Long], String) => Option[String] = (_, tag) => Some(tag).filter(_.nonEmpty)

  /** Micro-batches as steps: (batch id, start ms, end ms). */
  def batchSteps(progress: Seq[StreamingQueryProgress]): Seq[(String, Long, Long)] =
    progress.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      (p.batchId.toString, start, start + p.durationMs.get("triggerExecution").longValue)
    }

  /** Jobs, stages, tasks and shuffle bytes per step, and the share of each
    * step's wall time outside the union of its stages' intervals. */
  def spark(ctx: Ctx, steps: Seq[(String, Long, Long)],
            keyOf: (Option[Long], String) => Option[String]): Map[String, Metric] = {
    org.apache.spark.PerfbenchBridge.drainListeners(ctx.spark.sparkContext)
    val ev = ctx.sparkEvents
    val keys = steps.map(_._1).toSet
    val stages = ev.stages.asScala.toSeq.filter(s => keyOf(s.batchId, s.tag).exists(keys))
    // counted at job start, so jobs whose stages were all skipped still count
    val jobs = ev.jobs.asScala.count { case (_, b, tag) => keyOf(b, tag).exists(keys) }
    val n = math.max(1, steps.size).toDouble
    val outside = steps.map { case (k, start, end) =>
      val ivs = stages.filter(s => keyOf(s.batchId, s.tag).contains(k))
        .map(s => (math.max(s.submitMs, start), math.min(s.doneMs, end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (end - start - covered) / 1e3
    }
    val stageIds = stages.map(_.stageId).toSet
    val retries = ev.tasks.asScala.count(t => stageIds(t.stageId) && (t.attempt > 0 || t.failed))
    Map(
      "spark.jobs_per_batch" -> Metric(jobs / n, "count"),
      "spark.stages_per_batch" -> Metric(stages.size / n, "count"),
      "spark.tasks_per_batch" -> Metric(stages.map(_.tasks).sum / n, "count"),
      "spark.shuffle_bytes_per_batch" -> Metric(stages.map(_.shuffleBytes).sum / n, "bytes"),
      "spark.outside_stages_s_per_batch" -> Metric(mean(outside), "s"),
      "spark.task_retries" -> Metric(retries.toDouble, "count"))
  }

  def jvm(gc: Double, jit: Double, heapMb: Double, codegenPerStep: Double): Map[String, Metric] = Map(
    "spark.codegen_compiles_per_batch" -> Metric(codegenPerStep, "count"),
    "jvm.gc_s" -> Metric(gc, "s"), "jvm.jit_s" -> Metric(jit, "s"),
    "jvm.heap_after_gc_peak_mb" -> Metric(heapMb, "MB"))
}
