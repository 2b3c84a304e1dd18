package graft.perfbench

import org.apache.spark.scheduler._

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement, Statement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Spans of one run share `runId`. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
                      runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans and counters recorded from outside the engine: around the calls the
 * harness makes, from Spark's listener buses, and from a counting JDBC
 * connection handed to the sink. Everything stays in memory until the run
 * ends. When tracing is off, `span` only runs its body and the JDBC factory
 * returns plain connections.
 */
final class Trace(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime(), runId))
        stack.set(stack.get().tail)
      }
    }

  /** Forget the spans so far (set-up spans are not part of the timed run). */
  def clear(): Unit = spans.clear()

  private def all: Seq[Span] = spans.asScala.toSeq
  /** Summed seconds of the spans called `name`. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/**
 * Counts at the JDBC boundary, filled by [[CountingJdbc]] connections. The
 * sink runs inside Spark tasks; with a local master they share this JVM, so
 * process-wide counters see every task.
 */
object SinkCounters {
  val roundTrips = new AtomicLong()
  val statements = new AtomicLong()
  val commits = new AtomicLong()
  val rollbacks = new AtomicLong()
  val jdbcNanos = new AtomicLong()
  /** Statements batched per closed connection (one connection per sink
    * partition; connections that batched nothing are not recorded). */
  val perConnection = new ConcurrentLinkedQueue[java.lang.Long]()

  def reset(): Unit = {
    Seq(roundTrips, statements, commits, rollbacks, jdbcNanos).foreach(_.set(0))
    perConnection.clear()
  }
}

/** A `connFactory` for the sink that wraps each connection in a counting
  * proxy when `counting` is set. The closure captures only strings and a
  * flag, so Spark can ship it to tasks. */
object CountingJdbc {
  def factory(url: String, counting: Boolean): () => Connection =
    () => {
      val c = DriverManager.getConnection(url)
      if (counting) wrap(c) else c
    }

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def timed(body: => AnyRef): AnyRef = {
    val t0 = System.nanoTime()
    try body finally SinkCounters.jdbcNanos.addAndGet(System.nanoTime() - t0)
  }

  private def wrap(c: Connection): Connection = {
    val onThis = new AtomicLong()
    def stmt[S <: Statement](s: S, iface: Class[S]): S =
      Proxy.newProxyInstance(getClass.getClassLoader, Array(iface), new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "addBatch" =>
            SinkCounters.statements.incrementAndGet(); onThis.incrementAndGet()
            call(s, m, args)
          case "executeBatch" =>
            SinkCounters.roundTrips.incrementAndGet()
            timed(call(s, m, args))
          case "execute" | "executeUpdate" | "executeQuery" | "executeLargeUpdate" =>
            SinkCounters.roundTrips.incrementAndGet()
            SinkCounters.statements.incrementAndGet()
            timed(call(s, m, args))
          case _ => call(s, m, args)
        }
      }).asInstanceOf[S]
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" =>
            stmt(call(c, m, args).asInstanceOf[PreparedStatement], classOf[PreparedStatement])
          case "createStatement" =>
            stmt(call(c, m, args).asInstanceOf[Statement], classOf[Statement])
          case "commit" =>
            SinkCounters.commits.incrementAndGet()
            timed(call(c, m, args))
          case "rollback" =>
            SinkCounters.rollbacks.incrementAndGet()
            call(c, m, args)
          case "close" =>
            if (onThis.get() > 0) SinkCounters.perConnection.add(onThis.get())
            call(c, m, args)
          case _ => call(c, m, args)
        }
      }).asInstanceOf[Connection]
  }
}

/** What Spark's own listener bus reports, keyed for per-step attribution.
  * Micro-batch jobs carry the stream's batch id as a local property; the
  * harness tags its other steps with [[SparkEvents.TagKey]]. */
final class SparkEvents extends SparkListener {
  final case class StageRec(stageId: Int, jobId: Int, batchId: Option[Long], tag: String,
                            submitMs: Long, doneMs: Long, tasks: Int, shuffleBytes: Long)
  final case class TaskRec(stageId: Int, durationMs: Long, attempt: Int, failed: Boolean)

  private val jobBatch = new java.util.concurrent.ConcurrentHashMap[Int, (Option[Long], String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentLinkedQueue[(Int, Option[Long], String)]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val b = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    val tag = props.flatMap(p => Option(p.getProperty(SparkEvents.TagKey))).getOrElse("")
    jobBatch.put(e.jobId, (b, tag))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.add((e.jobId, b, tag))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = stageJob.getOrDefault(i.stageId, -1)
    val (b, t) = Option(jobBatch.get(job)).getOrElse((None, ""))
    val shuffle = Option(i.taskMetrics).map(m =>
      m.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
    stages.add(StageRec(i.stageId, job, b, t, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks, shuffle))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    tasks.add(TaskRec(e.stageId, e.taskInfo.duration, e.taskInfo.attemptNumber,
      e.taskInfo.failed))

  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear() }
}

object SparkEvents {
  val TagKey = "perfbench.tag"
}
