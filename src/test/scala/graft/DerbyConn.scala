package graft

import org.apache.spark.TaskContext

import java.lang.reflect.{InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, SQLException}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Connection factories that close over only the URL string — safe to ship
  * into executor closures (a spec-instance-capturing lambda is not). The
  * counters are JVM-wide: local-mode tasks share this JVM, so a count sees
  * every task. */
object DerbyConn {
  def factory(url: String): () => Connection = {
    val u = url
    () => DriverManager.getConnection(u)
  }

  /** Connections opened per URL through [[counting]] factories. */
  private val opened = new ConcurrentHashMap[String, AtomicInteger]()

  def openedTo(url: String): Int =
    Option(opened.get(url)).map(_.get).getOrElse(0)

  /** [[factory]] that also counts the connections it opens. */
  def counting(url: String): () => Connection = {
    val u = url
    () => {
      opened.computeIfAbsent(u, _ => new AtomicInteger()).incrementAndGet()
      DriverManager.getConnection(u)
    }
  }

  /** `Connection` method calls per (URL, method name) on [[countingTx]]
    * connections. */
  private val calls = new ConcurrentHashMap[(String, String), AtomicInteger]()

  def callsTo(url: String, method: String): Int =
    Option(calls.get((url, method))).map(_.get).getOrElse(0)

  /** [[factory]] whose connections count every method call (see
    * [[callsTo]]); a method named in `failing` runs, then throws an
    * `SQLException("<method> failed")`. */
  def countingTx(url: String, failing: Set[String] = Set.empty): () => Connection = {
    val (u, f) = (url, failing)
    () => {
      val c = DriverManager.getConnection(u)
      Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
        (_: AnyRef, m: Method, args: Array[AnyRef]) => {
          calls.computeIfAbsent((u, m.getName), _ => new AtomicInteger()).incrementAndGet()
          val out =
            try { if (args == null) m.invoke(c) else m.invoke(c, args: _*) }
            catch { case e: InvocationTargetException => throw e.getCause }
          if (f.contains(m.getName)) throw new SQLException(s"${m.getName} failed")
          out
        }).asInstanceOf[Connection]
    }
  }

  /** The failure shape Phoenix raises for a missing table (Derby's own
    * error does not carry the name the sink's schema-miss detector reads). */
  final class TableNotFoundException(msg: String) extends SQLException(msg)

  /** First Spark stage seen per URL by [[schemaMissOnce]], and the
    * (URL, partition) pairs that already failed in it. */
  private val missStage = new ConcurrentHashMap[String, Integer]()
  private val missed = ConcurrentHashMap.newKeySet[(String, Int)]()

  /** [[factory]] emulating a schema miss: in the first Spark stage that
    * connects through it, each partition's first connection throws a
    * [[TableNotFoundException]]. Driver-side connections (no task) and
    * every later stage connect normally. */
  def schemaMissOnce(url: String): () => Connection = {
    val u = url
    () => {
      val tc = TaskContext.get()
      if (tc != null && missStage.computeIfAbsent(u, _ => Integer.valueOf(tc.stageId())) == tc.stageId() &&
        missed.add((u, tc.partitionId())))
        throw new TableNotFoundException(s"TableNotFound: $u")
      DriverManager.getConnection(u)
    }
  }
}
