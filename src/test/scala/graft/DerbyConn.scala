package graft

import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Connection factories that close over only the URL string — safe to ship
  * into executor closures (a spec-instance-capturing lambda is not). */
object DerbyConn {
  def factory(url: String): () => Connection = {
    val u = url
    () => DriverManager.getConnection(u)
  }

  /** Connections opened per URL through [[counting]] factories (local-mode
    * tasks share this JVM, so the count sees every task). */
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
}
