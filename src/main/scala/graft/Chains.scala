package graft

/** Fan-out of independent units of driver work ("chains"), one thread each,
  * shared by the sync stream (one chain per target table of a micro-batch)
  * and the ETL task fan-out (one chain per target table of a task). */
private[graft] object Chains {

  /** Run `chains`: a single chain on the calling thread, several on threads
    * made for this call (the first on the calling thread). Fresh threads
    * inherit the caller's Spark local properties — batch id, job group, SQL
    * execution id — where pooled ones would keep a previous call's. Waits
    * for every chain, then throws the first chain's failure with later ones
    * suppressed.
    *
    * An interrupt of the calling thread (`StreamingQuery.stop()` interrupts
    * the stream thread and joins only that thread) is passed on to the
    * workers, and the call still returns only after every worker has
    * ended: no chain outlives the call, so a restart cannot overlap a
    * leftover apply to the same target. The call then throws an
    * `InterruptedException` with the thread's interrupt flag set again. */
  def run(chains: Seq[() => Unit]): Unit =
    if (chains.size <= 1) chains.foreach(_())
    else {
      val failures = new Array[Throwable](chains.size)
      val workers = chains.zipWithIndex.tail.map { case (chain, i) =>
        val t = new Thread(() => try chain() catch { case e: Throwable => failures(i) = e },
          s"graft-chain-$i")
        t.setDaemon(true)
        t.start()
        t
      }
      try chains.head() catch { case e: Throwable => failures(0) = e }
      var interrupted = false
      def interruptWorkers(): Unit =
        if (!interrupted) { interrupted = true; workers.foreach(_.interrupt()) }
      if (failures(0).isInstanceOf[InterruptedException] || Thread.interrupted())
        interruptWorkers()
      workers.foreach { t =>
        while (t.isAlive)
          try t.join() catch { case _: InterruptedException => interruptWorkers() }
      }
      val errors = failures.filter(_ != null).toList
      val thrown =
        if (!interrupted) errors.headOption
        else {
          Thread.currentThread().interrupt()
          Some(errors.collectFirst { case e: InterruptedException => e }
            .getOrElse(new InterruptedException("chain interrupted")))
        }
      thrown.foreach { first =>
        errors.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
    }

  /** Group `items` into chains by `key`, in order of each key's first item;
    * a chain keeps its items in their order in `items`. */
  def byKey[A, K](items: Seq[A])(key: A => K): Seq[Seq[A]] =
    items.map(key).distinct.map(k => items.filter(a => key(a) == k))
}
