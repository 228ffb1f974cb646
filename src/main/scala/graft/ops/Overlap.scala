package graft.ops

/** Overlapped driver-side job chains: independent actions (recall counts,
  * contract probes, model fits) submitted from concurrent driver threads,
  * so the scheduler backfills one chain's stage tail with the other's
  * tasks — wall ≈ max of the arms instead of their sum.
  *
  * Every arm runs on a thread created by THIS call from the caller's
  * thread. Spark's local properties are an InheritableThreadLocal cloned
  * at thread creation, so each arm's jobs carry the caller's job group,
  * interrupt-on-cancel flag and scheduler pool: a [[graft.HarnessGuard]]
  * timeout cancels them, and anything keyed by job group attributes them
  * to the calling query. A shared pool (e.g. the global ExecutionContext)
  * would instead tag jobs with the properties of whichever thread first
  * created each worker — a stale job group for every later query. */
object Overlap {
  /** Runs every arm concurrently and returns the results in arm order.
    * Waits for all arms, then rethrows the first failure in arm order. If
    * the caller is interrupted while waiting, the arms are interrupted too
    * (Spark actions abort on driver-thread interrupt). */
  def all[T](arms: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](arms.size)
    val failures = new Array[Throwable](arms.size)
    val threads = arms.zipWithIndex.map { case (arm, i) =>
      val t = new Thread(() =>
        try results(i) = arm()
        catch { case e: Throwable => failures(i) = e },
        s"graft-overlap-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch { case e: InterruptedException =>
      threads.foreach(_.interrupt())
      throw e
    }
    failures.find(_ != null).foreach(e => throw e)
    results.toIndexedSeq.map(_.asInstanceOf[T])
  }

  /** [[all]] for two arms of different result types. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = all[Any](Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
