package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

/** Per-query watchdog for the driver harnesses (r9 verdict #3): one
  * pathological query must never eat the round. `graft.Verify` and
  * `graft.Bench` run each query's action through [[run]], which executes
  * the body in a daemon thread under a dedicated Spark job group and, on
  * timeout, cancels the job group (interrupting its tasks) and abandons
  * the thread — the harness records a `TIMEOUT` error for that query and
  * moves on. A task stuck in non-interruptible compute leaks its thread
  * and task slot, which is the accepted cost: round 9 lost ALL of its
  * correctness and bench signal to one hung query (and round 6 before
  * it), so bounded per-query loss strictly dominates. Bench, Verify,
  * ReceiptRefresh and AbRunner time every query run through [[timed]].
  *
  * The job group is set inside the worker thread (job groups are
  * thread-local), so only the guarded body's jobs are cancelled; the
  * harness's own bookkeeping jobs are unaffected.
  */
object HarnessGuard {
  /** The registry filtered by `SPARK_GRAFT_ONLY=a,b,c` (local iteration;
    * the driver never sets it, so driver runs see every query). */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet) match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }

  /** A raw `SPARK_GRAFT_QUERY_TIMEOUT` value as seconds: absent means
    * `default`; a malformed or non-positive value calls `warn` with the
    * raw text and also means `default` (r10 ADVICE: a bad value used to
    * throw before any query ran — losing the round exactly the way the
    * watchdog exists to prevent). */
  def timeoutSec(raw: Option[String], default: Int, warn: String => Unit): Int =
    raw.flatMap(v => scala.util.Try(v.trim.toInt).toOption.filter(_ > 0))
      .getOrElse { raw.foreach(warn); default }

  /** One harness query run: [[run]] under the watchdog, its wall in
    * seconds, then `clearCache()` OUTSIDE that wall — queries persist
    * intermediates they cannot unpersist before the action, and without
    * the drop ~10 cached frames accumulate over a full-registry run and
    * evict each other (r3: untouched queries slowed 3-4x mid-run). */
  def timed[T](spark: SparkSession, name: String, timeoutSec: Int)(body: => T): (Double, Either[String, T]) = {
    val t0 = System.nanoTime()
    val r = run(spark, name, timeoutSec)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    (dt, r)
  }

  /** Run `body` with a wall-clock bound. Returns Right(result) or
    * Left(errorMessage) — timeouts read `TIMEOUT after Ns`. */
  def run[T](spark: SparkSession, name: String, timeoutSec: Int)(body: => T): Either[String, T] = {
    val group = s"graft-guard-$name"
    val sc = spark.sparkContext
    val pool = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, s"graft-guard-$name"); t.setDaemon(true); t
    }
    val fut = pool.submit(new Callable[Either[String, T]] {
      def call(): Either[String, T] = {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try Right(body)
        catch { case e: Throwable =>
          Left(e.getClass.getName + ": " + Option(e.getMessage).getOrElse("").take(160))
        }
        finally sc.clearJobGroup()
      }
    })
    try fut.get(timeoutSec.toLong, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException =>
        // STICKY cancel (r10 ADVICE): cancelJobGroup only kills jobs
        // already submitted — a body wedged in driver-side work between
        // jobs would submit its NEXT job after the cancel and run it to
        // completion on our task slots. Spark 4's and-future-jobs variant
        // keeps the group cancelled; group names are per-query-unique, so
        // the stickiness can never hit a later query.
        sc.cancelJobGroupAndFutureJobs(group)
        // give the cancel a grace window to unwind cleanly
        try fut.get(10, TimeUnit.SECONDS)
        catch { case _: Throwable => () }
        // interrupt the worker too: Spark actions abort on driver-thread
        // interrupt, which also stops wedged DRIVER-side compute (planning,
        // codegen, driver loops) that job-group cancellation cannot reach
        fut.cancel(true)
        Left(s"TIMEOUT after ${timeoutSec}s (job group cancelled)")
      case e: ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        Left(c.getClass.getName + ": " + Option(c.getMessage).getOrElse("").take(160))
    } finally pool.shutdown()
  }
}
