package graft

/** The per-query watchdog both driver harnesses rely on (r9 verdict #3):
  * fast bodies pass through, failing bodies surface their exception, and
  * a wedged Spark job is cancelled at the budget with the harness (and
  * the session) still fully usable afterwards — the property whose
  * absence cost rounds 6 and 9 their entire driver signal. */
class HarnessGuardSpec extends SparkSpec {

  test("fast body returns Right with its value") {
    assert(HarnessGuard.run(spark, "fast", 30)(41 + 1) == Right(42))
  }

  test("throwing body returns Left with the exception message") {
    val r = HarnessGuard.run(spark, "boom", 30) {
      throw new IllegalStateException("xyzzy")
    }
    assert(r.isLeft)
    assert(r.left.exists(m => m.contains("IllegalStateException") && m.contains("xyzzy")))
  }

  test("timed returns a Left and the wall for a throwing body") {
    val (dt, r) = HarnessGuard.timed(spark, "timed-boom", 30) {
      Thread.sleep(50)
      throw new IllegalStateException("plugh")
    }
    assert(r.left.exists(m => m.contains("IllegalStateException") && m.contains("plugh")), s"got $r")
    assert(dt >= 0.05 && dt < 30, s"wall $dt")
  }

  test("timed leaves no cached frame behind a body that persisted one") {
    val df = spark.range(100).selectExpr("id * 3 AS x")
    val (_, r) = HarnessGuard.timed(spark, "timed-cache", 30)(df.persist().count())
    assert(r == Right(100L))
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the body's cached frame survived the run")
  }

  test("timeoutSec: absent -> default, valid -> parsed, malformed or non-positive -> default with one warning") {
    def parse(raw: Option[String]): (Int, Seq[String]) = {
      val warned = scala.collection.mutable.Buffer.empty[String]
      (HarnessGuard.timeoutSec(raw, 90, warned += _), warned.toSeq)
    }
    assert(parse(None) == ((90, Nil)))
    assert(parse(Some(" 45 ")) == ((45, Nil)))
    assert(parse(Some("abc")) == ((90, Seq("abc"))))
    assert(parse(Some("-3")) == ((90, Seq("-3"))))
  }

  test("AbRunner's median is the mean of the middle walls at an even count") {
    assert(AbRunner.median(Seq(10.846, 0.764)) == (10.846 + 0.764) / 2)
    assert(AbRunner.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(AbRunner.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(AbRunner.median(Seq(7.0)) == 7.0)
  }

  test("a wedged Spark job is cancelled at the budget; session survives") {
    import spark.implicits._
    // the sleep must sit in a FILTER (a count() over a projected udf gets
    // column-pruned to nothing and returns instantly on a warm session)
    val slow = org.apache.spark.sql.functions.udf { (x: Long) =>
      Thread.sleep(120000L); x >= 0
    }.asNondeterministic()
    val t0 = System.nanoTime()
    val r = HarnessGuard.run(spark, "wedged", 2) {
      spark.range(4).filter(slow($"id")).count()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    assert(r.isLeft && r.left.exists(_.startsWith("TIMEOUT")), s"got $r")
    // cancel + 10s grace, not the 120s sleep
    assert(dt < 60, f"watchdog took $dt%.1fs")
    // the session must still run jobs normally after a cancelled group
    assert(spark.range(10).count() == 10)
  }

  test("overlapped arms run under the guarded query's job group") {
    import graft.ops.Overlap
    val sc = spark.sparkContext
    // the job group a task of an arm's job actually carries
    def taskGroup(): String = sc.parallelize(Seq(1), 1)
      .map(_ => org.apache.spark.TaskContext.get().getLocalProperty("spark.jobGroup.id"))
      .collect().head
    // (a) both arms report the caller's group — on two consecutive
    // queries, so a worker that kept an earlier query's group shows up
    for (q <- Seq("ov-q1", "ov-q2")) {
      val r = HarnessGuard.run(spark, q, 60)(Overlap.all(Seq(() => taskGroup(), () => taskGroup())))
      assert(r == Right(Seq(s"graft-guard-$q", s"graft-guard-$q")), s"$q: $r")
    }
    // (b) a guarded timeout cancels BOTH arms' jobs: each arm wedges two
    // task slots in an interruptible sleep
    def wedged(): Long = sc.parallelize(Seq(1, 2), 2)
      .map { x => Thread.sleep(120000L); x }.count()
    val t0 = System.nanoTime()
    val r = HarnessGuard.run(spark, "ov-wedged", 2)(Overlap.all(Seq(() => wedged(), () => wedged())))
    assert(r.isLeft && r.left.exists(_.startsWith("TIMEOUT")), s"got $r")
    val jobs = sc.statusTracker.getJobIdsForGroup("graft-guard-ov-wedged").toSeq
    assert(jobs.size == 2, s"both arms must submit under the guard's group: $jobs")
    def running = jobs.filter(j => sc.statusTracker.getJobInfo(j)
      .exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    while (running.nonEmpty && (System.nanoTime() - t0) / 1e9 < 60) Thread.sleep(100)
    assert(running.isEmpty, s"arm jobs survived the cancel: $running")
    // (c) the sticky cancel of the timed-out group leaves the next guarded
    // query's overlapped jobs alone
    val next = HarnessGuard.run(spark, "ov-next", 60)(
      Overlap.all(Seq(() => spark.range(10).count(), () => spark.range(20).count())))
    assert(next == Right(Seq(10L, 20L)), s"got $next")
  }
}
