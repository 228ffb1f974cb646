package graft

import org.apache.spark.graft.GraftCoreShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{GlobalLimitExec, QueryExecution, TakeOrderedAndProjectExec}
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods._
import graft.sources.SccJsonSource

/** End-to-end CLI twin on the FIXTURES.md fixture: summary numbers computed
  * by hand from the fixture contents (SURVEY.md §5.4). */
class RunDetectorsSpec extends SparkSpec {
  implicit val fmts: Formats = DefaultFormats

  private val fixture = new java.io.File("src/test/resources/scc_fixture").getAbsolutePath

  test("train split: 3 messages, no duplicates") {
    val json = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "train")))
    assert((json \ "processed").extract[Long] == 3)
    assert((json \ "duplicates" \ "total").extract[Long] == 0)
    assert((json \ "excluded_duplicates").extract[Long] == 0)
  }

  test("test split: exact duplicate flags on second sight only (trap #1)") {
    val json = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "test",
        freqQueries = Seq("URGENT", "missingterm"))))
    // conv3: "urgent transfer fund bank account" at t=119000 and t=119200
    // are identical → the LATER one scores 1.0; the first never flags
    assert((json \ "processed").extract[Long] == 3)
    assert((json \ "duplicates" \ "total").extract[Long] == 1)
    val rate = (json \ "duplicates" \ "rate").extract[Double]
    assert(math.abs(rate - 1.0 / 3) < 1e-9)
    // probe case-folds (T8): URGENT counts the 'urgent' occurrences
    assert((json \ "frequency_estimates" \ "URGENT").extract[Long] == 2)
    assert((json \ "frequency_estimates" \ "missingterm").extract[Long] == 0)
  }

  test("exclude-duplicates removes flagged messages from counts (trap #2)") {
    val json = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "test", excludeDuplicates = true)))
    assert((json \ "processed").extract[Long] == 2)
    assert((json \ "excluded_duplicates").extract[Long] == 1)
    assert((json \ "duplicates" \ "total").extract[Long] == 0)
  }

  test("excluded messages still feed detector statistics (trap #2, CMS side)") {
    // conv3's duplicate "urgent transfer fund bank account" is excluded
    // from counters, but its tokens reached the CMS before the exclusion
    // check — probes and top-token counts must include them
    val json = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "test",
        excludeDuplicates = true, freqQueries = Seq("urgent"))))
    assert((json \ "frequency_estimates" \ "urgent").extract[Long] == 2)
    val top = (json \ "final top_tokens").extract[Map[String, Long]]
    assert(top.get("urgent").contains(2L))
  }

  test("summary keys match the reference verbatim; messages nest dicts") {
    val json = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "test", showText = true)))
    assert((json \ "final burst") != JNothing)
    assert((json \ "final top_tokens") != JNothing)
    val msgs = (json \ "messages").extract[List[JValue]]
    assert(msgs.nonEmpty)
    assert((msgs.head \ "duplicate" \ "is_duplicate") != JNothing)
    assert((msgs.head \ "duplicate" \ "duplicate_score") != JNothing)
    assert((msgs.head \ "burst") != JNothing)
    // the flagged duplicate's nested score is 1.0
    val dupMsg = msgs.find(m => (m \ "duplicate" \ "is_duplicate").extract[Boolean])
    assert(dupMsg.isDefined)
    assert((dupMsg.get \ "duplicate" \ "duplicate_score").extract[Double] == 1.0)
  }

  test("all-messages bypasses medium+inbound filters but keeps preprocessing") {
    val scoped = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "train")))
    val all = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "train", allMessages = true)))
    // all-messages sees at least as many messages as the filtered mode
    val nScoped = (scoped \ "processed").extract[Long]
    val nAll = (all \ "processed").extract[Long]
    assert(nAll >= nScoped)
    // preprocessing still applied: every top token is lowercase alpha
    val top = (all \ "final top_tokens").extract[Map[String, Long]]
    assert(top.keys.forall(t => t.nonEmpty && t.forall(ch => ch.isLower && ch.isLetter)))
  }

  test("snapshot top-token counts are cumulative-to-date, not per-interval") {
    val json = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "test", updateInterval = 1)))
    val snaps = (json \ "periodic_snapshots").extract[List[JValue]]
    assert(snaps.length == 3)
    // last snapshot's counts equal the final totals over the whole stream
    val lastTop = (snaps.last \ "top_10_tokens").extract[Map[String, Long]]
    val finalTop = (json \ "final top_tokens").extract[Map[String, Long]]
    lastTop.foreach { case (tok, cnt) => assert(finalTop.get(tok).forall(_ == cnt)) }
    // counts never decrease across snapshots for a token present in both
    val t0 = (snaps.head \ "top_10_tokens").extract[Map[String, Long]]
    t0.foreach { case (tok, cnt) => assert(lastTop.get(tok).forall(_ >= cnt)) }
  }

  test("snapshots only at completed intervals (3 msgs @ interval 100 -> none; @ 1 -> 3)") {
    val none = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "test")))
    assert((none \ "periodic_snapshots").extract[List[JValue]].isEmpty)
    val each = parse(RunDetectors.run(spark,
      RunDetectors.Config(dataDir = fixture, split = "test", updateInterval = 1)))
    assert((each \ "periodic_snapshots").extract[List[JValue]].length == 3)
  }

  test("golden: snapshot, final and per-message payloads are byte-exact") {
    // every detector read (three snapshot boundaries, the final state and
    // each kept message's burst window) against the committed summaries;
    // the second run excludes the duplicate, so snapshot cadence and the
    // tracked set follow kept messages while counts follow the stream
    def golden(name: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/test/resources/run_detectors_golden/$name.json")),
      "UTF-8").stripSuffix("\n")
    val base = RunDetectors.Config(dataDir = fixture, split = "test", updateInterval = 1,
      showText = true, freqQueries = Seq("urgent"))
    assert(RunDetectors.run(spark, base) == golden("test_interval1_text_urgent"))
    assert(RunDetectors.run(spark, base.copy(excludeDuplicates = true)) ==
      golden("test_interval1_text_urgent_exclude"))
  }

  test("Spark actions do not grow with the snapshot count") {
    // every snapshot boundary is one more row of the same burst and
    // top-token passes, never one more Spark action
    def actions(interval: Int): (Int, Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = n.incrementAndGet()
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      GraftCoreShim.drainListenerBus(spark.sparkContext)
      spark.listenerManager.register(listener)
      val json = try {
        val out = RunDetectors.run(spark,
          RunDetectors.Config(dataDir = fixture, split = "test", updateInterval = interval))
        GraftCoreShim.drainListenerBus(spark.sparkContext)
        out
      } finally spark.listenerManager.unregister(listener)
      ((parse(json) \ "periodic_snapshots").extract[List[JValue]].length, n.get)
    }
    val (snaps0, actions0) = actions(100)
    val (snaps3, actions3) = actions(1)
    assert(snaps0 == 0 && snaps3 == 3)
    assert(actions0 > 0)
    assert(actions3 == actions0, s"$actions0 actions at 0 snapshots, $actions3 at 3")
  }

  test("Spark jobs per run stay within one job across identical runs") {
    // the cache is cleared once, not between calls: run releases its own
    // caches, so each call recomputes them as a fresh CLI process does (a
    // leaked cache let a repeat call skip half its jobs). AQE may still
    // turn the dup scorer's final join into a broadcast join at run time,
    // depending on which stage finishes first: one job either way.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val c = RunDetectors.Config(dataDir = fixture, split = "test")
    spark.catalog.clearCache()
    val counts = (1 to 5).map { _ =>
      GraftCoreShim.drainListenerBus(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0)
        RunDetectors.run(spark, c)
        GraftCoreShim.drainListenerBus(spark.sparkContext)
        jobs.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(counts.min > 0)
    assert(counts.max - counts.min <= 1, s"jobs per run: ${counts.mkString(", ")}")
  }

  test("stream cap plans no top-N above the window group-limit threshold") {
    // plan only: a top-N allocates slots for its whole limit per task, so
    // a cap of 1e8 must plan as a sort, never as a TakeOrderedAndProject
    def nodes(cap: Int) = GraftSqlShim.planNodes(SccJsonSource
      .messageStream(spark, s"$fixture/test_convs", cap).queryExecution.executedPlan)
    Seq(100000000, Int.MaxValue).foreach { cap =>
      val bounded = nodes(cap).filter(n =>
        n.isInstanceOf[TakeOrderedAndProjectExec] || n.isInstanceOf[GlobalLimitExec])
      assert(bounded.isEmpty, s"cap $cap plans ${bounded.map(_.nodeName).mkString(", ")}")
    }
    val topN = nodes(200).collect { case t: TakeOrderedAndProjectExec => t.limit }
    assert(topN.forall(_ <= 1000), s"top-N limits ${topN.mkString(", ")}")
  }

  test("unknown argument fails fast; flags parse like the reference CLI") {
    intercept[IllegalArgumentException](RunDetectors.parseArgs(Array("--bogus")))
    val c = RunDetectors.parseArgs(Array(
      "--data-dir", "/x", "--split", "train", "--max-messages", "7",
      "--freq-query", "a", "--freq-query", "b", "--exclude-duplicates"))
    assert(c.dataDir == "/x" && c.split == "train" && c.maxMessages == 7)
    assert(c.freqQueries == Seq("a", "b") && c.excludeDuplicates)
  }
}
