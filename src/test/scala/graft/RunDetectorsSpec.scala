package graft

import org.apache.spark.graft.GraftCoreShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{GlobalLimitExec, QueryExecution, TakeOrderedAndProjectExec}
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods._
import graft.RunDetectors.{Burst, Config, Detected, Shown, Snapshot}
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
    // every snapshot is one more read inside the same fold, never one more
    // Spark action: a run is one collect
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
    assert(actions0 == 1 && actions3 == 1, s"$actions0 actions at 0 snapshots, $actions3 at 3")
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

  test("property: the fold equals the declarative twin on random streams") {
    // small vocabularies force count ties; "Ａ" (U+FF21) sorts above the
    // surrogate pair "𝐀" (U+1D400) in UTF-16 but below it in Spark's
    // UTF-8 order; repeated bodies are exact duplicates; bodies carry
    // double, leading and trailing spaces
    import spark.implicits._
    val vocab = Array("a", "b", "ab", "z", "Ａ", "𝐀", "𝐀b", "é", "zz")
    val rnd = new scala.util.Random(8)
    def body(prev: Seq[String]): String =
      if (prev.nonEmpty && rnd.nextInt(5) == 0) prev(rnd.nextInt(prev.size))
      else Seq.fill(rnd.nextInt(7))(vocab(rnd.nextInt(vocab.length)))
        .mkString(if (rnd.nextBoolean()) " " else "  ") + (if (rnd.nextInt(6) == 0) " " else "")
    var bursts = 0
    (1 to 10).foreach { round =>
      val n = if (round == 1) 0 else rnd.nextInt(120)
      val bodies = (0 until n).foldLeft(Vector.empty[String])((acc, _) => acc :+ body(acc))
      val msgs = bodies.zipWithIndex.map { case (b, i) => (i, b) }.toDF("msg_idx", "body")
      val interval = round match {
        case 2 => 1
        case 3 => n + 5 // longer than the stream
        case _ => 1 + rnd.nextInt(12)
      }
      val c = Config(updateInterval = interval, topFrequency = 1 + rnd.nextInt(4),
        excludeDuplicates = round % 2 == 0, showText = round % 3 != 1,
        freqQueries = Seq("A", "ab", "Ａ", "missing"))
      val scored = RunDetectors.dupScored(msgs).persist()
      try {
        val fold = RunDetectors.detect(msgs, c)
        assert(fold == RunDetectorsTwin.detected(scored, c), s"round $round: $c")
        bursts += fold.snapshots.map(_.burst.size).sum + fold.shown.map(_.burst.size).sum
        // the registered projection, at an Int and at a Long msg_idx
        val twinRows = RunDetectorsTwin.snapshotSummary(msgs, interval, c.topFrequency)
          .collect().toSeq
        Seq(msgs, msgs.withColumn("msg_idx", col("msg_idx").cast("long"))).foreach { m =>
          assert(RunDetectors.snapshotSummary(m, interval, c.topFrequency).collect().toSeq ==
            twinRows, s"round $round summary")
        }
      } finally scored.unpersist()
    }
    assert(bursts > 0)
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

/** The detector reads of [[RunDetectors.run]] as declarative joins: the
  * reference twin the fold is checked against. Each snapshot joins every
  * token at or before its boundary, so the cost is O(tokens × snapshots);
  * fine at spec size. */
object RunDetectorsTwin {
  private val RecentK = 25
  private val BurstThreshold = 2.0
  private val BurstEps = 1e-6
  // key of the end-of-stream row in the top-token bounds
  private val FinalSnap = -1L

  /** Token-level burst twin of detect_spikes (burst_detector.py:43-77)
    * for many windows in one pass. The window ending at msg_idx = w_end
    * holds the last 2·RecentK messages: the RecentK most recent and the
    * RecentK before them. So each token event at msg_idx j is "recent"
    * for window ends in [j, j+RecentK) and "previous" for
    * [j+RecentK, j+2·RecentK): one range join against the broadcast
    * `ends` (a `w_end` column), then one shuffle on (w_end, token).
    * Returns (w_end, token, recent_cnt, prev_cnt, ratio) for the bursting
    * tokens only. */
  def burstFrame(tokens: DataFrame, ends: DataFrame): DataFrame = {
    val j = col("msg_idx").cast("long")
    tokens
      .join(broadcast(ends), col("w_end").between(j, j + (2L * RecentK - 1L)))
      .withColumn("recent", col("w_end") < j + RecentK)
      .groupBy(col("w_end"), col("token"))
      .agg(sum(when(col("recent"), 1L).otherwise(0L)).as("recent_cnt"),
        sum(when(!col("recent"), 1L).otherwise(0L)).as("prev_cnt"))
      .withColumn("ratio",
        (col("recent_cnt") + lit(BurstEps)) / (col("prev_cnt") + lit(BurstEps)))
      .filter(col("recent_cnt") >= 1 && col("ratio") >= BurstThreshold)
  }

  private def tokensOf(df: DataFrame): DataFrame =
    df.select(col("msg_idx"), explode(split(col("body"), " ")).as("token"))
      .filter(col("token") =!= "")

  /** [[RunDetectors.detect]]'s result over `scored` (a dupScored frame). */
  def detected(scored: DataFrame, c: Config): Detected = {
    // the kept rank leaves `kept` in one partition in arrival order, the
    // order the reference sums `avg_score` in; cached, or the optimizer
    // prunes the rank from the plans that do not read it
    val kept = (if (c.excludeDuplicates) scored.filter(!col("is_duplicate")) else scored)
      .withColumn("kept_idx", row_number().over(Window.orderBy(col("msg_idx"))) - 1)
      .persist()
    try detectedKept(scored, kept, c) finally kept.unpersist()
  }

  private def detectedKept(scored: DataFrame, kept: DataFrame, c: Config): Detected = {
    val spark: SparkSession = scored.sparkSession
    import spark.implicits._
    val tokensAll = tokensOf(scored)
    val tokensKept = tokensOf(kept)
    val streamed = scored.count()
    val dupRow = kept.agg(count(lit(1)), sum(when(col("is_duplicate"), 1L).otherwise(0L)),
      sum(col("dup_score"))).collect()(0)
    val processed = dupRow.getLong(0)

    // snapshot boundaries: the msg_idx at which each completed interval's
    // last kept message arrived
    val boundaries = kept
      .filter((col("kept_idx") + 1) % c.updateInterval === 0)
      .select(((col("kept_idx") + 1) / c.updateInterval - 1).cast("long").as("snap"),
        col("msg_idx").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

    // top tokens at every boundary: tracked = kept tokens so far, counts =
    // every token so far; FinalSnap is the end of the stream
    val bdf = (boundaries.toSeq :+ ((FinalSnap, streamed - 1))).toDF("snap", "msg_bound")
    val tracked = tokensKept.join(broadcast(bdf), col("msg_idx") <= col("msg_bound"))
      .select(col("snap"), col("token")).distinct()
    val cum = tokensAll.join(broadcast(bdf), col("msg_idx") <= col("msg_bound"))
      .groupBy(col("snap").as("csnap"), col("token").as("ctoken"))
      .agg(count(lit(1)).as("cnt"))
    val wTop = Window.partitionBy(col("snap")).orderBy(col("cnt").desc, col("token"))
    val snapTop: Map[Long, Seq[(String, Long)]] = tracked
      .join(cum, tracked("snap") === cum("csnap") && tracked("token") === cum("ctoken"))
      .select(col("snap"), col("token"), col("cnt"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= c.topFrequency)
      .orderBy(col("snap"), col("rank")).collect()
      .groupBy(_.getLong(0)).map { case (s, rows) =>
        s -> rows.toSeq.map(r => (r.getString(1), r.getLong(2))) }

    val dupsSoFar = kept
      .withColumn("snapshot", expr(s"kept_idx div ${c.updateInterval}"))
      .groupBy(col("snapshot"))
      .agg(sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))

    val counts = tokensAll.groupBy(col("token")).agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val rows =
      if (c.showText) kept.orderBy(col("kept_idx"))
        .select(col("body"), col("dup_score"), col("is_duplicate"), col("msg_idx").cast("long"))
        .collect().toSeq
      else Nil

    val ends = (boundaries.map(_._2).toSeq ++ Seq(streamed - 1) ++ rows.map(_.getLong(3))).distinct
    val bursts: Map[Long, Seq[Burst]] =
      burstFrame(tokensAll, ends.toDF("w_end"))
        .orderBy(col("w_end"), col("ratio").desc, col("recent_cnt").desc, col("token"))
        .collect()
        .groupBy(_.getAs[Long]("w_end"))
        .map { case (e, rs) => e -> rs.toSeq.map(r => Burst(r.getAs[String]("token"),
          r.getAs[Long]("recent_cnt"), r.getAs[Long]("prev_cnt"), r.getAs[Double]("ratio"))) }

    // the sums read null on an empty stream; getAs unboxes null to 0
    Detected(streamed, processed, dupRow.getAs[Long](1), dupRow.getAs[Double](2),
      c.freqQueries.map(q => counts.getOrElse(q.toLowerCase, 0L)),
      boundaries.toSeq.map { case (snap, bound) =>
        Snapshot(snapTop.getOrElse(snap, Nil), bursts.getOrElse(bound, Nil),
          dupsSoFar.filter(_._1 <= snap).map(_._2).sum)
      },
      snapTop.getOrElse(FinalSnap, Nil), bursts.getOrElse(streamed - 1, Nil),
      rows.map(r => Shown(r.getString(0), r.getDouble(1), r.getBoolean(2),
        bursts.getOrElse(r.getLong(3), Nil))))
  }

  /** [[RunDetectors.snapshotSummary]] as joins: a broadcast boundary table
    * joined to every earlier token, the shared burst range join, and the
    * cumulative duplicate count. */
  def snapshotSummary(msgs: DataFrame, updateInterval: Int, topFrequency: Int): DataFrame = {
    val scored = RunDetectors.dupScored(msgs)
    val tokens = tokensOf(msgs)
    val bounds = msgs
      .filter((col("msg_idx") + 1) % updateInterval === 0)
      .select(((col("msg_idx") + 1) / updateInterval).cast("long").minus(1).as("snap"),
        col("msg_idx").cast("long").as("msg_bound"))
    val cum = tokens.join(broadcast(bounds), col("msg_idx") <= col("msg_bound"))
      .groupBy(col("snap"), col("token")).agg(count(lit(1)).as("cnt"))
    val wTop = Window.partitionBy(col("snap")).orderBy(col("cnt").desc, col("token"))
    val top = cum.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= topFrequency)
    val burst = burstFrame(tokens, bounds.select(col("msg_bound").as("w_end")))
      .groupBy(((col("w_end") + 1) / updateInterval - 1).cast("long").as("bsnap"))
      .agg(count(lit(1)).as("n_burst"))
    val dups = scored.filter(col("is_duplicate"))
      .join(broadcast(bounds), col("msg_idx") <= col("msg_bound"))
      .groupBy(col("snap").as("dsnap")).agg(count(lit(1)).as("dups_so_far"))
    top
      .join(burst, col("snap") === col("bsnap"), "left")
      .join(dups, col("snap") === col("dsnap"), "left")
      .select(col("snap").as("snapshot"),
        ((col("snap") + 1) * updateInterval).as("message_count"),
        col("rank"), col("token"), col("cnt"),
        coalesce(col("n_burst"), lit(0L)).as("n_burst"),
        coalesce(col("dups_so_far"), lit(0L)).as("dups_so_far"))
      .orderBy(col("snapshot"), col("rank"))
  }
}
