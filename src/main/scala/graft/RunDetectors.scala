package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Text
import graft.sources.SccJsonSource

/** Drop-in twin of the reference's CLI entry point (run_detectors.py:38-252):
  * same flags, same summary JSON shape, same stdout/stderr contract — so a
  * user of the reference can switch binaries and keep their invocation.
  *
  *   runMain graft.RunDetectors --data-dir DIR [--split test]
  *     [--train-subdir train_convs] [--test-subdir test_convs]
  *     [--max-messages 200] [--update-interval 100] [--top-frequency 10]
  *     [--freq-query term]... [--exclude-duplicates] [--all-messages]
  *     [--show-text]
  *
  * Faithful semantics pinned here (run_detectors.py:155-210):
  *  - `pipeline.process_message` runs BEFORE the `--exclude-duplicates`
  *    check, so every detector (CMS frequency, DGIM burst, Bloom dedup)
  *    observes EVERY streamed message — excluded ones included. Hence all
  *    detector statistics (frequency_estimates, top-token counts, burst
  *    window counts) are computed over the full stream (`scored`), while
  *    `processed`, snapshot cadence, duplicate totals, and the messages
  *    output use kept messages only.
  *  - The top-token TRACKED SET, however, is fed by `recent_tokens`, which
  *    is updated after the exclusion check (run_detectors.py:174-176) — so
  *    candidate tokens come from kept messages, their counts from all.
  *  - `--all-messages` bypasses the F1 medium filter and F2 inbound filter
  *    but keeps the F4 boilerplate scrub and the full preprocessing chain
  *    (scc_dataset_loader.py:38-45).
  *  - Summary keys follow the reference verbatim, including the
  *    space-containing `"final burst"` and `"final top_tokens"`
  *    (run_detectors.py:227-243); `messages` entries nest
  *    `duplicate`/`burst` dicts (run_detectors.py:178-185); snapshot
  *    `top_10_tokens` report cumulative-to-date counts (CMS state at
  *    snapshot time), not per-interval counts.
  *
  * Differences, documented (SURVEY.md §7.3): token counts and probe
  * estimates are exact (the reference reports CMS estimates — same
  * quantities, error removed); burst entries are per-token, not per-CMS-bin
  * (`bin` omitted, `representative` = the token, counts exact instead of
  * DGIM-approximate); `duplicate` dicts omit the Bloom-internal
  * `fill_ratio`; ratio values are unrounded doubles; ties in token rankings
  * break by token text (the reference inherits dict insertion order).
  */
object RunDetectors {

  case class Config(
      dataDir: String = "data",
      trainSubdir: String = "train_convs",
      testSubdir: String = "test_convs",
      split: String = "test",
      allMessages: Boolean = false,
      maxMessages: Int = 200,
      freqQueries: Seq[String] = Nil,
      showText: Boolean = false,
      excludeDuplicates: Boolean = false,
      updateInterval: Int = 100,
      topFrequency: Int = 10)

  def parseArgs(args: Array[String]): Config = {
    @annotation.tailrec
    def go(rest: List[String], c: Config): Config = rest match {
      case "--data-dir" :: v :: t         => go(t, c.copy(dataDir = v))
      case "--train-subdir" :: v :: t     => go(t, c.copy(trainSubdir = v))
      case "--test-subdir" :: v :: t      => go(t, c.copy(testSubdir = v))
      case "--split" :: v :: t            => go(t, c.copy(split = v))
      case "--all-messages" :: t          => go(t, c.copy(allMessages = true))
      case "--scammer-only" :: t          => go(t, c.copy(allMessages = false))
      case "--max-messages" :: v :: t     => go(t, c.copy(maxMessages = v.toInt))
      case "--freq-query" :: v :: t       => go(t, c.copy(freqQueries = c.freqQueries :+ v))
      case "--show-text" :: t             => go(t, c.copy(showText = true))
      case "--hide-text" :: t             => go(t, c.copy(showText = false))
      case "--exclude-duplicates" :: t    => go(t, c.copy(excludeDuplicates = true))
      case "--include-duplicates" :: t    => go(t, c.copy(excludeDuplicates = false))
      case "--update-interval" :: v :: t  => go(t, c.copy(updateInterval = v.toInt))
      case "--top-frequency" :: v :: t    => go(t, c.copy(topFrequency = v.toInt))
      case Nil                            => c
      case x :: _ => throw new IllegalArgumentException(s"unknown argument: $x")
    }
    go(args.toList, Config())
  }

  // DGIM window (StreamingPipeline window_size=50) and burst defaults
  // (detect_spikes: recent_k = window//2, threshold 2.0, min_count 1) —
  // streaming_pipeline.py:23, burst_detector.py:43-55.
  private val WindowSize = 50
  private val RecentK = WindowSize / 2
  private val BurstThreshold = 2.0
  private val BurstEps = 1e-6
  // key of the end-of-stream row in run()'s top-token bounds; snapshots
  // are numbered from 0
  private val FinalSnap = -1L

  /** The whole run as one Spark program; returns the summary as a JSON
    * string (the reference's stdout payload). */
  def run(spark: SparkSession, c: Config): String = {
    val splitDir =
      s"${c.dataDir}/${if (c.split == "train") c.trainSubdir else c.testSubdir}"

    // ingest + preprocess + stream (S1, F1–F5, T1–T5, O1/O2); msg_idx is
    // the FULL-stream arrival index — what the detectors see
    val msgs = SccJsonSource.messageStream(spark, splitDir, c.maxMessages, c.allMessages)
      .select(col("msg_idx"), col("body"))
      .persist()

    // check-then-insert dedup scoring by arrival index (ST5, trap #1)
    val scored = dupScored(msgs).persist()

    // exclusion happens AFTER detectors saw the message (trap #2): kept
    // messages drive `processed`, the snapshot cadence, and counters —
    // detector state keeps every message. The kept rank also leaves
    // `kept` in one partition in arrival order, so `avg_score` below sums
    // its doubles in the reference's order: summed in another order, the
    // last digits of the reported average change.
    val kept = (if (c.excludeDuplicates) scored.filter(!col("is_duplicate")) else scored)
      .withColumn("kept_idx",
        row_number().over(Window.orderBy(col("msg_idx"))) - 1)
      .persist()

    // detector-statistics token frame: ALL streamed messages (trap #2)
    val tokensAll = scored
      .select(col("msg_idx"), explode(split(col("body"), " ")).as("token"))
      .filter(col("token") =!= "").persist()
    // tracked-set token frame: kept messages only
    val tokensKept = kept
      .select(col("msg_idx"), explode(split(col("body"), " ")).as("token"))
      .filter(col("token") =!= "").persist()

    // a long-lived session calls run repeatedly: release the five caches
    // once the summary is built, or each call on new input leaks them.
    // Dependents go first: uncaching a frame re-plans every unfilled
    // cached frame built on it
    try {
      // count the stream itself, not `scored`: its cache is then full before
      // the dup-scoring joins read it, and AQE re-plans fewer of their stages
      val streamed = msgs.count()
      val dupRow = kept.agg(
        count(lit(1)).as("n"),
        sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("total"),
        avg(when(col("is_duplicate"), 1.0).otherwise(0.0)).as("rate"),
        avg(col("dup_score")).as("avg_score")).collect()(0)
      val processed = dupRow.getAs[Long]("n")
      val excluded = if (c.excludeDuplicates) streamed - processed else 0L

      // snapshot boundaries: the msg_idx at which each completed interval's
      // last kept message arrived (run_detectors.py:193 — a snapshot exists
      // only when `processed % update_interval == 0` fired)
      val boundaries = kept
        .filter((col("kept_idx") + 1) % c.updateInterval === 0)
        .select(((col("kept_idx") + 1) / c.updateInterval - 1).cast("long").as("snap"),
          col("msg_idx"))
        .collect()
        .map(r => (r.getAs[Long]("snap"), r.getAs[Int]("msg_idx")))
        .sortBy(_._1)

      // top tokens at every boundary in one pass: candidate set = kept
      // tokens so far (recent_tokens → periodic_update), counts = CMS state
      // = cumulative over ALL messages so far (run_detectors.py:195-198).
      // The final top tokens (O3) are the same query at the end of the
      // stream — tracked set = every kept token (incl. the trailing partial
      // period's final periodic_update, run_detectors.py:212-214), counts
      // over the whole stream — under the key FinalSnap (empty on an empty
      // stream: no token sits at or before index -1). A kept message is at or
      // before a boundary in kept order iff it is in msg_idx order.
      val bdf = spark.createDataFrame(boundaries.toSeq :+
          ((FinalSnap, (streamed - 1).toInt)))
        .toDF("snap", "msg_bound")
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
        .groupBy(_.getAs[Long]("snap"))
        .map { case (s, rows) =>
          s -> rows.toSeq.map(r => (r.getAs[String]("token"), r.getAs[Long]("cnt"))) }

      val dupsSoFar = kept
        .withColumn("snapshot", expr(s"kept_idx div ${c.updateInterval}"))
        .groupBy(col("snapshot"))
        .agg(sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("d"))
        .collect().map(r => r.getAs[Long]("snapshot") -> r.getAs[Long]("d"))
        .sortBy(_._1)

      // probe estimates (A12): CMS state = all streamed messages' tokens;
      // probe lowercased (T8, frequency_detector.py:93-96)
      val probes =
        if (c.freqQueries.isEmpty) Map.empty[String, Long]
        else {
          val counts = tokensAll.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          c.freqQueries.map(q => q -> counts.getOrElse(q.toLowerCase, 0L)).toMap
        }

      // per-message rows (kept only — run_detectors.py:178-185)
      val rows =
        if (c.showText) kept.orderBy(col("kept_idx"))
          .select(col("body"), col("dup_score"), col("is_duplicate"), col("msg_idx"))
          .collect().toSeq
        else Nil

      // every burst read in one pass: each snapshot boundary, the final
      // window over the full stream (W2), and the window ending at each
      // kept message when they are shown
      import spark.implicits._
      val ends = (boundaries.map(_._2.toLong).toSeq ++ Seq(streamed - 1) ++
        rows.map(_.getAs[Int]("msg_idx").toLong)).distinct
      val bursts: Map[Long, Seq[(String, Long, Long, Double)]] =
        burstFrame(tokensAll, ends.toDF("w_end"))
          .orderBy(col("w_end"), col("ratio").desc, col("recent_cnt").desc, col("token"))
          .collect()
          .groupBy(_.getAs[Long]("w_end"))
          .map { case (e, rs) => e -> rs.toSeq.map(r => (r.getAs[String]("token"),
            r.getAs[Long]("recent_cnt"), r.getAs[Long]("prev_cnt"), r.getAs[Double]("ratio"))) }

      // ---- render the reference's summary JSON (run_detectors.py:227-243)
      import org.json4s._
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods._
      // the reference's top-token payloads are ORDERED dicts (token -> count,
      // run_detectors.py:196,216) — render as JObject to preserve both shape
      // and ranking order
      def tokenDict(entries: Seq[(String, Long)]): JObject =
        JObject(entries.toList.map { case (t, c) => JField(t, JInt(c)) })
      def burstJson(entries: Seq[(String, Long, Long, Double)]) =
        entries.toList.map { case (token, recent, prev, ratio) =>
          ("ratio" -> ratio) ~
            ("recent_count" -> recent) ~
            ("prev_count" -> prev) ~
            ("representative" -> token)
        }
      val snapshotsJson = boundaries.map { case (snap, msgBound) =>
        val cumDups = dupsSoFar.filter(_._1 <= snap).map(_._2).sum
        ("message_count" -> ((snap + 1) * c.updateInterval)) ~
          ("top_10_tokens" -> tokenDict(snapTop.getOrElse(snap, Nil))) ~
          ("burst" -> burstJson(bursts.getOrElse(msgBound.toLong, Nil))) ~
          ("duplicates_so_far" -> cumDups)
      }.toList
      val json =
        ("split" -> c.split) ~
          ("processed" -> processed) ~
          ("excluded_duplicates" -> excluded) ~
          ("update_interval" -> c.updateInterval) ~
          ("frequency_estimates" -> probes) ~
          ("duplicates" ->
            ("total" -> dupRow.getAs[Long]("total")) ~
              ("rate" -> (if (processed > 0) dupRow.getAs[Double]("rate") else 0.0)) ~
              ("avg_score" -> (if (processed > 0) dupRow.getAs[Double]("avg_score") else 0.0))) ~
          ("periodic_snapshots" -> snapshotsJson) ~
          ("final burst" -> burstJson(bursts.getOrElse(streamed - 1, Nil))) ~
          ("final top_tokens" -> tokenDict(snapTop.getOrElse(FinalSnap, Nil))) ~
          ("messages" -> (if (c.showText) Some(rows.toList.map { r =>
            ("text" -> r.getAs[String]("body")) ~
              ("duplicate" ->
                (("is_duplicate" -> r.getAs[Boolean]("is_duplicate")) ~
                  ("duplicate_score" -> r.getAs[Double]("dup_score")))) ~
              ("burst" -> burstJson(bursts.getOrElse(r.getAs[Int]("msg_idx").toLong, Nil)))
          }) else None))
      pretty(render(json))
    } finally Seq(tokensKept, tokensAll, kept, scored, msgs).foreach(_.unpersist())
  }

  /** Check-then-insert dedup scoring by arrival index over a (msg_idx,
    * body) stream (ST5, A11): a message's dup_score is the fraction of its
    * distinct 3-token shingles first seen at an EARLIER arrival index.
    * Shared by [[run]] and [[snapshotSummary]] so the CLI path and the
    * driver-gated query exercise the identical plan. */
  private[graft] def dupScored(msgs: DataFrame): DataFrame = {
    val pairs = msgs
      .select(col("msg_idx"), explode(array_distinct(
        Text.shingles3(split(col("body"), " ")))).as("sh"))
    val firstSeen = pairs.groupBy(col("sh")).agg(min(col("msg_idx")).as("first_idx"))
    val scores = pairs.join(firstSeen, "sh")
      .groupBy(col("msg_idx"))
      .agg(avg(when(col("first_idx") < col("msg_idx"), 1.0).otherwise(0.0)).as("dup_score"))
    msgs.join(scores, Seq("msg_idx"), "left")
      .withColumn("dup_score", coalesce(col("dup_score"), lit(0.0)))
      .withColumn("is_duplicate", col("dup_score") >= 0.7)
  }

  /** The periodic_snapshots payload of [[run]] as a driver-checkable FRAME
    * (r9 verdict stretch #9): one row per (snapshot, rank ≤ topFrequency)
    * carrying the snapshot's cumulative top-token counts plus its
    * message_count, trailing-window burst count, and cumulative duplicate
    * total — the same quantities run() renders into JSON, over an
    * arbitrary (msg_idx, body) message stream. Exclusion is off (the
    * default CLI path), so kept ≡ streamed and every statistic is over
    * the full stream. Scale shape: the only corpus-scale exchanges key on
    * (snap, token) or (w_end, token) after a broadcast of the
    * ≤n/interval-row boundary table; the burst counts are [[burstFrame]]'s
    * shared range join (the one [[run]] reads), so each message joins
    * at most the 2·RecentK boundaries whose window holds it. */
  private[graft] def snapshotSummary(msgs: DataFrame,
      updateInterval: Int, topFrequency: Int): DataFrame = {
    val scored = dupScored(msgs)
    val tokens = msgs
      .select(col("msg_idx"), explode(split(col("body"), " ")).as("token"))
      .filter(col("token") =!= "")
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

  /** Token-level burst twin of detect_spikes (burst_detector.py:43-77)
    * for many windows in one pass. The window ending at msg_idx = w_end
    * holds the last 2·RecentK messages: the RecentK most recent and the
    * RecentK before them. So each token event at msg_idx j is "recent"
    * for window ends in [j, j+RecentK) and "previous" for
    * [j+RecentK, j+2·RecentK): one range join against the broadcast
    * `ends` (a `w_end` column) fans every event out to at most 2·RecentK
    * rows, then one shuffle on (w_end, token). Returns (w_end, token,
    * recent_cnt, prev_cnt, ratio) for the bursting tokens only. */
  private[graft] def burstFrame(tokens: DataFrame, ends: DataFrame): DataFrame = {
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

  /** Registered form over the driver tables: documents in doc_id order are
    * the message stream (arrival index via the distributed global rank,
    * not a single-task window), raw whitespace tokens, interval 25 /
    * top-5 so sf0.001 already yields two snapshots. The stream is capped
    * at [[SnapMaxMsgs]] — the CLI's own `--max-messages` bound (the
    * reference defaults to 200) — which is also what keeps this query
    * corpus-size-INVARIANT: [[snapshotSummary]] joins every token to
    * every later snapshot boundary, O(stream × snapshots), so the bound,
    * not the corpus, sets the work. (Cumulative counts are prefix sums,
    * so a linear form exists: ROADMAP direction 3.) The cap is applied
    * BEFORE the ranking — a global orderBy+limit plans as
    * TakeOrderedAndProject (per-partition top-N, driver merge of
    * ≤SnapMaxMsgs rows per partition, no corpus exchange) — so the rank
    * stage only ever sees the capped stream
    * (review finding: ranking first range-shuffled and cached the whole
    * corpus to immediately discard all but 500 rows). */
  private val SnapInterval = 25
  private val SnapTopK = 5
  private val SnapMaxMsgs = 500

  private def runSummaryQuery(s: SparkSession, d: String): DataFrame = {
    val capped = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(SnapMaxMsgs)
    val msgs = graft.ops.Relational.withGlobalRank(s, capped, Seq(col("doc_id")))
      .select((col("rank") - 1).cast("long").as("msg_idx"),
        col("text").as("body"))
    snapshotSummary(msgs, SnapInterval, SnapTopK)
  }

  private val runSummarySql = {
    val sh = Text.shingles3Sql("string_split(body, ' ')")
    s"""WITH msgs AS (
       |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS msg_idx,
       |         text AS body
       |  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT $SnapMaxMsgs)),
       |pairs AS (
       |  SELECT DISTINCT msg_idx, unnest($sh) AS sh FROM msgs),
       |first_seen AS (SELECT sh, min(msg_idx) AS first_idx FROM pairs GROUP BY sh),
       |scores AS (
       |  SELECT pairs.msg_idx,
       |    avg(CASE WHEN first_idx < pairs.msg_idx THEN 1.0 ELSE 0.0 END) AS dup_score
       |  FROM pairs JOIN first_seen USING (sh) GROUP BY pairs.msg_idx),
       |scored AS (
       |  SELECT m.msg_idx, coalesce(s.dup_score, 0.0) >= 0.7 AS is_dup
       |  FROM msgs m LEFT JOIN scores s ON m.msg_idx = s.msg_idx),
       |tok AS (
       |  SELECT msg_idx, token FROM
       |    (SELECT msg_idx, unnest(string_split(body, ' ')) AS token FROM msgs)
       |  WHERE token <> ''),
       |bounds AS (
       |  SELECT CAST((msg_idx + 1) // $SnapInterval - 1 AS BIGINT) AS snap,
       |         msg_idx AS msg_bound
       |  FROM msgs WHERE (msg_idx + 1) % $SnapInterval = 0),
       |cum AS (
       |  SELECT b.snap, t.token, count(*) AS cnt
       |  FROM tok t JOIN bounds b ON t.msg_idx <= b.msg_bound
       |  GROUP BY b.snap, t.token),
       |topk AS (
       |  SELECT snap, token, cnt,
       |    row_number() OVER (PARTITION BY snap ORDER BY cnt DESC, token) AS rnk
       |  FROM cum),
       |burst AS (
       |  SELECT x.snap AS bsnap, count(*) AS n_burst FROM (
       |    SELECT b.snap, t.token,
       |      sum(CASE WHEN t.msg_idx > b.msg_bound - $RecentK THEN 1 ELSE 0 END) AS recent_cnt,
       |      sum(CASE WHEN t.msg_idx <= b.msg_bound - $RecentK THEN 1 ELSE 0 END) AS prev_cnt
       |    FROM tok t JOIN bounds b
       |      ON t.msg_idx > b.msg_bound - ${2 * RecentK} AND t.msg_idx <= b.msg_bound
       |    GROUP BY b.snap, t.token) x
       |  WHERE recent_cnt >= 1
       |    AND (recent_cnt + $BurstEps) / (prev_cnt + $BurstEps) >= $BurstThreshold
       |  GROUP BY x.snap),
       |dups AS (
       |  SELECT b.snap AS dsnap, count(*) AS dups_so_far
       |  FROM scored s JOIN bounds b ON s.msg_idx <= b.msg_bound
       |  WHERE s.is_dup GROUP BY b.snap)
       |SELECT CAST(t.snap AS BIGINT) AS snapshot,
       |  CAST((t.snap + 1) * $SnapInterval AS BIGINT) AS message_count,
       |  CAST(t.rnk AS INT) AS rank, t.token, t.cnt,
       |  CAST(coalesce(bu.n_burst, 0) AS BIGINT) AS n_burst,
       |  CAST(coalesce(d.dups_so_far, 0) AS BIGINT) AS dups_so_far
       |FROM topk t LEFT JOIN burst bu ON t.snap = bu.bsnap
       |  LEFT JOIN dups d ON t.snap = d.dsnap
       |WHERE t.rnk <= $SnapTopK
       |ORDER BY snapshot, rank""".stripMargin
  }

  /** §3 entry-point coverage in the driver gate: the CLI path's snapshot
    * summary as a registered, DuckDB-oracled query. */
  def specs: Seq[QuerySpec] =
    Seq(QuerySpec("scc_run_summary", runSummaryQuery, Some(runSummarySql)))

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = run(spark, c)
    println(out)                                         // S3: stdout JSON
    // stderr trailer (run_detectors.py:247-250)
    val parsed = org.json4s.jackson.JsonMethods.parse(out)
    val processed = (parsed \ "processed").values
    System.err.println(s"Processed $processed messages from split '${c.split}'.")
    if (c.excludeDuplicates) {
      val excluded = (parsed \ "excluded_duplicates").values
      System.err.println(s"Excluded $excluded duplicate messages.")
    }
    spark.stop()
  }
}
