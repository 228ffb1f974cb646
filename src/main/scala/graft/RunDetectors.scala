package graft

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
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
  *
  * Execution: ingest ([[SccJsonSource.messageStream]]) and dup scoring
  * ([[dupScored]]) stay distributed plans — a shingle's first-seen index
  * needs every earlier message, so that state is corpus-sized and lives in
  * a shuffle, never in one task. Everything after is one [[fold]] over the
  * scored stream, coalesced to one task in arrival order: it holds the
  * token counts and the tracked set (vocabulary-sized), a ring of the
  * last 2·RecentK messages' tokens, and its output. Its cost is linear in
  * the stream whatever the snapshot count, and one collect returns it.
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

  /** One message of the scored stream, as the fold reads it. */
  private[graft] final case class Scored(msg_idx: Long, body: String,
      dup_score: Double, is_duplicate: Boolean)
  /** A bursting token of one window: detect_spikes' entry, per token. */
  private[graft] final case class Burst(token: String, recent: Long, prev: Long, ratio: Double)
  private[graft] final case class Snapshot(top: Seq[(String, Long)], burst: Seq[Burst],
      dupsSoFar: Long)
  /** A kept message as `--show-text` reports it. */
  private[graft] final case class Shown(body: String, dupScore: Double, isDuplicate: Boolean,
      burst: Seq[Burst])
  /** Every detector read of one run: the counters, the probe counts (in
    * query order), the periodic snapshots, the end-of-stream state and the
    * shown messages. */
  private[graft] final case class Detected(streamed: Long, processed: Long, dupTotal: Long,
      dupScoreSum: Double, probes: Seq[Long], snapshots: Seq[Snapshot],
      finalTop: Seq[(String, Long)], finalBurst: Seq[Burst], shown: Seq[Shown])
  /** One row of [[snapshotSummary]]. */
  private[graft] final case class SummaryRow(snapshot: Long, message_count: Long, rank: Int,
      token: String, cnt: Long, n_burst: Long, dups_so_far: Long)

  /** The whole run as one Spark program; returns the summary as a JSON
    * string (the reference's stdout payload). */
  def run(spark: SparkSession, c: Config): String = {
    val splitDir =
      s"${c.dataDir}/${if (c.split == "train") c.trainSubdir else c.testSubdir}"
    // ingest + preprocess + stream (S1, F1–F5, T1–T5, O1/O2); msg_idx is
    // the FULL-stream arrival index — what the detectors see. Persisted
    // because dupScored reads it twice; released once the fold is in
    val msgs = SccJsonSource.messageStream(spark, splitDir, c.maxMessages, c.allMessages)
      .select(col("msg_idx"), col("body"))
      .persist()
    try summaryJson(c, detect(msgs, c)) finally msgs.unpersist()
  }

  /** Every detector read of [[run]] over a (msg_idx, body) stream: the
    * distributed dup scoring, then one [[fold]] in one task, one collect. */
  private[graft] def detect(msgs: DataFrame, c: Config): Detected = {
    // probes case-fold here, before the fold (T8, frequency_detector.py:93-96)
    val probes = c.freqQueries.map(_.toLowerCase)
    scoredStream(msgs)
      .mapPartitions(it => Iterator(fold(it, c, probes)))(Encoders.javaSerialization[Detected])
      .collect().headOption
      // an empty stream may plan as zero partitions: no task, no fold
      .getOrElse(fold(Iterator.empty, c, probes))
  }

  /** The reference's summary JSON (run_detectors.py:227-243). */
  private def summaryJson(c: Config, d: Detected): String = {
    import org.json4s._
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods._
    // the reference's top-token payloads are ORDERED dicts (token -> count,
    // run_detectors.py:196,216) — render as JObject to preserve both shape
    // and ranking order
    def tokenDict(entries: Seq[(String, Long)]): JObject =
      JObject(entries.toList.map { case (t, c) => JField(t, JInt(c)) })
    def burstJson(entries: Seq[Burst]) =
      entries.toList.map { b =>
        ("ratio" -> b.ratio) ~
          ("recent_count" -> b.recent) ~
          ("prev_count" -> b.prev) ~
          ("representative" -> b.token)
      }
    val snapshotsJson = d.snapshots.toList.zipWithIndex.map { case (s, i) =>
      ("message_count" -> ((i + 1L) * c.updateInterval)) ~
        ("top_10_tokens" -> tokenDict(s.top)) ~
        ("burst" -> burstJson(s.burst)) ~
        ("duplicates_so_far" -> s.dupsSoFar)
    }
    val n = d.processed
    val json =
      ("split" -> c.split) ~
        ("processed" -> n) ~
        ("excluded_duplicates" -> (if (c.excludeDuplicates) d.streamed - n else 0L)) ~
        ("update_interval" -> c.updateInterval) ~
        ("frequency_estimates" -> c.freqQueries.zip(d.probes).toMap) ~
        ("duplicates" ->
          ("total" -> d.dupTotal) ~
            ("rate" -> (if (n > 0) d.dupTotal.toDouble / n else 0.0)) ~
            ("avg_score" -> (if (n > 0) d.dupScoreSum / n else 0.0))) ~
        ("periodic_snapshots" -> snapshotsJson) ~
        ("final burst" -> burstJson(d.finalBurst)) ~
        ("final top_tokens" -> tokenDict(d.finalTop)) ~
        ("messages" -> (if (c.showText) Some(d.shown.toList.map { m =>
          ("text" -> m.body) ~
            ("duplicate" ->
              (("is_duplicate" -> m.isDuplicate) ~
                ("duplicate_score" -> m.dupScore))) ~
            ("burst" -> burstJson(m.burst))
        }) else None))
    pretty(render(json))
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

  /** The scored stream as one partition in arrival order: the fold's
    * input. `msg_idx` may be an Int or a Long column. */
  private[graft] def scoredStream(msgs: DataFrame): Dataset[Scored] =
    dupScored(msgs)
      .select(col("msg_idx").cast("long").as("msg_idx"), col("body"), col("dup_score"),
        col("is_duplicate"))
      .coalesce(1).sortWithinPartitions(col("msg_idx"))
      .as[Scored](Encoders.product[Scored])

  /** Spark's string order (UTF-8 bytes) on Java strings, whose own
    * `compareTo` orders UTF-16 units and so puts a surrogate pair (above
    * U+FFFF) below U+E000–U+FFFF. */
  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }
  private val topOrder: Ordering[(String, Long)] =
    Ordering.Tuple2(Ordering.Long.reverse, utf8Order).on(e => (e._2, e._1))
  private val burstOrder: Ordering[Burst] =
    Ordering.Tuple3(Ordering.Double.TotalOrdering.reverse, Ordering.Long.reverse, utf8Order)
      .on(b => (b.ratio, b.recent, b.token))

  /** The reference's single pass (SURVEY §1) over the scored stream in
    * arrival order. Every message, excluded ones included, feeds the
    * detector state: the token counts (the CMS, exact here) and the ring
    * of the last 2·RecentK messages' tokens (the DGIM window). Kept
    * messages alone feed the counters, the snapshot cadence and the
    * tracked set (`recent_tokens`, which the reference fills after its
    * exclusion check, run_detectors.py:174-176). State is vocabulary-sized
    * plus the ring; only the output grows with the stream.
    *
    * Top-k is incremental: counts only grow and the tracked set only grows,
    * so a token outside the previous top-k whose count did not change
    * since is still beaten by all of it. Each top-k therefore ranks only
    * the previous one plus the tokens touched since, by `(cnt desc,
    * token)`. The final top-k is the same read at the end of the stream. */
  private[graft] def fold(stream: Iterator[Scored], c: Config, probes: Seq[String]): Detected = {
    val counts = mutable.HashMap.empty[String, Long]
    val tracked = mutable.HashSet.empty[String]
    val touched = mutable.HashSet.empty[String]
    val ring = mutable.Queue.empty[(Long, Array[String])]
    val snapshots = Vector.newBuilder[Snapshot]
    val shown = Vector.newBuilder[Shown]
    var top = Vector.empty[(String, Long)]
    var streamed, processed, dupTotal = 0L
    var dupScoreSum = 0.0
    var last = -1L

    def topK(): Vector[(String, Long)] = {
      val cand = top.iterator.map(_._1) ++ touched.iterator.filter(tracked)
      top = cand.distinct.map(t => (t, counts(t))).toVector.sorted(topOrder)
        .take(c.topFrequency)
      touched.clear()
      top
    }
    // the window ending at msg_idx e: the RecentK most recent messages
    // against the RecentK before them (burst_detector.py:43-77). e is the
    // newest msg_idx and msg_idx has no gaps, so the ring is that window.
    def burst(e: Long): Vector[Burst] = {
      val recent = mutable.HashMap.empty[String, Long]
      val prev = mutable.HashMap.empty[String, Long]
      ring.foreach { case (j, toks) =>
        val m = if (j > e - RecentK) recent else prev
        toks.foreach(t => m(t) = m.getOrElse(t, 0L) + 1)
      }
      recent.iterator.map { case (t, r) =>
        val p = prev.getOrElse(t, 0L)
        Burst(t, r, p, (r + BurstEps) / (p + BurstEps))
      }.filter(_.ratio >= BurstThreshold).toVector.sorted(burstOrder)
    }

    stream.foreach { m =>
      val toks = if (m.body == null) Array.empty[String] else m.body.split(" ").filter(_.nonEmpty)
      streamed += 1
      last = m.msg_idx
      toks.foreach { t => counts(t) = counts.getOrElse(t, 0L) + 1; touched += t }
      ring.enqueue((m.msg_idx, toks))
      if (ring.size > 2 * RecentK) ring.dequeue()
      // exclusion happens AFTER the detectors saw the message (trap #2)
      if (!(c.excludeDuplicates && m.is_duplicate)) {
        processed += 1
        if (m.is_duplicate) dupTotal += 1
        // summed in arrival order, as the reference does: in another
        // order the last digits of the reported average change
        dupScoreSum += m.dup_score
        tracked ++= toks
        if (c.showText) shown += Shown(m.body, m.dup_score, m.is_duplicate, burst(m.msg_idx))
        // a snapshot only where `processed % update_interval == 0` fires
        // (run_detectors.py:193)
        if (processed % c.updateInterval == 0)
          snapshots += Snapshot(topK(), burst(m.msg_idx), dupTotal)
      }
    }
    Detected(streamed, processed, dupTotal, dupScoreSum,
      probes.map(counts.getOrElse(_, 0L)), snapshots.result(),
      topK(), burst(last), shown.result())
  }

  /** The periodic_snapshots payload of [[run]] as a driver-checkable FRAME
    * (r9 verdict stretch #9): one row per (snapshot, rank ≤ topFrequency)
    * carrying the snapshot's cumulative top-token counts plus its
    * message_count, trailing-window burst count, and cumulative duplicate
    * total — the same [[fold]] run() reads, over an arbitrary (msg_idx,
    * body) message stream numbered from 0. Exclusion is off (the default
    * CLI path), so kept ≡ streamed. */
  private[graft] def snapshotSummary(msgs: DataFrame,
      updateInterval: Int, topFrequency: Int): DataFrame = {
    val c = Config(updateInterval = updateInterval, topFrequency = topFrequency)
    scoredStream(msgs).mapPartitions { it =>
      fold(it, c, Nil).snapshots.iterator.zipWithIndex.flatMap { case (s, i) =>
        s.top.iterator.zipWithIndex.map { case ((t, n), r) =>
          SummaryRow(i, (i + 1L) * updateInterval, r + 1, t, n, s.burst.size, s.dupsSoFar)
        }
      }
    }(Encoders.product[SummaryRow]).toDF()
  }

  /** Registered form over the driver tables: documents in doc_id order are
    * the message stream (arrival index via the distributed global rank,
    * not a single-task window), raw whitespace tokens, interval 25 /
    * top-5 so sf0.001 already yields two snapshots. The stream is capped
    * at [[SnapMaxMsgs]] — the CLI's own `--max-messages` bound (the
    * reference defaults to 200), which also fixes the oracle's output
    * whatever the corpus size. The cap is applied
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
    val spark = Sessions.builder("4").config("spark.sql.session.timeZone", "UTC").getOrCreate()
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
