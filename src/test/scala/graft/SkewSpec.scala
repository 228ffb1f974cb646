package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-handling mechanics: manual key salting produces identical results
  * to the plain join while splitting a hot key across partitions — the
  * technique to reach for when AQE's skew-join splitting can't apply
  * (e.g. broadcast-ineligible aggregations keyed on a hot value). */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  /** The retired pre-r16 shape of Dedup.exact's stats: count and min over
    * a Window partitioned by fingerprint. */
  private def exactWindow(fp: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    fp.withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .select(col("doc_id"), col("fp"), col("group_size"), col("keep"))
  }

  private def checksum(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("group_size")),
      sum(when(col("keep"), 1L).otherwise(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Largest per-task shuffle-read record count since the last reset: on
    * a real cluster the largest un-splittable task is the wall floor no
    * executor count can lower, and the records it reads are a pure
    * function of plan + data (a wall-clock reading can flake on a loaded
    * box). */
  private class MaxTaskListener extends org.apache.spark.scheduler.SparkListener {
    @volatile var maxShuffleRows: Long = 0L
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && e.taskMetrics.shuffleReadMetrics != null) {
        val r = e.taskMetrics.shuffleReadMetrics.recordsRead
        if (r > maxShuffleRows) maxShuffleRows = r
      }
    def reset(): Unit = maxShuffleRows = 0L
  }

  test("salted aggregation equals plain aggregation on a skewed key") {
    // build a skewed frame: key 0 carries 50k rows, others 100 each
    val skewed = spark.range(50000).select(lit(0L).as("k"), col("id").as("v"))
      .union(spark.range(100 * 20).select((col("id") % 20 + 1).as("k"), col("id").as("v")))
    val plain = skewed.groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

    // two-stage salted aggregation: partial agg on (k, salt), final on k
    val SALTS = 8
    val salted = skewed
      .withColumn("salt", pmod(hash(col("v")), lit(SALTS)))
      .groupBy(col("k"), col("salt"))
      .agg(sum(col("v")).as("ps"), count(lit(1)).as("pn"))
      .groupBy(col("k"))
      .agg(sum(col("ps")).as("s"), sum(col("pn")).as("n"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

    assert(salted == plain, "salting must not change results")
  }

  test("salted broadcast join equals plain join under a hot key") {
    val SALTS = 4
    val fact = spark.range(20000).select(lit(7L).as("k"), col("id").as("v"))
      .union(spark.range(1000).select((col("id") % 10).as("k"), col("id").as("v")))
    val dim = spark.range(20).select(col("id").as("k"),
      concat(lit("dim_"), col("id")).as("name"))

    val plain = fact.join(dim, "k").groupBy(col("name"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // salt the fact side, explode the dim side across all salt values
    val factS = fact.withColumn("salt", pmod(hash(col("v")), lit(SALTS)))
    val dimS = dim.withColumn("salt", explode(array((0 until SALTS).map(lit): _*)))
    val saltedJoin = factS.join(dimS, Seq("k", "salt")).groupBy(col("name"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    assert(saltedJoin == plain, "salted join must not change results")
  }

  test("dedup stats survive a 50%-duplicate corpus with correct group math (r16)") {
    // The adversarial shape the r16 de-windowing targets: half the corpus
    // is ONE document. The partial-agg groupBy + join-back forms must
    // still produce exact group stats — and, structurally, no operator in
    // these plans buffers the hot key in one task (pinned in
    // PlanShapeSpec; here we pin the MATH on the degenerate corpus).
    val hot = (1L to 400L).map(i => (i, "the quick brown fox jumps over the lazy dog"))
    // uniqueness must be in LETTERS: the alpha-only tokenizer drops digits
    def word(i: Long) = "uniq" + ('a' + (i / 26 % 26)).toChar + ('a' + (i % 26)).toChar
    val rest = (401L to 800L).map(i => (i, s"unique document body ${word(i)} extra words"))
    val docs = (hot ++ rest).toDF("doc_id", "text")

    // exact dedup: the hot fingerprint forms one 400-strong group keeping
    // only its min doc_id; every unique doc is a singleton keeper
    val ex = graft.ops.Dedup.exactCore(spark, docs).collect()
    val hotRows = ex.filter(_.getAs[Long]("group_size") == 400L)
    assert(hotRows.length == 400, "one 400-doc group expected")
    assert(hotRows.count(_.getAs[Boolean]("keep")) == 1)
    assert(hotRows.filter(_.getAs[Boolean]("keep")).head.getAs[Long]("doc_id") == 1L)
    assert(ex.count(r => r.getAs[Long]("group_size") == 1L &&
      r.getAs[Boolean]("keep")) == 400)

    // cluster rep: every hot doc lands in one cluster with one keeper
    val rep = graft.ops.Dedup.clusterRepCore(spark, docs).collect()
    val hotCluster = rep.filter(r => r.getAs[Long]("doc_id") <= 400L)
      .map(_.getAs[Long]("cluster_id")).toSet
    assert(hotCluster.size == 1, s"hot docs must share one cluster: $hotCluster")
    assert(rep.filter(_.getAs[Long]("doc_id") <= 400L)
      .count(_.getAs[Boolean]("keep")) == 1)
  }

  test("de-windowed stats shape keeps the largest task splittable under a 50%-hot key") {
    // The r16 skew measurement as a REGRESSION GATE: on a corpus where
    // half the rows share ONE fingerprint, the largest task of the shipped
    // stats tail (Dedup.exactStats: partial-agg groupBy + join-back) must
    // stay well under the retired count-over-Window(fp) shape's — the
    // window buffers the whole hot group in one un-splittable task (the
    // wall floor no executor count can lower), the agg collapses it
    // map-side. CI-sized here (0.4M hot rows vs the r16 measurement's 2M,
    // taken by a since-retired demo main); skew_demo_r16.json carries
    // the full-size numbers (window 20.8 s vs agg 4.2 s largest task at
    // 60M rows). The gate asserts on the largest per-task SHUFFLE-READ
    // RECORD count — a pure function of plan + data (r17 ADVICE: the
    // former min-of-3 wall-clock ratio could flake on a loaded or
    // few-core box even at ~5× real headroom): the window shape must
    // route all n hot rows into one task (~n + uniques/parts records),
    // the agg shape's largest task reads only partial-agg outputs
    // (~uniques/parts records) — a 5× structural gap at 4 shuffle
    // partitions, asserted at 2×.
    val n = 400000L
    val fp = spark.range(2 * n).select(col("id").as("doc_id"),
        when(col("id") < n, md5(lit("hot")))
          .otherwise(md5(concat(lit("u"), col("id")))).as("fp"))
      .persist()
    fp.count()
    val listener = new MaxTaskListener
    spark.sparkContext.addSparkListener(listener)
    try {
      def maxRows(mk: => DataFrame): (Long, (Long, Long, Long)) = {
        Thread.sleep(200) // drain straggler task-end events
        listener.reset()
        val cs = checksum(mk)
        Thread.sleep(200)
        (listener.maxShuffleRows, cs)
      }
      val (wRows, wCs) = maxRows(exactWindow(fp))
      val (aRows, aCs) = maxRows(graft.ops.Dedup.exactStats(fp))
      assert(wCs == aCs, s"shapes disagree: window=$wCs agg=$aCs")
      assert(wCs == ((2 * n, n * n + n, n + 1)), s"unexpected stats: $wCs")
      assert(wRows >= n, s"window shape must buffer the hot group in one task ($wRows)")
      assert(aRows * 2 <= wRows,
        s"de-windowing regression: agg largest task reads $aRows shuffle records vs " +
          s"window $wRows — a content-keyed stats window is back in the agg path")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      fp.unpersist()
    }
  }
}
