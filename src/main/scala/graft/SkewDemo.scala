package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Adversarial-skew measurement for the r16 de-windowing: times the
  * retired count-over-Window(fp) shape against the shipped partial-agg
  * groupBy + join-back on a degenerate corpus (half the rows are ONE
  * duplicated document), and asserts both produce identical stats. The
  * window shape routes every hot-fingerprint row into one un-splittable
  * task; the agg shape collapses the hot key map-side. Emits one JSON
  * line per shape (median of reps) → scripts capture it as
  * skew_demo_r16.json.
  *
  * SPARK_GRAFT_SKEWDEMO_DOCS overrides the per-half row count (default
  * 2,000,000 — visible straggle at local[32], runs in ~a minute).
  */
object SkewDemo {
  /** The retired shape, verbatim from pre-r16 Dedup.exact. */
  private[graft] def exactWindow(fp: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    fp.withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
      .select(col("doc_id"), col("fp"), col("group_size"), col("keep"))
  }

  /** The shipped shape (Dedup.exactCore's stats tail, minus the
    * presentation sort shared by both twins here). */
  private[graft] def exactAgg(fp: DataFrame): DataFrame = {
    val dups = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("gs"), min(col("doc_id")).as("min_id"))
      .filter(col("gs") >= 2)
      .persist()
    dups.count() // mirror the shipped shape: true stats -> broadcast
    fp.join(dups, Seq("fp"), "left")
      .withColumn("group_size", coalesce(col("gs"), lit(1L)))
      .withColumn("keep", col("min_id").isNull || col("doc_id") === col("min_id"))
      .select(col("doc_id"), col("fp"), col("group_size"), col("keep"))
  }

  private[graft] def checksum(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("group_size")),
      sum(when(col("keep"), 1L).otherwise(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Longest single task seen since the last reset — THE cluster-scale
    * metric: local[32] hides a straggler behind 31 busy siblings, but on
    * a real cluster the largest un-splittable task is the wall floor no
    * executor count can lower. */
  private[graft] class MaxTaskListener extends org.apache.spark.scheduler.SparkListener {
    @volatile var maxMs: Long = 0L
    // largest per-task shuffle-read record count — the DETERMINISTIC twin
    // of maxMs (r17 ADVICE: the SkewSpec regression gate asserted on
    // wall-clock ratios, which scheduler noise can flake on a loaded box;
    // the records a task reads are a pure function of the plan + data)
    @volatile var maxShuffleRows: Long = 0L
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      if (e.taskInfo != null) {
        val d = e.taskInfo.duration
        if (d > maxMs) maxMs = d
      }
      if (e.taskMetrics != null && e.taskMetrics.shuffleReadMetrics != null) {
        val r = e.taskMetrics.shuffleReadMetrics.recordsRead
        if (r > maxShuffleRows) maxShuffleRows = r
      }
    }
    def reset(): Unit = { maxMs = 0L; maxShuffleRows = 0L }
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SKEWDEMO_DOCS", "2000000").toLong
    val spark = Sessions.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new MaxTaskListener
    spark.sparkContext.addSparkListener(listener)
    // n hot rows share one fingerprint; n unique rows are singletons.
    // fp is precomputed (a plain md5 over a synthetic key) so the timed
    // difference is the STATS shape, not tokenization.
    val fp = spark.range(2 * n).select(col("id").as("doc_id"),
        when(col("id") < n, md5(lit("hot")))
          .otherwise(md5(concat(lit("u"), col("id")))).as("fp"))
      .persist()
    fp.count()
    def time(mk: => DataFrame): (Double, Double, (Long, Long, Long)) = {
      Thread.sleep(300) // let straggler task-end events drain
      listener.reset()
      val t0 = System.nanoTime
      val cs = checksum(mk)
      val wall = (System.nanoTime - t0) / 1e9
      Thread.sleep(300) // let straggler task-end events drain
      (wall, listener.maxMs / 1e3, cs)
    }
    // warm both paths once, then take the wall-median of 3
    def med(mk: => DataFrame): (Double, Double, (Long, Long, Long)) = {
      time(mk)
      val runs = (1 to 3).map(_ => time(mk))
      runs.foreach { case (w, m, _) =>
        println(f"[skewdemo] run wall=$w%.3f max_task=$m%.3f") }
      runs.sortBy(_._1).apply(1)
    }
    val (wWall, wMaxTask, wCs) = med(exactWindow(fp))
    val (aWall, aMaxTask, aCs) = med(exactAgg(fp))
    if (sys.env.contains("SPARK_GRAFT_SKEWDEMO_EXPLAIN")) {
      val d = exactAgg(fp); d.collect()
      println(d.queryExecution.executedPlan.toString)
    }
    require(wCs == aCs, s"shapes disagree: window=$wCs agg=$aCs")
    require(wCs._1 == 2 * n && wCs._3 == n + 1,
      s"unexpected stats for n=$n: $wCs")
    println(f"""{"metric":"skew_demo","rows":${2 * n},"hot_rows":$n,""" +
      f""""window_wall":$wWall%.3f,"window_max_task":$wMaxTask%.3f,""" +
      f""""agg_wall":$aWall%.3f,"agg_max_task":$aMaxTask%.3f,""" +
      f""""max_task_ratio":${wMaxTask / math.max(aMaxTask, 0.001)}%.1f,""" +
      f""""checksum_equal":true}""")
    spark.stop()
  }
}
