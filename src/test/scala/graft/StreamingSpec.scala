package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Cross-batch streaming-state semantics (SURVEY.md ST5): the single-batch
  * AvailableNow run in Verify can't show state carrying across triggers, so
  * drive a MemoryStream two batches apart and assert check-then-insert
  * behavior — first sight never flags, later sights do (fidelity trap #1). */
class StreamingSpec extends SparkSpec {
  import graft.streaming.StreamingOps.{ShinglePair, checkThenInsert}

  test("stateful dedup: state persists across triggers (check-then-insert)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ShinglePair]
    val flags = input.toDS().groupByKey(_.sh)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(checkThenInsert)
    val q = flags.toDF().writeStream.format("memory").queryName("test_dedup_sink")
      .outputMode("update").start()
    try {
      // batch 1: doc 1 introduces shingle "a b c"; doc 2 repeats it
      input.addData(ShinglePair(1, "a b c"), ShinglePair(2, "a b c"))
      q.processAllAvailable()
      // batch 2: doc 3 repeats it from cold state; doc 4 introduces a new one
      input.addData(ShinglePair(3, "a b c"), ShinglePair(4, "x y z"))
      q.processAllAvailable()
      val rows = spark.table("test_dedup_sink").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("seen")).toMap
      assert(rows(1) == 0.0, "first sight must not flag")
      assert(rows(2) == 1.0, "same-batch later sight must flag")
      assert(rows(3) == 1.0, "cross-batch sight must flag (state persisted)")
      assert(rows(4) == 0.0, "new shingle in batch 2 must not flag")
    } finally q.stop()
  }

  test("streaming windowed counts equal the batch tumbling aggregation") {
    val streamed = SparkEntry.queries("stream_windowed_counts")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.Tables.events(spark, sf001)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("stream-static enrichment equals the batch dimension join") {
    val streamed = SparkEntry.queries("stream_static_enrich")(spark, sf001)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_above_avg"), r.getAs[Double]("above_share"))).toSet
    val docs = graft.Tables.documents(spark, sf001)
    val dim = docs.groupBy(col("source")).agg(avg(col("n_chars")).as("avg_chars"))
    val batch = docs.join(dim, "source")
      .withColumn("above", (col("n_chars") > col("avg_chars")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("above")).as("n_above_avg"))
      .withColumn("above_share",
        round(col("n_above_avg").cast("double") / col("n_docs"), 4))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_above_avg"), r.getAs[Double]("above_share"))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("incremental intake: links are independent of the session's shuffle sizing") {
    // r19 (r18 verdict #1): the intake foreachBatch body runs at the
    // session's shuffle sizing (its output write was throttled by the
    // replay tuning's 4 writer tasks at 1000×); partitioning is a
    // physical property, so the emitted links must be identical at a
    // width other than the suite's 4.
    def run() = SparkEntry.queries("stream_incremental_intake")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val default = run()
    val wide = Sessions.withConf(spark, "spark.sql.shuffle.partitions" -> "13")(run())
    assert(default.nonEmpty && default == wide)
  }

  test("foreachBatch sink: replaying a batch overwrites, never duplicates") {
    import spark.implicits._
    val out = TmpDirs.create("graft_febatch_test").toString
    val batch = (1L to 100L).toDF("event_id")
    // at-least-once delivery: the same batchId arrives twice (failure
    // between the sink write and the checkpoint commit) — the second
    // attempt must REPLACE the first, not append to it
    graft.streaming.StreamingOps.writeBatchIdempotent(batch, 0L, out)
    graft.streaming.StreamingOps.writeBatchIdempotent(batch, 0L, out)
    graft.streaming.StreamingOps.writeBatchIdempotent(batch.limit(50), 1L, out)
    val readBack = graft.streaming.StreamingOps.readSink(spark, out, "event_id BIGINT")
    assert(readBack.count() == 150,
      s"replayed batch 0 must not duplicate: ${readBack.count()}")
  }

  test("stream_stream_join: the state partition count doesn't change results (r20)") {
    // the state partition count is sizing of the state operators' shuffle
    // width, so the joined output must be row-identical under any count.
    def rows(partitions: Option[Int]) =
      graft.streaming.StreamingOps.streamStreamJoin(spark, sf001, partitions).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val default = rows(None)
    val forced = rows(Some(7))
    assert(default.nonEmpty && default == forced,
      s"partition sizing changed the join output: ${default.size} vs ${forced.size}")
  }

  test("replayPartitions: 4 up to 32 MiB of streamed input, then bytes / 4 MiB in [4, cpus]") {
    val MiB = 1024L * 1024
    // sparse files: only the sizes matter to the derivation
    def dataset(files: (String, Long)*): String = {
      val dir = TmpDirs.create("graft_replay_parts")
      files.foreach { case (rel, n) =>
        val f = dir.resolve(rel).toFile
        f.getParentFile.mkdirs()
        val raf = new java.io.RandomAccessFile(f, "rw")
        try raf.setLength(n) finally raf.close()
      }
      dir.toString
    }
    import graft.streaming.StreamingOps.replayPartitions
    assert(replayPartitions(dataset("events.parquet" -> 32 * MiB, "documents.parquet" -> MiB), 64) == 4)
    assert(replayPartitions(dataset("events.parquet" -> MiB, "documents.parquet" -> 32 * MiB), 64) == 4)
    // the larger of the two tables sets the count
    assert(replayPartitions(dataset("events.parquet" -> 100 * MiB, "documents.parquet" -> 40 * MiB), 64) == 25)
    assert(replayPartitions(dataset("events.parquet" -> MiB, "documents.parquet" -> 100 * MiB), 64) == 25)
    // a directory of part files counts its total size
    assert(replayPartitions(dataset("events.parquet/part0.parquet" -> 30 * MiB,
      "events.parquet/part1.parquet" -> 30 * MiB, "documents.parquet" -> MiB), 64) == 15)
    // clamped to the session's cores above, and never below 4
    assert(replayPartitions(dataset("events.parquet" -> 400 * MiB, "documents.parquet" -> MiB), 16) == 16)
    assert(replayPartitions(dataset("events.parquet" -> (32 * MiB + 1), "documents.parquet" -> MiB), 64) == 8)
    assert(replayPartitions(dataset("events.parquet" -> 100 * MiB, "documents.parquet" -> MiB), 2) == 4)
  }
}
