package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
import graft.streaming.StreamingOps.{ShinglePair, checkThenInsert}

/** Checkpoint recovery: stateful dedup state must survive a full query
  * STOP + RESTART (new query object, same checkpoint), with only newly
  * arrived files processed — the production property that in-session
  * multi-trigger tests can't show. Uses a file source (replayable, unlike
  * MemoryStream) and Trigger.AvailableNow per run. */
class StreamRestartSpec extends SparkSpec {

  private def dedupFlags(srcDir: String, checkpoint: String, outDir: String): Unit = {
    import spark.implicits._
    val src = spark.readStream
      .schema("doc_id LONG, sh STRING")
      .parquet(srcDir)
      .as[ShinglePair]
    val flags = src.groupByKey(_.sh)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(checkThenInsert)
    // memory sink cannot recover from a checkpoint; foreachBatch can, and
    // accepts update-mode stateful output
    val q = flags.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("dedup state survives stop + restart from checkpoint") {
    import spark.implicits._
    val srcDir = TmpDirs.create("graft_restart_src").toString
    val ckpt = TmpDirs.create("graft_restart_ckpt").toString
    val out1 = TmpDirs.create("graft_restart_out1").toString
    val out2 = TmpDirs.create("graft_restart_out2").toString

    // run 1: docs 1 and 2 carry the same shingle
    Seq(ShinglePair(1, "a b c"), ShinglePair(2, "a b c")).toDS()
      .write.mode("append").parquet(srcDir)
    dedupFlags(srcDir, ckpt, out1)
    val r1 = spark.read.parquet(out1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("seen")).toMap
    assert(r1 == Map(1L -> 0.0, 2L -> 1.0))

    // full stop happened (AvailableNow terminated); run 2 is a NEW query
    // over the same checkpoint with one new file
    Seq(ShinglePair(3, "a b c"), ShinglePair(4, "x y z")).toDS()
      .write.mode("append").parquet(srcDir)
    dedupFlags(srcDir, ckpt, out2)
    val r2 = spark.read.parquet(out2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("seen")).toMap
    // only the new file's rows are processed (offsets recovered), and doc 3
    // is flagged from RESTORED state, not from anything in this run's input
    assert(r2 == Map(3L -> 1.0, 4L -> 0.0),
      s"state/offsets must recover across restart, got $r2")
  }
}
