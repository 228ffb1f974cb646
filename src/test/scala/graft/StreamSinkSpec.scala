package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The streaming queries' sinks: every query starts through one of
  * StreamingOps' two bounded-replay helpers, and the file-sink replays
  * read their sink back without Spark's sink-metadata probe, which a
  * `batch=*` glob triggers and which logs a FileNotFoundException trace
  * as a warning on every call. */
class StreamSinkSpec extends SparkSpec {

  private val FileSinkQueries = Seq("stream_stateful_dedup", "stream_drop_duplicates",
    "stream_curation_sink", "stream_foreach_batch", "stream_dedup_watermark",
    "stream_stream_join", "stream_session_window", "stream_incremental_intake")

  /** FileStreamSink's warning when a read path may be a streaming sink
    * with no `_spark_metadata` log under it. */
  private def isProbe(m: String): Boolean =
    m.contains("FileStreamSink") && m.contains("Assume no metadata directory")

  /** The messages logged while `body` runs, at the session's log level. */
  private def logged(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("graft-sink-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try body finally { root.removeAppender(capture); capture.stop() }
    seen.asScala.toSeq
  }

  test("file-sink replays read their sink back without the metadata-probe warning") {
    spark // the session sets the log level before the capture starts
    // control: the capture sees the probe a glob read of a sink makes
    val sink = TmpDirs.create("graft_sink_glob").toString
    graft.streaming.StreamingOps.writeBatchIdempotent(spark.range(3).toDF(), 0L, sink)
    val glob = logged(spark.read.schema("id BIGINT").parquet(s"$sink/batch=*").count())
    assert(glob.count(isProbe) == 1, glob.mkString("\n"))

    val replays = logged(FileSinkQueries.foreach(q => SparkEntry.queries(q)(spark, sf001).collect()))
    val probes = replays.filter(isProbe)
    assert(probes.isEmpty, probes.mkString("\n"))
  }

  test("AvailableNow starts only in the replay helpers, and src/main reads no batch=* glob") {
    val ops = Files.readString(Paths.get("src/main/scala/graft/streaming/StreamingOps.scala"))
    val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(ops).map(m => m.start -> m.group(1)).toSeq
    val owners = java.util.regex.Pattern.quote("Trigger.AvailableNow()").r.findAllMatchIn(ops)
      .map(m => defs.filter(_._1 < m.start).last._2).toSeq
    assert(owners.sorted == Seq("replayToFiles", "replayToMemory"), owners)

    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 20, "source tree not found from the test working directory")
    val globs = files.flatMap(f => Files.readAllLines(f).asScala.zipWithIndex
      .collect { case (l, i) if """"[^"]*batch=\*""".r.findFirstIn(l).isDefined =>
        s"${f.getFileName}:${i + 1}: ${l.trim}" })
    assert(globs.isEmpty, globs.mkString("\n"))
  }
}
