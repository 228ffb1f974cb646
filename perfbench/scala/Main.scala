package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{RunDetectors, SparkEntry}
import graft.functions.Text
import graft.sources.SccJsonSource

/** One benchmark process: set up a session, run the workload's passes,
  * write what it measured as one JSON file. `run.py` starts it and turns
  * that file into the result line.
  *
  *   Main --workload W --data DIR --work DIR --out FILE --seconds S
  *        --trace 0|1 --cpus N [--oracle-dir DIR]
  *
  * Set-up is the time from JVM start to the end of one untimed warm
  * pass; then passes are timed for S seconds (at least two; four for
  * scc_stream). A traced
  * run instead repeats untraced, traced, untraced passes for S seconds
  * (at least once) and reports the per-layer split of the traced ones.
  */
object Main {

  final case class Args(workload: String, data: String, work: String,
      out: String, seconds: Double, trace: Boolean, cpus: Int,
      oracleDir: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, m.get("oracle-dir"))
  }

  val CurationMix = Seq("dedup_exact", "sim_knn_ivf", "ta_tfidf",
    "sketch_cms_token_freq", "text_top_tokens")

  val ReplayMix = Seq("stream_session_window", "stream_stream_join", "stream_dgim_burst")

  /** ops module of a curation query, for the per-module totals. */
  def module(q: String): String =
    if (q.startsWith("dedup_")) "dedup"
    else if (q.startsWith("sim_")) "similarity"
    else if (q.startsWith("ta_")) "text_analysis"
    else if (q.startsWith("sketch_")) "sketches"
    else "text_pipeline"

  /** The CLI's session (RunDetectors.main's settings) for scc_stream;
    * the engine harnesses' session, with the native function extensions,
    * for the query mixes. */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/local")
    if (a.workload != "scc_stream") b.withExtensions(new graft.functions.GraftExtensions)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Order-independent hash of a frame's rows: forces full evaluation
    * (unlike a bare count) and compares across passes. */
  def rowHash(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(sum(pmod(col("h"), lit(2147483647L))).as("s"), count(lit(1)).as("n"))
      .collect()(0)
    s"${if (r.isNullAt(0)) 0L else r.getLong(0)}:${r.getLong(1)}"
  }

  def md5(s: String): String = graft.TmpDirs.md5Hex(s)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def treeStats(root: Path): (Int, Long) =
    if (!Files.exists(root)) (0, 0L)
    else {
      val walk = Files.walk(root)
      try {
        var ok = 0; var bytes = 0L
        walk.forEach { p =>
          if (p.getFileName.toString == "_GRAFT_OK") ok += 1
          if (Files.isRegularFile(p)) bytes += Files.size(p)
        }
        (ok, bytes)
      } finally walk.close()
    }

  // ------------------------------------------------------------ output

  final class Result {
    var setup = 0.0
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val errors = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0L
    var failed = 0L
    var summary: Option[String] = None
    val oracle = mutable.LinkedHashMap.empty[String, String]
    val oracleSql = mutable.LinkedHashMap.empty[String, String]

    def layer(name: String, v: Double): Unit =
      layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

    def fail(what: String): Unit = { failed += 1; errors += what }

    def write(path: String): Unit = {
      import org.json4s._
      import org.json4s.jackson.Serialization
      implicit val formats: Formats = DefaultFormats
      val doc = Map(
        "setup_s" -> setup,
        "passes" -> passes.toList,
        "layers" -> layers.map { case (k, v) => k -> v.toList }.toMap,
        "errors" -> errors.toList,
        "spans" -> spans.toList,
        "attempted" -> attempted,
        "failed" -> failed,
        "summary" -> summary.getOrElse(""),
        "oracle" -> oracle.toMap,
        "oracle_sql" -> oracleSql.toMap)
      Files.write(Paths.get(path), Serialization.write(doc).getBytes("UTF-8"))
    }
  }

  // ------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    try {
      run(a, res)
    } catch {
      case NonFatal(e) =>
        res.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }
    res.write(a.out)
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0) // no lingering non-daemon thread may hold the run open
  }

  /** Nanotime at which this JVM started. */
  private def jvmStartNs: Long = {
    val sinceStartMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime
    System.nanoTime() - sinceStartMs * 1000000L
  }

  // -------------------------------------------------------- scc pipeline

  /** The CLI flags of scc_stream: the whole stream, a snapshot every 500
    * messages, the reference's other defaults. */
  def sccConfig(data: String): RunDetectors.Config =
    RunDetectors.Config(dataDir = data, maxMessages = Int.MaxValue, updateInterval = 500)

  /** One CLI call: the summary JSON, checked to hash the same on every
    * call of the process. */
  def cliCall(spark: SparkSession, cfg: RunDetectors.Config, res: Result): String = {
    res.attempted += 1
    // the CLI persists its frames and never unpersists; a fresh process
    // starts with nothing cached, so every call here does too
    val out = try RunDetectors.run(spark, cfg) finally spark.catalog.clearCache()
    res.summary match {
      case None => res.summary = Some(out)
      case Some(first) if md5(first) != md5(out) => res.fail("summary hash differs between passes")
      case _ => ()
    }
    out
  }

  def scan(spark: SparkSession, dir: String): Unit =
    noop(SccJsonSource.scrubbedMessages(spark, dir))

  /** The scc layer probes, each in its own span: the source scan,
    * preprocessing, the T1-T5 expression chain alone, the CLI call, then
    * the detector stages on the persisted stream. Returns the CLI span. */
  def sccTraced(spark: SparkSession, data: String, probe: Probe, res: Result): Span = {
    val cfg = sccConfig(data)
    val dir = s"$data/${cfg.testSubdir}"
    val (_, sc) = probe.span("sources.scan")(scan(spark, dir))
    val (_, prep) = probe.span("sources.preprocess")(
      noop(SccJsonSource.preprocessedMessages(spark, dir)))
    val bodies = SccJsonSource.scrubbedMessages(spark, dir).select(col("body")).persist()
    noop(bodies)
    val (_, fexpr) = probe.span("functions.preprocess_expr")(noop(bodies.select(
      array_join(Text.lemmaStopTokens(Text.rawAlphaTokens(col("body"))), " ").as("b"))))
    bodies.unpersist()
    val (summary, det) = probe.span("detectors.run")(cliCall(spark, cfg, res))
    // the stream exactly as RunDetectors.run builds it
    val order = Seq(col("time").asc_nulls_last, col("body"), col("src_file"), col("raw_body"))
    val msgs = SccJsonSource.preprocessedMessages(spark, dir)
      .filter(col("body") =!= "").orderBy(order: _*).limit(cfg.maxMessages)
      .withColumn("msg_idx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*)) - 1)
      .select(col("msg_idx"), col("body")).persist()
    val kept = msgs.count()
    val (_, dup) = probe.span("detectors.dup_scored")(noop(RunDetectors.dupScored(msgs)))
    val (_, snap) = probe.span("detectors.snapshot_summary")(rowHash(
      RunDetectors.snapshotSummary(msgs, cfg.updateInterval, cfg.topFrequency)))
    msgs.unpersist()

    val nSnap = org.json4s.jackson.JsonMethods.parse(summary) \ "periodic_snapshots" match {
      case org.json4s.JArray(xs) => xs.size
      case _ => 0
    }
    res.layer("sources.scan_s", probe.seconds(sc))
    res.layer("sources.preprocess_s", probe.seconds(prep) - probe.seconds(sc))
    res.layer("sources.messages_kept", kept.toDouble)
    res.layer("functions.preprocess_expr_s", probe.seconds(fexpr))
    res.layer("detectors.run_s", probe.seconds(det))
    res.layer("detectors.dup_scored_s", probe.seconds(dup))
    res.layer("detectors.snapshot_summary_s", probe.seconds(snap))
    res.layer("detectors.snapshots", nSnap.toDouble)
    res.layer("detectors.jobs_per_snapshot",
      probe.inclusive(det).jobs.toDouble / math.max(1, nSnap))
    engineLayers(probe, det, res)
    det
  }

  /** Engine counters of the span that carries the workload's work. */
  def engineLayers(probe: Probe, s: Span, res: Result): Unit = {
    val c = probe.inclusive(s)
    val mb = 1048576.0
    res.layer("spark.jobs", c.jobs.toDouble)
    res.layer("spark.stages", c.stages.toDouble)
    res.layer("spark.tasks", c.tasks.toDouble)
    res.layer("spark.actions", c.actions.toDouble)
    res.layer("spark.planning_s", c.planningMs / 1e3)
    res.layer("spark.driver_s", probe.seconds(s) - c.jobUnionMs / 1e3)
    res.layer("spark.task_s", c.taskRunMs / 1e3)
    res.layer("spark.sched_delay_s", c.schedDelayMs / 1e3)
    res.layer("spark.gc_s", c.gcMs / 1e3)
    res.layer("spark.input_mb", c.inputBytes / mb)
    res.layer("spark.shuffle_write_mb", c.shuffleWrite / mb)
    res.layer("spark.shuffle_read_mb", c.shuffleRead / mb)
    res.layer("spark.spill_mb", c.spill / mb)
    res.layer("spark.peak_exec_mem_mb", c.peakExecMem / mb)
    res.layer("spark.failed_tasks", c.failedTasks.toDouble)
    res.layer("spark.rows_per_result", c.opRows.toDouble / math.max(1L, c.resultRows))
  }

  // ------------------------------------------------------ query mixes

  /** One pass of a query mix: each query's rows hashed and compared with
    * the warm pass's. Each query is a span, so traced runs split the wall;
    * a replay query whose state reports zero memory fails. With
    * `oracleDir` the rows are also written there for the DuckDB oracle. */
  def mixPass(spark: SparkSession, data: String, mix: Seq[String], probe: Probe,
      res: Result, hashes: mutable.Map[String, String], timed: Boolean,
      walls: mutable.Map[String, Double], oracleDir: Option[String] = None): Span = {
    val prefix = if (mix eq ReplayMix) "stream." else "op."
    probe.span("pass") {
      mix.foreach { q =>
        val (h, s) = probe.span(prefix + q) {
          try {
            val df = SparkEntry.queries(q)(spark, data)
            oracleDir match {
              case Some(root) =>
                df.write.mode("overwrite").parquet(s"$root/$q")
                res.oracle(q) = s"$root/$q"
                SparkEntry.oracleSql.get(q).foreach(sql => res.oracleSql(q) = sql)
                rowHash(spark.read.parquet(s"$root/$q"))
              case None => rowHash(df)
            }
          } catch {
            case NonFatal(e) => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}"
          } finally spark.catalog.clearCache()
        }
        walls(q) = probe.seconds(s)
        if (timed) {
          res.attempted += 1
          if (h.startsWith("error")) res.fail(s"$q: $h")
          else if (hashes.get(q).exists(_ != h)) res.fail(s"$q: row hash changed")
          else if ((mix eq ReplayMix) && s.counters.stateMemPeak <= 0)
            res.fail(s"$q: zero state memory")
        } else hashes(q) = h
      }
    }._2
  }

  // -------------------------------------------------------------- run

  def run(a: Args, res: Result): Unit = {
    val t0 = jvmStartNs
    val isScc = a.workload == "scc_stream"
    val mix = a.workload match {
      case "curation_batch" => CurationMix
      case "stream_replay" => ReplayMix
      case _ => Nil
    }
    val cfg = sccConfig(a.data)
    System.setProperty("spark.graft.modelstore", s"${a.work}/store")
    val storeDir = Paths.get(s"${a.work}/store")
    val spark = session(a)
    val probe = new Probe(spark, a.trace, "run")
    val hashes = mutable.Map.empty[String, String]
    val coldWalls = mutable.Map.empty[String, Double]

    // set-up: session start, then one untimed warm pass (for the
    // curation mix this is also where the fit-once artifacts are built
    // into the empty store). A traced run first times the cold and the
    // warm source scan, the source's first-use cost.
    if (isScc) {
      if (a.trace) {
        val dir = s"${a.data}/${cfg.testSubdir}"
        val (_, cold) = probe.span("sources.scan.first")(scan(spark, dir))
        val (_, warm) = probe.span("sources.scan.second")(scan(spark, dir))
        res.layer("sources.first_use_s", probe.seconds(cold) - probe.seconds(warm))
      }
      cliCall(spark, cfg, res)
    } else mixPass(spark, a.data, mix, probe, res, hashes, timed = false, coldWalls,
      a.oracleDir)
    res.setup = (System.nanoTime() - t0) / 1e9
    val storeAfterSetup = treeStats(storeDir)

    val heap = new HeapWatch
    lazy val plainProbe = new Probe(spark, trace = false, "plain")
    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var n = 0
    // the CLI's passes vary most (the number of jobs a call runs is not
    // fixed from call to call), so its median takes more of them
    val minPasses = if (a.trace) 1 else if (isScc) 4 else 2
    while (n < minPasses || elapsed < a.seconds) {
      val w = mutable.Map.empty[String, Double]
      def plainPass(p: Probe): Unit =
        if (isScc) cliCall(spark, cfg, res)
        else mixPass(spark, a.data, mix, p, res, hashes, timed = true, mutable.Map.empty)
      if (!a.trace) {
        probe.drain()
        val cpu0 = probe.cpuNs.get
        heap.reset()
        val t = System.nanoTime()
        plainPass(probe)
        val wall = (System.nanoTime() - t) / 1e9
        probe.drain()
        res.passes += Map("run_s" -> wall, "cpu_s" -> (probe.cpuNs.get - cpu0) / 1e9,
          "heap_live_peak_mb" -> heap.peakMb())
      } else {
        // tracing overhead: the traced work minus the mean of the same
        // work untraced just before and just after it
        def plainSeconds(): Double = {
          val t = System.nanoTime()
          plainPass(plainProbe)
          (System.nanoTime() - t) / 1e9
        }
        val before = plainSeconds()
        val traced =
          if (isScc) sccTraced(spark, a.data, probe, res)
          else mixPass(spark, a.data, mix, probe, res, hashes, timed = true, w)
        val after = plainSeconds()
        res.layer("trace.overhead_s", probe.seconds(traced) - (before + after) / 2)
        if (!isScc) engineLayers(probe, traced, res)
        if (mix eq ReplayMix) {
          val c = probe.inclusive(traced)
          res.layer("stream.batches", c.batches.toDouble)
          res.layer("stream.input_rows", c.inputRows.toDouble)
          res.layer("stream.state_mem_mb", c.stateMemPeak / 1048576.0)
          res.layer("stream.commit_s", c.commitMs / 1e3)
          res.layer("stream.rows_updated", c.rowsUpdated.toDouble)
        }
      }
      w.foreach { case (q, v) => walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += v }
      n += 1
    }

    val storeNow = treeStats(storeDir)
    if (a.trace && !isScc) {
      val prefix = if (mix eq ReplayMix) "stream." else "op."
      val med = walls.map { case (q, v) => q -> v.sorted.apply(v.size / 2) }
      med.foreach { case (q, v) => res.layer(s"$prefix${q}_s", v) }
      if (mix eq CurationMix) {
        med.groupBy(kv => module(kv._1)).foreach { case (m, qs) =>
          res.layer(s"ops.${m}_s", qs.values.sum)
        }
        // cold first call minus warm call, summed over the mix
        res.layer("modelstore.fit_s",
          med.map { case (q, v) => math.max(0.0, coldWalls.getOrElse(q, v) - v) }.sum)
        res.layer("modelstore.artifacts", storeAfterSetup._1.toDouble)
        res.layer("modelstore.mb", storeAfterSetup._2 / 1048576.0)
        res.layer("modelstore.timed_misses", (storeNow._1 - storeAfterSetup._1).toDouble)
      }
    }
    if (a.trace) res.spans ++= probe.spansJson(t0)
    probe.close()
  }
}
