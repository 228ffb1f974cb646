package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag
import graft.{QuerySpec, Sessions, TmpDirs}
import graft.functions.Text

/** Structured Streaming pipeline (SURVEY.md §7.2 M4, §2.8 ST1–ST7): the
  * reference's synchronous per-message loop re-expressed as incremental
  * streaming queries. Each entry here actually runs a streaming query
  * (file source → transforms → sink, Trigger.AvailableNow) and returns
  * what the sink holds, so the driver's batch-style verification applies;
  * semantics are identical to the batch twins, which is what makes these
  * oracle-checkable.
  *
  * Every query runs through one of two bounded-replay helpers, and the
  * sink is chosen by how the query's output grows:
  *  - [[replayToMemory]] (memory sink) when the output is bounded by a
  *    key domain — tokens, sources, hours × event types:
  *    stream_token_counts, stream_static_enrich, stream_windowed_counts,
  *    stream_sliding_window, stream_tws_counts, stream_dgim_burst and
  *    stream_dgim_contract;
  *  - [[replayToFiles]] (idempotent foreachBatch parquet sink) when the
  *    output grows with the stream, or when the durable sink is itself
  *    what the query certifies: the other eight (see there).
  *
  * At production scale the same plans run against a directory of arriving
  * files (or Kafka) with a real trigger; AvailableNow is the bounded-replay
  * switch, not a different program.
  */
object StreamingOps {

  /** The file streaming source requires a directory; stage the single
    * parquet file into a temp dir (in production the source is already a
    * directory of arriving files — this is test-layout shim, not design). */
  private val stagedDirs = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def stageAsDir(d: String, name: String): String =
    // keyed on (path, mtime, size) so a dataset regenerated at the same
    // path within one JVM re-stages instead of serving stale file copies
    stagedDirs.getOrElseUpdate((graft.Tables.datasetKey(d, name), name), {
      import java.nio.file._
      import scala.jdk.CollectionConverters._
      val dir = TmpDirs.create(s"graft_stream_$name")
      val src = Paths.get(s"$d/$name.parquet")
      // testdata ships single files; spark-written tables are directories
      // of part files — stage whichever layout we're given
      if (Files.isDirectory(src)) {
        // close the directory stream (it holds a file descriptor until GC
        // otherwise — same pattern as TmpDirs' Files.walk)
        val listing = Files.list(src)
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .zipWithIndex.foreach { case (p, i) =>
            Files.copy(p, dir.resolve(s"part$i.parquet"), StandardCopyOption.REPLACE_EXISTING)
          }
        finally listing.close()
      } else
        Files.copy(src, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      dir.toString
    })

  // Single-batch replay tuning, applied around every streaming query
  // here: RocksDB state store (large keyed state without the default
  // provider's per-batch in-memory map copies) and a state partition
  // count derived from the streamed input volume (r20 — see
  // replayPartitions; the r16 fixture-scale measurements that set the
  // old constant 4 are quoted there).

  /** Bytes of the larger streamed table (events or documents) in the
    * dataset dir — a driver-side file walk, no Spark job. The streaming
    * replays read exactly these two tables; state volume is proportional
    * to the streamed input, which is what the partition sizing must
    * track. */
  private def streamedInputBytes(d: String): Long = {
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(du).sum
      else f.length()
    Seq("events", "documents")
      .map(t => du(new java.io.File(s"$d/$t.parquet"))).max
  }

  /** Scale-adaptive state partition count (r20, from the state-store
    * attribution grid committed as `join_ab_r20_100x.json`): the r16
    * constant 4 was tuned at fixture scale, where per-instance
    * state-store open/commit overhead dominates (rocksdb_p32 8.7 s vs
    * p4 3.7 s at 1×). But RocksDB
    * instances are single-writer, so state INGEST parallelism must grow
    * with state volume: at 100× the same constant made
    * stream_stream_join 54-58 s where 32 partitions run it in 16.5-21.7 s
    * (and r19's 1000× watch paid 735 s). 4 below 32 MiB of streamed
    * input (every fixture sf), then one partition per 4 MiB up to the
    * session's core count — sf0.1 and the spec suites keep the exact
    * r16 plan, staged sweeps get the parallelism. On a cluster this is
    * deployment sizing; state operators pin partitioning at first start,
    * and every replay here starts from a fresh checkpoint dir. */
  private[graft] def replayPartitions(d: String, cpus: Int): Int = {
    val bytes = streamedInputBytes(d)
    if (bytes <= 32L * 1024 * 1024) 4
    else math.max(4, math.min(cpus, (bytes / (4L * 1024 * 1024)).toInt))
  }

  /** The fixed state-store configuration of every replay here.
    *  - RocksDB provider: the HDFS-backed default measured faster up to
    *    100× (13.3 s vs 16.5-21.7 s, `join_ab_r20_100x.json`) but holds
    *    every state row on the HEAP — memory-unsafe at deployment state
    *    volumes, the exact failure class the r16 storage rule exists for.
    *  - Changelog checkpointing on (r21, `stream_ab_r21_1x.json`): commit
    *    writes the batch's changelog instead of uploading a full RocksDB
    *    snapshot (the snapshot moves to background maintenance);
    *    stream_stream_join 3.6 -> 3.0 s median at 1×, and at deployment
    *    scale commit latency stops growing with total state size.
    *  - numTotalStateRows tracking off (r21): it is a METRIC ONLY, and
    *    maintaining it costs RocksDB a get-before-every-put; results never
    *    depend on it (ScaleGate reads state rows from `numRowsUpdated`). */
  private val StateStoreConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false")

  /** The state-store confs plus the state partition count, scoped to
    * `body`. `partitions` defaults to the scale-adaptive
    * [[replayPartitions]]; results are partition-independent
    * (StreamingSpec runs stream_stream_join at a forced count). */
  private def withReplayTuning[T](s: SparkSession, d: String,
      partitions: Option[Int] = None)(body: => T): T =
    Sessions.withConf(s, StateStoreConfs :+ ("spark.sql.shuffle.partitions" -> partitions
      .getOrElse(replayPartitions(d, s.sparkContext.defaultParallelism)).toString): _*)(body)

  /** Untimed bench warmup: throwaway stateful streaming queries over the
    * 5-row region table to absorb one-time streaming infrastructure costs
    * — RocksDB native library load, state-store provider init, checkpoint
    * scaffolding (~7 s measured) — which otherwise land on whichever
    * streaming query the bench's map order happens to run first, making
    * that query's number swing 3x round-over-round with no code change
    * (r3's phantom stream_stream_join "regression", r4's phantom
    * stream_session_window 7.5 s).
    *
    * One warmup query per STATEFUL-OPERATOR FAMILY, because each family has
    * its own first-use init on top of the shared RocksDB/provider cost:
    * dropDuplicates (streaming-dedup state manager), session_window (the
    * merging-sessions state manager — the r4 outlier's unabsorbed init),
    * and a watermarked stream-stream join (two-sided join state managers).
    */
  def warmup(s: SparkSession, d: String): Unit = {
    // 1) generic keyed-state init over the 5-row region table (RocksDB
    //    native load, provider init, checkpoint scaffolding)
    withReplayTuning(s, d) {
      val path = stageAsDir(d, "region")
      val schema = s.read.parquet(path).schema
      replayToMemory(s.readStream.schema(schema).parquet(path).dropDuplicates(),
        "graft_warmup_dedup", "append")
    }
    // 2) exact-shape warmup of the merging-sessions and stream-stream-join
    //    operators: the REAL query builders over a small slice of events
    //    (identical schema → identical generated code), so plan-specific
    //    fixed costs — whole-stage/state-operator codegen, session-merge
    //    and join state-manager first use — are absorbed untimed and the
    //    timed run pays only data-proportional work. Sink names are shared
    //    with the real queries; the warmup streams have terminated before
    //    the bench starts, so the memory tables are simply re-registered.
    val mini = miniDir(s, d, "events", 20000)
    sessionWindow(s, mini).count()
    streamStreamJoin(s, mini).count()
    // 3) keyed-DGIM flatMapGroupsWithState state machine: the REAL dgimBurst
    //    builder over a small documents slice, so the per-family first-use
    //    cost (flatMapGroupsWithState state manager + the Dgim
    //    restore/advance/snapshot hot loop's JIT ramp) is absorbed untimed —
    //    stream_dgim_burst was the one r5 outlier with no warmup coverage.
    dgimBurst(s, miniDir(s, d, "documents", 2000)).count()
  }

  /** Small table slices staged as throwaway sf-dirs, so the warmup can
    * run real query builders at negligible data size (one builder for
    * every table — review finding: the events and documents variants were
    * copy-paste twins). Events: 20k rows (~13% of sf0.1, a fixed cap at
    * larger SFs) — enough per-row iterations to JIT the state-operator
    * hot loops; a 5-row slice absorbed codegen but left ~1 s of
    * interpreter-mode first-run cost on the timed run. Documents: 2,000
    * docs ≈ 50k token arrivals for the keyed-DGIM hot loop. */
  private val miniDirs =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private def miniDir(s: SparkSession, d: String, table: String, limit: Int): String =
    miniDirs.getOrElseUpdate((graft.Tables.datasetKey(d, table), table), {
      val dir = TmpDirs.create(s"graft_stream_mini_$table")
      // a raw read of a TIMESTAMP(NANOS) events.ts needs the long-nanos
      // reader; the conf touches no other column type
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.read.parquet(s"$d/$table.parquet").limit(limit).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
      dir.toString
    })

  /** Memory-sink replay: runs `q` to the end of its input with
    * Trigger.AvailableNow and returns the memory table `table`. The memory
    * sink collects every emitted row on the driver, so only queries whose
    * output is bounded by a key domain use it. */
  private def replayToMemory(q: DataFrame, table: String, mode: String): DataFrame = {
    q.writeStream.format("memory").queryName(table).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    q.sparkSession.table(table)
  }

  /** File-sink replay: runs `q` to the end of its input with
    * Trigger.AvailableNow into a fresh `sink`-prefixed temp dir through
    * foreachBatch, then reads back every file under it ([[readSink]]).
    * Append and update modes write each micro-batch through
    * [[writeBatchIdempotent]]; complete mode re-emits the FULL result each
    * batch, so its write is a plain overwrite of the one sink dir — the
    * last batch's overwrite IS the complete result. A caller with its own
    * per-batch work passes `writeBatch` (batch, batchId, sink dir).
    *
    * Parquet, not memory (r13): the memory sink collects the whole stream
    * on the driver — the ONE true scale-killer the full-registry 100× gate
    * found was stream_stateful_dedup's per-shingle flag stream (~44 rows
    * per doc; OOM at 50M flag rows while the RocksDB state stayed flat at
    * 22k distinct keys). Every stream-proportional output lands here:
    * those flags, stream_drop_duplicates' distinct shingles and
    * stream_dedup_watermark's first arrivals (key-bounded, but keys grow
    * with a real corpus), stream_stream_join's event-proportional join
    * output and stream_session_window's user × session table. For
    * stream_foreach_batch, stream_curation_sink and
    * stream_incremental_intake the durable sink is the subject: re-reading
    * what was written is the exactly-once claim the oracle checks. */
  private def replayToFiles(q: DataFrame, sink: String, schema: String,
      mode: String = "append")(
      writeBatch: (DataFrame, Long, String) => Unit =
        if (mode == "complete") (batch, _, dir) => batch.write.mode("overwrite").parquet(dir)
        else writeBatchIdempotent): DataFrame = {
    val dir = TmpDirs.create(sink).toString
    q.writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) => writeBatch(batch, batchId, dir))
      .outputMode(mode).trigger(Trigger.AvailableNow()).start().awaitTermination()
    readSink(q.sparkSession, dir, schema)
  }

  /** Everything a file-sink replay wrote under `dir`, read with the
    * caller's explicit schema (an empty stream writes no part files, and
    * an inferred schema would fail on it). `recursiveFileLookup` over the
    * sink root rather than a `batch=*` glob: a glob makes Spark probe for
    * a `_spark_metadata` log under the pattern itself and log the
    * FileNotFoundException as a warning on every call. */
  private[graft] def readSink(s: SparkSession, dir: String, schema: String): DataFrame =
    s.read.schema(schema).option("recursiveFileLookup", "true").parquet(dir)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val eventSchemaNanos = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming source over the events table, adaptive to the two `ts`
    * layouts the driver data has shipped (see [[graft.Tables.events]]):
    * raw TIMESTAMP(NANOS) read as long nanos and rebuilt as µs, or
    * TIMESTAMP(MICROS) read as TIMESTAMP_NTZ and cast to the session-zone
    * instant. readStream needs an explicit schema, so the `ts` field type
    * is probed from the staged files with a one-off batch read (footer
    * only — no data scan). Downstream always sees a µs TimestampType
    * `ts`, so watermarks/windows/joins are layout-independent. */
  private[graft] def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = stageAsDir(d, "events")
    val tsType = s.read.parquet(dir).schema("ts").dataType
    val schema = StructType(eventSchemaNanos.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val src = s.readStream.schema(schema).parquet(dir)
    // one shared dispatch with the batch reader (Tables.normalizedTs):
    // batch and streaming views of the same table must never disagree
    graft.Tables.normalizedTs(src, "ts")
  }

  /** Streaming source over the documents table. */
  private def docsStream(s: SparkSession, d: String): DataFrame =
    s.readStream.schema(docSchema).parquet(stageAsDir(d, "documents"))

  /** ST3/A13 twin as a stream: running token counts (complete mode), final
    * state == the batch global top-20. */
  private def tokenCounts(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    val counts = docsStream(s, d).select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    replayToMemory(counts, "stream_tok_sink", "complete")
      .orderBy(col("cnt").desc, col("token")).limit(20)
  }

  private val tokenCountsSql =
    s"""SELECT token, count(*) AS cnt
       |FROM (SELECT unnest(${Text.toksSql}) AS token FROM documents)
       |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin

  /** ST2/ST4 twin: event-time tumbling windows with a watermark. window()
    * aligns to the epoch, so closed windows equal date_trunc('hour') —
    * which is exactly what the oracle checks. */
  private def windowedCounts(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    val src = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
    val agg = src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    replayToMemory(agg, "stream_win_sink", "complete")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  private val windowedCountsSql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------- stateful dedup

  // public: encoder-generated code cannot access private classes
  case class ShinglePair(doc_id: Long, sh: String)
  case class SeenFlag(doc_id: Long, seen: Double)

  /** [[statefulDedup]]'s per-shingle state step: the state is the lowest
    * doc_id seen so far, and a document counts as "seen" iff a strictly
    * earlier one carried the shingle, in this batch or a previous one. */
  private[graft] val checkThenInsert
      : (String, Iterator[ShinglePair], GroupState[Long]) => Iterator[SeenFlag] =
    (_, it, state) => {
      val arrived = it.toSeq.sortBy(_.doc_id)
      val priorMin = state.getOption.getOrElse(Long.MaxValue)
      val batchMin = arrived.head.doc_id
      val out = arrived.map { e =>
        val earlier = math.min(priorMin, batchMin)
        SeenFlag(e.doc_id, if (earlier < e.doc_id) 1.0 else 0.0)
      }
      state.update(math.min(priorMin, batchMin))
      out.iterator
    }

  /** ST5 twin — the reference's check-then-insert Bloom dedup
    * (duplicate_detector.py:52-61) as keyed streaming state: state per
    * shingle is the lowest doc_id that has carried it; a document's shingle
    * counts as "seen" iff some strictly-earlier document carried it
    * (fidelity trap #1, SURVEY.md §7.4). Exact (per-shingle state) instead
    * of approximate (one Bloom), hash-partitioned so state shards across
    * executors — the scale path for stateful stream dedup.
    */
  private def statefulDedup(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    import s.implicits._
    val pairs = docsStream(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(Text.shingles3(col("toks")))).as("sh"))
      .as[ShinglePair]
    val flags = pairs.groupByKey(_.sh)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(checkThenInsert)
    val scores = replayToFiles(flags.toDF(), "graft_stream_dedup_out",
        "doc_id BIGINT, seen DOUBLE", "update")()
      .groupBy(col("doc_id"))
      .agg(round(avg(col("seen")), 4).as("dup_score"))
    graft.Tables.documents(s, d).select(col("doc_id"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dup_score"), lit(0.0)).as("dup_score"))
      .withColumn("is_dup", col("dup_score") >= 0.7)
      .orderBy(col("doc_id"))
  }

  /** Same oracle as the batch twin text_dup_scores — the streaming stateful
    * path must land on identical numbers. */
  private val statefulDedupSql = {
    val pairsSql =
      s"""SELECT DISTINCT doc_id, unnest(${Text.shingles3Sql(Text.toksSql)}) AS sh
         |FROM documents""".stripMargin
    s"""WITH pairs AS ($pairsSql),
       |first_seen AS (SELECT sh, min(doc_id) AS first_doc FROM pairs GROUP BY sh),
       |scores AS (
       |  SELECT pairs.doc_id,
       |    round(avg(CASE WHEN first_doc < pairs.doc_id THEN 1.0 ELSE 0.0 END), 4)
       |      AS dup_score
       |  FROM pairs JOIN first_seen USING (sh) GROUP BY pairs.doc_id)
       |SELECT d.doc_id, coalesce(s.dup_score, 0.0) AS dup_score,
       |  coalesce(s.dup_score, 0.0) >= 0.7 AS is_dup
       |FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Built-in streaming dedup: dropDuplicates keyed state keeps the first
    * arrival per shingle across batches; the surviving-row count equals
    * the batch COUNT(DISTINCT) — which the oracle checks. (The richer
    * check-then-insert scoring is stream_stateful_dedup; this covers the
    * built-in operator itself.) */
  private def dropDupStream(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    val firstSeen = docsStream(s, d)
      .select(Text.tokens(col("text")).as("toks"))
      .select(explode(array_distinct(Text.shingles3(col("toks")))).as("sh"))
      .dropDuplicates("sh")
    replayToFiles(firstSeen, "graft_stream_dropdup_out", "sh STRING")()
      .agg(count(lit(1)).as("n_distinct_shingles"))
  }

  private val dropDupStreamSql =
    s"""SELECT count(DISTINCT sh) AS n_distinct_shingles
       |FROM (SELECT unnest(${Text.shingles3Sql(Text.toksSql)}) AS sh
       |      FROM documents)""".stripMargin

  /** Streaming twin of ta_curation_pipeline's front half — the
    * incremental form a production corpus intake runs: quality-gate
    * filter (map-only on the stream), stateful first-arrival dedup on the
    * cleaned-token fingerprint, durable foreachBatch parquet sink, then
    * accounting over what was actually written. Output is restricted to
    * fingerprint-determined quantities: WHICH duplicate survives a batch
    * is arrival-order-dependent, but duplicates share the fingerprint by
    * construction — identical cleaned tokens — so kept-doc and kept-token
    * counts are deterministic and equal the batch distinct-fingerprint
    * accounting the oracle computes. */
  private def curationSink(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    val src = docsStream(s, d)
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .filter(col("n_toks") >= 3)
      .withColumn("fp", md5(array_join(col("toks"), " ")))
      .dropDuplicates("fp")
      .select(col("fp"), col("n_toks"))
    // a corpus the quality gate filters out entirely writes no part files
    // and must return the zero-row aggregate
    replayToFiles(src, "graft_curation", "fp STRING, n_toks BIGINT")()
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_toks")).as("n_tokens_kept"))
  }

  private val curationSinkSql =
    s"""SELECT count(*) AS n_docs_kept,
       |  CAST(sum(n_toks) AS BIGINT) AS n_tokens_kept
       |FROM (
       |  SELECT md5(array_to_string(toks, ' ')) AS fp,
       |    min(CAST(len(toks) AS BIGINT)) AS n_toks
       |  FROM (SELECT ${Text.toksSql} AS toks FROM documents)
       |  WHERE len(toks) >= 3
       |  GROUP BY 1)""".stripMargin

  /** foreachBatch parquet sink — the production sink pattern for stores
    * without a native streaming writer: each micro-batch lands as its own
    * parquet directory keyed by batchId, so a replayed batch OVERWRITES
    * its own previous attempt instead of duplicating it (idempotent
    * exactly-once on top of at-least-once delivery — the same contract a
    * JDBC/warehouse foreachBatch sink implements with a transactional
    * MERGE). The query re-reads what was durably written and aggregates
    * it; equality with the batch aggregate over the source — checked by
    * the oracle — is precisely the exactly-once claim. */
  private def foreachBatchSink(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    val src = eventsStream(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    // min/max/count are order-independent, so the compare is float-exact
    // regardless of how rows distributed over batches (sum over 100k
    // doubles can differ in the last bit between accumulation orders)
    replayToFiles(src, "graft_febatch", "event_id BIGINT, event_type STRING, value DOUBLE")()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 4).as("min_value"),
        round(max(col("value")), 4).as("max_value"))
      .orderBy(col("event_type"))
  }

  /** The idempotent write a foreachBatch sink must make: mode=overwrite
    * into a batchId-keyed directory, so re-delivering a batch (the
    * at-least-once case after a failure between write and commit)
    * replaces its own previous attempt instead of appending duplicates.
    * Exposed so StreamingSpec can replay a batch and assert no
    * duplication. */
  private[graft] def writeBatchIdempotent(batch: DataFrame, batchId: Long, outDir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  private val foreachBatchSinkSql =
    """SELECT event_type, count(*) AS n,
      |  round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Watermark-bounded streaming dedup — `dropDuplicatesWithinWatermark`:
    * plain dropDuplicates state grows with distinct keys FOREVER, so on an
    * unbounded 100 TB stream it eventually OOMs every executor; the
    * within-watermark form evicts a key's state once the watermark passes
    * its event time, making state ∝ keys-per-watermark-window — the only
    * deployable streaming dedup. In a single AvailableNow replay the
    * watermark only advances after the batch, so every duplicate is still
    * in scope and the surviving set equals the batch distinct — which the
    * oracle checks. Dedup key: (user_id, event_type) — "count each user's
    * first view/purchase/click once". */
  private def dedupWithinWatermark(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    val src = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      // the sink only needs the dedup key; dropping ts here avoids a
      // timestamp parquet round-trip in the file sink below
      .select(col("user_id"), col("event_type"))
    replayToFiles(src, "graft_stream_wmdedup_out", "user_id BIGINT, event_type STRING")()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_first_arrivals"))
      .orderBy(col("event_type"))
  }

  private val dedupWithinWatermarkSql =
    """SELECT event_type, count(DISTINCT user_id) AS n_first_arrivals
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Stream-stream inner join with event-time range + watermarks: each
    * purchase joined to same-user views in the preceding hour. Both sides
    * buffer keyed state bounded by the watermark; AvailableNow over a
    * bounded input makes the result equal the batch range join — which is
    * exactly what the oracle checks. */
  private[graft] def streamStreamJoin(s: SparkSession, d: String,
      partitions: Option[Int] = None): DataFrame = withReplayTuning(s, d, partitions) {
    def src = eventsStream(s, d)
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = purchases.join(views, expr(
      """v_user = user_id AND
        |view_ts >= purchase_ts - INTERVAL 1 HOUR AND
        |view_ts < purchase_ts""".stripMargin))
    replayToFiles(joined.select(col("purchase_id"), col("view_id"), col("user_id")),
        "graft_stream_ssj_out", "purchase_id BIGINT, view_id BIGINT, user_id BIGINT")()
      .orderBy(col("purchase_id"), col("view_id"))
  }

  private val streamStreamJoinSql =
    """SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
      |FROM events p JOIN events v
      |  ON p.event_type = 'purchase' AND v.event_type = 'view'
      | AND v.user_id = p.user_id
      | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
      |ORDER BY purchase_id, view_id""".stripMargin

  /** Native session windows (session_window, 30-minute gap) on a stream —
    * per-user session counts. Boundary semantics: Spark's session window
    * end is EXCLUSIVE, so an inter-event gap of exactly 30 minutes starts a
    * new session; the oracle therefore splits on `gap >= 1800000 ms`. This
    * differs from the batch twin rel_sessionize (strict `>`), whose
    * lag-based definition keeps an exact-gap event in the same session —
    * both are checked against oracles with their own predicate. */
  private def sessionWindow(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    val src = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
    val sessions = src.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    replayToFiles(sessions.select(col("user_id"), col("n_events")),
        "graft_stream_sess_out", "user_id BIGINT, n_events BIGINT", "complete")()
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))
  }

  private val sessionWindowSql =
    """SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, event_id,
      |      CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
      |             OVER (PARTITION BY user_id ORDER BY event_id) >= 1800000
      |           OR lag(epoch_ms(ts))
      |             OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM events))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------- DGIM burst

  case class TokenArrival(doc_id: Long, token: String)
  case class BurstEstimate(token: String, clock: Long,
      recent_est: Long, prev_est: Long, ratio: Double)

  /** ST2 streaming-fidelity path — the reference's burst detector with
    * per-key DGIM state (burst_detector.py:43-77 over dgim.py): each token's
    * group state is a [[Dgim]] clocked by arrival index (doc_id), the
    * memory-bounded O(log² W) alternative to an exact ring buffer. Emits
    * the final recent-vs-previous half-window estimates per token
    * (recent = last 25 arrivals, prev = the 25 before, via the reference's
    * subtraction trick, burst_detector.py:61-62, clamped ≥ 0).
    *
    * DGIM state serializes as (clock, buckets) through snapshot/restore.
    * Divergence from the reference, documented: the reference ticks every
    * DGIM once per message globally; keyed state can only advance a
    * token's clock at that token's own arrivals, so estimates are "as of
    * the token's last sighting". This never undercounts the true
    * recent-window count (all of a token's recent arrivals are ≤ its
    * clock), which DgimBurstStreamSpec asserts against exact counts.
    */
  private final val DgimWindow = 50
  private final val DgimHalf = 25

  /** Shared keyed-DGIM replay over the documents' token arrivals: per
    * token and batch, restore the serialized buckets, replay the batch's
    * arrivals in doc_id order, persist the new state, and hand the
    * replayed machine plus the sorted batch to the caller's emit step;
    * update-mode emissions land in the memory table `table`. ONE source
    * and state machine for stream_dgim_burst and its contract — the
    * contract certifies "the same state machine as the query", which only
    * holds if the two replays cannot drift (review finding: they were
    * byte-identical copies). */
  private def dgimReplay[T <: Product : TypeTag](s: SparkSession, d: String, table: String)(
      emit: (String, Seq[TokenArrival], Dgim) => Iterator[T]): DataFrame = {
    import s.implicits._
    val ests = docsStream(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .as[TokenArrival]
      .groupByKey(_.token)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (token: String, it: Iterator[TokenArrival],
            state: GroupState[(Long, List[(Long, Long)])]) => {
          val dg = new Dgim(DgimWindow)
          state.getOption.foreach(dg.restore)
          val sorted = it.toSeq.sortBy(_.doc_id)
          sorted.foreach(a => { dg.advanceTo(a.doc_id); dg.addOne() })
          state.update(dg.snapshot)
          if (sorted.isEmpty) Iterator.empty else emit(token, sorted, dg)
        })
    replayToMemory(ests.toDF(), table, "update")
  }

  /** Batch twin of the DGIM clock: per token, the exact arrival count in
    * its last-`window` doc_id window as of its last arrival (the DGIM
    * clock only advances at the token's own arrivals), as column `name`. */
  private def exactRecent(s: SparkSession, d: String, window: Int, name: String): DataFrame = {
    val tok = graft.Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val last = tok.groupBy(col("token")).agg(max(col("doc_id")).as("last_doc"))
    tok.join(last, "token")
      .filter(col("doc_id") > col("last_doc") - window)
      .groupBy(col("token")).agg(count(lit(1)).as(name))
  }

  private[graft] def dgimBurstRaw(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    dgimReplay(s, d, "stream_dgim_sink") { (token, sorted, d50) =>
      val recent = d50.countLast(DgimHalf)
      val prev = math.max(0L, d50.countLast(DgimWindow) - recent) // subtraction trick
      val ratio = (recent + 1e-6) / (prev + 1e-6)
      Iterator.single(BurstEstimate(token, sorted.last.doc_id, recent, prev,
        BigDecimal(ratio).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.orderBy(col("token"))
  }

  /** [[dgimBurstRaw]]'s driver-gated form (r11 verdict #2 — was rows-only:
    * update-mode emission multiplicity and the estimates are
    * bucket-layout-internal). Per token, at its FINAL emission (largest
    * clock — each batch's emission clock is that token's last arrival, so
    * clocks are strictly increasing per token):
    *  - `exact_recent50`: exact arrival count in the token's last-50 clock
    *    window — oracle-computable;
    *  - `win50_no_undercount` / `win50_envelope`: recent+prev =
    *    max(recent, countLast(50)) = countLast(50) (countLast is monotone
    *    in the window size), so the window-50 DGIM bounds apply — the
    *    window the half-window [[dgimContract]] does NOT cover (measured
    *    ratio ≤ 1.68 at every fixture SF, pinned at 3× like the contract);
    *  - `prev_nonneg`: the reference's subtraction-with-clamp
    *    (burst_detector.py:61-62) can never go negative;
    *  - `ratio_consistent`: the emitted ratio replays exactly from the
    *    emitted recent/prev (internal consistency of the emission). */
  private def dgimBurst(s: SparkSession, d: String): DataFrame = {
    val fin = dgimBurstRaw(s, d).groupBy(col("token"))
      .agg(expr("max_by(recent_est, clock)").as("recent"),
        expr("max_by(prev_est, clock)").as("prev"),
        expr("max_by(ratio, clock)").as("ratio"))
    fin.join(exactRecent(s, d, DgimWindow, "exact_recent50"), Seq("token"))
      .select(col("token"), col("exact_recent50"),
        (col("recent") + col("prev") >= col("exact_recent50"))
          .as("win50_no_undercount"),
        (col("recent") + col("prev") <= col("exact_recent50") * 3)
          .as("win50_envelope"),
        (col("prev") >= 0L).as("prev_nonneg"),
        (abs(col("ratio") -
          round((col("recent") + 1e-6) / (col("prev") + 1e-6), 4)) < lit(1e-9))
          .as("ratio_consistent"))
      .orderBy(col("token"))
  }

  private val dgimBurstSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${Text.toksSql}) AS token FROM documents),
       |last AS (SELECT token, max(doc_id) AS last_doc FROM tok GROUP BY token)
       |SELECT t.token, count(*) AS exact_recent50,
       |  TRUE AS win50_no_undercount, TRUE AS win50_envelope,
       |  TRUE AS prev_nonneg, TRUE AS ratio_consistent
       |FROM tok t JOIN last l ON t.token = l.token
       |  AND t.doc_id > l.last_doc - 50
       |GROUP BY t.token ORDER BY t.token""".stripMargin

  case class DgimFinal(token: String, clock: Long, recent_est: Long)

  /** DGIM accuracy contract, oracle-checkable (the sketch_hll_contract
    * pattern applied to streaming state): per-token estimates are
    * bucket-layout-internal, but two deterministic guarantees hold.
    * `no_undercount` is structural: every in-window arrival lives in a
    * bucket whose newest-ts is in range, so it is counted fully (DgimSpec
    * proves this against brute force). `within_envelope` is a pinned
    * measured bound: DgimSpec's additive ≤k overcount assumes ≤1 arrival
    * per clock tick, but here a token can arrive many times per doc
    * (multi-1s per tick), where the straddling bucket grows with arrival
    * density — measured worst case 2.42× on the fixtures, pinned at 3×.
    * Replaying each token's arrivals through the same
    * flatMapGroupsWithState state machine as stream_dgim_burst, the final
    * estimate per token (at its last arrival clock = doc_id) is compared
    * to the exact arrival count in that token's last-25 clock window —
    * computed batch-side here and by the DuckDB oracle, so the driver
    * hard-gates both bounds per token. */
  private def dgimContract(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    // update mode emits once per (token, batch); the contract applies to
    // the token's FINAL estimate — the emission at its largest clock
    val finalEst = dgimReplay(s, d, "stream_dgim_contract_sink") { (token, sorted, d50) =>
      Iterator.single(DgimFinal(token, sorted.last.doc_id, d50.countLast(DgimHalf)))
    }.groupBy(col("token"))
      .agg(expr("max_by(recent_est, clock)").as("est"))
    finalEst.join(exactRecent(s, d, DgimHalf, "exact_recent"), "token")
      .select(col("token"), col("exact_recent"),
        (col("est") >= col("exact_recent")).as("no_undercount"),
        (col("est") <= col("exact_recent") * 3).as("within_envelope"))
      .orderBy(col("token"))
  }

  private val dgimContractSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${Text.toksSql}) AS token FROM documents),
       |last AS (SELECT token, max(doc_id) AS last_doc FROM tok GROUP BY token),
       |exact AS (
       |  SELECT t.token, count(*) AS exact_recent
       |  FROM tok t JOIN last l ON t.token = l.token AND t.doc_id > l.last_doc - 25
       |  GROUP BY t.token)
       |SELECT token, exact_recent, TRUE AS no_undercount, TRUE AS within_envelope
       |FROM exact ORDER BY token""".stripMargin

  // ------------------------------------------- transformWithState counter

  case class SourceRow(source: String)
  case class SourceCount(source: String, n_docs: Long)

  /** Per-source running document counts on the arbitrary-state v2 API
    * (transformWithState + ValueState, Spark 4's successor to
    * [flat]mapGroupsWithState): typed per-key state in RocksDB, emitted on
    * every update. The final state equals the batch groupBy count — which
    * the oracle checks. */
  private class SourceCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, SourceRow, SourceCount] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, OutputMode, TimeMode}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var cnt: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState[Long]("cnt", E.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[SourceRow],
        tv: TimerValues): Iterator[SourceCount] = {
      val total = (if (cnt.exists()) cnt.get() else 0L) + rows.size
      cnt.update(total)
      Iterator.single(SourceCount(key, total))
    }
  }

  private def twsCounts(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    val counts = docsStream(s, d).select(col("source")).as[SourceRow]
      .groupByKey(_.source)
      .transformWithState(new SourceCountProcessor, TimeMode.None(), OM.Update())
    // update mode re-emits a key's running total each batch; the final
    // total per key is the max
    replayToMemory(counts.toDF(), "stream_tws_sink", "update")
      .groupBy(col("source")).agg(max(col("n_docs")).as("n_docs"))
      .orderBy(col("source"))
  }

  private val twsCountsSql =
    """SELECT source, count(*) AS n_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Sliding (hopping) event-time windows: 1-hour windows every 30
    * minutes, so each event lands in exactly two windows — the overlap
    * structure burst/rate monitors use. The oracle replays the window
    * assignment arithmetic (epoch div on the hop, two starts per event). */
  private def slidingWindow(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    val src = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
    val agg = src.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    replayToMemory(agg, "stream_slide_sink", "complete")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  private val slidingWindowSql =
    """WITH wins AS (
      |  SELECT event_type, value,
      |    unnest([make_timestamp(epoch_us(ts) // 1800000000 * 1800000000),
      |            make_timestamp(epoch_us(ts) // 1800000000 * 1800000000 - 1800000000)])
      |      AS wstart
      |  FROM events)
      |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM wins GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** Streaming incremental intake dedup (dedup family × ST surface): the
    * corpus LSH index is a BATCH artifact, built once per epoch; arriving
    * documents stream through foreachBatch, each micro-batch probing the
    * persisted index with EXACTLY the same build/probe code as
    * `dedup_incremental` ([[graft.ops.Dedup.buildLshIndex]] /
    * [[graft.ops.Dedup.probeLshIndex]] — shared, not reimplemented) and
    * landing its verified links in the idempotent batchId-keyed sink.
    * The oracle is the SAME SQL as `dedup_incremental`: a replayed batch
    * overwrites its own attempt, so the union over batches equals the
    * one-shot probe — that equality is the exactly-once claim for the
    * intake path. At scale this is the daily-ingest topology: index on
    * durable storage, stream partitions probe it independently, and
    * per-batch cost is proportional to the BATCH. */
  // Scale certificate (r19, r18 verdict #1): intake's 1000× wall is
  // OUTPUT-linear, attributed by the stage-split same-box A/B over
  // Dedup.probeLshFrames (intake_ab_r19_300x/_1000x.json). On a
  // mult×-duplicated corpus every batch copy of a text near-dups every
  // corpus copy, so the link output grows ~(mult/2)²
  // by construction (124 M rows at 300×, ~1.4 B at 1000×) — the wall
  // decomposes into the LINEAR map-only signature pass (18.5 s at p=4
  // vs 18.9 s at p=32 at 300×: partition-setting-independent) plus
  // count/write/readback of that output; every shuffle-bearing probe
  // stage runs at rep scale (thousands of rows, sub-second at both
  // settings). A 100 TB deployment would aggregate/threshold links
  // downstream rather than materialize the full list; the registry
  // query keeps the list because that is what the DuckDB oracle pins.
  //
  // The one FIXABLE component the A/B surfaced: the expansion join's
  // partitioning is the parquet writer's parallelism, and under the
  // replay tuning's 4-partition STATE sizing the output write ran 4-way
  // (127.0 s at p=4 vs 43.9 s at p=32 at 1000×). This query's
  // foreachBatch body is per-batch RELATIONAL work — there is no state
  // operator anywhere in its plan, so the "state operators pin their
  // partitioning" rationale does not apply — and it therefore runs at
  // the SESSION's shuffle sizing (StreamingSpec pins the links
  // independent of that sizing).
  private def incrementalIntake(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val half = docs.count() / 2
    // Fit-once index shared with dedup_incremental: both probe the same
    // corpus half, and per-doc signature independence makes the two
    // build paths bit-identical (DedupSpec pins that equivalence).
    val idx = graft.ops.Dedup.corpusLshIndex(d,
      graft.ops.Dedup.sigWithArray(docs.filter(col("doc_id") < half)))
    replayToFiles(docsStream(s, d).filter(col("doc_id") >= half), "graft_stream_intake",
        "batch_id BIGINT, corpus_id BIGINT, est_jaccard DOUBLE") { (batch, batchId, dir) =>
      // three consumers of the batch signatures (bands + both join
      // sides) — persist for the life of the micro-batch only.
      // r21: signatures at distinct-text scale past the duplication
      // gate; the gate reads the memoized whole-TABLE counts (the
      // batch is a filtered slice of it) — no per-batch count job
      val batchSig = graft.ops.Dedup.sigWithArrayDict(batch,
        graft.ops.Dedup.dictTier(graft.Tables.documents(batch.sparkSession, d))).persist()
      writeBatchIdempotent(
        graft.ops.Dedup.probeLshIndex(batch.sparkSession, batchSig, idx),
        batchId, dir)
      batchSig.unpersist()
    }.orderBy(col("batch_id"), col("corpus_id"))
  }

  /** Stream-static dimension enrichment — the intake-time join every
    * ingest pipeline runs (arrivals decorated with corpus-level stats or
    * dim attributes before landing). The static side is a per-source
    * aggregate of the batch corpus (20 rows — broadcast; at 100 TB the
    * dim is still dim-cardinality-sized and the join stays map-side: a
    * stream-static broadcast join never shuffles the stream), the stream
    * side is the document arrivals; each arrival is flagged against its
    * source's average length and the sink aggregates per source. The
    * oracle is the identical batch join — stream-static join semantics
    * ARE batch semantics per micro-batch, which is exactly what this
    * pins. */
  private def staticEnrich(s: SparkSession, d: String): DataFrame = withReplayTuning(s, d) {
    val dim = s.read.schema(docSchema).parquet(stageAsDir(d, "documents"))
      .groupBy(col("source")).agg(avg(col("n_chars")).as("avg_chars"))
    val agg = docsStream(s, d).join(broadcast(dim), "source")
      .withColumn("above", (col("n_chars") > col("avg_chars")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("above")).as("n_above_avg"))
    replayToMemory(agg, "stream_enrich_sink", "complete")
      .withColumn("above_share",
        round(col("n_above_avg").cast("double") / col("n_docs"), 4))
      .orderBy(col("source"))
  }

  private val staticEnrichSql =
    """WITH dim AS (
      |  SELECT source, avg(n_chars) AS avg_chars FROM documents GROUP BY source)
      |SELECT d.source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN d.n_chars > m.avg_chars THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_above_avg,
      |  round(sum(CASE WHEN d.n_chars > m.avg_chars THEN 1 ELSE 0 END) * 1.0
      |    / count(*), 4) AS above_share
      |FROM documents d JOIN dim m ON d.source = m.source
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("stream_token_counts", tokenCounts, Some(tokenCountsSql)),
    QuerySpec("stream_static_enrich", staticEnrich, Some(staticEnrichSql)),
    QuerySpec("stream_windowed_counts", windowedCounts, Some(windowedCountsSql)),
    QuerySpec("stream_stateful_dedup", statefulDedup, Some(statefulDedupSql)),
    QuerySpec("stream_stream_join", streamStreamJoin(_, _), Some(streamStreamJoinSql)),
    QuerySpec("stream_drop_duplicates", dropDupStream, Some(dropDupStreamSql)),
    QuerySpec("stream_dedup_watermark", dedupWithinWatermark, Some(dedupWithinWatermarkSql)),
    QuerySpec("stream_foreach_batch", foreachBatchSink, Some(foreachBatchSinkSql)),
    QuerySpec("stream_curation_sink", curationSink, Some(curationSinkSql)),
    QuerySpec("stream_session_window", sessionWindow, Some(sessionWindowSql)),
    QuerySpec("stream_dgim_burst", dgimBurst, Some(dgimBurstSql)),
    QuerySpec("stream_dgim_contract", dgimContract, Some(dgimContractSql)),
    QuerySpec("stream_tws_counts", twsCounts, Some(twsCountsSql)),
    QuerySpec("stream_sliding_window", slidingWindow, Some(slidingWindowSql)),
    QuerySpec("stream_incremental_intake", incrementalIntake,
      Some(graft.ops.Dedup.incrementalDedupSql)))
}
