package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Lemmatizer, Text}

/** SCC conversation-JSON ingest (SURVEY.md §2.1 S1–S4, §2.2 F1–F7, §2.3
  * T1–T5) — the reference's data_loader/ re-expressed as one declarative
  * read + transform chain:
  *
  *  - S1 scan: fixed schema (never inferred — §1.3), `multiLine` (one
  *    conversation per file), `recursiveFileLookup` (nested split dirs),
  *    provenance via `input_file_name` (scc_dataset_loader.py:20-56);
  *  - F1 conversation-level medium filter: the WHOLE conversation drops if
  *    ANY message is Instagram/Telegram (scc_dataset_loader.py:40-41 —
  *    an array-exists predicate, not a message filter);
  *  - F2 inbound-only, F3 empty-body (scc_dataset_loader.py:43,
  *    base_dataset_loader.py:69);
  *  - F4 boilerplate scrub: literal chunk then `Description for file \d+:`
  *    regex (scc_dataset_loader.py:58-75 — the literal contains regex
  *    metachars, so pass 1 must be non-regex);
  *  - F5 raw_body/body projection (base_dataset_loader.py:70-76);
  *  - T1–T5 lowercase → tokenize → alpha filter → LEMMATIZE → stopwords →
  *    re-join, in exactly the reference's order
  *    (base_dataset_loader.py:87-90: lemmatize runs BEFORE the stopword
  *    filter, so a token whose lemma is a stopword — "cans"→"can" — is
  *    removed; r10 review finding: the stages were inverted here);
  *  - O1/O2 stream construction: global sort by time (missing → last, the
  *    reference's float("inf") sentinel, run_detectors.py:29), arrival
  *    index + cap; the stream iterator is also where FALSY (post-
  *    preprocessing empty) bodies drop (run_detectors.py:25) —
  *    preprocess_messages itself KEEPS a message whose body preprocesses
  *    to "", so [[preprocessedMessages]] keeps it too.
  *
  * At scale: the JSON scan parallelizes per file; everything after it is
  * map-only until the stream's arrival rank, a one-task window (a bounded
  * top-N below it only when the cap is ≤ 1000, see [[messageStream]]).
  */
object SccJsonSource {

  val messageSchema: StructType = StructType(Seq(
    StructField("body", StringType),
    StructField("time", LongType),
    StructField("medium", StringType),
    StructField("is_inbound", BooleanType)))

  val convSchema: StructType = StructType(Seq(
    StructField("messages", ArrayType(messageSchema)),
    StructField("label", StringType),
    StructField("dataset", StringType)))

  private[sources] val boilerplate =
    "This message contains files. If the description for a file does not " +
      "make sense, ignore it.Here are descriptions of those files:"

  /** S1 + F1: conversations with label/dataset defaults. The F1 medium
    * filter (drop the WHOLE conversation if ANY message is Instagram/
    * Telegram) applies only in the default mode — the reference skips it
    * under `all_messages` (scc_dataset_loader.py:38-43). */
  def readConversations(s: SparkSession, dir: String,
      allMessages: Boolean = false): DataFrame = {
    val raw = s.read.schema(convSchema)
      .option("multiLine", "true")
      .option("recursiveFileLookup", "true")
      .json(dir)
      .withColumn("src_file", input_file_name())
      .withColumn("label", coalesce(col("label"), lit("scam")))
      .withColumn("dataset", coalesce(col("dataset"), lit("scc")))
    if (allMessages) raw
    // coalesce to false: exists() is three-valued, so a conversation with
    // one null-medium message would otherwise evaluate NULL and be
    // DROPPED, while the reference's `msg.get("medium") in [...]` treats
    // missing medium as False and keeps it (r10 review finding)
    else raw.filter(!coalesce(exists(col("messages"),
      m => m.getField("medium").isin("Instagram", "Telegram")), lit(false)))
  }

  /** F2–F5 + T1–T5: the preprocessed message frame. In the default mode
    * only inbound (scammer) messages survive (F2); with `allMessages` the
    * F1/F2 filters are bypassed but the F4 scrub and full preprocessing
    * chain (incl. lemmatization) still apply, exactly like the reference
    * (scc_dataset_loader.py:38-45 — `remove_file_description` and
    * `preprocess_messages` sit outside the `if not all_messages` branch). */
  def preprocessedMessages(s: SparkSession, dir: String,
      allMessages: Boolean = false): DataFrame =
    // reference order (base_dataset_loader.py:87-90): lemmatize FIRST,
    // then drop stopwords — a token whose LEMMA is a stopword goes; and a
    // message whose body preprocesses to "" is KEPT (preprocess_messages
    // retains it; the stream iterator is what drops falsy bodies)
    scrubbedMessages(s, dir, allMessages).withColumn("body",          // T1–T5
      array_join(
        Text.lemmaStopTokens(Text.rawAlphaTokens(col("body"))), " "))

  /** S1+F1–F5 without the T-stage: the scrubbed message frame — the
    * reference's state right after `remove_file_description`
    * (scc_dataset_loader.py:58-75), before `preprocess_messages`. Split
    * out so the loader's scan/filter/scrub semantics are driver-gateable
    * without re-expressing the lemma chain (the T-stage has its own
    * oracle-gated queries, text_preprocess*). */
  def scrubbedMessages(s: SparkSession, dir: String,
      allMessages: Boolean = false): DataFrame = {
    val exploded = readConversations(s, dir, allMessages)
      .select(col("src_file"), col("label"), col("dataset"),
        explode(col("messages")).as("m"))
      .select(col("src_file"), col("label"), col("dataset"),
        col("m.body").as("body"), col("m.time").as("time"),
        col("m.medium").as("medium"), col("m.is_inbound").as("is_inbound"))
      .filter(if (allMessages) lit(true) else col("is_inbound"))      // F2
      .filter(col("body").isNotNull && col("body") =!= "")            // F3
    exploded
      .withColumn("raw_body", col("body"))                            // F5
      .withColumn("body",                                             // F4
        regexp_replace(
          replace(col("body"), lit(boilerplate), lit("")),
          "Description for file \\d+:", ""))
  }

  /** O1 + O2: the reference's message stream with its 0-based arrival
    * index `msg_idx` — global time order, missing time last, capped at
    * maxMessages (run_detectors.py:14-34). Falsy (empty-after-
    * preprocessing) bodies drop HERE, like the reference's stream
    * iterator (run_detectors.py:25). The sort key is a total order:
    * (time, body, src_file, raw_body) — time+body alone tie for identical
    * scam messages, and a non-total key makes the cap boundary and the
    * index layout-dependent (r10 review finding). The cap filters the raw
    * `row_number`, a shape Spark's window group-limit rule plans as a
    * bounded top-N below the window for caps ≤ 1000 and as a plain sort
    * above (a filter on `row_number() - 1` hides the shape; an
    * `orderBy.limit(n)` allocates 2·n slots per task, so a cap of 1e8 ran
    * out of memory). */
  def messageStream(s: SparkSession, dir: String, maxMessages: Int,
      allMessages: Boolean = false): DataFrame =
    preprocessedMessages(s, dir, allMessages)
      .filter(col("body") =!= "")
      .withColumn("msg_idx", row_number().over(Window.orderBy(
        col("time").asc_nulls_last, col("body"), col("src_file"), col("raw_body"))))
      .filter(col("msg_idx") <= maxMessages)
      .withColumn("msg_idx", col("msg_idx") - 1)

  /** S2: parquet cache-or-compute keyed by md5 of the config string (the
    * reference's pickle memoization, base_dataset_loader.py:36-54). */
  def cacheOrCompute(s: SparkSession, cacheDir: String, configKey: String)(
      compute: => DataFrame): DataFrame = {
    val key = graft.TmpDirs.md5Hex(configKey)
    val path = s"$cacheDir/data_$key.parquet"
    // validity = the _SUCCESS marker, not mere directory existence: a
    // write interrupted mid-flight leaves a partial directory that would
    // otherwise be served as a valid cache forever (r10 review finding);
    // Spark only writes _SUCCESS after committing every part file
    if (new java.io.File(path, "_SUCCESS").exists()) s.read.parquet(path)
    else {
      val df = compute
      df.write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    }
  }

  /** S4: the 70/30 seeded split (utils/split_into_directories.py:6-30) as a
    * row-level randomSplit — split rows, not files. */
  def trainTestSplit(df: DataFrame, trainRatio: Double = 0.7, seed: Long = 42L)
      : (DataFrame, DataFrame) = {
    val Array(train, test) = df.randomSplit(Array(trainRatio, 1 - trainRatio), seed)
    (train, test)
  }

  /** F6: seeded exact-n conversation sampling (scc_dataset_loader.py:53-54's
    * random.sample). Ordering by a seeded md5 of the row's stable identity
    * gives exactly n rows AND a selection that is independent of partition
    * layout — `rand(seed)` seeds per partition index, so the same data
    * read at different parallelism would sample different rows (r10
    * review finding; the same pitfall Relational.hashSample documents).
    * `df.sample(frac)` is approximate and wrong here (SURVEY.md F6). */
  def sampleConversations(df: DataFrame, n: Int, seed: Long = 42L): DataFrame =
    df.orderBy(md5(concat_ws("|", lit(seed.toString),
      to_json(struct(df.columns.map(col): _*)))), col("src_file"))
      .limit(n)

  /** S3: the reference's stdout JSON report sink (run_detectors.py:245) —
    * the result frame rendered as JSON lines. `.toJSON` streams through the
    * executors; only the final strings are collected, and callers at scale
    * use `df.write.json(path)` with the same row shape instead. */
  def jsonReport(df: DataFrame): Seq[String] =
    df.toJSON.collect().toSeq
}
