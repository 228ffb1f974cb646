package graft

import org.apache.spark.sql.functions._
import graft.sources.SccJsonSource

/** SCC JSON ingest chain against the FIXTURES.md fixture — exercises every
  * trap the fixture was designed for: conversation-level medium drop,
  * outbound/empty drops, boilerplate scrub, lemma mapping, null-time
  * ordering, cache round-trip, seeded split. */
class SccSourceSpec extends SparkSpec {

  private val fixture = new java.io.File("src/test/resources/scc_fixture").getAbsolutePath

  test("F1: a single Telegram message drops the whole conversation") {
    val convs = SccJsonSource.readConversations(spark, fixture)
    assert(convs.count() == 2) // conv1 + conv3; conv2_telegram gone
    assert(!convs.collect().exists(_.getAs[String]("src_file").contains("telegram")))
  }

  test("F2-F5 + T1-T5: inbound/empty filters, scrub, lemma, rejoin") {
    val msgs = SccJsonSource.preprocessedMessages(spark, fixture)
    val bodies = msgs.select("body").collect().map(_.getString(0)).toSet
    // boilerplate + file-description scrub leaves only the tail tokens,
    // lemma maps mice→mouse (r10: default-noun NLTK semantics keep
    // "running" unchanged — verb forms are not noun plurals); stopwords
    // (a, of, the) drop
    assert(bodies.contains("photo running mouse"))
    // outbound "I will not reply..." must be gone
    assert(!bodies.exists(_.contains("reply")))
    // raw_body preserved alongside preprocessed body
    val raw = msgs.filter(col("body") === "photo running mouse")
      .select("raw_body").collect().head.getString(0)
    assert(raw.contains("This message contains files."))
  }

  test("O1/O2: time order with missing time last, bounded stream") {
    val stream = SccJsonSource.messageStream(spark, fixture, maxMessages = 200)
      .orderBy(col("msg_idx"))
    val rows = stream.select("msg_idx", "time").collect()
    // msg_idx is the dense 0-based arrival index in stream order
    assert(rows.map(_.getInt(0)).toSeq == rows.indices)
    val times = rows.map(r => if (r.isNullAt(1)) Long.MaxValue else r.getLong(1))
    assert(times.sameElements(times.sorted), "stream must be time-ordered, nulls last")
    assert(times.last == Long.MaxValue, "missing-time message must sort last")
    // the cap keeps exactly the first arrivals
    val capped = SccJsonSource.messageStream(spark, fixture, maxMessages = 2)
      .select("msg_idx").collect().map(_.getInt(0)).toSet
    assert(capped == Set(0, 1))
  }

  test("S2: cache-or-compute round trip is stable and hits the cache") {
    val dir = TmpDirs.create("graft_cache").toString
    var computes = 0
    def compute = { computes += 1; SccJsonSource.preprocessedMessages(spark, fixture) }
    val a = SccJsonSource.cacheOrCompute(spark, dir, "cfg_v1")(compute).count()
    val b = SccJsonSource.cacheOrCompute(spark, dir, "cfg_v1")(compute).count()
    assert(a == b && computes == 1, "second call must come from cache")
    val c = SccJsonSource.cacheOrCompute(spark, dir, "cfg_v2")(compute).count()
    assert(c == a && computes == 2, "different config key must recompute")
  }

  test("F6: seeded sampling returns exactly n rows, deterministically") {
    val df = SccJsonSource.preprocessedMessages(spark, fixture)
    val a = SccJsonSource.sampleConversations(df, 2).collect().map(_.getString(df.columns.indexOf("body")))
    val b = SccJsonSource.sampleConversations(df, 2).collect().map(_.getString(df.columns.indexOf("body")))
    assert(a.length == 2 && a.sameElements(b), "exact-n seeded sample must be stable")
  }

  test("S3: JSON report renders rows as parseable JSON lines") {
    val df = SccJsonSource.preprocessedMessages(spark, fixture)
      .select(col("body"), col("time"))
    val lines = SccJsonSource.jsonReport(df)
    assert(lines.nonEmpty)
    lines.foreach(l => assert(l.startsWith("{") && l.contains("\"body\":")))
  }

  test("S4: seeded 70/30 split is deterministic, disjoint, complete") {
    val df = SccJsonSource.preprocessedMessages(spark, fixture)
    val (tr1, te1) = SccJsonSource.trainTestSplit(df)
    val (tr2, te2) = SccJsonSource.trainTestSplit(df)
    assert(tr1.count() == tr2.count() && te1.count() == te2.count())
    assert(tr1.count() + te1.count() == df.count())
  }

  test("gate fixture root is keyed by dataset CONTENT, not path") {
    // r12: the cross-JVM gate fixture must not survive a regenerated
    // documents table (the driver rewrites testdata every round) — the
    // root is keyed by (path, mtime, size), so touching the table moves
    // the root and a stale fixture can never serve the new oracle
    val dir = java.nio.file.Files.createTempDirectory("graft_fixkey").toString
    val docs = new java.io.File(s"$dir/documents.parquet")
    java.nio.file.Files.write(docs.toPath, Array[Byte](1, 2, 3))
    val r1 = graft.sources.SccLoaderGate.fixtureRoot(dir)
    assert(docs.setLastModified(docs.lastModified() + 1000))
    val r2 = graft.sources.SccLoaderGate.fixtureRoot(dir)
    assert(r1 != r2, "regenerated table must produce a fresh fixture root")
  }
}
