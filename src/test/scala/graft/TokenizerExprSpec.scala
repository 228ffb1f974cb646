package graft

import org.apache.spark.sql.functions._
import graft.functions.{Lemmatizer, Text}

/** Parity net for the r15 native tokenizer expressions: the production
  * token path now runs [[graft.functions.GraftTokens]] /
  * [[graft.functions.GraftLemmaStop]] / [[graft.functions.GraftCountIn]]
  * (one codegen'd JVM call per row), and these tests pin it ELEMENT-EXACT
  * against the pre-r15 declarative higher-order-function formulation —
  * over the shared adversarial torture corpus, a seeded random unicode
  * corpus, and the real documents table. The declarative twin is itself
  * oracle-pinned (DuckDB twins, NltkParitySpec golden fixture), so
  * native ≡ declarative closes the chain.
  */
class TokenizerExprSpec extends SparkSpec {
  import spark.implicits._

  // seeded adversarial corpus: letters (ascii+unicode), edge punct,
  // apostrophes, clitics, word-list forms, spaces, newlines, empties
  private def randomCorpus(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    val atoms = Seq("word", "café", "Ω", "don't", "'tis", "'twas", "tis",
      "twas", "cannot", "gonna", "more'n", "d'ye", "she'd've", "n't", "'",
      "''", ",", "...", "—", "«", "»", "(", ")", "a", "I", "the", "x1",
      "file.txt", "\n", "mid\nline", "“q”", "rock'n'roll", "o'clock",
      "y'all'd've", "wanna,", "(gotta)", "'tis,", "''twas!", "tis.", " ")
    (1 to n).map { _ =>
      (1 to (1 + rnd.nextInt(12)))
        .map(_ => atoms(rnd.nextInt(atoms.size)))
        .mkString(rnd.nextInt(3) match {
          case 0 => " "
          case 1 => "  "
          case _ => " , "
        })
    }
  }

  private val corpus: Seq[String] =
    graft.ops.TextPipeline.TortureStrings ++ randomCorpus(500)

  test("native GraftTokens ≡ declarative HOF chain (raw + stopword-dropped)") {
    val df = corpus.toDF("text")
      .select(
        Text.rawAlphaTokens(col("text")).as("native_raw"),
        Text.hofRawAlphaTokens(col("text")).as("hof_raw"),
        Text.tokens(col("text")).as("native_tok"),
        Text.hofTokens(col("text")).as("hof_tok"))
      .collect()
    df.zip(corpus).foreach { case (r, src) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"raw-token divergence on <$src>: native=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}")
      assert(r.getSeq[String](2) == r.getSeq[String](3),
        s"token divergence on <$src>: native=${r.getSeq[String](2)} hof=${r.getSeq[String](3)}")
    }
  }

  test("native GraftLemmaStop ≡ declarative lemmatizeArray+stopword filter") {
    val df = corpus.toDF("text")
      .select(Text.rawAlphaTokens(col("text")).as("raw"))
      .select(
        Text.lemmaStopTokens(col("raw")).as("native"),
        filter(Lemmatizer.lemmatizeArray(col("raw")),
          t => !t.isInCollection(Text.STOPWORDS)).as("hof"))
      .collect()
    df.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("native GraftCountIn ≡ declarative size(filter(isInCollection))") {
    val words = Text.STOPWORDS
    val df = corpus.toDF("text")
      .withColumn("rt", split(lower(col("text")), " "))
      .select(
        Text.countIn(col("rt"), words).as("native"),
        size(filter(col("rt"), t => t.isInCollection(words))).as("hof"))
      .collect()
    df.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("native GraftQualitySignals ≡ declarative signal chains, element-exact") {
    // r19 (r18 verdict #4): the fused [n_raw, stop_hits, punct_chars,
    // n_chars] pass must reproduce each declarative chain exactly —
    // including split's kept trailing empties (n_raw = spaces + 1), the
    // CODE-POINT semantics of the [^a-z0-9 ] punct count on the
    // UN-lowered text (uppercase counts as punct; one count per
    // multi-byte character, not per byte), and empty-string edges.
    val edge = Seq("", " ", "  ", "a  b ", "the and of", "THE", "Ωμέγα café",
      "a,b the. 1 2 3", "don't the\nand", "ALL CAPS 99  ")
    val df = (corpus ++ edge).toDF("text")
      .select(
        Text.qualitySignals(col("text")).as("native"),
        Text.hofQualitySignals(col("text")).as("hof"))
      .collect()
    assert(df.nonEmpty)
    df.zip(corpus ++ edge).foreach { case (r, src) =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        s"signal divergence on <$src>: native=${r.getSeq[Int](0)} hof=${r.getSeq[Int](1)}")
    }
  }

  test("native GraftQualitySignals ≡ declarative on the documents table") {
    val df = Tables.documents(spark, sf001)
      .select(
        Text.qualitySignals(col("text")).as("native"),
        Text.hofQualitySignals(col("text")).as("hof"))
      .collect()
    assert(df.nonEmpty)
    df.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1)))
  }

  test("bare tis/twas stay whole; apostrophe forms split (r14 ADVICE #2)") {
    // NLTK's CONTRACTIONS2 requires the apostrophe (\b('t)(is)\b), so
    // word_tokenize("tis") == ["tis"] — the pre-r15 post-strip word list
    // conflated the bare archaic spellings and emitted "is"/"was",
    // violating the pinned precision==1.0 invariant on corpus-absent
    // inputs. Pinned here in BOTH directions.
    val got = Seq("tis twas 'tis 'twas ('tis, ''twas! tis, twas.")
      .toDF("text").select(Text.rawAlphaTokens(col("text")).as("t"))
      .head().getSeq[String](0)
    assert(got == Seq("tis", "twas", "is", "was", "is", "was", "tis", "twas"))
  }

  test("documents table: native ≡ declarative end-to-end") {
    val df = Tables.documents(spark, sf001)
      .select(
        Text.tokens(col("text")).as("native"),
        Text.hofTokens(col("text")).as("hof"))
      .collect()
    assert(df.nonEmpty)
    df.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("PlanAudit's CodegenFallback walk actually catches interpreted HOFs") {
    // methodology guard for the r15 PlanAudit detector: a deliberate
    // ArrayTransform/ArrayFilter plan must register as CodegenFallback in
    // the same shim walk the audit runs — if Spark ever changes the
    // fallback mixin shape, this fails before the audit silently goes
    // blind (the audit's clean result is only meaningful if this fires).
    // A real scan, not a literal — constant folding would erase the HOFs.
    val df = Tables.documents(spark, sf001)
      .select(filter(
        transform(split(col("text"), " "), t => concat(t, lit("x"))),
        t => t =!= "bx").as("r"))
    val fb = org.apache.spark.sql.graft.GraftSqlShim
      .interpretedFallbacks(df.queryExecution.executedPlan)
    assert(fb.exists(n => n.contains("transform")) && fb.exists(n => n.contains("filter")),
      s"expression walk no longer sees HOF fallbacks (saw: $fb)")

    // …and it must see THROUGH AdaptiveSparkPlanExec: any shuffling plan
    // hides its whole tree from a plain foreach (the audit's first cut
    // reported every shuffling query clean because of exactly this)
    val agg = Tables.documents(spark, sf001)
      .select(explode(transform(split(col("text"), " "),
        t => concat(t, lit("x")))).as("t"))
      .groupBy(col("t")).count()
    val fbAgg = org.apache.spark.sql.graft.GraftSqlShim
      .interpretedFallbacks(agg.queryExecution.executedPlan)
    assert(fbAgg.exists(n => n.contains("transform")),
      s"walk is blind behind AQE again (saw: $fbAgg)")
  }

  test("token path carries no interpreted higher-order functions") {
    // the point of the native expression: the plan must not fall back to
    // CodegenFallback ArrayTransform/ArrayFilter on the token path
    val qe = Tables.documents(spark, sf001)
      .select(explode(Text.tokens(col("text"))).as("token"))
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("graft_tokens"), s"native expression missing from plan:\n$plan")
    val fb = org.apache.spark.sql.graft.GraftSqlShim
      .interpretedFallbacks(qe.executedPlan)
    assert(fb.isEmpty, s"interpreted fallback survives on the token path: $fb")
  }
}
