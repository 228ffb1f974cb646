package graft

import org.apache.spark.sql.functions._
import graft.functions.Text

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def toks(s: String): Seq[String] =
    Seq(s).toDF("text").select(Text.tokens(col("text")).as("t"))
      .as[Seq[String]].head()

  test("tokens: lowercases, drops non-alpha and stopwords") {
    assert(toks("The Quick fox2 runs to the BARN") == Seq("quick", "runs", "barn"))
  }

  test("tokens: empty and all-stopword strings give empty arrays") {
    assert(toks("") == Seq.empty)
    assert(toks("the a an of") == Seq.empty)
  }

  test("tokens: consecutive spaces produce no empty tokens") {
    assert(toks("fox   runs") == Seq("fox", "runs"))
  }

  test("tokens: edge punctuation strips, interior punctuation drops the form (r10)") {
    // Punkt separates adjacent punctuation into its own tokens, so a
    // clean word wearing punctuation must survive the alpha filter
    assert(toks("Hello, world!") == Seq("hello", "world"))
    assert(toks("\"quoted\" (bracketed) [listed] {braced}") ==
      Seq("quoted", "bracketed", "listed", "braced"))
    assert(toks("wait... really?! yes: truly; end.") ==
      Seq("wait", "really", "yes", "truly", "end"))
    assert(toks("em—dash plus “curly” ‘quotes’") == Seq("plus", "curly", "quotes"))
    // em—dash: interior punctuation — the stripped form is not pure
    // letters, so the whole token drops (NLTK would split it; the
    // divergence class pinned in NltkParitySpec)
    // contractions split at the clitic the way Treebank does (r13): the
    // stem survives ("don't" → "do" → stopword-dropped here; "can't" →
    // "ca" — Treebank's stem, NOT a stopword, so it survives exactly as
    // the reference pipeline keeps it); o'clock keeps its interior
    // apostrophe (no clitic suffix) and drops whole, matching NLTK's
    // one-token "o'clock" failing isalpha
    assert(toks("don't can't o'clock") == Seq("ca"))
    // digits anywhere still drop the token (isalpha)
    assert(toks("x1 2nd 3.14") == Seq.empty)
    // a token that is ALL punctuation strips to nothing and drops
    assert(toks("word -- word") == Seq("word", "word"))
  }

  test("tokens: trailing-newline tokens drop in BOTH engines (anchor parity)") {
    // Java regex `$` matches before a final line terminator and RLIKE is
    // find-semantics, so a ^..$-anchored filter passes "word\n" while
    // DuckDB's regexp_full_match rejects it — the patterns use \A/\z
    // (end-of-INPUT in both engines). A token carrying a newline must
    // drop, and one wearing punctuation before the newline must not
    // resurrect via the edge strip.
    // the split is on ' ' alone, so "word\nnext" is ONE token — and it
    // carries an interior newline, so it drops whole
    assert(toks("clean word\nnext line") == Seq("clean", "line"))
    assert(toks("trailing.\n") == Seq.empty)
    // lemmatizer guard parity on the same class: Column and Scala agree
    import graft.functions.Lemmatizer
    val withNl = Seq("words\n", "words")
    val viaCol = withNl.toDF("w")
      .select(Lemmatizer.suffixLemmaCol(col("w")).as("l"))
      .as[String].collect().toSeq
    assert(viaCol == withNl.map(Lemmatizer.suffixLemma))
    assert(Lemmatizer.suffixLemma("words\n") == "words\n") // guard: unchanged
  }

  test("tokens: NLTK-union stopword list (pronouns, auxiliaries, skipwords)") {
    // representative NLTK entries beyond the old 10-word placeholder
    assert(toks("i was not very happy about that outcome") ==
      Seq("happy", "outcome"))
    // the reference's corpus-specific SKIPWORDS drop too
    assert(toks("cindy told jenkins about enron u know") ==
      Seq("told", "know"))
    // apostrophe stopwords are pinned but unreachable post-alpha-filter:
    // the raw token "don't" fails ^[a-z]+$, the bare "don" is in the list
    assert(toks("don't don stop believing") == Seq("stop", "believing"))
  }

  test("suffix lemma: rule table on the three implementations' contract cases") {
    import graft.functions.Lemmatizer.suffixLemma
    val cases = Map(
      "parties" -> "party", "boxes" -> "box", "matches" -> "match",
      "classes" -> "class", "class" -> "class", "runs" -> "run",
      "bonus" -> "bonus", "basis" -> "basis", "gas" -> "gas",
      // r10: noun-only rules — the reference lemmatizes with NLTK's
      // DEFAULT pos (noun), which never strips verb inflections, so
      // -ing/-ed/-ied forms pass through unchanged
      "running" -> "running", "reading" -> "reading",
      "stopped" -> "stopped", "joined" -> "joined",
      "speed" -> "speed", "agreed" -> "agreed", "indeed" -> "indeed",
      "tried" -> "tried", "carried" -> "carried", "died" -> "died",
      "red" -> "red", "sing" -> "sing", "thing" -> "thing",
      // r10 guard: non-[a-z] forms (hyphen/unicode/digits) pass through —
      // morphy returns dictionary misses unchanged
      "data-sets" -> "data-sets", "cafés" -> "cafés", "x86s" -> "x86s")
    cases.foreach { case (w, l) =>
      assert(suffixLemma(w) == l, s"suffixLemma($w) = ${suffixLemma(w)}, want $l")
    }
  }

  test("suffix lemma: single-pass contract and Column-parity over 2000 random words") {
    import graft.functions.Lemmatizer
    val rnd = new scala.util.Random(42) // seeded — deterministic corpus
    // r10: the alphabet includes the guard classes — hyphen, unicode
    // letters, digits — so the non-[a-z] pass-through branch is fuzzed in
    // both implementations, not just the plural rules
    val alphabet = "abcdefghijklmnopqrstuvwxyz" * 4 + "é-ñ7"
    // bias toward rule-triggering suffixes so the generator actually
    // exercises every branch, not just the ELSE arm
    val suffixes = Seq("", "", "s", "es", "ies", "ied", "eed", "ing", "ed",
      "ss", "us", "is", "ches", "shes", "xes", "zes", "sses")
    val words = (1 to 2000).map { _ =>
      val stemLen = 1 + rnd.nextInt(8)
      val stem = (1 to stemLen).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      stem + suffixes(rnd.nextInt(suffixes.length))
    }.distinct
    // The rules are deliberately SINGLE-PASS (like WordNet morphy's rule
    // application): exactly one noun-plural rule fires per token, so the
    // function must not be applied twice. Every engine path and the
    // DuckDB oracle apply it exactly once per token; this invariant pins
    // the output length bound a single pass implies.
    words.foreach { w =>
      val once = Lemmatizer.suffixLemma(w)
      // at most one plural suffix strips: -ies+y nets -2, -es nets -2,
      // -s nets -1 — so length change is within [-2, 0]
      assert(once.length >= w.length - 2 && once.length <= w.length,
        s"single pass must strip at most one suffix: $w -> $once")
    }
    val viaCol = words.toDF("w")
      .select(col("w"), Lemmatizer.suffixLemmaCol(col("w")).as("l"))
      .as[(String, String)].collect().toMap
    val bad = words.filter(w => viaCol(w) != Lemmatizer.suffixLemma(w))
    assert(bad.isEmpty,
      s"Column/Scala divergence on: ${bad.take(10).map(w =>
        s"$w(col=${viaCol(w)},scala=${Lemmatizer.suffixLemma(w)})")}")
  }

  test("suffix lemma: Column form matches the plain-Scala form over a vocabulary") {
    import graft.functions.Lemmatizer
    val vocab = Seq("parties", "boxes", "matches", "classes", "class",
      "runs", "bonus", "basis", "running", "reading", "stopped", "joined",
      "speed", "red", "sing", "words", "dishes", "fizzes", "mixes",
      "planning", "dropped", "seed", "ties", "goes", "is", "us",
      "tried", "carried", "died", "agreed", "indeed", "freed")
    val viaCol = vocab.toDF("w")
      .select(Lemmatizer.suffixLemmaCol(col("w")).as("l"))
      .as[String].collect().toSeq
    assert(viaCol == vocab.map(Lemmatizer.suffixLemma),
      s"Column/Scala divergence: ${vocab.zip(viaCol).zip(vocab.map(Lemmatizer.suffixLemma))
        .filter { case ((_, c), p) => c != p }}")
  }

  private def sh3(ts: Seq[String]): Seq[String] =
    Seq(Tuple1(ts)).toDF("toks").select(Text.shingles3(col("toks")).as("s"))
      .as[Seq[String]].head()

  test("shingles3: sliding 3-grams joined by space") {
    assert(sh3(Seq("a", "b", "c", "d")) == Seq("a b c", "b c d"))
  }

  test("shingles3: fewer than 3 tokens yields no shingles") {
    assert(sh3(Seq("a", "b")) == Seq.empty)
    assert(sh3(Seq.empty) == Seq.empty)
    assert(sh3(Seq("a", "b", "c")) == Seq("a b c"))
  }

  test("token entropy: zero for constant docs, log2(n) for all-distinct docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((0L, "x x x x x x x x"), (1L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
    val cnts = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = cnts.groupBy(col("doc_id")).agg(sum(col("cnt")).as("n"))
    val ent = cnts.join(tot, "doc_id").groupBy(col("doc_id"))
      .agg(round(-sum((col("cnt") / col("n")) * log2(col("cnt") / col("n"))), 4).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ent(0L) == 0.0)
    assert(ent(1L) == 3.0) // log2(8)
  }

  test("bpe pre-tokenizer splits letter/digit/punct runs with attached spaces") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pat = "'[sdmt]|'ll|'ve|'re| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+| +"
    def count(text: String): Int =
      Seq((0L, text)).toDF("doc_id", "text")
        .select(size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n"))
        .head.getInt(0)
    // "hello", " world", " 42", "!?" -> 4
    assert(count("hello world 42!?") == 4)
    // r10: the contraction alternatives carry their apostrophes, so a word
    // STARTING with s/d/m/t/ll/ve/re is one letter run, not two pieces
    // ("the story" used to split t|he| story)
    assert(count("the story") == 2)
    assert(count("sand model") == 2)
    // contractions split off with the apostrophe attached: "don"+"'t"
    assert(count("don't") == 2)
    assert(count("we've") == 2)
  }

  // Driver-side reference BPE trainer: greedy left-to-right merge
  // application, most-frequent pair first, ties lexicographic — the
  // published algorithm, independent of the engine's relational form.
  private def refBpe(wordFreq: Seq[(String, Long)], rounds: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var words: Map[String, (Vector[String], Long)] =
      wordFreq.map { case (w, f) => w -> (w.map(_.toString).toVector, f) }.toMap
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      words.values.foreach { case (syms, f) =>
        (0 until syms.length - 1).foreach { i =>
          counts((syms(i), syms(i + 1))) += f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rr), cnt) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        out += ((r.toLong, l, rr, l + rr, cnt))
        words = words.map { case (w, (syms, f)) =>
          val nb = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              nb += (l + rr); i += 2
            } else { nb += syms(i); i += 1 }
          }
          w -> (nb.result(), f)
        }
        r += 1
      }
    }
    out.toSeq
  }

  private def engineBpe(wordFreq: Seq[(String, Long)], rounds: Int)
      : Seq[(Long, String, String, String, Long)] =
    ops.TextAnalysis.bpeMerges(spark, wordFreq.toDF("word", "freq"), rounds)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  test("bpe training: repeated-symbol runs merge left-to-right non-overlapping") {
    // "aaaa": pair (a,a) counts 3; greedy merge -> ["aa","aa"], so round 2
    // must see ("aa","aa") with count 1 — the overlap-resolution contract.
    val wf = Seq(("aaaa", 1L))
    val got = engineBpe(wf, 3)
    assert(got == Seq(
      (1L, "a", "a", "aa", 3L),
      (2L, "aa", "aa", "aaaa", 1L)))
    assert(got == refBpe(wf, 3))
  }

  test("bpe training: most-frequent pair wins, ties break lexicographically") {
    // (a,b) and (c,d) both count 5 -> ab merges first; then cd.
    val wf = Seq(("ab", 5L), ("cd", 5L))
    val got = engineBpe(wf, 2)
    assert(got == Seq(
      (1L, "a", "b", "ab", 5L),
      (2L, "c", "d", "cd", 5L)))
    assert(got == refBpe(wf, 2))
  }

  test("bpe training: matches the driver-side reference on random corpora") {
    // small alphabet forces pair collisions, ties, and within-word runs
    val rnd = new scala.util.Random(41)
    (1 to 5).foreach { _ =>
      val wf = (1 to 20).map { _ =>
        val w = (1 to (2 + rnd.nextInt(6)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        w -> (1L + rnd.nextInt(9))
      }.groupBy(_._1).map { case (w, vs) => w -> vs.map(_._2).sum }.toSeq
      assert(engineBpe(wf, 6) == refBpe(wf, 6))
    }
  }

  // reference final segmentation: replay refBpe's merges greedily
  private def refSegment(wordFreq: Seq[(String, Long)], rounds: Int)
      : Map[String, Vector[String]] = {
    val merges = refBpe(wordFreq, rounds).map(m => (m._2, m._3))
    wordFreq.map { case (w, _) =>
      var syms = w.map(_.toString).toVector
      merges.foreach { case (l, rr) =>
        val nb = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
            nb += (l + rr); i += 2
          } else { nb += syms(i); i += 1 }
        }
        syms = nb.result()
      }
      w -> syms
    }.toMap
  }

  test("bigram logprob matches a driver-side reference LM replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val docs = (0L until 20L).map { id =>
      id -> (1 to (3 + rnd.nextInt(8))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // reference replay: interpolated bigram LM with corpus-count denominator
    val toks = docs.map { case (id, t) => id -> t.split(" ").toVector }
    val uni = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val total = toks.map(_._2.size).sum.toDouble
    val big = toks.flatMap { case (_, ts) => ts.zip(ts.drop(1)) }
      .groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val expect = toks.map { case (id, ts) =>
      val ps = ts.zipWithIndex.map { case (w, i) =>
        val u = uni(w) / total
        if (i == 0) u
        else 0.75 * (big.getOrElse((ts(i - 1), w), 0.0) / uni(ts(i - 1))) + 0.25 * u
      }
      id -> BigDecimal(ps.map(p => -math.log(p)).sum / ts.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = ops.TextAnalysis.bigramLogprobCore(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Double]("avg_nll"))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, (n, nll)) =>
      assert(n == toks.toMap.apply(id).size.toLong)
      assert(math.abs(nll - expect(id)) <= 0.0001,
        s"doc $id: engine $nll vs reference ${expect(id)}")
    }
  }

  test("perplexity buckets: tertile cut is ordered, exhaustive, and balanced") {
    val out = SparkEntry.queries("ta_perplexity_buckets")(spark, sf001).collect()
    val buckets = out.groupBy(_.getAs[String]("bucket"))
    assert(buckets.keySet == Set("head", "middle", "tail"))
    // every document lands in exactly one bucket
    val scoredDocs = SparkEntry.queries("ta_bigram_logprob")(spark, sf001).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == scoredDocs)
    // NTILE balance: bucket totals differ by at most 1
    val sizes = buckets.view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(sizes.values.max - sizes.values.min <= 1, s"unbalanced tertiles: $sizes")
    // the cut is a true ordering: every head NLL ≤ every middle NLL ≤ every tail NLL
    def hi(b: String) = buckets(b).map(_.getAs[Double]("max_nll")).max
    def lo(b: String) = buckets(b).map(_.getAs[Double]("min_nll")).min
    assert(hi("head") <= lo("middle") && hi("middle") <= lo("tail"),
      "tertile boundaries must partition the NLL order")
  }

  test("bpe final segmentation (the vocab query's input) matches the reference replay") {
    val rnd = new scala.util.Random(43)
    val wf = (1 to 25).map { _ =>
      val w = (1 to (2 + rnd.nextInt(6)))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      w -> (1L + rnd.nextInt(9))
    }.groupBy(_._1).map { case (w, vs) => w -> vs.map(_._2).sum }.toSeq
    val fin = ops.TextAnalysis.bpeFinalSymbols(spark, wf.toDF("word", "freq"), 6)
    val got = fin.collect()
      .groupBy(_.getAs[String]("word"))
      .map { case (w, rows) =>
        w -> rows.sortBy(_.getAs[Long]("pos")).map(_.getAs[String]("sym")).toVector
      }
    fin.unpersist()
    assert(got == refSegment(wf, 6))
  }

  test("filter cascade: first-fail charging, telescoping remainder, all stages present") {
    // one doc per rule, in cascade order, plus two survivors; the
    // 5_repetition doc fails NO earlier rule (26 words incl. 2 stop hits,
    // inside both length bands, mean word len ~3.9) and a doc failing
    // MULTIPLE rules (3 words, no stopwords) must be charged to the FIRST
    val survivor = (("the of and to in a " * 5) +
      (1 to 14).map(i => s"wordish$i").mkString(" ")).trim // 44 words, mwl ~3.9
    val docs = Seq(
      (1L, "too short doc"),                               // 1_min_words (also 4)
      (2L, ("long " * 99).trim + " the of and in to"),     // 2_max_words
      (3L, ("word " * 24).trim + " the of"),               // 5_repetition (3/26 distinct)
      (4L, (1 to 30).map(i => s"word$i").mkString(" ")),   // 4_stop_hits (no stopwords)
      (5L, survivor),                                      // 6_pass
      (6L, survivor + " extra")                            // 6_pass
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.filterCascadeCore(spark, docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val byStage = out.map(t => t._1 -> t._2).toMap
    // every stage row exists, even zero-reject ones
    assert(out.map(_._1) == Seq("1_min_words", "2_max_words", "3_mean_word_len",
      "4_stop_hits", "5_repetition", "6_pass"))
    assert(byStage("1_min_words") == 1L, s"doc 1 charged to first rule only: $out")
    assert(byStage("2_max_words") == 1L, out.toString)
    assert(byStage("3_mean_word_len") == 0L,
      s"the Gopher [3,10] band rejects nothing on this fixture: $out")
    assert(byStage("4_stop_hits") == 1L, out.toString)
    assert(byStage("5_repetition") == 1L, out.toString)
    assert(byStage("6_pass") == 2L, out.toString)
    // n_after telescopes: total - cumulative, ending at zero
    val total = out.map(_._2).sum
    var remaining = total
    out.foreach { case (_, n, after) =>
      remaining -= n
      assert(after == remaining, s"n_after must telescope: $out")
    }
    assert(out.last._3 == 0L)
  }

  test("winnowing: random corpora match the driver-side reference exactly") {
    // Fuzzes the r10 exploded+window rewrite against an independent
    // whole-document reference: random word mixes (stopwords, punctuation
    // wearing, unicode, repeats) with clean lengths straddling the
    // k+w-1 = 11 boundary. Every output column must match, including the
    // corpus-level df quantities (shared_fps/max_df).
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "the",
      "of", "café", "x1", "word,", "end.", "zz", "alpha", "charlie")
    val texts: Seq[(Long, String)] = (1L to 40L).map { id =>
      id -> (1 to rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    }
    val edgePat = Text.edgePunctPattern.r
    def cleanOf(text: String): String = text.toLowerCase.split(" ", -1).toSeq
      .map(w => edgePat.replaceAllIn(w, ""))
      .filter(w => w.nonEmpty && w.forall(_.isLetter) &&
        !Text.STOPWORDS.contains(w))
      .mkString(" ")
    def fps(clean: String): Seq[Long] = {
      val hashes = (0 to clean.length - 8).map(i =>
        clean.substring(i, i + 8).foldLeft(0L)(
          (a, c) => (a * 31 + c.toLong) % 1000000007L))
      (0 to hashes.length - 4).map(j => hashes.slice(j, j + 4).min)
        .distinct.sorted
    }
    val cleans = texts.map { case (id, t) => id -> cleanOf(t) }
      .filter(_._2.length >= 11).toMap
    val fpSets = cleans.map { case (id, c) => id -> fps(c) }
    val df = fpSets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val out = graft.ops.TextAnalysis.winnowingCore(
      texts.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getDouble(4), r.getLong(5), r.getInt(6), r.getInt(7)))).toMap
    assert(out.keySet == cleans.keySet, "row per doc past the length gate")
    cleans.foreach { case (id, c) =>
      val (nGrams, nWindows, nFps, density, checksum, shared, maxDf) = out(id)
      val expFps = fpSets(id)
      assert(nGrams == c.length - 7, s"doc $id n_grams")
      assert(nWindows == c.length - 10, s"doc $id n_windows")
      assert(nFps == expFps.size, s"doc $id n_fps")
      assert(math.abs(density -
        BigDecimal(expFps.size.toDouble / nWindows)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12,
        s"doc $id density")
      assert(checksum == expFps.sum, s"doc $id fp_checksum")
      assert(shared == expFps.count(f => df(f) >= 2), s"doc $id shared_fps")
      assert(maxDf == expFps.map(df).max, s"doc $id max_df")
    }
  }

  test("winnowing: matches a driver-side reference; k+w-1 guarantee holds") {
    // docs 1 and 2 share the clean substring "charlie delta echo foxtrot
    // golf" (31 chars ≥ k+w-1 = 11) → winnowing GUARANTEES a shared
    // fingerprint; doc 3 shares nothing that long with either.
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf"),
      (2L, "zulu yankee xray charlie delta echo foxtrot golf whiskey"),
      (3L, "mmm nnn ooo ppp qqq rrr sss ttt")
    ).toDF("doc_id", "text")
    // reference winnowing: same normalization, 31-poly k=8 gram hashes,
    // w=4 window minima, distinct
    def ref(text: String): Seq[Long] = {
      val clean = text.toLowerCase.split(" ")
        .filter(t => t.nonEmpty && t.forall(_.isLetter) &&
          !Text.STOPWORDS.contains(t))
        .mkString(" ")
      if (clean.length < 11) Seq.empty
      else {
        val hashes = (0 to clean.length - 8).map(i =>
          clean.substring(i, i + 8).foldLeft(0L)(
            (a, c) => (a * 31 + c.toLong) % 1000000007L))
        (0 to hashes.length - 4).map(j => hashes.slice(j, j + 4).min)
          .distinct.sorted
      }
    }
    val texts = Map(1L -> "alpha bravo charlie delta echo foxtrot golf",
      2L -> "zulu yankee xray charlie delta echo foxtrot golf whiskey",
      3L -> "mmm nnn ooo ppp qqq rrr sss ttt")
    val fpSets = texts.map { case (id, t) => id -> ref(t) }
    assert(fpSets(1L).intersect(fpSets(2L)).nonEmpty,
      "guaranteed shared fingerprint for a 31-char shared substring")
    assert(fpSets(3L).intersect(fpSets(1L) ++ fpSets(2L)).isEmpty)
    val df = fpSets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val out = graft.ops.TextAnalysis.winnowingCore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(3), r.getLong(5), r.getInt(6), r.getInt(7))))
      .toMap
    fpSets.foreach { case (id, fps) =>
      val (nFps, checksum, shared, maxDf) = out(id)
      assert(nFps == fps.size, s"doc $id n_fps")
      assert(checksum == fps.sum, s"doc $id fp_checksum")
      assert(shared == fps.count(f => df(f) >= 2), s"doc $id shared_fps")
      assert(maxDf == fps.map(df).max, s"doc $id max_df")
    }
    assert(out(1L)._3 >= 1 && out(2L)._3 >= 1 && out(3L)._3 == 0)
  }

  test("S5 bump-chart sink: writeBumpChart renders a well-formed SVG of the rank table") {
    val dir = TmpDirs.create("graft_bump_spec")
    val path = s"$dir/bump.svg"
    graft.ops.TextPipeline.writeBumpChart(spark, sf001, path)
    val svg = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    assert(svg.startsWith("<svg xmlns=\"http://www.w3.org/2000/svg\""))
    assert(svg.trim.endsWith("</svg>"))
    val polys = "<polyline ".r.findAllIn(svg).size
    val labels = "<text ".r.findAllIn(svg).size
    assert(polys >= 10, s"expected >=10 token trajectories, got $polys")
    // one label per polyline plus one per snapshot axis tick
    assert(labels > polys, s"labels=$labels polys=$polys")
    // every y coordinate is on the integer rank grid (20 + 24*rank, rank 1..10)
    val ys = "points=\"([^\"]+)\"".r.findAllMatchIn(svg).flatMap(
      _.group(1).split(" ").map(_.split(",")(1).toInt)).toSeq
    assert(ys.nonEmpty && ys.forall(y => (y - 20) % 24 == 0 &&
      (y - 20) / 24 >= 1 && (y - 20) / 24 <= 10), "rank grid violated")
  }

  test("fused token scrub ≡ edge-strip then clitic-strip ×2 (r13 hot-path fusion)") {
    import graft.functions.Text
    // The fused single-regex scrub exists because the per-token lambda is
    // the engine's hottest loop; this pins its equivalence to the naive
    // three-pass composition over an adversarial cross product (empty
    // stems, clitic-looking stems, interior apostrophes, double clitics,
    // unicode punctuation runs on both ends).
    val fused = Text.tokenScrubPattern.r
    val edge = Text.edgePunctPattern.r
    val clitic = Text.cliticSuffixPattern.r
    def ref(t: String): String = {
      val e = edge.replaceAllIn(t, "")
      clitic.replaceFirstIn(clitic.replaceFirstIn(e, ""), "")
    }
    val stems = Seq("", "do", "ca", "she", "it", "word", "y'all", "o'clock",
      "rock'n'roll", "café", "n", "s", "don")
    val clitics = Seq("", "n't", "'s", "'re", "'ve", "'ll", "'d", "'m",
      "'d've", "n't's", "'n", "'ll've'd")
    val puncts = Seq("", ",", "...", "\"", "''", "—", "?!", "'", "«»")
    var n = 0
    for (p1 <- puncts; s <- stems; c <- clitics; p2 <- puncts) {
      val tok = p1 + s + c + p2
      assert(fused.replaceAllIn(tok, "") == ref(tok),
        s"fused scrub diverges from 3-pass reference on <$tok>")
      n += 1
    }
    assert(n > 10000) // the cross product actually ran
  }

  test("Treebank word-list contractions split into NLTK's alpha parts (r14)") {
    import spark.implicits._
    import graft.functions.Text
    // The closed MacIntyre list, each form wearing edge punctuation so the
    // scrub→word-list ordering is exercised; 'tis/'twas enter with their
    // leading apostrophe and split via the PRE-scrub rules (r15 — the
    // apostrophe is what licenses NLTK's CONTRACTIONS2 split, so bare
    // "tis"/"twas" stay whole; see TokenizerExprSpec). A word that
    // merely CONTAINS a list form must not split ("cannothing").
    val got = Seq("You cannot, gimme; (gonna) gotta! lemme wanna " +
        "d'ye more'n 'tis 'twas cannothing scannot")
      .toDF("text").select(Text.rawAlphaTokens(col("text")).as("t"))
      .head().getSeq[String](0)
    assert(got == Seq("you", "can", "not", "gim", "me", "gon", "na",
      "got", "ta", "lem", "me", "wan", "na", "d", "more", "is", "was",
      "cannothing", "scannot"))
    // and the stopword stage then drops exactly the NLTK-stopword parts
    // (can/not/d/is/was/me), the reference-pipeline behavior the r13
    // ADVICE flagged as divergent for the fused "cannot"
    val full = Seq("you cannot gimme gonna")
      .toDF("text").select(Text.tokens(col("text")).as("t"))
      .head().getSeq[String](0)
    assert(full == Seq("gim", "gon", "na"))
  }

  test("native winnow fps ≡ declarative char-explode chain, element-exact") {
    import spark.implicits._
    // real corpus rows + adversarial synthetics: unicode (code-point
    // walk vs ascii(substr)), exact k+w-1 boundary length, repeated text
    // (duplicate window minima collapse identically), and a long
    // repetitive doc (deque tie-handling under equal hashes)
    val synth = Seq(
      (9101L, "héllo wörld ünïcode fingerprint test zone"),
      (9102L, "abcdefghijk"), // 11 chars = k+w-1 exactly, one window
      (9103L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
      (9104L, "𝕊upplementary 𝕡lane walk stays aligned"),
      (9105L, "ab ab ab ab ab ab ab ab ab ab")).toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).union(synth)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val native = rows(graft.ops.TextAnalysis.winnowFpsNative(docs))
    val decl = rows(graft.ops.TextAnalysis.winnowFpsDeclarative(docs))
    assert(native == decl,
      s"fp row sets diverge: native-only=${(native -- decl).take(3)}, " +
        s"decl-only=${(decl -- native).take(3)}")
    assert(native.nonEmpty)
  }

  test("contamination: distinct-text dictionary tier ≡ direct path") {
    // r20 (verdict #3): ta_contamination's per-(doc, 5-gram) frame was
    // the registry's largest remaining super-linear working set at 1000×
    // (57.7 s / 53.9 GiB spill). On a 3×-duplicated corpus the gated
    // distinct-text tier must emit row-for-row the direct doc-level
    // plan's report (sorted-sequence compare pins multiplicity too).
    import org.apache.spark.sql.functions.{col, lit}
    val base = graft.Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    val maxId = base.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head.getLong(0) + 1L
    val dup = (0 until 3).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * maxId))).reduce(_ unionAll _)
    def rows(dict: Option[Boolean]) = graft.ops.TextAnalysis.contaminationCore(dup, dict).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_in_train"), r.getAs[Double]("overlap"),
        r.getAs[Boolean]("contaminated"))).toSeq.sorted
    val direct = rows(Some(false))
    // 3× duplication trips the default 2.0 gate: dictionary tier active
    val (n, nd) = graft.ops.Dedup.duplicationOf(dup)
    assert(n >= 2L * nd, "fixture must trip the default duplication gate")
    val dict = rows(None)
    assert(dict == direct,
      s"report divergence: only-dict=${dict.diff(direct).take(3)}, " +
        s"missed=${direct.diff(dict).take(3)}")
    assert(dict.nonEmpty && dict.exists(_._5), "fixture must flag contamination")
  }

  test("entropy: native fused stats ≡ legacy explode + two-aggregate + join chain") {
    // r20 (verdict #1): ta_entropy's per-doc statistics are pure per-row
    // functions of the text; the native GraftEntropyStats kernel must
    // match the legacy declarative chain at the query's round(4)
    // contract on corpus rows + synthetic torture (uniform docs where
    // entropy is exactly representable, single-token docs, EMPTY
    // segments from consecutive/leading/trailing spaces, the empty
    // string, multi-byte text where lowercase changes byte lengths).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val synth = Seq(
      (8001L, "one"),                              // single token: entropy 0
      (8002L, "a a a a a a a a"),                  // uniform repeat: 0
      (8003L, "a b c d"),                          // uniform distinct: exactly 2.0
      (8004L, "a a b b c c d d e e f f g g h h"),  // uniform pairs: 3.0
      (8005L, "x y y z z z"),                      // mixed counts
      (8006L, ""),                                 // one empty segment
      (8007L, "  a  b "),                          // empty segments kept
      (8008L, "HÉLLO héllo ÎÏ Straße STRASSE 𝕊x")) // unicode lowering
      .toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).union(synth)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    val fused = rows(docs
      .select(col("doc_id"), Text.entropyStats(col("text")).as("st"))
      .select(col("doc_id"), round(col("st.entropy"), 4).as("entropy"),
        col("st.n_distinct"), col("st.n_tokens")))
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("tok"))
    val cnts = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = cnts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"))
    val legacy = rows(cnts.join(tot, "doc_id").groupBy(col("doc_id"))
      .agg(round(-sum((col("cnt") / col("n")) * log2(col("cnt") / col("n"))), 4)
        .as("entropy"),
        max(col("n_distinct")).as("n_distinct"), max(col("n")).as("n_tokens")))
    assert(fused.size == legacy.size)
    assert(fused == legacy,
      s"entropy divergence: ${fused.zip(legacy).filter(p => p._1 != p._2).take(3)}")
    assert(fused.exists(r => r._1 == 8003L && r._2 == 2.0))
    // "  a  b " = 5 spaces → 6 segments (4 empty + a + b), 3 distinct
    assert(fused.exists(r => r._1 == 8007L && r._4 == 6L && r._3 == 3L))
  }
}
