package graft.functions

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The tokenize→scrub→word-split→alpha→stopword chain as ONE native JVM
  * pass (r14 verdict #1 — the engine's single biggest measured CPU lever):
  * the declarative chain in [[Text]] rides Spark's `ArrayTransform` /
  * `ArrayFilter`, which are CodegenFallback — every token of every
  * document pays interpreted per-element Catalyst dispatch, measured at
  * ~25 µs/token, 50–100× the cost of the scrub regex itself (~0.3 µs).
  * This helper computes the IDENTICAL function (reference semantics:
  * /root/reference/data_loader/base_dataset_loader.py:80-91 — lowercase,
  * whitespace split, NLTK-style punctuation/contraction handling, isalpha,
  * stopwords; the Penn `tokenizer.sed` fixed word list) in a tight loop
  * that the expressions below call as a single codegen'd method — the
  * whole chain stays inside WholeStageCodegen with zero per-element
  * dispatch.
  *
  * Parity is pinned three ways: the declarative twins remain in [[Text]]
  * (`hof*` builders) and TokenizerExprSpec asserts native ≡ declarative
  * over the torture corpus + random unicode strings; NltkParitySpec runs
  * the golden-NLTK fixture THROUGH the native path (Text's public
  * builders now emit these expressions); and every tokenizing oracle
  * query hash-compares against the unchanged DuckDB twins.
  *
  * Fast path: a pure-letter token (the overwhelming majority) cannot
  * match the scrub (every branch requires an EdgePunct char or an
  * apostrophe-bearing clitic) nor the 'tis/'twas rules (both require a
  * literal apostrophe), so it skips all regex work — one letter-scan,
  * one word-list probe, one stopword probe.
  */
object GraftTokenizer {

  private val scrubP = Pattern.compile(Text.tokenScrubPattern)
  private val tisP = Pattern.compile(Text.tisTokenPattern)
  private val twasP = Pattern.compile(Text.twasTokenPattern)
  // Matchers are stateful and not thread-safe; one per executor thread,
  // reset per token — no per-token Matcher allocation
  private def tl(p: Pattern) = ThreadLocal.withInitial[Matcher](() => p.matcher(""))
  private val scrubM = tl(scrubP)
  private val tisM = tl(tisP)
  private val twasM = tl(twasP)

  private val wordSplits: java.util.HashMap[String, Array[String]] = {
    val m = new java.util.HashMap[String, Array[String]]()
    Text.WordSplits.foreach { case (w, parts) => m.put(w, parts.toArray) }
    m
  }
  private val stops: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Text.STOPWORDS.foreach(s.add)
    s
  }

  // UTF8String-keyed lookup tables (r16, r15 verdict
  // #4): the allocation profile of the bench loop showed the native
  // tokenizer still paying one String decode + one UTF8String re-encode
  // per token per row — pure-ASCII-letter tokens (the overwhelming
  // majority) now probe and emit zero-copy byte VIEWS into the lowercased
  // row buffer, the same reference-emitting convention Spark's own array
  // HOFs use. The slow path keeps the String-keyed `stops` and `wordSplits`.
  private val stopsU: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    Text.STOPWORDS.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  private val wordSplitsU: java.util.HashMap[UTF8String, Array[UTF8String]] = {
    val m = new java.util.HashMap[UTF8String, Array[UTF8String]]()
    Text.WordSplits.foreach { case (w, parts) =>
      m.put(UTF8String.fromString(w), parts.map(UTF8String.fromString).toArray)
    }
    m
  }
  private val lemmaDictU: java.util.HashMap[UTF8String, UTF8String] = {
    val m = new java.util.HashMap[UTF8String, UTF8String]()
    Lemmatizer.DICT.foreach { case (k, v) =>
      m.put(UTF8String.fromString(k), UTF8String.fromString(v))
    }
    m
  }

  /** All bytes in 'a'..'z' — the zero-copy fast-path gate. A token passing
    * this is necessarily all-letters (the isAllLetters superset) and needs
    * no regex, no decode, and no re-encode. UTF-8 continuation bytes are
    * negative as signed bytes, so a multi-byte character can never pass. */
  private def isAsciiLowerAlpha(t: UTF8String): Boolean = {
    val n = t.numBytes()
    if (n == 0) return false
    var i = 0
    while (i < n) {
      val b = t.getByte(i)
      if (b < 'a' || b > 'z') return false
      i += 1
    }
    true
  }

  private def emitU(tok: UTF8String, dropStops: Boolean,
                    out: java.util.ArrayList[AnyRef]): Unit =
    if (!(dropStops && stopsU.contains(tok))) {
      out.add(tok): Unit
    }

  /** Fast path for a pure-ASCII-letter token view: word-list probe and
    * stopword probe directly on the bytes, emitting the view itself.
    * Everything else (punctuation, clitics, non-ASCII letters) takes the
    * existing String-based slow path — identical semantics, pinned by
    * TokenizerExprSpec's native≡declarative net. */
  private def processTokenU(t: UTF8String, dropStops: Boolean,
                            out: java.util.ArrayList[AnyRef]): Unit =
    if (isAsciiLowerAlpha(t)) {
      val parts = wordSplitsU.get(t)
      if (parts == null) emitU(t, dropStops, out)
      else {
        var i = 0
        while (i < parts.length) { emitU(parts(i), dropStops, out); i += 1 }
      }
    } else processToken(t.toString, dropStops, out)

  /** Python `str.isalpha` / `\p{L}+` twin: non-empty and every code point
    * in Unicode categories Lu/Ll/Lt/Lm/Lo — exactly
    * `Character.isLetter`'s definition, exactly Java/RE2 `\p{L}`.
    * Code-point iteration so supplementary-plane letters count and
    * unpaired surrogates (category Cs) reject, as in both regex twins. */
  private def isAllLetters(s: String): Boolean = {
    val n = s.length
    if (n == 0) return false
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (!Character.isLetter(cp)) return false
      i += Character.charCount(cp)
    }
    true
  }

  private def emit(tok: String, dropStops: Boolean,
                   out: java.util.ArrayList[AnyRef]): Unit =
    if (!(dropStops && stops.contains(tok))) {
      out.add(UTF8String.fromString(tok)): Unit
    }

  /** One already-lowercased whitespace token through scrub → word-split →
    * alpha → (stopword). Mirrors the declarative pass order exactly:
    * 'tis/'twas pre-scrub rules first (they need the pre-strip apostrophe
    * — r14 ADVICE #2), then the fused scrub, then the word-list probe,
    * then the `\p{L}+` filter. */
  private def processToken(t: String, dropStops: Boolean,
                           out: java.util.ArrayList[AnyRef]): Unit = {
    if (t.isEmpty) return
    if (isAllLetters(t)) {
      val parts = wordSplits.get(t)
      if (parts == null) emit(t, dropStops, out)
      else {
        var i = 0
        while (i < parts.length) { emit(parts(i), dropStops, out); i += 1 }
      }
    } else {
      // any 'tis/'twas match necessarily contains the literal apostrophe
      // form, so the cheap substring gate skips both regexes otherwise
      if (t.indexOf('\'') >= 0) {
        if (t.contains("'tis") && tisM.get().reset(t).find()) {
          emit("is", dropStops, out); return
        }
        if (t.contains("'twas") && twasM.get().reset(t).find()) {
          emit("was", dropStops, out); return
        }
      }
      val s2 = scrubM.get().reset(t).replaceAll("")
      val parts = wordSplits.get(s2)
      if (parts != null) {
        var i = 0
        while (i < parts.length) { emit(parts(i), dropStops, out); i += 1 }
      } else if (isAllLetters(s2)) emit(s2, dropStops, out)
    }
  }

  /** Full chain from a raw text column: `lower` via `UTF8String
    * .toLowerCase` — the same method Spark's own `Lower` calls, so case
    * folding is bit-identical to the declarative twin — then a literal
    * single-space split (what `split(_, " ")` compiles to; empty cells
    * are dropped by the alpha filter in both formulations). */
  def tokenize(input: UTF8String, dropStops: Boolean): ArrayData = {
    // byte-level split on 0x20 over the lowercased UTF8String: no full-row
    // String decode, and each token is a zero-copy view (r16). Equivalent
    // to the char split: no UTF-8 continuation byte equals the space byte.
    val lower = input.toLowerCase
    val nb = lower.numBytes()
    val out = new java.util.ArrayList[AnyRef](
      math.max(8, math.min(128, nb / 6)))
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || lower.getByte(i) == ' ') {
        if (i > start)
          processTokenU(UTF8String.fromAddress(lower.getBaseObject,
            lower.getBaseOffset + start, i - start), dropStops, out)
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** dict-then-suffix-rule lemmatization + stopword drop over a token
    * array — the `filter(lemmatizeArray(raw), ¬stopword)` composition at
    * both lemma call sites, natively. [[Lemmatizer.suffixLemma]] is the
    * plain-Scala member of the pinned three-implementation contract
    * (TextSpec: ≡ Column form ≡ SQL form), so this path computes the
    * documented function by construction. */
  def lemmaStop(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](math.max(8, n))
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      if (u != null) {
        val d = lemmaDictU.get(u)
        if (d != null) {
          if (!stopsU.contains(d)) { out.add(d): Unit }
        } else {
          val nb = u.numBytes()
          // every suffix rule strips a trailing 's' — a dict-miss token
          // not ending in the 's' BYTE is its own lemma, zero decode
          // (non-ASCII tokens ending in the 's' byte still route through
          // suffixLemma, whose [a-z]+ guard returns them unchanged)
          if (nb == 0 || u.getByte(nb - 1) != 's') {
            if (!stopsU.contains(u)) { out.add(u): Unit }
          } else {
            val t = u.toString
            val lemma = Lemmatizer.suffixLemma(t)
            val lu = if (lemma eq t) u else UTF8String.fromString(lemma)
            if (!stopsU.contains(lu)) { out.add(lu): Unit }
          }
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Fused per-row quality-signal pass (r19, the graft_cp_stats
    * precedent — r18 verdict #4): `[n_raw, stop_hits, punct_chars,
    * n_chars]` as one expression, replacing the three separate text
    * passes the curation filter paid per row (the `split(lower(text))`
    * array materialization + countIn, and the `regexp_replace(text,
    * "[^a-z0-9 ]")` regex-engine pass + string copy — the dominant cost
    * at 100×). Semantics are EXACTLY the declarative chain's
    * (TokenizerExprSpec pins ≡ on the torture corpus + random unicode):
    *
    *  - n_raw       = size(split(lower(text), " ")) — segments between
    *                  single-space separators, trailing empties kept
    *                  (Spark split limit -1; DuckDB string_split): i.e.
    *                  #spaces + 1. Spaces are case-stable, so the count
    *                  reads the ORIGINAL bytes.
    *  - stop_hits   = countIn(that split, STOPWORDS) — membership of the
    *                  raw lowercased segments, empties never match.
    *  - punct_chars = length(text) − length(regexp_replace(text,
    *                  "[^a-z0-9 ]", "")) — CODE POINTS of the original
    *                  (un-lowered) text outside {a–z, 0–9, space}; both
    *                  regex twins and UTF8String.numChars count code
    *                  points, so a byte walk that skips UTF-8
    *                  continuation bytes (10xxxxxx) computes the same.
    *  - n_chars     = length(text) — code points.
    *
    * Two tight byte walks (original bytes, then the lowercased copy for
    * segment membership), zero regex, zero per-token allocation. */
  def qualitySignals(input: UTF8String): ArrayData = {
    val nb = input.numBytes()
    var punct = 0
    var chars = 0
    var nRaw = 1
    var i = 0
    while (i < nb) {
      val b = input.getByte(i)
      if ((b & 0xC0) != 0x80) { // code-point head byte
        chars += 1
        if (b == ' ') nRaw += 1
        else if (!((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')))
          punct += 1 // uppercase and every multi-byte head byte included,
                     // exactly what [^a-z0-9 ] matches on the raw text
      }
      i += 1
    }
    val lower = input.toLowerCase
    val lb = lower.numBytes()
    var stopHits = 0
    var start = 0
    i = 0
    while (i <= lb) {
      if (i == lb || lower.getByte(i) == ' ') {
        if (i > start && stopsU.contains(UTF8String.fromAddress(
            lower.getBaseObject, lower.getBaseOffset + start, i - start)))
          stopHits += 1
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(Array[Any](nRaw, stopHits, punct, chars))
  }

  /** Per-document token-entropy statistics in ONE pass over the text —
    * the fused form of ta_entropy's explode(split(lower(text), " ")) →
    * groupBy(doc_id, tok) count → per-doc aggregate chain (r20): the
    * exploded RAW token stream (the corpus token count, empties
    * included) rode TWO corpus-scale exchanges to compute what is a
    * pure per-row function of the text. Semantics pinned to the
    * declarative chain (TextSpec):
    *  - tokens are `split(lower(text), " ", -1)` segments — single-space
    *    delimiter, EMPTY segments kept (consecutive/leading/trailing
    *    spaces), lowercase via UTF8String.toLowerCase exactly like the
    *    Lower expression. The ' ' byte never occurs as a UTF-8
    *    continuation byte, so the byte walk splits code-point-safely.
    *  - counts via an open HashMap of zero-copy slices of the lowered
    *    buffer; n = #segments = #spaces + 1, d = map size.
    *  - entropy = log2(n) − (Σ c·log2 c)/n ≡ −Σ (c/n)·log2(c/n) in the
    *    reals (the r20 single-aggregate identity); log2(x) =
    *    Math.log(x)/Math.log(2), the same arithmetic Spark's Log2 runs.
    *    Summation order (map iteration) differs from the aggregate's
    *    partition order by ~1e-13 relative against a round(4) contract
    *    (rounding happens in the plan, not here — oracle-verified at
    *    every sf).
    * Returns (entropy: Double, n_distinct: Long, n_tokens: Long). */
  private val Log2 = math.log(2.0)
  def entropyStats(input: UTF8String): InternalRow = {
    val lower = input.toLowerCase
    val lb = lower.numBytes()
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    var n = 0L
    var start = 0
    var i = 0
    while (i <= lb) {
      if (i == lb || lower.getByte(i) == ' ') {
        val seg = UTF8String.fromAddress(
          lower.getBaseObject, lower.getBaseOffset + start, i - start)
        val c = counts.get(seg)
        if (c == null) counts.put(seg, Array(1)) else c(0) += 1
        n += 1L
        start = i + 1
      }
      i += 1
    }
    var s = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0).toDouble
      s += c * (math.log(c) / Log2)
    }
    val entropy = math.log(n.toDouble) / Log2 - s / n
    new GenericInternalRow(Array[Any](entropy, counts.size().toLong, n))
  }

  /** `size(filter(arr, _.isInCollection(words)))` natively: membership
    * hits in a pinned word set (stop-ratio and lang-id signals). Null
    * cells contribute nothing (the 3VL filter drops them). */
  def countIn(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = arr.numElements()
    var i = 0
    var hits = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      if (u != null && set.contains(u)) hits += 1
      i += 1
    }
    hits
  }
}

/** Native tokenizer expression over a string column (full chain incl.
  * lower+split). `dropStops = false` → T1+T2 only
  * ([[Text.rawAlphaTokens]]); `true` → the full T1-T4 chain
  * ([[Text.tokens]]). */
case class GraftTokens(child: Expression, dropStops: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    GraftTokenizer.tokenize(v.asInstanceOf[UTF8String], dropStops)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftTokenizer.tokenize($c, $dropStops)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String =
    if (dropStops) "graft_tokens" else "graft_raw_tokens"
}

/** Native lemmatize+stopword-drop over a (raw-alpha) token array. */
case class GraftLemmaStop(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    GraftTokenizer.lemmaStop(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftTokenizer.lemmaStop($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_lemma_stop"
}

/** Native fused quality-signal pass over a string column:
  * `[n_raw, stop_hits, punct_chars, n_chars]` ints — see
  * [[GraftTokenizer.qualitySignals]]. */
case class GraftQualitySignals(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    GraftTokenizer.qualitySignals(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftTokenizer.qualitySignals($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_quality_signals"
}

/** Native fused per-document entropy statistics over a text column:
  * `(entropy, n_distinct, n_tokens)` — see
  * [[GraftTokenizer.entropyStats]] for the pinned semantics. */
case class GraftEntropyStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got $t")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("entropy", DoubleType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any =
    GraftTokenizer.entropyStats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftTokenizer.entropyStats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_entropy_stats"
}

/** Native membership-hit counter over an array<string> column against a
  * pinned literal word set. */
case class GraftCountIn(child: Expression, words: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got $t")
  }
  override def dataType: DataType = IntegerType

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(v: Any): Any =
    GraftTokenizer.countIn(v.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftWordSet", set, "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftTokenizer.countIn($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_count_in"
}
