package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lemmatization (SURVEY.md T3 — reference uses NLTK WordNet,
  * base_dataset_loader.py:80,89; no JVM twin exists, §7.5). Strategy: an
  * explicit word→lemma dictionary applied either as
  *
  *  - a broadcast-map UDF (`lemmaUdf`) for per-token columns, or
  *  - a broadcast dimension join (`lemmatizeTokens`) inside token pipelines
  *    — the declarative form Catalyst can optimize, and the form the DuckDB
  *    oracle can reproduce with the identical VALUES list.
  *
  * The dictionary is deliberately explicit and versioned with the code:
  * lemma parity with NLTK is unattainable without its data files, so the
  * contract is "this dictionary, exactly" (fixture-pinned), not "whatever
  * NLTK does".
  */
object Lemmatizer {

  /** Explicit lemma dictionary: regular corpus-vocabulary plurals (kept
    * for doc value; the suffix rules would produce the same) plus the
    * WordNet noun.exc irregular-plural entries (public data —
    * wolf/woman/foot/corpus/criterion/... are the published exception
    * pairs every morphy description lists). The r10 expansion plus the
    * noun-only rule set below raised golden-NLTK agreement from 0.62 to
    * 0.99 (NltkParitySpec): the reference lemmatizes with NLTK's DEFAULT
    * pos — noun — which never strips -ing/-ed verb forms, so the engine's
    * old verbal entries/rules were themselves the divergence. The r12
    * expansion (verdict #6) covers the remaining published exception
    * classes (-i/-a/-ices/-ses/-ves/-men + lice/dice/brethren):
    * agreement 0.995 on the 187-row golden set, the one miss being the
    * deliberate "axes" pin below.
    *
    * Deliberate remaining divergence: "axes" → "axis" (the technical-
    * corpus reading; NLTK's min-by-length tie-break returns "ax"). */
  val DICT: Seq[(String, String)] = Seq(
    "rows" -> "row", "queries" -> "query", "tables" -> "table",
    "keys" -> "key", "values" -> "value", "parts" -> "part",
    "columns" -> "column", "lines" -> "line", "customers" -> "customer",
    "streams" -> "stream", "windows" -> "window", "batches" -> "batch",
    "merges" -> "merge", "scans" -> "scan", "sorts" -> "sort",
    "joins" -> "join", "filters" -> "filter", "groups" -> "group",
    "children" -> "child", "mice" -> "mouse",
    "wolves" -> "wolf", "shelves" -> "shelf", "thieves" -> "thief",
    "halves" -> "half", "wives" -> "wife", "knives" -> "knife",
    "lives" -> "life", "calves" -> "calf", "loaves" -> "loaf",
    "leaves" -> "leaf",
    "women" -> "woman", "feet" -> "foot", "teeth" -> "tooth",
    "geese" -> "goose",
    "corpora" -> "corpus", "criteria" -> "criterion",
    "phenomena" -> "phenomenon", "matrices" -> "matrix",
    "indices" -> "index", "vertices" -> "vertex",
    "appendices" -> "appendix", "analyses" -> "analysis",
    "hypotheses" -> "hypothesis", "theses" -> "thesis",
    "axes" -> "axis", "crises" -> "crisis", "oxen" -> "ox",
    "alumni" -> "alumnus", "fungi" -> "fungus", "larvae" -> "larva",
    "radii" -> "radius", "series" -> "series", "species" -> "species",
    // r12 noun.exc expansion (verdict #6): the published irregular-plural
    // classes beyond the r10 core. Each inflected form is NOT itself a
    // WordNet noun lemma (else min-by-length would keep it — the
    // data/men/media subtlety), so the exception base is NLTK's output.
    // -i -> -us
    "cacti" -> "cactus", "nuclei" -> "nucleus", "stimuli" -> "stimulus",
    "foci" -> "focus", "loci" -> "locus", "syllabi" -> "syllabus",
    "termini" -> "terminus", "bacilli" -> "bacillus",
    // -a -> -um / -on
    "curricula" -> "curriculum", "memoranda" -> "memorandum",
    "addenda" -> "addendum", "strata" -> "stratum", "spectra" -> "spectrum",
    "quanta" -> "quantum", "maxima" -> "maximum", "minima" -> "minimum",
    "optima" -> "optimum", "millennia" -> "millennium",
    "symposia" -> "symposium", "continua" -> "continuum",
    "ganglia" -> "ganglion", "automata" -> "automaton",
    // -ses -> -sis (the exception branch short-circuits morphy's rules,
    // so e.g. "bases" -> "basis", never the rule-path "base")
    "ellipses" -> "ellipsis", "synopses" -> "synopsis",
    "diagnoses" -> "diagnosis", "prognoses" -> "prognosis",
    "emphases" -> "emphasis", "oases" -> "oasis",
    "neuroses" -> "neurosis", "psychoses" -> "psychosis",
    "syntheses" -> "synthesis", "metamorphoses" -> "metamorphosis",
    "parentheses" -> "parenthesis", "bases" -> "basis",
    // -ices
    "vortices" -> "vortex", "apices" -> "apex", "codices" -> "codex",
    "helices" -> "helix", "cortices" -> "cortex",
    // -ves (no blanket ves-rule: the engine's suffix rules skip it, so
    // these ride the dictionary like every other exception)
    "scarves" -> "scarf", "hooves" -> "hoof", "elves" -> "elf",
    "selves" -> "self", "wharves" -> "wharf",
    // -men -> -man: morphy has a men->man detachment RULE, but applying
    // it blind would mangle abdomen/regimen/specimen (NLTK survives via
    // the lexicon-membership filter the engine deliberately lacks), so
    // the common compounds ride the dictionary instead
    "gentlemen" -> "gentleman", "firemen" -> "fireman",
    "policemen" -> "policeman", "businessmen" -> "businessman",
    "craftsmen" -> "craftsman", "freshmen" -> "freshman",
    "spokesmen" -> "spokesman", "chairmen" -> "chairman",
    "fishermen" -> "fisherman", "salesmen" -> "salesman",
    "statesmen" -> "statesman", "workmen" -> "workman",
    "congressmen" -> "congressman",
    // other noun.exc irregulars
    "lice" -> "louse", "dice" -> "die", "brethren" -> "brother",
    // identity pins for stopword-list inflections with NO WordNet noun
    // lemma: NLTK returns the form unchanged (dictionary miss), so the
    // downstream stopword filter removes it — without these the bare -s
    // rule would mint "themselve"/"jenkin" and leak them PAST the filter
    // in the reference's lemma-then-stopwords order. ("does" is absent
    // deliberately: NLTK really does return WordNet's "doe", which
    // survives the filter in the reference too.)
    "ourselves" -> "ourselves", "yourselves" -> "yourselves",
    "themselves" -> "themselves", "jenkins" -> "jenkins")

  // -------------------------------------------------------- suffix rules
  //
  // Fallback for words the dictionary misses: a deterministic
  // approximation of WordNet morphy's NOUN rule paths — the reference
  // lemmatizes with NLTK's default pos, which is noun, so ONLY plural
  // suffixes are handled; -ing/-ed verb forms pass through unchanged
  // exactly as default-noun NLTK leaves them (the pre-r10 verbal rules
  // were the single largest divergence class). Three lockstep
  // implementations — plain Scala (UDF), Column (codegen), SQL string
  // (DuckDB oracle) — kept byte-equivalent by the shared rule order
  // below; the oracle gate verifies parity on the full corpus each round.
  //
  //  0. not ^[a-z]+$       → unchanged   (hyphenated, unicode, digit-
  //                          bearing forms have no WordNet entry, and
  //                          morphy returns dictionary misses unchanged —
  //                          the index-free approximation of that check)
  //  1. *ies, len>4        → -ies +y     (parties → party)
  //  2. *ches|shes|xes|zes|sses → -es    (boxes → box, classes → class)
  //  3. *ss                → unchanged   (class, less)
  //  4. *s, len>3, not *us/*is → -s      (runs → run; bonus, basis stay)
  //
  // The remaining inherent divergence is out-of-vocabulary plurals: with
  // no WordNet index, rule 4 strips -s from words NLTK would return
  // unchanged for want of a dictionary hit (pinned in NltkParitySpec).

  /** Plain-Scala rule (UDF + tests). */
  def suffixLemma(t: String): String = {
    if (!t.forall(c => c >= 'a' && c <= 'z')) t
    else if (t.endsWith("ies") && t.length > 4) t.dropRight(3) + "y"
    else if (Seq("ches", "shes", "xes", "zes", "sses").exists(t.endsWith)) t.dropRight(2)
    else if (t.endsWith("ss")) t
    else if (t.endsWith("s") && t.length > 3 && !t.endsWith("us") && !t.endsWith("is"))
      t.dropRight(1)
    else t
  }

  /** Column twin (stays inside codegen — when-chain over string builtins). */
  def suffixLemmaCol(t: Column): Column = {
    def drop(n: Int): Column = t.substr(lit(1), length(t) - n)
    // \A..\z: RLIKE is find-semantics and Java `$` forgives a trailing
    // newline — ^..$ would disagree with the plain-Scala forall guard on
    // a "word\n" token (see Text.edgePunctPattern note)
    when(!t.rlike("\\A[a-z]+\\z"), t)
      .when(t.endsWith("ies") && length(t) > 4, concat(drop(3), lit("y")))
      .when(t.endsWith("ches") || t.endsWith("shes") || t.endsWith("xes") ||
        t.endsWith("zes") || t.endsWith("sses"), drop(2))
      .when(t.endsWith("ss"), t)
      .when(t.endsWith("s") && length(t) > 3 &&
        !t.endsWith("us") && !t.endsWith("is"), drop(1))
      .otherwise(t)
  }

  /** DuckDB twin of [[suffixLemmaCol]]; `e` must be a bare column/lambda
    * variable reference (it is repeated many times). */
  def suffixLemmaSql(e: String): String =
    s"""CASE
       | WHEN NOT regexp_full_match($e, '[a-z]+') THEN $e
       | WHEN $e LIKE '%ies' AND len($e) > 4 THEN substr($e, 1, len($e) - 3) || 'y'
       | WHEN $e LIKE '%ches' OR $e LIKE '%shes' OR $e LIKE '%xes'
       |   OR $e LIKE '%zes' OR $e LIKE '%sses' THEN substr($e, 1, len($e) - 2)
       | WHEN $e LIKE '%ss' THEN $e
       | WHEN $e LIKE '%s' AND len($e) > 3 AND $e NOT LIKE '%us' AND $e NOT LIKE '%is'
       |   THEN substr($e, 1, len($e) - 1)
       | ELSE $e END""".stripMargin.replaceAll("\n", "")

  /** Broadcast-map scalar UDF: lemma(token). */
  def lemmaUdf(s: SparkSession): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = s.sparkContext.broadcast(DICT.toMap)
    udf((t: String) => if (t == null) null else bc.value.getOrElse(t, suffixLemma(t)))
  }

  /** Declarative form: explode-join-coalesce over a broadcast lemma dim.
    * `df` must carry (rowId, token); returns (rowId, token=lemma'd). */
  def lemmatizeTokens(s: SparkSession, df: DataFrame, tokenCol: String): DataFrame = {
    import s.implicits._
    val dict = DICT.toDF("word", "lemma")
    df.join(broadcast(dict), df(tokenCol) === col("word"), "left")
      .withColumn(tokenCol, coalesce(col("lemma"), suffixLemmaCol(df(tokenCol))))
      .drop("word", "lemma")
  }

  /** Column form for array columns: transform via a map literal. */
  def lemmatizeArray(toks: Column): Column = {
    val m = map(DICT.flatMap { case (w, l) => Seq(lit(w), lit(l)) }: _*)
    transform(toks, t => coalesce(element_at(m, t), suffixLemmaCol(t)))
  }
}
