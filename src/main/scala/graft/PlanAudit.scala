package graft

/** Full-registry plan audit: builds every registered query's physical plan
  * and flags the anti-pattern nodes the per-query reviews hunt by hand —
  * boxed ScalaUDFs in hot paths, Cartesian products, and windows with no
  * partition spec. Exits non-zero on any hit outside the explicit
  * allowlist below, so a regression (a UDF creeping back, a join losing
  * its keys) fails loudly instead of surfacing as a slow bench line.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.PlanAudit"
  *
  * Plans are built (analyzed + optimized + physical), not executed —
  * queries that eagerly execute inside their builder (skew-AQE, the
  * fit-once fits, fixture staging) run those parts, which is why the
  * audit runs at the smallest SF dir by default.
  *
  * Allowlist rationale (each documented at its site):
  *  - ScalaUDF: NONE — the last faithful-CMS estimate UDFs moved to the
  *    codegen'd ref_cms_estimate expression in r13, so any ScalaUDF
  *    anywhere in the registry is now a flag, no exemptions.
  *  - sim_knn_* / sim_hybrid_search / mllib_ann_join: bounded BNLJ of
  *    broadcast probe/centroid frames (≤ tens of rows by construction).
  *  - rel_zorder_contract / sketch_approx_quantiles / mm_*: bounded
  *    1-row/enumerable-domain cross joins (the compute-and-pin shape).
  *  - unpartitioned windows (one task holds the window input):
  *    scc_loader_stream's arrival rank sits above a top-N of its
  *    150-message cap; sim_topic_clusters sums one row per cluster.
  */
object PlanAudit {
  private val BoundedBnlj = Set(
    "sim_knn_ivf", "sim_knn_pq", "sim_knn_ivfpq", "sim_knn_pca",
    "sim_knn_bruteforce", "sim_knn_lsh", "sim_hybrid_search",
    "sim_ivf_recall", "sim_ann_contract", "sim_pq_contract",
    "sim_ivfpq_contract", "sim_pca_contract", "sim_topic_contract",
    "sim_topic_clusters", "mllib_ann_join", "mllib_ann_contract",
    "rel_zorder_contract", "sketch_approx_quantiles",
    "rel_window_ntile", "ta_perplexity_buckets", "ta_zipf_slope",
    // broadcast 1-row / n_sources-row frame joins (the r11 verdict's
    // audited crossJoin list: corpus totals, rate tables, threshold
    // frames, eager summary rows — all bounded by construction)
    "rel_multiset_ops", "rel_set_ops", "scc_loader_split",
    "sketch_bloom_stats", "ta_bigram_logprob", "ta_domain_mix",
    "ta_filter_cascade", "ta_mix_sample", "ta_unigram_logprob",
    "text_final_summary")
  private val FaithfulUdf = Set.empty[String]
  private val UnpartitionedWindow = Set("scc_loader_stream", "sim_topic_clusters")

  /** Max measured build-side rows for an allowlisted BNLJ (r15 verdict
    * #5). The allowlisted frames are 1-row summaries, probe/centroid
    * frames (tens of rows), and n_sources/interval tables — all orders of
    * magnitude below this; the cap exists to catch an entry whose frame
    * starts growing with the data, not to be tight. */
  private val BnljCap = sys.env.get("SPARK_GRAFT_BNLJ_CAP")
    .flatMap(v => scala.util.Try(v.trim.toInt).toOption.filter(_ > 0))
    .getOrElse(10000)

  /** Inventoried interpreted-fallback exemptions — ALL per-query since
    * r16 (r15 verdict #3: the engine-model names used to be exempt
    * globally, so a future hot-path consumer would pass silently; the
    * global set is now empty and every exemption names its query).
    *
    * PER-QUERY exemptions — measured-bounded sites:
    *  - scc_loader_* `exists`: the conversation-medium probe over the
    *    per-row `messages` array (fixture-scale, ≤ dozens of cells,
    *    filter stage only — F1's documented 3VL shape).
    *  - sketch_bloom_stats(+contract): the A6 BloomStatsAgg Dataset
    *    Aggregator's TypedAggregateExpression — the §2.10 UDAF surface,
    *    again a per-row aggregation buffer.
    *  - text_bump_chart_svg: collect_list + transform over the chart's
    *    ≤ 2+11·#snapshot rank rows — driver-bounded by construction.
    *
    * Anything else fails the audit loudly. */
  private val EngineModelFallbacks = Set.empty[String]
  private val PerQueryFallbacks: Map[String, Set[String]] = Map(
    "scc_loader_report" -> Set("exists"),
    "scc_loader_sample" -> Set("exists"),
    "scc_loader_split" -> Set("exists"),
    "scc_loader_split_ids" -> Set("exists"),
    "scc_loader_stream" -> Set("exists"),
    "sketch_bloom_stats" -> Set("ComplexTypedAggregateExpression"),
    "sketch_bloom_stats_contract" -> Set("ComplexTypedAggregateExpression"),
    "text_bump_chart_svg" -> Set("transform", "collect_list"),
    // Engine-model fallbacks, scoped to their enumerated consumers (r16,
    // r15 verdict #3): these are Spark's OWN evaluation model — buffer-
    // based (Typed)ImperativeAggregates, the replicaterows generator,
    // from_json's row parser, the comparator-lambda array_sort — with no
    // codegen path anywhere in Spark, but exempting them GLOBALLY meant a
    // future hot-path from_json over megabyte strings would pass the audit
    // silently. Enumerated with the exemption disabled (11 queries); every
    // site is a bounded demo/contract shape, not a per-row hot path. A new
    // consumer now flags loudly and earns its row here explicitly.
    "rel_array_agg" -> Set("array_sort", "collect_list"),
    "rel_array_funcs" -> Set("array_sort"),
    "rel_from_json_struct" -> Set("from_json"),
    "rel_multiset_ops" -> Set("replicaterows"),
    "rel_pivot" -> Set("pivotfirst"),
    "rel_quantiles" -> Set("percentile"),
    "rel_stats_agg" -> Set("percentile"),
    "sketch_hll_contract" -> Set("approx_count_distinct"),
    "sketch_hll_distinct" -> Set("approx_count_distinct"),
    "sketch_quantile_contract" -> Set("approx_percentile", "percentile"))
  private val AllowedFallbacks: String => Set[String] =
    q => EngineModelFallbacks ++ PerQueryFallbacks.getOrElse(q, Set.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var bad = 0
    SparkEntry.allSpecs.sortBy(_.name).foreach { q =>
      try {
        val physical = q.fn(spark, sfDir).queryExecution.executedPlan
        val plan = physical.toString
        val udf = plan.contains("ScalaUDF")
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin")
        // a plan walk: the printed spec always carries the frame, so a
        // string match on `windowspecdefinition()` never fires
        val windows = org.apache.spark.sql.graft.GraftSqlShim.unpartitionedWindows(physical)
        if (windows > 0 && UnpartitionedWindow(q.name))
          println(s"[audit] unpartitioned window ${q.name}: $windows (allowlisted)")
        val emptyWin = windows > 0 && !UnpartitionedWindow(q.name)
        // Interpreted-fallback detector (r14 verdict #6): any expression
        // mixing in CodegenFallback evaluates OUTSIDE whole-stage codegen
        // — for per-element work (the higher-order functions) that is the
        // measured ~25 µs/token interpreter cliff the r15 native
        // expressions removed from the token path. The walk (shim-hosted:
        // it must see through AdaptiveSparkPlanExec/query stages/subquery
        // expressions, which hide subtrees from a plain foreach) flags
        // anything interpreted that is not on the inventoried allowlist.
        val fallbacks =
          org.apache.spark.sql.graft.GraftSqlShim.interpretedFallbacks(physical)
        val fbBad = fallbacks.diff(AllowedFallbacks(q.name))
        // Allowlisted BNLJs must also MEASURE bounded (r16, r15 verdict
        // #5): execute just each build-side subtree, take BnljCap+1 rows
        // (bounded work even against an unbounded frame), and fail any
        // entry whose "bounded by construction" frame outgrew the cap.
        // The measured counts print per query so the bound is a recorded
        // number, not an asserted adjective.
        val bnljRows: Seq[Long] =
          if (bnlj && BoundedBnlj(q.name))
            org.apache.spark.sql.graft.GraftSqlShim.bnljBuildRows(spark, physical, BnljCap)
          else Seq.empty
        if (bnljRows.nonEmpty)
          println(s"[audit] bnlj ${q.name}: build-side rows ${bnljRows.mkString("[", ",", "]")} (cap $BnljCap)")
        val issues = Seq(
          if (udf && !FaithfulUdf(q.name)) Some("ScalaUDF") else None,
          if (cart) Some("CartesianProduct") else None,
          if (bnlj && !BoundedBnlj(q.name)) Some("BNLJ") else None,
          if (bnljRows.exists(_ > BnljCap))
            Some(s"BNLJ-build-side-over-cap[${bnljRows.filter(_ > BnljCap).mkString(" ")}]")
          else None,
          if (emptyWin) Some("empty-window") else None,
          if (fbBad.nonEmpty) Some(s"CodegenFallback[${fbBad.mkString(" ")}]") else None).flatten
        if (issues.nonEmpty) {
          bad += 1
          println(s"[audit] FLAG ${q.name}: ${issues.mkString(", ")}")
        }
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"[audit] ERROR ${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      } finally spark.catalog.clearCache()
    }
    println(s"[audit] ${SparkEntry.allSpecs.size} plans audited, $bad flagged")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
