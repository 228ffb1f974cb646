package graft

/** Plan-shape regression guards: the properties `.explain` audits verify
  * by hand each round (PLANS.md), pinned as assertions so a refactor that
  * silently degrades a plan — a filter that stops reaching the scan, a
  * top-k that materializes a full sort, a broadcast that becomes a
  * shuffle, a bounded loop join that becomes a cartesian — fails `sbt
  * test` instead of surfacing as a bench regression two rounds later.
  * Explain-only: nothing executes, so the whole suite is seconds. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("rel_scan_filter: predicate and projection reach the parquet scan") {
    val p = plan("rel_scan_filter")
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull"),
      s"filter must push to the scan:\n$p")
  }

  test("rel_topk_orders: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("rel_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("rel_join_broadcast_part: dimension join broadcasts") {
    val p = plan("rel_join_broadcast_part")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("rel_lateral_join: decorrelates to group-limit, probe side broadcasts") {
    val p = plan("rel_lateral_join")
    assert(p.contains("WindowGroupLimit"),
      s"per-outer-row LIMIT must become a group limit (map-side partial top-k):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"filtered probe must broadcast:\n$p")
  }

  test("text_top_tokens: aggregation is partial+final (map-side combine)") {
    val p = plan("text_top_tokens")
    // two HashAggregate nodes around the exchange = partial then final
    assert("HashAggregate".r.findAllIn(p).size >= 2 && p.contains("Exchange"),
      s"expected partial+final aggregate:\n$p")
  }

  test("dedup_minhash_lsh: no cartesian product anywhere in the pipeline") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"),
      s"LSH banding must stay an equi-join:\n$p")
  }

  test("sim_hybrid_search: the only nested-loop node is the 1-row query frame") {
    val p = plan("sim_hybrid_search")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"only the broadcast 1-row query frame may nest:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbounded cartesian:\n$p")
  }

  test("ta_quality: documents scan prunes to the columns the query touches") {
    val p = plan("ta_quality")
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"),
      s"scan must read the used columns: $readSchema")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan must NOT read untouched columns (pruning broken): $readSchema")
  }

  test("global rank: ranks are a dense 1..n permutation (cross-pass consistency)") {
    // r12: withGlobalRank's offset pass and ranking pass run over the
    // same materialized RDD shuffle (lineage identity), replacing the
    // r11 ReuseExchange dependence that broke once under full-suite
    // session state and produced ranks > n (a 17th ntile bucket from
    // 16). This pin executes the rank itself and asserts the property
    // that failure mode violates: ranks are exactly the dense set 1..n.
    import org.apache.spark.sql.functions._
    val df = graft.Tables.customer(spark, sf001)
      .select(col("c_custkey"), col("c_acctbal"))
    val ranked = graft.ops.Relational.withGlobalRank(spark, df,
      Seq(col("c_acctbal"), col("c_custkey")))
    val n = df.count()
    val stats = ranked.agg(
      count(lit(1)).as("rows"),
      countDistinct(col("rank")).as("distinct_ranks"),
      min(col("rank")).as("mn"), max(col("rank")).as("mx"),
      max(col("n")).as("n_col")).collect()(0)
    assert(stats.getLong(0) == n && stats.getLong(1) == n &&
      stats.getLong(2) == 1L && stats.getLong(3) == n && stats.getLong(4) == n,
      s"rank integrity violated: $stats vs n=$n")
    // and the ranking agrees with the single-partition reference order
    val ref = df.orderBy(col("c_acctbal"), col("c_custkey"))
      .limit(50).collect().map(_.getLong(0))
    val got = ranked.orderBy(col("rank")).limit(50).collect()
      .map(_.getLong(0))
    assert(ref.sameElements(got), "global rank order diverges from orderBy")
  }

  test("sketch probes are native expressions: no ScalaUDF in the probe plans") {
    // The sketch queries whose RETURNED frame contains the probe
    // column (the bloom contracts probe inside intermediate counts, so
    // their returned driver-literal frame can't carry this assertion).
    // cms_estimate / bloom_might_contain / ref_cms_estimate are codegen'd
    // Catalyst expressions (SketchProbes); a ScalaUDF here means the boxed
    // per-row probe crept back in (r10 verdict #3; the faithful-CMS pair
    // joined in r13 when its last UDF exemptions were retired).
    for (q <- Seq("sketch_cms_token_freq", "sketch_cms_contract", "sketch_bloom_dedup",
        "sketch_cms_faithful", "sketch_cms_faithful_contract")) {
      val p = plan(q)
      assert(!p.contains("ScalaUDF"),
        s"$q: sketch probe must be a native expression, found ScalaUDF:\n$p")
    }
  }

  test("ta_token_pagerank: open-vocabulary fallback drops the broadcast hint, same results") {
    // r12 verdict #5: the per-iteration broadcast of the one-row-per-node
    // pr frame assumed a lexicon-bounded vocabulary. The ceiling makes the
    // plan unconditional: above PR_BCAST_MAX_NODES the hint is dropped and
    // Catalyst plans a shuffle join. Force the fallback (ceiling 0) and
    // pin (a) no broadcast HINT survives into the optimized plan, and
    // (b) the ranking is IDENTICAL to the broadcast path — the hint is an
    // optimization, never semantics.
    val bcast = graft.ops.TextAnalysis
      .tokenPagerankImpl(spark, sf001, graft.ops.TextAnalysis.PR_BCAST_MAX_NODES)
    val fallback = graft.ops.TextAnalysis.tokenPagerankImpl(spark, sf001, 0L)
    assert(bcast.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "default path must carry the broadcast hint (vocab-bounded fast plan)")
    assert(!fallback.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "fallback path must not carry a broadcast hint")
    val a = bcast.collect().map(r => (r.getString(0), r.getDouble(1)))
    val b = fallback.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(a.sameElements(b),
      s"fallback ranking diverged:\n  bcast=${a.mkString(",")}\n  fall =${b.mkString(",")}")
  }

  test("ta_token_pagerank: symmetrized edge build reuses one corpus exchange, same results") {
    // r20: the swapped union branch is a projection of the FIRST directed
    // aggregate, so both branches share one canonicalized exchange and the
    // corpus tokenize→explode→partial-agg subtree runs once. Pin (a) the
    // edge plan carries a ReusedExchange, and (b) the edges are IDENTICAL
    // to re-grouping the raw bigram stream on the swapped key (counts are
    // exact integers, so symmetrize-after-agg cannot move a weight).
    import org.apache.spark.sql.functions._
    val bigrams = graft.Tables.documents(spark, sf001)
      .select(graft.functions.Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(posexplode(col("t")).as(Seq("i", "w1")), col("t"))
      .filter(col("i") < size(col("t")) - 1)
      .select(col("w1"), element_at(col("t"), col("i") + 2).as("w2"))
    val twin = bigrams.union(bigrams.select(col("w2").as("w1"), col("w1").as("w2")))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("w"))
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // assert the reuse on the EDGE FRAME's own executed plan (r20 ADVICE:
    // the registered query's full plan prints cached/iterated subtrees
    // that can carry their own reuse markers — a substring match there
    // could survive an edge-build regression). AQE applies exchange reuse
    // at runtime, so execute the frame first.
    val edgesDf = graft.ops.TextAnalysis.pagerankEdges(spark, sf001)
    val edges = edgeSet(edgesDf)
    assert(edges.nonEmpty && edges == edgeSet(twin), "symmetrized edge weights diverged")
    val edgePlan = edgesDf.queryExecution.executedPlan.toString
    assert(edgePlan.contains("ReusedExchange"),
      s"symmetrized union must reuse the directed-count exchange:\n$edgePlan")
  }

  test("ta_tfidf: df derives from tf (one corpus pass, reused exchange), same results") {
    // r20: tf's key set IS the distinct (doc_id, term) relation, so
    // df = count of tf rows per term — the second corpus explode +
    // distinct is gone and the df branch reuses tf's exchange. Pin every
    // output df against a second-pass distinct (doc_id, term) count and
    // the ReusedExchange marker in the plan.
    import org.apache.spark.sql.functions._
    val fused = SparkEntry.queries("ta_tfidf")(spark, sf001)
    val fusedRows = fused.collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df")))
    val dfTwin = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("term"))
      .distinct().groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fusedRows.nonEmpty && fusedRows.forall { case (t, df) => dfTwin(t) == df },
      "df-from-tf diverged from the distinct (doc_id, term) count")
    assert(fused.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "df-from-tf must reuse the tf exchange")
  }

  test("ta_bigram_pmi: duplication-gated dict tier matches the direct shape both ways") {
    // r20: past the duplication gate, n/uni/bi derive from the
    // vocab²-bounded directed-count aggregate instead of a corpus-scale
    // raw-bigram persist; all inputs are exact integers, so the PMI
    // doubles are bit-identical. Force the tier BOTH ways.
    def rows(dict: Boolean) = graft.ops.TextAnalysis.bigramPmi(spark, sf001, Some(dict))
      .collect().map(_.toSeq).toSeq
    val direct = rows(false)
    val dict = rows(true)
    assert(dict == direct,
      s"ta_bigram_pmi dict tier diverged (${dict.length} vs ${direct.length} rows)")
  }

  test("bloom contracts: fused never-inserted aggregate matches exact counts") {
    // r20: (n_new, n_false_pos) come from ONE aggregate over the
    // anti-joined never-inserted set instead of two sequential count jobs
    // (and the build scans the persisted DISTINCT key set, which is
    // bit-identical — inserting a key twice ORs the same bits). Pin the
    // full contract row against exact set counts for both filters.
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf001)
    val half = docs.count() / 2
    val sh = docs.select(col("doc_id"), explode(graft.functions.Text.shingles3(
      graft.functions.Text.tokens(col("text")))).as("sh"))
    val inserted = sh.filter(col("doc_id") < half).select(col("sh")).distinct()
    val fresh = sh.filter(col("doc_id") >= half).select(col("sh")).distinct()
      .join(inserted, Seq("sh"), "left_anti")
    val want = Seq(inserted.count(), true, fresh.count(), true)
    for (q <- Seq("sketch_bloom_contract", "sketch_bloom_faithful_contract")) {
      val got = SparkEntry.queries(q)(spark, sf001).collect().map(_.toSeq).toSeq
      assert(got == Seq(want), s"$q: contract row $got, want $want")
    }
  }

  test("rel_pricing_summary: whole-stage codegen covers the aggregate path") {
    // AQE shows codegen spans only in the FINAL adaptive plan, so this
    // one guard executes the (sf0.001, sub-second) query first
    val df = SparkEntry.queries("rel_pricing_summary")(spark, sf001)
    df.collect() // count() would plan its OWN aggregate; execute df itself
    val p = df.queryExecution.executedPlan.toString
    // in the final adaptive plan's simpleString, codegen stages carry the
    // `*(n)` prefix; both aggregates must be inside one
    assert(p.contains("*(") && "\\*\\(\\d+\\) HashAggregate".r.findAllIn(p).size >= 2,
      s"expected codegen'd partial+final aggregates:\n$p")
  }

  test("rel_skew_join_aqe: OptimizeSkewedJoin splits the hot partition (skew=true SMJ)") {
    // executes (sub-second at sf0.001): the skew markers only exist in the
    // FINAL adaptive plan, after AQE has seen the runtime shuffle sizes.
    // 80% of the fact rows hit one key, and withSkewAqeTuning sizes the
    // thresholds to fixture bytes, so the hot partition MUST be detected
    // and split — a plan without skew=true means the skew path silently
    // degraded (broadcast crept back in, thresholds drifted, or the rule
    // was skipped) and the query no longer demonstrates what it claims.
    graft.ops.Relational.withSkewAqeTuning(spark) {
      val df = graft.ops.Relational.skewJoinPlan(spark, sf001)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"),
        s"skew query must stay sort-merge (broadcast has no skew path):\n$p")
      assert(p.contains("skew=true"),
        s"expected a skew=true join (OptimizeSkewedJoin fired):\n$p")
    }
  }

  test("rel_bucketed_join: co-located fact join has zero shuffle below the join") {
    // executes (sf0.001): the bucketed-scan decision is finalized in the
    // adaptive plan. Both sides are bucketed on the join key with equal
    // bucket counts, so the join must consume the scans AS-IS — any
    // Exchange in this plan means the co-location silently broke (bucket
    // counts drifted, bucketing disabled, or a repartition crept in).
    val df = graft.ops.Relational.bucketedJoinCore(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Join"), s"expected a join over the bucketed scans:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed co-located join must be exchange-free:\n$p")
    assert(p.contains("Bucketed: true"),
      s"both scans must report bucketed reads:\n$p")
  }

  test("rel_partition_prune: language predicate prunes partitions at planning time") {
    val df = graft.ops.Relational.partitionPruneCore(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined,
      s"the lang predicate must land in PartitionFilters (directory-level " +
        s"pruning), not just row-group skipping:\n$p")
    // the partition column never reaches the data scan: whole non-matching
    // directories are skipped and the files read carry no lang column
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(!readSchema.contains("lang"),
      s"lang is a partition column and must not be in ReadSchema: $readSchema")
  }

  test("ta_winnowing: native one-pass fps, no array HOFs, no Window at all") {
    // r9's DNF shape was a nested-HOF array chain evaluated interpreted in
    // one scan task; r10 unrolled it into per-character rows + two doc
    // windows; r16 collapsed the whole winnow into the native
    // GraftWinnowFps expression. The plan must stay that way: no
    // ArrayTransform / ArrayAggregate fold chain, the fps projection
    // inside WholeStageCodegen, and NO Window operator anywhere — the old
    // per-doc minima sort and the fp-keyed df count (an un-splittable
    // hot-key buffer under adversarial duplication) are both gone,
    // replaced by the expression and a partial-agg groupBy + join-back.
    val df = SparkEntry.queries("ta_winnowing")(spark, sf001)
    df.collect() // finalize AQE so codegen spans are visible
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("aggregate(") && !p.contains("array_min(") &&
      !p.contains("slice("),
      s"winnowing must not re-grow the array-fold chain:\n$p")
    assert(p.contains("graft_winnow_fps"),
      s"native winnow expression must drive the fps rows:\n$p")
    // codegen shows as "*(n)" stage markers in a finalized AQE plan
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      s"fps stage must codegen:\n$p")
    assert(!p.contains("Window"),
      s"no window may remain (skew-unsplittable buffering):\n$p")
  }

  test("text_snapshot_topk: rank filter plans as map-side WindowGroupLimit") {
    // the one snapshot-keyed window kept in the r16 de-windowing triage:
    // vocabulary-bounded input, and the rank<=10 filter must keep pruning
    // each partition to its top 10 BEFORE the exchange
    val p = plan("text_snapshot_topk")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=10 must plan as a group limit:\n$p")
  }

  test("content-keyed stats never window: hot-key buffering is structurally gone (r16)") {
    // The r16 mm_dedup_cluster lesson applied engine-wide: a
    // Window.partitionBy over a CONTENT-DERIVED key (fingerprint,
    // shingle, simhash, cluster id) or a LOW-CARDINALITY key
    // (event_type) buffers every row of a hot key in one un-splittable
    // task — a corpus that is 50% one duplicated document puts half the
    // rows in a single straggler no matter how many executors exist.
    // Each of these queries now computes its per-key stats with a
    // partial-agg groupBy joined back (map-side collapse + AQE-skew-
    // splittable probe), so their plans must carry NO Window operator.
    // (dedup_substring and ta_winnowing keep doc_id-bounded windows /
    // none and are pinned in their own tests; rel_* rank queries keyed
    // on bounded-per-user event streams legitimately window.)
    for (q <- Seq("dedup_exact", "dedup_simhash", "dedup_cluster_rep",
        "dedup_contamination", "dedup_ngram_jaccard", "rel_zscore_outliers")) {
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must not window on a content-derived/low-cardinality key:\n$p")
    }
  }

  test("de-windowed stats join-backs broadcast from true cached sizes (r16)") {
    // the stats frames persist+count before the join is built, so the
    // planner reads REAL sizes instead of assuming the corpus-sized
    // estimate behind the count>=2 / df-cap filters (which planned SMJ
    // and re-sorted the whole probe side). At fixture scale every stats
    // frame is small, so each plan must carry a BroadcastHashJoin and no
    // SortMergeJoin against the probe.
    for (q <- Seq("dedup_exact", "ta_winnowing")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q stats join-back must broadcast at fixture scale:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not re-sort the probe side:\n$p")
    }
  }

  test("mm_dedup_cluster: no doc-level self-join, broadcast map-back") {
    // The r9 101.8s shape banded doc rows (equal-hash cliques O(m²)); the
    // fix clusters the enumerable hash space driver-side and broadcasts
    // the hash→cluster map back. The executed plan must contain a
    // broadcast join and no sort-merge self-join of the corpus.
    val p = plan("mm_dedup_cluster")
    assert(p.contains("BroadcastHashJoin"),
      s"hash→cluster map-back must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized self-join may remain:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("scc_run_summary: dup scoring shuffles, then one fold task") {
    // the shingle first-seen state is corpus-sized and stays in a shuffle;
    // every snapshot read is the one fold above it, never a join of
    // tokens to snapshot boundaries (O(tokens × snapshots))
    val p = plan("scc_run_summary")
    assert(p.contains("Exchange hashpartitioning"), s"dup scoring must stay distributed:\n$p")
    assert(p.contains("Coalesce 1") && p.contains("MapPartitions"),
      s"the detector reads must be one fold in one task:\n$p")
    Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window").foreach { op =>
      assert(!p.contains(op), s"no $op:\n$p")
    }
  }

  test("text_probe_freq: counts aggregate before the tiny probe join (no stream shuffle)") {
    // r10 review finding: the old right-outer join put the broadcast hint
    // on the preserved side, which BroadcastHashJoin cannot build, so the
    // whole exploded token stream shuffle-sorted against 6 probe rows.
    // Now per-token counts aggregate FIRST (map-side combined), and the
    // probes join the vocab-sized result.
    val p = plan("text_probe_freq")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"token counts must aggregate partial+final before the probe join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge of the token stream against 6 probes:\n$p")
  }

  test("dedup_contamination: probes the persisted index, never rescans the corpus half") {
    // Building the query materializes the fit-once index; the RETURNED
    // plan is the steady audit shape — train bands/signatures must come
    // from the index files, and the only documents scans are the test
    // half (>= half pushed). A train-half documents scan (a LessThan
    // pushdown) appearing here would mean the audit re-hashes the
    // corpus per run — the exact cost the index exists to amortize.
    val p = plan("dedup_contamination")
    // the index lives in the content-keyed ModelStore since r13
    // (graft_models_v2_<md5(fp|key)>/lsh_index); the assertion matches the tag
    assert(p.contains("lsh_index"),
      s"train bands/sigs must be read from the persisted index files:\n$p")
    assert(p.contains("GreaterThanOrEqual(doc_id"),
      s"test-half filter must push to the documents scan:\n$p")
    assert(!p.contains("LessThan(doc_id"),
      s"no train-half documents scan may appear in the steady plan:\n$p")
  }

  test("PlanAudit's empty-window detector: unpartitioned windows only") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.GraftSqlShim
    val df = spark.range(10).withColumn("g", col("id") % 3)
    def windows(c: org.apache.spark.sql.Column) =
      GraftSqlShim.unpartitionedWindows(df.withColumn("w", c).queryExecution.executedPlan)
    assert(windows(count(lit(1)).over()) == 1)
    assert(windows(row_number().over(Window.orderBy(col("id")))) == 1)
    assert(windows(row_number().over(Window.partitionBy(col("g")).orderBy(col("id")))) == 0)
  }
}
