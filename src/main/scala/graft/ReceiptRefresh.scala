package graft

/** Full-registry receipt capture (r18 verdict #2: every r18 full bench ran
  * a uniform 7–12 % above receipts AFTER box normalization — the receipt
  * set had gone stale as a set). This tool runs EVERY registered query
  * in one documented session — warmed (the shared [[Warmup]] entry
  * point), N reps (min kept) through the shared [[HarnessGuard.timed]] run,
  * fixed alphabetical order — and writes a fresh `perf_receipts.tsv`
  * with the capture-time canaries recorded (`__parallel_canary`,
  * `__parallel_canary_threads`) so Bench's suspect thresholds and
  * `wall_receipt_normalized` self-scale from THIS session's box state.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.ReceiptRefresh [reps] [outPath]"
  *
  * **Capture mode matters (r19 finding):** a receipt meant to predict
  * IN-BENCH walls must be captured in BENCH context — one single-shot
  * pass over the registry per JVM (`reps = 1`, the default), because the
  * bench runs each query once and its wall includes the query's own
  * in-context whole-stage-codegen + JIT first use. Back-to-back
  * min-of-3 reps in ONE JVM measure the post-JIT steady state, which
  * sits a structural ~20-30 % BELOW in-bench walls (measured: a
  * min-of-3 receipt set put a clean-box bench at
  * wall_receipt_normalized 1.26). The committed receipt set is the
  * per-query MIN of 3 single-pass captures in separate JVMs (min: load
  * noise is one-sided; matches the committed perf_receipts.tsv header —
  * scripts: see ROUND_CLOSE.md). Isolated `graft.AbRunner <q> <reps>`
  * min-of-3 remains the right tool for RELATIVE plan comparisons — just
  * not for receipts.
  *
  * **Regression guard (r19 verdict #2):** before writing, the candidate
  * walls are diffed against the PREVIOUS committed receipt set; any
  * query whose shift exceeds 1.5× the set's median shift is printed and
  * the tool refuses to write (exit 1) unless every flagged name is
  * explicitly acknowledged via `SPARK_GRAFT_RECEIPT_ACCEPT=a,b,...`
  * (for a plan change whose new receipt is intentionally slower) — a
  * refresh must never silently absorb a regression the way r19's
  * absorbed ta_entropy's 3.28× (median shift that round: 1.218).
  * Speedups are not flagged: a faster receipt only tightens the bench's
  * own suspect gate.
  *
  * Run it on a QUIET box only: the start/end canary pair is printed and
  * embedded in the file header; a drifted run (end/start > 1.3 or a
  * parallel canary far off the historical quiet value) should be
  * discarded, not committed. The tool refuses to write if any query
  * errors.
  */
object ReceiptRefresh {
  /** Names whose shift (new/old) exceeds `factor` × the median shift of
    * the whole set, with that median — the refresh regression guard,
    * pure so ReceiptRefreshSpec pins it. Queries absent from either set
    * contribute nothing (new queries have no previous receipt). */
  private[graft] def flagRegressions(
      prev: Map[String, Double], next: Map[String, Double],
      factor: Double = 1.5): (Double, Seq[String]) = {
    val shifts = next.collect {
      case (n, w) if prev.get(n).exists(_ > 0) => n -> w / prev(n)
    }.toSeq
    if (shifts.isEmpty) return (1.0, Nil)
    val sorted = shifts.map(_._2).sorted
    val median =
      if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    (median, shifts.collect {
      case (n, s) if s > factor * median => n
    }.sorted)
  }

  /** A perf_receipts.tsv body: the query receipts (name -> seconds) and
    * the reserved `__` rows — capture-time context such as
    * `__parallel_canary`, which Bench scales its thresholds by. */
  private[graft] case class Receipts(queries: Map[String, Double], reserved: Map[String, Double])

  /** Parse a perf_receipts.tsv body; comments, blank and malformed lines
    * are skipped. */
  private[graft] def parseReceipts(text: String): Receipts = {
    val (reserved, queries) = text.linesIterator
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .flatMap { l =>
        l.split("\t") match {
          case Array(n, v) => scala.util.Try(n -> v.toDouble).toOption
          case _ => None
        }
      }.toMap.partition(_._1.startsWith("__"))
    Receipts(queries, reserved)
  }

  /** The receipts packaged as the `/perf_receipts.tsv` resource, if any. */
  private[graft] def resourceReceipts(): Option[Receipts] =
    Option(getClass.getResourceAsStream("/perf_receipts.tsv")).map { in =>
      try parseReceipts(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(1)
    val outPath = if (args.length > 1) args(1) else "src/main/resources/perf_receipts.tsv"
    if (reps > 1 && outPath.endsWith("src/main/resources/perf_receipts.tsv"))
      println(s"[receipts] WARNING: reps=$reps min-of-N in ONE JVM is the steady-state " +
        "capture mode (receipts ~20-30% under in-bench walls - the normalized-1.26 " +
        "pathology); the committed set must be min of 3 SEPARATE single-pass JVMs")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val canaryStart = Canary.single()
    val parCanary = Canary.parallelStable(cpus.toInt)
    println(f"[receipts] cpu_canary $canaryStart%.3f s, parallel_canary($cpus) $parCanary%.3f s")
    val skipped = Warmup.run(spark, sfDir)
    if (skipped > 0)
      println(s"[receipts] WARNING: $skipped warmup phases skipped/cut - first-use costs may leak into receipts")

    val names = SparkEntry.queries.keys.toSeq.sorted
    var failed = List.empty[String]
    val walls = names.map { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to reps).map { _ =>
        val (dt, r) = HarnessGuard.timed(spark, name, 120) { fn(spark, sfDir).count() }
        r.left.foreach { m => failed ::= s"$name: $m" }
        dt
      }
      val best = runs.min
      println(f"[receipts] $name%-32s ${runs.map(r => f"$r%.3f").mkString(" ")} -> $best%.3f")
      name -> best
    }
    val canaryEnd = Canary.single()
    val parEnd = Canary.parallelStable(cpus.toInt)
    val drift = if (canaryStart > 0) canaryEnd / canaryStart else 1.0
    println(f"[receipts] canary end $canaryEnd%.3f (drift $drift%.2f), parallel end $parEnd%.3f")
    if (failed.nonEmpty) {
      println(s"[receipts] FAIL: ${failed.size} query errors - not writing:\n  ${failed.mkString("\n  ")}")
      spark.stop(); sys.exit(1)
    }
    // regression guard (r19 verdict #2) against the COMMITTED set — the
    // previous close's receipts are the walls the set predicted
    val committed = java.nio.file.Paths.get("src/main/resources/perf_receipts.tsv")
    if (java.nio.file.Files.exists(committed)) {
      val prev = parseReceipts(java.nio.file.Files.readString(committed)).queries
      val (median, flagged) = flagRegressions(prev, walls.toMap)
      println(f"[receipts] guard: median shift vs committed set $median%.3f")
      val accepted = sys.env.get("SPARK_GRAFT_RECEIPT_ACCEPT")
        .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
      val unaccepted = flagged.filterNot(accepted)
      flagged.foreach { n =>
        val tag = if (accepted(n)) "ACCEPTED" else "REGRESSION"
        println(f"[receipts] guard $tag: $n ${prev(n)}%.3f -> ${walls.toMap.apply(n)}%.3f " +
          f"(shift ${walls.toMap.apply(n) / prev(n)}%.2fx > 1.5x median)")
      }
      if (unaccepted.nonEmpty) {
        println(s"[receipts] FAIL: ${unaccepted.size} receipt(s) moved >1.5x beyond the " +
          "set's median shift - attribute each (AbRunner A/B; see PERF.md), then either " +
          "fix it or re-run with SPARK_GRAFT_RECEIPT_ACCEPT=" + unaccepted.mkString(","))
        spark.stop(); sys.exit(1)
      }
    }
    val date = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    def f3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val header =
      s"""# Warmed per-query receipts (seconds, $sfDir, local[$cpus]):
         |# graft.ReceiptRefresh capture, $date — min of $reps warmed reps per
         |# query, shared Warmup first, clearCache between runs, alphabetical
         |# order. Bench flags a run >2x its (box-scaled) receipt as
         |# first_use_suspect; wall_receipt_normalized uses the sum.
         |# Capture-session box state: cpu_canary ${f3(canaryStart)} -> ${f3(canaryEnd)}
         |# (drift ${f3(drift)}), parallel_canary($cpus) ${f3(parCanary)} -> ${f3(parEnd)}.
         |""".stripMargin
    val rows = walls.map { case (n, w) => s"$n\t${f3(w)}" }.mkString("\n")
    val canaryRows =
      s"""# Reserved capture-context rows (not queries): the parallel-throughput
         |# canary measured when these receipts were captured, and its thread
         |# count. Bench scales suspect thresholds by today's parallel canary /
         |# this value (clamped to [1, 3]) and normalizes the headline wall by
         |# the raw ratio, so receipts self-scale with the box.
         |__parallel_canary\t${f3(parCanary)}
         |__parallel_canary_threads\t$cpus""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      header + rows + "\n" + canaryRows + "\n")
    println(s"[receipts] ${walls.size} receipts written to $outPath")
    spark.stop()
  }
}
