package graft

/** Steady-state profiler: runs one named query N times in a warmed session
  * so per-query cost separates from the ~5s first-job session warmup that
  * lands on whatever Bench happens to run first.
  *
  *   SPARK_GRAFT_SF_DIR=... runMain graft.Profile <query>[,<query>...] [n]
  *
  * Comma-separated names run as a SEQUENCE each rep, in the given order —
  * for isolating ordering effects (which query absorbs a shared first-use
  * cost). SPARK_GRAFT_WARMUP=1 runs the Bench streaming warmup first.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val n = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // stamp both canaries so a receipt captured from this run records the
    // machine state it was measured at (__parallel_canary in
    // perf_receipts.tsv; Bench scales its suspect threshold by the ratio)
    println(f"[profile] cpu_canary ${Canary.single()}%.3f s, " +
      f"parallel_canary(${cpus}) ${Canary.parallelStable(cpus.toInt)}%.3f s")
    if (sys.env.get("SPARK_GRAFT_WARMUP").contains("1")) {
      // the same untimed set as Bench, via the shared entry point
      graft.Warmup.run(spark, sfDir)
    }
    (1 to n).foreach { i =>
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        println(f"[profile] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($rows rows)")
        // same hygiene as Bench/Verify: drop per-query persists between runs
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
