package graft

/** Machine-speed canaries shared by the harness mains, so receipt capture
  * (ReceiptRefresh, AbRunner) and receipt checking (Bench) measure load the
  * same way.
  *
  * [[single]] — a fixed single-threaded LCG loop: per-core speed.
  * [[parallel]] — the SAME loop on N threads timed as one wall: the box's
  * effective parallel throughput. The two move independently (r13's
  * standing suspects were a parallel-throughput shift with the
  * single-thread canary unchanged), which is why receipts carry the
  * parallel value they were captured at (the reserved __parallel_canary
  * receipts row) and Bench scales its suspect threshold by the ratio.
  */
object Canary {

  private def lcgLoop(): Unit = {
    var acc = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < 200000000L) {
      acc = acc * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    if (acc == 42L) println("") // defeat dead-code elimination
  }

  /** Single-thread canary: ~0.23 s on this box quiet. */
  def single(): Double = {
    val t0 = System.nanoTime()
    lcgLoop()
    (System.nanoTime() - t0) / 1e9
  }

  /** [[parallel]], stabilized: the MIN of three back-to-back trials.
    * A single trial taken right after JVM/sbt start is noise-inflated
    * (r19 measured starts of 0.557/0.407/0.348 in three otherwise-quiet
    * sessions whose END-of-run values were a stable 0.332–0.334) — and
    * that one number is the box factor every receipt comparison and the
    * normalized headline divide by, so its noise becomes a uniform
    * phantom shift across all 183 queries (the r18 "receipts drifting
    * stale-fast as a set" symptom). Min-of-3 costs ~1 s and pins the
    * box's actual capability; transient load during the RUN still shows
    * up where it belongs — in the walls. */
  def parallelStable(threads: Int): Double =
    (1 to 3).map(_ => parallel(threads)).min

  /** Parallel canary: N copies of the loop at once, one wall. On an idle
    * box with ≥N real cores this ≈ [[single]]; contention shows up as a
    * proportionally longer wall. */
  def parallel(threads: Int): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    try {
      val futs = (1 to threads).map(_ => pool.submit(new Runnable {
        def run(): Unit = lcgLoop()
      }))
      futs.foreach(_.get())
    } finally pool.shutdown()
    (System.nanoTime() - t0) / 1e9
  }
}
