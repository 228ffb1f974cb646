package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the receipt-refresh regression guard (r19 verdict #2): a refresh
  * must flag any query whose shift exceeds 1.5× the set's median shift
  * instead of silently absorbing it (ta_entropy moved 3.28× against a
  * median shift of 1.218 in the r19 refresh and nothing noticed). */
class ReceiptRefreshSpec extends AnyFunSuite {

  test("guard: the r19 ta_entropy shape is flagged against a uniform capture shift") {
    // a uniform ~1.2x capture-mode shift with one 3.28x outlier — the
    // exact r19 pattern the guard exists to catch
    val prev = Map("a" -> 1.0, "b" -> 2.0, "c" -> 0.5, "d" -> 1.5, "ta_entropy" -> 0.576)
    val next = Map("a" -> 1.22, "b" -> 2.40, "c" -> 0.61, "d" -> 1.83, "ta_entropy" -> 1.889)
    val (median, flagged) = ReceiptRefresh.flagRegressions(prev, next)
    assert(math.abs(median - 1.2) < 0.05)
    assert(flagged == Seq("ta_entropy"))
  }

  test("guard: speedups are never flagged; uniform shifts flag nothing") {
    val prev = Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0)
    // uniform 1.3x shift — a box/capture-mode change, not a regression
    val uniform = prev.view.mapValues(_ * 1.3).toMap
    assert(ReceiptRefresh.flagRegressions(prev, uniform)._2.isEmpty)
    // one query got 10x FASTER (a plan fix): shift 0.13 < 1.5x median
    val faster = uniform + ("a" -> 0.13)
    assert(ReceiptRefresh.flagRegressions(prev, faster)._2.isEmpty)
  }

  test("guard: new queries (no previous receipt) and empty sets contribute nothing") {
    val prev = Map("a" -> 1.0)
    val next = Map("a" -> 1.1, "brand_new" -> 99.0)
    val (median, flagged) = ReceiptRefresh.flagRegressions(prev, next)
    assert(math.abs(median - 1.1) < 1e-9 && flagged.isEmpty)
    assert(ReceiptRefresh.flagRegressions(Map.empty, next) == ((1.0, Nil)))
    // zero/garbage previous receipts are skipped, not divided by
    assert(ReceiptRefresh.flagRegressions(Map("a" -> 0.0), Map("a" -> 5.0)) == ((1.0, Nil)))
  }

  test("parseReceipts: committed-format round trip skips comments and reserved rows") {
    val body =
      """# header line
        |# another
        |alpha	1.234
        |beta	0.5
        |__parallel_canary	0.313
        |__parallel_canary_threads	32
        |""".stripMargin
    val parsed = ReceiptRefresh.parseReceipts(body)
    assert(parsed.queries == Map("alpha" -> 1.234, "beta" -> 0.5))
    assert(parsed.reserved == Map("__parallel_canary" -> 0.313, "__parallel_canary_threads" -> 32.0))
    // the COMMITTED resource parses and is non-trivial (the guard reads it)
    val committed = java.nio.file.Paths.get("src/main/resources/perf_receipts.tsv")
    assert(java.nio.file.Files.exists(committed))
    val rows = ReceiptRefresh.parseReceipts(java.nio.file.Files.readString(committed))
    assert(rows.queries.size > 100 && rows.queries.values.forall(_ > 0))
    // Bench scales its thresholds by the reserved canary rows
    assert(rows.reserved.keySet == Set("__parallel_canary", "__parallel_canary_threads"))
    // the packaged resource is the same file
    assert(ReceiptRefresh.resourceReceipts().contains(rows))
  }
}
