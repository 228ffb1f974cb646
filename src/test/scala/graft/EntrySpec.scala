package graft

/** The driver contract surface itself: entry() smoke (rows > 0 at sf0.001,
  * exactly what the driver checks), registry integrity (every oracle key
  * has a query; names are unique), and every query runs at sf0.001. */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("registry: every oracle key has a query; no duplicate names") {
    val qs = SparkEntry.queries
    val os = SparkEntry.oracleSql
    assert(os.keySet.subsetOf(qs.keySet), s"orphan oracles: ${os.keySet -- qs.keySet}")
    val names = SparkEntry.allSpecs.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
  }

  test("gate discipline: registry and perf receipts agree 1:1") {
    // r9 verdict #4: the two queries that zeroed round 9 registered after
    // the last full gate run — and both were missing a receipts row, so
    // the signal existed but nothing enforced it. A query may not register
    // without a benched receipt, and stale receipts may not outlive their
    // query.
    // reserved __-rows (e.g. __parallel_canary, the capture-time
    // parallel-throughput context Bench scales thresholds by) are not
    // query receipts
    val receipts = ReceiptRefresh.resourceReceipts()
      .getOrElse(fail("perf_receipts.tsv missing from resources")).queries.keySet
    val registry = SparkEntry.queries.keySet
    assert(registry.subsetOf(receipts),
      s"registered without a benched receipt (run the full gate first): ${registry -- receipts}")
    assert(receipts.subsetOf(registry),
      s"stale receipts for unregistered queries: ${receipts -- registry}")
  }

  test("every registered query executes at sf0.001") {
    // Each query runs under the harness watchdog: round 9's hung query
    // wedged this very smoke for 18+ minutes and with it the whole
    // suite — a pathological query must fail ITS assertion, not the run.
    SparkEntry.queries.foreach { case (name, fn) =>
      HarnessGuard.run(spark, s"entryspec-$name", 120)(fn(spark, sf001).count()) match {
        case Right(n) => assert(n >= 0, s"$name returned $n")
        case Left(err) => fail(s"$name failed: $err")
      }
    }
  }
}
