package graft

/** Plan-inspection tool: dumps `explain("formatted")` for the named queries
  * (or a default headline set) so scan pushdown (PushedFilters/ReadSchema),
  * join strategy (BroadcastHashJoin vs SortMergeJoin), and WholeStageCodegen
  * coverage can be reviewed per operator.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("rel_pricing_summary", "rel_scan_filter", "rel_join_broadcast_part",
        "rel_join_multiway_revenue", "rel_topk_orders", "text_top_tokens",
        "dedup_minhash_lsh")
    val spark = Sessions.builder("4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_EXPLAIN_EXEC=1: execute the query first and print the
    // FINAL adaptive plan too — AQE applies exchange/stage reuse only at
    // runtime, so reuse markers (ReusedExchange / shared ShuffleQueryStage)
    // are invisible in the initial `explain` output (r20).
    val exec = sys.env.get("SPARK_GRAFT_EXPLAIN_EXEC").contains("1")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          val df = fn(spark, sfDir)
          df.explain("formatted")
          if (exec) {
            df.collect()
            println(s"\n---------- $n: executed (final adaptive) plan ----------")
            println(df.queryExecution.executedPlan.toString)
          }
          spark.catalog.clearCache()
        case None     => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
