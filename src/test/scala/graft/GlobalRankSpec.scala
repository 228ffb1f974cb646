package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Edge-size and consistency properties of Relational.withGlobalRank —
  * the r12 RDD zipWithIndex rewrite (offsets pass + ranking pass over ONE
  * materialized shuffle). The properties asserted are exactly what the
  * r11 ReuseExchange form silently violated under full-suite state:
  * ranks must be the dense permutation 1..n agreeing with the total
  * order, for every size regime relative to the shuffle parallelism.
  */
class GlobalRankSpec extends SparkSpec {

  private def rank(n: Int) = {
    import spark.implicits._
    // duplicate-heavy first key (n/7 distinct values) + unique tiebreak:
    // exercises range-boundary ties, the case where an inconsistent
    // partitioning scrambles ranks hardest
    val df = (0 until n).map(i => ((i * 31) % math.max(1, n / 7), i))
      .toDF("k", "id")
    graft.ops.Relational.withGlobalRank(spark, df,
      Seq(col("k"), col("id")))
  }

  for (n <- Seq(0, 1, 2, 31, 32, 33, 97, 1000)) {
    test(s"rank is the dense 1..n permutation in total-order at n=$n") {
      val got = rank(n).orderBy(col("rank"))
        .select(col("k"), col("id"), col("rank"), col("n")).collect()
      assert(got.length == n)
      assert(got.forall(_.getLong(3) == n.toLong), "n column must equal total")
      assert(got.map(_.getLong(2)).toSeq == (1L to n.toLong), "dense 1..n")
      val keys = got.map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(keys == keys.sorted, "rank order must equal the total order")
    }
  }

  test("two independent evaluations rank identically (no sampling drift)") {
    // the r11 failure mode: independently planned passes sampled range
    // boundaries independently; the rewrite freezes boundaries in one
    // partitioner, so repeated full evaluations must agree exactly
    val a = rank(500).select(col("id"), col("rank")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = rank(500).select(col("id"), col("rank")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("reserved output names are rejected up front") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("rank", "x")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Relational.withGlobalRank(spark, df, Seq(col("x")))
    }
    assert(e.getMessage.contains("rank"))
  }

  test("zorder chunk stats: histogram form ≡ Spark's ntile Window") {
    // rel_zorder_contract reads its chunk stats off the value histogram
    // (Relational.chunksReadHistogram) instead of sorting rows. The
    // reference is SQL NTILE(16) over the total order — here Spark's own
    // single-task ntile Window, cheap at fixture scale. Sizes cover
    // n < 16 (empty chunks) and both n % 16 regimes; sortCol determines
    // sy (the caller's bijection precondition), `id` breaks ties.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    def viaWindow(base: DataFrame, sortCol: String): Long =
      base.withColumn("c", ntile(16).over(Window.orderBy(col(sortCol), col("id"))))
        .groupBy(col("c")).agg(min(col("sy")).as("mn"), max(col("sy")).as("mx"))
        .agg(sum(when(col("mn") <= 20 && col("mx") >= 10, 1L).otherwise(0L)))
        .head.getLong(0)
    def viaHistogram(base: DataFrame, sortCol: String): Long =
      graft.ops.Relational.chunksReadHistogram(spark, base, sortCol, "c")
        .head.getLong(0)
    def spread(c: Column): Column = (0 until 8).map(i =>
      shiftleft(shiftright(c, i).bitwiseAND(1), 2 * i)).reduce(_ + _)
    def layouts(pxSy: DataFrame): DataFrame = pxSy
      .withColumn("zval", spread(col("px")) + spread(col("sy")) * 2)
      .withColumn("lin", col("px") * 256 + col("sy"))
    val synthetic = Seq(5, 16, 17, 100, 1000).map { n =>
      s"n=$n" -> layouts((0 until n).map(i => (i.toLong, (i * 37) % 64, (i * 13) % 32))
        .toDF("id", "px", "sy"))
    }
    val lineitem = "sf0.001 lineitem" -> layouts(graft.Tables.lineitem(spark, sf001)
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        (col("l_partkey") % 256).as("px"), (col("l_suppkey") % 256).as("sy")))
    (synthetic :+ lineitem).foreach { case (label, base) =>
      Seq("zval", "lin").foreach { sortCol =>
        val want = viaWindow(base, sortCol)
        assert(viaHistogram(base, sortCol) == want, s"$label $sortCol: want $want")
      }
    }
  }
}
