package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge into `private[sql]` plan construction: the one sanctioned way for
  * an extension library to hand Catalyst a custom [[LogicalPlan]] node and
  * get a DataFrame back (`Dataset.ofRows` is package-private by design;
  * extension libraries host this shim inside the sql package — same
  * technique the Spark ecosystem uses, no internals are modified). */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Column ↔ Expression bridges (r15): the Spark 4 public Column API no
    * longer exposes expression construction, but a library shipping
    * native codegen'd expressions (the tier-(b) custom-operator path)
    * needs exactly that to offer a Column builder without a session
    * registry round-trip. `ExpressionUtils` is the classic bridge the
    * connect/classic split introduced for this purpose. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Every node of a physical plan. The traversal must live here because
    * the plan tree HIDES subtrees from a plain `foreach`:
    * `AdaptiveSparkPlanExec` holds its current physical plan as a field,
    * not a child (PlanAudit's first cut silently saw only the AQE root and
    * reported every shuffling query clean), query stages wrap their
    * subtree the same way, and subquery expressions carry whole plans
    * inside expression trees. */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = p.foreach { node =>
      out += node
      node match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ => ()
      }
      node.expressions.foreach(_.foreach {
        case s: org.apache.spark.sql.execution.ExecSubqueryExpression => walk(s.plan)
        case _ => ()
      })
    }
    walk(plan)
    out.toSeq
  }

  /** Every interpreted-fallback (CodegenFallback) expression in a physical
    * plan, by prettyName — PlanAudit's r15 detector. */
  def interpretedFallbacks(plan: SparkPlan): Set[String] =
    planNodes(plan).flatMap(_.expressions.flatMap(_.collect {
      // lambda plumbing inside a HOF is CodegenFallback by inheritance
      // but carries no work of its own — the HOF node itself is the signal
      case _: org.apache.spark.sql.execution.ExecSubqueryExpression |
          _: org.apache.spark.sql.catalyst.expressions.LambdaFunction |
          _: org.apache.spark.sql.catalyst.expressions.NamedLambdaVariable => None
      case c: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback =>
        Some(if (c.prettyName.nonEmpty) c.prettyName else c.getClass.getSimpleName)
    }.flatten)).toSet

  /** Number of window operators with no partition spec in a physical plan:
    * each runs its whole input through one task. */
  def unpartitionedWindows(plan: SparkPlan): Int = planNodes(plan).count {
    case w: org.apache.spark.sql.execution.window.WindowExec => w.partitionSpec.isEmpty
    case _ => false
  }

  /** Measured row count of every BroadcastNestedLoopJoin build side in a
    * physical plan, each bounded at `cap + 1` rows (PlanAudit r16, r15
    * verdict #5): the BNLJ allowlist asserts "bounded by construction" by
    * NAME only, so an entry whose broadcast frame silently grew with the
    * data would keep passing. Executing just the build-side subtree (take
    * cap+1 — bounded work even against an unbounded frame) turns the
    * assertion into a number the audit can enforce. Broadcast/reuse
    * wrappers are stripped so the take runs on a row-producing subtree. */
  def bnljBuildRows(spark: SparkSession, plan: SparkPlan, cap: Int): Seq[Long] = {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def strip(p: SparkPlan): SparkPlan = p match {
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        strip(e.child)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        strip(r.child)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        strip(q.plan)
      case other => other
    }
    // Executing the physical fragment directly would skip the columnar
    // transitions preparation inserts on the ROOT plan (measured: C2R cast
    // failures on parquet-scanning build sides), so the fragment's
    // logicalLink is re-planned as a standalone frame instead — full
    // planning, correct transitions, and take(cap+1) keeps the work
    // bounded. -1 marks a fragment with no recoverable logical link
    // (printed, never flagged: infrastructure, not a bound violation).
    def logicalOf(p: SparkPlan): Option[LogicalPlan] =
      p.logicalLink.orElse(p.children.view.flatMap(logicalOf).headOption)
    planNodes(plan).collect { case b: BroadcastNestedLoopJoinExec =>
      val side = b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
      }
      logicalOf(strip(side)).orElse(logicalOf(side))
        .map(lp => ofRows(spark, lp).take(cap + 1).length.toLong)
        .getOrElse(-1L)
    }
  }
}
