package graft

/** Plan lint: flags physical-plan shapes that are scale hazards unless
  * intentional — CartesianProduct, BroadcastNestedLoopJoin, global
  * (empty-partition) windows, and SinglePartition exchanges. The
  * adjudicated inventory over every conformance query is PLANS.md
  * (`graft.Plans inventory`).
  */
object PlanLint {
  /** `plan.collect` that sees THROUGH AQE wrappers: AdaptiveSparkPlanExec
   * and QueryStageExec are leaf nodes, so a plain collect over an
   * AQE-enabled plan inspects nothing. */
  def collectUnwrapped[A](plan: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, A]): Seq[A] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = pf.lift(plan).toSeq
    val children = plan match {
      // executedPlan tracks AQE's CURRENT tree (== final plan once the
      // query ran); inputPlan would report nodes from the pre-AQE tree
      // that re-optimization may have eliminated or rewritten
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    here ++ children.flatMap(collectUnwrapped(_)(pf))
  }

  /** The four scale-hazard flags of a physical plan, as the PLANS.md
   * adjudicated inventory reports them. GLOBALWINDOW is
   * structural, not string-matched: Expression.toString flattens an
   * empty partitionSpec so "windowspecdefinition(," never renders, and
   * AQE wraps the tree in AdaptiveSparkPlanExec (a LEAF node — a plain
   * collect would see nothing). */
  def flags(executed: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    val plan = executed.toString
    val globalWindow = collectUnwrapped(executed) {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.partitionSpec.isEmpty => w
    }.nonEmpty
    Seq(
      "CARTESIAN" -> plan.contains("CartesianProduct"),
      "BNLJ" -> plan.contains("BroadcastNestedLoopJoin"),
      "GLOBALWINDOW" -> globalWindow,
      "SINGLEPART" -> plan.contains("SinglePartition")
    ).filter(_._2).map(_._1)
  }
}
