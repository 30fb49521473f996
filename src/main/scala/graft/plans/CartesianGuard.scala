package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in optimizer guard: fail FAST on joins that would execute as an
  * all-pairs nested loop over two large inputs.
  *
  * At interactive scale a `CartesianProduct` / `BroadcastNestedLoopJoin`
  * is a slow query; at 100 TB it is a cluster-week. Spark plans one
  * whenever no equi-join keys are extractable — which is exactly what a
  * natural-feeling range predicate (`abs(a.ts - b.ts) <= tol`) produces.
  * This library ships the scale-safe rewrites ([[graft.ops.BandAgg]],
  * [[graft.ops.AsofJoin]], bucketed self-joins); the guard turns the
  * silent accident into an actionable analysis error that names them.
  *
  * Semantics-safe by construction: the rule never rewrites a plan — it
  * either passes the plan through untouched or throws. Flagged only when
  *
  *  - no equi keys are extractable (Spark's own `ExtractEquiJoinKeys`,
  *    the same test the planner uses before falling back to nested
  *    loops), AND
  *  - BOTH sides' estimated `sizeInBytes` exceed
  *    `spark.graft.guard.maxNestedLoopBytes` (a small side broadcasts —
  *    a broadcast nested loop over one tiny side is a legitimate plan,
  *    e.g. this library's own 1-row stats broadcasts).
  *
  * Off by default (`spark.graft.guard.cartesian=false`): a guard that
  * changes which queries RUN must be a deliberate deployment choice.
  * Enable per cluster or per session; injected by [[graft.GraftExtensions]]
  * or [[register]] on a live session.
  */
object CartesianGuard extends Rule[LogicalPlan] {

  val enabledKey = "spark.graft.guard.cartesian"
  val thresholdKey = "spark.graft.guard.maxNestedLoopBytes"
  val defaultThreshold: Long = 128L * 1024 * 1024

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(enabledKey, "false").toBoolean) return plan
    val threshold =
      conf.getConfString(thresholdKey, defaultThreshold.toString).toLong
    plan.foreach {
      case j @ Join(left, right, _, _, _)
          if ExtractEquiJoinKeys.unapply(j).isEmpty =>
        val (l, r) = (left.stats.sizeInBytes, right.stats.sizeInBytes)
        if (l > threshold && r > threshold) {
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "_LEGACY_ERROR_TEMP_3000",
            messageParameters = Map("message" ->
              (s"[graft guard] join has no equi-join keys and both sides " +
                s"exceed $thresholdKey ($l and $r bytes > $threshold): this " +
                "plans as an all-pairs nested loop. Rewrite with " +
                "graft.ops.BandAgg (aggregates over |a-b| <= tol bands), " +
                "graft.ops.AsofJoin (most-recent-before), a bucketed " +
                "self-join, or broadcast() the small side; or raise the " +
                s"threshold / disable $enabledKey.")))
        }
      case _ =>
    }
    plan
  }

  /** Attach to a live session (the extension path injects it at build
    * time via `spark.sql.extensions=graft.GraftExtensions`). Idempotent. */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(this)) {
      spark.experimental.extraOptimizations = cur :+ this
    }
  }
}
