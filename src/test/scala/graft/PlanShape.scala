package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Executed-plan shape accounting for PlanShapeSpec's strategy-drift
  * pins and the specs that inspect executed plans: counts the plan
  * features that distinguish a scale-safe strategy from a regressed
  * one — exchange counts (every shuffle is a full network pass over the
  * data at 100 TB) and join strategies (which side broadcasts, and
  * whether a join degraded from broadcast/hash to an extra exchange).
  * Counted on the FINAL adaptive plan, after AQE has re-planned with
  * runtime sizes — the plan that actually ran, not the static guess.
  */
object PlanShape {

  /** One executed plan's shape. `reused` counts exchange reuses —
    * cheap (they read the already-materialized stage) but a shape
    * change there still signals a strategy shift worth a look.
    */
  final case class Shape(shuffles: Int, broadcasts: Int, reused: Int,
      sortMergeJoins: Int, broadcastHashJoins: Int,
      shuffledHashJoins: Int, broadcastNestedLoops: Int) {
    override def toString: String =
      s"Shape(shuffles=$shuffles, broadcasts=$broadcasts, reused=$reused, " +
        s"smj=$sortMergeJoins, bhj=$broadcastHashJoins, " +
        s"shj=$shuffledHashJoins, bnlj=$broadcastNestedLoops)"
  }

  /** Flatten the final adaptive plan, descending through finalized
    * query stages (same walk as QuerySmokeSpec's cartesian guard).
    */
  def flat(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
    case q: QueryStageExec => q +: flat(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: p.children.flatMap(flat)
  }

  /** Shape of `df`'s executed plan. Runs the query (collect) so AQE
    * finalizes every stage first — the static plan before execution
    * still shows the pre-adaptive strategy.
    */
  def of(df: DataFrame): Shape = {
    df.collect()
    val nodes = flat(df.queryExecution.executedPlan)
    Shape(
      shuffles = nodes.count {
        case _: ShuffleExchangeLike => true; case _ => false },
      broadcasts = nodes.count {
        case _: BroadcastExchangeLike => true; case _ => false },
      reused = nodes.count {
        case _: ReusedExchangeExec => true; case _ => false },
      sortMergeJoins = nodes.count {
        case _: SortMergeJoinExec => true; case _ => false },
      broadcastHashJoins = nodes.count {
        case _: BroadcastHashJoinExec => true; case _ => false },
      shuffledHashJoins = nodes.count {
        case _: ShuffledHashJoinExec => true; case _ => false },
      broadcastNestedLoops = nodes.count {
        case _: BroadcastNestedLoopJoinExec => true; case _ => false })
  }
}
