package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{DynamicPruningSubquery,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation,
  LogicalPlan}
import org.apache.spark.sql.execution.{PlanLater, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.graftbridge.ReusableBroadcastExchangeExec

/** Keeps the built relation of a broadcast hash join across queries.
  *
  * The strategy asks the session's own `JoinSelection` how to plan each
  * join and changes nothing about that choice. When it picks a
  * `BroadcastHashJoinExec` whose build side reads only files (and local
  * rows) through deterministic operators without subqueries, the build
  * side is wrapped in a [[ReusableBroadcastExchangeExec]] that serves a
  * relation stored by an earlier query over the same plan and the same
  * files, or builds and stores one. Every other join is left to the
  * planner's own strategies (Nil), among them:
  *  - a build side over a checkpointed or cached frame, a range, or a
  *    nondeterministic expression (`rand()`): nothing ties its rows to
  *    files that can be fingerprinted;
  *  - a join with a `LogicalQueryStage` below it (AQE re-planning):
  *    `LogicalQueryStageStrategy` plans those, and `JoinSelection`
  *    could pick the other side and stream a broadcast stage;
  *  - a streaming join, and a join whose probe side carries a dynamic
  *    pruning subquery while AQE is off (non-adaptive pruning looks for
  *    the raw build plan under the join, not an exchange);
  *  - `BroadcastNestedLoopJoin`. */
object BroadcastReuseStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: Join if !j.isStreaming &&
        !j.exists(_.isInstanceOf[LogicalQueryStage]) =>
      val s = SparkSession.active
      s.sessionState.planner.JoinSelection(j).headOption match {
        case Some(b: BroadcastHashJoinExec)
            if s.sessionState.conf.adaptiveExecutionEnabled ||
              !hasPruning(if (b.buildSide == BuildLeft) j.right else j.left) =>
          reusable(b).toSeq
        case _ => Nil
      }
    case _ => Nil
  }

  private def hasPruning(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.isInstanceOf[DynamicPruningSubquery])))

  /** `b` with its build side wrapped, if that side can be reused. */
  private def reusable(b: BroadcastHashJoinExec): Option[SparkPlan] = {
    val (build, keys) = b.buildSide match {
      case BuildLeft => (b.left, b.leftKeys)
      case BuildRight => (b.right, b.rightKeys)
    }
    build match {
      case PlanLater(p) => files(p).map { fs =>
        val x = ReusableBroadcastExchangeExec(keys, b.isNullAwareAntiJoin,
          fs.sorted, build)
        // AQE maps a broadcast stage back to the build side's logical
        // node, as for the exchange `EnsureRequirements` would insert
        x.setLogicalLink(p)
        if (b.buildSide == BuildLeft) b.copy(left = x) else b.copy(right = x)
      }
      case _ => None
    }
  }

  /** Every file the scans of `p` listed, if `p` reads only files and
    * local rows through deterministic operators without subqueries. */
  private def files(p: LogicalPlan): Option[Seq[(String, Long, Long)]] =
    p match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => graft.engine.Tables.listed(r.location)
        case _ => None
      }
      case _: LocalRelation => Some(Nil)
      case _ if p.children.isEmpty || !p.expressions.forall(e =>
          e.deterministic && !e.exists(_.isInstanceOf[SubqueryExpression])) =>
        None
      case _ =>
        val fs = p.children.map(files)
        if (fs.contains(None)) None else Some(fs.flatten.flatten)
    }
}
