package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{DynamicPruningSubquery,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand,
  Filter, Generate, Join, LocalRelation, LogicalPlan, Project, Sort, Union,
  Window}
import org.apache.spark.sql.execution.{PlanLater, SortExec, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.graftbridge.{ReusableBroadcastExchangeExec,
  ReusableShuffleExchangeExec}

/** Keeps built exchanges across queries: the relation of a broadcast
  * hash join, and the map outputs of the shuffle below an aggregate or
  * a global sort.
  *
  * The strategy asks the session's own strategies how to plan each
  * join (`JoinSelection`), aggregate (`Aggregation`) and global sort
  * (`BasicOperators`) and changes nothing about their choice. It only
  * puts a reusable exchange where the plan would get one anyway, over a
  * subtree that reads files (and local rows) through deterministic
  * operators without subqueries — the subtree [[files]] fingerprints:
  *  - broadcast: when `JoinSelection` picks a `BroadcastHashJoinExec`,
  *    its build side is wrapped in a [[ReusableBroadcastExchangeExec]];
  *  - shuffle: between a final-mode aggregate and its partial-mode
  *    child, and below a global `SortExec`, a
  *    [[ReusableShuffleExchangeExec]] partitioned as the parent
  *    requires — where `EnsureRequirements` would put its exchange, so
  *    only over a subtree whose planned output partitioning never
  *    satisfies that requirement ([[unpartitioned]]), and only when the
  *    subtree reads at least one file.
  * Each serves what an earlier query stored over the same plan and the
  * same files, or builds and stores it. Every other node is left to the
  * planner's own strategies (Nil), among them:
  *  - a subtree over a checkpointed or cached frame, a range, or a
  *    nondeterministic expression (`rand()`): nothing ties its rows to
  *    files that can be fingerprinted;
  *  - a node with a `LogicalQueryStage` below it (AQE re-planning):
  *    `LogicalQueryStageStrategy` plans those, and `JoinSelection`
  *    could pick the other side and stream a broadcast stage;
  *  - streaming plans, distinct aggregates (their partial aggregates
  *    are stacked), and a join whose probe side carries a dynamic
  *    pruning subquery while AQE is off (non-adaptive pruning looks for
  *    the raw build plan under the join, not an exchange);
  *  - `BroadcastNestedLoopJoin`, sort-merge join and window shuffles. */
object ExchangeReuseStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case _: Join | _: Aggregate | _: Sort if !plan.isStreaming &&
        !plan.exists(_.isInstanceOf[LogicalQueryStage]) =>
      val s = SparkSession.active
      plan match {
        case j: Join => broadcastSide(s, j).toSeq
        case a: Aggregate => aggregateShuffle(s, a).toSeq
        case o: Sort if o.global => sortShuffle(s, o).toSeq
        case _ => Nil
      }
    case _ => Nil
  }

  private def broadcastSide(s: SparkSession, j: Join): Option[SparkPlan] =
    s.sessionState.planner.JoinSelection(j).headOption match {
      case Some(b: BroadcastHashJoinExec)
          if s.sessionState.conf.adaptiveExecutionEnabled ||
            !hasPruning(if (b.buildSide == BuildLeft) j.right else j.left) =>
        reusable(b)
      case _ => None
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

  /** The final-mode aggregate over a reusable exchange over its
    * partial-mode aggregate, if `Aggregation` plans `a` as exactly that
    * pair over `a`'s child. */
  private def aggregateShuffle(s: SparkSession, a: Aggregate)
      : Option[SparkPlan] =
    s.sessionState.planner.Aggregation(a).headOption.flatMap {
      case top: BaseAggregateExec
          if top.requiredChildDistributionExpressions.isDefined =>
        top.child match {
          case partial: BaseAggregateExec
              if partial.child.isInstanceOf[PlanLater] &&
                partial.requiredChildDistributionExpressions.isEmpty &&
                partial.aggregateExpressions.forall(_.mode == Partial) =>
            shuffled(s, top, partial, a.child, ordered = false)
          case _ => None
        }
      case _ => None
    }

  /** The global `SortExec` over a reusable range exchange. */
  private def sortShuffle(s: SparkSession, o: Sort): Option[SparkPlan] =
    s.sessionState.planner.BasicOperators(o).headOption.flatMap {
      case top @ SortExec(_, true, below @ PlanLater(p), _) =>
        shuffled(s, top, below, p, ordered = true).map { t =>
          // AQE maps the stage back to the sorted child, as for the
          // exchange `EnsureRequirements` would insert; once a stage
          // below completes, the child's query stage then holds this
          // exchange, so re-planning keeps it
          t.children.head.setLogicalLink(p)
          t
        }
      case _ => None
    }

  /** `top` with a reusable exchange over `below` (which computes `p`),
    * partitioned as `top` requires of its child — what
    * `EnsureRequirements` would insert — if `p` reads at least one file
    * and is planned without a partitioning that satisfies `top`. */
  private def shuffled(s: SparkSession, top: SparkPlan, below: SparkPlan,
      p: LogicalPlan, ordered: Boolean): Option[SparkPlan] =
    files(p).filter(fs => fs.nonEmpty && unpartitioned(s, p, ordered)).map {
      fs =>
        val d = top.requiredChildDistribution.head
        val n = d.requiredNumPartitions
          .getOrElse(s.sessionState.conf.numShufflePartitions)
        top.withNewChildren(Seq(ReusableShuffleExchangeExec(
          d.createPartitioning(n), fs.sorted, below)))
    }

  /** Whether `p` is planned with an output partitioning that never
    * satisfies its parent's requirement, so that `EnsureRequirements`
    * would shuffle above it. Conservative: only operators that keep
    * their input's partitioning or lose it, over unbucketed file scans
    * and local rows, and broadcast joins (they keep the streamed side's
    * partitioning). Below a global sort (`ordered`) also grouped
    * aggregates, partitioned windows and every join: they hash-partition,
    * and a hash partitioning never satisfies an ordering. Anything that
    * may end single-partitioned (a global aggregate, a limit, a
    * repartition) or range-partitioned (a sort) is excluded. With AQE
    * on, a join or a window puts a query stage below: once it completes
    * AQE re-plans the node over it, and Spark's own exchange replaces a
    * reusable one, so none is planned. */
  private def unpartitioned(s: SparkSession, p: LogicalPlan,
      ordered: Boolean): Boolean = (p match {
    case _: Project | _: Filter | _: Union | _: Expand | _: Generate |
        _: LocalRelation => true
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation => r.bucketSpec.isEmpty
      case _ => false
    }
    case a: Aggregate => ordered && a.groupingExpressions.nonEmpty
    case _: Window | _: Join if s.sessionState.conf.adaptiveExecutionEnabled =>
      false
    case w: Window => ordered && w.partitionSpec.nonEmpty
    case j: Join => ordered ||
      s.sessionState.planner.JoinSelection(j).headOption.exists {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }
    case _ => false
  }) && p.children.forall(unpartitioned(s, _, ordered))

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
