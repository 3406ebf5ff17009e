package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, Future => JFuture}

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode,
  BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  BroadcastExchangeLike}
import org.apache.spark.sql.execution.joins.{HashJoin,
  HashedRelationBroadcastMode}

import graft.engine.Memos

/** The build side of a broadcast hash join whose built relation is kept
  * across queries ([[graft.plans.ExchangeReuseStrategy]] plans it; the
  * build side reads only `files` and local rows through deterministic
  * operators).
  *
  * The relation is stored in [[Memos]] under the exchange's canonical
  * plan and `files`, the sorted (path, length, mtime) of every file the
  * build side's scans listed when the query was planned. On a hit the stored `Broadcast`
  * is served and no Spark job starts. On a miss a
  * `BroadcastExchangeExec` over the same child builds it exactly as
  * Spark does, and the result is stored once it completes.
  *
  * The broadcast mode is derived from the CURRENT child's output, the
  * way the join derives the distribution it requires: a physical rule
  * that runs after planning (`RemoveRedundantProjects`) can change the
  * nullability of the bound keys, and a mode fixed at planning time
  * would then make `EnsureRequirements` stack a second exchange on top.
  *
  * The exchange canonicalizes as the `BroadcastExchangeExec` it stands
  * for, so in-query exchange reuse, AQE's stage cache and dynamic
  * partition pruning's `sameResult` lookups all treat it as one. */
case class ReusableBroadcastExchangeExec(buildKeys: Seq[Expression],
    isNullAware: Boolean, files: Seq[(String, Long, Long)], child: SparkPlan)
    extends BroadcastExchangeLike {

  def mode: BroadcastMode = HashedRelationBroadcastMode(
    BindReferences.bindReferences(HashJoin.rewriteKeyExpr(buildKeys),
      child.output), isNullAware)

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override def doCanonicalize(): SparkPlan =
    BroadcastExchangeExec(mode.canonicalized, child.canonicalized)

  override def stringArgs: Iterator[Any] = Iterator(mode)

  /** Where the relation comes from, decided once per exchange: the
    * stored relation on a hit, else the exchange that builds it. */
  @transient private lazy val source
      : Either[StoredBroadcast, BroadcastExchangeExec] =
    Memos.storedExchange(session, canonicalized, files)
      .map(_.value.asInstanceOf[StoredBroadcast])
      .toLeft(session.withActive(BroadcastExchangeExec(mode, child)))

  private def keep(b: Broadcast[Any], build: BroadcastExchangeExec)
      : Broadcast[Any] = {
    val kept = StoredBroadcast(b, build.runtimeStatistics)
    Memos.keepExchange(session, canonicalized, files, kept,
      () => Some(kept.stats.sizeInBytes.toLong))
    b
  }

  // cancelling this exchange cancels the jobs of the build it delegates to
  override def jobTag: String = source.fold(_ => super.jobTag, _.jobTag)

  @transient override lazy val relationFuture: JFuture[Broadcast[Any]] =
    source.fold(e => CompletableFuture.completedFuture(e.value),
      _.relationFuture)

  @transient override protected lazy val completionFuture
      : Future[Broadcast[Any]] =
    source.fold(e => Future.successful(e.value),
      b => b.completionFuture.map(keep(_, b))(ExecutionContext.parasitic))

  // starts the build (a miss) and registers its store before anything waits
  override protected def doPrepare(): Unit = { relationFuture; completionFuture }

  override def runtimeStatistics: Statistics =
    source.fold(_.stats, _.runtimeStatistics)

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] =
    source.fold(_.value, _.executeBroadcast[Any]()).asInstanceOf[Broadcast[T]]

  // Only reached if a later rule puts another exchange over this one:
  // that exchange then collects the rows and nothing is reused.
  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override protected def withNewChildInternal(c: SparkPlan)
      : ReusableBroadcastExchangeExec = copy(child = c)
}


/** A built broadcast relation as [[Memos]] keeps it, with the runtime
  * statistics of the exchange that built it. */
case class StoredBroadcast(value: Broadcast[Any], stats: Statistics)
