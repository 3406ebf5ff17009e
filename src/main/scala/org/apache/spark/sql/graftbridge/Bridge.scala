package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface needed to expose a
  * custom Catalyst Expression as a user Column/SQL function — the
  * standard extension-library pattern (the public alternative,
  * SparkSessionExtensions, targets the same registry at session
  * build time; this bridge lets us register on a session the driver
  * already created). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Block until the listener bus has delivered all queued events —
    * SparkListener delivery is asynchronous, so per-rep job counters
    * sampled right after an action can miss the tail jobs (ADVICE
    * r10). `listenerBus` is `private[spark]`, hence bridged here. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Wrap a custom LogicalPlan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — needed to hand tier-(c) operator plans like
    * [[graft.plans.TopKPerGroupPlan]] back to the user API. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Whether Spark's file listing keeps a file or directory of this
    * name (it skips `_`- and `.`-prefixed names other than partition
    * directories and parquet summaries, and `._COPYING_` files) — the
    * filter `InMemoryFileIndex` applies (`HadoopFSUtils` is
    * `private[spark]`). */
  def listsName(name: String): Boolean =
    !org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Delete `dir` recursively when the JVM shuts down (Spark's own
    * temp-dir hook; `ShutdownHookManager` is `private[spark]`).
    * Registering a directory twice is a no-op. */
  def deleteAtShutdown(dir: String): Unit =
    org.apache.spark.util.ShutdownHookManager
      .registerShutdownDeleteDir(new java.io.File(dir))

  /** Whether `dir` is registered by [[deleteAtShutdown]]. */
  def deletesAtShutdown(dir: String): Boolean =
    org.apache.spark.util.ShutdownHookManager
      .hasShutdownDeleteDir(new java.io.File(dir))

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** EAGER Column → catalyst Expression conversion via the session's
    * ColumnNode converter. `ExpressionUtils.expression` (above) wraps
    * the Column AST lazily in a `ColumnNodeExpression`, which the
    * analyzer only unwraps inside node types it knows — expressions
    * destined for a CUSTOM LogicalPlan must convert eagerly or the
    * unserializable internal AST leaks into task closures. */
  def expressionEager(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .expression(c)

  /** Floating-point normalization for grouping keys (-0.0 → 0.0,
    * canonical NaN) — the same `private[sql]` rule HashAggregate and
    * Window partitioning apply; custom operators that group by raw
    * projection bytes must apply it too or float group keys split. */
  def normalizeFloat(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
      .normalize(e)

  /** RDDs embedded in a DataFrame's logical plan — a checkpointed
    * Dataset's plan is a `LogicalRDD` (`private[sql]`, hence bridged)
    * over the checkpoint RDD. The memo stores' budgeted eviction
    * needs them: `Dataset.unpersist` only clears CacheManager
    * entries, so a local checkpoint's storage blocks must be
    * unpersisted at the RDD or they linger until ContextCleaner GC. */
  def planRdds(df: DataFrame)
      : Seq[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]] =
    df.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Hash-partition an InternalRow RDD through the SQL EXCHANGE path:
    * partition ids from `Pmod(Murmur3Hash(keys))` exactly like a
    * physical HashPartitioning exchange, and `UnsafeRowSerializer` on
    * the wire — raw row bytes, zero Java/Kryo object serialization.
    * This is what lets a tier-(c) custom operator
    * ([[graft.plans.TopKPerGroupExec]]) shuffle its pruned rows at
    * the same per-byte cost as any built-in exchange instead of the
    * plain RDD `partitionBy` pair path (the r12-documented trade-off,
    * retired r14). Driver-side only (builds the ShuffleDependency);
    * `keys` reference `attrs` and are bound internally. */
  def hashShuffleRows(
      sc: org.apache.spark.SparkContext,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      keys: Seq[Expression], numPartitions: Int)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.{ShuffledRowRDD, UnsafeRowSerializer}
    import org.apache.spark.sql.execution.metric.{
      SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val writeMetrics =
      SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sc)
    val readMetrics =
      SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sc)
    val dep = ShuffleExchangeExec.prepareShuffleDependency(
      rdd, attrs, HashPartitioning(keys, numPartitions),
      new UnsafeRowSerializer(attrs.length), writeMetrics)
    new ShuffledRowRDD(dep, readMetrics)
  }
}
