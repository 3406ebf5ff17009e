package org.apache.spark.sql.graftbridge

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.{MapOutputStatistics, MapOutputTrackerMaster,
  ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{DoNotCleanup, QueryExecution,
  SQLExecution, ShufflePartitionSpec, ShuffledRowRDD, SparkPlan,
  UnsafeRowSerializer}
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeExec, ShuffleExchangeLike, ShuffleOrigin}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics,
  SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}

import graft.engine.Memos

/** The exchange below a final-mode aggregate or a global sort whose map
  * outputs are kept across queries ([[graft.plans.ExchangeReuseStrategy]]
  * plans it where `EnsureRequirements` would put its exchange; the
  * subtree below reads only `files` and local rows through
  * deterministic operators).
  *
  * The shuffle is stored in [[Memos]] under the exchange's canonical
  * plan ([[storedAs]]) and `files`, the sorted (path, length, mtime) of every file the
  * subtree's scans listed when the query was planned. On a hit the
  * stored `ShuffleDependency` is served: the map-output statistics are
  * already known, so no job starts, and the DAG scheduler skips the map
  * stage it finds available (or recomputes from the dependency's
  * lineage the outputs it finds lost). On a miss the dependency is
  * built exactly as `ShuffleExchangeExec` builds it and kept; a lookup
  * serves it once the tracker holds all of its map outputs. Nothing is
  * kept or served when the query deletes its shuffle files at its end.
  *
  * The exchange canonicalizes as the `ShuffleExchangeExec` it stands
  * for, so in-query exchange reuse, AQE's stage cache and partition
  * coalescing all treat it as that exchange, and it prints as
  * `Exchange <partitioning>` like it. */
case class ReusableShuffleExchangeExec(
    override val outputPartitioning: Partitioning,
    files: Seq[(String, Long, Long)], child: SparkPlan)
    extends ShuffleExchangeLike {

  override def nodeName: String = "Exchange"
  override def shuffleOrigin: ShuffleOrigin = ENSURE_REQUIREMENTS
  override def advisoryPartitionSize: Option[Long] = None
  override def stringArgs: Iterator[Any] =
    Iterator(outputPartitioning, shuffleOrigin, s"[plan_id=$id]")

  override def doCanonicalize(): SparkPlan =
    ShuffleExchangeExec(outputPartitioning, child, shuffleOrigin).canonicalized

  /** What the shuffle is stored under: the canonical plan without AQE's
    * shuffle reads below it, which coalesce or split a stage's
    * partitions by their sizes but read every row of it. */
  @transient private lazy val storedAs: SparkPlan =
    canonicalized.transformUp { case r: AQEShuffleReadExec => r.child }

  private lazy val writeMetrics =
    SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "dataSize" -> SQLMetrics.createSizeMetric(sparkContext, "data size"),
    "numPartitions" ->
      SQLMetrics.createMetric(sparkContext, "number of partitions")) ++
    readMetrics ++ writeMetrics

  /** Whether this query may keep and serve shuffles: not when it
    * deletes its shuffle files at its end. */
  @transient private lazy val keeps: Boolean =
    Option(sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY))
      .flatMap(id => Option(SQLExecution.getQueryExecution(id.toLong)))
      .fold(QueryExecution.determineShuffleCleanupMode(conf))(
        _.shuffleCleanupMode) == DoNotCleanup

  /** The map outputs this exchange reads, decided once per exchange:
    * the stored ones on a hit, else the ones it builds. */
  @transient private lazy val stored: Option[StoredShuffle] =
    if (!keeps) None
    else Memos.storedExchange(session, storedAs, files)
      .map(_.value.asInstanceOf[StoredShuffle])

  @transient private lazy val outputs: StoredShuffle = stored.getOrElse {
    val dep = ShuffleExchangeExec.prepareShuffleDependency(child.execute(),
      child.output, outputPartitioning,
      new UnsafeRowSerializer(child.output.size, longMetric("dataSize")),
      writeMetrics)
    metrics("numPartitions").set(dep.partitioner.numPartitions)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics("numPartitions") :: Nil)
    val built = new StoredShuffle(dep, longMetric("dataSize"),
      longMetric(SQLShuffleWriteMetricsReporter.SHUFFLE_RECORDS_WRITTEN))
    if (keeps && dep.rdd.getNumPartitions > 0)
      Memos.keepExchange(session, storedAs, files, built,
        () => built.stats.map(_.bytesByPartitionId.sum))
    built
  }

  def shuffleDependency: ShuffleDependency[Int, InternalRow, InternalRow] =
    outputs.dep

  @transient override lazy val mapOutputStatisticsFuture
      : Future[MapOutputStatistics] = stored match {
    case Some(s) => Future.successful(s.stats.get)
    case None =>
      if (numMappers == 0) Future.successful(null)
      else {
        val f = sparkContext.submitMapStage(shuffleDependency)
        // read the statistics while every output is registered: a later
        // hit then serves the dependency even after outputs are lost
        f.foreach(_ => outputs.stats)(ExecutionContext.parasitic)
        f
      }
  }

  override def numMappers: Int = shuffleDependency.rdd.getNumPartitions
  override def numPartitions: Int = shuffleDependency.partitioner.numPartitions
  override def shuffleId: Int = shuffleDependency.shuffleId

  override def getShuffleRDD(specs: Array[ShufflePartitionSpec])
      : RDD[InternalRow] = new ShuffledRowRDD(shuffleDependency, readMetrics, specs)

  override def runtimeStatistics: Statistics =
    Statistics(outputs.dataSize.value, Some(outputs.records.value))

  @transient private lazy val shuffled =
    new ShuffledRowRDD(shuffleDependency, readMetrics)

  override protected def doExecute(): RDD[InternalRow] = shuffled

  override protected def withNewChildInternal(c: SparkPlan)
      : ReusableShuffleExchangeExec = copy(child = c)
}

/** A shuffle's map outputs as [[Memos]] keeps them: the dependency
  * (whose RDD lineage recomputes a lost output) and the metrics its map
  * tasks wrote. */
final class StoredShuffle(
    val dep: ShuffleDependency[Int, InternalRow, InternalRow],
    val dataSize: SQLMetric, val records: SQLMetric) {

  @volatile private var known: Option[MapOutputStatistics] = None

  /** The per-partition output bytes, once the tracker has held every
    * map output; read from it once. */
  def stats: Option[MapOutputStatistics] = {
    if (known.isEmpty) {
      val t = dep.rdd.sparkContext.env.mapOutputTracker
        .asInstanceOf[MapOutputTrackerMaster]
      val id = dep.shuffleId
      if (t.containsShuffle(id) &&
          t.getNumAvailableOutputs(id) == dep.rdd.getNumPartitions)
        known = Some(t.getStatistics(dep))
    }
    known
  }
}
