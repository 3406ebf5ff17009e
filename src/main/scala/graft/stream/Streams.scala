package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, Trigger}
import graft.engine.Dec._

/** Structured-Streaming forms of the §2J operators, shared by batch
  * queries and streaming tests: the SAME function builds the logical
  * plan for either a batch DataFrame or a readStream/MemoryStream
  * DataFrame — Spark's unified-plan guarantee is exactly what the
  * batch-vs-stream equivalence tests assert.
  *
  * Watermarks bound state: at production scale these windows hold one
  * StateStore entry per open (window × key); a 10-minute watermark
  * means late data past it is dropped and old windows age out instead
  * of accumulating unboundedly. */
object Streams {

  /** Run `body` with a SMALL shuffle-partition count: a stateful
    * streaming operator creates one StateStore instance PER shuffle
    * partition, and every micro-batch pays a task per store — at the
    * session default of 32, a 5-batch AvailableNow run over KB-scale
    * landing files spends its wall clock on 32-way state plumbing,
    * not data (Bench's `stream_first` line times this one-time cost).
    * The fixture streams are micro-batches of a few thousand rows; 4
    * stores is the honest sizing. At production scale this knob RISES
    * with volume (state partitioning is a throughput dial, not
    * semantics — results are partition-count invariant), and the
    * partition count is captured into the query's checkpoint at first
    * start, which is why it must be set BEFORE `.start()` rather than
    * mid-stream. The caller's setting is restored on exit. */
  def smallStateConf[T](s: org.apache.spark.sql.SparkSession,
                        parts: Int = 4)(body: => T): T =
    graft.engine.Sessions.withConf(s,
      "spark.sql.shuffle.partitions" -> parts.toString)(body)

  /** `root`, emptied first. A declared stream row builds its landing
    * files, checkpoint and sink under one scratch root; when its memo
    * frame is rebuilt in the same application (evicted, or dropped by
    * `Memos.clearAll`), the rerun must not see the earlier run's
    * files — a stale checkpoint skips or double-counts input, and a
    * landing dir collects a second copy of every file. */
  def freshRoot(s: org.apache.spark.sql.SparkSession, root: String): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
    root
  }

  /** 1-hour tumbling counts+sums per event_type (q57's plan). */
  def tumbling(ev: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(ev)(w => ev.withWatermark("ts", w))
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("value")))).as("val_sum"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("val_sum"))
  }

  /** Session windows per user, 30-minute gap (q59's plan). */
  def sessions(ev: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(ev)(w => ev.withWatermark("ts", w))
    src.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_ev"))
      .select(col("user_id"), col("sw.start").as("sess_start"), col("n_ev"))
  }

  /** Stateful stream dedup by key within the watermark horizon. */
  def dedupWithinWatermark(ev: DataFrame, watermark: String): DataFrame =
    ev.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream ⋈ static dimension enrichment (broadcast at runtime). */
  def enrich(ev: DataFrame, dim: DataFrame, key: String): DataFrame =
    ev.join(broadcast(dim), Seq(key), "left")

  /** STREAM-STREAM interval join: left events matched to right events
    * for the same user within [lt, lt + window]. Both sides carry
    * watermarks, and the join condition time-bounds the match, so
    * Spark can expire buffered state — the unbounded-state hazard of
    * naive stream joins is structurally excluded. Column names are
    * fixed — left: (lt, l_user); right: (rt, r_user) — to keep the
    * time-bound expression exact; callers rename on the way in. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   watermark: String = "10 minutes",
                   window: String = "15 minutes"): DataFrame =
    left.withWatermark("lt", watermark)
      .join(right.withWatermark("rt", watermark),
        expr(s"""l_user = r_user AND
                 rt >= lt AND rt <= lt + INTERVAL $window"""))

  case class UserAgg(user_id: Long, n: Long, last_ts: Timestamp)

  /** Custom keyed state via mapGroupsWithState — the direct Spark
    * analogue of the reference's MRBG-Store [P §5]: user-managed,
    * group-keyed state preserved across micro-batches, incrementally
    * merged with each batch's fresh records. Running per-user event
    * count + last-seen timestamp; emits the updated aggregate per key
    * per batch (update output mode). */
  def runningUserState(ev: DataFrame): Dataset[UserAgg] = {
    val sp = ev.sparkSession
    import sp.implicits._
    ev.select(col("user_id"), col("ts")).as[(Long, Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), UserAgg](GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          var (n, last) = state.getOption.getOrElse((0L, Long.MinValue))
          rows.foreach { case (_, ts) =>
            n += 1
            if (ts.getTime > last) last = ts.getTime
          }
          state.update((n, last))
          UserAgg(uid, n, new Timestamp(last))
      }
  }

  /** Spark 4's arbitrary-stateful-processing API (transformWithState
    * + StatefulProcessor): the successor of mapGroupsWithState, with
    * typed per-key state handles (ValueState/ListState/MapState),
    * TTL, and timers. Same running per-user count+last-seen as
    * [[runningUserState]] so the spec can assert the two APIs agree.
    * Requires the RocksDB state store provider. */
  class UserAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Timestamp), UserAgg] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
                      timeMode: streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("agg",
        Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[(Long, Timestamp)],
                                 timerValues: TimerValues): Iterator[UserAgg] = {
      var (n, last) = if (st.exists()) st.get() else (0L, Long.MinValue)
      rows.foreach { case (_, ts) =>
        n += 1
        if (ts.getTime > last) last = ts.getTime
      }
      st.update((n, last))
      Iterator.single(UserAgg(uid, n, new Timestamp(last)))
    }
  }

  /** runningUserState on the transformWithState API. */
  def runningUserStateTws(ev: DataFrame): Dataset[UserAgg] = {
    val sp = ev.sparkSession
    import sp.implicits._
    ev.select(col("user_id"), col("ts")).as[(Long, Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new UserAggProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  case class SessionOut(user_id: Long, n: Long, start: Timestamp, end: Timestamp)

  /** Fully custom sessionization via flatMapGroupsWithState with an
    * EVENT-TIME timeout: gap-splits are emitted as soon as a later
    * event proves the gap, and the final open session is flushed when
    * the watermark passes its end+gap — user-managed state with
    * framework-managed expiry, the full MRBG-Store analogue. */
  def customSessions(ev: DataFrame, gapMinutes: Int = 30): Dataset[SessionOut] = {
    val sp = ev.sparkSession
    import sp.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    ev.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts")).as[(Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          if (state.hasTimedOut) {
            val (n, st, en) = state.get
            state.remove()
            Iterator.single(SessionOut(uid, n, new Timestamp(st), new Timestamp(en)))
          } else {
            val sorted = rows.map(_._2.getTime).toSeq.sorted
            var out = List.empty[SessionOut]
            var (n, st, en) = state.getOption.getOrElse((0L, 0L, 0L))
            for (t <- sorted) {
              if (n == 0L) { n = 1; st = t; en = t }
              else if (t - en >= gapMs) {
                out ::= SessionOut(uid, n, new Timestamp(st), new Timestamp(en))
                n = 1; st = t; en = t
              } else { n += 1; en = t }
            }
            state.update((n, st, en))
            state.setTimeoutTimestamp(en + gapMs)
            out.reverse.iterator
          }
      }
  }

  /** STREAMING UPSERT SINK — maintain a keyed parquet table
    * from a change stream: `foreachBatch` + [[graft.incr.MergeInto
    * .mergeInto]], the streaming face of q278. Per micro-batch:
    *
    *  1. last-write-wins dedup of the batch on `keys` under
    *     `orderCol` DESC (the caller must make (orderCol, keys) a
    *     TOTAL order per key — the q47 determinism contract — e.g. a
    *     (ts, event_id) struct column);
    *  2. one full-outer MERGE into the stored snapshot — CONDITIONAL
    *     update: a matched key takes the batch row only when its
    *     `orderCol` is GREATER than the stored one, else keeps the
    *     stored row (an update is delete+insert [P §3], arriving as
    *     one row). This makes the sink OUT-OF-ORDER SAFE: a late or
    *     replayed batch carrying older versions can never clobber
    *     newer stored state, so the final snapshot is the global
    *     argmax-by-orderCol over every row ever delivered —
    *     INVARIANT to micro-batch boundaries and arrival order (real
    *     CDC feeds deliver late);
    *  3. commit the result as the store's next version
    *     ([[graft.incr.StateStore]], one part).
    *
    * Exactly-once story: the MERGE itself is IDEMPOTENT — re-merging
    * a replayed batch (foreachBatch retries after a crash) recomputes
    * the identical snapshot because last-write-wins dedup and the
    * ord-conditional UPDATE are both absorbing — and the commit is
    * crash-safe because the store is never modified in place: a crash
    * at ANY point leaves the store on a complete snapshot — old or
    * new — and the retry re-merges into whichever it reads,
    * converging to the same state either way. At 100 TB the store
    * would be partitioned and the merge slice-restricted +
    * dynamic-overwritten
    * ([[graft.incr.MergeInto.mergeIntoPartitioned]], the q249 idiom);
    * the snapshot form here is the fixture-scale expression of the
    * same batch logic. */
  def mergeSink(stream: DataFrame, keys: Seq[String], orderCol: String,
                storePath: String): org.apache.spark.sql.DataFrame => Unit = {
    // returned as the foreachBatch body so tests and callers can
    // drive it under any trigger/checkpoint combination
    batch => applyMergeBatch(batch, keys, orderCol, storePath)
  }

  /** One [[mergeSink]] micro-batch, also the unit the streaming specs
    * replay directly. */
  def applyMergeBatch(batch: DataFrame, keys: Seq[String],
                      orderCol: String, storePath: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    if (batch.isEmpty) return
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc)
    val dedup = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val store = readStore(batch.sparkSession, storePath)
      .getOrElse(dedup.filter(lit(false)))
    // conditional UPDATE SET *: take the source row only when the
    // source version is newer (see scaladoc)
    val merged = graft.incr.MergeInto.mergeInto(store, dedup, keys,
      whenMatchedUpdate = graft.incr.MergeInto.updateAll(store),
      whenMatchedUpdateCond = col(s"s.$orderCol") > col(s"t.$orderCol"))
    graft.incr.StateStore.commit(storePath, Seq(SnapshotPart -> merged))
  }

  /** The store's current snapshot as a batch DataFrame — the read
    * face of [[mergeSink]] (None before the first committed batch). */
  def readStore(s: org.apache.spark.sql.SparkSession,
                storePath: String): Option[DataFrame] =
    graft.incr.StateStore.read(s, storePath).map(_(SnapshotPart))

  private val SnapshotPart = "snapshot"

  /** Run `w` once over everything its source holds now
    * (Trigger.AvailableNow) and wait for it. Fails when the run has
    * not finished within 180 s, so a caller never memoizes a partial
    * sink. */
  def runAvailableNow(w: DataStreamWriter[_]): Unit = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(180000L))
      throw new IllegalStateException(
        "streaming run did not terminate within 180s - sink is partial; " +
        "not memoizing a truncated result")
  }
}
