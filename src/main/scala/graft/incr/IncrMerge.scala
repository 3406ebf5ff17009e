package graft.incr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Memos, Query}
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 rows 46-47 — one-step incremental processing (paper [P §3]):
  * the MRBGraph edge-merge. A delta input carries '+' (insert) and
  * '-' (delete) flags — an update is delete+insert — and affected
  * groups are re-aggregated by merging preserved and delta
  * contributions. In Spark the "preserved edges" (MRBG-Store) are
  * simply the base DataFrame: merge = union + signed re-aggregation,
  * one shuffle on the group key.
  *
  * Scale: at 100 TB the base side would be a materialized aggregate;
  * signed merge means only delta-affected groups change values, and
  * the shuffle is proportional to base+delta group count — no
  * recompute of raw history is required if base is pre-aggregated
  * (associative signed sums compose). */
object IncrMerge {

  /** Generic signed merge: base rows count as inserts; delta must have
    * an `op` column ('+'/'-'; any other value fails the query). Returns
    * per-key signed count and sum; a key whose count reaches 0 is kept. */
  def merge(base: DataFrame, delta: DataFrame, keys: Seq[String],
            value: Column): DataFrame = {
    val signed = Maintain.signedBy(col("op")) _
    val rows = base.withColumn("op", lit("+")).unionByName(delta)
      .select(keys.map(col) :+ signed(lit(1L)).as("n") :+
        signed(dec2(value)).as("val_sum"): _*)
    Maintain.signedMerge(keys, Seq("n", "val_sum"), Seq(rows))(lit(true))
      .withColumn("val_sum", dbl(col("val_sum")))
  }

  /** Incrementally-maintainable DISTINCT COUNT state: per-key HLL
    * sketches (`hll_sketch_agg`) that MERGE associatively
    * (`hll_union_agg`) — the sketch analogue of q92's associative
    * decimal partials. At 100 TB "distinct users per day, updated
    * hourly" never re-reads history: each delta contributes a sketch,
    * and the stored per-day sketch is unioned with it. Returns one
    * row per key with the merged estimate.
    *
    * `partials` rows are (key, sketch-binary); build them with
    * [[distinctSketch]]. Estimates carry standard HLL error (~1.6%
    * at lgK=12) — `IncrSketchSpec` bounds them against exact. */
  def mergeDistinct(partials: DataFrame, keys: Seq[String]): DataFrame =
    partials.groupBy(keys.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("n_distinct"))

  /** Per-key HLL sketch of `valueCol` for one batch/delta. */
  def distinctSketch(batch: DataFrame, keys: Seq[String],
                     valueCol: String): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as("sketch"))

  /** Associative per-key PARTIALS (count + exact decimal sum) — the
    * persistable state unit of the MRBG-Store analogue [P §5]: commit
    * them to a [[StateStore]], and a LATER session warm-restarts by
    * reading them back and [[mergePartials]]-ing a delta's partials —
    * history is never re-read (q_incr_restart). Decimal sums are
    * exact and order-independent, so partial-of-partials equals the
    * one-shot aggregate bit-for-bit. */
  def partials(df: DataFrame, keys: Seq[String], value: Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(dec2(value)).as("psum"))

  /** Overwrite `path` with `parts` as plain parquet (Parquet keeps the
    * exact decimal). Not versioned: a failed overwrite leaves `path`
    * empty, so preserved state commits through [[StateStore]] instead.
    * This plain layout is what perfbench's kvmerge cell writes and
    * reads back through `Tables.tbl`; its other callers are specs. */
  def writePartials(parts: DataFrame, path: String): Unit =
    parts.write.mode("overwrite").parquet(path)

  /** Merge any number of partial sets by re-aggregating the
    * associative components. */
  def mergePartials(keys: Seq[String], parts: DataFrame*): DataFrame =
    Maintain.signedMerge(keys, Seq("n", "psum"), parts)(lit(true))

  private val cutoff = "2024-01-20"

  val queries: Seq[Query] = Seq(
    /** q46: base = events before the cutoff; delta = the rest as
      * inserts plus a deterministic deletion subset (event_id%7=0 of
      * base) as deletes. */
    Query("q_incr_delta_merge",
      s"""SELECT event_type,
         CAST(sum(CASE WHEN op = '+' THEN 1 ELSE -1 END) AS BIGINT) AS n,
         CAST(sum(CASE WHEN op = '+'
                  THEN CAST(ROUND(value,2) AS DECIMAL(18,2))
                  ELSE -CAST(ROUND(value,2) AS DECIMAL(18,2)) END) AS DOUBLE) AS val_sum
         FROM (
           SELECT event_type, value, '+' AS op FROM events
           WHERE ts < TIMESTAMP '$cutoff'
           UNION ALL
           SELECT event_type, value, '+' AS op FROM events
           WHERE ts >= TIMESTAMP '$cutoff'
           UNION ALL
           SELECT event_type, value, '-' AS op FROM events
           WHERE ts < TIMESTAMP '$cutoff' AND event_id % 7 = 0
         ) t GROUP BY event_type ORDER BY event_type""")((s, d) => {
      val cut = lit(cutoff).cast("timestamp")
      val delta = Delta(events(s, d), col("ts") < cut, col("ts") >= cut,
          col("event_id") % 7 === 0)
        .map(_.select(col("event_type"), lit(1L).as("n"),
          dec2(col("value")).as("val_sum")))
      Maintain.signedMerge(Seq("event_type"), Seq("n", "val_sum"),
          Seq(delta.base, delta.inserts), Seq(delta.deletes))(lit(true))
        .withColumn("val_sum", dbl(col("val_sum")))
        .orderBy("event_type")
    }),

    /** q103: PERSISTED-STATE WARM RESTART (the MRBG-Store's actual
      * job [P §5]) as a declared query: base partials are committed to
      * a [[StateStore]], read BACK from disk (the plan below the merge
      * is a genuine parquet scan, not the in-memory lineage), merged
      * with the delta's partials, finalized. The oracle is the full
      * recompute over all of history — restart must be value-identical
      * while reading only |keys| + |delta| rows. Every call commits
      * the partials as the next version of a store under the
      * session's scratch dir. */
    Query("q_incr_restart",
      /** q103 oracle: the FULL recompute — two-level exact-decimal
        * partial sums equal the one-shot sum bit-for-bit. */
      """SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
         FROM events GROUP BY event_type ORDER BY event_type""")((s, d) => {
      val cut = lit(cutoff).cast("timestamp")
      val delta = Delta(events(s, d), col("ts") < cut, col("ts") >= cut,
        lit(false)).map(partials(_, Seq("event_type"), col("value")))
      val root = Memos.scratchDir(s, d, "incr_restart")
      StateStore.commit(root, Seq("base" -> delta.base))
      val stored = StateStore.read(s, root).get("base")
      mergePartials(Seq("event_type"), stored, delta.inserts)
        .select(col("event_type"), col("n"), dbl(col("psum")).as("val_sum"))
        .orderBy("event_type")
        .localCheckpoint() // materialize before a later commit GCs this version
    }),

    /** q47: kv-level upsert = delete+insert [P §3]: last-write-wins
      * current state per user from the event change log. */
    Query("q_incr_upsert_latest",
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
         value AS last_value
         FROM (
           SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
           FROM events
         ) t WHERE rn = 1 ORDER BY user_id""")((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id")
    })
  )
}
