package graft.incr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.{Memos, Query}
import graft.engine.Tables._

/** §2 row 278 — the DECLARATIVE MERGE surface (VERDICT r15 task 3).
  *
  * The paper defines update = delete + insert [P §3] and the engine
  * proves that algebra across the whole signed family (q46/q47/q153
  * and ~20 `*_delete` rows), but none of those is the single
  * DML-shaped operator a lakehouse user types. [[mergeInto]] is that
  * surface: MERGE INTO base USING delta ON keys / WHEN MATCHED [AND
  * cond] THEN DELETE / WHEN MATCHED THEN UPDATE SET ... / WHEN NOT
  * MATCHED THEN INSERT — evaluated as ONE full-outer-join pass.
  *
  * Scale (the 100 TB story): one key-hashed shuffle of base + delta,
  * no fact-side broadcast ever (Round16Spec pins both properties on
  * the physical plan). The output is a full next-version snapshot —
  * at lakehouse scale you don't rewrite 100 TB for a 1 GB delta, so
  * production writes it back partition-pruned via
  * [[mergeIntoPartitioned]] (r17): restrict `base` to the partitions
  * the delta touches (partition-value pushdown — untouched
  * partitions never READ), mergeInto just that slice, and commit via
  * dynamic partition overwrite (untouched partitions never WRITTEN)
  * — exactly the q249 (`q_incr_zorder`) maintenance idiom;
  * Round17Spec proves untouched partition files byte-identical.
  * Row-level maintenance of AGGREGATES stays with the signed family
  * (q46/q92/q153): MERGE is the right surface when the stored
  * artifact is the row set itself. */
object MergeInto {

  /** MERGE `delta` into `base` on equality of `keys`, one
    * full-outer-join pass. Clause expressions reference the two
    * sides by the standard MERGE aliases `t` (target/base) and `s`
    * (source/delta):
    *
    *  - `whenMatchedDelete` — matched rows satisfying it are dropped
    *    (evaluated FIRST, like Delta/Iceberg's clause order).
    *  - `whenMatchedUpdate` — for surviving matched rows satisfying
    *    `whenMatchedUpdateCond` (WHEN MATCHED AND cond THEN UPDATE;
    *    default always), each base column in the map takes its
    *    expression; columns absent from the map — and matched rows
    *    failing the condition — keep the target value. Empty map =
    *    matched rows pass through unchanged (use [[updateAll]] for
    *    UPDATE SET *).
    *  - `insertWhenNotMatched` — source-only rows are inserted
    *    (taking the base-schema columns from `s`; extra source
    *    columns such as an `op` flag are allowed and ignored).
    *
    *  - `whenNotMatchedBySourceDelete` — target-only rows satisfying
    *    it are dropped (SQL:2023 / Delta's WHEN NOT MATCHED BY SOURCE
    *    THEN DELETE — the "full sync" shape where the source is the
    *    complete desired state and stale target rows must go).
    *    Default false: target-only rows survive unchanged.
    *
    * Output schema = base schema. Join keys are matched null-safely
    * (`<=>`), so a NULL key in both sides pairs up instead of
    * silently duplicating. */
  def mergeInto(base: DataFrame, delta: DataFrame, keys: Seq[String],
                whenMatchedUpdate: Map[String, Column] = Map.empty,
                whenMatchedDelete: Column = lit(false),
                insertWhenNotMatched: Boolean = true,
                whenNotMatchedBySourceDelete: Column = lit(false),
                whenMatchedUpdateCond: Column = lit(true))
      : DataFrame = {
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    val outCols = base.columns.toSeq
    require(outCols.forall(delta.columns.contains),
      "delta must carry every base column (extra delta columns are ok)")
    // ADVICE r16: withColumn would silently REPLACE a same-named user
    // column, corrupting the matched/source-only/target-only split
    require(!base.columns.contains("__t_present") &&
        !delta.columns.contains("__s_present"),
      "mergeInto reserves the marker columns __t_present/__s_present")
    val t = base.withColumn("__t_present", lit(true)).alias("t")
    val sSide = delta.withColumn("__s_present", lit(true)).alias("s")
    val on = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val joined = t.join(sSide, on, "full_outer")
    val matched = col("t.__t_present").isNotNull &&
      col("s.__s_present").isNotNull
    val sOnly = col("t.__t_present").isNull
    val tOnly = col("s.__s_present").isNull
    // clause order: DELETE, then UPDATE, then INSERT; the
    // by-source delete applies to the disjoint target-only set
    val kept = joined
      .filter(!(matched && coalesce(whenMatchedDelete, lit(false))))
      .filter(!(tOnly && coalesce(whenNotMatchedBySourceDelete, lit(false))))
      .filter(if (insertWhenNotMatched) lit(true) else !sOnly)
    val doUpdate = matched && coalesce(whenMatchedUpdateCond, lit(false))
    val projected = outCols.map { c =>
      val updated = whenMatchedUpdate.getOrElse(c, col(s"t.$c"))
      when(doUpdate, updated)
        .when(sOnly, col(s"s.$c"))
        .otherwise(col(s"t.$c"))
        .as(c)
    }
    kept.select(projected: _*)
  }

  /** UPDATE SET * for [[mergeInto]]: every base column from the
    * source side. */
  def updateAll(base: DataFrame): Map[String, Column] =
    base.columns.map(c => c -> col(s"s.$c")).toMap

  /** PARTITION-PRUNED MERGE (VERDICT r16 task 3 — the scaladoc's
    * 100 TB write path, now executable): MERGE `delta` into the
    * partitioned parquet table at `basePath` touching ONLY the
    * partitions the delta's rows land in. At lakehouse scale the
    * snapshot-rewrite form of [[mergeInto]] is wrong by construction
    * — you don't rewrite 100 TB for a 1 GB delta — so production
    * merges the TOUCHED SLICE and commits via dynamic partition
    * overwrite (the q249 `zorderMaintain` idiom):
    *
    *  1. touched partition values = `delta[partCol]` distinct
    *     (driver-enumerable — a delta touches few partitions by
    *     construction, or it isn't a delta);
    *  2. read `basePath` restricted to those values — the filter is a
    *     partition-directory prune, untouched partitions are never
    *     READ (PartitionPruneSpec-style `PartitionFilters`, no data
    *     scan);
    *  3. [[mergeInto]] on just that slice (localCheckpointed before
    *     the write — the q103 read-and-overwrite-same-path
    *     discipline);
    *  4. dynamic partition overwrite — only partitions present in
    *     the merged slice are rewritten; untouched partitions' FILES
    *     are never WRITTEN (Round17Spec proves byte-identity);
    *  5. a touched partition the merge EMPTIED (every row deleted) is
    *     removed explicitly — dynamic overwrite only rewrites
    *     partitions present in the new data, so an emptied one would
    *     otherwise keep stale files (same subtlety as
    *     `Layout.zorderMaintain`).
    *
    * Contract: `partCol` must be key-stable — a key's rows stay in
    * one partition across versions (updates may not move rows between
    * partitions; give such changes delete+insert deltas instead), and
    * the delta carries `partCol` for inserts with NON-NULL values
    * (enforced: a null partition value would make the `isin` touched
    * filter silently skip the base's null-partition rows while the
    * dynamic overwrite still replaced their `__HIVE_DEFAULT_PARTITION__`
    * directory — unread rows lost; ADVICE r17). `whenNotMatchedBySource
    * Delete` is evaluated against TOUCHED partitions only — rows of
    * unread partitions can't be compared against the source (the same
    * scoping a partition-predicated lakehouse MERGE has).
    *
    * Commit atomicity: the write is dynamic partition overwrite
    * followed by explicit deletes of partitions the merge emptied —
    * there is NO cross-partition atomic commit. A crash mid-overwrite
    * or between the overwrite and the deletes leaves touched
    * partitions at mixed versions with no recovery marker; the retry
    * discipline is re-run the SAME merge (the delta reapplies
    * idempotently under key-stable `partCol`), unlike
    * `Streams.mergeSink` whose versioned `_CURRENT` pointer gives
    * atomic reads. A table format with a manifest (Delta/Iceberg)
    * is the production answer where torn reads are unacceptable.
    *
    * Returns the touched partition values (diagnostics / spec hook). */
  def mergeIntoPartitioned(s: org.apache.spark.sql.SparkSession,
                           basePath: String, delta: DataFrame,
                           keys: Seq[String], partCol: String,
                           whenMatchedUpdate: Map[String, Column] = Map.empty,
                           whenMatchedDelete: Column = lit(false),
                           insertWhenNotMatched: Boolean = true,
                           whenNotMatchedBySourceDelete: Column = lit(false),
                           whenMatchedUpdateCond: Column = lit(true))
      : Seq[Any] = {
    require(delta.columns.contains(partCol),
      s"delta must carry the partition column $partCol")
    val touched = delta.select(col(partCol)).distinct().collect()
      .map(_.get(0)).toSeq
    // ADVICE r17 (medium): a null partition value poisons the prune —
    // isin(touched) never matches null so the base's null-partition
    // rows are not read into the slice, yet dynamic overwrite would
    // still replace __HIVE_DEFAULT_PARTITION__ with only the delta's
    // rows. Reject rather than lose data.
    require(touched.forall(_ != null),
      s"mergeIntoPartitioned: delta carries a null $partCol value — " +
        "null partition values are not mergeable (the isin prune and " +
        "the hive default partition dir disagree); filter or map them " +
        "to a sentinel first")
    if (touched.isEmpty) return touched
    val base = s.read.parquet(basePath)
    val slice = base.filter(col(partCol).isin(touched: _*))
    val merged = mergeInto(slice, delta, keys, whenMatchedUpdate,
        whenMatchedDelete, insertWhenNotMatched,
        whenNotMatchedBySourceDelete, whenMatchedUpdateCond)
      .localCheckpoint()
    val present = merged.select(col(partCol)).distinct().collect()
      .map(_.get(0)).toSet
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(basePath)
    val conf = s.sparkContext.hadoopConfiguration
    touched.filterNot(present).foreach { v =>
      val dir = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(partCol, String.valueOf(v))
      val p = new org.apache.hadoop.fs.Path(s"$basePath/$dir")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    merged.unpersist(blocking = false)
    touched
  }

  val queries: Seq[Query] = Seq(
    /** q278: DECLARATIVE MERGE [P §3 update=delete+insert as DML] —
      * all three clause kinds in one pass over `orders`: base = keys
      * with o_orderkey % 10 ∉ {0}, source rows are inserts (% 10 = 0,
      * unmatched), updates (% 10 = 3: UPDATE SET * with a +1.00
      * price correction), and deletes (% 10 = 7, op='D'). Oracle =
      * the FULL RECOMPUTE of the next-version snapshot (the q153
      * result-invisible discipline): the merged state must equal the
      * orders table with % 10 = 7 removed and % 10 = 3 re-priced,
      * hash-compared row by row. One shuffle, no broadcast —
      * Round16Spec pins the plan. */
    Query("q_incr_merge_into",
      /** q278 oracle: the full recompute of the post-merge snapshot —
        * the MERGE must be result-invisible against it. The +1.00
        * correction is double IEEE on both engines (CAST keeps DuckDB
        * from planning a DECIMAL add). */
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey % 10 = 3
                     THEN o_totalprice + CAST(1.0 AS DOUBLE)
                     ELSE o_totalprice END AS o_totalprice
         FROM orders
         WHERE o_orderkey % 10 <> 7
         ORDER BY o_orderkey""")((s, d) => {
      val o = orders(s, d).select("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice")
      val base = o.filter(col("o_orderkey") % 10 =!= 0)
      val delta =
        o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("op", lit("I"))
        .unionByName(
          o.filter(col("o_orderkey") % 10 === 3)
            .withColumn("o_totalprice",
              col("o_totalprice") + lit(1.0))
            .withColumn("op", lit("U")))
        .unionByName(
          o.filter(col("o_orderkey") % 10 === 7)
            .withColumn("op", lit("D")))
      mergeInto(base, delta, Seq("o_orderkey"),
          whenMatchedUpdate = updateAll(base),
          whenMatchedDelete = col("s.op") === "D")
        .orderBy("o_orderkey")
    }),

    /** q281: PARTITION-PRUNED MERGE as a declared row (r17, VERDICT
      * r16 task 3) — [[mergeIntoPartitioned]] end-to-end under the
      * oracle hash: `orders` stored partitioned by o_orderpriority
      * (5 partitions), a delta touching exactly TWO of them
      * (updates %10=3 with a +2.50 correction, deletes %10=7,
      * inserts fresh negative keys into 1-URGENT), committed via
      * partition-pruned read + dynamic partition overwrite — the
      * three untouched partitions are never read or written
      * (Round17Spec proves their files byte-identical; this row
      * proves the RESULT equals the full recompute, the q153
      * result-invisible discipline). Store build + merge run once
      * per (session, fixture); appId-isolated scratch. */
    Query("q_incr_merge_partitioned",
      /** q281 oracle: full recompute of the post-merge partitioned
        * store (result-invisible discipline) — deletes and updates only
        * inside the two touched partitions, inserts keyed -(k+1). */
      """SELECT o_orderkey, o_custkey,
                CASE WHEN o_orderkey % 10 = 3
                      AND o_orderpriority IN ('1-URGENT','3-MEDIUM')
                     THEN o_totalprice + CAST(2.5 AS DOUBLE)
                     ELSE o_totalprice END AS o_totalprice,
                o_orderpriority
         FROM orders
         WHERE NOT (o_orderkey % 10 = 7
                    AND o_orderpriority IN ('1-URGENT','3-MEDIUM'))
         UNION ALL
         SELECT -o_orderkey - 1, o_custkey, o_totalprice,
                o_orderpriority
         FROM orders
         WHERE o_orderkey % 10 = 0 AND o_orderpriority = '1-URGENT'
         ORDER BY o_orderkey""")((s, d) => Memos.frame(s, d,
        "mergePart/q281") {
      val root = Memos.scratchDir(s, d, "mergepart")
      val o = orders(s, d).select("o_orderkey", "o_custkey",
        "o_totalprice", "o_orderpriority")
      o.write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(root)
      val touched = Seq("1-URGENT", "3-MEDIUM")
      val inTouched = col("o_orderpriority").isin(touched: _*)
      val delta = o
        .filter(inTouched && col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + lit(2.5))
        .withColumn("op", lit("U"))
        .unionByName(o
          .filter(inTouched && col("o_orderkey") % 10 === 7)
          .withColumn("op", lit("D")))
        .unionByName(o
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderkey") % 10 === 0)
          // fresh keys strictly below the base key space (keys >= 0;
          // plain negation would collide at key 0)
          .withColumn("o_orderkey", -col("o_orderkey") - 1)
          .withColumn("op", lit("I")))
      mergeIntoPartitioned(s, root, delta, Seq("o_orderkey"),
        "o_orderpriority",
        whenMatchedUpdate = updateAll(o),
        whenMatchedDelete = col("s.op") === "D")
      s.read.parquet(root)
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderpriority")
        .orderBy("o_orderkey").localCheckpoint()
    })
  )
}
