package graft.incr

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Memos

/** The two rules that maintain state under a delta (i²MapReduce
  * [P §3, §5]; an update is a delete plus an insert). Every incremental
  * row maintains its state through one of them.
  *
  *   - [[signedMerge]], for invertible state (counts, exact sums,
  *     moments): state = preserved + partials(inserts) −
  *     partials(deletes), one shuffle on the keys; the caller's live
  *     predicate drops the keys whose state vanished.
  *   - [[groupRecompute]] / [[groupRecomputeMemo]], for state that
  *     cannot be inverted (max, min, bit_or, windows, per-group
  *     ranks): untouched groups pass through from the stored state and
  *     touched groups are derived again from their post-delta rows. */
object Maintain {

  /** The change-row flag: `op` '+' is an insert and '-' a delete;
    * `m` comes out signed. Any other `op` value (null included) fails
    * the query when the row is read. */
  def signedBy(op: Column)(m: Column): Column =
    when(op === "+", m).when(op === "-", -m)
      .otherwise(raise_error(concat(lit("change-row op must be '+' or '-', got "),
        coalesce(op.cast("string"), lit("null")))))

  /** Signed rule: unions the `plus` partials with the `minus` partials
    * (each measure negated), groups by `keys`, sums every measure under
    * its own name, and keeps the keys whose merged row satisfies `live`
    * (for example `col("n") > 0`, so a key whose live count reaches 0
    * vanishes; `lit(true)` keeps every key). The inputs are unioned in
    * the order given, `plus` first. */
  def signedMerge(keys: Seq[String], measures: Seq[String],
                  plus: Seq[DataFrame], minus: Seq[DataFrame] = Nil)
                 (live: Column): DataFrame = {
    val cols = keys ++ measures
    val signed = plus.map(_.select(cols.map(col): _*)) ++
      minus.map(_.select(keys.map(col) ++ measures.map(m => (-col(m)).as(m)): _*))
    signed.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(sum(col(measures.head)).as(measures.head),
        measures.tail.map(m => sum(col(m)).as(m)): _*)
      .filter(live)
  }

  /** Touched-group rule: any per-group derivation whose output depends
    * only on its own group's rows is maintained by passing the
    * untouched groups through (`derive` over the base rows outside
    * `affected`; production reads them back from the partials store)
    * and deriving the touched groups again from their post-delta rows.
    * `affected` is the delta's group-key set: delta-sized, so it is
    * broadcast and the corpus never shuffles for the two joins. */
  def groupRecompute(base: DataFrame, post: DataFrame,
                     groupCols: Seq[String], affected: DataFrame)
                    (derive: DataFrame => DataFrame): DataFrame = {
    val aff = broadcast(affected)
    derive(base.join(aff, groupCols, "left_anti"))
      .unionByName(derive(post.join(aff, groupCols, "left_semi")))
  }

  /** [[groupRecompute]] over STORED base state: `derive(base)` is built
    * once per (session, fixture, `label`) and persisted; afterwards its
    * untouched groups are served verbatim (anti-join, never derived
    * again) and only the touched groups derive from post-delta rows.
    * `derive` must emit the group columns. */
  def groupRecomputeMemo(s: SparkSession, d: String, label: String,
                         base: DataFrame, post: DataFrame,
                         groupCols: Seq[String], affected: DataFrame)
                        (derive: DataFrame => DataFrame): DataFrame = {
    val baseP = Memos.frame(s, d, s"incr/$label") {
      val p = derive(base).persist()
      p.count(); p
    }
    val aff = broadcast(affected)
    baseP.join(aff, groupCols, "left_anti")
      .unionByName(derive(post.join(aff, groupCols, "left_semi")))
  }
}
