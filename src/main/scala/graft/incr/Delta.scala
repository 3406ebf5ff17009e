package graft.incr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A signed change set over one table — i²MapReduce's delta input
  * [P §3]: rows flagged insert or delete, where an update is a delete
  * plus an insert. It is `rows` and three predicates over them:
  * `inBase` (the row is in the pre-delta table), `inserted` (the delta
  * inserts it; no base row is inserted) and `deleted` (the delta
  * deletes it; only base rows can be deleted). Each part is ONE filter
  * over `rows`, followed by the derivation that [[map]] added:
  *
  *   - [[base]]: the pre-delta table;
  *   - [[inserts]] and [[deletes]] (a subset of base);
  *   - [[post]]: base minus deletes, plus inserts;
  *   - [[touched]]: inserts plus deletes, and [[touchedKeys]] its
  *     distinct group keys.
  *
  * The parts feed [[Maintain]]: partials of `base` and `inserts` (plus)
  * and of `deletes` (minus) to the signed rule; `base`, `post` and
  * `touchedKeys(groupCols)` to the touched-group rule. */
final class Delta private (rows: DataFrame, inBase: Column, inserted: Column,
                           deleted: Column, derive: DataFrame => DataFrame) {
  private val deletedBase = inBase && deleted

  def base: DataFrame = part(inBase)
  def inserts: DataFrame = part(inserted)
  def deletes: DataFrame = part(deletedBase)
  def post: DataFrame = part((inBase && !deleted) || inserted)
  def touched: DataFrame = part(inserted || deletedBase)

  /** The distinct `cols` of [[touched]]: the touched-group rule's
    * affected set. */
  def touchedKeys(cols: String*): DataFrame =
    touched.select(cols.map(col): _*).distinct()

  /** The same change set with the derivation `f` applied to every part:
    * each part of the result is `f` of this one's. `f` is row-local
    * (hashing, tokenizing, a derived group key) or the partials the
    * signed rule merges. */
  def map(f: DataFrame => DataFrame): Delta =
    new Delta(rows, inBase, inserted, deleted, derive.andThen(f))

  private def part(p: Column): DataFrame = derive(rows.filter(p))
}

object Delta {
  def apply(rows: DataFrame, inBase: Column, inserted: Column,
            deleted: Column): Delta =
    new Delta(rows, inBase, inserted, deleted, identity)

  /** The registry's shared change set on an integer key: rows with
    * `key % 10 = 0` are the inserts, every other row is base, and the
    * base rows with `key % 10 = 1` are the deletes — so the post-delta
    * table is `key % 10 <> 1`, as the oracles write it. */
  def tenWay(rows: DataFrame, key: String): Delta = {
    val k = col(key) % 10
    Delta(rows, k =!= 0, k === 0, k === 1)
  }

  /** A change set at a cut: the rows where `inBase` holds (a time
    * before the cut) are base and the others are inserts; the base rows
    * with `key % 10 = 1` are the deletes, as in [[tenWay]]. */
  def cut(rows: DataFrame, inBase: Column, key: String): Delta =
    Delta(rows, inBase, !inBase, col(key) % 10 === 1)
}
