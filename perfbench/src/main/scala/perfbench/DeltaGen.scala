package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A generated delta: rows to insert and rows to delete. An update is
  * counted as one delete plus one insert. */
final case class Delta(inserts: DataFrame, deletes: DataFrame)

/** Seeded delta generator. A delta of fraction `f` deletes about f/2
  * of the base rows and inserts about f/2 as many new ones. Selection
  * hashes (seed, salt, row key) into one of a million buckets, so the
  * same seed always picks the same rows whatever the partitioning.
  *
  *  - deletes are base rows, chosen under the salt "del";
  *  - inserts are base rows chosen under the salt "ins", re-keyed by
  *    `fresh` into keys the base does not hold.
  *
  * Inserts and deletes are therefore disjoint by key. */
object DeltaGen {
  val Buckets = 1000000L

  /** Bucket in [0, Buckets) of each row, from the seed, a salt and the
    * row's key columns. */
  def bucket(seed: Long, salt: String, keys: Seq[Column]): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(Buckets))

  /** Rows of `base` whose bucket falls under `share` of the range. */
  def pick(base: DataFrame, keys: Seq[String], seed: Long, salt: String,
           share: Double): DataFrame = {
    val cut = math.round(share * Buckets)
    base.filter(bucket(seed, salt, keys.map(col)) < lit(cut))
  }

  def generate(base: DataFrame, keys: Seq[String], fraction: Double,
               seed: Long, fresh: DataFrame => DataFrame): Delta =
    Delta(
      inserts = fresh(pick(base, keys, seed, "ins", fraction / 2)),
      deletes = pick(base, keys, seed, "del", fraction / 2))

  /** The post-delta input: base minus the deleted keys, plus inserts. */
  def applyTo(base: DataFrame, d: Delta, keys: Seq[String]): DataFrame =
    base.join(d.deletes.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(d.inserts)
}
