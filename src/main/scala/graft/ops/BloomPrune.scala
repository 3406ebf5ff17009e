package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** Bloom-filter join pruning — the manual form of Spark's runtime
  * row-group filtering: build a Bloom filter over the DIM side's join
  * keys (driver-side, via `DataFrameStatFunctions.bloomFilter`), ship
  * it to the fact scan as a broadcast predicate, and drop the bulk of
  * non-matching fact rows BEFORE the join shuffle. False positives
  * are harmless (the exact join still runs after); false negatives
  * are impossible, so results are exactly the plain join's.
  *
  * Scale shape: the win is shuffle-volume ∝ selectivity. A selective
  * dim (here: one nation's suppliers) prunes the fact table at the
  * scan, which is the difference between shuffling 100 TB and
  * shuffling the 4% that survives. At cluster scale the same filter
  * rides the broadcast variable; nothing here is driver-loop-y — one
  * `bloomFilter()` aggregation job + one filtered join. */
object BloomPrune {

  /** The filter ships as BYTES (BloomFilter's own wire format — its
    * Java serialization drops the bit array) and rehydrates once per
    * executor via a transient lazy. */
  private class MightContain(bytes: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      extends (Long => Boolean) with Serializable {
    @transient private lazy val bf =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes.value))
    def apply(k: Long): Boolean = bf.mightContainLong(k)
  }

  /** Inner-join fact ⋈ dim on `factKey = dimKey`, with the fact side
    * pre-pruned by a Bloom filter built from dim's keys. Exactly
    * equal to the plain join (the exact join runs after the prune).
    * When the two key names are EQUAL the join uses the USING form
    * (one key column in the output); an unattached col==col condition
    * would be an ambiguous reference.
    *
    * EAGERNESS NOTE: `dim` is materialized (localCheckpoint) AT CALL
    * TIME — the emptiness guard and the Bloom build are actions, and
    * sharing one materialization with the returned join is what keeps
    * a non-trivial dim pipeline from running three times. A caller
    * that builds this join but never executes it still pays dim's
    * computation once. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame,
                      factKey: String, dimKey: String,
                      expectedDimKeys: Long = 100000L,
                      fpp: Double = 0.03): DataFrame = {
    // Materialize dim ONCE: it is referenced three times (emptiness
    // guard, filter build, the join itself), and for a non-trivial
    // dim pipeline re-evaluation would triple its cost. localCheckpoint
    // is eager, so the guard and filter build read computed blocks, and
    // the lazily-returned join does too (blocks are cleaned when the
    // checkpointed RDD is GC'd).
    val dimM = dim.localCheckpoint()
    def joined(f: DataFrame): DataFrame =
      if (factKey == dimKey) f.join(dimM, Seq(factKey))
      else f.join(dimM, dimM(dimKey) === f(factKey))
    // Spark's bloom_filter_agg yields NULL over zero rows and
    // stat.bloomFilter NPEs on it; an empty dim means an empty join.
    if (dimM.isEmpty) return joined(fact)
    val bf = dimM.stat.bloomFilter(dimKey, expectedDimKeys, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val sp = fact.sparkSession
    val bcast = sp.sparkContext.broadcast(bos.toByteArray)
    val mightContain = udf(new MightContain(bcast))
    joined(fact.filter(mightContain(col(factKey))))
  }

  val queries: Seq[Query] = Seq(
    /** q94: Bloom-pruned selective join — lineitem joined to a ~4%
      * supplier subset: the Bloom filter prunes the fact scan before
      * the shuffle; the oracle is the plain join (pruning must be
      * invisible in the result). */
    Query("q_join_bloom_pruned",
      """SELECT s_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_suppkey % 25 = 3
         GROUP BY s_name ORDER BY s_name""")((s, d) => {
      val dim = supplier(s, d)
        .filter(col("s_suppkey") % 25 === 3)
        .select(col("s_suppkey"), col("s_name"))
      bloomPrunedJoin(lineitem(s, d), dim, "l_suppkey", "s_suppkey")
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"), sumd2(col("l_extendedprice")).as("rev"))
        .orderBy("s_name")
    })
  )
}
