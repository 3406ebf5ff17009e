package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 row 55 — the UDAF surface via the public typed
  * Aggregator[IN, BUF, OUT] API: quantity-weighted mean price.
  *
  * The buffer accumulates exact BigDecimal sums (scale ≤ 4, well
  * inside the encoder's Decimal(38,18)), so partial aggregation and
  * merge order can't perturb the result; the single double division
  * happens once in finish() and matches the oracle's
  * CAST(..AS DOUBLE)/CAST(..AS DOUBLE) bitwise. */
case class WIn(flag: String, p: BigDecimal, q: BigDecimal)
case class WBuf(pq: BigDecimal, q: BigDecimal)

object WeightedAvgAgg extends Aggregator[WIn, WBuf, Double] {
  def zero: WBuf = WBuf(BigDecimal(0), BigDecimal(0))
  def reduce(b: WBuf, a: WIn): WBuf = WBuf(b.pq + a.p * a.q, b.q + a.q)
  def merge(b1: WBuf, b2: WBuf): WBuf = WBuf(b1.pq + b2.pq, b1.q + b2.q)
  def finish(r: WBuf): Double =
    // parse-from-string is correctly rounded for any magnitude;
    // BigDecimal.doubleValue's fast path double-rounds past 2^53
    // unscaled (see graft.engine.Dec scaladoc)
    if (r.q.signum == 0) 0.0
    else java.lang.Double.parseDouble(r.pq.bigDecimal.toPlainString) /
      java.lang.Double.parseDouble(r.q.bigDecimal.toPlainString)
  def bufferEncoder: Encoder[WBuf] = Encoders.product[WBuf]
  def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object Udaf {
  val queries: Seq[Query] = Seq(
    Query("q_udaf_weighted_avg",
      """SELECT l_returnflag,
         CAST(sum(CAST(ROUND(l_extendedprice,2) AS DECIMAL(18,2))
                  * CAST(ROUND(l_quantity,2) AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(sum(CAST(ROUND(l_quantity,2) AS DECIMAL(18,2))) AS DOUBLE) AS wavg
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")((s, d) => {
      import s.implicits._
      lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          dec2(col("l_extendedprice")).as("p"),
          dec2(col("l_quantity")).as("q"))
        .as[WIn]
        .groupByKey(_.flag)
        .agg(WeightedAvgAgg.toColumn.name("wavg"))
        .toDF("l_returnflag", "wavg")
        .orderBy("l_returnflag")
    })
  )
}
