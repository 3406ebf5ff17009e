package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic SCALE-OUT of a fixture directory: writes `factor`
  * key-shifted copies of every scaled table (the dimension tables
  * `region`/`nation` stay as-is, like TPC-H), preserving every
  * property the declared queries key on:
  *
  *   - FOREIGN KEYS shift consistently (copy c of `lineitem` points at
  *     copy c of `orders`/`part`/`supplier`), so join cardinality
  *     ratios and group sizes per key are IDENTICAL to the source —
  *     the data is `factor`x more of the same world, not a denser one.
  *   - Every key offset is divisible by 10, so the `% 10` delta-split
  *     classes the incremental rows declare (base / insert / delete)
  *     keep their proportions exactly.
  *   - TIMESTAMPS are NOT shifted: per-window event density genuinely
  *     grows `factor`x — the stress the band/grid/interval proximity
  *     joins and streaming windows must survive (a time-shifted copy
  *     would leave per-window density flat and hide quadratic blowups,
  *     which is the whole point of the scale run).
  *   - DOCUMENT TEXT is NOT perturbed: every doc gains `factor-1`
  *     exact clones, so dedup group sizes, LSH bucket occupancy and
  *     the mega-bucket quarantine all scale up — the boilerplate-at-
  *     scale shape a 100 TB corpus actually has.
  *   - Copy 0 is the source rows VERBATIM, so probe-by-literal-id
  *     queries (vec_id < 5 etc.) keep their probes.
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <outDir> [factor]
  * Entirely deterministic — no RNG, no timestamps-of-now. */
object GenScale {
  // Key offsets per copy — all divisible by 10 and far above the
  // source key ranges (max source key at sf0.1 is o_orderkey ~6e5).
  private val OffCust = 1000000L
  private val OffSupp = 1000000L
  private val OffPart = 1000000L
  private val OffOrd = 10000000L
  private val OffEvent = 10000000L
  private val OffUser = 1000000L
  private val OffDoc = 1000000L
  private val OffVec = 100000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.engine.Sessions.create(
      s"local[${Runtime.getRuntime.availableProcessors}]")
    mainWith(spark, src, out, factor)
    spark.stop()
  }

  /** The generator body on a caller-supplied session (in-process
    * callers: GenScaleSpec). */
  def mainWith(spark: SparkSession, src: String, out: String,
               factor: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    /** `factor` copies of `df`, with the named long/int key columns
      * shifted by c*offset in copy c (copy 0 verbatim).
      *
      * GUARD (ADVICE r13): every shifted column's observed maximum
      * must sit strictly BELOW its per-copy offset — otherwise copies
      * collide (running GenScale on an already-scaled directory, or on
      * a fixture whose keys outgrew the constants, would silently
      * break the key-uniqueness / FK-consistency invariants the
      * scale-run oracles rely on). One cheap agg per table; negative
      * keys are rejected too (a negative key in copy 0 could collide
      * with copy-boundary keys after shifting). */
    def scaled(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      if (factor > 1 && shifts.nonEmpty) {
        val aggs = shifts.flatMap { case (k, _) =>
          Seq(max(col(k)).cast("long"), min(col(k)).cast("long")) }
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        shifts.zipWithIndex.foreach { case ((k, off), i) =>
          if (!r.isNullAt(2 * i)) {
            val mx = r.getLong(2 * i); val mn = r.getLong(2 * i + 1)
            require(mx < off && mn >= 0L,
              s"GenScale: $k range [$mn, $mx] escapes [0, $off) — " +
                "source already scaled or offsets too small; refusing " +
                "to write colliding copies")
          }
        }
      }
      (0 until factor).map { c =>
        shifts.foldLeft(df) { case (d, (k, off)) =>
          d.withColumn(k, (col(k) + lit(c * off)).cast(d.schema(k).dataType))
        }
      }.reduce(_ unionByName _)
    }

    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[genscale] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    write("region", read("region"))
    write("nation", read("nation"))
    write("customer", scaled(read("customer"), "c_custkey" -> OffCust))
    write("supplier", scaled(read("supplier"), "s_suppkey" -> OffSupp))
    write("part", scaled(read("part"), "p_partkey" -> OffPart))
    write("orders", scaled(read("orders"),
      "o_orderkey" -> OffOrd, "o_custkey" -> OffCust))
    write("lineitem", scaled(read("lineitem"),
      "l_orderkey" -> OffOrd, "l_partkey" -> OffPart,
      "l_suppkey" -> OffSupp))
    write("events", scaled(read("events"),
      "event_id" -> OffEvent, "user_id" -> OffUser))
    write("documents", scaled(read("documents"), "doc_id" -> OffDoc))
    write("embeddings", scaled(read("embeddings"), "vec_id" -> OffVec))
  }
}
