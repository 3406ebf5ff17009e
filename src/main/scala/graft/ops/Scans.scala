package graft.ops

import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._

/** §2 group A — scans / sources. Declarative scans so Catalyst pushes
  * predicates and prunes columns down to the parquet reader (verified
  * via .explain: PushedFilters + ReadSchema). At 100 TB these are the
  * difference between reading 2 columns of a few row groups and the
  * whole table. */
object Scans {

  val queries: Seq[Query] = Seq(
    /** q1: projection-only scan — parquet reads just the 3 columns. */
    Query("q_scan_project",
      """SELECT l_orderkey, l_linenumber, l_extendedprice AS price
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("price"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    /** q2: predicate reaches the parquet row-group filter. */
    Query("q_scan_pushdown",
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity AS qty
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-07-01'
         ORDER BY l_orderkey, l_linenumber""")((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("l_quantity").as("qty"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    /** q3: multi-source union of per-table counts (count-star uses
      * parquet footer metadata — no data read). */
    Query("q_source_all_tables",
      ("SELECT * FROM (" +
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
          .map(n => s"SELECT '$n' AS tbl, count(*) AS n FROM $n")
          .mkString(" UNION ALL ") +
        ") t ORDER BY tbl"))((s, d) => {
      // r18 A/B NOTE: union-then-aggregate (one exchange instead of
      // one per table) was tried and REVERTED — it cut warm jobs
      // 21 -> 13 but RAISED the wall 0.63 -> 0.94 s: the single wide
      // union stage schedules every table's scan tasks in one burst
      // and the 10-branch union plan costs more analysis per sample
      // than the AQE stage jobs it saved. Per-table global aggregates
      // are the cheap shape here.
      allNames.map { n =>
        tbl(s, d, n).groupBy().agg(count(lit(1)).as("n"))
          .select(lit(n).as("tbl"), col("n"))
      }.reduce(_ unionByName _).orderBy("tbl")
    })
  )
}
