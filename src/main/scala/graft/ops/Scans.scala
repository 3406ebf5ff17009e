package graft.ops

import org.apache.spark.sql.functions._
import graft.engine.{Query, Memos}
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 group A — scans / sources. Declarative scans so Catalyst pushes
  * predicates and prunes columns down to the parquet reader (verified
  * via .explain: PushedFilters + ReadSchema). At 100 TB these are the
  * difference between reading 2 columns of a few row groups and the
  * whole table. */
object Scans {


  /** q273's dialect-common text (Spark executes it; DuckDB is the
    * oracle on the SAME string). */
  private val recursiveCteSql =
    """WITH RECURSIVE months AS (
         SELECT TIMESTAMP '1995-01-01' AS m
         UNION ALL
         SELECT m + INTERVAL 1 MONTH FROM months
         WHERE m < TIMESTAMP '2001-12-01'
       )
       SELECT m, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
              CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS revenue_cents
       FROM months LEFT JOIN orders
         ON date_trunc('month', o_orderdate) = m
       GROUP BY m ORDER BY m"""

  /** q189's TPC-H Q3-shaped text: the oracle and the Spark SQL the
    * row runs. */
  private val sqlTextFrontendSql =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(CAST(sum(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(18,2)) *
             CAST(ROUND(1 - l_discount, 4) AS DECIMAL(8,4)))
             AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
           AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey
         LIMIT 10"""

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
    }),

    /** q179: ORC SOURCE as a declared oracle row — completes the
      * source-format matrix (parquet everywhere, CSV/JSON q156,
      * hive-partitioned q158, bucketed tables q157) with Spark's
      * other first-class columnar format. Same contract as q156:
      * supplier and nation round-trip through ORC (explicit schemas,
      * mode OVERWRITE, appId-isolated scratch), then the
      * join-aggregate runs over the ORC reads while the oracle reads
      * the parquet originals — any ORC encode/decode defect (type
      * mapping, decimal/double round-trip, nulls) flips the hash.
      * Doubles round-trip bit-exact through ORC's IEEE encoding;
      * money still aggregates in exact decimal (Dec contract). */
    Query("q_source_orc",
      // q179's oracle reads the parquet originals — the Spark side must
      // produce identical values through the ORC round-trip.
      """SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS acctbal_sum,
           min(s_name) AS first_supplier
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")((s, d) => {
      val scratch = Memos.scratchDir(s, d, "orc")
      val sup = supplier(s, d)
      val nat = nation(s, d)
      sup.write.mode("overwrite").orc(s"$scratch/supplier_orc")
      nat.write.mode("overwrite").orc(s"$scratch/nation_orc")
      val supBack = s.read.schema(sup.schema).orc(s"$scratch/supplier_orc")
      val natBack = s.read.schema(nat.schema).orc(s"$scratch/nation_orc")
      supBack.join(broadcast(natBack),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          dbl(sum(dec2(col("s_acctbal")))).as("acctbal_sum"),
          min(col("s_name")).as("first_supplier"))
        .orderBy("n_name")
    }),

    /** q197: RAW TEXT-LINE SOURCE — the log-ingestion path that
      * completes the source-format matrix (parquet, CSV/JSON q156,
      * ORC q179, hive-partitioned q158, bucketed q157): nation
      * round-trips as pipe-delimited TEXT LINES, read back with
      * spark.read.text (one `value` column) and parsed with
      * split()/element_at — the classic raw-log ETL shape where the
      * PARSER, not a format reader, owns the schema. The
      * join-aggregate runs over the parsed lines while the oracle
      * reads the parquet original: any quoting/splitting/coercion
      * defect flips the hash. appId-isolated scratch, mode
      * OVERWRITE (q156 convention). */
    Query("q_source_text_lines",
      // q197's oracle reads the parquet original — the text write,
      // line parse and type coercion must be result-invisible.
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_nation,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""")((s, d) => {
      val scratch = s"${Memos.scratchDir(s, d, "scans")}/nation_txt"
      val nat = nation(s, d)
      nat.select(concat_ws("|", col("n_nationkey"), col("n_name"),
          col("n_regionkey")).as("value"))
        .write.mode("overwrite").text(scratch)
      val parsed = s.read.text(scratch)
        .select(split(col("value"), "\\|").as("f"))
        .select(element_at(col("f"), 1).cast("int").as("n_nationkey"),
          element_at(col("f"), 2).as("n_name"),
          element_at(col("f"), 3).cast("int").as("n_regionkey"))
      parsed.join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          min(col("n_name")).as("first_nation"),
          sum(col("n_nationkey")).as("key_sum"))
        .orderBy("r_name")
    }),

    /** q156: CSV + JSON source surface as a DECLARED,
      * oracle-checked query, not a unit-test-only one. The dims round-trip
      * through both text formats BEFORE the join-aggregate — header
      * CSV for nation, line-JSON for region, explicit schemas (the
      * production pattern: never infer on a 100 TB lake) — so any
      * read-path defect (quoting, null encoding, type coercion)
      * breaks the oracle hash, which is computed from the parquet
      * originals. Scratch is a fixed per-fixture temp dir, mode
      * OVERWRITE: repeated invocations never accumulate files. Dims
      * only — at scale the text-format pattern is identical, just
      * partitioned; nothing here assumes a single file. */
    Query("q_source_csv_json",
      // q156's oracle reads the parquet originals — the Spark side must
      // produce identical values through the CSV/JSON round-trip.
      """SELECT r_name,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_nation
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""")((s, d) => {
      val scratch = Memos.scratchDir(s, d, "srcmix")
      val nat = nation(s, d)
      val reg = region(s, d)
      nat.write.mode("overwrite").option("header", "true")
        .csv(s"$scratch/nation_csv")
      reg.write.mode("overwrite").json(s"$scratch/region_json")
      val natBack = s.read.option("header", "true").schema(nat.schema)
        .csv(s"$scratch/nation_csv")
      val regBack = s.read.schema(reg.schema).json(s"$scratch/region_json")
      natBack.join(broadcast(regBack),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          min("n_name").as("first_nation"))
        .orderBy("r_name")
    }),

    /** q215: SCHEMA-EVOLUTION READ [T source surface] — the lake
      * reality the source matrix (q156 CSV/JSON, q179 ORC, q197 text,
      * q158 hive-partitioned, q157 bucketed) still lacked: two
      * parquet GENERATIONS of the same table under one root (gen=1
      * writes two columns, gen=2 adds n_regionkey), read back with
      * mergeSchema + partition discovery. Old-generation rows surface
      * the added column as NULL; the aggregate pins per-generation
      * row/null/key counts while the ORACLE derives the same numbers
      * from the ORIGINAL table — any merge, discovery, or coercion
      * defect flips the hash. appId-isolated scratch, mode OVERWRITE
      * (q156 convention). */
    Query("q_scan_schema_evolution",
      """SELECT CAST(CASE WHEN n_nationkey < 13 THEN 1 ELSE 2 END AS BIGINT)
                  AS gen,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(*) FILTER (n_nationkey >= 13) AS BIGINT)
                  AS n_with_region,
                CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
                min(n_name) AS first_name
         FROM nation GROUP BY 1 ORDER BY gen""")((s, d) => {
      val scratch = s"${Memos.scratchDir(s, d, "scans")}/evolve"
      val nat = nation(s, d)
      nat.filter(col("n_nationkey") < 13)
        .select("n_nationkey", "n_name")
        .write.mode("overwrite").parquet(s"$scratch/gen=1")
      nat.filter(col("n_nationkey") >= 13)
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").parquet(s"$scratch/gen=2")
      s.read.option("mergeSchema", "true").parquet(scratch)
        .groupBy(col("gen").cast("long").as("gen"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("n_regionkey")).as("n_with_region"),
          sum(col("n_nationkey")).as("key_sum"),
          min(col("n_name")).as("first_name"))
        .orderBy("gen")
    }),

    /** q189: SQL-TEXT FRONT-END — the other entry point a reference
      * user expects: a QUERY STRING over the fixture tables, run by
      * `runSql` on the oracle's own text (TPC-H Q3 shape adapted to
      * the fixture schema: top-10 'BUILDING' orders by unshipped
      * revenue around a date cut). The string goes through the full
      * parser → analyzer → Catalyst path — a parser or analyzer
      * regression fails this row even when the DataFrame-API rows
      * stay green. Determinism: the Dec idiom inline in SQL (exact
      * decimal revenue, one double cast), LIMIT only after a total
      * order with the unique orderkey tiebreak (rule D6). */
    Query("q_sql_text_frontend", sqlTextFrontendSql)((s, d) =>
      runSql(s, d, sqlTextFrontendSql)),

    /** q273: RECURSIVE CTE calendar spine (Spark-4 surface row, like
      * VARIANT q247 / collation q248) — the warehouse pattern SQL
      * recursion exists for: generate the complete month dimension by
      * UNION ALL self-reference (84 iterations, far under Spark's
      * recursion-level limit; Spark 4.x executes it as a UnionLoop
      * plan) and LEFT JOIN facts onto the spine so ZERO-ACTIVITY
      * months survive with (0, NULL) — the rows a facts-only groupBy
      * structurally cannot produce (the fixture's 2001-09..12 tail is
      * exactly such months, so the hash pins the retention). One
      * dialect-common text for both engines, the TpcH discipline;
      * UNION-distinct recursion is not yet in Spark and is documented
      * out of scope. */
    Query("q_sql_recursive_cte", recursiveCteSql)((s, d) =>
      runSql(s, d, recursiveCteSql))
  )
}
