package graft.ops

import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 group G — scalar function surface (string / datetime / math /
  * array / json / struct+map). All built-in `functions._` — codegen'd,
  * no UDFs in the hot path. Oracle SQL is written in DuckDB's own
  * dialect where names differ (len/list_extract/json_extract_string);
  * only the results must match, not the SQL text. */
object Scalars {

  val queries: Seq[Query] = Seq(
    /** q35: string functions over part. */
    Query("q_fn_string",
      """SELECT p_partkey,
         upper(p_type) AS up, lower(p_brand) AS lo,
         trim('  ' || p_name || '  ') AS trimmed,
         substr(p_name, 1, 5) AS pre5,
         CAST(length(p_name) AS BIGINT) AS len,
         p_brand || '/' || p_type AS cat,
         replace(p_type, ' ', '_') AS rep,
         CAST(len(string_split(p_type, ' ')) AS BIGINT) AS nwords
         FROM part ORDER BY p_partkey""")((s, d) => {
      part(s, d)
        .select(col("p_partkey"),
          upper(col("p_type")).as("up"),
          lower(col("p_brand")).as("lo"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
          substring(col("p_name"), 1, 5).as("pre5"),
          length(col("p_name")).cast("bigint").as("len"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("cat"),
          regexp_replace(col("p_type"), " ", "_").as("rep"),
          size(split(col("p_type"), " ")).cast("bigint").as("nwords"))
        .orderBy("p_partkey")
    }),

    /** q36: datetime functions over orders. */
    Query("q_fn_datetime",
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(day(o_orderdate) AS BIGINT) AS dy,
         CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
         date_trunc('month', o_orderdate) AS mstart,
         CAST(CAST(o_orderdate AS DATE) + INTERVAL 7 DAY AS TIMESTAMP) AS plus7,
         CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
         FROM orders ORDER BY o_orderkey""")((s, d) => {
      orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("yr"),
          month(col("o_orderdate")).cast("bigint").as("mo"),
          dayofmonth(col("o_orderdate")).cast("bigint").as("dy"),
          quarter(col("o_orderdate")).cast("bigint").as("qtr"),
          date_trunc("month", col("o_orderdate")).as("mstart"),
          date_add(col("o_orderdate"), 7).cast("timestamp").as("plus7"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .cast("bigint").as("days_since"))
        .orderBy("o_orderkey")
    }),

    /** q37: math functions. sqrt is IEEE-correctly-rounded (identical
      * across engines); ln is exercised and oracle-checked on this
      * fixed dataset. */
    Query("q_fn_math",
      """SELECT l_orderkey, l_linenumber,
         abs(l_quantity - 25) AS a,
         CAST(floor(l_extendedprice) AS BIGINT) AS fl,
         CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
         CAST(l_linenumber % 3 AS BIGINT) AS md,
         pow(2, l_linenumber) AS pw,
         sqrt(l_extendedprice) AS sq,
         greatest(l_quantity, l_discount * 100) AS gr,
         least(l_quantity, l_tax * 100) AS le
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25).as("a"),
          floor(col("l_extendedprice")).cast("bigint").as("fl"),
          ceil(col("l_extendedprice")).cast("bigint").as("ce"),
          (col("l_linenumber") % 3).cast("bigint").as("md"),
          pow(lit(2), col("l_linenumber")).as("pw"),
          sqrt(col("l_extendedprice")).as("sq"),
          greatest(col("l_quantity"), col("l_discount") * 100).as("gr"),
          least(col("l_quantity"), col("l_tax") * 100).as("le"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    /** q38: array functions over the 64-dim embedding column. The
      * element sum is an explicit left-assoc double chain — identical
      * op order on both engines. */
    Query("q_fn_array",
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(len(embedding) AS BIGINT) AS n,
         CAST(embedding[1] AS DOUBLE) AS e1,
         CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
           + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE) AS s4,
         CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx,
         CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn
         FROM embeddings ORDER BY vec_id""")((s, d) => {
      val e = (i: Int) => element_at(col("embedding"), i).cast("double")
      embeddings(s, d)
        .select(col("vec_id"), col("label").cast("bigint").as("label"),
          size(col("embedding")).cast("bigint").as("n"),
          e(1).as("e1"),
          (e(1) + e(2) + e(3) + e(4)).as("s4"),
          array_max(col("embedding")).cast("double").as("mx"),
          array_min(col("embedding")).cast("double").as("mn"))
        .orderBy("vec_id")
    }),

    /** q39: JSON extraction from events.props. */
    Query("q_fn_json",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         count(*) AS n
         FROM events GROUP BY k ORDER BY k""")((s, d) => {
      events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    }),

    /** q40: struct/map build + field read-back (multimodal columns
      * mandate [N]) — output flattened scalars. */
    Query("q_fn_struct_map",
      """SELECT doc_id, lang AS slang, n_chars AS sn, source AS msrc
         FROM documents ORDER BY doc_id""")((s, d) => {
      documents(s, d)
        .withColumn("s", struct(col("lang").as("lang"), col("n_chars").as("n")))
        .withColumn("m", map(lit("src"), col("source")))
        .select(col("doc_id"),
          col("s.lang").as("slang"),
          col("s.n").as("sn"),
          element_at(col("m"), "src").as("msrc"))
        .orderBy("doc_id")
    })
  )
}
