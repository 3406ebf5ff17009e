package graft.ops

import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.DamerauLevenshtein

/** §2 group G — scalar function surface (string / datetime / math /
  * array / json / struct+map). All built-in `functions._` — codegen'd,
  * no UDFs in the hot path. Oracle SQL is written in DuckDB's own
  * dialect where names differ (len/list_extract/json_extract_string);
  * only the results must match, not the SQL text. */
object Scalars {


  /** damerau_levenshtein(a, b) as a Column — wraps the codegen
    * Expression ([[graft.functions.DamerauLevenshtein]]). */
  def damerauLev(a: Column, b: Column): Column =
    Bridge.column(DamerauLevenshtein(
      Bridge.expression(a), Bridge.expression(b)))

  private[ops] val cutoff = "2024-01-20"

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
    }),

    /** q97: null-handling scalar surface — coalesce / nullif /
      * null-safe equality (Spark `<=>` ↔ SQL IS NOT DISTINCT FROM) /
      * null-aware counting. The fixture tables are fully non-null, so
      * nulls are manufactured deterministically with nullif. */
    Query("q_fn_null",
      """SELECT event_id,
           coalesce(v1, -1) AS v1_or_neg1,
           v1 IS NOT DISTINCT FROM v2 AS null_safe_eq,
           v1 = v2 AS plain_eq,
           CASE WHEN v1 IS NULL THEN 'NULL' ELSE 'VAL' END AS tag
         FROM (
           SELECT event_id,
             nullif(CAST(floor(value) AS BIGINT), 50) AS v1,
             nullif(CAST(floor(value / 2) AS BIGINT), 25) AS v2
           FROM events)
         ORDER BY event_id""")((s, d) => {
      val v1 = nullif(floor(col("value")).cast("bigint"), lit(50L))
      val v2 = nullif(floor(col("value") / 2).cast("bigint"), lit(25L))
      events(s, d)
        .select(col("event_id"), v1.as("v1"), v2.as("v2"))
        .select(col("event_id"),
          coalesce(col("v1"), lit(-1L)).as("v1_or_neg1"),
          (col("v1") <=> col("v2")).as("null_safe_eq"),
          (col("v1") === col("v2")).as("plain_eq"),
          when(col("v1").isNull, lit("NULL")).otherwise(lit("VAL")).as("tag"))
        .orderBy("event_id")
    }),

    /** q128: calendar datetime surface beyond q36 — month arithmetic
      * (add_months clamps to month end on both engines), last_day,
      * ISO week number, and Monday-based weekday (Spark `weekday` ==
      * DuckDB `isodow − 1`; the default dayofweek numberings disagree
      * between engines, so the portable form is pinned here). */
    Query("q_fn_datetime2",
      """SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
           CAST(isodow(o_orderdate) - 1 AS BIGINT) AS wd_mon0,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start
         FROM orders ORDER BY o_orderkey""")((s, d) => {
      orders(s, d)
        .select(col("o_orderkey"),
          add_months(col("o_orderdate"), 3).cast("date").as("plus3m"),
          last_day(col("o_orderdate")).as("month_end"),
          weekofyear(col("o_orderdate")).cast("bigint").as("iso_week"),
          weekday(col("o_orderdate")).cast("bigint").as("wd_mon0"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("q_start"))
        .orderBy("o_orderkey")
    }),
    /** q201: TRANSPOSITION-AWARE EDIT DISTANCE — true (unrestricted)
      * Damerau–Levenshtein as a NATIVE CODEGEN EXPRESSION
      * ([[graft.functions.DamerauLevenshtein]]), the tier-(b)
      * extension path on a scalar Spark lacks (it ships only
      * `levenshtein`): fuzzy-matching every nation-name pair, with
      * the builtin Levenshtein alongside so the hash also pins
      * DL ≤ Lev row by row. Integer-exact; dim×dim (25²) input, but
      * the expression itself is row-local O(|a|·|b|) — at 100 TB it
      * rides the producing join with zero added shuffle. */
    Query("q_fn_damerau",
      """SELECT a.n_nationkey AS k1, b.n_nationkey AS k2,
           CAST(damerau_levenshtein(a.n_name, b.n_name) AS BIGINT) AS dl,
           CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS lev
         FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
         ORDER BY k1, k2""")((s, d) => {
      val a = nation(s, d).select(col("n_nationkey").as("k1"),
        col("n_name").as("name1"))
      val b = nation(s, d).select(col("n_nationkey").as("k2"),
        col("n_name").as("name2"))
      a.join(broadcast(b), col("k1") < col("k2"))
        .select(col("k1"), col("k2"),
          damerauLev(col("name1"), col("name2")).cast("long").as("dl"),
          levenshtein(col("name1"), col("name2")).cast("long").as("lev"))
        .orderBy("k1", "k2")
    }),

    /** q73: regexp scalar surface — replace-all + first-group
      * extract. No-match results are normalized to 'NONE' on both
      * engines ('' in Spark, engine-dependent ''/NULL elsewhere). */
    Query("q_fn_regexp",
      """SELECT doc_id,
         CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
           AS novowel_len,
         coalesce(nullif(regexp_extract(text, '([a-z]{7,})', 1), ''), 'NONE')
           AS first_long_word,
         CAST(length(string_split_regex(text, '[aeiou]+')) AS BIGINT)
           AS vowel_runs
         FROM documents ORDER BY doc_id""")((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          length(regexp_replace(col("text"), "[aeiou]", "")).cast("bigint")
            .as("novowel_len"),
          coalesce(nullif(regexp_extract(col("text"), "([a-z]{7,})", 1), lit("")),
            lit("NONE")).as("first_long_word"),
          size(split(col("text"), "[aeiou]+")).cast("bigint").as("vowel_runs"))
        .orderBy("doc_id")
    }),

    /** q74: bitwise scalar surface over integer keys. */
    Query("q_fn_bitwise",
      """SELECT l_orderkey, l_linenumber,
         l_orderkey & 255 AS k_and,
         l_orderkey | 4096 AS k_or,
         xor(l_orderkey, l_suppkey) AS k_xor,
         CAST(l_linenumber << 3 AS BIGINT) AS ln_shl,
         CAST(bit_count(l_orderkey) AS BIGINT) AS k_bits
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")((s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_orderkey").bitwiseAND(lit(255L))).as("k_and"),
          (col("l_orderkey").bitwiseOR(lit(4096L))).as("k_or"),
          (col("l_orderkey").bitwiseXOR(col("l_suppkey"))).as("k_xor"),
          shiftleft(col("l_linenumber"), 3).cast("bigint").as("ln_shl"),
          bit_count(col("l_orderkey")).cast("bigint").as("k_bits"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    /** q155: per-type absolute time bounds + a fixed-cutoff count —
      * the absolute-time anchor of the event rows: the others are
      * ordering-invariant or fail with an opaque row-count diff when
      * the fixture's timestamp unit skews, this one fails visibly.
      * min/max pass raw TimestampType through to the output (any unit
      * error is directly visible in the dumped parquet), and the
      * 2024-01-15 literal comparison breaks under ANY skew — a
      * 1000x-too-small ts makes every row land before the cutoff. */
    Query("q_fn_ts_absolute",
      """SELECT event_type,
           min(ts) AS ts_min, max(ts) AS ts_max,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_2nd_half,
           CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY event_type ORDER BY event_type""")((s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(min(col("ts")).as("ts_min"),
          max(col("ts")).as("ts_max"),
          sum(when(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"),
            1L).otherwise(0L)).as("n_2nd_half"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    /** q247: VARIANT SEMI-STRUCTURED PATH [T scalar surface] — the
      * Spark-4 VARIANT type end to end: parse_json into the binary
      * variant encoding ONCE, then typed extraction
      * (variant_get(…, '$.k', 'bigint')) and missing-path semantics
      * (try_variant_get on an absent field → NULL, counted per
      * group). The open-schema answer q39's string-re-parsing
      * get_json_object approximates: at 100 TB the variant binary
      * parses once at ingest, and every later extraction is a typed
      * binary probe, not a JSON re-parse. Values are exact BIGINTs
      * — engine-identical. */
    Query("q_fn_variant",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN json_extract(props, '$.absent')
                  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
         FROM events GROUP BY 1 ORDER BY k""")((s, d) => {
      events(s, d)
        .selectExpr("parse_json(props) AS v")
        .selectExpr("variant_get(v, '$.k', 'bigint') AS k",
          "try_variant_get(v, '$.absent', 'bigint') AS miss")
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
          sum(when(col("miss").isNull, 1L).otherwise(0L))
            .as("n_missing"))
        .orderBy("k")
    }),

    /** q248: COLLATION-AWARE GROUPING [T scalar surface] — the
      * Spark-4 collation engine end to end: event types are
      * case-mangled (even event_ids upper-cased), then grouped under
      * UTF8_LCASE so 'CLICK' and 'click' merge WITHOUT a normalizing
      * rewrite of the data — the i18n/dirty-data grouping a plain
      * binary GROUP BY cannot express. The group representative
      * under a case-insensitive collation is first-seen (engine
      * nondeterministic), so the OUTPUT key is lower()-normalized;
      * the upper-variant count per group pins that the merge really
      * crossed case. */
    Query("q_fn_collate",
      """SELECT lower(mixed) AS event_type_ci,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(was_upper) AS BIGINT) AS n_upper
         FROM (
           SELECT CASE WHEN event_id % 2 = 0
                    THEN upper(event_type) ELSE event_type END AS mixed,
                  CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END
                    AS was_upper
           FROM events
         ) GROUP BY 1 ORDER BY event_type_ci""")((s, d) => {
      events(s, d)
        .select(expr("""CASE WHEN event_id % 2 = 0
            THEN upper(event_type) ELSE event_type END""").as("mixed"),
          (col("event_id") % 2 === 0).cast("long").as("was_upper"))
        .groupBy(expr("collate(mixed, 'UTF8_LCASE')").as("tci"))
        .agg(count(lit(1)).as("n"), sum(col("was_upper")).as("n_upper"))
        .select(lower(col("tci")).as("event_type_ci"), col("n"),
          col("n_upper"))
        .orderBy("event_type_ci")
    }),

    /** q274: SQL-DEFINED SCALAR FUNCTION (Spark-4 surface row — the
      * declarative UDF tier ABOVE the engine's extension ladder: the
      * function body is SQL, so Catalyst inlines it into the plan and
      * it stays inside whole-stage codegen, unlike the JVM-closure
      * UDF surface q54 declares). `disc_price` encapsulates the
      * engine's exact-decimal money rule once and every caller
      * inherits it — the governance use case for SQL UDFs. The oracle
      * runs the INLINED expression (DuckDB's macro syntax differs;
      * the hash proves Spark's function dispatch ≡ inlining, which is
      * precisely the feature's contract). */
    Query("q_fn_sql_udf",
      // q274's oracle inlines the SQL UDF body (DuckDB's macro syntax
      // differs; the hash proves dispatch ≡ inlining).
      """SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2))))
               AS DOUBLE) AS disc_revenue
         FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag""")((s, d) => {
      // registered once per session, so a warm call's only SQL
      // execution is its query
      if (!s.catalog.functionExists("disc_price"))
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION disc_price(
            p DOUBLE, disc DOUBLE) RETURNS DECIMAL(38,4)
          RETURN CAST(p AS DECIMAL(18,2))
                 * (1 - CAST(disc AS DECIMAL(4,2)))""")
      runSql(s, d, """SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(disc_price(l_extendedprice, l_discount))
               AS DOUBLE) AS disc_revenue
           FROM lineitem
           GROUP BY l_returnflag ORDER BY l_returnflag""")
    })
  )
}
