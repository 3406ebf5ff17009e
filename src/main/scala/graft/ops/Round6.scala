package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.incr.{Delta, Maintain}

/** Round-6 coverage extensions (SURVEY.md §2 rows 111–130, ops
  * half): batch + incremental sessionization, SCD Type-2 compaction
  * and its temporal point-in-interval consumer, deterministic
  * reservoir/stratified sampling, the corpus-cleaning pipeline,
  * incremental TF-IDF, exact-decimal covariance/correlation, and the
  * extended calendar surface — the event-pipeline and statistics
  * operators a training-data / analytics user reaches for next, all
  * under the hard DuckDB oracle.
  *
  * All three follow D1–D7 (Tables.Dec scaladoc): integer or raw-column
  * arithmetic only, unique total ORDER BY, identical column aliases in
  * both engines. */
object Round6 {

  /** 30-minute session gap, in microseconds (events.ts is µs-aligned —
    * see Tables.events). Integer throughout: µs-since-epoch exceeds
    * double's mantissa, so all gap arithmetic stays in BIGINT. */
  private val GapUs = 1800L * 1000000L

  /** The q111 session computation over any (user_id, event_id, ts, us)
    * frame — factored out so q116 can run it on the preserved and
    * recomputed partitions of the corpus separately ([[graft]]-visible
    * for the gap-boundary edge-case spec). */
  private[graft] def sessionsOf(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = e
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > GapUs,
          1L).otherwise(0L))
      .withColumn("session_idx",
        sum("new_s").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        // integer div (not `/`): µs differences must never transit
        // an IEEE division — DuckDB's `//` is integral too
        expr("(max(us) - min(us)) div 1000000")
          .cast("bigint").as("duration_sec"))
      .select(col("user_id"), col("session_idx").cast("bigint").as("session_idx"),
        col("n_events"), col("session_start"), col("duration_sec"))
  }

  /** The q112 SCD2 interval computation over any (o_custkey,
    * o_orderdate, o_orderkey, o_orderstatus) frame — factored like
    * [[sessionsOf]] so q143 can run it on the preserved and
    * recomputed custkey partitions separately. */
  private[graft] def scd2OfRows(rows: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val hist = rows
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderstatus"))
      .withColumn("prev_status", lag("o_orderstatus", 1).over(w))
    val chg = hist.filter(
      col("prev_status").isNull || col("prev_status") =!= col("o_orderstatus"))
    chg
      .withColumn("next_from", lead("o_orderdate", 1).over(w))
      .select(col("o_custkey"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"),
        col("o_orderkey"),
        coalesce(col("next_from"),
          lit("2100-01-01 00:00:00").cast("timestamp")).as("valid_to"),
        when(col("next_from").isNull, 1L).otherwise(0L).as("is_current"))
  }

  /** The q112 SCD2 interval table (unordered) — shared with q124's
    * temporal point-in-interval join. */
  private def scd2Of(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = scd2OfRows(orders(s, d))

  /** q117's per-document scoring + keep-filter + normalized hash —
    * everything DOC-LOCAL in the cleaning pipeline, factored like
    * [[sessionsOf]]/[[scd2OfRows]] so the signed-incremental q149 can
    * preserve base rows verbatim and score only the delta. Returns
    * (doc_id, text, n_tokens, n_stop, s1..s3, pred, h) for kept docs. */
  private[graft] def cleanNormed(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ")
    def score(words: Seq[String]) =
      size(filter(toks, x => x.isInCollection(words))).cast("bigint")
    val scored = docs
      .select(col("doc_id"), col("text"),
        size(toks).cast("bigint").as("n_tokens"),
        size(filter(toks, x => x.isInCollection(Seq("the", "a"))))
          .cast("bigint").as("n_stop"),
        score(Seq("join", "filter", "agg")).as("s1"),
        score(Seq("window", "batch", "stream")).as("s2"),
        score(Seq("hash", "sort", "merge")).as("s3"))
      .withColumn("pred",
        when(col("s1") >= col("s2") && col("s1") >= col("s3"), "L1")
          .when(col("s2") >= col("s3"), "L2")
          .otherwise("L3"))
    scored.filter(col("n_tokens").between(20, 90) &&
        col("n_stop").cast("double") / col("n_tokens") < 0.2)
      .withColumn("h",
        md5(regexp_replace(lower(col("text")), " +", " ")))
  }

  val queries: Seq[Query] = Seq(
    /** q111: BATCH sessionization — the gap-based session assignment
      * (new session when >30 min since the user's previous event),
      * the batch twin of q59's streaming session windows. Two window
      * functions over the SAME (user_id; ts, event_id) sort — Spark
      * evaluates both in one shuffle+sort pass — then a per-session
      * aggregate. At 100 TB the only heavy operation is that single
      * user-keyed sort; the session aggregate rides map-side partials.
      * Ties on ts are broken by the unique event_id, so the running
      * sum (and therefore every session boundary) is deterministic. */
    Query("q_events_sessionize",
      s"""WITH e AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events
         ), flagged AS (
           SELECT user_id, event_id, ts, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > $GapUs
                  THEN 1 ELSE 0 END AS new_s
           FROM e
         ), sess AS (
           SELECT user_id, event_id, ts, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           FROM flagged
         )
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec
         FROM sess GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""")((s, d) => {
      sessionsOf(events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("us")))
        .orderBy("user_id", "session_idx")
    }),

    /** q116: INCREMENTAL sessionization [P §3/§6 applied to q111] —
      * the change-propagation shape for an append-only event log:
      * users with NO delta events keep their preserved sessions (in
      * production read back from the q103-style partials store, here
      * recomputed from the base partition to stay self-contained);
      * users touched by the delta are recomputed from their FULL
      * history — sessionization is user-local, so the affected set is
      * exactly the delta's user set and the re-sort is delta-user-
      * sized, never corpus-sized. Oracle = q111's FULL sessionize SQL:
      * incremental maintenance must be result-invisible. */
    Query("q_incr_sessionize",
      // q116's oracle IS q111's: incremental maintenance must reproduce
      // the full recomputation bit-for-bit.
      s"""WITH e AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events
         ), flagged AS (
           SELECT user_id, event_id, ts, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > $GapUs
                  THEN 1 ELSE 0 END AS new_s
           FROM e
         ), sess AS (
           SELECT user_id, event_id, ts, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           FROM flagged
         )
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec
         FROM sess GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""")((s, d) => {
      val cut = lit("2024-01-20").cast("timestamp")
      val ev = events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("us"))
      val delta = Delta(ev, col("ts") < cut, col("ts") >= cut, lit(false))
      Maintain.groupRecompute(delta.base, delta.post, Seq("user_id"),
          delta.touchedKeys("user_id"))(sessionsOf)
        .orderBy("user_id", "session_idx")
    }),

    /** q112: SCD TYPE-2 interval compaction [P §3 applied to
      * dimension maintenance] — collapse each customer's order-status
      * history into validity intervals: keep only CHANGE rows (status
      * differs from the previous order), then close each interval at
      * the next change's date (open intervals get the 2100-01-01
      * sentinel — NULL-free so the total order is engine-agnostic).
      * Two windows over one (custkey; date, orderkey) sort — again a
      * single shuffle — and the change filter shrinks the second
      * window's input to the compacted rows. */
    Query("q_incr_scd2",
      """WITH h AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
             lag(o_orderstatus) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS prev_status
           FROM orders
         ), chg AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
           FROM h
           WHERE prev_status IS NULL OR prev_status <> o_orderstatus
         )
         SELECT o_custkey, o_orderstatus AS status,
           o_orderdate AS valid_from, o_orderkey,
           coalesce(lead(o_orderdate) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             TIMESTAMP '2100-01-01 00:00:00') AS valid_to,
           CAST(CASE WHEN lead(o_orderdate) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
         FROM chg
         ORDER BY o_custkey, valid_from, o_orderkey""")((s, d) =>
      scd2Of(s, d).orderBy("o_custkey", "valid_from", "o_orderkey")),

    /** q113: deterministic per-group "reservoir" k-sample — 5 events
      * per event_type chosen by md5(event_id) order: a uniform,
      * seed-free, cluster-size-independent sample (the q77 hash-split
      * idea applied to per-group top-k). The md5 sort key makes the
      * pick reproducible on ANY engine — the property a 100 TB
      * pipeline needs so re-runs and audits agree. Plan shape is q29's
      * rank-filter (one group-keyed sort); at fact scale the
      * row_number filter evaluates streaming per group — no global
      * materialization. */
    Query("q_sample_reservoir",
      """SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id, user_id, value
         FROM (
           SELECT event_type, event_id, user_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
           FROM events
         ) t
         WHERE rn <= 5
         ORDER BY event_type, rn""")((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))
      events(s, d)
        .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("event_type"), col("rn").cast("bigint").as("rn"),
          col("event_id"), col("user_id"), col("value"))
        .orderBy("event_type", "rn")
    }),

    /** q117: the END-TO-END training-data CLEANING PIPELINE in one
      * declared query — the composition a 100 TB corpus actually runs:
      * quality gate (q62's keep rule) → language ID (q61's scorer) →
      * exact near-dup collapse on whitespace-normalized text (q54's
      * normalization, md5 fingerprint, min-doc_id canonical winner
      * carrying the duplicate count). One scan, map-only scoring and
      * filters, ONE shuffle (the fingerprint groupBy) — embarrassingly
      * parallel at any scale, and the compositional proof that the
      * pieces interoperate under the hard oracle, not just alone. */
    Query("q_pipeline_clean",
      """WITH t AS (
           SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a'))) AS BIGINT) AS n_stop,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('join','filter','agg'))) AS BIGINT) AS s1,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('window','batch','stream'))) AS BIGINT) AS s2,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('hash','sort','merge'))) AS BIGINT) AS s3
           FROM documents
         ), kept AS (
           SELECT doc_id, text, n_tokens,
             CASE WHEN s1 >= s2 AND s1 >= s3 THEN 'L1'
                  WHEN s2 >= s3 THEN 'L2' ELSE 'L3' END AS pred
           FROM t
           WHERE n_tokens BETWEEN 20 AND 90
             AND CAST(n_stop AS DOUBLE) / n_tokens < 0.2
         ), normed AS (
           SELECT doc_id, pred, n_tokens,
             md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS h
           FROM kept
         ), canon AS (
           SELECT h, min(doc_id) AS keep_id,
             CAST(count(*) AS BIGINT) AS n_dups
           FROM normed GROUP BY h
         )
         SELECT n.doc_id, n.pred, n.n_tokens, n.h, c.n_dups
         FROM normed n JOIN canon c ON n.h = c.h AND n.doc_id = c.keep_id
         ORDER BY n.doc_id""")((s, d) => {
      val normed = cleanNormed(documents(s, d))
      val canon = normed.groupBy("h")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      normed.join(canon, "h")
        .filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("pred"), col("n_tokens"), col("h"),
          col("n_dups"))
        .orderBy("doc_id")
    }),

    /** q119: INCREMENTAL TF-IDF [P §3 — one-step incremental
      * aggregation with preserved state]: the corpus splits into a
      * base (doc_id%10<>0) and a delta; per-(doc,term) tf rows are
      * DOC-LOCAL so the base's rows are preserved verbatim (in
      * production read back from the q103 partials store), the
      * df-counts and doc-count state merge ASSOCIATIVELY
      * (df = df_base + df_delta, N = N_base + N_delta — exact integer
      * merges), and only delta docs are tokenized. Scores then apply
      * q95's exact IEEE chain over the merged state — so the oracle is
      * q95's FULL TF-IDF verbatim: incremental maintenance must be
      * result-invisible. Delta-proportional work: the only full-corpus
      * pass is reading preserved rows. */
    // q119's oracle IS q95's full TF-IDF: the incremental df/N merge
    // must be result-invisible. doc_id is in the SELECT only via the
    // shared projection, so the text is reused verbatim.
    Query("q_incr_tfidf", Round3.textTfidf.oracle.get)((s, d) => {
      val docs = documents(s, d)
      val delta = Delta.tenWay(docs, "doc_id").map(Round8.tfOf)
      val tfBase = delta.base
      val tfDelta = delta.inserts
      def dfOf(tf: org.apache.spark.sql.DataFrame) =
        tf.groupBy("term").agg(count(lit(1)).as("df"))
      // associative state merge: term-keyed integer counts
      val dfMerged = dfOf(tfBase).unionByName(dfOf(tfDelta))
        .groupBy("term").agg(sum("df").as("df"))
      val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      tfBase.unionByName(tfDelta)
        .join(broadcast(dfMerged), "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          (col("tf").cast("double") *
            log(col("n_docs") / col("df").cast("double"))).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
        .limit(20)
    }),

    /** q122: deterministic STRATIFIED sampling — per-stratum rates
      * (view 1/16, click 1/4, rest 1/2) decided by the first hex char
      * of md5(event_id): a pure MAP-SIDE filter (no shuffle, no
      * sampling state, no seed) whose keep-decision any engine
      * reproduces — `sampleBy` semantics with audit-grade determinism.
      * At 100 TB this composes with partition pruning and costs one
      * scan; rates tune per stratum without touching the plan shape. */
    Query("q_sample_stratified",
      """SELECT event_id, event_type, user_id, value FROM (
           SELECT event_id, event_type, user_id, value,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS hc
           FROM events
         ) t
         WHERE CASE WHEN event_type = 'view' THEN hc = '0'
                    WHEN event_type = 'click' THEN hc < '4'
                    ELSE hc < '8' END
         ORDER BY event_id""")((s, d) => {
      val hc = substring(md5(col("event_id").cast("string")), 1, 1)
      events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"), hc.as("hc"))
        .filter(
          when(col("event_type") === "view", col("hc") === "0")
            .when(col("event_type") === "click", col("hc") < "4")
            .otherwise(col("hc") < "8"))
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"))
        .orderBy("event_id")
    }),

    /** q124: TEMPORAL point-in-interval join — "which dimension
      * version was active when this fact row occurred": every order
      * probes its customer's SCD2 interval table (q112's output,
      * shared via [[scd2Of]]) on valid_from <= date < valid_to. The
      * intervals partition each customer's timeline, so every order
      * matches EXACTLY ONE version — the q112-build → q124-use pair is
      * the full dimension-maintenance story. Scale shape: the interval
      * table is change-row-sized (dimension-scale), so it broadcasts;
      * the fact side streams map-only through the equi-key + range
      * predicate — no fact shuffle (the q78 range-join rule applied to
      * versioned dimensions). */
    Query("q_join_temporal",
      """WITH h AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
             lag(o_orderstatus) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS prev_status
           FROM orders
         ), chg AS (
           SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
           FROM h
           WHERE prev_status IS NULL OR prev_status <> o_orderstatus
         ), scd2 AS (
           SELECT o_custkey AS c, o_orderstatus AS status,
             o_orderdate AS valid_from,
             coalesce(lead(o_orderdate) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               TIMESTAMP '2100-01-01 00:00:00') AS valid_to
           FROM chg
         )
         SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           s.status, s.valid_from
         FROM orders o JOIN scd2 s
           ON s.c = o.o_custkey
           AND o.o_orderdate >= s.valid_from
           AND o.o_orderdate < s.valid_to
         ORDER BY o.o_orderkey""")((s, d) => {
      val iv = scd2Of(s, d)
        .select(col("o_custkey").as("c"), col("status"),
          col("valid_from"), col("valid_to"))
      val facts = orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      facts.join(broadcast(iv),
          facts("o_custkey") === iv("c") &&
            facts("o_orderdate") >= iv("valid_from") &&
            facts("o_orderdate") < iv("valid_to"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("status"), col("valid_from"))
        .orderBy("o_orderkey")
    }),

    /** q127: population COVARIANCE per group with the D-rule numeric
      * contract — the statistical-aggregate family (corr/covar) that
      * FP-accumulating builtins can't put under a cross-engine oracle:
      * Σx, Σy, Σxy as EXACT decimals (map-side partial agg, one
      * shuffle), Σxy rescaled to 2 dp (half-up on both engines) so its
      * unscaled value stays inside the 2^53 decimal→double boundary
      * (Dec scaladoc), then ONE identical IEEE chain
      * sxy/n − (sx/n)·(sy/n) on both engines. */
    Query("q_agg_covar",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))
                          * CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) / CAST(count(*) AS DOUBLE)
           - (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              / CAST(count(*) AS DOUBLE))
             * (CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)) AS covar_pop
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")((s, d) => {
      import graft.engine.Dec._
      val li = lineitem(s, d)
      val g = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).as("sx"),
          sum(dec2(col("l_extendedprice"))).as("sy"),
          round(sum(dec2(col("l_quantity")) * dec2(col("l_extendedprice"))), 2)
            .as("sxy"))
      g.select(col("l_returnflag"), col("n"),
          (dbl(col("sxy")) / dbl(col("n")) -
            (dbl(col("sx")) / dbl(col("n"))) * (dbl(col("sy")) / dbl(col("n"))))
            .as("covar_pop"))
        .orderBy("l_returnflag")
    }),

    /** q130: Pearson CORRELATION under the D-rule contract — the q127
      * machinery extended with exact-decimal second moments. Price is
      * shifted to y' = price·0.01 IN DECIMAL (exact; correlation is
      * scale-invariant) and every sum is rounded to 2 dp so all
      * unscaled values stay inside the 2^53 decimal→double boundary
      * even at sf1+; the correlation formula then runs as ONE pinned
      * IEEE tree — identical parenthesization on both engines, so the
      * doubles match bitwise. */
    Query("q_agg_corr",
      """WITH g AS (
           SELECT l_returnflag, count(*) AS n,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS sx,
             round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(0.01 AS DECIMAL(8,4)) AS DECIMAL(8,4))), 2) AS sy,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(0.01 AS DECIMAL(8,4)) AS DECIMAL(8,4))), 2) AS sxy,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))), 2) AS sx2,
             round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(0.01 AS DECIMAL(8,4)) AS DECIMAL(8,4))
                       * CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(0.01 AS DECIMAL(8,4)) AS DECIMAL(8,4))), 2) AS sy2
           FROM lineitem GROUP BY l_returnflag
         )
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
           / (sqrt(CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
              * sqrt(CAST(sy2 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) AS corr
         FROM g ORDER BY l_returnflag""")((s, d) => {
      import graft.engine.Dec._
      val li = lineitem(s, d)
      val x = dec2(col("l_quantity"))
      // y' = price·0.01, exact at 4 dp, narrowed back to DECIMAL(8,4)
      // (max 1050.0000 fits) so y'·y' stays in the int64 decimal path
      val y = (dec2(col("l_extendedprice")) * lit(0.01).cast("decimal(8,4)"))
        .cast("decimal(8,4)")
      val g = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(x), 2).as("sx"),
          round(sum(y), 2).as("sy"),
          round(sum(x * y), 2).as("sxy"),
          round(sum(x * x), 2).as("sx2"),
          round(sum(y * y), 2).as("sy2"))
      val nd = dbl(col("n"))
      val mx = dbl(col("sx")) / nd
      val my = dbl(col("sy")) / nd
      val cov = dbl(col("sxy")) / nd - mx * my
      val vx = dbl(col("sx2")) / nd - mx * mx
      val vy = dbl(col("sy2")) / nd - my * my
      g.select(col("l_returnflag"), col("n"),
          (cov / (sqrt(vx) * sqrt(vy))).as("corr"))
        .orderBy("l_returnflag")
    }),

    /** q131: per-group standard deviation (population) via the q127
      * machinery — σ = √(sx2/n − (sx/n)²) over exact decimal sums,
      * one pinned IEEE tree, bitwise-equal doubles (the FP-
      * accumulating stddev builtins cannot cross-engine-match). */
    Query("q_agg_stddev",
      """WITH g AS (
           SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS sx,
             round(sum(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))), 2) AS sx2
           FROM lineitem GROUP BY l_returnflag, l_linestatus
         )
         SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
           sqrt(CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS stddev_pop
         FROM g ORDER BY l_returnflag, l_linestatus""")((s, d) => {
      import graft.engine.Dec._
      val li = lineitem(s, d)
      val x = dec2(col("l_quantity"))
      val g = li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(x), 2).as("sx"),
          round(sum(x * x), 2).as("sx2"))
      val nd = dbl(col("n"))
      val mx = dbl(col("sx")) / nd
      g.select(col("l_returnflag"), col("l_linestatus"), col("n"),
          sqrt(dbl(col("sx2")) / nd - mx * mx).as("stddev_pop"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    /** q132: EDIT-DISTANCE fuzzy matching — levenshtein between each
      * document and its successor (doc_id+1) on the subset: the fuzzy
      * string-match primitive (typo-level dedup, record linkage) that
      * token/shingle measures miss. Exact integer on both engines;
      * the pair space is the deterministic consecutive-id chain, so
      * the join is a broadcast-able self-equi-join, not a cross
      * product (at scale the candidate pairs come from q51's LSH
      * buckets and this verify runs in-bucket). */
    Query("q_text_editdist",
      """SELECT a.doc_id,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
           CAST(length(a.text) AS BIGINT) AS len_a,
           CAST(length(b.text) AS BIGINT) AS len_b
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 5
         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
         ORDER BY a.doc_id""")((s, d) => {
      val docs = documents(s, d)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val nxt = docs.select((col("doc_id") - 5).as("doc_id"),
        col("text").as("text_b"))
      docs.join(nxt, "doc_id")
        .select(col("doc_id"),
          levenshtein(col("text"), col("text_b")).cast("bigint").as("dist"),
          length(col("text")).cast("bigint").as("len_a"),
          length(col("text_b")).cast("bigint").as("len_b"))
        .orderBy("doc_id")
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
    })
  )
}
