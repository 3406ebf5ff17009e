package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Memos, Query}
import graft.engine.Tables._
import graft.engine.Dec._
import graft.incr.{Delta, Maintain}

/** Round-12 declared queries (SURVEY §2 rows 180-188): the paper's own
  * motivating example promoted to a declared row (signed incremental
  * wordcount), three corpus-curation operators a production
  * training-data pipeline runs at 100 TB (chunk-level exact dedup,
  * winnowing fingerprints, ANALYZE-style column profiling), three
  * relational-surface completions (exact median, FILTER-clause
  * aggregates, nth_value windows), a lake-maintenance operator
  * (small-file compaction, result-invisible under the oracle), and the
  * stream-stream interval join executed as a REAL streaming query
  * whose sink the driver hashes.
  *
  * Determinism: counts and µs durations are exact integers; money
  * aggregates in exact decimal (Dec contract) and emits one double
  * cast; the median row interpolates two exact BIGINTs — a + (b−a)·0.5
  * is IEEE-exact below 2^52, so Spark's exact percentile and DuckDB's
  * quantile_cont agree bitwise; every hash is md5 over identical
  * bytes; window/argmin rows order by keys made unique.
  *
  * The reference tree at /root/reference is absent (SURVEY.md §0);
  * semantics follow SURVEY §2 rows 180-188.
  */
object Round12 {

  /** GENERIC signed incremental wordcount (q180's merge on caller
    * frames): maintain token counts under a corpus delta from the
    * stored base counts plus insert/delete doc sets — the i²MapReduce
    * motivating example. Work after the state scan is
    * delta-proportional; counts reaching zero vanish, matching the
    * from-scratch wordcount of the post-delta corpus. Each delta token
    * is one signed `(word, ±1)` row, aggregated with the base counts
    * in one shuffle. */
  def incrTokenCounts(baseCounts: DataFrame, insertDocs: DataFrame,
                      deleteDocs: DataFrame, textCol: String): DataFrame = {
    def toks(dd: DataFrame) = dd
      .select(explode(split(col(textCol), " ")).as("word"), lit(1L).as("n"))
    Maintain.signedMerge(Seq("word"), Seq("n"),
        Seq(baseCounts, toks(insertDocs)), Seq(toks(deleteDocs)))(col("n") > 0)
      .withColumnRenamed("n", "n_total")
  }

  /** Chunk occurrence relation: (h, doc_id) — one row per full
    * `chunkTokens`-token chunk instance. Shared by the batch (q181)
    * and the signed-incremental (q191) chunk dedup. */
  def chunkOccurrences(docs: DataFrame, idCol: String, textCol: String,
                       chunkTokens: Int): DataFrame = {
    val n = chunkTokens
    docs.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .withColumn("ci", explode(expr(s"sequence(0, size(toks) div $n - 1)")))
      .withColumn("chunk", expr(s"concat_ws(' ', slice(toks, ci * $n + 1, $n))"))
      .select(md5(col("chunk").cast("binary")).as("h"), col("doc_id"))
  }

  private def chunkGroupsOf(occ: DataFrame): DataFrame =
    occ.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") >= 2)

  /** GENERIC chunk-level dedup (q181 on caller columns): cut each doc
    * into fixed `chunkTokens`-token chunks (full chunks only), hash,
    * and report chunks occurring in ≥2 docs. One partial-aggregated
    * shuffle on the 16-byte hash key. */
  def chunkDupGroups(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int): DataFrame =
    chunkGroupsOf(chunkOccurrences(docs, idCol, textCol, chunkTokens))

  /** Per-value counts (v, n) of column `c` — one leg of the profile
    * state. */
  private def valueCounts(df: DataFrame, c: String): DataFrame = df
    .groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))

  /** GENERIC incremental profile merge from a PRE-BUILT base state
    * (the partials store a production run reads back): signed merge
    * of base counts with insert/delete value counts; zero-count
    * values vanish. */
  def valueCountStateFrom(baseCounts: DataFrame, insert: DataFrame,
                          delete: DataFrame, c: String): DataFrame =
    Maintain.signedMerge(Seq("v"), Seq("n"),
      Seq(baseCounts, valueCounts(insert, c)), Seq(valueCounts(delete, c)))(
      col("n") > 0)

  /** GENERIC incremental profile state: per-value counts of column
    * `c` — the exact-NDV preserved state [P §3]. Signed merge of
    * base/insert/delete value counts; zero-count values vanish. */
  def valueCountState(base: DataFrame, insert: DataFrame,
                      delete: DataFrame, c: String): DataFrame =
    valueCountStateFrom(valueCounts(base, c), insert, delete, c)

  /** Profile row (q185 shape) derived from a per-value count state —
    * every statistic is a fold over the NDV-sized state, never the
    * corpus: n_rows = Σn, NDV = |state|, min/max over values, exact
    * decimal sum as Σ v·n. */
  def profileOfState(state: DataFrame, colName: String): DataFrame =
    state.agg(lit(colName).as("col_name"),
      sum(col("n")).as("n_rows"),
      count(lit(1)).as("n_distinct"),
      min(col("v")).as("min_v"), max(col("v")).as("max_v"),
      dbl(sum(dec2(col("v")) * col("n"))).as("sum_v"))

  /** GENERIC winnowing fingerprint relation (q188's sketch on caller
    * columns): per doc the DISTINCT selected fingerprints of the
    * (k-token shingle, w-window min-hash) scheme — any two docs
    * sharing a token run of ≥ k+w−1 share a fingerprint. Returns
    * (doc_id, fp); docs under k+w−1 tokens have no row. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= k + w - 1)
      .withColumn("hs", expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> md5(cast(concat_ws(' ', slice(toks, i, $k)) as binary)))"))
      .withColumn("fp", explode(expr(
        s"array_distinct(transform(sequence(1, size(hs) - ${w - 1}), " +
          s"j -> array_min(slice(hs, j, $w))))")))
      .select(col("doc_id"), col("fp"))

  /** GENERIC column profiling (q185 on caller columns): per named
    * column one row (col_name, n_rows, n_distinct, min_v, max_v,
    * sum_v) — a union of single-column aggregates (each branch scans
    * one pruned column; see the q185 scaladoc for the A/B vs the
    * multi-distinct Expand plan). Columns must be numeric with ≤2
    * decimal places for the exact-decimal sum. */
  def profileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    def prof(c: String) = df.select(col(c)).agg(
      lit(c).as("col_name"),
      count(lit(1)).as("n_rows"),
      count_distinct(col(c)).as("n_distinct"),
      min(col(c)).as("min_v"), max(col(c)).as("max_v"),
      dbl(sum(dec2(col(c)))).as("sum_v"))
    cols.map(prof).reduce(_ unionByName _)
  }

  /** GENERIC small-file compaction (q186's rewrite on caller paths):
    * read a hive-partitioned directory and rewrite each `partCol`
    * partition as ONE file (each partition value hashes to exactly
    * one task). Skew caveat: a giant partition becomes one task —
    * split via maxRecordsPerFile + AQE rebalance when that matters. */
  def compactPartitions(s: SparkSession, inPath: String, outPath: String,
                        partCol: String): Unit =
    s.read.parquet(inPath)
      .repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(outPath)

  val queries: Seq[Query] = Seq(

    /** q180: SIGNED INCREMENTAL WORDCOUNT [P §1] — the i²MapReduce
      * paper's MOTIVATING example as a declared row: token counts over
      * an evolving corpus maintained from stored state plus signed
      * token deltas, never re-reading the base corpus. Base state =
      * the wordcount of the pre-delta corpus (stands in for the
      * partials store a production run reads back); the insert docs
      * (doc_id%10==0, the q125/q134 corpus-delta convention)
      * contribute +count per token and the delete docs (doc_id%10==1)
      * −count; the merge is ONE partial-aggregated signed sum on the
      * token key — delta-proportional work after the state scan, the
      * purest instance of the paper's kv-pair merge. Tokens whose
      * count reaches zero vanish (n_total > 0), exactly as the
      * from-scratch wordcount over the post-delta corpus computes —
      * which is what the oracle runs. */
    Query("q_incr_wordcount",
      // q180's oracle: the from-scratch wordcount over the POST-DELTA
      // corpus — the signed merge must be result-invisible.
      """WITH t AS (
           SELECT unnest(string_split(text, ' ')) AS word
           FROM documents WHERE doc_id % 10 <> 1
         )
         SELECT word, CAST(count(*) AS BIGINT) AS n_total
         FROM t GROUP BY word ORDER BY word""")((s, d) => {
      val delta = Delta.tenWay(documents(s, d), "doc_id")
      val baseState = delta.base
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      incrTokenCounts(baseState, delta.inserts, delta.deletes, "text")
        .orderBy("word")
    }),

    /** q181: CHUNK-LEVEL EXACT DEDUP [N] — the C4/RefinedWeb-style
      * sub-document dedup pass: whole-document hashing (q49) misses a
      * duplicated SECTION inside otherwise-distinct documents, so the
      * corpus is cut into fixed 16-token chunks (only full chunks —
      * deterministic boundaries), each chunk md5-hashed, and chunks
      * appearing in ≥2 documents reported with occurrence/document
      * counts and the keeper doc. Plan shape is exactly the q49
      * one-shuffle partial-aggregated groupBy on a 16-byte key — the
      * explode multiplies rows by ~n_tokens/16 but the aggregate
      * combines map-side, so at 100 TB this stays a single
      * corpus-proportional shuffle (production follows with a
      * semi-join of kept chunks back to docs, the same shape). */
    Query("q_dedup_chunks",
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         ), x AS (
           SELECT doc_id, unnest(range(0, len(toks) // 16)) AS ci, toks
           FROM t WHERE len(toks) >= 16
         ), c AS (
           SELECT doc_id,
             md5(array_to_string(toks[ci * 16 + 1 : ci * 16 + 16], ' ')) AS h
           FROM x
         )
         SELECT h, CAST(count(*) AS BIGINT) AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_id
         FROM c GROUP BY h
         HAVING count(DISTINCT doc_id) >= 2 ORDER BY h""")((s, d) =>
      chunkDupGroups(documents(s, d), "doc_id", "text", chunkTokens = 16)
        .orderBy("h")),

    /** q182: EXACT MEDIAN — Spark's exact `median` aggregate (the
      * sort-based exact percentile, not approx_percentile q81) per
      * order priority over EXACT integer cents. The oracle-safety
      * argument for an interpolated statistic: both engines compute
      * lo + (hi − lo)·0.5 on two exact BIGINTs, every step IEEE-exact
      * below 2^52, so even-count groups agree bitwise. At 100 TB
      * exact median is the documented EXPENSIVE choice (per-group
      * sort); the approximate default is q81's KLL/GK sketch —
      * declaring both keeps the trade-off visible. */
    Query("q_agg_median",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           median(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS median_cents,
           min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS min_cents,
           max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS max_cents
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")((s, d) => {
      orders(s, d)
        .withColumn("cents", (dec2(col("o_totalprice")) * 100).cast("long"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          median(col("cents")).as("median_cents"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .orderBy("o_orderpriority")
    }),

    /** q183: FILTER-CLAUSE AGGREGATES — conditional aggregation
      * without self-joins or CASE pyramids: count_if and
      * filtered sum/max in one partial-aggregated pass (Spark's
      * when(cond, x) inside an aggregate ≡ SQL FILTER (WHERE cond):
      * unmatched rows contribute NULL, which every aggregate skips).
      * One scan, one shuffle, all branches map-side combinable —
      * the 100 TB shape for "N metrics with N different predicates".
      * Empty-filter groups yield NULL identically in both engines. */
    Query("q_agg_filtered",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
             AS n_disc,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
             FILTER (WHERE l_quantity > 25) AS DOUBLE) AS rev_hi_qty,
           max(l_extendedprice) FILTER (WHERE l_tax < 0.02)
             AS max_lowtax_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")((s, d) => {
      lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          count_if(col("l_discount") > 0.05).as("n_disc"),
          dbl(sum(when(col("l_quantity") > 25, dec2(col("l_extendedprice")))))
            .as("rev_hi_qty"),
          max(when(col("l_tax") < 0.02, col("l_extendedprice")))
            .as("max_lowtax_price"))
        .orderBy("l_returnflag")
    }),

    /** q184: NTH_VALUE / FIRST / LAST WINDOWS — the remaining value
      * window functions over an explicit full-partition frame (ROWS
      * UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING — last_value under the
      * default frame is the famous running-last footgun; the declared
      * row pins the explicit-frame semantics). Order key (price,
      * orderkey) is UNIQUE so both engines see one total order. Same
      * single window sort any ranked window pays. */
    Query("q_win_nth_value",
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           nth_value(o_orderkey, 2) OVER w AS second_cheapest,
           first_value(o_orderkey) OVER w AS cheapest,
           last_value(o_orderkey) OVER w AS priciest
         FROM orders WHERE o_custkey < 200
         WINDOW w AS (PARTITION BY o_orderpriority
           ORDER BY o_totalprice, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderpriority, o_orderkey""")((s, d) => {
      val full = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d).filter(col("o_custkey") < 200)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .withColumn("second_cheapest",
          nth_value(col("o_orderkey"), 2).over(full))
        .withColumn("cheapest", first(col("o_orderkey")).over(full))
        .withColumn("priciest", last(col("o_orderkey")).over(full))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    /** q185: COLUMN PROFILING (ANALYZE-style stats collection) — the
      * lake-maintenance pass every optimizer depends on (row counts,
      * NDV, min/max bounds, sums for avg) for the four lineitem
      * measures, as a UNION of four single-column aggregates. The
      * one-scan multi-distinct alternative loses: Catalyst's
      * RewriteDistinctAggregates expands every row ×4 (the q164 plan)
      * and an interleaved A/B at sf0.1 measured it 3× slower (3.3-3.7
      * s vs 1.1 s warm) — whereas each union branch scans ONE pruned
      * parquet column (same total bytes as one 4-column scan) and
      * runs the cheap single-distinct two-stage aggregate, all four
      * branches scheduled concurrently in one job. Raw double min/max
      * compare bitwise; sums go through exact decimal. The
      * approximate production variant swaps count_distinct for HLL
      * (q23) and folds back to one scan. */
    Query("q_profile_stats",
      """WITH p AS (
           SELECT 'l_quantity' AS col_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
             min(l_quantity) AS min_v, max(l_quantity) AS max_v,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
           FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_extendedprice) AS BIGINT),
             min(l_extendedprice), max(l_extendedprice),
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           FROM lineitem
           UNION ALL
           SELECT 'l_discount',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_discount) AS BIGINT),
             min(l_discount), max(l_discount),
             CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
           FROM lineitem
           UNION ALL
           SELECT 'l_tax',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_tax) AS BIGINT),
             min(l_tax), max(l_tax),
             CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE)
           FROM lineitem
         )
         SELECT * FROM p ORDER BY col_name""")((s, d) =>
      profileStats(lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_name")),

    /** q186: SMALL-FILE COMPACTION (lake maintenance) — the other
      * table-maintenance operator every 100 TB lake runs on a
      * schedule: a landing zone written by 8 parallel tasks leaves ~8
      * small files per day partition; compaction rewrites each
      * partition as ONE file by repartitioning on the partition key
      * before the partitioned write (each day hashes to exactly one
      * task). The declared query aggregates the COMPACTED copy while
      * the oracle reads the original events — compaction must be
      * result-invisible, so a row lost or duplicated in the rewrite
      * flips the hash; `Round12Spec` asserts the file counts (landing
      * > 1 per day, compacted == 1). Layout is stored (q157/q158
      * convention, appId-isolated, built once per session+fixture).
      * At 100 TB the one-task-per-partition rewrite is the skew
      * caveat: giant days split via maxRecordsPerFile + AQE rebalance
      * — same result, documented here. */
    Query("q_sink_compaction",
      // q186's oracle reads the ORIGINAL events — the landing write and
      // the compaction rewrite must both be result-invisible.
      """SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events GROUP BY 1 ORDER BY day""")((s, d) => {
      val root = Memos.value(s, d, "round12/compaction") {
        val r = s"${Memos.scratchDir(s, d, "r12")}/compact"
        val ev = events(s, d).withColumn("day", to_date(col("ts")))
        ev.repartition(8)
          .write.mode("overwrite").partitionBy("day").parquet(s"$r/landing")
        compactPartitions(s, s"$r/landing", s"$r/compacted", "day")
        r
      }
      s.read.parquet(s"$root/compacted")
        .groupBy("day")
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          dbl(sum(dec2(col("value")))).as("value_sum"))
        .orderBy("day")
    }),

    /** q187: STREAM-STREAM INTERVAL JOIN UNDER THE ORACLE HASH — the
      * real-time attribution join (view → purchase within 30 min by
      * the same user) executed as a REAL streaming query: two file
      * sources over the same 4-file event-time-range-partitioned copy
      * (mtimes pinned ascending, the q177 landing convention), each
      * watermarked 10 min, inner-joined on user + the time-range
      * condition, append mode into an exactly-once parquet sink the
      * driver hashes. Determinism argument: an inner stream-stream
      * join emits exactly the condition-satisfying pairs PROVIDED no
      * needed state is evicted first; matches for a purchase have
      * v_ts ≤ p_ts, so partners are always in the same or an earlier
      * range file, and a view is evictable only when the global
      * watermark (min over both sources − 10 min) passes v_ts+30min —
      * rows still needed by batch i+1 have v_ts > maxᵢ − 30 min while
      * eviction requires v_ts < maxᵢ − 40 min: disjoint by the 10-min
      * delay margin. So the emitted set equals the batch join — which
      * is what the oracle computes. Runs once per (session, fixture)
      * (stored sink, q177 convention). */
    Query.stream("q_stream_join_interval",
      // q187's oracle: the batch interval join — the streaming execution
      // (micro-batching, watermark eviction, sink commit log) must be
      // result-invisible.
      """SELECT v.user_id AS user_id, v.event_id AS view_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS wait_us
         FROM events v JOIN events p
           ON p.user_id = v.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
         ORDER BY view_id, purchase_id""")((s, d) => Memos.frame(s, d,
        "round12/streamJoin")(
        // 4-partition state (4 StateStores per join
        // side instead of 32) + 2-files-per-trigger — the eviction
        // margin argument above is per-batch generic, so 3
        // micro-batches prove the same contract 5 did, and
        // cross-batch join state is still exercised (batch 2's
        // purchases match batch 1's views)
        graft.stream.Streams.smallStateConf(s) {
      val root = graft.stream.Streams.freshRoot(s,
        s"${Memos.scratchDir(s, d, "r12")}/sjoin")
      val (src, ck, out) = (s"$root/src", s"$root/ck", s"$root/out")
      val norm = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      norm.repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(src)
      new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex
        .foreach { case (f, i) => f.setLastModified(1700000000000L + i * 60000L) }
      def side(tpe: String, idC: String, tsC: String, uC: String) =
        s.readStream.schema(norm.schema)
          .option("pathGlobFilter", "*.parquet")
          .option("maxFilesPerTrigger", "2")
          .parquet(src)
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(idC), col("ts").as(tsC),
            col("user_id").as(uC))
          .withWatermark(tsC, "10 minutes")
      val views = side("view", "view_id", "v_ts", "v_user")
      val purch = side("purchase", "purchase_id", "p_ts", "p_user")
      graft.stream.Streams.runAvailableNow(views.join(purch,
          col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("v_user").as("user_id"), col("view_id"),
          col("purchase_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("wait_us"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append"))
      s.read.parquet(out).orderBy("view_id", "purchase_id").localCheckpoint()
    })),

    /** q188: WINNOWING FINGERPRINTS [N] — the MOSS local-fingerprint
      * scheme (Schleimer et al., SIGMOD '03): guaranteed-coverage
      * document fingerprints for plagiarism/duplication detection —
      * any shared run of ≥ 7 tokens forces a shared fingerprint,
      * unlike fixed-stride sampling. Per doc: k=4-token shingle
      * hashes, then every w=4-window's MINIMUM hash is selected; the
      * distinct selected set is the doc's fingerprint sketch. Output
      * per doc: fingerprint count, how many are SHARED with another
      * doc (the duplication signal), and the min fingerprint. Hashes
      * are md5 hex strings (lexicographic min matches across
      * engines); shingling/windowing runs inside ONE map-side array
      * kernel (transform/slice/array_min — a HigherOrderFunction, so
      * interpreted rather than codegen'd per the §8.7 lesson, but
      * map-only and shuffle-free until the fingerprint aggregate;
      * the per-row cost is the md5s, not the lambda dispatch), and
      * the shared-frequency relation is
      * fingerprint-vocabulary-bounded: at 100 TB it min-count-prunes
      * and broadcasts like the q165 LM. */
    Query("q_text_winnowing",
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         ), s AS (
           SELECT doc_id, list_transform(range(1, len(toks) - 2),
               i -> md5(array_to_string(toks[i : i + 3], ' '))) AS hs
           FROM t WHERE len(toks) >= 7
         ), f AS (
           SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(hs) - 2),
               j -> list_aggregate(hs[j : j + 3], 'min')))) AS fp
           FROM s
         ), q AS (
           SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           FROM f GROUP BY fp
         )
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
           CAST(count(*) FILTER (WHERE n_docs >= 2) AS BIGINT) AS n_shared,
           min(fp) AS min_fp
         FROM f JOIN q USING (fp)
         GROUP BY doc_id ORDER BY doc_id""")((s, d) => {
      // the fingerprint relation is consumed TWICE (freq side + doc
      // side of the join) — without materialization the array kernel
      // runs twice per execution. It is also the STORED INDEX of the
      // scheme (production maintains it incrementally like the signed
      // LSH index), so it is session-memoized per the q50/q170
      // pair-relation convention.
      val fps = Memos.frame(s, d, "round12/winnowFps") {
        val f = winnowFingerprints(documents(s, d), "doc_id", "text",
          k = 4, w = 4).persist()
        f.count()
        f
      }
      val freq = fps.groupBy("fp")
        .agg(count_distinct(col("doc_id")).as("n_docs"))
      fps.join(freq, "fp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"),
          count_if(col("n_docs") >= 2).as("n_shared"),
          min(col("fp")).as("min_fp"))
        .orderBy("doc_id")
    }),

    /** q189: SQL-TEXT FRONT-END — the other entry point a reference
      * user expects: register the tables as temp views and run a
      * QUERY STRING through spark.sql (TPC-H Q3 shape adapted to the
      * fixture schema: top-10 'BUILDING' orders by unshipped revenue
      * around a date cut). The string goes through the full
      * parser → analyzer → Catalyst path — a parser or analyzer
      * regression fails this row even when the DataFrame-API rows
      * stay green. Determinism: the Dec idiom inline in SQL (exact
      * decimal revenue, one double cast), LIMIT only after a total
      * order with the unique orderkey tiebreak (rule D6). */
    Query("q_sql_text_frontend",
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
         LIMIT 10""")((s, d) => {
      lineitem(s, d).createOrReplaceTempView("g189_lineitem")
      orders(s, d).createOrReplaceTempView("g189_orders")
      customer(s, d).createOrReplaceTempView("g189_customer")
      s.sql("""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
            CAST(1 - l_discount AS DECIMAL(8,4))) AS DECIMAL(18,4))
            AS DOUBLE) AS revenue
        FROM g189_lineitem
        JOIN g189_orders ON l_orderkey = o_orderkey
        JOIN g189_customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
          AND l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10""")
    }),

    /** q190: HLL SKETCH BUILD / STORE / UNION [N] — the mergeable
      * approximate-distinct pattern every 100 TB lake uses for
      * pre-aggregation: per event day an hll_sketch_agg(user_id)
      * DataSketches sketch (a BINARY column — the storable,
      * re-mergeable artifact, unlike q23's scalar estimate), the
      * daily sketches round-tripped through parquet (the stored
      * rollup table), then hll_union_agg merges the stored sketches
      * into the ALL estimate without touching raw events again.
      * Deterministic for a fixed input set (HLL registers are
      * order-independent maxima; lgConfigK pinned at 12) but not
      * cross-engine — oracle=none; Round12bSpec pins per-day and
      * union estimates within 5% of the exact distincts and that the
      * union estimate is served from the stored sketches alone. */
    Query("q_agg_sketch_union")((s, d) => Memos.frame(s, d,
        "round12/hllSketches") {
      val path = s"${Memos.scratchDir(s, d, "r12")}/hll_daily"
      events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        .write.mode("overwrite").parquet(path)
      val stored = s.read.parquet(path)
      val perDay = stored.select(col("day").cast("string").as("scope"),
        expr("CAST(hll_sketch_estimate(sk) AS BIGINT)").as("est_users"))
      val all = stored.agg(
        expr("CAST(hll_sketch_estimate(hll_union_agg(sk, false)) AS BIGINT)")
          .as("est_users"))
        .select(lit("ALL").as("scope"), col("est_users"))
      perDay.unionByName(all).orderBy("scope").localCheckpoint()
    }),

    /** q191: SIGNED INCREMENTAL CHUNK DEDUP [P §3] — q181's duplicate
      * chunk groups maintained under the corpus delta (q125/q134
      * doc_id%10 convention) through the GENERIC group-level
      * recompute combinator with group = chunk hash: untouched
      * hashes' groups pass through (production: the partials store),
      * and exactly the hashes occurring in any inserted or deleted
      * doc re-derive from the post-delta occurrence relation. The
      * affected-hash set is delta-proportional (chunks of the delta
      * docs only) and broadcast. Oracle = the batch chunker over the
      * post-delta corpus — maintenance must be result-invisible. */
    Query("q_incr_chunks",
      // q190 is oracle=none (DataSketches HLL is not cross-engine);
      // Round12bSpec pins estimate accuracy and stored-sketch serving.
      // q191's oracle: the batch chunker over the POST-DELTA corpus —
      // the group-level maintenance must be result-invisible.
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents
           WHERE doc_id % 10 <> 1
         ), x AS (
           SELECT doc_id, unnest(range(0, len(toks) // 16)) AS ci, toks
           FROM t WHERE len(toks) >= 16
         ), c AS (
           SELECT doc_id,
             md5(array_to_string(toks[ci * 16 + 1 : ci * 16 + 16], ' ')) AS h
           FROM x
         )
         SELECT h, CAST(count(*) AS BIGINT) AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_id
         FROM c GROUP BY h
         HAVING count(DISTINCT doc_id) >= 2 ORDER BY h""")((s, d) => {
      val delta = Delta.tenWay(documents(s, d), "doc_id")
        .map(chunkOccurrences(_, "doc_id", "text", chunkTokens = 16))
      Maintain.groupRecompute(delta.base, delta.post, Seq("h"),
          delta.touchedKeys("h"))(chunkGroupsOf)
        .orderBy("h")
    }),

    /** q193: STREAMING DEDUP OF AT-LEAST-ONCE DELIVERY — the input
      * half of the exactly-once story (q177/q178 covered the sink
      * half): every landing file is delivered TWICE (the duplicate
      * delivery every at-least-once ingestion pipeline produces),
      * and the stream recovers exactly-once semantics with
      * watermarked stateful dropDuplicates on (event_id, ts) before
      * the windowed aggregate. Every duplicate copy lands in a LATER
      * micro-batch than its original (all originals land first, all
      * copies after): the second copy is either
      * state-deduplicated (ts ≥ watermark — state retained) or
      * dropped as late (ts < watermark) — BOTH paths erase it, and
      * both now cross a real batch boundary, so every event
      * aggregates exactly once and the sink equals the closed-window
      * function of the DISTINCT events, which is what the oracle
      * computes over the original table. Runs once per (session,
      * fixture); appId-isolated scratch. 4-partition state +
      * 4-files-per-trigger — 3 micro-batches (originals, duplicates,
      * flush) prove the contract. */
    Query.stream("q_stream_dedup",
      // q193's oracle: the closed-window aggregate over the ORIGINAL
      // (distinct) events — the duplicated landing plus the stateful
      // dedup must be result-invisible; a survived duplicate inflates a
      // count, a lost original deflates one, either flips the hash.
      """WITH mx AS (
           SELECT max(ts) AS m FROM events
         ), agg AS (
           SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             event_type, count(*) AS n
           FROM events GROUP BY 1, 2
         )
         SELECT day, event_type, CAST(n AS BIGINT) AS n
         FROM agg, mx
         WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY
               <= m - INTERVAL 10 MINUTE
         ORDER BY day, event_type""")((s, d) => Memos.frame(s, d,
        "round12/streamDedup")(
        graft.stream.Streams.smallStateConf(s) {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val root = graft.stream.Streams.freshRoot(s,
        s"${Memos.scratchDir(s, d, "r12")}/sdedup")
      val (stage, src, ck, out) = (s"$root/stage", s"$root/src",
        s"$root/ck", s"$root/out")
      val norm = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      norm.repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(stage)
      val parts = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      new java.io.File(src).mkdirs()
      parts.zipWithIndex.foreach { case (f, i) =>
        // all originals (a, mtimes 0..3) strictly before all
        // duplicate copies (b, mtimes 4..7): with 4 files per
        // trigger, batch 1 = the distinct events, batch 2 = pure
        // duplicate redelivery against batch-1 state/watermark
        for ((tag, off) <- Seq(("a", 0), ("b", parts.length))) {
          val dst = Paths.get(src, s"dup${tag}_${f.getName}")
          Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
          dst.toFile.setLastModified(1700000000000L + (off + i) * 60000L)
        }
      }
      graft.stream.Streams.runAvailableNow(s.readStream.schema(norm.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "4")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates("event_id", "ts")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("date").as("day"),
          col("event_type"), col("n"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append"))
      s.read.parquet(out).orderBy("day", "event_type").localCheckpoint()
    })),

    /** q194: HITS HUB/AUTHORITY (integer form) — the other classic
      * link-analysis algorithm beside PageRank (q41), on the q170
      * memoized bipartite part↔supplier graph: hubs = parts,
      * authorities = suppliers. Declared in its UNNORMALIZED integer
      * form — per-step normalization is a positive scalar, so two
      * unnormalized iterations produce the SAME RANKING as two HITS
      * iterations while every score stays an exact BIGINT path count
      * (auth₁ = distinct-part degree; hub₁ = Σ auth₁ over the part's
      * suppliers; auth₂ = Σ hub₁ — 3-step path counts), making the
      * row hashable where float HITS would be FP-order-sensitive
      * (the q41 scaled-integer lesson applied to HITS). Top-20 by
      * auth₂ with the unique suppkey tiebreak (D6). */
    Query("q_graph_hits",
      """WITH e AS (
           SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem
         ), a1 AS (
           SELECT sk, CAST(count(*) AS BIGINT) AS auth1 FROM e GROUP BY sk
         ), h1 AS (
           SELECT p, CAST(sum(auth1) AS BIGINT) AS h1
           FROM e JOIN a1 USING (sk) GROUP BY p
         ), a2 AS (
           SELECT sk, CAST(sum(h1) AS BIGINT) AS auth2
           FROM e JOIN h1 USING (p) GROUP BY sk
         )
         SELECT sk AS suppkey, auth1, auth2
         FROM a2 JOIN a1 USING (sk)
         ORDER BY auth2 DESC, suppkey LIMIT 20""")((s, d) => {
      val e = Round11b.bipartiteEdges(s, d)
      val auth1 = e.groupBy("sk").agg(count(lit(1)).as("auth1"))
      val hub1 = e.join(auth1, "sk")
        .groupBy("p").agg(sum("auth1").as("h1"))
      val auth2 = e.join(hub1, "p")
        .groupBy("sk").agg(sum("h1").as("auth2"))
      auth2.join(auth1, "sk")
        .select(col("sk").as("suppkey"), col("auth1"), col("auth2"))
        .orderBy(col("auth2").desc, col("suppkey"))
        .limit(20)
    }),

    /** q195: INCREMENTAL EXACT MEDIAN [P §3] — the q192 value-count
      * state put to work on an ORDER STATISTIC: exact median per
      * priority maintained under the fact delta. Min/max partials and
      * sketches cannot give an exact median under DELETION; the
      * per-(group, value) count state can — median = the k₁/k₂-th
      * values by cumulative count over the state, k = (n+1)÷2 and
      * (n+2)÷2, then ONE IEEE interpolation v₁ + (v₂−v₁)·0.5
      * (identical to both engines' exact-percentile arithmetic,
      * q182's argument). The cumulative window runs over the
      * NDV-sized STATE, not the corpus — the whole point of keeping
      * value counts. Delta convention: o_orderkey%10==0 insert,
      * ==1 delete. Oracle = DuckDB median over the post-delta table. */
    Query("q_incr_median",
      // q195's oracle: DuckDB's exact median over the POST-DELTA table —
      // the value-count-state maintenance and the k-th-by-cumulative-
      // count derivation must reproduce the engine median bitwise.
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
           median(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS median_cents
         FROM orders WHERE o_orderkey % 10 <> 1
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")((s, d) => {
      val o = orders(s, d)
        .withColumn("cents", (dec2(col("o_totalprice")) * 100).cast("long"))
      val delta = Delta.tenWay(o, "o_orderkey").map(
        _.groupBy(col("o_orderpriority"), col("cents"))
          .agg(count(lit(1)).as("n")))
      // A/B NOTE: memoizing the base partials (the q212
      // band_partials pattern) was tried and REVERTED — the three
      // union branches share ONE orders scan in a single stage here,
      // and splitting the base branch onto an InMemory relation broke
      // the shared scan into more stages/jobs (11 -> 18 warm) with no
      // wall win. The per-invocation base aggregation IS the cheap
      // shape at this plan size.
      val state = Maintain.signedMerge(Seq("o_orderpriority", "cents"),
        Seq("n"), Seq(delta.base, delta.inserts), Seq(delta.deletes))(
        col("n") > 0)
      val w = Window.partitionBy("o_orderpriority").orderBy("cents")
      val totals = state.groupBy("o_orderpriority")
        .agg(sum(col("n")).as("n_rows"))
      val cum = state.withColumn("cum", sum(col("n")).over(w))
        .join(totals, "o_orderpriority")
      def kth(k: Column, alias: String) =
        cum.filter(col("cum") >= k).groupBy("o_orderpriority")
          .agg(min(col("cents")).as(alias))
      kth(expr("(n_rows + 1) div 2"), "v1")
        .join(kth(expr("(n_rows + 2) div 2"), "v2"), "o_orderpriority")
        .join(totals, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_rows"),
          (col("v1").cast("double") +
            (col("v2") - col("v1")).cast("double") * 0.5)
            .as("median_cents"))
        .orderBy("o_orderpriority")
    }),

    /** q196: NULL-AWARE ANTI JOIN — `NOT IN (subquery)` under
      * three-valued logic, the classic SQL footgun pinned as a
      * declared row: the 'no_null' branch is a plain anti join
      * (non-null subquery), while the 'with_null' branch injects one
      * NULL into the subquery and must return ZERO rows — x NOT IN
      * (…, NULL) is never TRUE. Catalyst plans this as the
      * null-aware anti join (broadcast single-column NAAJ /
      * BroadcastNestedLoopJoin), a different physical operator from
      * q13's LeftAnti — both engines implement the same standard
      * semantics, so the hash pins them. Runs through spark.sql
      * (NOT IN is not expressible in the Column DSL). */
    Query("q_join_null_aware_anti",
      """SELECT 'no_null' AS variant, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
         FROM lineitem
         WHERE l_suppkey NOT IN
           (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
         UNION ALL
         SELECT 'with_null', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT l_suppkey) AS BIGINT)
         FROM lineitem
         WHERE l_suppkey NOT IN
           (SELECT CASE WHEN s_acctbal <= 5000 THEN NULL
                        ELSE s_suppkey END
            FROM supplier)
         ORDER BY variant""")((s, d) => {
      lineitem(s, d).createOrReplaceTempView("g196_lineitem")
      supplier(s, d).createOrReplaceTempView("g196_supplier")
      s.sql("""
        SELECT 'no_null' AS variant, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        FROM g196_lineitem
        WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM g196_supplier WHERE s_acctbal > 5000)
        UNION ALL
        SELECT 'with_null', CAST(count(*) AS BIGINT),
          CAST(count(DISTINCT l_suppkey) AS BIGINT)
        FROM g196_lineitem
        WHERE l_suppkey NOT IN
          (SELECT CASE WHEN s_acctbal <= 5000 THEN NULL
                       ELSE s_suppkey END
           FROM g196_supplier)
        ORDER BY variant""")
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
      val scratch = s"${Memos.scratchDir(s, d, "r12")}/nation_txt"
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

    /** q198: TOP-K PER GROUP VIA THE TIER-(c) CUSTOM OPERATOR — the
      * top-3 lineitems per return flag by price, executed by
      * [[graft.plans.TopKPerGroupExec]]: per-input-partition bounded
      * heaps shuffle AT MOST |groups|·k·|partitions| rows (3·3·32 =
      * 288 at sf0.1) where q29's window form shuffles and sorts all
      * 600 000 — the custom LogicalPlan/SparkStrategy/SparkPlan
      * extension path demonstrated on a declared, oracle-hashed row.
      * Sort order is TOTAL ((price desc, orderkey, linenumber) —
      * the operator's determinism contract), so the oracle's
      * row_number window computes the identical set; `Round12cSpec`
      * additionally proves operator ≡ window form on random frames
      * and pins the physical plan. */
    Query("q_topk_native",
      // q198's oracle: the window formulation — the custom operator
      // must produce exactly the rows row_number() <= k selects under
      // the same total order.
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
         FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
               AS rn
           FROM lineitem
         ) t WHERE rn <= 3
         ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey,
           l_linenumber""")((s, d) => {
      val li = lineitem(s, d).select(col("l_returnflag"),
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      graft.Graft.topKPerGroup(li, Seq("l_returnflag"),
          Seq(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber")), k = 3)
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    }),

    /** q199: COST-BASED TOP-K SELECTOR — `Graft.autoTopK`, the
      * q160/q161 selector pattern applied to the tier-(c) operator:
      * one aggregate pass costs the operator's shuffle volume
      * (|groups|·k·|partitions|) against the window form's (|rows|)
      * BEFORE committing to a plan, and the decision rides in the
      * output under the oracle hash. On the fixture the returnflag
      * grouping (3 groups) sits ≥ 60× under the advantage bar at
      * every oracle SF, so the selector must pick 'native' and
      * reproduce q198's rows exactly; `Round12cSpec` pins the margin
      * (so fixture drift fails a named assertion, not an opaque
      * hash), proves q199 ≡ q198 + 'native', and exercises the
      * window branch at a forced advantage where both branches'
      * rows must STILL agree (total order ⇒ plan-invisible). */
    Query("q_topk_auto",
      // q199's oracle: the window formulation + the committed decision.
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
           'native' AS plan
         FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
               AS rn
           FROM lineitem
         ) t WHERE rn <= 3
         ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey,
           l_linenumber""")((s, d) => {
      val li = lineitem(s, d).select(col("l_returnflag"),
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      graft.Graft.autoTopK(li, Seq("l_returnflag"),
          Seq(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber")), k = 3)
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    }),

    /** q200: NATIVE SESSION WINDOWS IN BATCH — Spark's
      * `session_window(ts, gap)` aggregate (the Structured-Streaming
      * session primitive, q59's engine) run as a BATCH plan and
      * hash-checked against the gaps-and-islands formulation q111
      * derives by hand: per (user, session) the event count, exact
      * session span in µs, and the session-start instant. Session
      * boundaries are a pure function of the event multiset (merge
      * 30-min-overlapping intervals), so the two formulations must
      * agree row for row — this pins the ENGINE's session-merge
      * semantics to the portable SQL definition, completing the
      * batch/stream symmetry story (same session_window call runs
      * under readStream in StreamingSpec). One user-keyed shuffle
      * like every sessionize. */
    Query("q_win_session_native",
      // q200's oracle: the same sessions derived by hand via
      // gaps-and-islands — session_window's engine-side interval merge
      // must reproduce the portable SQL definition exactly.
      """WITH e AS (
           SELECT user_id, ts, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts) AS prev_us
           FROM events
         ), flagged AS (
           SELECT user_id, ts, us,
             -- session_window extends a session through a gap of
             -- EXACTLY the gap duration (inclusive merge — verified by
             -- Round12bSpec's synthetic exact-gap case), matching
             -- q111's <= convention: break only on gap > 30 min
             CASE WHEN prev_us IS NULL
                    OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk
           FROM e
         ), grp AS (
           SELECT user_id, ts, us,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged
         )
         SELECT user_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(us) - min(us) AS BIGINT) AS span_us
         FROM grp GROUP BY user_id, sid
         ORDER BY user_id, session_start""")((s, d) => {
      events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("span_us"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"), col("span_us"))
        .orderBy("user_id", "session_start")
    }),

    /** q192: INCREMENTAL COLUMN PROFILING [P §3] — q185's ANALYZE
      * stats maintained under a fact-table delta from per-value count
      * state (the paper's preserved state, wordcount-shaped per
      * column): inserts increment a value's count, deletes decrement,
      * zero counts vanish — and every profile statistic is then a
      * fold over the NDV-sized state, never the corpus: n_rows = Σn,
      * NDV = |state| (EXACTLY maintained under deletion, which plain
      * min/max/HLL cannot do), min/max over surviving values, exact
      * decimal sum as Σ v·n. The honest cost is state size = NDV per
      * column; the approximate alternative with O(1) state is the
      * mergeable HLL rollup (q190) — insert-only. Delta convention:
      * l_orderkey%10==0 insert, ==1 delete (the doc-family rule on
      * the fact key). Oracle = the batch profile over the post-delta
      * table. The BASE per-value counts are the row's stored state
      * (exactly what a production run reads back from the partials
      * store), so they ride the session memo like aprioriBaseState —
      * the per-invocation work is then the two delta-sized
      * aggregations plus the NDV-sized merge and fold per column. */
    Query("q_incr_profile",
      // q192's oracle: the batch per-column profile over the POST-DELTA
      // fact table — the value-count state maintenance must be
      // result-invisible.
      """WITH post AS (
           SELECT * FROM lineitem WHERE l_orderkey % 10 <> 1
         ), p AS (
           SELECT 'l_quantity' AS col_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
             min(l_quantity) AS min_v, max(l_quantity) AS max_v,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
           FROM post
           UNION ALL
           SELECT 'l_extendedprice',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_extendedprice) AS BIGINT),
             min(l_extendedprice), max(l_extendedprice),
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           FROM post
           UNION ALL
           SELECT 'l_discount',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_discount) AS BIGINT),
             min(l_discount), max(l_discount),
             CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
           FROM post
           UNION ALL
           SELECT 'l_tax',
             CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_tax) AS BIGINT),
             min(l_tax), max(l_tax),
             CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE)
           FROM post
         )
         SELECT * FROM p ORDER BY col_name""")((s, d) => {
      val delta = Delta.tenWay(lineitem(s, d), "l_orderkey")
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map { c =>
          val baseCounts = Memos.frame(s, d, s"round12/profileBase:$c")(
            valueCounts(delta.base, c).persist())
          profileOfState(valueCountStateFrom(baseCounts, delta.inserts,
            delta.deletes, c), c)
        }
        .reduce(_ unionByName _)
        .orderBy("col_name")
    })
  )
}
