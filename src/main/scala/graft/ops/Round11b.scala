package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Memos, Query}
import graft.engine.Tables._
import graft.engine.Dec._
import graft.incr.{Delta, Maintain}

/** Round-11 second/third/fourth batches (SURVEY §2 rows 162-174): declared
  * queries that widen the relational surface (window distribution
  * functions, multi-distinct aggregation, min_by/max_by, event
  * pathing + dwell, 2-hop graph) and add curation/incremental
  * capabilities a training-data pipeline runs corpus-wide (bigram-LM
  * rarity scoring, temperature-based language rebalancing, signed
  * incremental pathing). Every row here is oracle=SQL — fully
  * deterministic cross-engine: counts and durations are exact
  * integers, every emitted double is the result of ONE IEEE operation
  * sequence identical in both engines (a single division, or
  * floor(sqrt(a/b)*2^16) where the *2^16 step is an exact exponent
  * shift), rarity thresholds compare integers (32*c2 < c1), and
  * arg-min/max ordering keys are made UNIQUE integers so ties cannot
  * exist.
  *
  * The reference tree at /root/reference is absent (SURVEY.md §0);
  * semantics follow SURVEY §2 rows 162-174.
  */
object Round11b {

  /** Distinct bipartite (part, supplier) edge relation — q170's
    * structure data, session-memoized like [[graft.iter.Graphs]]'
    * symmetric graph (which canonicalizes endpoints and so cannot
    * serve the bipartite shape). Persisted: the self-join reads it
    * twice per execution. */
  private[ops] def bipartiteEdges(s: SparkSession, d: String): DataFrame =
    Memos.frame(s, d, "round11b/bipartite") {
      val e = lineitem(s, d)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
        .distinct().persist()
      e.count() // materialize so both join sides read cached rows
      e
    }

  /** GENERIC transition matrix (the q163 shape on caller columns):
    * per-`userCol` timeline ordered by (`tsCol`, `tieCol`), the
    * (`typeCol` → next) transition counts. One user-keyed window
    * sort; the aggregate is |types|²-bounded. Used by q163/q169 and
    * exposed on [[graft.Graft.transitionMatrix]]. */
  def transitionMatrix(ev: DataFrame, userCol: String, tsCol: String,
                       tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(tsCol, tieCol)
    ev.withColumn("next_type", lead(col(typeCol), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(typeCol, "next_type")
      .agg(count(lit(1)).as("n_transitions"))
  }

  private def transitionsOf(ev: DataFrame): DataFrame =
    transitionMatrix(ev, "user_id", "ts", "event_id", "event_type")

  /** GENERIC temperature rebalance (q166's filter on caller columns):
    * keeps each `classCol` group at acceptance rate √(c_min/c_class)
    * via the seed-free md5(idCol)-prefix threshold. Returns the
    * surviving rows with `c_docs` (pre-count) and `t_int` (threshold)
    * attached. Map-side once the O(|classes|) rate relation
    * broadcasts — the corpus never shuffles to be sampled. */
  def temperatureRebalance(df: DataFrame, classCol: String,
                           idCol: String): DataFrame = {
    val counts = df.groupBy(classCol).agg(count(lit(1)).as("c_docs"))
    val cmin = counts.agg(min(col("c_docs")).as("c_min"))
    val rates = counts.crossJoin(broadcast(cmin))
      .withColumn("t_int",
        floor(sqrt(col("c_min").cast("double") /
            col("c_docs").cast("double")) * lit(65536.0)).cast("long"))
      .withColumn("t_hex", lpad(lower(hex(col("t_int"))), 4, "0"))
    df.withColumn("h4",
        substring(md5(col(idCol).cast("string").cast("binary")), 1, 4))
      .join(broadcast(rates), Seq(classCol))
      .filter(col("c_docs") === col("c_min") || col("h4") < col("t_hex"))
      .drop("h4", "t_hex", "c_min")
  }

  /** GENERIC balanced class sample (q171's filter on caller columns):
    * exact per-class downsampling to the minority class size, rows
    * ranked by md5(idCol) + id tie-break within each class. Each
    * class sorts independently — no global order. Returns the
    * surviving rows. */
  def balancedSample(df: DataFrame, classCol: String,
                     idCol: String): DataFrame = {
    val cmin = df.groupBy(classCol).agg(count(lit(1)).as("c_n"))
      .agg(min(col("c_n")).as("c_min"))
    val w = Window.partitionBy(classCol)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(cmin))
      .filter(col("rn") <= col("c_min"))
      .drop("rn", "c_min")
  }

  /** GENERIC activity streaks (q172 on caller columns): per
    * `userCol`, islands of consecutive active days derived from
    * `tsCol` — (user, n_active_days, n_streaks, longest_streak). */
  def activityStreaks(ev: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy("day")
    ev.select(col(userCol), to_date(col(tsCol)).as("day")).distinct()
      .withColumn("dnum",
        datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
      .withColumn("grp", col("dnum") - row_number().over(w))
      .groupBy(userCol, "grp").agg(count(lit(1)).as("len"))
      .groupBy(userCol)
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
  }

  /** GENERIC nearest as-of join (q174 on caller columns): for each
    * left row, the same-`key` right row nearest in absolute time —
    * millisecond distance, sub-ms ties by right id; the argmin rides
    * ONE min() of the exact composite integer |Δt|ms·10^7 + r_id
    * (div/mod recovery — never FP, the key exceeds 2^53). Output
    * (l_id, key, r_id, diff_ms). Right ids must be < 10^7. */
  def nearestAsofJoin(left: DataFrame, lId: String, lTs: String,
                      right: DataFrame, rId: String, rTs: String,
                      key: String): DataFrame = {
    val l = left.select(col(lId).as("l_id"), col(key),
      unix_micros(col(lTs)).as("l_us"))
    val r = right.select(col(rId).as("r_id"), col(key),
      unix_micros(col(rTs)).as("r_us"))
    l.join(r, key)
      .groupBy(col("l_id"), col(key))
      .agg(min(expr("abs(r_us - l_us) div 1000") * lit(10000000L)
        + col("r_id")).as("mk"))
      .select(col("l_id"), col(key),
        (col("mk") % 10000000L).as("r_id"),
        expr("mk div 10000000").as("diff_ms"))
  }

  /** GENERIC bigram-LM rarity scoring (q165 on caller columns): per
    * doc the bigram count, occurrences rarer than 1/`rarityDenom`
    * under the corpus's own bigram LM (INTEGER threshold test), and
    * the min conditional probability. */
  def lmRarity(docs: DataFrame, idCol: String, textCol: String,
               rarityDenom: Int = 32): DataFrame = {
    val b = docs
      .withColumn("toks", split(col(textCol), " "))
      .filter(size(col("toks")) >= 2)
      .select(col(idCol),
        explode(expr(
          """transform(sequence(1, size(toks) - 1),
               i -> named_struct('w1', element_at(toks, i),
                                 'w2', element_at(toks, i + 1)))"""))
        .as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = b.groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
    val c1 = b.groupBy("w1").agg(count(lit(1)).as("cnt1"))
    val lm = c2.join(c1, "w1")
    b.join(lm, Seq("w1", "w2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt2") * rarityDenom < col("cnt1"), 1L)
          .otherwise(0L)).as("n_rare"),
        min(col("cnt2").cast("double") / col("cnt1").cast("double"))
          .as("min_p"))
  }

  val queries: Seq[Query] = Seq(

    /** q162: WINDOW DISTRIBUTION FUNCTIONS — percent_rank + cume_dist
      * of each order's price within its priority class. Completes the
      * ranking-window family (q26 rank/dense_rank, q71 ntile) with the
      * two relative-position functions: percent_rank = (rank-1)/(n-1)
      * and cume_dist = |peers ≤ x| / n, each ONE IEEE division of two
      * exact integers, tie rows receiving identical values in both
      * engines. One window sort per priority partition — the same
      * shuffle any ranked window pays; nothing extra at 100 TB. */
    Query("q_win_cume_dist",
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
           percent_rank() OVER
             (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS pr,
           cume_dist() OVER
             (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS cd
         FROM orders WHERE o_custkey < 200
         ORDER BY o_orderpriority, o_orderkey""")((s, d) => {
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
      orders(s, d).filter(col("o_custkey") < 200)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    /** q163: EVENT PATHING — the user-journey transition matrix:
      * for each (event_type -> next event_type) step observed in any
      * user's timeline, the number of transitions and of distinct
      * users taking it. The per-user next step is lead() over the
      * user's (ts, event_id) order — ONE user-keyed window sort (the
      * sessionize shuffle, reused shape), then a tiny
      * |types|²-bounded aggregate. The product analytics primitive
      * behind funnels (q88) generalized to ALL pairs. Integer
      * counts end to end. */
    Query("q_events_pathing",
      """WITH nxt AS (
           SELECT user_id, event_type,
             lead(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
           FROM events
         )
         SELECT event_type, next_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM nxt WHERE next_type IS NOT NULL
         GROUP BY event_type, next_type
         ORDER BY event_type, next_type""")((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n_transitions"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("event_type", "next_type")
    }),

    /** q164: MULTI-DISTINCT AGGREGATION — three count(DISTINCT ...)
      * over DIFFERENT columns in one aggregate, plus a plain count.
      * This is the one aggregate shape Catalyst cannot serve with a
      * single hash-agg: RewriteDistinctAggregates expands each row
      * once per distinct group (an Expand node) and re-aggregates —
      * the declared row pins that the expand-based plan produces
      * exactly the naive per-column answer. At 100 TB the expand
      * multiplies the shuffle by the number of distinct clauses;
      * the scaladoc'd alternative when approximation is acceptable
      * is one pass of approx_count_distinct (q23). */
    Query("q_agg_distinct_multi",
      """SELECT l_linestatus,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_rows
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")((s, d) => {
      lineitem(s, d).groupBy("l_linestatus")
        .agg(count_distinct(col("l_partkey")).as("n_parts"),
          count_distinct(col("l_suppkey")).as("n_supps"),
          count_distinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_linestatus")
    }),

    /** q165: BIGRAM-LM RARITY SCORING [N] — the KenLM-style quality
      * signal production corpus filters cut on: score every document
      * against the n-gram language model of the corpus ITSELF. The
      * conditional probability of each bigram occurrence is
      * p(w2|w1) = c(w1,w2) / c(w1·) over bigram positions; per doc we
      * report the bigram count, the number of RARE occurrences, and
      * the minimum conditional probability. Determinism by
      * construction: the rare test is the INTEGER comparison
      * 32*c2 < c1 (p < 1/32 without any float at the threshold —
      * chosen between the fixture's Q1 and median conditional
      * probability so the column discriminates), and
      * min_p is a min over values each produced by one IEEE division
      * — min is order-independent, so partial aggregation cannot
      * perturb it. Corpus-scale shape: two partial-aggregated counts
      * build the LM (vocabulary-bounded, far smaller than the
      * corpus), then one join of bigram occurrences to the LM keyed
      * on the bigram; at 100 TB the LM is pruned to min-count and
      * broadcast so the corpus never shuffles twice. Docs under two
      * tokens carry no bigram and drop out (identically in the
      * oracle via the empty range()). */
    Query("q_text_lm_rarity",
      """WITH bb AS (
           SELECT doc_id,
             unnest(list_transform(range(1, len(toks)), i -> toks[i]))
               AS w1,
             unnest(list_transform(range(1, len(toks)), i -> toks[i + 1]))
               AS w2
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents) t
         ), c2 AS (
           SELECT w1, w2, count(*) AS cnt2 FROM bb GROUP BY w1, w2
         ), c1 AS (
           SELECT w1, count(*) AS cnt1 FROM bb GROUP BY w1
         )
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN cnt2 * 32 < cnt1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_rare,
           min(CAST(cnt2 AS DOUBLE) / CAST(cnt1 AS DOUBLE)) AS min_p
         FROM bb JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         GROUP BY doc_id ORDER BY doc_id""")((s, d) =>
      lmRarity(documents(s, d), "doc_id", "text", rarityDenom = 32)
        .orderBy("doc_id")),

    /** q166: TEMPERATURE-BASED LANGUAGE REBALANCING [N] — the
      * multilingual mixing step of a training pipeline: downsample
      * each language toward balance with acceptance rate
      * r_l = sqrt(c_min / c_l) (temperature α = 0.5 flattening; the
      * smallest language keeps everything, a 100× language keeps
      * 10% — the fixture's en/fr skew is 3.4×, so en visibly thins).
      * Seed-free and cluster-size-independent like q77/q113: a doc
      * survives iff the first 4 hex chars of md5(doc_id) fall under
      * the language's threshold floor(r_l · 2^16) — a map-side
      * filter once the O(|langs|) rate relation is broadcast, so the
      * corpus never shuffles to be sampled. Rate determinism:
      * c_min/c_l is one IEEE division, sqrt is IEEE-exact, ·2^16 is
      * an exact exponent shift, floor exact — both engines compute
      * the same integer threshold; the md5-prefix comparison is
      * string-equal across engines (q77 contract). The c_l = c_min
      * language is kept by the explicit equality branch (its
      * threshold 2^16 has no 4-hex representation). Output: per
      * language the pre-count, threshold, kept count/chars and min
      * kept doc. */
    Query("q_sample_temperature",
      """WITH c AS (
           SELECT lang, count(*) AS c_docs FROM documents GROUP BY lang
         ), m AS (
           SELECT min(c_docs) AS c_min FROM c
         ), r AS (
           SELECT lang, c_docs, c_min,
             CAST(floor(sqrt(CAST(c_min AS DOUBLE) / CAST(c_docs AS DOUBLE))
               * 65536.0) AS BIGINT) AS t_int
           FROM c, m
         ), r2 AS (
           SELECT lang, c_docs, c_min, t_int,
             lpad(lower(to_hex(t_int)), 4, '0') AS t_hex
           FROM r
         )
         SELECT lang, c_docs, t_int,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           min(doc_id) AS min_doc
         FROM documents JOIN r2 USING (lang)
         WHERE c_docs = c_min
            OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < t_hex
         GROUP BY lang, c_docs, t_int
         ORDER BY lang""")((s, d) =>
      temperatureRebalance(documents(s, d), "lang", "doc_id")
        .groupBy(col("lang"), col("c_docs"), col("t_int"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("min_doc"))
        .orderBy("lang")),

    /** q167: DWELL-TIME ANALYTICS — per event type, how long users
      * linger before their next action: transition count, exact
      * BIGINT total wait in µs, max wait, and mean wait as ONE IEEE
      * division of the exact sum by the exact count. The same
      * user-keyed window sort as pathing/sessionize; integer µs
      * arithmetic end to end, so partial-aggregation order cannot
      * perturb anything. */
    Query("q_events_dwell",
      """WITH e AS (
           SELECT event_type, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
           FROM events
         ), w AS (
           SELECT event_type, next_us - us AS wait_us
           FROM e WHERE next_us IS NOT NULL
         )
         SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(wait_us) AS BIGINT) AS total_wait_us,
           CAST(max(wait_us) AS BIGINT) AS max_wait_us,
           CAST(sum(wait_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS mean_wait_us
         FROM w GROUP BY event_type ORDER BY event_type""")((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("wait_us", col("next_us") - col("us"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("wait_us")).as("total_wait_us"),
          max(col("wait_us")).as("max_wait_us"),
          avgd(sum(col("wait_us")), count(lit(1))).as("mean_wait_us"))
        .orderBy("event_type")
    }),

    /** q168: ARG-MIN/ARG-MAX AGGREGATION — min_by/max_by: per order
      * priority, WHICH order carries the highest and lowest price.
      * The one thing that makes arg-extremes oracle-safe is a UNIQUE
      * ordering key: ties on raw price would leave both engines free
      * to return different orderkeys, so the key is the exact integer
      * cents·10^10 + orderkey (cents exact via DECIMAL(18,2)·100;
      * bounded ≪ 2^63) — total order, no ties, identical on both
      * engines. Single partial-aggregable pass (max_by is an ordinary
      * mergeable aggregate — no window, no shuffle beyond the
      * groupBy), which is exactly why it beats q29's row_number
      * window when only the extreme row is wanted at 100 TB. */
    Query("q_agg_min_max_by",
      """SELECT o_orderpriority,
           max_by(o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               * 10000000000 + o_orderkey) AS top_order,
           min_by(o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               * 10000000000 + o_orderkey) AS bottom_order,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS top_price,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS bottom_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")((s, d) => {
      val ordKey = (dec2(col("o_totalprice")) * 100).cast("long") *
        lit(10000000000L) + col("o_orderkey")
      orders(s, d).groupBy("o_orderpriority")
        .agg(max_by(col("o_orderkey"), ordKey).as("top_order"),
          min_by(col("o_orderkey"), ordKey).as("bottom_order"),
          dbl(max(dec2(col("o_totalprice")))).as("top_price"),
          dbl(min(dec2(col("o_totalprice")))).as("bottom_price"))
        .orderBy("o_orderpriority")
    }),

    /** q169: SIGNED INCREMENTAL PATHING [P §3] — q163's transition
      * matrix maintained under the event-family signed delta (inserts
      * = ts ≥ the cut, deletes = base events with event_id % 10 == 1,
      * the q140 shape). Transitions are USER-LOCAL, so the matrix is
      * a sum of per-user contributions and the group-level recompute
      * rule applies with user = group: the STORED matrix (production:
      * read back from the partials store) absorbs the delta as
      *   matrix_post = stored − contrib_base(affected)
      *                        + contrib_post(affected)
      * merged by SIGNED counts — the i2MapReduce '+/−' pair shape on
      * the (event_type, next_type) key. Deletion can re-link a user's
      * neighbors into a transition that never existed in the base
      * (the bridging-event argument from sessionize), which is why
      * the affected users re-derive from their full post-delta
      * timeline rather than patching edges. Delta-proportional: only
      * affected users' timelines are re-sorted; untouched users never
      * leave the stored aggregate. Oracle = the full lead-window
      * recompute over the post-delta log: signed maintenance must be
      * result-invisible. */
    Query("q_incr_pathing",
      // q169's oracle is q163's transition matrix over the POST-DELTA
      // event log: signed maintenance must be result-invisible.
      """WITH post AS (
           SELECT user_id, event_id, ts, event_type FROM events
           WHERE NOT (ts < TIMESTAMP '2024-01-20' AND event_id % 10 = 1)
         ), nxt AS (
           SELECT event_type,
             lead(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
           FROM post
         )
         SELECT event_type, next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
         FROM nxt WHERE next_type IS NOT NULL
         GROUP BY event_type, next_type
         ORDER BY event_type, next_type""")((s, d) => {
      val cut = lit("2024-01-20").cast("timestamp")
      val ev = events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"))
      val delta = Delta.cut(ev, col("ts") < cut, "event_id")
      val affected = broadcast(delta.touchedKeys("user_id"))
      def touchedTransitions(rows: DataFrame) =
        transitionsOf(rows.join(affected, Seq("user_id"), "left_semi"))
      // the STORED matrix — session-memoized like the rest of the
      // stored-state family (production reads it from the partials
      // store; it is immutable for a given base corpus)
      val stored = Memos.frame(s, d, "round11b/transBase") {
        val t = transitionsOf(delta.base).persist(); t.count(); t
      }
      Maintain.signedMerge(Seq("event_type", "next_type"), Seq("n_transitions"),
          Seq(stored, touchedTransitions(delta.post)),
          Seq(touchedTransitions(delta.base)))(col("n_transitions") > 0)
        .orderBy("event_type", "next_type")
    }),

    /** q170: 2-HOP GRAPH NEIGHBORHOOD — for each target part, the
      * distinct parts reachable through a shared supplier and the
      * number of co-listing paths, on the q41 lineitem bipartite
      * graph. The exact-baseline shape: distinct edges first (the
      * dedup that keeps the self-join linear in TRUE edges, not line
      * items), target side subset (part < 100) so the fan-out is
      * bounded and the filter pushes to the scan; the join keys on
      * supplier — the 100 TB skew guard is the documented salted-join
      * swap (q84) if one supplier dominates. Integer counts only. */
    Query("q_graph_2hop",
      """WITH e AS (
           SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem
         )
         SELECT a.p AS part,
           CAST(count(DISTINCT b.p) AS BIGINT) AS n_2hop,
           CAST(count(*) AS BIGINT) AS n_paths
         FROM e a JOIN e b ON a.sk = b.sk AND a.p <> b.p
         WHERE a.p < 100
         GROUP BY a.p ORDER BY a.p""")((s, d) => {
      val e = bipartiteEdges(s, d)
      e.filter(col("p") < 100).as("a")
        .join(e.as("b"), col("a.sk") === col("b.sk"))
        .filter(col("a.p") =!= col("b.p"))
        .groupBy(col("a.p").as("part"))
        .agg(count_distinct(col("b.p")).as("n_2hop"),
          count(lit(1)).as("n_paths"))
        .orderBy("part")
    }),

    /** q171: BALANCED CLASS SAMPLING [N] — exact per-class
      * downsampling to the minority class size (the complement of
      * q166's temperature FLATTENING: classification/eval sets want
      * exact balance, mixing wants flattening). Deterministic and
      * seed-free: within each label, rows rank by md5(vec_id) (the
      * q77 cross-engine hash contract; vec_id tie-break makes the
      * order total) and the first c_min survive. One label-keyed
      * window sort + a broadcast scalar — at 100 TB each label sorts
      * independently; no global order exists anywhere. Output is a
      * membership fingerprint per label (count + exact id sum +
      * min/max), so a single divergent kept-row flips the hash. */
    Query("q_sample_balanced",
      """WITH c AS (
           SELECT label, count(*) AS c_n FROM embeddings GROUP BY label
         ), m AS (
           SELECT min(c_n) AS c_min FROM c
         ), r AS (
           SELECT vec_id, label, row_number() OVER
             (PARTITION BY label
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
           FROM embeddings
         )
         SELECT label, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(vec_id) AS BIGINT) AS sum_ids,
           min(vec_id) AS min_id, max(vec_id) AS max_id
         FROM r, m WHERE rn <= c_min
         GROUP BY label ORDER BY label""")((s, d) =>
      balancedSample(embeddings(s, d).select(col("vec_id"), col("label")),
        "label", "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("vec_id")).as("sum_ids"),
          min(col("vec_id")).as("min_id"),
          max(col("vec_id")).as("max_id"))
        .orderBy("label")),

    /** q172: ACTIVITY STREAKS (gaps-and-islands) — per user, the
      * runs of CONSECUTIVE active days: total active days, number of
      * streaks, longest streak. The classic islands derivation —
      * day-number minus per-user row_number is constant within an
      * island — done per user, so each user's tiny distinct-day list
      * sorts locally; nothing is globally ordered at 100 TB. Integer
      * day arithmetic (datediff from a fixed epoch), UTC dates both
      * sides (session pinned / DuckDB naive). */
    Query("q_events_streaks",
      """WITH d AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
         ), g AS (
           SELECT user_id,
             CAST(day - DATE '2024-01-01' AS BIGINT)
               - CAST(row_number() OVER
                   (PARTITION BY user_id ORDER BY day) AS BIGINT) AS grp
           FROM d
         ), i AS (
           SELECT user_id, grp, count(*) AS len FROM g GROUP BY user_id, grp
         )
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak
         FROM i GROUP BY user_id ORDER BY user_id""")((s, d) =>
      activityStreaks(events(s, d), "user_id", "ts").orderBy("user_id")),

    /** q173: TIME-WINDOWED FUNNEL — q88's funnel with the conversion
      * CLOCK: per user, the first view, the first purchase at or
      * after it, and whether conversion landed inside 30 minutes
      * (1800000000 µs — integer µs comparison, no float). min() over
      * timestamps is deterministic; non-converting viewers keep a
      * NULL purchase and conv_30m = 0, identical on both engines.
      * Two filtered partial aggregates + one user-keyed join — the
      * conversion-window analytics shape at any scale. */
    Query("q_events_funnel_window",
      """WITH v AS (
           SELECT user_id, min(ts) AS first_view FROM events
           WHERE event_type = 'view' GROUP BY user_id
         ), p AS (
           SELECT v.user_id, v.first_view, min(e.ts) AS first_purchase
           FROM v LEFT JOIN events e
             ON e.user_id = v.user_id AND e.event_type = 'purchase'
            AND e.ts >= v.first_view
           GROUP BY v.user_id, v.first_view
         )
         SELECT user_id, first_view, first_purchase,
           CAST(CASE WHEN first_purchase IS NOT NULL
             AND epoch_us(first_purchase) - epoch_us(first_view)
                 <= 1800000000
             THEN 1 ELSE 0 END AS BIGINT) AS conv_30m
         FROM p ORDER BY user_id""")((s, d) => {
      val ev = events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("first_view"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      v.join(p, col("user_id") === col("p_user") &&
          col("p_ts") >= col("first_view"), "left")
        .groupBy("user_id", "first_view")
        .agg(min(col("p_ts")).as("first_purchase"))
        .withColumn("conv_30m",
          when(col("first_purchase").isNotNull &&
            unix_micros(col("first_purchase")) -
              unix_micros(col("first_view")) <= 1800000000L, 1L)
            .otherwise(0L))
        .orderBy("user_id")
    }),

    /** q174: NEAREST AS-OF JOIN — q16's as-of join completed with
      * NEAREST semantics (absolute time distance, either direction):
      * each error event finds its user's closest purchase. Determinism
      * is the q168 unique-key trick applied to an argmin under a
      * JOIN: the ordering key is the exact integer
      * |Δt| in ms · 10^7 + purchase_id (ms truncation bounds the key
      * ≪ 2^63; sub-ms ties then break by id — a total order both
      * engines agree on), and ONE min() recovers both the chosen
      * purchase and its distance by integer div/mod — never an FP
      * division (10^7·2.6e9 ms exceeds 2^53, an IEEE quotient would
      * corrupt the id). Per-user join fan-out is bounded by the
      * user's own history — embarrassingly parallel at 100 TB. */
    Query("q_join_asof_nearest",
      """WITH err AS (
           SELECT event_id AS e_id, user_id, epoch_us(ts) AS e_us
           FROM events WHERE event_type = 'error'
         ), pur AS (
           SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'
         ), j AS (
           SELECT e_id, err.user_id AS user_id,
             min(abs(p_us - e_us) // 1000 * 10000000 + p_id) AS mk
           FROM err JOIN pur USING (user_id) GROUP BY e_id, err.user_id
         )
         SELECT e_id AS event_id, user_id,
           CAST(mk % 10000000 AS BIGINT) AS nearest_purchase_id,
           CAST(mk // 10000000 AS BIGINT) AS diff_ms
         FROM j ORDER BY event_id""")((s, d) => {
      val ev = events(s, d)
      nearestAsofJoin(
        ev.filter(col("event_type") === "error"), "event_id", "ts",
        ev.filter(col("event_type") === "purchase"), "event_id", "ts",
        "user_id")
        .select(col("l_id").as("event_id"), col("user_id"),
          col("r_id").as("nearest_purchase_id"), col("diff_ms"))
        .orderBy("event_id")
    }),

    /** q175: GRAPH-NEIGHBOR JACCARD — structural similarity of two
      * parts by their supplier sets (the co-occurrence similarity
      * behind "items supplied together" / link prediction; also graph
      * dedup — the q50 set-Jaccard with the SET coming from graph
      * adjacency instead of tokens). Same bounded-subset exact
      * baseline discipline as q170 on the same memoized bipartite
      * relation: both sides restricted to part < 100 (pushed to the
      * cached scan), intersections from one supplier-keyed self-join,
      * union by inclusion-exclusion from exact degrees, jaccard ONE
      * division. The LSH swap (q51) is the documented scale path when
      * the pair set cannot be subset-bounded. */
    Query("q_graph_jaccard_neighbors",
      """WITH e AS (
           SELECT DISTINCT l_partkey AS p, l_suppkey AS sk
           FROM lineitem WHERE l_partkey < 100
         ), deg AS (
           SELECT p, count(*) AS dg FROM e GROUP BY p
         ), i AS (
           SELECT a.p AS part_a, b.p AS part_b, count(*) AS inter
           FROM e a JOIN e b ON a.sk = b.sk AND a.p < b.p
           GROUP BY a.p, b.p
         )
         SELECT part_a, part_b, CAST(inter AS BIGINT) AS inter,
           CAST(da.dg + db.dg - inter AS BIGINT) AS union_sz,
           CAST(inter AS DOUBLE) /
             CAST(da.dg + db.dg - inter AS DOUBLE) AS jacc,
           'exact' AS plan
         FROM i
         JOIN deg da ON da.p = part_a
         JOIN deg db ON db.p = part_b
         ORDER BY part_a, part_b""")((s, d) => {
      // COSTED pair source: the query emits EVERY intersecting
      // pair with its exact jaccard (no threshold), so no LSH swap
      // is sound — the scale guard is guardedInterPairs' capped
      // branch (hot-supplier cap + exact re-verify), the same
      // degradation the grid join declares. Decision under the hash.
      val e = bipartiteEdges(s, d).filter(col("p") < 100)
      // gate scalars memoized per (session, fixture): no count job per call
      val stats = Memos.value(s, d, "round11b/graphNbrStats")(
        graft.text.Dedup.pairStats(
          e.select(col("p").as("doc_id"), col("sk").as("tok")), "tok"))
      val (plan, pairs) =
        graft.text.Dedup.guardedInterPairs(e, "sk", "p",
          knownStats = Some(stats))
      pairs
        .select(col("doc_a").as("part_a"), col("doc_b").as("part_b"),
          col("inter"),
          (col("sz_a") + col("sz_b") - col("inter")).as("union_sz"),
          (col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
            .as("jacc"))
        .withColumn("plan", lit(plan))
        .orderBy("part_a", "part_b")
    }),

    /** q176: SIGNED INCREMENTAL STREAKS [P §3] — q172 maintained
      * under the event-family signed delta (q140 shape). Streaks are
      * user-local like sessions, so the group-level recompute rule
      * applies verbatim: untouched users' streak rows pass through
      * (production: from the partials store), touched users re-derive
      * from their post-delta timeline — deletion can SPLIT a streak
      * (removing the bridging day), insertion can FUSE two (filling
      * the gap day), so per-user re-derivation is the only rule
      * consistent with island semantics. Oracle = q172's islands SQL
      * over the post-delta log: maintenance must be
      * result-invisible. */
    Query("q_incr_streaks",
      // q176's oracle is q172's islands SQL over the POST-DELTA event
      // log: signed maintenance must be result-invisible.
      """WITH post AS (
           SELECT user_id, event_id, ts FROM events
           WHERE NOT (ts < TIMESTAMP '2024-01-20' AND event_id % 10 = 1)
         ), d AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM post
         ), g AS (
           SELECT user_id,
             CAST(day - DATE '2024-01-01' AS BIGINT)
               - CAST(row_number() OVER
                   (PARTITION BY user_id ORDER BY day) AS BIGINT) AS grp
           FROM d
         ), i AS (
           SELECT user_id, grp, count(*) AS len FROM g GROUP BY user_id, grp
         )
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak
         FROM i GROUP BY user_id ORDER BY user_id""")((s, d) => {
      val cut = lit("2024-01-20").cast("timestamp")
      val ev = events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
      val delta = Delta.cut(ev, col("ts") < cut, "event_id")
      Maintain.groupRecompute(delta.base, delta.post, Seq("user_id"),
        delta.touchedKeys("user_id"))(activityStreaks(_, "user_id", "ts"))
        .orderBy("user_id")
    }),

    /** q177: TRUE STREAMING EXECUTION UNDER THE ORACLE HASH — the one
      * streaming surface the declared rows lacked (q57-59 verify the
      * WINDOW SEMANTICS on batch-equivalent plans; StreamingSpec
      * verifies the runtime behaviors spec-side): a real
      * `readStream` file source split into micro-batches
      * (maxFilesPerTrigger=1 over a 4-file copy), event-time
      * watermark, append-mode windowed aggregate, Trigger.AvailableNow
      * self-termination, and the exactly-once PARQUET FILE SINK —
      * whose contents the driver then hashes. Determinism: append
      * mode emits exactly the CLOSED windows, and at AvailableNow
      * termination the final no-data batch flushes with the global
      * watermark max(ts) − 1 min (StreamingSpec pins this flush), so
      * the emitted set is the pure function {days d : end(d) ≤
      * max(ts) − 1 min} of the input — which is exactly what the
      * oracle SQL computes; micro-batch file order cannot change it
      * (a window closed early is emitted once either way). The
      * stream runs ONCE per (session, fixture) — the sink is stored
      * layout a production pipeline maintains continuously (q157/q158
      * convention), with appId-isolated scratch. The copy is written
      * by the proven batch reader so the fixture's physical ts layout
      * is normalized before the stream source reads it. */
    Query.stream("q_stream_sink_roundtrip",
      // q177's oracle: the closed-window set is the pure function
      // {days : day end <= max(ts) - 1 min} of the input — what
      // append-mode + AvailableNow's final watermark flush emits.
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
               <= m - INTERVAL 1 MINUTE
         ORDER BY day, event_type""")((s, d) => Memos.frame(s, d,
        "round11b/streamRoundtrip")(
        // 4-partition state — the one-time stream cost is micro-batch
        // state plumbing, not data (Streams.smallStateConf)
        graft.stream.Streams.smallStateConf(s) {
      val root = graft.stream.Streams.freshRoot(s, Memos.scratchDir(s, d, "r11s"))
      val (src, ck, out) = (s"$root/src", s"$root/ck", s"$root/out")
      val norm = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      // RANGE-partitioned by event time, mtimes pinned ascending: the
      // file source replays micro-batches in event-time order, so the
      // watermark progresses monotonically and no row is late in its
      // own batch (a round-robin split would let file 1 carry the
      // global max and mark the other files' rows late — dropped).
      // Production equivalent: time-ordered landing files.
      norm.repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(src)
      new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex
        .foreach { case (f, i) => f.setLastModified(1700000000000L + i * 60000L) }
      graft.stream.Streams.runAvailableNow(s.readStream
        .schema(norm.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("date").as("day"),
          col("event_type"), col("n"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append"))
      s.read.parquet(out).orderBy("day", "event_type").localCheckpoint()
    })),

    /** q178: CHECKPOINT RESTART + EXACTLY-ONCE UNDER THE ORACLE HASH
      * — the other half of the streaming fault-tolerance story (q177
      * covers one self-terminating run): the SAME windowed aggregate
      * executed as TWO AvailableNow runs — a NEW query object the
      * second time, resuming from the SAME checkpoint + sink after
      * the first run already emitted its closed windows. The restored
      * state store and the sink's _spark_metadata log must together
      * produce each closed window EXACTLY once across both runs —
      * a re-emitted window would be a duplicate (day, type) row and a
      * dropped one a missing row, and either flips the oracle hash.
      * The final emitted set is the same pure closed-window function
      * as q177 (the restart is result-invisible — the streaming
      * analogue of the signed-delta family's contract). Stream pair
      * runs once per (session, fixture); appId-isolated scratch. */
    Query.stream("q_stream_restart_exactly_once",
      // q178: identical closed-window function — the checkpoint restart
      // must be result-invisible, and a duplicate/dropped window from a
      // broken exactly-once path flips this hash.
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
               <= m - INTERVAL 1 MINUTE
         ORDER BY day, event_type""")((s, d) => Memos.frame(s, d,
        "round11b/streamRestart")(
        // 4-partition state across BOTH runs (the checkpoint pins the
        // count at first start)
        graft.stream.Streams.smallStateConf(s) {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val root = graft.stream.Streams.freshRoot(s, Memos.scratchDir(s, d, "r11r"))
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
      def land(fs: Array[java.io.File], base: Int): Unit =
        fs.zipWithIndex.foreach { case (f, i) =>
          val dst = Paths.get(src, f.getName)
          Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
          dst.toFile.setLastModified(1700000000000L + (base + i) * 60000L)
        }
      def runOnce(): Unit = {
        graft.stream.Streams.runAvailableNow(s.readStream
          .schema(norm.schema)
          .option("pathGlobFilter", "*.parquet")
          .option("maxFilesPerTrigger", "1")
          .parquet(src)
          .withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").cast("date").as("day"),
            col("event_type"), col("n"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .outputMode("append"))
      }
      land(parts.take(2), 0); runOnce()   // run 1: first half landed
      land(parts.drop(2), 2); runOnce()   // run 2: restart on the rest
      s.read.parquet(out).orderBy("day", "event_type").localCheckpoint()
    })),

    /** q280: STREAMING MERGE UPSERT under the oracle hash —
      * the third streaming fault-tolerance row: a real file-source
      * stream driven through `foreachBatch` +
      * [[graft.stream.Streams.applyMergeBatch]] (the q278 MERGE as a
      * streaming sink) maintaining a keyed parquet snapshot. The
      * landing files are DELIBERATELY time-REVERSED (newest event
      * range lands first, maxFilesPerTrigger=1), so every later
      * micro-batch is LATE data — the ord-conditional merge (update
      * only when struct(ts, event_id) is greater) must converge to
      * the same global last-write-wins state regardless, which is
      * exactly what the oracle (the full LWW recompute, q47's shape)
      * hash-asserts. No watermark is involved — foreachBatch sees
      * every row; ordering robustness comes from the MERGE algebra,
      * not from arrival discipline. Stream runs once per (session,
      * fixture); appId-isolated scratch. */
    Query.stream("q_stream_merge_upsert",
      // q280's oracle: the full last-write-wins recompute — the
      // stream-maintained snapshot must be result-invisible against it
      // (q47's discipline, computed by a MERGE cascade over
      // deliberately out-of-order micro-batches instead of one window).
      """SELECT user_id, event_id AS last_event_id,
                event_type AS last_type, value AS last_value
         FROM (
           SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
           FROM events
         ) t WHERE rn = 1 ORDER BY user_id""")((s, d) => Memos.frame(s, d,
        "round11b/streamMergeUpsert")(
        // the foreachBatch MERGE's full-outer join runs per micro-batch
        // — 4 shuffle partitions size it to the KB-scale batches
        // (result is partition-count invariant)
        graft.stream.Streams.smallStateConf(s) {
      val root = graft.stream.Streams.freshRoot(s, Memos.scratchDir(s, d, "r16m"))
      val (src, ck, store) = (s"$root/src", s"$root/ck", s"$root/store")
      val norm = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts"))
        .withColumn("ord", struct(col("ts"), col("event_id")))
      norm.repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(src)
      // REVERSED mtimes: the newest time range is batch 1, every
      // subsequent batch is globally late
      new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex
        .foreach { case (f, i) =>
          f.setLastModified(1700000000000L - i * 60000L)
        }
      graft.stream.Streams.runAvailableNow(s.readStream
        .schema(norm.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            graft.stream.Streams.applyMergeBatch(
              b.toDF(), Seq("user_id"), "ord", store)
        }
        .option("checkpointLocation", ck))
      graft.stream.Streams.readStore(s, store).get
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id").localCheckpoint()
    })),

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
    })
  )
}
