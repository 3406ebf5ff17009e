package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** Round-18 extensions (SURVEY.md §2 rows 284–292): the data-mixture /
  * curation diagnostics a training-data pipeline runs between dedup and
  * packing, their signed-incremental twins, and the third multimodal
  * row. The reference tree at
  * /root/reference is absent (SURVEY.md §0), so semantics cite the
  * published i²MapReduce paper and the public LLM-curation literature
  * (Gopher quality rules, soft dedup) via SURVEY.md instead of
  * reference file:line.
  *
  * Scale notes (100 TB): every row here is map-only or a single
  * partial-aggregated shuffle on a small key domain (source,
  * lang, duplicate-group hash, mime) or a window over an existing
  * user/time clustering; no row collects fact-scale data, no row
  * produces a pair join. The incremental row follows the repo's
  * signed-delta convention (doc_id%10: 0=insert, 1=delete) with
  * delta-proportional merge work.
  */
object Round18 {

  /** The fixture corpus's CLOSED language domain — pinned so the
    * diversity rows can pivot to fixed columns and evaluate the
    * index as one exact integer expression. Round18bSpec asserts the
    * fixture never grows a sixth language; production swaps the
    * pinned pivot for a per-(group,lang) Σc² aggregate with zero
    * plan change. */
  val Langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Language-mixture diversity over per-(group, lang) counts, in
    * EXACT integers: Gini–Simpson index 1 − Σp² = (N² − Σc²)/N² and
    * the effective language count 1/Σp² = N²/Σc². Shannon entropy is
    * the textbook alternative but is NOT cross-engine-hashable — its
    * transcendental ln differs by 1 ulp between the JVM's Math.log
    * intrinsic and libm (measured this round on ln over small
    * integer counts), so the declared metric is the rational
    * diversity pair: numerator and denominator are exact int64
    * (2^53-safe for N up to ~67M per group; widen to DECIMAL(38,0)
    * past that, the q230 discipline) and each emitted double is ONE
    * IEEE division of exact operands — bit-stable on both engines.
    * `counts` must carry one row per (group, lang) with an exact
    * `n`. Package-visible so PropertiesSpec7 can prove the rationals
    * against BigInt on random counts. */
  private[graft] def diversityOver(counts: DataFrame): DataFrame = {
    val cnts = Langs.map(l =>
      sum(when(col("lang") === l, col("n")).otherwise(0L)).as(s"c_$l"))
    val g = counts.groupBy("source")
      .agg(sum(col("n")).cast("bigint").as("n_docs"), cnts: _*)
    val sumSq = Langs.map(l => col(s"c_$l") * col(s"c_$l")).reduce(_ + _)
    val n2 = col("n_docs") * col("n_docs")
    g.select(col("source"), col("n_docs"),
        col("c_de").cast("bigint").as("c_de"),
        col("c_en").cast("bigint").as("c_en"),
        col("c_es").cast("bigint").as("c_es"),
        col("c_fr").cast("bigint").as("c_fr"),
        col("c_zh").cast("bigint").as("c_zh"),
        (n2 - sumSq).cast("bigint").as("div_num"),
        n2.cast("bigint").as("div_den"),
        ((n2 - sumSq).cast("double") / n2.cast("double"))
          .as("gini_simpson"),
        (n2.cast("double") / sumSq.cast("double")).as("effective_langs"))
      .orderBy("source")
  }

  /** The q287 EWMA kernel over any (event_id, user_id, ts, value)
    * frame — shared by the batch row and the signed-incremental twin
    * (whose untouched users pass through from stored state instead of
    * re-entering the window sort). No output ordering — callers sort. */
  private def ewmaOver(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = ev.select(col("event_id"), col("user_id"),
      col("ts"), (dec2(col("value")) * 100).cast("long").as("c0"))
    val withLags = (1 to 7).foldLeft(base)((df, k) =>
      df.withColumn(s"c$k", lag(col("c0"), k).over(w)))
    val num = (0 to 7)
      .map(k => coalesce(col(s"c$k"), lit(0L)) * lit(1L << (7 - k)))
      .reduce(_ + _)
    val den = (0 to 7)
      .map(k => when(col(s"c$k").isNotNull, lit(1L << (7 - k)))
        .otherwise(lit(0L)))
      .reduce(_ + _)
    withLags.select(col("event_id"), col("user_id"),
      (num.cast("double") / (den * 100).cast("double")).as("ewma"))
  }

  /** The q288 soft-dedup kernel over any (doc_id, `key`) frame: the
    * per-group 1/n integer-threshold keep decision, rolled up per
    * group. The window count and the rollup reuse ONE `key`-hashed
    * exchange. `nCol` names the group-size output column (n_dups for
    * exact groups, n_members for collapse-label groups). Public so
    * PropertiesSpec7 can prove it against a brute force on random
    * group structures. */
  def softDedupAgg(keyed: DataFrame, key: String,
                   nCol: String): DataFrame = {
    val wn = Window.partitionBy(key)
    keyed
      .withColumn("h32",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("n_grp", count(lit(1)).over(wn))
      .withColumn("keep",
        when(col("h32") * col("n_grp") < lit(4294967296L), 1L)
          .otherwise(0L))
      .groupBy(key)
      .agg(max("n_grp").cast("bigint").as(nCol),
        sum("keep").cast("bigint").as("n_kept"),
        coalesce(min(when(col("keep") === 1, col("doc_id"))), lit(-1L))
          .cast("bigint").as("first_kept"))
  }

  /** (doc_id, h = md5 of content) — the soft-dedup group key. */
  private def hashed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))

  /** The q291 maintenance plan over any events-shaped frame
    * (event_id%10: 0=insert, 1=delete): untouched users' rows pass
    * through from the base state (anti-join — never re-sorted),
    * touched users recompute their post-delta series. Public so the
    * spec can exercise the pass-through branch on a synthetic frame
    * (the driver fixture's delta touches every user). */
  def incrEwma(ev: DataFrame): DataFrame = {
    val touched = ev
      .filter(col("event_id") % 10 === 0 || col("event_id") % 10 === 1)
      .select("user_id").distinct()
    val baseState = ewmaOver(ev.filter(col("event_id") % 10 =!= 0))
    val untouched = baseState.join(touched, Seq("user_id"), "left_anti")
    val recomputed = ewmaOver(
      ev.filter(col("event_id") % 10 =!= 1)
        .join(touched, Seq("user_id"), "left_semi"))
    untouched.select("event_id", "user_id", "ewma")
      .unionByName(recomputed.select("event_id", "user_id", "ewma"))
  }

  /** q287/q291 oracle body over a parameterized event source. */
  private def ewmaSql(src: String): String =
    s"""WITH e AS (
         SELECT event_id, user_id, ts,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c0
         FROM $src),
       l AS (
         SELECT event_id, user_id, c0,
           lag(c0, 1) OVER w AS c1, lag(c0, 2) OVER w AS c2,
           lag(c0, 3) OVER w AS c3, lag(c0, 4) OVER w AS c4,
           lag(c0, 5) OVER w AS c5, lag(c0, 6) OVER w AS c6,
           lag(c0, 7) OVER w AS c7
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT event_id, user_id,
         CAST(c0 * 128 + coalesce(c1, 0) * 64 + coalesce(c2, 0) * 32
            + coalesce(c3, 0) * 16 + coalesce(c4, 0) * 8
            + coalesce(c5, 0) * 4 + coalesce(c6, 0) * 2
            + coalesce(c7, 0) * 1 AS DOUBLE) /
         CAST((128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
             + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
             + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
             + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
             + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
             + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
             + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END) * 100
           AS DOUBLE) AS ewma
       FROM l ORDER BY event_id"""

  /** q288/q290 oracle body over a parameterized corpus source —
    * ('0x'||hex)::UBIGINT parses the same 32-bit value Spark's
    * conv(...,16,10) yields. */
  private def softDedupSql(src: String): String =
    s"""WITH m AS (
         SELECT doc_id, md5(text) AS h,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             ::UBIGINT AS BIGINT) AS h32
         FROM $src),
       g AS (
         SELECT doc_id, h, h32,
           CAST(count(*) OVER (PARTITION BY h) AS BIGINT) AS n_dups
         FROM m)
       SELECT h, CAST(max(n_dups) AS BIGINT) AS n_dups,
         CAST(sum(CASE WHEN h32 * n_dups < 4294967296 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_kept,
         CAST(coalesce(min(CASE WHEN h32 * n_dups < 4294967296
                                THEN doc_id END), -1) AS BIGINT)
           AS first_kept
       FROM g GROUP BY h ORDER BY h"""

  private val diversitySelect =
    """SELECT source, n_docs, c_de, c_en, c_es, c_fr, c_zh,
         CAST(n_docs * n_docs
           - (c_de * c_de + c_en * c_en + c_es * c_es + c_fr * c_fr
              + c_zh * c_zh) AS BIGINT) AS div_num,
         CAST(n_docs * n_docs AS BIGINT) AS div_den,
         CAST(n_docs * n_docs
           - (c_de * c_de + c_en * c_en + c_es * c_es + c_fr * c_fr
              + c_zh * c_zh) AS DOUBLE)
           / CAST(n_docs * n_docs AS DOUBLE) AS gini_simpson,
         CAST(n_docs * n_docs AS DOUBLE)
           / CAST(c_de * c_de + c_en * c_en + c_es * c_es + c_fr * c_fr
                  + c_zh * c_zh AS DOUBLE) AS effective_langs
       FROM c ORDER BY source"""

  val queries: Seq[Query] = Seq(

    /** q284: LANGUAGE-MIXTURE DIVERSITY per source [N data-mixture
      * diagnostic] — the Gini–Simpson diversity (and its inverse,
      * the effective number of languages) of each source's language
      * distribution, THE quantity a corpus-mixing run monitors when
      * rebalancing multilingual shards (a source collapsing toward
      * one language shows up as effective_langs→1 long before raw
      * counts do). One partial-aggregated shuffle on (source):
      * conditional per-lang sums combine map-side, so the exchange
      * carries ≤ |sources|·6 longs no matter the corpus size; the
      * index is an exact integer rational over the counts (see
      * [[diversityOver]] — and why Shannon-in-nats is NOT the
      * declared metric). Emitting the per-lang counts alongside the
      * index makes the row self-auditing: a sixth language in the
      * data breaks the n_docs reconciliation in the oracle hash.
      * Per-doc n=1 rows feed [[diversityOver]] directly so the pivot
      * IS the only aggregate — one exchange total (a pre-aggregation
      * to (source,lang) would add a second for nothing; the incr twin
      * keeps it because its signed merge needs the lang key). */
    Query("q_agg_diversity",
      // q284: exact integer rational — the only float ops are single
      // divisions of exact operands (Shannon ln is 1-ulp-unstable
      // cross-engine; see the diversityOver scaladoc).
      s"""WITH c AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
             CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS c_es,
             CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c_fr,
             CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS c_zh
           FROM documents GROUP BY source)
         $diversitySelect""")((s, d) =>
      diversityOver(documents(s, d)
        .select(col("source"), col("lang"), lit(1L).as("n")))),

    /** q285: SIGNED-INCREMENTAL MIXTURE DIVERSITY [P one-step
      * incremental] — q284 maintained under the corpus delta
      * (doc_id%10: 0=insert, 1=delete): the per-(source,lang) counts
      * are SIGNED-ADDITIVE sufficient statistics, so maintenance is
      * two delta-sized aggregates merged with the stored state by one
      * signed sum on a ≤|sources|·|langs| key space — the base corpus
      * is never re-scanned (here the state is recomputed inline to
      * stay self-contained, exactly like q125/q180), and the index
      * re-evaluates only from merged counts. Counts reaching zero
      * vanish (n > 0) as a from-scratch run computes. Oracle = q284's
      * batch diversity over the post-delta corpus: the hash proves
      * maintenance ≡ recompute. */
    Query("q_incr_diversity",
      // q285: batch recompute over the post-delta corpus (deletes are
      // doc_id%10==1; inserts %10==0 are already part of `documents`).
      s"""WITH c AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
             CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS c_es,
             CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c_fr,
             CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS c_zh
           FROM documents WHERE doc_id % 10 <> 1 GROUP BY source)
         $diversitySelect""")((s, d) => {
      val docs = documents(s, d)
      def cnt(dd: DataFrame, sign: Int) =
        dd.groupBy("source", "lang")
          .agg((count(lit(1)) * sign).as("n"))
      val merged = cnt(docs.filter(col("doc_id") % 10 =!= 0), 1)
        .unionByName(cnt(docs.filter(col("doc_id") % 10 === 0), 1))
        .unionByName(cnt(docs.filter(col("doc_id") % 10 === 1), -1))
        .groupBy("source", "lang").agg(sum("n").as("n"))
        .filter(col("n") > 0)
      diversityOver(merged)
    }),

    /** q286: GOPHER-STYLE QUALITY RULE BITMASK [N curation surface] —
      * the named-rule document filter of the Gopher/MassiveText
      * recipe, complementing q62's scalar quality score with an
      * auditable PER-RULE verdict: R1 token count ∈ [20,90] (bit 1),
      * R2 mean token length ∈ [3,4.5] (bit 2), R3 stopword fraction
      * ≥ 2% (bit 4), R4 max single-token frequency ≤ 20% (bit 8) —
      * a doc is kept iff all four pass (bits = 15). Every rule is an
      * EXACT integer cross-multiplication (3n ≤ Σlen, 2Σlen ≤ 9n,
      * 50·stop ≥ n, 5·max ≤ n): no float ratio ever materializes, so
      * both engines take the identical verdict on every doc. Plan:
      * the three scalar stats are map-only over the corpus; the max
      * token frequency is one (doc,word)-keyed partial aggregate +
      * a doc-keyed max — token-proportional shuffle with map-side
      * combine, then a doc-keyed join back (both sides clustered on
      * doc_id). At 100 TB: linear, no pair joins, rules evaluate
      * per-partition. */
    Query("q_quality_gopher",
      // q286: every rule an exact integer cross-multiplication; n_tok
      // via the unnest-sum equals Spark's size(split) (no empty tokens
      // in the fixture — the q62/q63 contract).
      """WITH t AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
         cw AS (SELECT doc_id, w, count(*) AS nw FROM t GROUP BY 1, 2),
         m AS (
           SELECT doc_id, CAST(max(nw) AS BIGINT) AS max_tok,
             CAST(sum(nw) AS BIGINT) AS n_tok,
             CAST(sum(CASE WHEN w IN ('the', 'a') THEN nw ELSE 0 END)
               AS BIGINT) AS n_stop
           FROM cw GROUP BY doc_id),
         b AS (
           SELECT d.doc_id, d.source, m.n_tok, m.n_stop, m.max_tok,
             CAST(length(d.text) AS BIGINT) - m.n_tok + 1 AS sum_len
           FROM documents d JOIN m ON d.doc_id = m.doc_id)
         SELECT doc_id, source, n_tok, max_tok,
           CAST(CASE WHEN n_tok BETWEEN 20 AND 90 THEN 1 ELSE 0 END
              + CASE WHEN sum_len >= n_tok * 3 AND sum_len * 2 <= n_tok * 9
                     THEN 2 ELSE 0 END
              + CASE WHEN n_stop * 50 >= n_tok THEN 4 ELSE 0 END
              + CASE WHEN max_tok * 5 <= n_tok THEN 8 ELSE 0 END
             AS BIGINT) AS rule_bits,
           CAST(CASE WHEN n_tok BETWEEN 20 AND 90
                      AND sum_len >= n_tok * 3 AND sum_len * 2 <= n_tok * 9
                      AND n_stop * 50 >= n_tok
                      AND max_tok * 5 <= n_tok
                THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM b ORDER BY doc_id""")((s, d) => {
      val docs = documents(s, d)
      val toks = split(col("text"), " ")
      val base = docs.select(col("doc_id"), col("source"),
        size(toks).cast("bigint").as("n_tok"),
        length(col("text")).cast("bigint").as("n_chars"),
        size(filter(toks, x => x.isInCollection(Seq("the", "a"))))
          .cast("bigint").as("n_stop"))
      val mx = docs.select(col("doc_id"), explode(toks).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("nw"))
        .groupBy("doc_id").agg(max("nw").cast("bigint").as("max_tok"))
      val sumLen = col("n_chars") - col("n_tok") + 1
      val r1 = col("n_tok") >= 20 && col("n_tok") <= 90
      val r2 = sumLen >= col("n_tok") * 3 && sumLen * 2 <= col("n_tok") * 9
      val r3 = col("n_stop") * 50 >= col("n_tok")
      val r4 = col("max_tok") * 5 <= col("n_tok")
      base.join(mx, "doc_id")
        .select(col("doc_id"), col("source"), col("n_tok"), col("max_tok"),
          (when(r1, 1L).otherwise(0L) + when(r2, 2L).otherwise(0L) +
            when(r3, 4L).otherwise(0L) + when(r4, 8L).otherwise(0L))
            .cast("bigint").as("rule_bits"),
          when(r1 && r2 && r3 && r4, 1L).otherwise(0L)
            .cast("bigint").as("keep"))
        .orderBy("doc_id")
    }),

    /** q287: DYADIC EWMA over each user's event-value series [T
      * time-series surface] — an exponentially weighted moving
      * average with decay 1/2 over the last 8 observations,
      * ewma_t = Σ_{k=0..7} 2^{7−k}·x_{t−k} / (100·Σ_{k present}
      * 2^{7−k}): because the decay is DYADIC and the values are
      * exact cents (the fixture's 2-dp contract, Dec scaladoc), both
      * numerator and denominator are exact int64 sums of ≤ 8 terms in
      * a FIXED expression order — the only float operation is the
      * final single division, so the doubles match bitwise
      * cross-engine (the q127 discipline applied to a window).
      * Plan: ONE user-keyed window exchange computes all 8 lags in a
      * single Window node; at 100 TB this is the same sort-once
      * shape as q27/q28 — no iteration, no state. The truncation at
      * 8 lags bounds per-row work and loses < 2^-8 of the weight
      * mass vs the infinite EWMA. */
    // q287: exact-cent lags, dyadic weights, one final division.
    Query("q_ts_ewma", ewmaSql("events"))((s, d) => ewmaOver(events(s, d)).orderBy("event_id")),

    /** q291: SIGNED-INCREMENTAL EWMA [P group-level recompute] —
      * q287 maintained under the event delta (event_id%10: 0=insert,
      * 1=delete): the EWMA is USER-LOCAL (each row depends only on
      * its user's own prior events), so the window state cannot merge
      * additively but recomputes exactly per touched user — the
      * i²MapReduce reduce-group recompute with group = user. Users
      * with any delta event re-enter the window sort over their
      * post-delta series (delta-proportional: |touched users| ·
      * series length); every untouched user's rows PASS THROUGH from
      * the stored base state without re-sorting — at 100 TB the
      * maintenance cost tracks the delta's user footprint, not the
      * event corpus. Oracle = q287's batch EWMA over the post-delta
      * events: the hash proves maintenance ≡ recompute. Fixture
      * caveat (the q_incr_band precedent): the %10 delta touches
      * every user at ~66 events/user, so the declared row exercises
      * the all-recompute worst case; `Round18cSpec` drives the
      * pass-through branch on a synthetic frame where untouched
      * users exist. */
    Query("q_incr_ewma",
      // q291: the same batch EWMA over the post-delta events — the
      // user-level recompute + pass-through must be result-invisible.
      ewmaSql("(SELECT * FROM events WHERE event_id % 10 <> 1)"))((s, d) =>
      incrEwma(events(s, d)).orderBy("event_id")),

    /** q288: SOFT DEDUP (duplicate-aware down-sampling) [N curation
      * surface] — instead of q49's hard keep-one, each member of an
      * exact-duplicate group survives with probability 1/n_dups
      * (UniMax/soft-dedup: expected ONE surviving copy per group, so
      * heavily-duplicated content is down-weighted, not annihilated,
      * preserving natural distribution mass). The keep rule is the
      * engine's seed-free md5-threshold idiom (q77/q151) made
      * group-aware with EXACT integers: survive iff
      * h32(doc_id)·n_dups < 2^32 where h32 is the first 8 md5 hex
      * digits — cluster-size-independent, reproducible, no float
      * probability ever materializes. Plan: ONE shuffle on the
      * 16-byte content hash; the window count and the final
      * per-group rollup reuse the same hash partitioning, so the
      * exchange happens once. At 100 TB this is exactly the q49
      * scan+shuffle with a constant-factor wider row. */
    // q288: identical h32 integer threshold — ('0x'||hex)::UBIGINT
    // parses the same 32-bit value Spark's conv(...,16,10) yields.
    Query("q_sample_softdedup", softDedupSql("documents"))((s, d) =>
      softDedupAgg(hashed(documents(s, d)), "h", "n_dups").orderBy("h")),

    /** q290: SIGNED-INCREMENTAL SOFT DEDUP [P §3 group-level
      * recompute] — q288 maintained under the corpus delta
      * (doc_id%10: 0=insert, 1=delete). The keep decision of EVERY
      * member of a group depends on the group's size, so a group
      * whose size changes must recompute member decisions — exactly
      * the paper's reduce-group recompute: the delta's content
      * hashes select the TOUCHED groups, their post-delta members
      * re-run the 1/n threshold (in production the members come from
      * the MRBG-store's preserved edges; here a hash semi-join over
      * the post-delta corpus stands in), and every untouched group's
      * (n, n_kept, first_kept) row passes through from stored state
      * VERBATIM — never re-hashed, never re-shuffled. Work is
      * delta-group-proportional at any corpus size. Oracle = q288's
      * batch rule over the post-delta corpus. */
    Query("q_incr_softdedup",
      // q290: the same batch rule over the post-delta corpus — the
      // touched-group recompute + pass-through must be result-invisible.
      softDedupSql("(SELECT * FROM documents WHERE doc_id % 10 <> 1)"))((s, d) => {
      val docs = documents(s, d)
      val baseState = softDedupAgg(
        hashed(docs.filter(col("doc_id") % 10 =!= 0)), "h", "n_dups")
      val deltaH = hashed(docs.filter(
          col("doc_id") % 10 === 0 || col("doc_id") % 10 === 1))
        .select("h").distinct()
      val untouched = baseState.join(deltaH, Seq("h"), "left_anti")
      val recomputed = softDedupAgg(
        hashed(docs.filter(col("doc_id") % 10 =!= 1))
          .join(deltaH, Seq("h"), "left_semi"), "h", "n_dups")
      untouched.unionByName(recomputed).orderBy("h")
    }),

    /** q292: SOFT DEDUP OVER NEAR-DUP CLUSTERS [N composition row] —
      * the production composition the q288 scaladoc implies: the
      * down-sampling unit should be the NEAR-duplicate cluster, not
      * the exact-hash group, or boilerplate variants evade the 1/n
      * rule. Group key = q108's collapse label (the FIXED-5-round
      * min-label component of the Jaccard≥0.5 pair graph, memoized —
      * this row adds ~one window over the label relation, the pair
      * graph and collapse are shared state), member keep = the same
      * exact integer threshold h32·n < 2^32. Demonstrates the
      * collapse output as REUSABLE state for downstream curation —
      * the i²MapReduce preserved-state story end to end. Oracle =
      * the q108 unrolled 5-stage label CTE + the q288 threshold
      * rollup, composed verbatim. */
    // q292: q108's unrolled 5-stage label CTE chain (reused verbatim
    // from its oracle string — one definition, two rows) + the q288
    // threshold rollup over the label groups.
    Query("q_sample_softdedup_near", {
      val q108 = graft.text.Dedup.dedupGroups.oracle.get
      val cut = q108.lastIndexOf("SELECT node AS doc_id")
      require(cut > 0, "q108 oracle tail changed — fix the q292 splice")
      q108.substring(0, cut) +
        """, grp AS (
             SELECT label AS keep_id, node AS doc_id,
               CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 8))
                 ::UBIGINT AS BIGINT) AS h32
             FROM label5),
           g AS (
             SELECT keep_id, doc_id, h32,
               CAST(count(*) OVER (PARTITION BY keep_id) AS BIGINT)
                 AS n_members
             FROM grp)
           SELECT keep_id, CAST(max(n_members) AS BIGINT) AS n_members,
             CAST(sum(CASE WHEN h32 * n_members < 4294967296
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(coalesce(min(CASE WHEN h32 * n_members < 4294967296
                                    THEN doc_id END), -1) AS BIGINT)
               AS first_kept
           FROM g GROUP BY keep_id ORDER BY keep_id"""
    })((s, d) =>
      softDedupAgg(
        graft.text.Dedup.dedupGroups.plan(s, d)
          .select(col("doc_id"), col("keep_id")),
        "keep_id", "n_members")
        .orderBy("keep_id")),

    /** q289: MAGIC-BYTE MIME SNIFFING [N multimodal surface] — the
      * ingest-time format detector every multimodal pipeline runs
      * before routing blobs to codecs: a mixed media table (PNG /
      * JPEG / RIFF magic headers prepended to the q60 byte fixture by
      * doc_id%4; %4==3 stays bare text) is sniffed from its FIRST
      * FOUR BYTES (hex-prefix compare — the actual file(1) mechanism)
      * and summarized per detected type. The declared-vs-sniffed
      * agreement check is what catches mislabeled uploads at ingest.
      * Plan: pure map over the blobs (binary concat + substring —
      * both codegen'd) followed by one aggregate on a ≤4-key domain;
      * the blob column is pruned immediately after the 4-byte slice,
      * so at 100 TB the shuffle carries counters only. Oracle
      * reproduces the byte math on the hex plane (the q60 ASCII
      * contract: byte == char for this fixture). */
    Query("q_multimodal_mime",
      // q289: the byte math replayed on the hex plane (ASCII fixture:
      // byte == char, the q60 contract); DuckDB hex() is uppercase
      // like Spark's.
      """WITH m AS (
           SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN '89504E470D0A1A0A'
                             WHEN 1 THEN 'FFD8FFE0'
                             WHEN 2 THEN '52494646'
                             ELSE '' END AS magic_hex,
             text
           FROM documents),
         s AS (
           SELECT doc_id,
             substr(magic_hex || hex(encode(text)), 1, 8) AS px,
             CAST(length(magic_hex) // 2 + length(text) AS BIGINT)
               AS n_bytes
           FROM m)
         SELECT CASE WHEN px = '89504E47' THEN 'image/png'
                     WHEN substr(px, 1, 6) = 'FFD8FF' THEN 'image/jpeg'
                     WHEN px = '52494646' THEN 'audio/wav'
                     ELSE 'text/plain' END AS mime_sniffed,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(min(doc_id) AS BIGINT) AS min_doc
         FROM s GROUP BY 1 ORDER BY mime_sniffed""")((s, d) => {
      val m4 = pmod(col("doc_id"), lit(4))
      val magicHex = when(m4 === 0, lit("89504E470D0A1A0A"))
        .when(m4 === 1, lit("FFD8FFE0"))
        .when(m4 === 2, lit("52494646"))
        .otherwise(lit(""))
      val content = concat(unhex(magicHex), col("text").cast("binary"))
      val px = hex(substring(content, 1, 4))
      val sniffed = when(px === "89504E47", "image/png")
        .when(substring(px, 1, 6) === "FFD8FF", "image/jpeg")
        .when(px === "52494646", "audio/wav")
        .otherwise("text/plain")
      documents(s, d)
        .select(col("doc_id"), sniffed.as("mime_sniffed"),
          length(content).cast("bigint").as("n_bytes"))
        .groupBy("mime_sniffed")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_bytes").cast("bigint").as("total_bytes"),
          min("doc_id").as("min_doc"))
        .orderBy("mime_sniffed")
    })
  )
}
