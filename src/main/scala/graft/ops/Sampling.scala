package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.incr.{Delta, Maintain}
import org.apache.spark.sql.DataFrame

/** Deterministic sampling: reservoir, stratified, temperature,
  * class-balanced, hash split and soft-dedup down-weighting, with the
  * group-recompute twin of soft-dedup. Every sample is keyed on a hash
  * of the row, so the DuckDB oracle can recompute it exactly.
  *
  * All oracle-checked rows follow D1–D7 (engine.Dec scaladoc). */
object Sampling {

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

  val queries: Seq[Query] = Seq(

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

    /** q77: deterministic train/val/test split — the holdout
      * mechanism of a training-data pipeline. Assignment hashes the
      * KEY (md5, engine-portable), never a random(): reproducible
      * across runs, engines and cluster sizes, and stable under
      * re-partitioning. ~80/10/10 via the first hex byte
      * (< 0xcc / < 0xe6); output = per-(lang, split) counts, i.e. the
      * stratification report. */
    Query("q_sample_split",
      """SELECT lang,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         min(doc_id) AS min_doc
         FROM documents
         GROUP BY lang, split
         ORDER BY lang, split""")((s, d) => {
      documents(s, d)
        .withColumn("h2",
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2))
        .withColumn("split",
          when(col("h2") < "cc", "train")
            .when(col("h2") < "e6", "val")
            .otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("min_doc"))
        .orderBy("lang", "split")
    }),

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
      val delta = Delta.tenWay(documents(s, d), "doc_id").map(hashed)
      Maintain.groupRecompute(delta.base, delta.post, Seq("h"),
          delta.touchedKeys("h"))(softDedupAgg(_, "h", "n_dups"))
        .orderBy("h")
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
        .orderBy("keep_id"))
  )
}
