package graft.ops

import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._

/** Corpus-curation operators (SURVEY.md §2 rows 149b–152): the three
  * remaining first-class steps a training-data pipeline runs between
  * ingest and packing that the engine did not yet declare —
  * blocklist term scrubbing, target-mixture source sampling, and
  * prefix-fingerprint duplicate detection. All three are
  * shuffle-minimal by construction (scrub is pure map; mixing is a
  * map-side filter plus a source-cardinality aggregate; prefix dedup
  * is one partial-aggregated shuffle on a 16-byte key), so each
  * scales linearly to a 100 TB corpus with no driver-side state. */
object Curation {

  /** The blocklist pattern shared by the query and its spec: term
    * scrubbing is word-boundary alternation over the (broadcast)
    * termlist — identical semantics in Java regex (Spark codegen'd
    * `regexp_replace`/`regexp_count`) and RE2 (DuckDB), which is why
    * the oracle can hash the scrubbed text byte-for-byte. */
  val ScrubPattern = "\\b(customer|value)\\b"

  val queries: Seq[Query] = Seq(
    /** q150: BLOCKLIST TERM SCRUBBING — the termlist-redaction pass
      * every production corpus runs before training (PII termlists,
      * NSFW blocklists, compliance strings). Pure MAP over the corpus:
      * per surviving doc, the hit count, raw/scrubbed lengths and the
      * md5 of the scrubbed text (so the oracle checks the actual
      * redacted bytes, not just counts). No shuffle before the
      * deterministic dump sort — embarrassingly parallel at 100 TB,
      * and the termlist (broadcast in production) never touches the
      * data path's partitioning. */
    Query("q_text_scrub",
      // q150: RE2's \b and Java's \b agree on [A-Za-z0-9_] word chars;
      // the 'g' flag matches Spark's replace-all default.
      """WITH s AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '\b(customer|value)\b')) AS BIGINT) AS n_hits,
             CAST(length(text) AS BIGINT) AS len_raw,
             regexp_replace(text, '\b(customer|value)\b', '[X]', 'g')
               AS scrubbed
           FROM documents)
         SELECT doc_id, n_hits, len_raw,
           CAST(length(scrubbed) AS BIGINT) AS len_scrubbed,
           md5(scrubbed) AS scrub_h
         FROM s WHERE n_hits > 0 ORDER BY doc_id""")((s, d) => {
      val scrubbed = regexp_replace(col("text"), ScrubPattern, "[X]")
      documents(s, d)
        .select(col("doc_id"),
          regexp_count(col("text"), lit(ScrubPattern))
            .cast("bigint").as("n_hits"),
          length(col("text")).cast("bigint").as("len_raw"),
          length(scrubbed).cast("bigint").as("len_scrubbed"),
          md5(scrubbed).as("scrub_h"))
        .filter(col("n_hits") > 0)
        .orderBy("doc_id")
    }),

    /** q151: TARGET-MIXTURE SOURCE SAMPLING — downsample each source
      * to a target mixture weight (the "20% code, 50% web" knob of a
      * training run). The keep rule is the engine's deterministic
      * md5-threshold idiom (q77/q113/q122): a doc survives iff its
      * first two md5 hex chars fall below the source's threshold —
      * seed-free, cluster-size-independent, reproducible across
      * engines. Rates here derive from the source id (src N ↦
      * (N%4+1)/4 ∈ {.25,.5,.75,1}) so the oracle is self-contained;
      * production swaps in a broadcast (source → rate) spec table
      * with zero plan change. MAP-side filter + a
      * source-cardinality aggregate: no data-sized shuffle at any
      * scale. */
    Query("q_mix_sources",
      // q151: identical md5 two-hex-char threshold rule; b is
      // functionally determined by source, carried through the GROUP BY.
      """WITH k AS (
           SELECT source, (CAST(substr(source, 4) AS INT) % 4) AS b,
             CASE WHEN (CAST(substr(source, 4) AS INT) % 4) = 3 THEN 1
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                    CASE (CAST(substr(source, 4) AS INT) % 4)
                      WHEN 0 THEN '40' WHEN 1 THEN '80'
                      ELSE 'c0' END THEN 1
                  ELSE 0 END AS kept
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(b + 1 AS DOUBLE) / 4.0 AS target_rate,
           CAST(sum(kept) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS achieved
         FROM k GROUP BY source, b ORDER BY source""")((s, d) => {
      val b = pmod(expr("CAST(substring(source, 4) AS INT)"), lit(4))
      val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
      // Hex-string compare ≡ numeric compare at fixed width: the
      // thresholds are 0x40/0x80/0xc0 out of 0x100 (b=3 keeps all).
      val thr = when(b === 0, "40").when(b === 1, "80").otherwise("c0")
      val kept = when(b === 3 || h2 < thr, 1).otherwise(0)
      documents(s, d)
        .select(col("source"), b.as("b"), kept.as("k"))
        .groupBy("source", "b")
        .agg(count(lit(1)).cast("bigint").as("n_total"),
          sum("k").cast("bigint").as("n_kept"))
        .select(col("source"), col("n_total"), col("n_kept"),
          ((col("b") + 1).cast("double") / 4.0).as("target_rate"),
          (col("n_kept").cast("double") / col("n_total").cast("double"))
            .as("achieved"))
        .orderBy("source")
    }),

    /** q152: PREFIX-FINGERPRINT DUPLICATE GROUPS — near-dup detection
      * on the first 64 chars (md5'd), the cheap catcher for
      * truncation/continuation duplicates and shared boilerplate
      * heads that full-text hashing (q49) misses and shingle LSH
      * (q51) only finds probabilistically. ONE shuffle on the 16-byte
      * fingerprint with map-side partial (count, min) aggregation —
      * the q49 plan shape at a fraction of the key width; at 100 TB
      * the groups>1 filter drops ~all of the key space before the
      * result materializes. */
    Query("q_dedup_prefix",
      """SELECT md5(substr(text, 1, 64)) AS ph,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_id
         FROM documents
         GROUP BY 1 HAVING count(*) > 1 ORDER BY ph""")((s, d) =>
      documents(s, d)
        .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("ph"))
        .groupBy("ph")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          min("doc_id").as("keep_id"))
        .filter(col("n_docs") > 1)
        .orderBy("ph"))
  )
}
