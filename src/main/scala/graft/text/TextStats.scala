package graft.text

import org.apache.spark.sql.functions._
import graft.engine.Query
import graft.engine.Tables._
import graft.engine.Dec._

/** §2 group I — text analysis + UDF/UDTF surfaces [N]. */
object TextStats {

  /** Scalar UDF surface (q54): text normalizer. Kept as a genuine
    * Scala UDF to exercise the extension point; the built-in-function
    * equivalent is what the oracle replicates. */
  val normalize: String => String =
    s => s.trim.toLowerCase.replaceAll(" +", " ")

  /** Fingerprint over any (doc_id, text) frame — exposed for the
    * short-document edge-case spec. */
  def fingerprintOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
      docs
        .withColumn("toks", split(col("text"), " "))
        .selectExpr("doc_id",
          // < 3 tokens: no 3-grams. sequence(1, size-2) would count DOWN
          // for size<3 (Spark infers step -1) and element_at(toks, 0)
          // throws under ANSI — guard to NULL, matching DuckDB's
          // list_aggregate(empty, 'min').
          """CASE WHEN size(toks) >= 3 THEN
               array_min(transform(sequence(1, size(toks) - 2),
                 i -> md5(concat(element_at(toks, i), ' ',
                                 element_at(toks, i + 1), ' ',
                                 element_at(toks, i + 2)))))
             END AS fp""",
          "CAST(size(toks) - 2 AS BIGINT) AS n_grams")
        .orderBy("doc_id")

  val queries: Seq[Query] = Seq(
    /** q53: per-language corpus stats. */
    Query("q_text_lang_stats",
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         count(DISTINCT source) AS n_sources,
         CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang""")((s, d) => {
      documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          countDistinct(col("source")).as("n_sources"),
          avgd(sum(col("n_chars")), count(lit(1))).as("avg_chars"))
        .orderBy("lang")
    }),

    /** q54: scalar UDF — normalize a deliberately-uglified input;
      * result must equal the built-in pipeline the oracle uses. */
    Query("q_udf_norm",
      """SELECT doc_id,
         regexp_replace(lower(trim('  ' || upper(text) || '   ')), ' +', ' ', 'g') AS norm
         FROM documents ORDER BY doc_id""")((s, d) => {
      val normUdf = udf(normalize)
      documents(s, d)
        .select(col("doc_id"),
          normUdf(concat(lit("  "), upper(col("text")), lit("   "))).as("norm"))
        .orderBy("doc_id")
    }),

    /** q61: language-ID by marker-token scoring (n-gram-heuristic
      * shape: count hits per language profile, argmax with fixed tie
      * order). The synthetic corpus shares one vocabulary, so the
      * value is the scoring machinery, oracle-checked end-to-end. */
    Query("q_text_langid",
      """SELECT doc_id, s1, s2, s3,
         CASE WHEN s1 >= s2 AND s1 >= s3 THEN 'L1'
              WHEN s2 >= s3 THEN 'L2' ELSE 'L3' END AS pred
         FROM (
           SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('join','filter','agg'))) AS BIGINT) AS s1,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('window','batch','stream'))) AS BIGINT) AS s2,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('hash','sort','merge'))) AS BIGINT) AS s3
           FROM documents
         ) t ORDER BY doc_id""")((s, d) => {
      val toks = split(col("text"), " ")
      def score(words: Seq[String]) =
        size(filter(toks, x => x.isInCollection(words))).cast("bigint")
      documents(s, d)
        .select(col("doc_id"),
          score(Seq("join", "filter", "agg")).as("s1"),
          score(Seq("window", "batch", "stream")).as("s2"),
          score(Seq("hash", "sort", "merge")).as("s3"))
        .withColumn("pred",
          when(col("s1") >= col("s2") && col("s1") >= col("s3"), "L1")
            .when(col("s2") >= col("s3"), "L2")
            .otherwise("L3"))
        .orderBy("doc_id")
    }),

    /** q62: quality scoring — token count, char count, mean token
      * length, stopword ratio, and a keep/drop flag. */
    Query("q_text_quality",
      """SELECT doc_id, n_tokens, n_chars, n_stop,
         CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_tok_len,
         CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
         CAST(CASE WHEN n_tokens BETWEEN 20 AND 90
                   AND CAST(n_stop AS DOUBLE) / n_tokens < 0.2
              THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a'))) AS BIGINT) AS n_stop
           FROM documents
         ) t ORDER BY doc_id""")((s, d) => {
      val toks = split(col("text"), " ")
      documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("bigint").as("n_tokens"),
          length(col("text")).cast("bigint").as("n_chars"),
          size(filter(toks, x => x.isInCollection(Seq("the", "a"))))
            .cast("bigint").as("n_stop"))
        .withColumn("avg_tok_len",
          (col("n_chars") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
        .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("keep",
          when(col("n_tokens").between(20, 90) && col("stop_ratio") < 0.2, 1L)
            .otherwise(0L))
        .orderBy("doc_id")
    }),

    /** q63: token counting — whitespace tokens vs a BPE-ish regex
      * segmentation, plus distinct count. */
    Query("q_text_tokens",
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS bpe_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_tokens
         FROM documents ORDER BY doc_id""")((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
            .cast("bigint").as("bpe_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("bigint")
            .as("distinct_tokens"))
        .orderBy("doc_id")
    }),

    /** q64: document fingerprinting — winnowing-style: the minimum
      * md5 over all token 3-grams (portable rolling-window hash). */
    Query("q_text_fingerprint",
      """SELECT doc_id,
         list_aggregate(list_transform(range(1, len(toks) - 1),
           i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])),
           'min') AS fp,
         CAST(len(toks) - 2 AS BIGINT) AS n_grams
         FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
         ORDER BY doc_id""")((s, d) => fingerprintOf(documents(s, d))),
    /** q56: UDTF/generator surface — token bigrams per doc via typed
      * flatMap (the Dataset-native generator), top-20. */
    Query("q_udtf_bigrams",
      """SELECT bigram, count(*) AS cnt FROM (
           SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
           FROM (SELECT string_split(text, ' ') AS toks FROM documents) t
         ) b
         GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""")((s, d) => {
      import s.implicits._
      documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (_, t) =>
          t.split(" ").iterator.filter(_.nonEmpty).sliding(2)
            .collect { case Seq(a, b) => a + " " + b }
        }
        .toDF("bigram")
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)
    })
  )
}
