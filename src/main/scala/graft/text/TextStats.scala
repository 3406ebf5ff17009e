package graft.text

import org.apache.spark.sql.functions._
import graft.engine.{Query, Memos}
import graft.engine.Tables._
import graft.engine.Dec._
import org.apache.spark.sql.DataFrame
import graft.incr.{Delta, Maintain}

/** §2 group I — text analysis (TF-IDF, word counts, edit distance,
  * winnowing, PMI, LM rarity) + UDF/UDTF surfaces [N], each
  * incremental twin beside the batch row it must equal. */
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


  /** q95: TF-IDF term scoring — the canonical text-relevance
    * weight: tf(doc,term) * ln(N/df(term)), top-20 by score.
    * Numeric note (D3 extension, empirically validated): Java's
    * Math.log and the oracle's libm `ln` agree BITWISE on all
    * ratios N/df that occur here (checked exhaustively for
    * df in 1..500 on this platform), and every other op in the
    * chain (int→double casts, one divide, one multiply) is
    * IEEE-exact-rounded — so scores are bit-identical and the
    * top-20 cut is stable. df-per-term is vocabulary-sized →
    * broadcast join; tf is one shuffle on (doc, term). */
  val textTfidf: Query =
    Query("q_text_tfidf",
      tfidfSql("documents"))((s, d) =>
      // single source of truth for the op chain: the facade pipeline
      // (the oracle depends on its exact IEEE op sequence)
      graft.Graft.tfidf(documents(s, d), "doc_id", "text")
        .select("doc_id", "term", "tfidf")
        .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
        .limit(20))

  /** Per-(doc_id, term) term frequencies of `docs`' text, empty terms
    * dropped: the doc-local tf rows of the TF-IDF family. */
  def tfOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    .filter(length(col("term")) > 0)
    .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Apply a SIGNED document delta to an incremental TF-IDF state
    * [P §3 — update = delete + insert applied to q119's preserved-tf
    * model]. Inputs are the paper's three pieces:
    *
    *   - `tfBase`: the STORED per-(doc, term) tf rows of the base
    *     corpus (production: the q103 partials store — tf is
    *     doc-local, so these rows are never recomputed);
    *   - `tfDelta`: the INSERTED docs' tf rows (only these are
    *     tokenized);
    *   - `deletedIds`: doc_ids of the DELETED docs (a subset of the
    *     base corpus).
    *
    * Deletion is pure state arithmetic, never re-tokenization: the
    * deleted docs' tf rows are RETRIEVED from the stored state
    * (semi-join on doc_id — partition-pruned at scale), their df
    * contributions enter the term-keyed merge with sign −1, and the
    * doc count N decrements — all associative integer merges, the
    * IncrMerge signed pattern applied to the text family. Surviving
    * base docs' tf rows pass through VERBATIM (anti-join only; the
    * Round8Spec perturbation test proves no recompute touches them).
    * Terms whose df hits 0 vanish, exactly as in a full recompute.
    *
    * `n` is the post-delta document count as a 1-row (n_docs double)
    * frame, kept caller-supplied so production can merge stored
    * count state instead of rescanning. Scoring is q95's exact IEEE
    * chain over the merged state. */
  def tfidfApplyDelta(tfBase: DataFrame, tfDelta: DataFrame,
                      deletedIds: DataFrame, n: DataFrame): DataFrame = {
    val tfDeleted = tfBase.join(deletedIds, Seq("doc_id"), "left_semi")
    val tfSurvive = tfBase.join(deletedIds, Seq("doc_id"), "left_anti")
    def dfOf(tf: DataFrame) =
      tf.groupBy("term").agg(count(lit(1)).as("df"))
    // SIGNED term-keyed merge: base and insert contribute +df,
    // deletions contribute −df; associative, so production folds the
    // delta into stored df state without touching the base corpus
    val dfMerged = Maintain.signedMerge(Seq("term"), Seq("df"),
      Seq(dfOf(tfBase), dfOf(tfDelta)), Seq(dfOf(tfDeleted)))(col("df") > 0)
    tfSurvive.unionByName(tfDelta)
      .join(broadcast(dfMerged), "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") *
          log(col("n_docs") / col("df").cast("double"))).as("tfidf"))
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

  /** q95's TF-IDF oracle over the document relation `rel`; q133 checks
    * against it over its post-delta corpus. */
  private def tfidfSql(rel: String): String =
    s"""WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM $rel
         ), t AS (
           SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE length(term) > 0 GROUP BY doc_id, term
         ), d AS (
           SELECT term, count(*) AS df FROM t GROUP BY term
         ), n AS (
           SELECT count(*) AS nd FROM $rel
         )
         SELECT doc_id, term,
           CAST(tf AS DOUBLE) * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE))
             AS tfidf
         FROM t JOIN d USING (term), n
         ORDER BY tfidf DESC, doc_id, term LIMIT 20"""

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
    }),

    textTfidf,

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
    Query("q_incr_tfidf", textTfidf.oracle.get)((s, d) => {
      val docs = documents(s, d)
      val delta = Delta.tenWay(docs, "doc_id").map(tfOf)
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

    /** q133: incremental TF-IDF under a SIGNED delta [P §3] — q119
      * extended with the '-' flag: base tf rows preserved, insert
      * docs tokenized, deleted docs' df/N contributions SUBTRACTED
      * from the stored state via [[tfidfApplyDelta]]. Oracle = q95's
      * full TF-IDF over the post-delta corpus (doc_id % 10 <> 1):
      * the signed merge must be result-invisible. */
    Query("q_incr_tfidf_delete",
      tfidfSql("(SELECT * FROM documents WHERE doc_id % 10 <> 1)"))((s, d) => {
      val delta = Delta.tenWay(documents(s, d), "doc_id")
      val deletedIds = delta.deletes.select("doc_id")
      // signed doc-count merge: +1 base, +1 insert, −1 delete
      def one(dd: DataFrame) = dd.select(lit(1L).as("c"))
      val n = Maintain.signedMerge(Nil, Seq("c"),
          Seq(one(delta.base), one(delta.inserts)), Seq(one(deletedIds)))(
          lit(true))
        .select(col("c").cast("double").as("n_docs"))
      tfidfApplyDelta(tfOf(delta.base), tfOf(delta.inserts), deletedIds, n)
        .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
        .limit(20)
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
      val fps = Memos.frame(s, d, "textstats/winnowFps") {
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

    /** q205: BIGRAM COLLOCATION MINING (PMI/lift) [N text analysis] —
      * the phrase-detection statistic (pointwise mutual information's
      * inner ratio): lift(w1,w2) = P(w1,w2)/(P(w1)P(w2)) =
      * c_xy·N / (c_x·c_y), computed as exact BIGINT products cast
      * once to double for ONE IEEE division (D2: both factors sit far
      * below 2^53, so the doubles are exact and the quotient is
      * correctly rounded identically in both engines). Top-50 by
      * (lift, bigram) over pairs seen ≥ 5 times; counts ride along so
      * the hash pins the full derivation. Map-side tokenize → two
      * word-keyed aggregates; the unigram join broadcasts at fixture
      * scale and stays |vocab|-bounded at 100 TB. */
    Query("q_text_pmi",
      """WITH toks AS (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents
         ),
         n AS (SELECT count(*) AS n_tokens FROM toks),
         uni AS (SELECT w, count(*) AS c_w FROM toks GROUP BY w),
         bi AS (
           SELECT split_part(bigram, ' ', 1) AS w1,
                  split_part(bigram, ' ', 2) AS w2,
                  count(*) AS c_xy FROM (
             SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
             FROM (SELECT string_split(text, ' ') AS toks FROM documents) t
           ) b GROUP BY 1, 2 HAVING count(*) >= 5
         )
         SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
                CAST(ux.c_w AS BIGINT) AS c_x,
                CAST(uy.c_w AS BIGINT) AS c_y,
                CAST(c_xy * n.n_tokens AS DOUBLE) /
                  CAST(ux.c_w * uy.c_w AS DOUBLE) AS lift
         FROM bi
         JOIN uni ux ON ux.w = bi.w1
         JOIN uni uy ON uy.w = bi.w2
         CROSS JOIN n
         ORDER BY lift DESC, w1, w2 LIMIT 50""")((s, d) => {
      val docs = documents(s, d)
      val toks = docs.select(explode(split(col("text"), " ")).as("w"))
      val n = toks.agg(count(lit(1)).as("n_tokens"))
      val uni = toks.groupBy("w").agg(count(lit(1)).as("c_w"))
      // size >= 2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0])
      // where DuckDB's range(1, 1) is empty — 1-token docs must be
      // excluded explicitly to keep the two bigram sets identical.
      val bi = docs.select(split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(expr(
          "explode(transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i - 1] AS w1, toks[i] AS w2)))").as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      bi.join(broadcast(uni.withColumnRenamed("w", "w1")
            .withColumnRenamed("c_w", "c_x")), "w1")
        .join(broadcast(uni.withColumnRenamed("w", "w2")
          .withColumnRenamed("c_w", "c_y")), "w2")
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"),
          col("c_y"),
          ((col("c_xy") * col("n_tokens")).cast("double") /
            (col("c_x") * col("c_y")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(50)
    }),

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
    })
  )
}
