package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import graft.incr.IncrMerge
import graft.iter.{IterQueries, KMeans}
import graft.text.{Dedup, MinHash, Similarity}
import graft.stream.Streams

/** The user-facing library facade: every operator the fixture-bound
  * benchmark queries exercise, callable on YOUR DataFrames. A user of
  * the reference framework migrates by replacing their job classes
  * with these calls — the semantics map is documented per method and
  * in SURVEY.md §1.2.
  *
  * Everything here is a plain Spark logical plan under the hood:
  * Catalyst optimizes it together with whatever the caller composes
  * around it. */
object Graft {

  /** One-step incremental processing (i2MapReduce's MRBGraph merge,
    * paper [P §3]): `base` rows count as inserts; `delta` must carry
    * an `op` column with '+' (insert) / '-' (delete); an update is
    * delete+insert. Returns per-key signed count (`n`) and signed sum
    * of `value` (`val_sum`). Associative: merge results can be merged
    * again with later deltas without touching raw history. */
  def incrMerge(base: DataFrame, delta: DataFrame, keys: Seq[String],
                value: Column): DataFrame =
    IncrMerge.merge(base, delta, keys, value)

  /** Declarative MERGE INTO (update = delete+insert [P §3] as the
    * single DML-shaped pass a lakehouse user types): one
    * full-outer-join of `base` and `delta` on `keys`; clause
    * expressions reference the sides as `t`/`s`. See
    * [[graft.incr.MergeInto.mergeInto]] for clause semantics and the
    * partition-pruned-write idiom at scale. */
  def mergeInto(base: DataFrame, delta: DataFrame, keys: Seq[String],
                whenMatchedUpdate: Map[String, Column] = Map.empty,
                whenMatchedDelete: Column =
                  org.apache.spark.sql.functions.lit(false),
                insertWhenNotMatched: Boolean = true,
                whenNotMatchedBySourceDelete: Column =
                  org.apache.spark.sql.functions.lit(false),
                whenMatchedUpdateCond: Column =
                  org.apache.spark.sql.functions.lit(true)): DataFrame =
    graft.incr.MergeInto.mergeInto(base, delta, keys,
      whenMatchedUpdate, whenMatchedDelete, insertWhenNotMatched,
      whenNotMatchedBySourceDelete, whenMatchedUpdateCond)

  /** Partition-pruned MERGE into the partitioned parquet table at
    * `basePath`: only the partitions the delta touches are read or
    * rewritten (dynamic partition overwrite; merge-emptied partitions
    * removed). The 100 TB write path — see
    * [[graft.incr.MergeInto.mergeIntoPartitioned]] for the contract
    * (`partCol` must be key-stable). Returns the touched values. */
  def mergeIntoPartitioned(s: SparkSession, basePath: String,
                           delta: DataFrame, keys: Seq[String],
                           partCol: String,
                           whenMatchedUpdate: Map[String, Column] = Map.empty,
                           whenMatchedDelete: Column =
                             org.apache.spark.sql.functions.lit(false),
                           insertWhenNotMatched: Boolean = true,
                           whenNotMatchedBySourceDelete: Column =
                             org.apache.spark.sql.functions.lit(false),
                           whenMatchedUpdateCond: Column =
                             org.apache.spark.sql.functions.lit(true))
      : Seq[Any] =
    graft.incr.MergeInto.mergeIntoPartitioned(s, basePath, delta, keys,
      partCol, whenMatchedUpdate, whenMatchedDelete, insertWhenNotMatched,
      whenNotMatchedBySourceDelete, whenMatchedUpdateCond)

  /** PageRank over a directed edge list `(src: long, dst: long)` —
    * damping 0.85, `iters` fixed iterations, bit-exact scaled-integer
    * arithmetic (column `rs` = rank × 1e10). */
  def pagerank(edges: DataFrame, iters: Int): DataFrame =
    IterQueries.pagerank(edges, iters)

  /** K-means over `(vec_id: long, embedding: array<float>)`; returns
    * the input with a `cluster` column. Centroids seeded from the
    * first k vec_ids. */
  def kmeans(vecs: DataFrame, k: Int = 10, iters: Int = 3): DataFrame =
    KMeans.runOn(vecs.sparkSession, vecs, k, iters)

  /** Exact content dedup: group by md5 of `textCol`, keep min id. */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
  }

  /** MinHash-LSH near-duplicate pairs over distinct `(doc_id, tok)`
    * rows, exactly verified in-bucket at Jaccard >= 0.5. O(n·bands),
    * never O(n²) — the 100 TB dedup path. */
  def nearDupPairs(tokens: DataFrame): DataFrame =
    Dedup.verifyPairs(MinHash.candidates(MinHash.signatures(tokens)),
      Dedup.docSets(tokens))

  /** COST-BASED near-duplicate pairs: costs the exact token-self-join
    * (Σ_tok df² pair instances) in one aggregate pass, then runs the
    * recall-free exact join at/below the cap or the capped MinHash-LSH
    * pipeline above it. Same verified output schema either way.
    * Returns (chosen plan, pairs). */
  def autoNearDupPairs(tokens: DataFrame,
                       exactVolumeCap: Long = 20L * 1000 * 1000)
      : (String, DataFrame) =
    Dedup.autoPairs(tokens.sparkSession, tokens, exactVolumeCap)

  /** COST-BASED batch KNN: costs the |probes| × |corpus| brute
    * dot-product volume from two counts, then runs the exact brute
    * scan at/below the cap or the √n-centroid IVF index above it.
    * Both branches emit (probe_id, vec_id, sim, rn) with the same
    * IEEE op order and tie-break. Returns (chosen plan, neighbours). */
  def autoKnn(corpus: DataFrame, probes: DataFrame, topK: Int,
              nprobe: Int = 3,
              bruteVolumeCap: Long = 50L * 1000 * 1000)
      : (String, DataFrame) =
    Similarity.autoKnn(corpus.sparkSession, corpus, probes, topK,
      nprobe, bruteVolumeCap)

  /** Brute-force cosine top-k against the embedding of `probeId`. */
  def cosineTopK(vecs: DataFrame, probeId: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val probe = vecs.filter(col("vec_id") === probeId)
      .select(col("embedding").as("probe"))
    val dot = graft.functions.FloatDot.float_dot _
    vecs.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= probeId)
      .select(col("vec_id"),
        (dot(col("embedding"), col("probe")) /
          (sqrt(dot(col("embedding"), col("embedding")))
            * sqrt(dot(col("probe"), col("probe"))))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF-bucketed approximate top-k — see Similarity.ivfTopK. */
  def ivfTopK(s: SparkSession, dir: String, nprobe: Int, k: Int): DataFrame =
    Similarity.ivfTopK(s, dir, nprobe = nprobe, topK = k)

  /** SSSP (unit weights) from `source` over `(src: long, dst: long)`
    * edges, fixed `iters` relaxation rounds; unreachable = 999999999. */
  def sssp(edges: DataFrame, source: Long, iters: Int): DataFrame =
    IterQueries.sssp(edges, source, iters)

  /** Connected components by min-label propagation; pass a
    * symmetrized edge list for undirected semantics. */
  def connectedComponents(edges: DataFrame, iters: Int): DataFrame =
    IterQueries.connectedComponents(edges, iters)

  /** Last-write-wins current state per key from a change log
    * (kv-pair-level update = delete+insert, paper [P §3]): keeps the
    * first row per key under `ordering` (pass `.desc` columns for
    * latest-wins). */
  def upsertLatest(changeLog: DataFrame, keys: Seq[String],
                   ordering: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    changeLog.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Snapshot diff of two keyed aggregate states: full outer join on
    * `key`, status = added/removed/changed, delta = after - before
    * (both value columns must be exact-decimal per Dec). */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   key: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = before.select(col(key), col(valueCol).as("__a"))
    val b = after.select(col(key), col(valueCol).as("__b"))
    a.join(b, Seq(key), "full")
      .select(col(key),
        when(col("__a").isNull, lit("added"))
          .when(col("__b").isNull, lit("removed"))
          .otherwise(lit("changed")).as("status"),
        (coalesce(col("__b"), lit(0)) - coalesce(col("__a"), lit(0)))
          .as("delta"))
  }

  /** Deterministic train/val/test assignment (~80/10/10) keyed on
    * `keyCol` — reproducible across runs, engines and partitionings
    * (md5 of the key, never random()). Adds a `split` column. */
  def sampleSplit(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val h2 = substring(md5(col(keyCol).cast("string").cast("binary")), 1, 2)
    df.withColumn("split",
      when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test"))
  }

  /** SimHash near-dup pairs over distinct `(doc_id, tok)` rows:
    * 64-bit signatures, 4×16-bit band candidates (pigeonhole-complete
    * for Hamming <= 3), exact popcount verify. */
  def simhashPairs(tokens: DataFrame, maxHamming: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.text.SimHash.candidates(graft.text.SimHash.signatures(tokens))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Streaming/batch windowed aggregations — same function builds
    * either plan (pass a readStream or a batch DataFrame). */
  def tumbling(ev: DataFrame, watermark: Option[String] = None): DataFrame =
    Streams.tumbling(ev, watermark)
  def sessions(ev: DataFrame, watermark: Option[String] = None): DataFrame =
    Streams.sessions(ev, watermark)
  def runningUserState(ev: DataFrame): Dataset[Streams.UserAgg] =
    Streams.runningUserState(ev)

  /** Salted fact⋈dim inner join for hot-key skew — deterministic
    * content-derived salt; identical results to the plain join. See
    * [[graft.ops.Skew.saltedJoin]]. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltBy: Seq[Column], nSalts: Int): DataFrame =
    graft.ops.Skew.saltedJoin(fact, dim, key, saltBy, nSalts)

  /** Bloom-pruned selective fact⋈dim join: dim-side Bloom filter
    * drops non-matching fact rows before the join shuffle; exact join
    * after, so results equal the plain join. See
    * [[graft.ops.BloomPrune.bloomPrunedJoin]]. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame,
                      factKey: String, dimKey: String): DataFrame =
    graft.ops.BloomPrune.bloomPrunedJoin(fact, dim, factKey, dimKey)

  /** Watermarked STREAM-STREAM interval join (columns lt/l_user vs
    * rt/r_user); the time-bounded condition lets buffered state
    * expire. See [[graft.stream.Streams.intervalJoin]]. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   watermark: String = "10 minutes",
                   window: String = "15 minutes"): DataFrame =
    Streams.intervalJoin(left, right, watermark, window)

  /** Streaming upsert sink: a `foreachBatch` body that maintains a
    * keyed parquet snapshot from a change stream via [[mergeInto]] —
    * last-write-wins per batch under `orderCol`, idempotent on batch
    * replay, crash-safe versioned commits. Read the snapshot
    * back with [[readMergeStore]]. See
    * [[graft.stream.Streams.mergeSink]]. */
  def streamingMergeSink(keys: Seq[String], orderCol: String,
                         storePath: String)
      : DataFrame => Unit = df =>
    Streams.applyMergeBatch(df, keys, orderCol, storePath)

  /** The current committed snapshot of a [[streamingMergeSink]] store
    * (None before the first batch commits). */
  def readMergeStore(s: SparkSession, storePath: String): Option[DataFrame] =
    Streams.readStore(s, storePath)

  /** Persist / load an IVF ANN index, partitioned by cluster
    * so probe-time cluster selection becomes parquet partition
    * pruning. See [[graft.text.Similarity.ivfWriteIndex]]. */
  def ivfWriteIndex(indexedQ: DataFrame, cents: Array[Array[Double]],
                    path: String): Unit =
    Similarity.ivfWriteIndex(indexedQ, cents, path)
  def ivfReadIndex(s: SparkSession, path: String)
      : (DataFrame, Array[Array[Double]]) =
    Similarity.ivfReadIndex(s, path)

  /** TF-IDF scores over `(idCol, textCol)` documents: one row per
    * (doc, term) with tf, df and tfidf = tf * ln(N/df). Space-split
    * tokenization; vocabulary-sized df side is broadcast. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // N is computed INSIDE the plan (single-row count aggregate,
    // broadcast into a literal-like cross join) so the facade stays
    // lazily plan-building like every other method and never snapshots
    // a stale count if the docs source changes before execution. Same
    // IEEE op chain as a baked-in literal: exact long→double cast,
    // one divide, one log.
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") *
          log(col("n_docs") / col("df").cast("double"))).as("tfidf"))
  }

  /** Temperature rebalance (α = 0.5): keep each `classCol` group at
    * acceptance rate √(c_min/c_class) via a seed-free md5(idCol)
    * threshold — the multilingual/multi-source mixing step. Map-side
    * once the O(|classes|) rate relation broadcasts. Returns the
    * surviving rows with `c_docs`/`t_int` attached. */
  def temperatureRebalance(df: DataFrame, classCol: String,
                           idCol: String): DataFrame =
    ops.Sampling.temperatureRebalance(df, classCol, idCol)

  /** Exact balanced class sample: downsample every `classCol` group
    * to the minority class size, rows ranked by md5(idCol) + id
    * tie-break within each class (deterministic, seed-free; each
    * class sorts independently). */
  def balancedSample(df: DataFrame, classCol: String,
                     idCol: String): DataFrame =
    ops.Sampling.balancedSample(df, classCol, idCol)

  /** User-journey transition matrix: (`typeCol` → next) counts over
    * each `userCol` timeline ordered by (`tsCol`, `tieCol`). */
  def transitionMatrix(ev: DataFrame, userCol: String, tsCol: String,
                       tieCol: String, typeCol: String): DataFrame =
    ops.Events.transitionMatrix(ev, userCol, tsCol, tieCol, typeCol)

  /** Consecutive-day activity streaks per `userCol`:
    * (user, n_active_days, n_streaks, longest_streak). */
  def activityStreaks(ev: DataFrame, userCol: String,
                      tsCol: String): DataFrame =
    ops.Events.activityStreaks(ev, userCol, tsCol)

  /** Nearest as-of join: for each left row the same-`key` right row
    * closest in absolute time (ms distance, sub-ms ties by right id;
    * right ids must be < 10^7). Output (l_id, key, r_id, diff_ms). */
  def nearestAsofJoin(left: DataFrame, lId: String, lTs: String,
                      right: DataFrame, rId: String, rTs: String,
                      key: String): DataFrame =
    ops.Joins.nearestAsofJoin(left, lId, lTs, right, rId, rTs, key)

  /** Bigram-LM rarity scoring: per doc the bigram count, occurrences
    * rarer than 1/`rarityDenom` under the corpus's own bigram LM
    * (integer threshold test) and the min conditional probability. */
  def lmRarity(docs: DataFrame, idCol: String, textCol: String,
               rarityDenom: Int = 32): DataFrame =
    text.TextStats.lmRarity(docs, idCol, textCol, rarityDenom)

  /** The group-level incremental recompute rule as a combinator: for
    * any per-group derivation whose output depends only on its own
    * group's rows (sessions, SCD2 histories, streaks, per-user
    * stats), maintain it under a delta by passing untouched groups
    * through and re-deriving exactly the groups in `affected` from
    * their post-delta rows. `affected` (the delta's group-key set) is
    * broadcast — delta-proportional, never a corpus shuffle. */
  def incrGroupRecompute(base: DataFrame, post: DataFrame,
                         groupCols: Seq[String], affected: DataFrame)
                        (derive: DataFrame => DataFrame): DataFrame =
    graft.incr.Maintain.groupRecompute(base, post, groupCols, affected)(derive)

  /** Signed incremental wordcount (the i²MapReduce motivating
    * example): maintain token counts from the stored base counts
    * (`word`, `n`) plus insert/delete doc sets — delta-proportional
    * after the state scan; zero-count tokens vanish. */
  def incrTokenCounts(baseCounts: DataFrame, insertDocs: DataFrame,
                      deleteDocs: DataFrame, textCol: String): DataFrame =
    text.TextStats.incrTokenCounts(baseCounts, insertDocs, deleteDocs, textCol)

  /** Chunk-level exact dedup: fixed `chunkTokens`-token chunks,
    * md5-hashed; returns chunks occurring in ≥2 docs as
    * (h, n_occ, n_docs, keep_id). */
  def chunkDupGroups(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int = 16): DataFrame =
    text.Dedup.chunkDupGroups(docs, idCol, textCol, chunkTokens)

  /** Winnowing fingerprints (MOSS scheme): per doc the distinct
    * selected (k-shingle, w-window-min) hashes as (doc_id, fp) —
    * any two docs sharing a ≥ k+w−1 token run share a fingerprint. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame =
    text.TextStats.winnowFingerprints(docs, idCol, textCol, k, w)

  /** ANALYZE-style column profiling: per column one row
    * (col_name, n_rows, n_distinct, min_v, max_v, sum_v). Columns
    * must be numeric with ≤2 decimal places (exact-decimal sums). */
  def profileStats(df: DataFrame, cols: Seq[String]): DataFrame =
    ops.Aggs.profileStats(df, cols)

  /** Small-file compaction: rewrite a hive-partitioned directory with
    * exactly one file per `partCol` partition. */
  def compactPartitions(s: SparkSession, inPath: String, outPath: String,
                        partCol: String): Unit =
    stream.StreamOps.compactPartitions(s, inPath, outPath, partCol)

  /** Top-k per group through the TIER-(c) custom operator
    * ([[graft.plans.TopKPerGroupPlan]] — map-side bounded-heap
    * pruning, shuffling at most |groups|·k·|partitions| rows instead
    * of the corpus the window form moves). `sortCols` MUST be a total
    * order (add a unique tie-break) — ties would otherwise resolve by
    * partition layout. Installs graft's planner strategies on the
    * session (`GraftStrategies.install`); the config path is
    * `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   sortCols: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = df.sparkSession
    graft.plans.GraftStrategies.install(spark)
    val order = sortCols.map(c => Bridge.expressionEager(spark, c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    Bridge.ofRows(spark, graft.plans.TopKPerGroupPlan(k,
      groupCols.map(c => Bridge.expressionEager(spark, df(c))), order,
      Bridge.analyzed(df)))
  }

  /** Cost-based top-k-per-group (the q160/q161 selector pattern
    * applied to the tier-(c) operator): ONE aggregate pass costs the
    * operator's shuffle volume (|groups|·k·|partitions|) against the
    * window form's (|rows|); the custom operator wins only when the
    * per-partition winners are much smaller than the corpus — at high
    * group cardinality the heaps emit nearly every row and the plain
    * window sort is the right plan. Returns the winning branch's rows
    * with the decision in a `plan` column.
    *
    * NOTE — the costing pass is EAGER (round-12 advice): it runs the
    * count/count_distinct aggregate and forces physical planning via
    * `df.rdd` BEFORE the chosen branch executes, so an expensive
    * upstream plan is evaluated once for costing and again for the
    * result. Callers with a costly input should `.cache()` or
    * `.localCheckpoint()` it first; the facade deliberately does not
    * do this implicitly (caching is a resource decision that belongs
    * to the caller). */
  def autoTopK(df: DataFrame, groupCols: Seq[String],
               sortCols: Seq[Column], k: Int,
               advantage: Double = 4.0): DataFrame = {
    import org.apache.spark.sql.functions.{col, count_distinct, lit,
      count, struct, row_number}
    val costs = df.agg(count(lit(1)).as("n"),
      count_distinct(struct(groupCols.map(col): _*)).as("g")).head()
    val (n, g) = (costs.getLong(0), costs.getLong(1))
    // the operator's map-side winners scale with the INPUT partition
    // count (each input partition emits up to g·k rows), NOT the
    // shuffle-partition setting — costing with min(shuffle, input)
    // underestimated the 20 000-partition 100 TB case by orders of
    // magnitude (code-review finding, round 12). df.rdd forces
    // physical planning once; acceptable for a costing pass.
    val parts = math.max(1, df.rdd.getNumPartitions)
    if (g * k * parts * advantage <= n)
      topKPerGroup(df, groupCols, sortCols, k).withColumn("plan", lit("native"))
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*).orderBy(sortCols: _*)
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
        .withColumn("plan", lit("window"))
    }
  }

  // ------------- round-12 batch 2/3 generics (rows 201-211) -------------

  /** True (unrestricted) Damerau–Levenshtein distance as a codegen'd
    * Column — Lowrance–Wagner, the variant where a transposed pair
    * may be edited again ([[graft.functions.DamerauLevenshtein]]). */
  def damerauLevenshtein(a: Column, b: Column): Column =
    ops.Scalars.damerauLev(a, b)

  /** Per-key daily resample + forward-fill summary (span/active/gap
    * days + exact forward-filled cents sum) over an events-shaped
    * frame (user_id, ts, event_id, value) — run-length formulation,
    * no calendar explosion. */
  def ffillSummary(ev: DataFrame): DataFrame = ops.TimeSeries.ffillSummary(ev)

  /** Prefix-filtered EXACT Jaccard self-join at τ = num/den over a
    * DISTINCT (doc_id, tok) relation — PPJoin candidate pruning,
    * lossless (row-identical to the brute-force join). */
  def prefixJaccardPairs(toks: DataFrame, num: Int, den: Int): DataFrame =
    text.Similarity.prefixJaccardPairs(toks, num, den)

  /** Single-pass data-quality report: (rule name, violation
    * predicate) pairs evaluated in ONE conditional-count scan. */
  def qualityReport(df: DataFrame,
                    rules: Seq[(String, Column)]): DataFrame =
    ops.Curation.qualityReport(df, rules)

  /** Count-Min sketch build / probe — mergeable (counter-wise sum)
    * frequency estimation in depth·width counters. */
  def cmsBuild(df: DataFrame, keyCol: String, depth: Int = 4,
               width: Int = 1024): DataFrame =
    ops.Aggs.cmsBuild(df, keyCol, depth, width)
  def cmsEstimate(cms: DataFrame, probes: DataFrame, keyCol: String,
                  depth: Int = 4, width: Int = 1024): DataFrame =
    ops.Aggs.cmsEstimate(cms, probes, keyCol, depth, width)

  /** All unordered row pairs within `band` of each other on a BIGINT
    * `tsCol` — the bucketed band self-join (equi-join plan, exact
    * integer bucketing, no dedup pass). */
  def bandSelfJoin(df: DataFrame, idCol: String, tsCol: String,
                   band: Long, payload: Seq[String] = Nil): DataFrame =
    ops.Sweep.bandSelfJoin(df, idCol, tsCol, band, payload)

  /** Rows anchoring a strictly consecutive `pattern` run in each
    * key's (ts, tie) timeline — MATCH_RECOGNIZE-shaped contiguous
    * matching via pattern.size−1 leads over one exchange. */
  def patternMatches(ev: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String, typeCol: String,
                     pattern: Seq[String]): DataFrame =
    ops.Events.patternMatches(ev, keyCol, tsCol, tieCol, typeCol, pattern)

  /** Maximal subgraph of min degree ≥ k (iterated peel to fixpoint)
    * over a symmetric directed edge list (src, dst). Throws rather
    * than returning a non-fixpoint if the peel cascade exceeds
    * `maxRounds` (termination itself is guaranteed: every
    * non-converged round drops at least one edge). */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int = 100000): DataFrame =
    ops.GraphStats.kcore(edges, k, maxRounds)

  /** All unordered pairs of overlapping CLOSED intervals — bucketed
    * equi-join with the max(start)-bucket attribution rule (each
    * overlapping pair survives on exactly one bucket; no dedup
    * pass). `idCols` must totally order intervals. */
  def intervalOverlapJoin(iv: DataFrame, idCols: Seq[String],
                          sCol: String, eCol: String,
                          bucket: Long): DataFrame =
    ops.Sweep.intervalOverlapJoin(iv, idCols, sCol, eCol, bucket)

  /** EXACT 2-D proximity-pair aggregates (per unordered type pair:
    * count, Σ|Δt|, Σ|Δv| over all pairs with |Δt| ≤ T and |Δv| ≤ V)
    * in O(n log n) per time segment with pairs never materialized —
    * [[ops.Sweep2D.gridPairsExact]], the density-proof plan the q216
    * selector switches to above its candidate-volume cap. Input
    * columns: event_id (unique BIGINT), event_type, tsu, vc (exact
    * integers). */
  def gridPairsExact(ev: DataFrame, T: Long, V: Long,
                     segFactor: Int = 0): DataFrame =
    ops.Sweep2D.gridPairsExact(ev, T, V, segFactor)

  // -----------------------------------------------------------------
  // round-12 analytics kernels (rows 219-242)
  // -----------------------------------------------------------------

  private def renamed(df: DataFrame, pairs: (String, String)*): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(pairs.map { case (from, to) => col(from).as(to) }: _*)
  }

  /** Per-(type, 32-id block) presence bitmaps — exact distinct
    * counting / set algebra / signed maintenance state over a dense
    * bounded id domain (SURVEY rows 219-221). Returns
    * (event_type, blk, bm, n). */
  def bitmapBlocks(df: DataFrame, typeCol: String,
                   idCol: String): DataFrame =
    ops.Analytics.bitmapBlocks(
      renamed(df, typeCol -> "event_type", idCol -> "user_id"))

  /** RFM segmentation (row 222): facts reduce per user in one
    * exchange, ntile(5) scoring runs on the user dimension. Input
    * needs (user, ts, value). */
  def rfmSegments(ev: DataFrame, userCol: String, tsCol: String,
                  valueCol: String): DataFrame =
    ops.Analytics.rfmSegments(ops.Analytics.rfmPerUser(
      renamed(ev, userCol -> "user_id", tsCol -> "ts",
        valueCol -> "value")))

  /** Rolling exact distinct — per day DAU + trailing-7-day WAU via
    * bitmap partials (row 226). */
  def dauWau(ev: DataFrame, userCol: String, tsCol: String): DataFrame =
    ops.Analytics.dauWau(ops.Analytics.dailyBitmaps(
      renamed(ev, userCol -> "user_id", tsCol -> "ts")))

  /** First/last-touch attribution per channel (row 227): input needs
    * (event_id, user_id, ts, event_type); conversion/touch types and
    * the lookback are parameters. */
  def attribution(ev: DataFrame, convType: String = "purchase",
                  touchTypes: Seq[String] = Seq("view", "click"),
                  lookbackUs: Long = 7L * 24 * 3600 * 1000000)
      : DataFrame =
    ops.Analytics.attributionRollup(
      ops.Analytics.attrPerPurchase(ev, convType, touchTypes, lookbackUs))

  /** Per-day new/returning/churned user accounting (row 233). */
  def lifecycle(ev: DataFrame, userCol: String, tsCol: String): DataFrame =
    ops.Analytics.lifecycle(
      renamed(ev, userCol -> "user_id", tsCol -> "ts"))

  /** Exact-rational OLS regression per group (rows 230-231): x/y are
    * caller-scaled integers (cents); returns the (num, den) digit
    * strings for slope and intercept — portable where a computed
    * double is not. The moments relation itself is the invertible
    * signed-sum incremental state. */
  def linreg(df: DataFrame, groupCol: String, xCol: String,
             yCol: String): DataFrame =
    ops.Analytics.linregFinalize(
      ops.Analytics.linregMoments(df, groupCol, xCol, yCol), groupCol)

  /** Exact-rational Gini concentration per group (row 237) over a
    * cent-scaled amount; `keyCol` must make (cents, key) unique. */
  def gini(df: DataFrame, groupCol: String, centsCol: String,
           keyCol: String): DataFrame =
    ops.Analytics.gini(df, groupCol, centsCol, keyCol)

  /** Exact-integer 2×2 chi-square A/B test per type (rows 240-241):
    * arm = id parity; returns contingency counts, the χ² digit-string
    * rational, and the α=0.05 verdict. The counts relation is the
    * invertible signed-sum incremental state. */
  def chisq(ev: DataFrame, typeCol: String, idCol: String): DataFrame =
    ops.Analytics.chisqFinalize(ops.Analytics.chisqCounts(
      renamed(ev, typeCol -> "event_type", idCol -> "user_id")))

  /** Trigram frequency spectrum (row 235) — the Good-Turing /
    * vocabulary-growth input over any (textCol) corpus. */
  def freqSpectrum(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    ops.Analytics.freqSpectrum(docs.select(col(textCol).as("text")))
  }

  /** Per-user daily-count outliers under the Tukey fence (row 234),
    * exact quartiles. */
  def outlierIqr(ev: DataFrame, userCol: String, tsCol: String): DataFrame =
    ops.Analytics.outlierIqr(
      renamed(ev, userCol -> "user_id", tsCol -> "ts"))

  /** Per-user 3σ day anomalies, exact integer arithmetic (rows
    * 225/228). */
  def anomalySigma(ev: DataFrame, userCol: String,
                   tsCol: String): DataFrame =
    ops.Analytics.anomalySigma(
      renamed(ev, userCol -> "user_id", tsCol -> "ts"))

  /** Per-node triangle incidences of a canonical (a < b) edge list —
    * degree-ordered node-iterator, never all-pairs (row 238 feeds
    * clustering coefficients from this). */
  def triangleVertices(edges: DataFrame): DataFrame =
    ops.GraphStats.triangleVertices(edges)

  /** Morton (Z-order) code of two 4-bit cell coordinates — the
    * clustering key behind row 242's layout. */
  def zMorton(ux: Column, dx: Column): Column =
    ops.Layout.zCol(ux, dx)
}
