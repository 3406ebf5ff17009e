package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Memos, Query}
import graft.engine.Tables._
import graft.incr.Delta

/** §2 group I — deduplication over documents [N].
  *
  * Scale design: exact dedup is a hash-groupBy (one shuffle on the
  * content hash — at 100 TB that's the canonical fingerprint-shuffle).
  * Exact pairwise Jaccard (q50) is the oracle-checkable ground truth
  * computed on a deterministic doc subset; the scale path for all-pairs
  * near-dup is MinHash-LSH (q51): O(n·bands) bucket shuffle instead of
  * O(n²) comparisons, with exact verification only inside buckets. */
object Dedup {

  /** Default pair-instance volume cap (Σ_key df² join instances)
    * shared by EVERY costed pair source — [[autoPairs]],
    * [[guardedInterPairs]] and q109's inline gate reference this one
    * constant, so the exact↔guarded decision points can never drift
    * apart (no row carries its own copy of the literal). Sized so
    * one executor core handles the exact join's shuffle share in
    * seconds; at cluster scale raise it linearly with cores. */
  val DefaultVolumeCap: Long = 20L * 1000 * 1000

  /** Distinct (doc_id, tok) pairs. */
  def tokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()

  /** Session-memoized [[tokens]] — the full-corpus distinct token
    * relation is shared STRUCTURE (the LSH family's signature source
    * AND the Apriori family's item relation), so it pins once per
    * (session, fixture) instead of paying the tokenize+distinct
    * shuffle per consumer invocation (re-tokenizing per call put
    * jobs on q102's warm profile). persist(), not checkpoint:
    * lineage stays re-derivable under memo-budget eviction. */
  def cachedTokens(s: SparkSession, d: String): DataFrame =
    Memos.frame(s, d, "dedup/toksAll")(tokens(s, d).persist())

  /** Deterministic subset used by the pairwise queries (bounds the
    * candidate space at any SF; the full-corpus path is q51's LSH).
    * Derived from [[cachedTokens]], so the subset consumers (q51's
    * signatures, the SimHash bands, the guarded q65 path) never
    * re-pay the tokenize+distinct shuffle per invocation while the
    * session pins the full-corpus token structure: a filter over the
    * cached relation is a cache-scan, not a shuffle (as for the
    * Apriori family). */
  def subsetTokens(s: SparkSession, d: String): DataFrame =
    cachedTokens(s, d).filter(col("doc_id") % 5 === 0)

  /** Per-doc token set + size, for exact intersection via arrays
    * (token vocabulary is bounded, so sets are small). */
  def docSets(toks: DataFrame): DataFrame =
    toks.groupBy("doc_id")
      .agg(collect_set(col("tok")).as("toks"), count(lit(1)).as("sz"))

  /** Exact Jaccard-qualified pairs among candidate (doc_a, doc_b)
    * pairs: join the token sets, compare 2*|∩| >= |∪| — all integer
    * arithmetic, no float division anywhere.
    *
    * EAGER: the result comes back localCheckpointed and the doc-set
    * scratch frame is unpersisted before returning. The scratch is
    * doc-count-sized and feeds BOTH broadcast probes, so it is cached
    * for the duration of the verify and then released — repeated
    * per-run invocations (q51, the signed-maintenance paths) no
    * longer accumulate checkpoint blocks across a long bench session.
    * A `sets` frame the CALLER already persisted (a memoized stored
    * relation) is used as-is and left cached — only scratch this
    * function created is released. */
  def verifyPairs(cands: DataFrame, sets: DataFrame): DataFrame = {
    val none = org.apache.spark.storage.StorageLevel.NONE
    val setsCached = sets.storageLevel != none
    val matSets = if (setsCached) sets else sets.persist()
    // the candidate stream feeds BOTH the id prune and the verify
    // join (verifyPairsLazy consumes it twice):
    // cache scratch so the single checkpoint action computes it once
    val candsCached = cands.storageLevel != none
    val matCands = if (candsCached) cands else cands.persist()
    val out = verifyPairsLazy(matCands, matSets)
    val scratch = Seq(matSets).filterNot(_ => setsCached) ++
      Seq(matCands).filterNot(_ => candsCached)
    graft.iter.IterQueries.finish(out, scratch: _*)
  }

  /** [[verifyPairs]] WITHOUT the eager checkpoint — the exact-Jaccard
    * verify join as a lazy frame, for callers that materialize the
    * pair graph themselves in ONE downstream action (the signed LSH
    * maintenance fuses pass-through ∪ rebuild ∪ verify into a single
    * checkpoint; an extra eager materialization here would double the
    * job count for no reuse). `sets` must be a caller-managed stored
    * relation (a persisted memo); this function persists nothing —
    * and it consumes `cands` TWICE (id prune + verify join), so lazy
    * callers should pass a cached/materialized candidate frame
    * ([[verifyPairs]] does this automatically).
    *
    * DE-CORPUSED: the probes used to be `broadcast(sets)` verbatim —
    * the stored doc-set relation is CORPUS-sized, so the verify step of
    * the one pipeline built for 100 TB corpora shipped the corpus to
    * every executor. Now `sets` is left-semi-pruned to the candidate
    * doc-id set (≤ 2·|cands| ids — LSH-candidate-bounded by MaxBucket
    * + quarantine) and carries NO broadcast hint: AQE sees the pruned
    * probe sizes at runtime and broadcasts exactly when they fit
    * (at fixture scale it picks the same broadcast plan the old hint
    * forced; `BroadcastAuditSpec` pins the hint-free plan). */
  def verifyPairsLazy(cands: DataFrame, sets: DataFrame): DataFrame = {
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val pruned = sets.join(candIds, Seq("doc_id"), "left_semi")
    val a = pruned.select(col("doc_id").as("doc_a"),
      col("toks").as("toks_a"), col("sz").as("sz_a"))
    val b = pruned.select(col("doc_id").as("doc_b"),
      col("toks").as("toks_b"), col("sz").as("sz_b"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b")))
        .cast("bigint"))
      .withColumn("union_sz", (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("inter") * 2 >= col("union_sz"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"))
  }

  /** Exact Jaccard-qualified pairs (J >= 0.5) over a (doc_id, tok)
    * relation — q50's computation, shared with the q108 cluster
    * collapse. One token self-join with in-groupBy intersection
    * counting.
    *
    * Broadcast-audit survivor: the szA/szB broadcast is SIZE-CAPPED
    * by the caller's gate invariant — the
    * only production caller is [[autoPairs]]' exact branch, which
    * admits this plan only when Σdf² ≤ exactVolumeCap; df ≥ 1 gives
    * |docs| ≤ |toks| = Σdf ≤ Σdf² ≤ cap, so the broadcast side is at
    * most cap rows of two longs, a bounded dimension, never a corpus
    * (`BroadcastAuditSpec` pins the two hints + the invariant). */
  def exactPairs(toks: DataFrame): DataFrame = {
    val a = toks.select(col("doc_id").as("doc_a"), col("tok"))
    val b = toks.select(col("doc_id").as("doc_b"), col("tok"))
    val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val szA = sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"))
    val szB = sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"))
    a.join(b, Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(szA), "doc_a").join(broadcast(szB), "doc_b")
      .withColumn("union_sz", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * 2 >= col("union_sz"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"))
  }

  /** COST-BASED pair-source selection, so the exact↔LSH swap is a
    * costed choice rather than a per-row manual one. The exact
    * path's dominant cost is the token self-join's pair-instance
    * volume Σ_tok df² — computable from a one-pass df aggregate
    * BEFORE committing to either plan (the classic optimizer
    * cardinality estimate, exact here because df² is the join's
    * actual row count). At or below `exactVolumeCap` instances the
    * exact join is cheap and recall-free, so take it; above, the
    * O(n·bands) MinHash-LSH pipeline with capped buckets is the only
    * shape that survives (df² grows quadratically in boilerplate
    * corpora — exactly when LSH banding shines). Returns the chosen
    * path name with the verified (doc_a, doc_b, inter, union_sz)
    * pairs; both branches produce sound J ≥ 0.5 pairs (LSH output ⊆
    * exact — Round6Spec), so callers downstream (collapse, groups)
    * are plan-agnostic. `Round11Spec` pins the decision on both
    * fixture corpora and the sound-subset property. The default cap
    * is sized so one executor core handles the exact join's shuffle
    * share in seconds; at cluster scale raise it linearly with
    * cores. */
  def autoPairs(s: SparkSession, toks: DataFrame,
                exactVolumeCap: Long = DefaultVolumeCap)
      : (String, DataFrame) = {
    // coalesce(0): an empty token relation sums to NULL — the exact
    // path is trivially right there
    val vol = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * col("df")), lit(0L)).cast("long"))
      .head().getLong(0)
    if (vol <= exactVolumeCap) ("exact", exactPairs(toks))
    else ("lsh", {
      val sets = docSets(toks)
      val bk = MinHash.buckets(MinHash.signatures(toks))
      val cands = MinHash.candidatesFromBuckets(bk)
        .unionByName(MinHash.starCandidates(bk)).distinct()
      verifyPairs(cands, sets)
    })
  }

  /** Pair-instance volume Σ_key df² of an (id, key) relation — the
    * EXACT row count (ordered, self-pairs included) of the
    * key-equality self-join, computable from one df aggregate BEFORE
    * committing to a plan. [[autoPairs]]'s costing estimate exposed
    * generically for the whole exact-pair family. The relation must
    * be DISTINCT on (id, key). */
  def pairVolume(rel: DataFrame, keyCol: String): Long =
    pairStats(rel, keyCol)._1

  /** (candidate volume Σdf², distinct key count) of a flat (id, key)
    * relation — the two scalars the guarded pair source needs: the
    * volume picks the branch, the key count sizes the adaptive cap. */
  def pairStats(rel: DataFrame, keyCol: String): (Long, Long) = {
    val r = rel.groupBy(keyCol).agg(count(lit(1)).as("df"))
      // coalesce(0): an empty relation sums to NULL — trivially exact
      .agg(coalesce(sum(col("df") * col("df")), lit(0L)).cast("long")
          .as("vol"),
        count(lit(1)).as("n_keys"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** The guarded pair source's adaptive per-key cap: post-cap
    * candidate volume is Σ min(df, k)² ≤ n_keys·k², so k =
    * √(volumeCap / n_keys) bounds the degraded branch's work by
    * ~volumeCap for ANY df profile; clamped to [min(16, keyCap),
    * keyCap] (the floor keeps a minimum of usefulness on degenerate
    * single-key relations, trading a bounded volume overshoot of
    * n_keys·16²). */
  def adaptiveKeyCap(volumeCap: Long, keyCap: Int, nKeys: Long): Int =
    math.min(keyCap.toLong,
      math.max(math.min(16L, keyCap.toLong),
        math.sqrt(volumeCap.toDouble / math.max(1L, nKeys)).toLong)).toInt

  /** Deterministic per-key population cap: only the `cap` SMALLEST
    * ids per key survive — seed-free, so reproducible on any engine
    * and cluster layout (the MinHash MaxBucket
    * discipline applied to a flat (id, key) relation). */
  def capPerKey(rel: DataFrame, keyCol: String, idCol: String,
                cap: Int): DataFrame =
    rel.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col(idCol))))
      .filter(col("__rn") <= cap).drop("__rn")

  /** Occupancy-costed EXACT-VALUE pair source over ANY distinct
    * (id, key) relation — [[autoPairs]] generalized past the
    * J ≥ 0.5 token corpus it was built for (q65 shingles, q109
    * containment, q175 graph adjacency). Returns
    * (plan, pairs) with pairs = (doc_a < doc_b, inter, sz_a, sz_b),
    * values EXACT in both branches:
    *
    *  - `exact` (volume ≤ volumeCap): the full key self-join —
    *    complete recall. The LSH swap is NOT sound here: these
    *    callers threshold at J ≥ 0.1, on asymmetric containment, or
    *    not at all, all outside the banding S-curve — so the guarded
    *    degradation below is the scale path instead.
    *  - `capped` (volume > volumeCap): candidate pairs are drawn
    *    from the [[capPerKey]]-capped relation, then every candidate
    *    is verified against the FULL per-id sets — emitted rows carry
    *    exact inter/sizes; recall is a declared lower bound (a pair
    *    ALL of whose shared keys are hot may be missed), the LSH
    *    MaxBucket cap-and-quarantine semantics applied to the exact
    *    family. The per-key cap is ADAPTIVE: post-cap candidate
    *    volume is Σ min(df, k)² ≤ n_keys·k², so k = √(volumeCap /
    *    n_keys) (clamped to [min(16, keyCap), keyCap]) bounds the
    *    degraded branch's work BY CONSTRUCTION for any df profile —
    *    an sf1 scale run measured a FIXED 4096 cap
    *    admitting a 92 s run on a ~31-term vocabulary (31·4096² ≈
    *    half a billion candidates slip under any fixed per-key cap
    *    when the key space is small).
    *
    * DE-CORPUSED VERIFY: the capped branch's
    * verify step used to `broadcast()` the per-doc set and size
    * relations built from the FULL corpus — the branch that exists
    * precisely for corpora too big for the exact join shipped the
    * whole corpus to every executor, hitting the broadcast-relation
    * ceiling at scale long before candidate volume mattered. Now the
    * corpus relation is LEFT-SEMI-JOINED to the candidate doc-id set
    * first — candidate-bounded by construction (|ids| ≤ 2·|cands|,
    * and |cands| is what the adaptive cap bounds) — and NO broadcast
    * hint is placed anywhere in the branch: AQE sees the post-semi
    * sizes at runtime and picks broadcast exactly when the pruned
    * side genuinely fits ([[DedupPlanSpec]] pins the hint-free plan
    * on a forced-cap corpus). The semi join and the per-doc set/size
    * aggregation both hash on doc_id, so the groupBy reuses the semi
    * join's exchange — pruning costs no extra corpus shuffle. The
    * candidate set is localCheckpoint-materialized ONCE (it feeds the
    * semi-join prune AND the verify probe; unmaterialized it would
    * re-run the capped self-join per consumer and give AQE no stats),
    * and released from the lineage after the call. Set + size come
    * from ONE aggregation (they used to be two).
    *
    * The exact branch keeps its shape, including the size-relation
    * broadcast, justified by the gate invariant: df ≥ 1 ⇒ Σdf² ≥
    * Σdf = |rel| ≥ |docs|, so vol ≤ volumeCap bounds the broadcast
    * side by volumeCap rows of two longs — a size-capped dimension,
    * not a corpus.
    *
    * Callers surface the decision as a `plan` column under the
    * oracle hash (the gridPairs2d discipline), so the selector
    * itself is oracle-pinned on the fixture. */
  def guardedInterPairs(rel0: DataFrame, keyCol: String, idCol: String,
      volumeCap: Long = DefaultVolumeCap, keyCap: Int = 4096,
      knownStats: Option[(Long, Long)] = None): (String, DataFrame) = {
    val rel = rel0.select(col(idCol).as("doc_id"), col(keyCol).as("tok"))
    val (vol, nKeys) = knownStats.getOrElse(pairStats(rel, "tok"))
    if (vol <= volumeCap) {
      // |sz| ≤ |rel| ≤ vol ≤ volumeCap rows — the broadcast side is
      // cap-bounded by the gate itself (see scaladoc)
      val sz = rel.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val szA = sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"))
      val szB = sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"))
      val a = rel.select(col("doc_id").as("doc_a"), col("tok"))
      val b = rel.select(col("doc_id").as("doc_b"), col("tok"))
      ("exact", a.join(b, Seq("tok"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
        .join(broadcast(szA), "doc_a").join(broadcast(szB), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("sz_a"), col("sz_b")))
    } else {
      val k = adaptiveKeyCap(volumeCap, keyCap, nKeys)
      val capped = capPerKey(rel, "tok", "doc_id", k)
      val a = capped.select(col("doc_id").as("doc_a"), col("tok"))
      val b = capped.select(col("doc_id").as("doc_b"), col("tok"))
      // materialize the cap-bounded candidate set once: it feeds the
      // corpus prune AND the verify probe. persist()+count(), NOT
      // localCheckpoint: finish's unpersist only clears
      // CacheManager entries, so a checkpoint's storage blocks would
      // leak until ContextCleaner GC — persist makes the release
      // real, and the InMemoryRelation gives AQE in-memory stats.
      val cands = a.join(b, Seq("tok"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .persist()
      cands.count() // eager: both consumers read cache, never racing the build
      ("capped",
        graft.iter.IterQueries.finish(cappedVerify(rel, cands), cands))
    }
  }

  /** The capped branch's LAZY verify join over a materialized
    * candidate set — the de-corpused shape as one inspectable frame
    * (`DedupPlanSpec` asserts it carries NO broadcast hint anywhere:
    * the only allowed broadcasts are the ones AQE chooses at runtime
    * from the post-prune sizes). Exact re-verification against the
    * FULL sets of the CANDIDATE docs only (capping bounds RECALL,
    * never values): the corpus relation is semi-pruned to candidate
    * ids before the per-doc aggregation; semi join and groupBy both
    * hash on doc_id, so the prune rides the aggregation's exchange. */
  private[graft] def cappedVerify(rel: DataFrame,
                                  cands: DataFrame): DataFrame = {
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val sets = rel.join(candIds, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_set(col("tok")).as("toks"), count(lit(1)).as("sz"))
    val pa = sets.select(col("doc_id").as("doc_a"),
      col("toks").as("toks_a"), col("sz").as("sz_a"))
    val pb = sets.select(col("doc_id").as("doc_b"),
      col("toks").as("toks_b"), col("sz").as("sz_b"))
    cands
      .join(pa, "doc_a").join(pb, "doc_b")
      .withColumn("inter",
        size(array_intersect(col("toks_a"), col("toks_b")))
          .cast("bigint"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("sz_a"), col("sz_b"))
  }

  /** Session memos (`"dedup/..."` memo frames) for the deterministic
    * subset pair graph and doc set — the graph structure memos applied
    * to the dedup family:
    * q50, q108 and q126 all consume the SAME exact-Jaccard pair
    * computation, so per (session, dir) it materializes once
    * (localCheckpoint) and every further use is a cache hit.
    * Determinism (integer thresholds, fixed data) makes the sharing
    * semantically invisible, exactly as for the graph structure
    * caches. */

  /** Canonical (doc_a < doc_b) intersection counts WITH both set
    * sizes, unthresholded — the one expensive computation (token
    * self-join + pair groupBy) both the Jaccard family (q50/q108/q126)
    * and the containment query (q109) derive from.
    *
    * Broadcast-audit survivor: szA/szB here is
    * subset-doc-sized — corpus-DERIVED, but this memo is the DECLARED
    * bounded-subset oracle baseline (doc_id % 5, built once per
    * session): its whole computation, broadcast included, is the
    * exact ground truth the LSH scale path (q51/q136) is verified
    * against, and is never the 100 TB plan — the declared swap is
    * [[autoPairs]]/[[guardedInterPairs]], whose scale branches are
    * hint-free. Kept hinted so the baseline's plan stays pinned and
    * job-minimal at oracle SFs. */
  def cachedSubsetInter(s: SparkSession, d: String): DataFrame =
    Memos.frame(s, d, "dedup/subsetInter") {
      val toks = subsetTokens(s, d)
      val a = toks.select(col("doc_id").as("doc_a"), col("tok"))
      val b = toks.select(col("doc_id").as("doc_b"), col("tok"))
      val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val szA = sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"))
      val szB = sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"))
      a.join(b, Seq("tok"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
        .join(broadcast(szA), "doc_a").join(broadcast(szB), "doc_b")
        .localCheckpoint()
    }

  def cachedSubsetPairs(s: SparkSession, d: String): DataFrame =
    Memos.frame(s, d, "dedup/subsetPairs")(
      cachedSubsetInter(s, d)
        .withColumn("union_sz", col("sz_a") + col("sz_b") - col("inter"))
        .filter(col("inter") * 2 >= col("union_sz"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"))
        .localCheckpoint())

  /** Memoized row count of [[cachedSubsetPairs]] — the collapse
    * gate's edge scalar (×2 for the symmetrized graph), counted once
    * per (session, fixture) instead of one job per collapse
    * invocation (job launches are what host bursts multiply). */
  def cachedSubsetPairCount(s: SparkSession, d: String): Long =
    Memos.value(s, d, "dedup/subsetPairCount")(
      cachedSubsetPairs(s, d).count())

  /** Distinct doc ids of the pairwise subset (the collapse loops'
    * node set — includes singletons, which the pair graph omits). */
  def cachedSubsetDocs(s: SparkSession, d: String): DataFrame =
    Memos.frame(s, d, "dedup/subsetDocs")(
      subsetTokens(s, d).select(col("doc_id")).distinct().localCheckpoint())

  /** Session-memoized [[docSets]] over the pairwise subset — the
    * verify side of q51's LSH pipeline: the per-doc token-set
    * relation is static structure (the Round8 full-corpus twin is
    * `docSetsAll`), so the collect_set shuffle runs once per
    * (session, fixture) instead of once per q51 invocation.
    * persist(), not checkpoint: lineage stays re-derivable under
    * memo-budget eviction. */
  def cachedSubsetDocSets(s: SparkSession, d: String): DataFrame =
    Memos.frame(s, d, "dedup/subsetDocSets")(
      docSets(subsetTokens(s, d)).persist())

  /** Distinct (doc_id, 3-gram shingle) rows over the doc subset,
    * shingles keyed by md5 (portable across engines). */
  def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(documents(s, d).filter(col("doc_id") % 5 === 0))

  /** Shingles over any (doc_id, text) frame — exposed for the
    * short-document edge-case spec. */
  def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        // Guard size<3: sequence(1, size-2) counts DOWN for short docs
        // (step -1) and element_at(toks, 0) throws under ANSI. Empty
        // array → explode drops the row, matching the oracle's empty
        // range(1, len-1).
        """CASE WHEN size(toks) >= 3 THEN
             transform(sequence(1, size(toks) - 2),
               i -> md5(concat(element_at(toks, i), ' ',
                               element_at(toks, i + 1), ' ',
                               element_at(toks, i + 2))))
           ELSE array() END""")).as("sh"))
      .distinct()

  /** q50: exact near-dup pairs, Jaccard >= 0.5, via token self-join
    * (the exact computation MinHash approximates). */
  val jaccardPairs: Query =
    Query("q_sim_jaccard_pairs",
      """WITH toks AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
           ) r WHERE length(tok) > 0 AND doc_id % 5 = 0
         ),
         sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         )
         SELECT doc_a, doc_b, inter,
                sa.sz + sb.sz - inter AS union_sz
         FROM inter
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE 2 * inter >= sa.sz + sb.sz - inter
         ORDER BY doc_a, doc_b""")((s, d) =>
      cachedSubsetPairs(s, d).orderBy("doc_a", "doc_b"))

  /** q108: NEAR-DUP CLUSTER COLLAPSE — the dedup DECISION step a
    * training-data pipeline runs after pair detection: connected
    * components of the Jaccard>=0.5 pair graph via min-label
    * propagation (FIXED 5 rounds — both engines unroll the same
    * integer computation, so equality holds step for step), emitting
    * one canonical keep_id per doc (singletons keep themselves).
    * Downstream: `filter(doc_id = keep_id)` is the dedup; the same
    * collapse runs unchanged over q51's LSH-verified pairs at full
    * scale (the pair source is the only O(n²)-vs-O(n·bands) choice
    * — q136 declares exactly that composition).
    *
    * CONVERGENCE NOTE: the FIXED 5 rounds exist for the oracle
    * (both engines unroll the same integer computation), and
    * under-merge components whose diameter exceeds 5. The
    * production termination is
    * [[graft.iter.IterQueries.minPropagateUntilStable]]
    * (IterQueries.scala) — the same min-label step iterated on the
    * CHANGED frontier until a round moves no label, so arbitrary-
    * diameter duplicate chains collapse fully and the per-round
    * cost shrinks with the frontier. Swap `minPropagate(…, 5)` for
    * it verbatim; every other line of this query is unchanged. */
  /** q108 oracle: the SAME 5 unrolled min-label stages over the
    * SAME pair graph — integer label propagation is deterministic
    * step for step, so fixed counts make the loop plain SQL (the
    * q42/q43 pattern). */
  val dedupGroups: Query =
    Query("q_dedup_groups", {
      def stage(k: Int): String = {
        val prev = s"label${k - 1}"
        s"""label$k AS (
            SELECT p.node, least(p.label, coalesce(s.mc, 999999999)) AS label
            FROM $prev p LEFT JOIN (
              SELECT e.dst AS node, MIN(p2.label) AS mc
              FROM dedup_edges e JOIN $prev p2 ON p2.node = e.src
              GROUP BY e.dst
            ) s ON s.node = p.node
          )"""
      }
      s"""WITH toks AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
           ) r WHERE length(tok) > 0 AND doc_id % 5 = 0
         ),
         sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         ),
         pairs AS (
           SELECT doc_a, doc_b FROM inter
           JOIN sz sa ON sa.doc_id = doc_a
           JOIN sz sb ON sb.doc_id = doc_b
           WHERE 2 * inter >= sa.sz + sb.sz - inter
         ),
         dedup_edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION ALL
           SELECT doc_b AS src, doc_a AS dst FROM pairs
         ),
         label0 AS (SELECT DISTINCT doc_id AS node, doc_id AS label FROM toks),
         ${(1 to 5).map(stage).mkString(",\n")}
         SELECT node AS doc_id, label AS keep_id
         FROM label5 ORDER BY doc_id"""
    })((s, d) => {
      // the pair graph is the MEMOIZED checkpointed computation (the
      // lazy-frame-in-loop hazard that originally cost 56 s here is
      // structurally gone: the loop reads materialized rows), and the
      // label loop runs under the iterative-loop conf (AQE off,
      // loop-sized partitions — 32-task micro-stages were pure
      // scheduling overhead, measured 11.8 s → ~2 s)
      // the driver-frontier compact collapse (row-identical to the
      // minPropagate(…, 5, matEvery = 1) form — Round17Spec — at ~3
      // jobs instead of 3 per round; the pair graph is the near-dup
      // relation, driver-bounded by the same argument as the LSH
      // family's verified-pair broadcast, with the distributed
      // fallback past LocalCollapseCap)
      graft.iter.Loop.pairCollapse(s, cachedSubsetPairs(s, d), "doc_a", "doc_b",
          cachedSubsetPairCount(s, d))(cachedSubsetDocs(s, d), "doc_id")
        .orderBy("doc_id")
    })

  val queries: Seq[Query] = Seq(
    /** q49: exact dedup by content hash, keep min doc_id. */
    Query("q_dedup_exact",
      """SELECT md5(text) AS h, count(*) AS n_dups, min(doc_id) AS keep_id
         FROM documents GROUP BY md5(text) ORDER BY h""")((s, d) => {
      documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
        .orderBy("h")
    }),

    /** q125: INCREMENTAL exact dedup [P §3 — one-step incremental
      * aggregation]: the per-hash (count, min keep_id) state is
      * ASSOCIATIVE, so the base corpus's groups (production: the q103
      * partials store, base never re-scanned) merge with the delta's
      * by sum/min — group-level re-aggregation touches only hashes the
      * delta contains plus preserved rows passed through. Oracle =
      * q49's full dedup verbatim: the merge must be result-invisible. */
    Query("q_incr_dedup_exact",
      // q125's oracle IS q49's: the associative group merge must be
      // result-invisible.
      """SELECT md5(text) AS h, count(*) AS n_dups, min(doc_id) AS keep_id
         FROM documents GROUP BY md5(text) ORDER BY h""")((s, d) => {
      val delta = Delta.tenWay(documents(s, d), "doc_id").map(
        _.groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id")))
      delta.base.unionByName(delta.inserts)
        .groupBy("h")
        .agg(sum("n_dups").as("n_dups"), min("keep_id").as("keep_id"))
        .orderBy("h")
    }),

    jaccardPairs,

    dedupGroups,

    /** q282: CONVERGENCE-TERMINATED dedup collapse — the q108 twin
      * that runs the min-label step until a round moves no label
      * ([[graft.iter.Loop.collapseUntilStable]]) end to end under the
      * oracle hash. q108's FIXED 5 rounds exist for the unrolled-SQL
      * oracle and under-merge components whose diameter exceeds 5;
      * this row iterates on the CHANGED frontier until it empties, so
      * arbitrary-diameter duplicate chains collapse fully — and the
      * oracle is a TRUE FIXPOINT too: a DuckDB RECURSIVE CTE closes
      * the symmetric pair graph transitively and takes MIN(label)
      * per node (the q273 recursive-CTE discipline — no unrolled
      * stage count on either engine). Labels are integers, the
      * fixpoint is unique, so convergence-vs-recursion equality is
      * exact, not approximate.
      *
      * Scale: the collapse's costed selector takes the edge count from
      * the memoized pair count (no gate job): below
      * `LocalCollapseCap` the rounds are driver arithmetic over the
      * collected pair graph, above it the distributed until-stable
      * loop (per-round work frontier-sized, state never leaves the
      * cluster) — the 100 TB path the q108 scaladoc promises.
      * maxIter 50 is a watchdog, not a tuning knob: near-dup
      * components are clique-dense (diameter ~2-3 here), and a graph
      * that genuinely needed 50+ rounds would simply stop early. */
    Query("q_dedup_groups_converged",
      /** q282 oracle: TRUE-FIXPOINT collapse via RECURSIVE CTE (the
        * q273 discipline — no unrolled stage count): `reach` closes the
        * symmetric pair graph transitively from identity labels, and
        * MIN(label) per node is the component minimum — exactly what
        * the engine's convergence-terminated minPropagateUntilStable
        * computes. UNION (set) semantics terminate the recursion. */
      """WITH RECURSIVE toks AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
           ) r WHERE length(tok) > 0 AND doc_id % 5 = 0
         ),
         sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         ),
         pairs AS (
           SELECT doc_a, doc_b FROM inter
           JOIN sz sa ON sa.doc_id = doc_a
           JOIN sz sb ON sb.doc_id = doc_b
           WHERE 2 * inter >= sa.sz + sb.sz - inter
         ),
         dedup_edges AS (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION ALL
           SELECT doc_b AS src, doc_a AS dst FROM pairs
         ),
         reach(node, label) AS (
           SELECT DISTINCT doc_id AS node, doc_id AS label FROM toks
           UNION
           SELECT e.dst AS node, r.label
           FROM reach r JOIN dedup_edges e ON e.src = r.node
         )
         SELECT node AS doc_id, MIN(label) AS keep_id
         FROM reach GROUP BY node ORDER BY doc_id""")((s, d) => {
      val edges = graft.iter.Loop.symmetrize(cachedSubsetPairs(s, d),
        "doc_a", "doc_b")
      graft.iter.Loop.conf(s) {
        graft.iter.Loop.collapseUntilStable(edges,
            cachedSubsetDocs(s, d).select(col("doc_id").as("node")), 50,
            2 * cachedSubsetPairCount(s, d))
          .select(col("node").as("doc_id"), col("label").as("keep_id"))
      }.orderBy("doc_id")
    }),

    /** q126: CROSS-MODAL dedup collapse [N] — "same document if
      * text-similar OR embedding-similar": the q108 (Jaccard>=0.5,
      * doc subset) and q110 (cosine>=0.4) pair graphs UNION into one
      * edge set (vec_id and doc_id share the id domain) and a single
      * min-label collapse assigns one canonical keep_id across both
      * signals — the decision rule real pipelines run, where either
      * modality alone under-merges. Both pair sources and the loop
      * reuse the shared machinery; at scale each swaps for its
      * bucketed variant (LSH / IVF) with the collapse unchanged.
      *
      * CONVERGENCE NOTE: as for q108/q110, the FIXED 5 rounds serve
      * the oracle; production termination is
      * [[graft.iter.IterQueries.minPropagateUntilStable]] — identical
      * step, frontier-driven, runs until stable — swapped in for
      * `minPropagate(…, 5)` with no other change. */
    /** q126 oracle: the q108 and q110 pair CTEs verbatim, unioned into
      * one edge set, 5 unrolled min-label stages over ALL doc ids. */
    Query("q_dedup_multimodal_groups", {
      def stage(k: Int): String = {
        val prev = s"label${k - 1}"
        s"""label$k AS (
            SELECT p.node, least(p.label, coalesce(s.mc, 999999999)) AS label
            FROM $prev p LEFT JOIN (
              SELECT e.dst AS node, MIN(p2.label) AS mc
              FROM mm_edges e JOIN $prev p2 ON p2.node = e.src
              GROUP BY e.dst
            ) s ON s.node = p.node
          )"""
      }
      s"""WITH toks AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
           ) r WHERE length(tok) > 0 AND doc_id % 5 = 0
         ),
         sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         ),
         tpairs AS (
           SELECT doc_a, doc_b FROM inter
           JOIN sz sa ON sa.doc_id = doc_a
           JOIN sz sb ON sb.doc_id = doc_b
           WHERE 2 * inter >= sa.sz + sb.sz - inter
         ),
         nv AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(list_zip(embedding, embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS norm
           FROM embeddings
         ),
         epairs AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
           FROM nv a JOIN nv b ON a.vec_id < b.vec_id
           WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (a.norm * b.norm) >= 0.4
         ),
         pairs AS (
           SELECT doc_a AS a, doc_b AS b FROM tpairs
           UNION ALL
           SELECT vec_a AS a, vec_b AS b FROM epairs
         ),
         mm_edges AS (
           SELECT a AS src, b AS dst FROM pairs
           UNION ALL
           SELECT b AS src, a AS dst FROM pairs
         ),
         label0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),
         ${(1 to 5).map(stage).mkString(",\n")}
         SELECT node AS doc_id, label AS keep_id
         FROM label5 ORDER BY doc_id"""
    })((s, d) => {
      // both pair sources are the MEMOIZED checkpointed computations
      // shared with q50/q108 (text) and q110 (embedding) — per session
      // the cross-modal collapse costs only its label loop
      val tp = cachedSubsetPairs(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val ep = Similarity.cachedCosinePairs04(s, d)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
      // compact driver-frontier collapse — see the q108 note
      graft.iter.Loop.pairCollapse(s, tp.unionByName(ep), "a", "b",
          cachedSubsetPairCount(s, d) + Similarity.cachedCosinePairs04Count(s, d))(
          documents(s, d), "doc_id")
        .orderBy("doc_id")
    }),

    /** q109: asymmetric CONTAINMENT pairs — |A∩B| / |A| >= 0.8 for
      * ORDERED (doc_a, doc_b): catches quotes/subset documents whose
      * Jaccard stays low because the containing doc is much larger —
      * the symmetric measures (q50/q65) structurally miss these.
      * Integer threshold (10·inter >= 8·|A|), one token self-join,
      * sizes broadcast — the q50 shape with an ordered pair space. */
    Query("q_text_containment",
      """WITH toks AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
           ) r WHERE length(tok) > 0 AND doc_id % 5 = 0
         ),
         sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
           GROUP BY a.doc_id, b.doc_id
         )
         SELECT doc_a, doc_b, inter, sa.sz AS sz_a, 'exact' AS plan
         FROM inter JOIN sz sa ON sa.doc_id = doc_a
         WHERE 10 * inter >= 8 * sa.sz
         ORDER BY doc_a, doc_b""")((s, d) => {
      // intersection is SYMMETRIC: the canonical-pair relation is
      // emitted in both orientations — (a,b) keeps sz_a, (b,a)
      // promotes sz_b — and the asymmetric |A∩B|/|A| threshold
      // applies per direction. Pair source is COSTED: under
      // the volume cap the MEMOIZED canonical pairs (shared with the
      // Jaccard family) serve both orientations for free; over it,
      // [[guardedInterPairs]]' capped branch bounds the self-join —
      // the token vocabulary here is ~31 terms, so Σdf² grows
      // QUADRATICALLY with the corpus (17.9M at sf0.1 → ~1.8G at
      // sf1) and this row is exactly where the guard earns its keep.
      // The decision rides the hash as `plan`.
      val toks = subsetTokens(s, d)
      // gate scalars memoized per (session, fixture), so the count
      // gate is not one job per cold invocation
      val (vol, nKeys) = Memos.value(s, d, "dedup/subsetTokStats")(
        pairStats(toks, "tok"))
      val (plan, inter) =
        if (vol <= DefaultVolumeCap) ("exact", cachedSubsetInter(s, d))
        else guardedInterPairs(toks, "tok", "doc_id",
          knownStats = Some((vol, nKeys)))
      val both = inter
        .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"))
        .unionByName(inter.select(col("doc_b").as("doc_a"),
          col("doc_a").as("doc_b"), col("inter"), col("sz_b").as("sz_a")))
      both
        .filter(col("inter") * 10 >= col("sz_a") * 8)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"))
        .withColumn("plan", lit(plan))
        .orderBy("doc_a", "doc_b")
    }),

    /** q65: n-gram (3-shingle) Jaccard pairs at J >= 0.1 — same
      * integer-threshold machinery as q50 over contiguous shingles
      * (stricter than token sets: order-sensitive). */
    Query("q_sim_shingle_jaccard",
      """WITH sh AS (
           SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(toks) - 1),
             i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE doc_id % 5 = 0) t
         ),
         sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         )
         SELECT doc_a, doc_b, inter, sa.sz + sb.sz - inter AS union_sz,
                'exact' AS plan
         FROM inter
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE 10 * inter >= sa.sz + sb.sz - inter
         ORDER BY doc_a, doc_b""")((s, d) => {
      // COSTED pair source: J ≥ 0.1 sits far below the LSH
      // banding S-curve, so the scale path is the capped-candidate +
      // exact-verify branch of [[guardedInterPairs]], not a MinHash
      // swap. Shingle df is near-1 in natural text (volume ~n), so
      // the exact branch holds to much larger corpora than the token
      // family; the guard protects against boilerplate shingles.
      val sh = shingles(s, d)
      // gate scalars memoized per (session, fixture): the Σdf² stats
      // scan would be one extra full-relation job per invocation of
      // this row; the stats are deterministic with the fixture, so
      // they ride a memo value
      val stats = Memos.value(s, d, "dedup/shingleStats")(
        pairStats(sh.select(col("doc_id"), col("sh").as("tok")), "tok"))
      val (plan, pairs) = guardedInterPairs(sh, "sh", "doc_id",
        knownStats = Some(stats))
      pairs
        .withColumn("union_sz", col("sz_a") + col("sz_b") - col("inter"))
        .filter(col("inter") * 10 >= col("union_sz"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"))
        .withColumn("plan", lit(plan))
        .orderBy("doc_a", "doc_b")
    })
  )
}
