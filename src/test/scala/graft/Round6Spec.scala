package graft

import org.apache.spark.sql.functions._
import graft.incr.StateStore
import graft.text.MinHash

/** Round-6 hardening items: the LSH bucket-size cap + quarantine
  * (bounded pair count on a degenerate mega-bucket corpus, no effect
  * on the normal fixture). */
class Round6Spec extends SparkSpecBase {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("LSH bucket cap bounds a degenerate mega-bucket's pair count") {
    val sp = spark
    import sp.implicits._
    // 300 boilerplate docs sharing one token set -> every band hashes
    // them into the same bucket; plus a small normal tail
    val boiler = (0L until 300L).flatMap(id =>
      Seq("lorem", "ipsum", "dolor", "sit", "amet").map(t => (id, t)))
    val normal = (1000L until 1010L).flatMap(id =>
      Seq(s"tok_$id", s"tok_${id + 1}", s"tok_${id + 2}").map(t => (id, t)))
    val toks = (boiler ++ normal).toDF("doc_id", "tok")
    val sig = MinHash.signatures(toks)
    val bk = MinHash.buckets(sig).localCheckpoint()
    // uncapped would emit the full 300*299/2 = 44850 boilerplate pairs
    val uncapped = MinHash.candidatesFromBuckets(bk, Int.MaxValue).count()
    assert(uncapped >= 44850L, s"fixture is not degenerate enough: $uncapped")
    // capped: the mega-buckets are excluded entirely, so pairs come
    // only from buckets of size <= 64 (here: the normal tail's, if any)
    val capped = MinHash.candidatesFromBuckets(bk).count()
    assert(capped <= 300L * (MinHash.MaxBucket - 1) / 2 * MinHash.Bands,
      s"capped pair count $capped exceeds the linear bound")
    assert(capped < uncapped)
    // quarantine reports each oversized (band, bh) with count + sample
    val q = MinHash.quarantine(bk).collect()
    assert(q.nonEmpty, "mega-buckets must be quarantined, not dropped")
    assert(q.forall(_.getInt(2) == 300), "every mega-bucket holds the 300 docs")
    assert(q.forall(_.getSeq[Long](3).size == MinHash.QuarantineSample))
    // no boilerplate doc appears in the capped pairs: they were routed
    // to quarantine, not silently half-expanded
    val cappedPairs = pairSet(MinHash.candidatesFromBuckets(bk))
    assert(cappedPairs.forall { case (a, b) => a >= 1000L && b >= 1000L })
  }

  test("LSH bucket cap is a no-op on the normal fixture (recall unchanged)") {
    val toks = graft.text.Dedup.subsetTokens(spark, sfDir).localCheckpoint()
    val bk = MinHash.buckets(MinHash.signatures(toks)).localCheckpoint()
    val capped = pairSet(MinHash.candidatesFromBuckets(bk))
    val uncapped = pairSet(MinHash.candidatesFromBuckets(bk, Int.MaxValue))
    assert(capped == uncapped,
      "the fixture corpus has no mega-buckets; the cap must not change results")
  }

  private def bitEqual(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean = {
    val ca = a.columns.sorted.toSeq
    a.selectExpr(ca: _*).exceptAll(b.selectExpr(ca: _*)).isEmpty &&
      b.selectExpr(ca: _*).exceptAll(a.selectExpr(ca: _*)).isEmpty
  }

  test("SSSP deletion restart == from-scratch, touching a strict node subset") {
    import graft.iter.{Graphs, IterQueries}
    val INF = 999999999L
    val full = Graphs.edgesCached(spark, sfDir)
    val n = Graphs.nodesCached(spark, sfDir)
    val srcNode = n.agg(min("node")).head().getLong(0)
    val state0 = n.select(col("node"),
      when(col("node") === srcNode, 0L).otherwise(INF).as("dist"))
    val changed0 = state0.filter(col("dist") === 0)
      .select(col("node").as("cnode"), col("dist").as("cval"))
    val base = IterQueries.minPropagateUntilStable(
      full, state0, changed0, "dist", 1L, 50)._1.localCheckpoint()
    // delete HALF the source's out-edges: each deleted (source, v) was
    // v's only dist-1 support, so the affected set is non-trivially
    // non-empty — the guarantee the %17 pattern can't give
    val delPred = col("src") === srcNode && col("dst") % 2 === 0
    val deleted = full.filter(delPred)
    assert(deleted.count() > 0, "fixture must delete something")
    val newE = full.filter(!delPred).localCheckpoint()
    val (fin, affected, _) =
      IterQueries.deleteRestart(newE, deleted, base, "dist", 1L)
    // the incremental result must equal a converged from-scratch run
    val scratch = IterQueries.minPropagateUntilStable(
      newE, state0, changed0, "dist", 1L, 50)._1
    assert(bitEqual(fin, scratch), "deletion restart != from-scratch")
    // touched nodes are a non-empty STRICT subset of the graph
    val nAff = affected.count()
    assert(nAff > 0, "deleting sole supports must affect someone")
    assert(nAff < n.count(), s"affected set must be a strict subset ($nAff)")
  }

  test("q_incr_sssp_delete declared query smoke (vs in-engine oracle shape)") {
    val out = SparkEntry.queries("q_incr_sssp_delete")(spark, sfDir)
    assert(out.columns.toSeq == Seq("node", "dist"))
    assert(out.count() === graft.iter.Graphs.nodesCached(spark, sfDir).count())
  }

  test("persisted k-means centroids restart a NEW session identically") {
    import graft.iter.KMeans
    val dir = java.nio.file.Files.createTempDirectory("graft_kmeans_cents")
    try {
      val vecs = graft.engine.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val base = vecs.filter(col("vec_id") % 20 =!= 0)
      val seed = vecs.orderBy("vec_id").limit(10).collect()
        .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      val eps = 1e-4
      // SESSION A: converge on the base corpus, persist the centroids
      val (_, _, prevCents) = KMeans.runUntilFrom(spark, base, seed, eps, 60)
      StateStore.commit(s"$dir/cents",
        Seq("centroids" -> KMeans.centroidRows(spark, prevCents)))
      // in-session warm restart on the full corpus — the reference run
      val (warmA, itersA, centsA) =
        KMeans.runIncremental(spark, vecs, prevCents, eps, 60)
      // SESSION B: fresh session state, centroids read from Parquet
      val s2 = spark.newSession()
      val stored = KMeans.centroidsOf(
        StateStore.read(s2, s"$dir/cents").get("centroids"))
      // Parquet round-trips IEEE doubles verbatim
      assert(stored.length == prevCents.length)
      assert(stored.zip(prevCents).forall { case (a, b) =>
        a.zip(b).forall { case (x, y) =>
          java.lang.Double.doubleToLongBits(x) ==
            java.lang.Double.doubleToLongBits(y) } },
        "stored centroids must be bit-identical to the in-memory ones")
      val vecsB = graft.engine.Tables.embeddings(s2, sfDir)
        .select(col("vec_id"), col("embedding"))
      val (warmB, itersB, centsB) =
        KMeans.runIncremental(s2, vecsB, stored, eps, 60)
      assert(itersB == itersA,
        "cross-session restart must converge in the same rounds")
      assert(centsA.flatten[Double].zip(centsB.flatten[Double]).forall {
        case (x, y) =>
          java.lang.Double.doubleToLongBits(x) ==
            java.lang.Double.doubleToLongBits(y) },
        "cross-session converged centroids must be bit-equal")
      assert(bitEqual(warmA.select("vec_id", "cluster"),
        warmB.select("vec_id", "cluster")),
        "cross-session assignment must equal the in-session warm restart")
    } finally deleteRecursively(dir)
  }

  test("FloatL2Argmin codegen assignment is bit-equal to the UDF path") {
    import graft.functions.FloatL2Argmin
    import graft.iter.KMeans
    val vecs = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    // adversarial centroids: duplicated rows force the tie-break, and
    // the first k data points make many distances exactly zero
    val fromData = vecs.orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val cents = fromData ++ fromData.take(2) // dup -> strict-< must keep low id
    val expr = vecs.withColumn("cluster",
      FloatL2Argmin.float_l2_argmin(col("embedding"), cents))
      .select("vec_id", "cluster")
    val viaUdf = vecs.withColumn("cluster",
      KMeans.assignUdf(spark, cents)(col("embedding")))
      .select("vec_id", "cluster")
    assert(bitEqual(expr, viaUdf),
      "codegen argmin must match the UDF row for row")
    assert(expr.filter(col("cluster") >= 8).count() === 0,
      "duplicated centroids must lose every tie to their low-index twin")
  }

  test("incremental LSH: delta candidates complete the full pair set") {
    // insert-only doc delta: full-candidates == old-candidates ∪
    // delta-candidates (uncapped — capping depends on post-delta
    // bucket sizes, identical on this fixture anyway)
    val toks = graft.text.Dedup.subsetTokens(spark, sfDir).localCheckpoint()
    val cut = toks.agg(expr("percentile(doc_id, 0.8)")).head()
      .getDouble(0).toLong
    val sigAll = MinHash.signatures(toks).localCheckpoint()
    // per-doc signatures: the old docs' rows are IDENTICAL in both
    // worlds, so splitting the signature table models the stored state
    val bandedAll = MinHash.banded(sigAll).localCheckpoint()
    val bandedOld = bandedAll.filter(col("doc_id") < cut)
    val bandedNew = bandedAll.filter(col("doc_id") >= cut)
    assert(bandedNew.select("doc_id").distinct().count() > 0)
    val noCap = Int.MaxValue
    val full = pairSet(MinHash.candidatesFromBuckets(
      MinHash.buckets(sigAll), noCap))
    val old = pairSet(MinHash.candidatesFromBuckets(
      bandedOld.groupBy("band", "bh")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) > 1), noCap))
    val incr = pairSet(MinHash.candidatesIncr(bandedOld, bandedNew, noCap))
    assert(incr.nonEmpty, "delta must touch some bucket on this fixture")
    // every delta pair involves a new doc
    assert(incr.forall { case (a, b) => a >= cut || b >= cut })
    // and the union is exactly the full recompute
    assert((old ++ incr) == full,
      s"old(${old.size}) ∪ incr(${incr.size}) != full(${full.size})")
  }

  test("q_dedup_groups: keep_id is the component minimum and self-kept") {
    val out = SparkEntry.queries("q_dedup_groups")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.nonEmpty)
    // min-label propagation can only lower labels toward the component min
    assert(out.forall { case (doc, keep) => keep <= doc },
      "keep_id must never exceed the doc's own id")
    // every canonical representative keeps itself (fixed point at this
    // fixture's component diameters)
    val label = out.toMap
    assert(out.forall { case (_, keep) => label(keep) == keep },
      "a keep_id must itself be kept")
    // the collapse is non-trivial on this fixture: some real cluster
    assert(out.exists { case (doc, keep) => keep < doc },
      "fixture must contain at least one near-dup cluster")
  }

  test("incremental Apriori k=3 restarts a NEW session from Parquet partials") {
    import graft.iter.Apriori
    def toksOf(s: org.apache.spark.sql.SparkSession) =
      graft.engine.Tables.documents(s, sfDir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .distinct()
    val dir = java.nio.file.Files.createTempDirectory("graft_apriori_l3")
    try {
      val toks = toksOf(spark).localCheckpoint()
      val cut = graft.engine.Tables.documents(spark, sfDir)
        .agg(max(col("doc_id").cast("long"))).head().getLong(0) - 49L
      // SESSION A: persist the base level-3 supports at the relaxed
      // threshold (minSup - 50 lower-bounds every possible relaxed bar
      // for a <= 50-doc delta) — the q103 partials-store shape
      val baseState = Apriori.frequentItemsets(
        toks.filter(col("doc_id") < cut), 3,
        math.max(1L, Apriori.minSupport - 50L))
      graft.incr.IncrMerge.writePartials(baseState, s"$dir/l3")
      // SESSION B: fresh session; base supports come ONLY from disk —
      // the base corpus is never re-expanded
      val s2 = spark.newSession()
      val toks2 = toksOf(s2).localCheckpoint()
      val stored = s2.read.parquet(s"$dir/l3")
      val incr = Apriori.frequentItemsetsIncr(
        toks2.filter(col("doc_id") < cut),
        toks2.filter(col("doc_id") >= cut), 3, Apriori.minSupport,
        preserved = Some(stored)).localCheckpoint()
      val full = Apriori.frequentItemsets(toks2, 3, Apriori.minSupport)
      assert(bitEqual(full, incr),
        "cross-session incremental k=3 must equal the full recompute")
      assert(incr.count() > 0, "degenerate fixture")
    } finally deleteRecursively(dir)
  }

  test("sessionize gap boundary: exactly 30 min continues, +1 µs splits") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val gapUs = 1800L * 1000000L
    // user 1: second event exactly GapUs after the first (> is strict
    // -> same session); user 2: GapUs + 1 µs -> new session; user 3:
    // tie on ts broken by event_id, zero-duration session
    val rows = Seq(
      (1L, 10L, 0L), (1L, 11L, gapUs),
      (2L, 20L, 0L), (2L, 21L, gapUs + 1L),
      (3L, 30L, 0L), (3L, 31L, 0L))
    val e = rows.toDF("user_id", "event_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = graft.ops.Events.sessionsOf(e)
      .orderBy("user_id", "session_idx")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, 1800L), // one session spanning exactly the gap
      (2L, 1L, 1L, 0L), (2L, 2L, 1L, 0L), // split at gap+1µs
      (3L, 1L, 2L, 0L))) // tie-broken, zero duration
  }

  test("Misra-Gries summary: bounded size, retains every item above n/(k+1)") {
    import graft.ops.HeavyHitters.mgSummary
    val k = 9
    // adversarial stream: 'hot' has frequency JUST above n/(k+1)
    // (n = 1000, n/(k+1) = 100 -> 101 copies), buried in 899
    // near-distinct distractors that constantly evict the summary
    val stream = new scala.util.Random(42).shuffle(
      List.fill(101)("hot") ++ (0 until 899).map(i => s"d_${i % 300}").toList)
    val summary = mgSummary(stream.iterator, k).toMap
    assert(summary.size <= k, s"summary exceeded capacity: ${summary.size}")
    assert(summary.contains("hot"),
      s"item above n/(k+1) must survive the sketch: $summary")
    // undercount bound: mgCount >= true - n/(k+1)
    assert(summary("hot") >= 101L - 100L)
    // and the summary-union candidate superset feeds an EXACT pass in
    // q120, so sketch undercounts never reach the declared result
  }

  test("MG summary merge: associative, capacity-bounded, retains global heavy") {
    import graft.ops.HeavyHitters.{mgSummary, mergeSummaries}
    val k = 9
    val rnd = new scala.util.Random(7)
    // 'hot' is heavy GLOBALLY (202 of 2000 > 2000/(k+1)=200) but each
    // half alone is near the bound — the merge must still retain it
    def half(seed: Int) = rnd.shuffle(
      List.fill(101)("hot") ++ (0 until 899).map(i => s"h${seed}_${i % 300}").toList)
    val sa = mgSummary(half(1).iterator, k).toMap
    val sb = mgSummary(half(2).iterator, k).toMap
    val merged = mergeSummaries(sa, sb, k)
    assert(merged.size <= k, s"merged summary exceeded capacity: ${merged.size}")
    assert(merged.contains("hot"),
      s"globally heavy item must survive the merge: $merged")
    // merged undercount bound: count >= true - n/(k+1) = 202 - 200
    assert(merged("hot") >= 2L)
  }

  test("memoized subset pair graph == direct exactPairs computation") {
    import graft.text.Dedup
    // the session memo shared by q50/q108/q109/q126 must be
    // result-invisible vs computing the pairs from scratch
    val cached = Dedup.cachedSubsetPairs(spark, sfDir)
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    val direct = Dedup.exactPairs(Dedup.subsetTokens(spark, sfDir))
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    assert(cached == direct, "memo must equal the direct computation")
    assert(cached.nonEmpty, "degenerate fixture")
  }
}
