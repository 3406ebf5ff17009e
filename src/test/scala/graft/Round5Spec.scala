package graft

import org.apache.spark.sql.functions._
import graft.iter.{Apriori, Graphs, IterQueries, KMeans, MrbgPagerank}
import graft.incr.StateStore

/** Round-5 depth items: incremental Apriori (delta-run ≡ full-run,
  * delta-sized touched work), incremental k-means (warm restart from
  * prior centroids converges in fewer rounds and reaches a fixed
  * point), and persisted MRBG iterative state restarting a NEW session
  * bit-equally. */
class Round5Spec extends SparkSpecBase {

  private def bitEqual(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean = {
    val ca = a.columns.sorted.toSeq
    a.selectExpr(ca: _*).exceptAll(b.selectExpr(ca: _*)).isEmpty &&
      b.selectExpr(ca: _*).exceptAll(a.selectExpr(ca: _*)).isEmpty
  }

  private lazy val toks = graft.engine.Tables.documents(spark, sfDir)
    .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    .filter(length(col("tok")) > 0)
    .distinct()
    .localCheckpoint()

  test("incremental Apriori == full recompute at k=2 and k=3") {
    val cut = graft.engine.Tables.documents(spark, sfDir)
      .agg(max(col("doc_id").cast("long"))).head().getLong(0) - 49L
    val base = toks.filter(col("doc_id") < cut)
    val delta = toks.filter(col("doc_id") >= cut)
    for (k <- Seq(2, 3)) {
      val full = Apriori.frequentItemsets(toks, k, Apriori.minSupport)
      val incr = Apriori.frequentItemsetsIncr(base, delta, k,
        Apriori.minSupport)
      assert(bitEqual(full, incr), s"k=$k: incremental != full")
      assert(incr.count() > 0, s"k=$k: degenerate fixture")
    }
  }

  test("incremental Apriori touches only delta docs on the delta side") {
    // the delta-side expansion input is delta-sized by construction;
    // assert the split is real (a strict subset) and the preserved
    // base state is computed at the relaxed threshold (i.e. it holds
    // MORE candidates than the final answer — the reuse margin)
    val cut = graft.engine.Tables.documents(spark, sfDir)
      .agg(max(col("doc_id").cast("long"))).head().getLong(0) - 49L
    val nAll = toks.select("doc_id").distinct().count()
    val nDelta = toks.filter(col("doc_id") >= cut)
      .select("doc_id").distinct().count()
    assert(nDelta < nAll, "delta must be a strict subset of the corpus")
    assert(nDelta <= 50L)
    val relaxed = math.max(1L, Apriori.minSupport - nDelta)
    val baseState = Apriori.frequentItemsets(
      toks.filter(col("doc_id") < cut), 2, relaxed)
    val finalFull = Apriori.frequentItemsets(toks, 2, Apriori.minSupport)
    assert(baseState.count() >= finalFull.count(),
      "preserved state must cover every finally-frequent itemset")
  }

  test("incremental k-means: warm restart from prior centroids") {
    val vecs = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    // base corpus = 95% of points; delta = the rest arriving later
    val base = vecs.filter(col("vec_id") % 20 =!= 0)
    val seed = vecs.orderBy("vec_id").limit(10).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val eps = 1e-4
    val (_, itersBase, prevCents) =
      KMeans.runUntilFrom(spark, base, seed, eps, 60)
    assert(itersBase < 60, "base run must converge inside maxIter")
    // cold start on the FULL corpus vs warm restart from prior centroids
    val (_, itersCold, _) = KMeans.runUntilFrom(spark, vecs, seed, eps, 60)
    val (warmAssign, itersWarm, warmCents) =
      KMeans.runIncremental(spark, vecs, prevCents, eps, 60)
    assert(itersWarm < itersCold,
      s"warm restart ($itersWarm) must beat cold start ($itersCold)")
    // fixed point: restarting from the warm-converged centroids stops
    // after a single verification round
    val (_, itersAgain, _) =
      KMeans.runIncremental(spark, vecs, warmCents, eps, 60)
    assert(itersAgain === 1, s"converged state must be a fixed point")
    // the assignment is a partition of the full corpus
    assert(warmAssign.count() === vecs.count())
  }

  test("persisted MRBG iterative state restarts a NEW session bit-equally") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mrbg_state")
    try {
      val s = spark
      val nodes = Graphs.nodesCached(s, sfDir)
      val edgesDegOld = Graphs.edgesDegCached(s, sfDir)
      val baseState = IterQueries.converged5(s, sfDir)
        .select("node", "rs")
      val removed = (col("src") + col("dst")) % 17 === 0
      val edgesNew = Graphs.edgesCached(s, sfDir).filter(!removed)
      val degNew = edgesNew.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val edgesDegNew = edgesNew.join(broadcast(degNew), "src")
        .select(col("src"), col("dst"), col("outdeg")).localCheckpoint()
      val allSrcs = nodes.select(col("node").as("src"))
      val c0 = MrbgPagerank.contribsFor(edgesDegOld, baseState, allSrcs)
        .localCheckpoint()
      val s0s = nodes.join(c0.groupBy("dst").agg(sum(col("c")).as("S")),
          nodes("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("S"), lit(0L)).as("S"))
      val frontier0 = Graphs.edgesCached(s, sfDir).filter(removed)
        .select("src").distinct().localCheckpoint()
      // SESSION A: run in-session AND persist the preserved state +
      // the new structure + the frontier seed, then "end"
      val inSession = MrbgPagerank
        .incrRun(edgesDegNew, baseState, c0, s0s, frontier0, 0L, 2)
        .localCheckpoint()
      StateStore.commit(s"$dir/mrbg",
        Seq("C" -> c0, "S" -> s0s, "state" -> baseState))
      graft.incr.IncrMerge.writePartials(edgesDegNew, s"$dir/edgesDegNew")
      graft.incr.IncrMerge.writePartials(frontier0, s"$dir/frontier0")
      // SESSION B: fresh session state — everything below reads ONLY
      // the parquet store (genuine scans, not in-memory lineage)
      val s2 = spark.newSession()
      val mrbg = StateStore.read(s2, s"$dir/mrbg").get
      val (c0b, s0b, stateB) = (mrbg("C"), mrbg("S"), mrbg("state"))
      val restarted = MrbgPagerank.incrRun(
        s2.read.parquet(s"$dir/edgesDegNew"), stateB, c0b, s0b,
        s2.read.parquet(s"$dir/frontier0"), 0L, 2).localCheckpoint()
      assert(bitEqual(inSession, restarted),
        "cross-session restart must be bit-equal to the in-session run")
      assert(restarted.count() === nodes.count())
    } finally deleteRecursively(dir)
  }
}
