package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.iter.IterQueries

/** Random-graph equivalence properties for the iterative/incremental
  * graph core. Round4/Round8 prove these on the fixture graph; the
  * fixture has a specific shape (bipartite lineitem graph, chain
  * components), so these tests re-prove the three load-bearing claims
  * on ARBITRARY seeded random structure:
  *
  *  1. frontier-filtered propagation == the full O(edges)/round loop
  *     (the [[IterQueries.minPropagate]] invariant),
  *  2. SSSP edge-deletion restart == from-scratch re-convergence
  *     (the affected-closure over-approximation of
  *     [[IterQueries.deleteRestart]] — including nodes left
  *     unreachable, which keep the sentinel),
  *  3. CC edge-deletion restart == from-scratch re-convergence
  *     (component splits in [[IterQueries.componentDeleteRestart]]).
  *
  * Graphs are small (Spark jobs are expensive) but adversarial by
  * randomness: multi-edges collapse via distinct, self-loops are
  * kept (harmless to min-propagation), disconnection is common. */
class PropertiesSpec3 extends SparkSpecBase {

  private val INF = 999999999L

  /** Seeded random directed edge list over nodes 0..n-1. */
  private def randomEdges(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .distinct
  }

  private def edgesDf(es: Seq[(Long, Long)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    es.toDF("src", "dst")
  }

  private def nodesState0(n: Int, source: Long): DataFrame = {
    val sp = spark
    import sp.implicits._
    (0 until n).map(_.toLong).toDF("node")
      .select(col("node"),
        when(col("node") === source, 0L).otherwise(INF).as("dist"))
  }

  test("frontier propagation == full loop on random graphs (SSSP and CC)") {
    for (seed <- 1L to 3L) {
      val n = 25
      val es = randomEdges(seed, n, 50)
      val edges = edgesDf(es).persist()
      try {
        // SSSP from node 0, 6 rounds
        val s0 = nodesState0(n, 0L).persist()
        val c0 = s0.filter(col("dist") === 0)
          .select(col("node").as("cnode"), col("dist").as("cval"))
        val frontier = IterQueries
          .minPropagate(edges, s0, c0, "dist", 1L, 6, matEvery = 1)
          .select("node", "dist").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        val full = IterQueries.minFullLoop(edges, s0, "dist", 1L, 6)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1).toSeq
        assert(frontier == full, s"SSSP frontier != full, seed=$seed")
        s0.unpersist(blocking = false)
        // CC (symmetrized), 6 rounds
        val sym = edges.unionByName(
          edges.select(col("dst").as("src"), col("src").as("dst"))).persist()
        val st0 = edgesDf(es).select(col("src").as("node"))
          .unionByName(edgesDf(es).select(col("dst").as("node"))).distinct()
          .select(col("node"), col("node").as("label")).persist()
        val ch0 = st0.select(col("node").as("cnode"), col("label").as("cval"))
        val fcc = IterQueries
          .minPropagate(sym, st0, ch0, "label", 0L, 6, matEvery = 1)
          .select("node", "label").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        val fullCc = IterQueries.minFullLoop(sym, st0, "label", 0L, 6)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1).toSeq
        assert(fcc == fullCc, s"CC frontier != full, seed=$seed")
        Seq(sym, st0).foreach(_.unpersist(blocking = false))
      } finally edges.unpersist(blocking = false)
    }
  }

  test("SSSP deleteRestart == from-scratch on random graphs with random deletions") {
    for (seed <- 11L to 13L) {
      val n = 25
      val es = randomEdges(seed, n, 55)
      val rnd = new scala.util.Random(seed * 7)
      val (delEs, keepEs) = es.partition(_ => rnd.nextInt(4) == 0)
      val edges = edgesDf(es).persist()
      val post = edgesDf(keepEs).persist()
      try {
        val s0 = nodesState0(n, 0L)
        val c0 = s0.filter(col("dist") === 0)
          .select(col("node").as("cnode"), col("dist").as("cval"))
        val (base, _) = IterQueries
          .minPropagateUntilStable(edges, s0, c0, "dist", 1L, 64)
        val (restarted, _, _) = IterQueries.deleteRestart(
          post, edgesDf(delEs), base.localCheckpoint(), "dist", 1L)
        val got = restarted.collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        val (scratch, _) = IterQueries
          .minPropagateUntilStable(post, s0, c0, "dist", 1L, 64)
        val want = scratch.collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        assert(got == want, s"SSSP restart != scratch, seed=$seed " +
          s"(deleted ${delEs.length}/${es.length} edges)")
      } finally Seq(edges, post).foreach(_.unpersist(blocking = false))
    }
  }

  test("signed Apriori delta == full recompute for random corpora and splits") {
    // The relaxed-threshold soundness argument (base support >=
    // minSup - |ins docs| for any post-frequent itemset; deletions
    // need no relaxation) on random corpora: template-based docs so
    // itemsets actually recur, random insert/delete splits, k=2 and
    // k=3, compared against the level-wise recompute of the post
    // corpus.
    import graft.iter.Apriori
    val sp = spark
    import sp.implicits._
    val vocab = ('a' to 'j').map(_.toString)
    for (seed <- 51L to 53L) {
      val rnd = new scala.util.Random(seed)
      val templates = (0 until 4).map(_ => vocab.filter(_ => rnd.nextBoolean()))
      val docs = (0L until 40L).map { id =>
        val t = templates(rnd.nextInt(4))
        val toks = vocab.filter { v =>
          val in = t.contains(v)
          if (rnd.nextInt(8) == 0) !in else in
        }
        (id, if (toks.isEmpty) Seq("a") else toks)
      }
      val insIds = docs.map(_._1).filter(_ => rnd.nextInt(5) == 0).toSet
      val delIds = docs.map(_._1)
        .filterNot(insIds).filter(_ => rnd.nextInt(6) == 0).toSet
      def toksOf(p: Long => Boolean): DataFrame =
        docs.filter(d => p(d._1))
          .flatMap { case (id, ts) => ts.map((id, _)) }.toDF("doc_id", "tok")
      val k = 2 + (seed % 2).toInt
      val minSup = 6L
      val got = Apriori.frequentItemsetsDelta(
          toksOf(id => !insIds.contains(id)), toksOf(insIds.contains),
          delIds.toSeq.toDF("doc_id"), k, minSup)
        .collect().map(r => (r.getSeq[String](0).toSeq, r.getLong(1)))
        .sortBy(_._1.mkString(",")).toSeq
      val want = Apriori.frequentItemsets(
          toksOf(id => !delIds.contains(id)), k, minSup)
        .collect().map(r => (r.getSeq[String](0).toSeq, r.getLong(1)))
        .sortBy(_._1.mkString(",")).toSeq
      assert(got == want, s"seed=$seed k=$k ins=${insIds.size} " +
        s"del=${delIds.size}")
    }
  }

  test("viewApplyDelta == full reaggregation for arbitrary signed batches") {
    // The abelian-group IVM merge behind q92/q142/q153, on random data
    // instead of the fixture: for arbitrary base/insert/delete splits
    // (deletes ⊆ base), merging aggregated partials with negated
    // retractions must equal aggregating the post-delta facts — and
    // groups whose multiplicity hits 0 must VANISH (the small key
    // space makes full-group deletion common across seeds).
    import graft.engine.Dec._
    import graft.ops.Joins
    val sp = spark
    import sp.implicits._
    def view(rows: Seq[(String, Double)]): DataFrame =
      rows.toDF("n_name", "v")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), sum(dec2(col("v"))).as("rev"))
    for (seed <- 41L to 44L) {
      val rnd = new scala.util.Random(seed)
      val keys = Seq("a", "b", "c", "d")
      val base = (1 to 30).map(_ =>
        (keys(rnd.nextInt(4)), rnd.nextInt(1000) / 100.0))
      val ins = (1 to rnd.nextInt(10)).map(_ =>
        (keys(rnd.nextInt(4)), rnd.nextInt(1000) / 100.0))
      // delete a random subset of base — sometimes an entire group
      val delKey = keys(rnd.nextInt(4))
      val del = base.filter { case (k, _) =>
        k == delKey || rnd.nextInt(4) == 0 }
      val merged = Joins.viewApplyDelta(view(base), view(ins), view(del))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      val post = base.diff(del) ++ ins
      val want = view(post)
        .select(col("n_name"), col("n"), dbl(col("rev")).as("rev"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assert(merged == want, s"seed=$seed del=${del.length}/${base.length}")
    }
  }

  test("signed LSH bucket maintenance == batch rebuild for random corpora") {
    // The pass-through soundness claim behind the q139/q147 speedups:
    // untouched buckets are byte-identical pre/post delta, so the
    // maintained bucket relation (untouched ∪ rebuilt-touched) must
    // equal a from-scratch rebuild over the post corpus — here on
    // random template-based corpora with random insert/delete splits,
    // not the fixture's %10 split.
    import graft.text.MinHash
    val sp = spark
    import sp.implicits._
    val vocab = ('a' to 't').map(_.toString)
    for (seed <- 31L to 33L) {
      val rnd = new scala.util.Random(seed)
      val templates = (0 until 6).map(_ => vocab.filter(_ => rnd.nextBoolean()))
      val docs = (0L until 60L).map { id =>
        val t = templates(rnd.nextInt(6))
        val flipped = vocab.filter { v =>
          val in = t.contains(v)
          if (rnd.nextInt(10) == 0) !in else in
        }
        (id, if (flipped.isEmpty) Seq("a") else flipped)
      }
      val insIds = docs.map(_._1).filter(_ => rnd.nextInt(5) == 0).toSet
      val delIds = docs.map(_._1)
        .filterNot(insIds).filter(_ => rnd.nextInt(5) == 0).toSet
      def toksOf(ids: Long => Boolean): DataFrame =
        docs.filter(d => ids(d._1))
          .flatMap { case (id, ts) => ts.map((id, _)) }.toDF("doc_id", "tok")
      val bandedOld = MinHash.banded(
        MinHash.signatures(toksOf(!insIds.contains(_)))).localCheckpoint()
      val bandedIns = MinHash.banded(MinHash.signatures(
        toksOf(insIds.contains)))
      val deleted = delIds.toSeq.toDF("doc_id")
      val touched = MinHash.touchedKeys(bandedOld, bandedIns, deleted)
        .localCheckpoint()
      val maintained = MinHash.bucketsOf(bandedOld)
        .join(touched, Seq("band", "bh"), "left_anti")
        .unionByName(MinHash.bucketsTouched(bandedOld, bandedIns, deleted,
          touched = Some(touched)))
      val batch = MinHash.buckets(
        MinHash.signatures(toksOf(id => !delIds.contains(id))))
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toSeq))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(rows(maintained) == rows(batch),
        s"maintained buckets != batch rebuild, seed=$seed " +
          s"(ins=${insIds.size} del=${delIds.size})")
    }
  }

  test("signed SimHash bucket maintenance == batch rebuild for random corpora") {
    // The SimHash analogue of the MinHash property above (the q147
    // signed path shares SignedLsh but carries signatures inside the
    // bucket member structs — the in-line Hamming verify depends on
    // them riding through the maintenance unchanged).
    import graft.text.SimHash
    val sp = spark
    import sp.implicits._
    val vocab = ('a' to 't').map(_.toString)
    for (seed <- 61L to 62L) {
      val rnd = new scala.util.Random(seed)
      val templates = (0 until 5).map(_ => vocab.filter(_ => rnd.nextBoolean()))
      val docs = (0L until 50L).map { id =>
        val t = templates(rnd.nextInt(5))
        val toks = vocab.filter { v =>
          val in = t.contains(v)
          if (rnd.nextInt(12) == 0) !in else in
        }
        (id, if (toks.isEmpty) Seq("a") else toks)
      }
      val insIds = docs.map(_._1).filter(_ => rnd.nextInt(5) == 0).toSet
      val delIds = docs.map(_._1)
        .filterNot(insIds).filter(_ => rnd.nextInt(5) == 0).toSet
      def toksOf(p: Long => Boolean): DataFrame =
        docs.filter(d => p(d._1))
          .flatMap { case (id, ts) => ts.map((id, _)) }.toDF("doc_id", "tok")
      val bandedOld = SimHash.banded(
        SimHash.signatures(toksOf(!insIds.contains(_)))).localCheckpoint()
      val bandedIns = SimHash.banded(SimHash.signatures(
        toksOf(insIds.contains)))
      val deleted = delIds.toSeq.toDF("doc_id")
      val touched = SimHash.touchedKeys(bandedOld, bandedIns, deleted)
        .localCheckpoint()
      val maintained = SimHash.bucketsOf(bandedOld)
        .join(touched, Seq("band", "bh"), "left_anti")
        .unionByName(SimHash.bucketsTouched(bandedOld, bandedIns, deleted,
          touched = Some(touched)))
      val batch = SimHash.bucketsOf(SimHash.banded(
        SimHash.signatures(toksOf(id => !delIds.contains(id)))))
      def rows(df: DataFrame) = df.collect()
        .map { r =>
          val ds = r.getSeq[org.apache.spark.sql.Row](2)
            .map(m => (m.getLong(0), m.getLong(1)))
          (r.getInt(0), r.get(1).toString, ds)
        }.sortBy(t => (t._1, t._2)).toSeq
      assert(rows(maintained) == rows(batch),
        s"SimHash maintained buckets != batch, seed=$seed " +
          s"(ins=${insIds.size} del=${delIds.size})")
    }
  }

  test("CC componentDeleteRestart == from-scratch on random graphs with random deletions") {
    for (seed <- 21L to 23L) {
      val n = 24
      // sparse: disconnection and component splits must actually occur
      val base0 = randomEdges(seed, n, 18)
      val rnd = new scala.util.Random(seed * 13)
      val (delHalf, keepHalf) = base0.partition(_ => rnd.nextInt(3) == 0)
      def symDf(es: Seq[(Long, Long)]): DataFrame =
        edgesDf(es).unionByName(
          edgesDf(es).select(col("dst").as("src"), col("src").as("dst")))
      val sp = spark
      import sp.implicits._
      val allNodes = (0 until n).map(_.toLong).toDF("node")
      val full = symDf(base0).persist()
      val post = symDf(keepHalf).persist()
      try {
        val st0 = allNodes.select(col("node"), col("node").as("label"))
        val ch0 = st0.select(col("node").as("cnode"), col("label").as("cval"))
        val (baseLabels, _) = IterQueries
          .minPropagateUntilStable(full, st0, ch0, "label", 0L, 64)
        val got = IterQueries.componentDeleteRestart(
            baseLabels.localCheckpoint(), symDf(delHalf), post)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        val (scratch, _) = IterQueries
          .minPropagateUntilStable(post, st0, ch0, "label", 0L, 64)
        val want = scratch.collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        assert(got == want, s"CC restart != scratch, seed=$seed " +
          s"(deleted ${delHalf.length}/${base0.length} edges)")
      } finally Seq(full, post).foreach(_.unpersist(blocking = false))
    }
  }
}
