package graft

import org.apache.spark.sql.functions._
import graft.text.{Dedup, MinHash, SimHash, Similarity, TextStats}

/** Round-8 items: signed (insert+delete) deltas for the mining-family
  * incrementals (TF-IDF, exact dedup), the declared full-corpus
  * LSH-sourced dedup collapse, incremental SimHash candidates, and the
  * declared batch IVF ANN query. */
class Round8Spec extends SparkSpecBase {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // ---------------------------------------------------------------
  // Signed-delta TF-IDF
  // ---------------------------------------------------------------

  test("q_incr_tfidf_delete == full TF-IDF on the post-delta corpus, bitwise") {
    val incr = SparkEntry.queries("q_incr_tfidf_delete")(spark, sfDir)
      .collect()
    val full = graft.Graft.tfidf(
        graft.engine.Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 10 =!= 1), "doc_id", "text")
      .select("doc_id", "term", "tfidf")
      .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
      .limit(20).collect()
    assert(incr.length == 20 && full.length == 20)
    incr.zip(full).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getString(1) == b.getString(1))
      assert(java.lang.Double.doubleToLongBits(a.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(b.getDouble(2)),
        s"score mismatch at (${a.getLong(0)}, ${a.getString(1)})")
    }
  }

  test("tfidfApplyDelta: surviving tf rows pass through, deletions subtract df") {
    val sp = spark
    import sp.implicits._
    // base docs 1, 2, 11; delete 11; insert 10.
    // term 'd' lives ONLY in deleted doc 11 -> df hits 0, term vanishes.
    val tfBase = Seq(
      (1L, "a", 99L), // PERTURBED: true tokenization would give tf=1
      (1L, "b", 1L), (2L, "b", 1L), (2L, "c", 1L),
      (11L, "c", 1L), (11L, "d", 1L)).toDF("doc_id", "term", "tf")
    val tfDelta = Seq((10L, "a", 2L), (10L, "c", 1L))
      .toDF("doc_id", "term", "tf")
    val deleted = Seq(Tuple1(11L)).toDF("doc_id")
    val n = Seq(Tuple1(3L)).toDF("c") // post-delta doc count: 1, 2, 10
      .agg(sum("c").cast("double").as("n_docs"))
    val out = TextStats.tfidfApplyDelta(tfBase, tfDelta, deleted, n)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    // post-delta state: df(a)=2 (docs 1,10), df(b)=2 (1,2), df(c)=2 (2,10)
    def score(tf: Long, df: Long) = tf.toDouble * math.log(3.0 / df.toDouble)
    // the PERTURBED tf=99 must surface verbatim: the helper never
    // re-tokenizes a surviving doc, it reuses the stored row
    assert(out((1L, "a")) == score(99L, 2L),
      "surviving base tf rows must pass through unrecomputed")
    assert(out((10L, "a")) == score(2L, 2L))
    assert(out((2L, "c")) == score(1L, 2L))
    // deleted doc's rows are gone; its sole term 'd' vanished with df=0
    assert(!out.keys.exists(_._1 == 11L), "deleted doc must emit no rows")
    assert(!out.keys.exists(_._2 == "d"), "df=0 terms must vanish")
    // exactly the six surviving tf rows: (1,a)(1,b)(2,b)(2,c)(10,a)(10,c)
    assert(out.size == 6)
  }

  // ---------------------------------------------------------------
  // Signed-delta exact dedup
  // ---------------------------------------------------------------

  test("q_incr_dedup_delete == full dedup on the post-delta corpus") {
    val incr = SparkEntry.queries("q_incr_dedup_delete")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val full = graft.engine.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 1)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keep_id"))
      .orderBy("h")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(incr.nonEmpty)
    assert(incr == full, "signed delta must equal the full recompute")
  }

  test("dedupApplyDelta: untouched state passes through; easy/hard paths exact") {
    val sp = spark
    import sp.implicits._
    // base groups: x={1,2}, y={3,4}, z={5}; delete 1 (min of x -> HARD
    // recompute) and 4 (non-min of y -> EASY decrement); insert 10 (z
    // dup) and 11 (new w).
    val baseIndex = Seq(("x", 1L), ("x", 2L), ("y", 3L), ("y", 4L),
      ("z", 5L)).toDF("h", "doc_id")
    // PERTURBED state for y and z: if any path rescanned members the
    // perturbation would be lost; state arithmetic must carry it
    val baseState = Seq(("x", 2L, 1L), ("y", 77L, 3L), ("z", 55L, 5L))
      .toDF("h", "n_dups", "keep_id")
    val deleted = Seq(Tuple1(1L), Tuple1(4L)).toDF("doc_id")
    val deltaState = Seq(("z", 1L, 10L), ("w", 1L, 11L))
      .toDF("h", "n_dups", "keep_id")
    val out = Dedup.dedupApplyDelta(baseState, baseIndex, deleted, deltaState)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // x: min deleted -> group-level recompute over survivors {2}
    assert(out("x") == (1L, 2L), "hard path must re-derive from members")
    // y: non-min deleted -> pure decrement on the (perturbed) state
    assert(out("y") == (76L, 3L), "easy path must decrement stored state")
    // z: untouched by deletion -> perturbed state passes through, then
    // merges associatively with the insert delta
    assert(out("z") == (56L, 5L), "untouched state must pass through")
    // w: insert-only group
    assert(out("w") == (1L, 11L))
    assert(out.size == 4)
  }

  test("dedupApplyDelta: fully-deleted groups vanish") {
    val sp = spark
    import sp.implicits._
    val baseIndex = Seq(("x", 1L), ("y", 2L), ("y", 3L)).toDF("h", "doc_id")
    val baseState = Seq(("x", 1L, 1L), ("y", 2L, 2L))
      .toDF("h", "n_dups", "keep_id")
    val deleted = Seq(Tuple1(1L)).toDF("doc_id")
    val deltaState = baseState.limit(0)
    val out = Dedup.dedupApplyDelta(baseState, baseIndex, deleted, deltaState)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map("y" -> ((2L, 2L))), "x lost its only member")
  }

  // ---------------------------------------------------------------
  // Full-corpus LSH-sourced dedup collapse
  // ---------------------------------------------------------------

  test("q_dedup_groups_lsh: sound, linear-bounded, refines + matches exact collapse") {
    val toks = Dedup.tokens(spark, sfDir).localCheckpoint()
    val bk = MinHash.buckets(MinHash.signatures(toks)).localCheckpoint()
    // the full fixture corpus IS the degenerate boilerplate case: the
    // production cap must fire (8 mega-buckets of ~250 docs measured)
    val quarantined = MinHash.quarantine(bk).collect()
    assert(quarantined.nonEmpty,
      "the full-corpus fixture must exercise the bucket cap")
    assert(quarantined.forall(_.getInt(2) > MinHash.MaxBucket))
    // star candidates stay linear: <= Bands * n rows
    val nDocs = graft.engine.Tables.documents(spark, sfDir).count()
    val star = MinHash.starCandidates(bk)
    assert(star.count() <= MinHash.Bands * nDocs,
      "spanning-star candidates must be O(n·bands)")
    // SOUNDNESS: every verified pair (capped ∪ star source) is an
    // exact Jaccard>=0.5 pair
    val cands = MinHash.candidatesFromBuckets(bk).unionByName(star).distinct()
    val lshPairs = pairSet(Dedup.verifyPairs(cands, Dedup.docSets(toks))
      .select("doc_a", "doc_b"))
    val exact = pairSet(Dedup.exactPairs(toks).select("doc_a", "doc_b"))
    assert(exact.nonEmpty, "degenerate fixture")
    assert(lshPairs.subsetOf(exact),
      "verified LSH pairs must be a subset of the exact pairs")
    val out = SparkEntry.queries("q_dedup_groups_lsh")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == nDocs, "every doc gets a keep_id")
    assert(out.forall { case (doc, keep) => keep <= doc })
    // driver-side union-find over the exact pairs (fixture-sized)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    exact.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // REFINEMENT: same LSH keep_id => same exact component (LSH edges
    // ⊆ exact edges, so the collapse never merges across components)
    out.groupBy(_._2).values.foreach { grp =>
      val roots = grp.map { case (doc, _) => find(doc) }.toSet
      assert(roots.size == 1,
        s"LSH group ${grp.map(_._1).toSeq.sorted} spans exact components")
    }
    // GROUP RECALL: the spanning-star handling of quarantined buckets
    // must keep the collapse close to the exact one (measured 98%)
    val agree = out.count { case (doc, keep) => keep == find(doc) }
    assert(agree.toDouble / nDocs >= 0.9,
      s"only $agree/$nDocs docs agree with the exact collapse")
    // the collapse is non-trivial: at least one real cluster merged
    assert(out.exists { case (doc, keep) => keep < doc })
  }

  test("q_dedup_groups_lsh_incr == batch LSH collapse on the post-delta corpus") {
    // the signed-maintenance query and a from-scratch batch collapse
    // over the post-delta corpus run the same deterministic pipeline
    // off (provably) equal bucket relations — rows must be IDENTICAL
    val incr = SparkEntry.queries("q_dedup_groups_lsh_incr")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val toksPost = Dedup.tokens(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 1).localCheckpoint()
    val bk = MinHash.buckets(MinHash.signatures(toksPost)).localCheckpoint()
    val cands = MinHash.candidatesFromBuckets(bk)
      .unionByName(MinHash.starCandidates(bk)).distinct()
    val pairs = Dedup.verifyPairs(cands, Dedup.docSets(toksPost))
      .select("doc_a", "doc_b").localCheckpoint()
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val batch = graft.iter.IterQueries.loopConf(spark) {
      val state0 = graft.engine.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 10 =!= 1)
        .select(col("doc_id").as("node"), col("doc_id").as("label"))
      val changed0 = state0
        .select(col("node").as("cnode"), col("label").as("cval"))
      graft.iter.IterQueries
        .minPropagate(edges, state0, changed0, "label", 0L, 5)
        .select(col("node").as("doc_id"), col("label").as("keep_id"))
    }.orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(incr.nonEmpty)
    assert(incr == batch,
      "signed index maintenance must be result-invisible to the collapse")
  }

  test("q_incr_sessionize_delete == full sessionize on the post-delta log") {
    val incr = SparkEntry.queries("q_incr_sessionize_delete")(spark, sfDir)
      .collect().toSeq
    val cut = lit("2024-01-20").cast("timestamp")
    val ev = graft.engine.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
    // deletions must actually retract something on the fixture
    val nDeleted = ev
      .filter(col("ts") < cut && col("event_id") % 10 === 1).count()
    assert(nDeleted > 0, "fixture must exercise the '-' half")
    val full = graft.ops.Events.sessionsOf(
        ev.filter(!(col("ts") < cut && col("event_id") % 10 === 1)))
      .orderBy("user_id", "session_idx").collect().toSeq
    assert(incr.nonEmpty)
    assert(incr == full,
      "signed group-level recompute must equal the full recompute")
  }

  test("q_incr_join_view_delete == full view on the post-delta facts") {
    val incr = SparkEntry.queries("q_incr_join_view_delete")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val cut = lit("1999-01-01").cast("timestamp")
    val li = graft.engine.Tables.lineitem(spark, sfDir)
    // retractions must actually remove rows on the fixture
    assert(li.filter(col("l_shipdate") < cut && col("l_orderkey") % 10 === 1)
      .limit(1).count() > 0)
    val dim = graft.engine.Tables.supplier(spark, sfDir)
      .join(graft.engine.Tables.nation(spark, sfDir),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val full = li
      .filter(!(col("l_shipdate") < cut && col("l_orderkey") % 10 === 1))
      .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        graft.engine.Dec.dbl(
          sum(graft.engine.Dec.dec2(col("l_extendedprice")))).as("rev"))
      .orderBy("n_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(incr.nonEmpty)
    assert(incr == full, "signed view merge must equal the full recompute")
  }

  test("viewApplyDelta: groups whose multiplicity reaches 0 vanish") {
    val sp = spark
    import sp.implicits._
    def v(rows: Seq[(String, Long, java.math.BigDecimal)]) =
      rows.toDF("n_name", "n", "rev")
        .select(col("n_name"), col("n"),
          col("rev").cast("decimal(18,2)").as("rev"))
    def bd(s: String) = new java.math.BigDecimal(s)
    // base: A(2 rows, 30.00), B(1 row, 5.00); delta deletes BOTH A
    // rows and inserts one B row — A must VANISH, not linger at 0
    val base = v(Seq(("A", 2L, bd("30.00")), ("B", 1L, bd("5.00"))))
    val ins = v(Seq(("B", 1L, bd("7.50"))))
    val del = v(Seq(("A", 2L, bd("30.00"))))
    val out = graft.ops.Joins.viewApplyDelta(base, ins, del)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(out == Set(("B", 2L, 12.5)),
      s"got $out — A must vanish at multiplicity 0")
  }

  test("q_sim_ann_ivf_incr: maintained index == rebuilt; search bit-equal") {
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val (indexedOld, cents) = Similarity.ivfIndex(spark, base)
    val maintained = Similarity.ivfApplyDelta(spark, indexedOld, cents,
      emb.filter(col("vec_id") % 10 === 0),
      emb.filter(col("vec_id") % 10 === 1).select("vec_id"))
    val rebuilt = graft.iter.KMeans.assign(spark,
      emb.filter(col("vec_id") % 10 =!= 1), cents)
    def idx(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster")).collect()
        .map(r => (r.getLong(0), r.getAs[Number]("cluster").longValue))
        .toSet
    assert(idx(maintained) == idx(rebuilt),
      "signed index maintenance must equal a from-scratch assignment")
    val probes = emb
      .filter(col("vec_id") < 5 && col("vec_id") % 10 =!= 1)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3))).toSeq
    val viaQuery = rows(SparkEntry.queries("q_sim_ann_ivf_incr")(spark, sfDir))
    val viaRebuilt = rows(
      Similarity.ivfSearchBatch(spark, rebuilt, cents, probes,
          nprobe = 3, topK = 3)
        .select(col("probe_id"), col("vec_id"), col("sim"), col("rn"))
        .orderBy("probe_id", "rn"))
    assert(viaQuery.nonEmpty)
    assert(viaQuery == viaRebuilt,
      "search over the maintained index must be bit-identical")
  }

  test("incremental k-means under a SIGNED delta: warm restart beats cold") {
    // the k-means '-' story: centroids are recomputed from whatever
    // corpus is passed (state is a mean, not an additive sketch), so
    // deletion needs no special machinery — the warm restart from the
    // BASE run's converged centroids must still beat a cold re-seed
    // on the post-delta corpus and land on a fixed point
    val vecs = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val base = vecs.filter(col("vec_id") % 10 =!= 0)      // pre-insert
    val post = vecs.filter(col("vec_id") % 10 =!= 1)      // ins + del applied
    assert(base.count() != post.count() ||
      base.except(post).limit(1).count() > 0)
    val seed = vecs.orderBy("vec_id").limit(10).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val eps = 1e-4
    val (_, itersBase, prevCents) =
      graft.iter.KMeans.runUntilFrom(spark, base, seed, eps, 60)
    assert(itersBase < 60)
    val (_, itersCold, _) =
      graft.iter.KMeans.runUntilFrom(spark, post, seed, eps, 60)
    val (postAssign, itersWarm, warmCents) =
      graft.iter.KMeans.runIncremental(spark, post, prevCents, eps, 60)
    assert(itersWarm < itersCold,
      s"signed-delta warm restart ($itersWarm) must beat cold ($itersCold)")
    val (_, itersAgain, _) =
      graft.iter.KMeans.runIncremental(spark, post, warmCents, eps, 60)
    assert(itersAgain == 1, "converged state must be a fixed point")
    assert(postAssign.count() == post.count(),
      "assignment must partition exactly the post-delta corpus")
  }

  test("q_incr_scd2_delete == full SCD2 build on the post-delta orders") {
    val incr = SparkEntry.queries("q_incr_scd2_delete")(spark, sfDir)
      .collect().toSeq
    val cut = lit("1998-01-01").cast("timestamp")
    val o = graft.engine.Tables.orders(spark, sfDir)
    // retractions must actually remove rows on the fixture
    assert(o.filter(col("o_orderdate") < cut && col("o_orderkey") % 10 === 1)
      .limit(1).count() > 0)
    val full = graft.ops.Joins.scd2OfRows(
        o.filter(!(col("o_orderdate") < cut && col("o_orderkey") % 10 === 1)))
      .orderBy("o_custkey", "valid_from", "o_orderkey").collect().toSeq
    assert(incr.nonEmpty)
    assert(incr == full,
      "signed custkey-level recompute must equal the full rebuild")
  }

  // ---------------------------------------------------------------
  // CC under edge deletion (component-level recompute)
  // ---------------------------------------------------------------

  test("componentDeleteRestart: unaffected components pass through unrecomputed") {
    val sp = spark
    import sp.implicits._
    // two chain components: {1,2,3} and {10,11}. Delete edge (2,3):
    // {1,2,3} splits into {1,2} and {3}; {10,11} is untouched.
    def sym(e: Seq[(Long, Long)]) = (e ++ e.map(_.swap)).toDF("src", "dst")
    val full = sym(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    val deleted = sym(Seq((2L, 3L)))
    val post = sym(Seq((1L, 2L), (10L, 11L)))
    // converged base labels, with the UNAFFECTED component's label
    // PERTURBED to 999: any recompute of that component would restore
    // 10 — passthrough must carry the perturbation verbatim
    val base = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 999L), (11L, 999L))
      .toDF("node", "label")
    val out = graft.iter.IterQueries
      .componentDeleteRestart(base, deleted, post)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L,
      10L -> 999L, 11L -> 999L),
      s"got $out — affected split must recompute, unaffected must not")
  }

  test("q_incr_cc_delete == driver union-find fixpoint on the post graph") {
    val out = SparkEntry.queries("q_incr_cc_delete")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val custkeys = graft.engine.Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("long")).collect().map(_.getLong(0))
    val keySet = custkeys.toSet
    val postEdges = custkeys
      .filter(i => i % 8 != 0 && keySet(i + 1) && (2 * i + 1) % 13 != 0)
      .map(i => (i, i + 1))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    postEdges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(out.keySet == keySet)
    assert(out.forall { case (n, l) => l == find(n) },
      "engine labels must equal the union-find fixpoint")
    // both paths must exercise on the fixture: some component split
    // (label differs from full-graph run) and some were preserved
    assert(out.values.toSet.size > custkeys.count(_ % 8 == 1),
      "deletion must have split at least one chain")
  }

  test("q_dedup_simhash_incr == batch SimHash near-dups on the post-delta subset") {
    val incr = SparkEntry.queries("q_dedup_simhash_incr")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val toksPost = Dedup.subsetTokens(spark, sfDir)
      .filter(col("doc_id") % 50 =!= 5)
    // both delta halves must be non-empty on the fixture
    assert(Dedup.subsetTokens(spark, sfDir)
      .filter(col("doc_id") % 50 === 5).limit(1).count() > 0)
    assert(Dedup.subsetTokens(spark, sfDir)
      .filter(col("doc_id") % 50 === 0).limit(1).count() > 0)
    val batch = SimHash.candidates(SimHash.signatures(toksPost))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("bigint"))
      .filter(col("hamming") <= SimHash.MaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(incr.nonEmpty)
    assert(incr == batch,
      "signed bucket maintenance must be result-invisible to the verify")
  }

  // ---------------------------------------------------------------
  // Incremental SimHash candidates
  // ---------------------------------------------------------------

  test("SimHash candidatesIncr: full == old ∪ delta, exactly (synthetic)") {
    val sp = spark
    import sp.implicits._
    // docs 1, 2 identical (old-old pair); new doc 10 duplicates them
    // (two cross pairs); new doc 11 unrelated
    val texts = Seq(
      1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "epsilon zeta eta theta",
      10L -> "alpha beta gamma delta", 11L -> "iota kappa lambda mu")
    val toks = texts.flatMap { case (id, t) => t.split(" ").map(id -> _) }
      .toDF("doc_id", "tok")
    val sigAll = SimHash.signatures(toks).localCheckpoint()
    val cut = 10L
    val full = pairSet(SimHash.candidates(sigAll).select("doc_a", "doc_b"))
    val old = pairSet(SimHash.candidates(sigAll.filter(col("doc_id") < cut))
      .select("doc_a", "doc_b"))
    val bandedAll = SimHash.banded(sigAll).localCheckpoint()
    val incrDf = SimHash.candidatesIncr(
      bandedAll.filter(col("doc_id") < cut),
      bandedAll.filter(col("doc_id") >= cut)).localCheckpoint()
    val incr = pairSet(incrDf.select("doc_a", "doc_b"))
    assert(old == Set((1L, 2L)))
    assert(incr == Set((1L, 10L), (2L, 10L)), s"unexpected delta pairs: $incr")
    assert((old ++ incr) == full, s"old ∪ incr != full ($full)")
    // carried signatures are the real ones (identical docs -> Hamming 0)
    val zeroDist = incrDf.filter(
      bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) === 0).count()
    assert(zeroDist == 2L, "identical docs must carry identical signatures")
  }

  test("SimHash candidatesIncr: full == old ∪ delta on the fixture corpus") {
    val toks = Dedup.tokens(spark, sfDir).localCheckpoint()
    val sigAll = SimHash.signatures(toks).localCheckpoint()
    val cut = toks.agg(expr("percentile(doc_id, 0.8)")).head()
      .getDouble(0).toLong
    val full = pairSet(SimHash.candidates(sigAll).select("doc_a", "doc_b"))
    val old = pairSet(SimHash.candidates(sigAll.filter(col("doc_id") < cut))
      .select("doc_a", "doc_b"))
    val bandedAll = SimHash.banded(sigAll).localCheckpoint()
    val incr = pairSet(SimHash.candidatesIncr(
      bandedAll.filter(col("doc_id") < cut),
      bandedAll.filter(col("doc_id") >= cut)).select("doc_a", "doc_b"))
    assert(incr.forall { case (a, b) => a >= cut || b >= cut },
      "every delta pair must involve a new doc")
    assert((old ++ incr) == full,
      s"old(${old.size}) ∪ incr(${incr.size}) != full(${full.size})")
  }

  // ---------------------------------------------------------------
  // Signed-delta Apriori
  // ---------------------------------------------------------------

  test("frequentItemsetsDelta: deletions demote itemsets, inserts promote") {
    val sp = spark
    import sp.implicits._
    import graft.iter.Apriori
    // base: {a,b} in docs 1,2,3 (support 3 = minSup); {c,d} in doc 4.
    // delete doc 3 -> {a,b} drops to 2, must VANISH at minSup=3;
    // insert docs 10,11 with {c,d} -> support 3, must APPEAR.
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "tok")
    val base = mk(Seq(1L -> "a", 1L -> "b", 2L -> "a", 2L -> "b",
      3L -> "a", 3L -> "b", 4L -> "c", 4L -> "d"))
    val ins = mk(Seq(10L -> "c", 10L -> "d", 11L -> "c", 11L -> "d"))
    val deleted = Seq(Tuple1(3L)).toDF("doc_id")
    val out = Apriori.frequentItemsetsDelta(base, ins, deleted, 2, 3L)
      .collect().map(r => r.getSeq[String](0).toList -> r.getLong(1)).toMap
    assert(out == Map(List("c", "d") -> 3L),
      s"expected only the promoted itemset, got $out")
    // and the signed path equals the full recompute on the post corpus
    val post = base.join(deleted, Seq("doc_id"), "left_anti").unionByName(ins)
    val full = Apriori.frequentItemsets(post, 2, 3L)
      .collect().map(r => r.getSeq[String](0).toList -> r.getLong(1)).toMap
    assert(out == full)
  }

  test("q_incr_apriori_delete == full pair mining on the post-delta corpus") {
    val incr = SparkEntry.queries("q_incr_apriori_delete")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    val postToks = graft.engine.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 1)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
    val full = graft.iter.Apriori
      .frequentItemsets(postToks, 2, graft.iter.Apriori.minSupport)
      .select(element_at(col("items"), 1).as("tok_a"),
        element_at(col("items"), 2).as("tok_b"), col("support"))
      .orderBy("tok_a", "tok_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(incr.nonEmpty, "degenerate fixture")
    assert(incr == full, "signed Apriori must equal the full recompute")
  }

  // ---------------------------------------------------------------
  // Signed-delta heavy hitters: the deletion mass budget
  // ---------------------------------------------------------------

  test("MG candidates survive deletions within the mass budget (bound proof)") {
    import graft.ops.HeavyHitters.{mgSummary, mergeSummaries}
    val k = 63
    // adversarial: 'hot' is NOT a pre-delta heavy hitter but becomes
    // one post-delta because deletions shrink n. Budget edge:
    // n_pre = 6400, deletions remove 1280 tokens (20% < 21.875%),
    // n_post = 5120; post threshold n_post/50 = 102.4; hot has 110
    // occurrences (none deleted): pre 110 < 6400/50 = 128 (not heavy
    // pre), post 110 > 102.4 (heavy post). The MG retention bound
    // n_pre/(k+1) = 100 < 110 guarantees hot survives the PRE sketch.
    val rnd = new scala.util.Random(13)
    val deleted = (0 until 1280).map(i => s"del_${i % 400}")
    val kept = (0 until 5010).map(i => s"bg_${i % 3000}")
    val pre = rnd.shuffle(List.fill(110)("hot") ++ kept ++ deleted)
    val summary = pre.grouped(800).map(g => mgSummary(g.iterator, k).toMap)
      .foldLeft(Map.empty[String, Long])(mergeSummaries(_, _, k))
    assert(summary.contains("hot"),
      "an item above n_pre/(k+1) must survive the pre-delta sketch")
    // post-delta exact verify over the candidates finds it heavy
    val post = List.fill(110)("hot") ++ kept
    val nPost = post.size
    assert(nPost * (k + 1) >= pre.size * 50, "fixture must sit inside budget")
    val postCounts = post.groupBy(identity).view.mapValues(_.size.toLong)
    val heavyPost = postCounts.filter(_._2 * 50 > nPost).keys.toSet
    assert(heavyPost("hot"), "fixture: hot must be heavy post-delta")
    assert(heavyPost.subsetOf(summary.keySet),
      "within budget, pre-delta candidates must cover post-delta heavies")
  }

  test("q_incr_heavy_hitters_delete == brute force on the post-delta corpus") {
    val incr = SparkEntry.queries("q_incr_heavy_hitters_delete")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val post = graft.engine.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 1)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val n = post.count()
    val full = post.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 50 > n)
      .orderBy(col("cnt").desc, col("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(incr.nonEmpty, "degenerate fixture")
    assert(incr == full, "budget-guarded sketch path must be exact")
  }

  // ---------------------------------------------------------------
  // Declared batch IVF ANN
  // ---------------------------------------------------------------

  test("q_sim_ann_ivf_batch: declared shape + nprobe=k reproduces q91 bitwise") {
    val out = SparkEntry.queries("q_sim_ann_ivf_batch")(spark, sfDir)
    assert(out.columns.toSeq == Seq("probe_id", "vec_id", "sim", "rn"))
    val rows = out.collect()
    assert(rows.length == 15, s"5 probes x top-3 expected, got ${rows.length}")
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactRows = SparkEntry.queries("q_sim_knn_batch")(spark, sfDir)
      .collect()
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"batch IVF recall $recall too low at nprobe=3")
    // widening the probe set to every cluster recovers q91 EXACTLY,
    // similarity doubles included (same FloatDot IEEE chain)
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val (indexed, cents) = Similarity.ivfIndex(spark, emb)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val allProbe = Similarity.ivfSearchBatch(spark, indexed.localCheckpoint(),
        cents, probes, nprobe = cents.length, topK = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val exactBits = exactRows
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(allProbe == exactBits, "nprobe=k must equal q91 bit-for-bit")
  }
}
