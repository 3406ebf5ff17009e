package graft

import org.apache.spark.sql.functions._
import graft.incr.StateStore
import graft.text.{Dedup, MinHash, SimHash, Similarity}

/** Round-9 items: cross-session Parquet persistence for the signed
  * index state (the last memo-only stored state [P §5]), the
  * composite 'update' delta (delete + insert on the SAME key in one
  * signed batch [P §3]), the declared signed-delta k-means query, and
  * the memo-eviction registry. */
class Round9Spec extends SparkSpecBase {

  private def bandSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int)] =
    df.select(col("doc_id"), col("band"), col("bh")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Number]("bh").intValue)).toSet

  // ---------------------------------------------------------------
  // Cross-session persistence for the signed index state [P §5]
  // ---------------------------------------------------------------

  test("MinHash band index: cross-session restart from Parquet ≡ in-memory maintenance") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_store")
    try {
      // SESSION A: build + persist the base-corpus band index, then
      // run the signed maintenance against the IN-MEMORY relation
      val toks = Dedup.tokens(spark, sfDir).localCheckpoint()
      val bandedOld = MinHash.banded(MinHash.signatures(
        toks.filter(col("doc_id") % 10 =!= 0))).localCheckpoint()
      StateStore.commit(s"$dir/bands", Seq("bands" -> bandedOld))
      val bandedIns = MinHash.banded(MinHash.signatures(
        toks.filter(col("doc_id") % 10 === 0))).localCheckpoint()
      val deleted = graft.engine.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 10 === 1).select("doc_id")
      val viaMemory = bandSet(
        MinHash.indexApplyDelta(bandedOld, bandedIns, deleted))
      // SESSION B: fresh session state; the stored relation read back
      // from Parquet is the delta's base — no in-memory lineage
      val s2 = spark.newSession()
      val stored = StateStore.read(s2, s"$dir/bands").get("bands")
      assert(bandSet(stored) == bandSet(bandedOld),
        "integer band rows must round-trip Parquet verbatim")
      val toksB = Dedup.tokens(s2, sfDir)
      val bandedInsB = MinHash.banded(MinHash.signatures(
        toksB.filter(col("doc_id") % 10 === 0)))
      val deletedB = graft.engine.Tables.documents(s2, sfDir)
        .filter(col("doc_id") % 10 === 1).select("doc_id")
      val viaStore = bandSet(
        MinHash.indexApplyDelta(stored, bandedInsB, deletedB))
      assert(viaStore.nonEmpty)
      assert(viaStore == viaMemory,
        "restarting the signed maintenance from the Parquet store " +
          "must equal the in-memory chain")
    } finally deleteRecursively(dir)
  }

  test("SimHash band index: cross-session restart from Parquet ≡ in-memory maintenance") {
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash_store")
    def sigBandSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("sig"), col("band"), col("bh"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
    try {
      // q147's delta convention inside the doc subset
      val toks = Dedup.subsetTokens(spark, sfDir).localCheckpoint()
      val bandedOld = SimHash.banded(SimHash.signatures(
        toks.filter(col("doc_id") % 50 =!= 0))).localCheckpoint()
      StateStore.commit(s"$dir/bands", Seq("bands" -> bandedOld))
      val bandedIns = SimHash.banded(SimHash.signatures(
        toks.filter(col("doc_id") % 50 === 0))).localCheckpoint()
      val deleted = toks.filter(col("doc_id") % 50 === 5)
        .select("doc_id").distinct()
      val viaMemory = sigBandSet(
        SimHash.indexApplyDelta(bandedOld, bandedIns, deleted))
      val s2 = spark.newSession()
      val stored = StateStore.read(s2, s"$dir/bands").get("bands")
      assert(sigBandSet(stored) == sigBandSet(bandedOld),
        "the (doc_id, sig, band, bh) relation must round-trip verbatim")
      val toksB = Dedup.subsetTokens(s2, sfDir)
      val bandedInsB = SimHash.banded(SimHash.signatures(
        toksB.filter(col("doc_id") % 50 === 0)))
      val deletedB = toksB.filter(col("doc_id") % 50 === 5)
        .select("doc_id").distinct()
      val viaStore = sigBandSet(
        SimHash.indexApplyDelta(stored, bandedInsB, deletedB))
      assert(viaStore.nonEmpty)
      assert(viaStore == viaMemory,
        "cross-session SimHash maintenance must equal the in-memory chain")
    } finally deleteRecursively(dir)
  }

  test("IVF index: cross-session restart from Parquet ≡ in-memory; search bit-equal") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_store")
    def assignSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cluster")).collect()
        .map(r => (r.getLong(0), r.getAs[Number]("cluster").longValue)).toSet
    def searchRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3))).toSeq
    try {
      val emb = graft.engine.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val base = emb.filter(col("vec_id") % 10 =!= 0)
      val (indexedOld, cents) = Similarity.ivfIndex(spark, base)
      Similarity.ivfWriteIndex(indexedOld.localCheckpoint(), cents, s"$dir/ivf")
      val ins = emb.filter(col("vec_id") % 10 === 0)
      val del = emb.filter(col("vec_id") % 10 === 1).select("vec_id")
      val maintainedA = Similarity
        .ivfApplyDelta(spark, indexedOld, cents, ins, del).localCheckpoint()
      // SESSION B: index + centroid model read back from the store
      val s2 = spark.newSession()
      val (stored, storedCents) = Similarity.ivfReadIndex(s2, s"$dir/ivf")
      assert(storedCents.flatten[Double].zip(cents.flatten[Double]).forall {
        case (x, y) => java.lang.Double.doubleToLongBits(x) ==
          java.lang.Double.doubleToLongBits(y) },
        "centroids must round-trip Parquet bit-identically")
      assert(assignSet(stored) == assignSet(indexedOld),
        "the stored assignment must round-trip verbatim")
      val embB = graft.engine.Tables.embeddings(s2, sfDir)
        .select(col("vec_id"), col("embedding"))
      val maintainedB = Similarity.ivfApplyDelta(s2, stored, storedCents,
          embB.filter(col("vec_id") % 10 === 0),
          embB.filter(col("vec_id") % 10 === 1).select("vec_id"))
        .localCheckpoint()
      assert(assignSet(maintainedB) == assignSet(maintainedA),
        "cross-session ivfApplyDelta must equal the in-memory chain")
      // and batch search over the restarted index is bit-identical
      // (FloatDot's IEEE chain over identical float32 rows)
      def probesOf(e: org.apache.spark.sql.DataFrame) = e
        .filter(col("vec_id") < 5 && col("vec_id") % 10 =!= 1)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      val viaA = searchRows(
        Similarity.ivfSearchBatch(spark, maintainedA, cents,
            probesOf(emb), nprobe = 3, topK = 3)
          .orderBy("probe_id", "rn"))
      val viaB = searchRows(
        Similarity.ivfSearchBatch(s2, maintainedB, storedCents,
            probesOf(embB), nprobe = 3, topK = 3)
          .orderBy("probe_id", "rn"))
      assert(viaA.nonEmpty)
      assert(viaA == viaB,
        "search over the restarted index must be bit-identical")
    } finally deleteRecursively(dir)
  }

  // ---------------------------------------------------------------
  // The composite 'update' delta [P §3: update = delete + insert]
  // ---------------------------------------------------------------

  test("viewApplyDelta: same-key update (delete + insert in ONE batch) revalues without resizing") {
    val sp = spark
    import sp.implicits._
    def v(rows: Seq[(String, Long, java.math.BigDecimal)]) =
      rows.toDF("n_name", "n", "rev")
        .select(col("n_name"), col("n"),
          col("rev").cast("decimal(18,2)").as("rev"))
    def bd(s: String) = new java.math.BigDecimal(s)
    // update A's two rows from 30.00 to 32.00 total: the OLD version
    // retracts and the NEW version inserts in the SAME signed batch —
    // multiplicity cancels (−2 then +2), only the sum moves
    val base = v(Seq(("A", 2L, bd("30.00")), ("B", 1L, bd("5.00"))))
    val ins = v(Seq(("A", 2L, bd("32.00"))))
    val del = v(Seq(("A", 2L, bd("30.00"))))
    val out = graft.ops.Joins.viewApplyDelta(base, ins, del)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(out == Set(("A", 2L, 32.0), ("B", 1L, 5.0)),
      s"got $out — the composite update must revalue A without resizing it")
  }

  test("q_incr_view_update == full view over the post-update facts") {
    val incr = SparkEntry.queries("q_incr_view_update")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val cut = lit("1999-01-01").cast("timestamp")
    val li = graft.engine.Tables.lineitem(spark, sfDir)
    val updPred = col("l_shipdate") < cut && col("l_orderkey") % 10 === 3
    assert(li.filter(updPred).limit(1).count() > 0,
      "fixture must exercise the update half")
    val dim = graft.engine.Tables.supplier(spark, sfDir)
      .join(graft.engine.Tables.nation(spark, sfDir),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val full = li
      .withColumn("l_extendedprice",
        when(updPred, col("l_extendedprice") + lit(1.0))
          .otherwise(col("l_extendedprice")))
      .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        graft.engine.Dec.dbl(
          sum(graft.engine.Dec.dec2(col("l_extendedprice")))).as("rev"))
      .orderBy("n_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(incr.nonEmpty)
    assert(incr == full,
      "the composite update delta must equal the full post-update view")
  }

  test("viewApplyDelta == full recompute for ARBITRARY signed fact deltas (property)") {
    val sp = spark
    import sp.implicits._
    // the abelian-group argument says the merge is correct for ANY
    // delta mix — inserts, deletes, same-key updates, whole groups
    // appearing or vanishing; check it on random fact multisets
    for (seed <- 1L to 5L) {
      val rnd = new scala.util.Random(seed)
      val keys = Vector("A", "B", "C", "D", "E")
      def facts(n: Int) = Vector.fill(n)(
        (keys(rnd.nextInt(keys.size)),
          new java.math.BigDecimal(s"${rnd.nextInt(10000)}.${10 + rnd.nextInt(90)}")))
      val base = facts(80)
      val delIdx = (0 until base.size).filter(_ => rnd.nextInt(4) == 0).toSet
      val del = delIdx.toVector.sorted.map(base)
      val ins = facts(30)
      def view(rows: Vector[(String, java.math.BigDecimal)]) = rows
        .toDF("n_name", "p")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"),
          sum(col("p").cast("decimal(18,2)")).as("rev"))
      val survivors = base.indices.filterNot(delIdx).toVector.map(base)
      val merged = graft.ops.Joins
        .viewApplyDelta(view(base), view(ins), view(del))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val full = view(survivors ++ ins)
        .select(col("n_name"), col("n"),
          graft.engine.Dec.dbl(col("rev")).as("rev"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(merged == full, s"seed=$seed: signed merge must equal recompute")
    }
  }

  test("dedupApplyDelta: a doc UPDATE (delete + insert, same doc_id) in one batch") {
    val sp = spark
    import sp.implicits._
    // docs 1,2 share hash ha; doc 3 is hb. UPDATE doc 2's text so its
    // hash moves ha -> hb: the '-' half deletes doc 2, the '+' half
    // re-inserts the SAME doc_id under its new hash, one signed batch.
    val baseIndex = Seq(("ha", 1L), ("ha", 2L), ("hb", 3L)).toDF("h", "doc_id")
    val baseState = Seq(("ha", 2L, 1L), ("hb", 1L, 3L))
      .toDF("h", "n_dups", "keep_id")
    val deleted = Seq(Tuple1(2L)).toDF("doc_id")
    val deltaState = Seq(("hb", 1L, 2L)).toDF("h", "n_dups", "keep_id")
    val out = graft.text.Dedup
      .dedupApplyDelta(baseState, baseIndex, deleted, deltaState)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // full recompute over the updated corpus {1:ha, 2:hb, 3:hb}
    assert(out == Map("ha" -> ((1L, 1L)), "hb" -> ((2L, 2L))),
      s"got $out — the update must leave ha={1} and hb={2,3} keyed by min")
  }

  test("index composite update: a doc in BOTH delta halves lands on its new signature") {
    val sp = spark
    import sp.implicits._
    // doc 1's text changes, so the one signed batch deletes it AND
    // re-inserts the SAME doc_id under new band hashes: applyDelta
    // must remove the old rows first (anti-join) so the new rows
    // survive — (old ∪ ins) minus deleted would wrongly erase them
    val old = Seq((1L, 0, 11L), (1L, 1, 12L), (2L, 0, 21L), (2L, 1, 22L))
      .toDF("doc_id", "band", "bh")
    val ins = Seq((1L, 0, 91L), (1L, 1, 12L)).toDF("doc_id", "band", "bh")
    val deleted = Seq(Tuple1(1L)).toDF("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(MinHash.indexApplyDelta(old, ins, deleted)) ==
      Set((1L, 0, 91L), (1L, 1, 12L), (2L, 0, 21L), (2L, 1, 22L)),
      "the updated doc must carry exactly its NEW signature rows")
    // the touched keys must cover the doc's OLD buckets (where it
    // disappears from) AND its NEW buckets (where it appears) — the
    // bucket rebuild is correct only if both sides rebuild
    val touched = MinHash.touchedKeys(old, ins, deleted)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(touched == Set((0, 11L), (1, 12L), (0, 91L)),
      s"got $touched — old and new keys of the updated doc must be touched")
  }

  test("SCD2 composite update (status correction, one signed batch) == full rebuild") {
    val cut = lit("1998-01-01").cast("timestamp")
    val o = graft.engine.Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderstatus"))
    val basePred = col("o_orderdate") < cut
    val updPred = basePred && col("o_orderkey") % 10 === 3
    assert(o.filter(updPred).limit(1).count() > 0,
      "fixture must exercise the update half")
    // the update flips the status — the OLD row retracts and the NEW
    // row (same o_orderkey) inserts in one signed batch, which can
    // merge adjacent intervals or create a new change point
    val flip = when(col("o_orderstatus") === "F", lit("O")).otherwise(lit("F"))
    val updNew = o.filter(updPred).withColumn("o_orderstatus", flip)
    val affected = broadcast(
      o.filter(updPred).select("o_custkey").distinct())
    val preserved = graft.ops.Joins.scd2OfRows(
      o.filter(basePred).join(affected, Seq("o_custkey"), "left_anti"))
    val recomputed = graft.ops.Joins.scd2OfRows(
      o.filter(basePred && !updPred).unionByName(updNew)
        .join(affected, Seq("o_custkey"), "left_semi"))
    val viaDelta = preserved.unionByName(recomputed)
      .orderBy("o_custkey", "valid_from", "o_orderkey").collect().toSeq
    val full = graft.ops.Joins.scd2OfRows(
        o.filter(basePred).withColumn("o_orderstatus",
          when(col("o_orderkey") % 10 === 3, flip)
            .otherwise(col("o_orderstatus"))))
      .orderBy("o_custkey", "valid_from", "o_orderkey").collect().toSeq
    assert(viaDelta.nonEmpty)
    assert(viaDelta == full,
      "the composite update must equal the full rebuild over corrected history")
  }

  // ---------------------------------------------------------------
  // Declared signed-delta k-means
  // ---------------------------------------------------------------

  test("q_iter_kmeans_incr: declared output == the library warm-restart chain") {
    val out = SparkEntry.queries("q_iter_kmeans_incr")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val post = emb.filter(col("vec_id") % 10 =!= 1)
    val seed = base.orderBy("vec_id").limit(10).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val (_, _, baseCents) =
      graft.iter.KMeans.runUntilFrom(spark, base, seed, 1e-4, 60)
    val (assigned, _, _) =
      graft.iter.KMeans.runIncremental(spark, post, baseCents, 1e-4, 60)
    val ref = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
      .orderBy("cluster")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.nonEmpty)
    assert(out == ref, "declared query must equal the direct library chain")
    // the summary partitions exactly the post-delta corpus
    assert(out.map(_._2).sum == post.count())
    assert(out.forall { case (c, n, _) => c >= 0 && c < 10 && n > 0 })
  }

  // ---------------------------------------------------------------
  // The per-bucket pair store's provenance contract
  // ---------------------------------------------------------------

  test("keyed candidate generators: pair semantics identical to the unkeyed path") {
    // the signed pair-store maintenance passes untouched buckets'
    // verified pairs through by bucket key — sound only if the keyed
    // generators enumerate exactly the unkeyed pairs (per bucket,
    // with provenance)
    val bk = MinHash.bucketsOf(MinHash.banded(MinHash.signatures(
      Dedup.subsetTokens(spark, sfDir)))).localCheckpoint()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_a"), col("doc_b")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(MinHash.candidatesFromBucketsKeyed(bk)) ==
      pairSet(MinHash.candidatesFromBuckets(bk)))
    assert(pairSet(MinHash.starCandidatesKeyed(bk)) ==
      pairSet(MinHash.starCandidates(bk)))
    // provenance rows carry valid bucket keys: every (band, bh) in the
    // keyed output exists in the bucket relation
    val keyed = MinHash.candidatesFromBucketsKeyed(bk)
      .unionByName(MinHash.starCandidatesKeyed(bk)).localCheckpoint()
    val orphans = keyed
      .join(bk.select("band", "bh"), Seq("band", "bh"), "left_anti")
    assert(orphans.limit(1).count() == 0,
      "keyed candidates must reference real bucket keys")
    // and the pair store (all-integer rows) round-trips Parquet
    // verbatim like the other three stored relations
    val dir = java.nio.file.Files.createTempDirectory("graft_pair_store")
    try {
      StateStore.commit(s"$dir/pairs", Seq("pairs" -> keyed))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getAs[Number](1).longValue,
          r.getLong(2), r.getLong(3))).toSet
      assert(rows(StateStore.read(spark.newSession(), s"$dir/pairs").get("pairs")) ==
        rows(keyed.select("band", "bh", "doc_a", "doc_b")),
        "the per-bucket pair store must round-trip Parquet verbatim")
    } finally deleteRecursively(dir)
  }

  // ---------------------------------------------------------------
  // Memo eviction registry
  // ---------------------------------------------------------------

  test("Memos.clearAll: evicted memos rebuild to identical results") {
    // a memoized structure query before, between and after eviction
    val before = SparkEntry.queries("q_dedup_groups")(spark, sfDir)
      .collect().toSeq
    graft.engine.Memos.clearAll()
    val after = SparkEntry.queries("q_dedup_groups")(spark, sfDir)
      .collect().toSeq
    assert(before == after, "a rebuilt memo must produce identical rows")
    graft.engine.Memos.clearAll() // leave the session clean for later suites
  }
}
