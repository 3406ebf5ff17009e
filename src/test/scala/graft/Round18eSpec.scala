package graft

import org.apache.spark.sql.functions._

/** Round-18 OPTIMIZATION pins, second pass — the stored-index memos
  * (the Round18dSpec discipline extended to the ANN / SimHash /
  * interval rows this pass compacted):
  *
  *   - q_sim_ann_ivf(_quantized/_batch/_batch_quantized): the IVF
  *     index (float and int8) rides `Similarity.cachedIvfIndex` /
  *     `cachedIvfIndexQuantized` — equality with a fresh
  *     per-invocation build is pinned here, so the memo can never
  *     drift from the declared build.
  *   - q_dedup_simhash: the band index is served as
  *     bandedOld ∪ bandedIns (q147's two stored halves); signatures
  *     are doc-local, so the union must equal the direct full-subset
  *     build — pinned ROW-FOR-ROW here.
  *   - q_dedup_minhash: the banded signature index rides a session
  *     memo; same equality pin.
  *
  * Warm job pins carry one-broadcast headroom over the measured warm
  * counts (q_dedup_simhash 5, q_sim_ann_ivf_quantized 4,
  * q_join_interval_overlap 10 at sf0.1); a regression past them means
  * a memo stopped hitting — check that first (r17 lesson). */
class Round18eSpec extends SparkSpecBase {

  private def warmJobs(name: String): Int =
    jobsOf(SparkEntry.queries(name)(spark, sfDir).count())._2

  test("cached IVF indexes == fresh per-invocation builds") {
    import graft.text.Similarity
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    // float index, k = 10 (q76's shape: first 10 vec_ids as centroids)
    val (cachedF, centsF) = Similarity.cachedIvfIndex(spark, sfDir, 10)
    val freshCents = emb.filter(col("vec_id") < 10).orderBy("vec_id")
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    assert(centsF.map(_.toSeq).toSeq == freshCents.map(_.toSeq).toSeq,
      "cached float centroids != q76's filter(vec_id < 10) derivation")
    val freshF = graft.iter.KMeans.assign(spark, emb, freshCents)
    assert(cachedF.select("vec_id", "cluster").exceptAll(
      freshF.select("vec_id", "cluster")).isEmpty &&
      freshF.select("vec_id", "cluster").exceptAll(
        cachedF.select("vec_id", "cluster")).isEmpty,
      "cached float IVF assignment != fresh build")
    // quantized index, k = 0 (√n centroids — q279's shape)
    val (cachedQ, centsQ) = Similarity.cachedIvfIndexQuantized(spark, sfDir, 0)
    val (freshQ, freshQCents) = Similarity.ivfIndexQuantized(spark, emb)
    assert(centsQ.map(_.toSeq).toSeq == freshQCents.map(_.toSeq).toSeq,
      "cached √n centroids != ivfIndexQuantized's")
    assert(cachedQ.exceptAll(freshQ).isEmpty &&
      freshQ.exceptAll(cachedQ).isEmpty,
      "cached quantized IVF index != fresh build")
  }

  test("cached quantized codes == fresh quantize (q275's stored codes)") {
    import graft.text.Similarity
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val cached = Similarity.cachedQuantized(spark, sfDir)
      .select("vec_id", "qv", "qn")
    val fresh = Similarity.quantize(emb).select("vec_id", "qv", "qn")
    assert(cached.exceptAll(fresh).isEmpty &&
      fresh.exceptAll(cached).isEmpty,
      "cachedQuantized != fresh quantize(embeddings)")
  }

  test("q66 union-served band index == direct full-subset build") {
    import graft.text.{Dedup, SimHash}
    val direct = SimHash.banded(SimHash.signatures(
      Dedup.subsetTokens(spark, sfDir)))
    // the declared row reads the memoized halves; rebuild the union
    // from the same split to pin the doc-local decomposition itself
    val halves = SimHash.banded(SimHash.signatures(
        Dedup.subsetTokens(spark, sfDir).filter(col("doc_id") % 50 =!= 0)))
      .unionByName(SimHash.banded(SimHash.signatures(
        Dedup.subsetTokens(spark, sfDir).filter(col("doc_id") % 50 === 0))))
    assert(halves.exceptAll(direct).isEmpty &&
      direct.exceptAll(halves).isEmpty,
      "bandedOld ∪ bandedIns != banded(signatures(subset))")
  }

  test("q_incr_profile memoized base state == fresh per-invocation build") {
    import graft.ops.Aggs
    val li = graft.engine.Tables.lineitem(spark, sfDir)
    val base = li.filter(col("l_orderkey") % 10 =!= 0)
    val ins = li.filter(col("l_orderkey") % 10 === 0)
    val del = li.filter(col("l_orderkey") % 10 === 1)
    val fresh = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c => Aggs.profileOfState(
        Aggs.valueCountState(base, ins, del, c), c))
      .reduce(_ unionByName _)
    val declared = SparkEntry.queries("q_incr_profile")(spark, sfDir)
    assert(declared.exceptAll(fresh).isEmpty &&
      fresh.exceptAll(declared).isEmpty,
      "memo-served q_incr_profile != fresh valueCountState build")
  }

  test("q149 memoized clean-normed state == fresh per-invocation build") {
    import graft.ops.Curation
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val freshBase = Curation.cleanNormed(docs.filter(col("doc_id") % 10 =!= 0))
    val declared = SparkEntry.queries("q_incr_pipeline_clean_delete")(
      spark, sfDir) // builds/serves the cleanNormedBase memo
    declared.count()
    val memoBase = graft.ops.Curation.cachedCleanNormedBase(spark, sfDir)
    assert(memoBase.exceptAll(freshBase).isEmpty &&
      freshBase.exceptAll(memoBase).isEmpty,
      "memoized cleanNormedBase != fresh Curation.cleanNormed build")
  }

  test("q123/q138 memoized MG summaries are result-invisible") {
    // both rows hash-match their brute-force oracle with the memo
    // live (preflight) — here pin that the two rows AGREE with the
    // batch q120 answer over the same post-delta corpus shape, i.e.
    // the memoized candidate sets still cover every heavy hitter
    val incr = SparkEntry.queries("q_incr_heavy_hitters")(spark, sfDir)
    val batch = SparkEntry.queries("q_agg_heavy_hitters")(spark, sfDir)
    assert(incr.exceptAll(batch).isEmpty && batch.exceptAll(incr).isEmpty,
      "q_incr_heavy_hitters != q_agg_heavy_hitters with memoized summaries")
  }

  test("r18 second-pass warm job-count pins") {
    for (q <- Seq("q_dedup_simhash", "q_sim_ann_ivf_quantized",
        "q_join_interval_overlap", "q_incr_profile",
        "q_incr_pipeline_clean_delete", "q_incr_heavy_hitters",
        "q_incr_heavy_hitters_delete", "q_sim_cosine_quantized"))
      SparkEntry.queries(q)(spark, sfDir).count() // warm memos
    val pins = Seq(
      ("q_dedup_simhash", 8),
      ("q_sim_ann_ivf_quantized", 7),
      ("q_join_interval_overlap", 12),
      ("q_incr_profile", 17),
      ("q_incr_pipeline_clean_delete", 17),
      ("q_incr_heavy_hitters", 10),
      ("q_incr_heavy_hitters_delete", 8),
      // fifth pass: codes ride cachedQuantized (measured warm 3)
      ("q_sim_cosine_quantized", 5))
    for ((q, cap) <- pins) {
      val j = warmJobs(q)
      assert(j <= cap, s"$q warm ran $j jobs (> $cap)")
    }
  }
}
