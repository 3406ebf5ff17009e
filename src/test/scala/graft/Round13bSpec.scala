package graft

import org.apache.spark.sql.functions._
import graft.text.Dedup

/** Round-13 specs, part 2: the generalized occupancy-costed pair
  * source (VERDICT r12 next step 4 — [[Dedup.guardedInterPairs]])
  * behind q65 (shingle Jaccard), q109 (containment) and q175
  * (graph-neighbor Jaccard). Pins:
  *  - the fixture decision is `exact` for all three declared rows
  *    (so the oracle hash covers the selector, via the plan column);
  *  - the capped branch is SOUND: output ⊆ exact output, and every
  *    emitted pair carries the exact inter/sz values (capping bounds
  *    recall, never values);
  *  - the decision flips at the volume cap, and the capped branch
  *    retains full recall whenever every key is under the key cap.
  */
class Round13bSpec extends SparkSpecBase {

  import spark.implicits._

  test("q65/q109/q175 declare plan=exact on the fixture") {
    for (q <- Seq("q_sim_shingle_jaccard", "q_text_containment",
                  "q_graph_jaccard_neighbors")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val plans = df.select("plan").distinct().as[String].collect().toSet
      assert(plans == Set("exact"), s"$q plans=$plans")
      assert(df.count() > 0, s"$q empty")
    }
  }

  /** A corpus with one hot key (df = n) plus per-doc discriminating
    * keys — the boilerplate-token shape the guard exists for. */
  private def hotRel(n: Int) = {
    val rows = (1 to n).flatMap { i =>
      Seq((i.toLong, "hot")) ++
        Seq((i.toLong, s"k${i % 7}"), (i.toLong, s"k${(i + 3) % 7}"))
    }.distinct
    rows.toDF("doc_id", "tok")
  }

  test("guard flips exact→capped at the volume cap; capped ⊆ exact " +
      "with identical values on emitted pairs") {
    val rel = hotRel(40)
    val (p1, exact) = Dedup.guardedInterPairs(rel, "tok", "doc_id",
      volumeCap = 1000000L)
    assert(p1 == "exact")
    val (p2, capped) = Dedup.guardedInterPairs(rel, "tok", "doc_id",
      volumeCap = 10L, keyCap = 8)
    assert(p2 == "capped")
    val e = exact.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val c = capped.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(c.nonEmpty && c.size < e.size) // hot-only pairs were dropped
    c.foreach { case (k, v) =>
      assert(e(k) == v, s"pair $k capped=$v exact=${e(k)}")
    }
  }

  test("capped branch's ADAPTIVE key cap bounds post-cap candidate " +
      "volume by the volume cap (r13 sf1 finding: a fixed per-key cap " +
      "admits unbounded volume on small key spaces)") {
    val rel = hotRel(60)
    val (vol, nKeys) = Dedup.pairStats(rel, "tok")
    val volumeCap = 4000L
    assert(vol > volumeCap, s"fixture must force the capped branch ($vol)")
    val k = Dedup.adaptiveKeyCap(volumeCap, 4096, nKeys)
    // the internal cap is the tested formula...
    assert(k == math.sqrt(volumeCap.toDouble / nKeys).toLong.toInt)
    // ...and it bounds the post-cap candidate volume by the cap
    val post = rel.groupBy("tok").count()
      .select(least(col("count"), lit(k.toLong)).as("c"))
      .agg(sum(col("c") * col("c"))).as[Long].head()
    assert(post <= volumeCap, s"post-cap volume $post > cap $volumeCap")
    // soundness still holds: capped ⊆ exact with identical values
    val (_, exact) = Dedup.guardedInterPairs(rel, "tok", "doc_id",
      volumeCap = 1000000L)
    val (p, capped) = Dedup.guardedInterPairs(rel, "tok", "doc_id",
      volumeCap = volumeCap)
    assert(p == "capped")
    assert(capped.exceptAll(exact).count() == 0)
  }

  test("q_sim_setjoin_dedup: representative pairs × cluster sizes ≡ " +
      "the full τ-join's cross-cluster pair share (dedup-first loses " +
      "nothing)") {
    val full = SparkEntry.queries("q_sim_setjoin_prefix")(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dd = SparkEntry.queries("q_sim_setjoin_dedup")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(6)).toMap
    // doc -> its md5-cluster representative (min doc_id), clone counts
    val docs = graft.engine.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val rep: Map[Long, Long] = docs.groupBy(_._2).iterator.flatMap {
      case (_, ms) =>
        val r = ms.map(_._1).min
        ms.iterator.map(m => m._1 -> r)
    }.toMap
    // cross-cluster share of the FULL join, keyed by (rep_a, rep_b)
    val cross: Map[(Long, Long), Long] = full.toSeq
      .map { case (a, b) => (rep(a), rep(b)) }
      .filter { case (ra, rb) => ra != rb }
      .map { case (ra, rb) => (math.min(ra, rb), math.max(ra, rb)) }
      .groupBy(x => x).map { case (k, v) => k -> v.size.toLong }
    assert(cross == dd.map { case (k, v) => k -> v },
      s"expansion mismatch: full-join cross share $cross vs dedup rows $dd")
    // The fixture's %2 half happens to carry NO exact-dup clusters
    // (measured: every md5 cluster is a singleton at both oracle
    // SFs), so the multi-doc expansion is exercised on a synthetic
    // clone corpus: 3 texts × {3, 2, 1} clones, where both cross-
    // cluster pairs qualify at τ = 1/2.
    val clones = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c d"),
      (10L, "a b c e"), (11L, "a b c e"),
      (20L, "a b c d e")).toDF("doc_id", "text")
    val got = graft.text.Similarity
      .dedupFirstJaccardPairs(clones, "doc_id", "text", 1, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // reps: 1 (n=3), 10 (n=2), 20 (n=1); J(1,10)=3/5, J(1,20)=4/5,
    // J(10,20)=4/5 — all ≥ 1/2
    assert(got == Map(
      (1L, 10L) -> (3L, 2L, 6L),
      (1L, 20L) -> (3L, 1L, 3L),
      (10L, 20L) -> (2L, 1L, 2L)), s"synthetic expansion wrong: $got")
    // and the expansion matches the brute-force full join's
    // cross-cluster count: 3·2 + 3·1 + 2·1 = 11
    assert(got.values.map(_._3).sum == 11L)
  }

  test("pairVolume is the exact self-join cardinality; empty and " +
      "singleton relations cost 0/1") {
    val rel = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "tok")
    assert(Dedup.pairVolume(rel, "tok") == 4L + 1L)
    assert(Dedup.pairVolume(rel.filter(lit(false)), "tok") == 0L)
    assert(Dedup.pairVolume(rel.filter(col("tok") === "b"), "tok") == 1L)
  }

  test("capPerKey keeps the cap smallest ids per key, deterministic") {
    val rel = Seq((5L, "a"), (1L, "a"), (3L, "a"), (2L, "b"))
      .toDF("doc_id", "tok")
    val got = Dedup.capPerKey(rel, "tok", "doc_id", 2)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (3L, "a"), (2L, "b")))
  }
}
