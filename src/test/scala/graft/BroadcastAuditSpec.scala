package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import graft.text.Dedup

/** VERDICT r13 task 2 — the broadcast-hint audit, pinned mechanically.
  *
  * Every `broadcast()` whose side derives from a FACT table either
  * got bounded (semi-join to a candidate/key set + hint dropped, so
  * AQE decides from runtime sizes) or survives with a size invariant
  * in its scaladoc. The full audit table lives in ops/README.md; this
  * spec pins each audited site's plan so drift is a test failure:
  *
  *  - Dedup.verifyPairsLazy — FIXED: semi-pruned + hint-free;
  *  - Dedup.cappedVerify    — FIXED (task 1): see DedupPlanSpec;
  *  - Similarity.dedupFirstJaccardPairs — FIXED: hint-free;
  *  - Dedup.exactPairs — SURVIVOR: 2 hints, side ≤ volumeCap rows by
  *    the autoPairs gate invariant (|docs| ≤ Σdf ≤ Σdf² ≤ cap);
  *  - Dedup.cachedSubsetInter — SURVIVOR: declared bounded-subset
  *    oracle baseline, built once per session (plan hidden behind its
  *    checkpoint, so documented rather than pinned);
  *  - Round8 lshPairsIncr pa/pb — PINNED SELECTOR since r15 (was a
  *    SURVIVOR on r13 A/B evidence): hinted whole-relation broadcast
  *    at/below ProbeTokenCap (the A/B winner at fixture scale),
  *    semi-pruned to candidate endpoints + hint-free above it. */
class BroadcastAuditSpec extends SparkSpecBase {

  import spark.implicits._

  private def hints(df: DataFrame): Seq[ResolvedHint] =
    df.queryExecution.analyzed.collect { case h: ResolvedHint => h }

  test("verifyPairsLazy: hint-free, stored doc-set relation semi-pruned " +
      "to candidate ids") {
    val toks = Dedup.subsetTokens(spark, sfDir)
    val sets = Dedup.docSets(toks)
    val cands = Seq((0L, 5L), (5L, 10L)).toDF("doc_a", "doc_b")
    val v = Dedup.verifyPairsLazy(cands, sets)
    assert(hints(v).isEmpty,
      s"verify must not hint-broadcast the doc-set relation: ${hints(v)}")
    assert(v.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "doc-set relation must be semi-pruned to candidate ids")
  }

  test("dedupFirstJaccardPairs: hint-free (the reps relation " +
      "degenerates to |docs| on a clone-free corpus)") {
    val docs = graft.engine.Tables.documents(spark, sfDir)
    val df = graft.text.Similarity
      .dedupFirstJaccardPairs(docs, "doc_id", "text", 1, 2)
    assert(hints(df).isEmpty, s"${hints(df)}")
  }

  test("exactPairs: exactly the two declared size-capped hints survive") {
    val toks = Dedup.subsetTokens(spark, sfDir)
    assert(hints(Dedup.exactPairs(toks)).size == 2)
  }

  test("lshVerdictJoin selector: hinted whole-relation probes below " +
      "the cap, semi-pruned hint-free above, identical results") {
    // (0,0) is a guaranteed Jaccard-1 pass so the equality check is
    // never vacuously empty; the others exercise real verdicts
    val cands = Seq((0L, 0L), (0L, 5L), (5L, 10L), (0L, 10L))
      .toDF("doc_a", "doc_b")
    // below the cap (forced): kg + pa + pb all hinted
    val (hintedF, s1) = graft.text.Dedup
      .lshVerdictJoin(spark, sfDir, cands, Long.MaxValue)
    assert(hints(hintedF).size == 3,
      s"expected 3 hints (kg, pa, pb) below the cap: ${hints(hintedF).size}")
    // above the cap (forced): only the near-dup-bounded kg hint
    // survives; the doc-set relation is semi-pruned to endpoints
    val (semiF, s2) = graft.text.Dedup
      .lshVerdictJoin(spark, sfDir, cands, -1L)
    assert(hints(semiF).size == 1,
      s"expected only the kg hint above the cap: ${hints(semiF).size}")
    assert(semiF.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "doc-set probes must be semi-pruned to candidate endpoints")
    // the selector is result-invisible
    val a = hintedF.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    val b = semiF.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    assert(a.toSeq == b.toSeq, "selector branches diverged")
    assert(a.nonEmpty, "equality check was vacuous")
    (s1 ++ s2).foreach(_.unpersist(blocking = false))
  }
}
