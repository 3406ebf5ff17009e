package graft

import graft.engine.Memos

/** Warm job ledger of the incremental rows: the Spark jobs each row's
  * second call starts at sf0.001 on local[4], from cleared memos. Most
  * rows maintain their state through `graft.incr.Maintain`, the signed
  * rule or the touched-group rule; the rest apply their delta with a
  * row-specific rule (an associative merge, a MERGE, a stored index or
  * model, a layout rewrite). Job counts are deterministic, so the
  * pins are exact: a row above its pin regained work (a memo that stopped
  * hitting, an extra exchange or action), a row below it should have its
  * pin lowered. */
class IncrLedgerSpec extends SparkSpecBase {

  private val ledger: Seq[(String, Int)] = Seq(
    // signed rule
    "q_incr_delta_merge" -> 1,
    "q_incr_restart" -> 6,
    "q_incr_wordcount" -> 4,
    "q_incr_profile" -> 5,
    "q_incr_median" -> 7,
    "q_incr_quality" -> 5,
    "q_incr_diversity" -> 4,
    "q_incr_tfidf_delete" -> 8,
    "q_incr_view_update" -> 8,
    "q_incr_join_view_delete" -> 7,
    "q_incr_linreg" -> 3,
    "q_incr_chisq" -> 5,
    "q_incr_apriori" -> 8,
    "q_incr_apriori_delete" -> 11,
    "q_incr_mrbg" -> 3,
    // touched-group rule
    "q_incr_sessionize" -> 5,
    "q_incr_sessionize_delete" -> 5,
    "q_incr_scd2_delete" -> 5,
    "q_incr_ewma" -> 5,
    "q_incr_softdedup" -> 5,
    "q_incr_bitmap_distinct" -> 5,
    "q_incr_dau_wau" -> 10,
    "q_incr_chunks" -> 7,
    "q_incr_streaks" -> 6,
    "q_incr_resample" -> 7,
    "q_incr_pattern" -> 5,
    "q_incr_anomaly_sigma" -> 7,
    "q_incr_rfm" -> 6,
    "q_incr_attribution" -> 6,
    "q_incr_lifecycle" -> 7,
    // row-specific rules
    "q_dedup_simhash_incr" -> 16,
    "q_incr_band" -> 15,
    "q_incr_contamination" -> 5,
    "q_incr_dedup_delete" -> 11,
    "q_incr_dedup_exact" -> 3,
    "q_incr_heavy_hitters" -> 5,
    "q_incr_heavy_hitters_delete" -> 4,
    "q_incr_join_view" -> 6,
    "q_incr_merge_into" -> 5,
    "q_incr_merge_partitioned" -> 1,
    "q_incr_pathing" -> 7,
    "q_incr_pipeline_clean_delete" -> 15,
    "q_incr_scd2" -> 4,
    "q_incr_snapshot_diff" -> 3,
    "q_incr_tfidf" -> 5,
    "q_incr_upsert_latest" -> 4,
    "q_incr_zorder" -> 5,
    "q_iter_kmeans_incr" -> 11,
    "q_sim_ann_ivf_incr" -> 12)

  test("warm job ledger of the incremental rows") {
    Memos.clearAll()
    val measured = ledger.map { case (q, _) =>
      val run = SparkEntry.queries(q)
      run(spark, sfDir).collect()
      q -> jobsOf(run(spark, sfDir).collect())._2
    }
    val off = ledger.zip(measured).collect {
      case ((q, pin), (_, got)) if got != pin => s"$q: $got warm jobs, pinned $pin"
    }
    assert(off.isEmpty, off.mkString("\n", "\n", ""))
  }
}
