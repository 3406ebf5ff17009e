package graft

import graft.engine.Memos

/** Warm job ledger of the incremental rows: the Spark jobs each row's
  * second call starts at sf0.001 on local[4], from cleared memos. Every
  * row maintains its state through `graft.incr.Maintain`, the signed
  * rule or the touched-group rule. Job counts are deterministic, so the
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
    "q_incr_lifecycle" -> 7)

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
