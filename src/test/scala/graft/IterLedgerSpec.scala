package graft

import graft.engine.Memos

/** Job ledger of the iterative rows: the Spark jobs each row's first
  * call starts from cleared memos (cold: it builds the structure data
  * and the stored state) and its second call starts (warm: it serves
  * or re-runs only what is not stored), at sf0.001 on local[4]. Every
  * row runs its loop through `graft.iter.Loop`: the fixed-count
  * driver, the scaled-integer PageRank format, the min-propagation
  * start state or the pair-graph collapse. Job counts are
  * deterministic, so the pins are exact: a row above its pin regained
  * work (a memo that stopped hitting, an extra action or a lost lazy
  * checkpoint), a row below it should have its pin lowered. */
class IterLedgerSpec extends SparkSpecBase {

  /** row -> (cold jobs, warm jobs) */
  private val ledger: Seq[(String, (Int, Int))] = Seq(
    "q_graph_cc_lineitem" -> (10, 3),
    "q_iter_pagerank" -> (12, 3),
    "q_incr_iter_converge" -> (19, 8),
    "q_iter_sssp" -> (16, 3),
    "q_incr_frontier" -> (32, 3),
    "q_gimv_pagerank" -> (17, 3),
    "q_incr_sssp_delete" -> (34, 3),
    "q_iter_connected_components" -> (15, 3),
    "q_iter_ppr" -> (18, 3),
    "q_gimv_cc" -> (16, 3),
    "q_gimv_sssp" -> (17, 3),
    "q_incr_cc_delete" -> (41, 10),
    "q_incr_cc_frontier" -> (31, 3),
    "q_incr_mrbg" -> (32, 3),
    "q_dedup_groups" -> (21, 4),
    "q_dedup_groups_converged" -> (21, 4),
    "q_dedup_multimodal_groups" -> (24, 2),
    "q_dedup_embedding_groups" -> (9, 2),
    "q_dedup_groups_lsh" -> (27, 2),
    "q_dedup_groups_lsh_incr" -> (25, 9))

  test("cold and warm job ledger of the iterative rows") {
    val measured = ledger.map { case (q, _) =>
      val run = SparkEntry.queries(q)
      Memos.clearAll()
      val cold = jobsOf(run(spark, sfDir).collect())._2
      q -> (cold, jobsOf(run(spark, sfDir).collect())._2)
    }
    val off = ledger.zip(measured).collect {
      case ((q, pin), (_, got)) if got != pin =>
        s"$q: (cold, warm) = $got, pinned $pin"
    }
    assert(off.isEmpty, off.mkString("\n", "\n", ""))
  }
}
