package graft

import org.apache.spark.sql.functions._

/** Round-18 OPTIMIZATION pins — the warm job-count evidence for the
  * rows the optimization round compacted (the Round17Spec q136/q139
  * discipline: every job launch multiplies under ambient host bursts,
  * so the job profile IS the optimization and the pin guards it).
  *
  *   - q_incr_cc_delete: the confined component recompute rides the
  *     costed collapse selector (28 warm jobs before, ~10 after).
  *   - q_apriori_triples: the expansion alphabet is session-memoized
  *     structure (16 before, ~11 after).
  *   - q_graph_cc_lineitem: the distributed collapse's identity
  *     round 1 runs without the two node-count-sized broadcast
  *     builds (18 before, ~17 after — the win is mostly the removed
  *     1.2M-row collect+broadcast pair, which jobs alone undercount).
  *   - q_dedup_minhash: token + doc-set structures ride session
  *     memos (19 before, ~17 after).
  *
  * Pins carry one-broadcast headroom over the measured warm counts;
  * a regression past them means a memo stopped hitting or a loop
  * regained per-round actions — check those first (r17 lesson). */
class Round18dSpec extends SparkSpecBase {

  private def warmJobs(name: String): Int =
    jobsOf(SparkEntry.queries(name)(spark, sfDir).count())._2

  test("r18 optimization warm job-count pins") {
    for (q <- Seq("q_incr_cc_delete", "q_apriori_triples",
        "q_graph_cc_lineitem", "q_dedup_minhash"))
      SparkEntry.queries(q)(spark, sfDir).count() // warm memos
    val pins = Seq(
      ("q_incr_cc_delete", 14),
      ("q_apriori_triples", 14),
      ("q_graph_cc_lineitem", 20),
      ("q_dedup_minhash", 20))
    for ((q, cap) <- pins) {
      val j = warmJobs(q)
      assert(j <= cap, s"$q warm ran $j jobs (> $cap)")
    }
  }

  test("identity round-1 specialization == generic distributed round on foreign-src edges") {
    // The r17 ADVICE divergence case: an edge src NOT in `nodes`.
    // After the r18 round-1 specialization BOTH arms let a foreign
    // src offer its identity label in round 1 (the local arm always
    // did); this pins the two arms AGREEING on such inputs — the
    // contract (endpoints ⊆ nodes) still holds for every product
    // caller, but the selector can no longer flip results on inputs
    // that violate it.
    import spark.implicits._
    // 99 (foreign, larger than every node) must not move anything;
    // 0 (foreign, smaller) must inject and propagate identically
    val edges = Seq((99L, 1L), (0L, 2L), (1L, 2L), (2L, 3L))
      .toDF("src", "dst").localCheckpoint()
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (iters <- 1 to 3) {
      val local = rows(graft.iter.IterQueries
        .minLabelCollapseLocal(edges, nodes, iters))
      val dist = rows(graft.iter.IterQueries
        .minLabelCollapseLocal(edges, nodes, iters, localCap = 0L))
      assert(local == dist,
        s"iters=$iters: arms diverged on a foreign-src edge list")
    }
  }
}
