package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.iter.Graphs

/** SURVEY.md §5 tier 2 — the reference's own validation idea as laws
  * (incremental == full recomputation [P §7]) plus sketch/cluster
  * invariants for the oracle-less queries. Runs on sf0.001. */
class InvariantSpec extends SparkSpecBase {

  test("incrMerge(base, delta) == full recomputation (the [P §3] law)") {
    val merged = SparkEntry.queries("q_incr_delta_merge")(spark, sfDir).collect()
    // full recompute: all events minus the deleted subset
    val ev = Tables.events(spark, sfDir)
    val cut = lit("2024-01-20").cast("timestamp")
    val expected = ev.filter(!(col("ts") < cut && col("event_id") % 7 === 0))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect()
    assert(merged.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      expected.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("minhash-LSH pairs are a subset of exact pairs, with recall on high-J pairs") {
    val exact = SparkEntry.queries("q_sim_jaccard_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lsh = SparkEntry.queries("q_dedup_minhash")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map(t => (t._1, t._2)).toSet
    assert(lsh.subsetOf(exactPairs), "LSH output must be exactly verified")
    // recall on strongly-similar pairs (J >= 0.8): 8 bands x 4 rows
    // gives per-pair detection prob 1-(1-0.8^4)^8 ≈ 0.985
    val strong = exact.filter(t => 10 * t._3 >= 8 * t._4).map(t => (t._1, t._2))
    if (strong.nonEmpty) {
      val recall = strong.count(lsh.contains).toDouble / strong.size
      assert(recall >= 0.8, s"recall on J>=0.8 pairs was $recall")
    }
  }

  test("kmeans clusters partition the input") {
    val out = SparkEntry.queries("q_iter_kmeans")(spark, sfDir).collect()
    val total = Tables.embeddings(spark, sfDir).count()
    assert(out.map(_.getAs[Long]("n")).sum == total)
    assert(out.length <= 10)
    val clusters = out.map(_.getAs[Int]("cluster"))
    assert(clusters.distinct.length == clusters.length)
  }

  test("pagerank conserves rank mass (symmetric graph, no dangling)") {
    val pr = SparkEntry.queries("q_iter_pagerank")(spark, sfDir)
    val n = Graphs.nodes(Graphs.edges(spark, sfDir)).count()
    val mass = pr.agg(sum("rs")).head().getLong(0)
    val ideal = n * 10000000000L
    assert(math.abs(mass - ideal).toDouble / ideal < 0.02,
      s"mass $mass vs ideal $ideal")
  }

  test("incremental pagerank differs from base after edge delta") {
    val base = SparkEntry.queries("q_iter_pagerank")(spark, sfDir)
      .select("node", "rs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incr = SparkEntry.queries("q_incr_iter_converge")(spark, sfDir)
      .select("node", "rs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base.keySet == incr.keySet)
    assert(base != incr, "edge delta must perturb some ranks")
  }

  test("approx_percentile brackets the exact per-group percentiles") {
    val approx = SparkEntry.queries("q_agg_approx_percentile")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.expr("percentile(l_quantity, 0.5)").as("p50"),
        org.apache.spark.sql.functions.expr("percentile(l_quantity, 0.9)").as("p90"),
        org.apache.spark.sql.functions.expr("max(l_quantity) - min(l_quantity)").as("range"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    exact.foreach { case (k, (p50, p90, range)) =>
      val (a50, a90) = approx(k)
      assert(math.abs(a50 - p50) <= 0.05 * range + 1e-9, s"$k p50: $a50 vs $p50")
      assert(math.abs(a90 - p90) <= 0.05 * range + 1e-9, s"$k p90: $a90 vs $p90")
    }
  }

  test("approx_count_distinct within 10% of exact") {
    val approx = SparkEntry.queries("q_agg_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").agg(countDistinct(col("l_partkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e).toDouble / e < 0.1,
        s"$k: approx ${approx(k)} vs exact $e")
    }
  }
}
