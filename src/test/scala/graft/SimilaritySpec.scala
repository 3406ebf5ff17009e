package graft

import graft.text.Similarity

/** IVF-bucketed ANN vs the exact brute-force baseline. */
class SimilaritySpec extends SparkSpecBase {

  test("IVF top-k is exact within its probed clusters and overlaps brute force") {
    val exact = SparkEntry.queries("q_sim_topk_cosine")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(spark, sfDir, nprobe = 3)
      .collect().map(_.getLong(0))
    assert(ivf.length == 10)
    val recall = ivf.count(exact).toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low for nprobe=3")
    // widening the probe to all clusters recovers brute force exactly
    val full = Similarity.ivfTopK(spark, sfDir, nprobe = 10)
      .collect().map(_.getLong(0)).toSet
    assert(full == exact, "nprobe=k must equal brute force")
  }

  import org.apache.spark.sql.functions._

  private def fixtureVecs = graft.engine.Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding")).localCheckpoint()

  test("ivfIndex defaults to ~sqrt(n) centroids and partitions the corpus") {
    val vecs = fixtureVecs
    val n = vecs.count()
    val (indexed, cents) = Similarity.ivfIndex(spark, vecs)
    assert(cents.length === math.ceil(math.sqrt(n.toDouble)).toInt)
    assert(indexed.count() === n) // assignment is total
    assert(indexed.agg(max("cluster")).head().getInt(0) < cents.length)
  }

  test("batch IVF search: recall at k=32, chunking invariance, nprobe=k exact") {
    val vecs = fixtureVecs
    val (indexed, cents) = Similarity.ivfIndex(spark, vecs)
    val indexedM = indexed.localCheckpoint()
    val probes = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val k = cents.length
    // recall vs brute force at topK=32, nprobe = k/4
    val dot = graft.functions.FloatDot.float_dot _
    val bruteAll = vecs.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (dot(col("embedding"), col("probe")) /
          (sqrt(dot(col("embedding"), col("embedding")))
            * sqrt(dot(col("probe"), col("probe"))))).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    val brute32 = bruteAll.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 32)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf32 = Similarity
      .ivfSearchBatch(spark, indexedM, cents, probes, k / 4, 32)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf32 & brute32).size.toDouble / brute32.size
    assert(recall >= 0.4, s"batch IVF recall $recall too low at nprobe=k/4")
    // chunkSize=2 (3 chunks for 5 probes) must not change the result
    val chunked = Similarity
      .ivfSearchBatch(spark, indexedM, cents, probes, k / 4, 32, chunkSize = 2)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(chunked === ivf32, "chunking must be result-invisible")
    // nprobe = k searches everything -> exactly brute force
    val all = Similarity.ivfSearchBatch(spark, indexedM, cents, probes, k, 32)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all === brute32, "nprobe=k must equal brute force")
  }
}
