package graft.iter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Query, Memos}
import graft.engine.Tables._
import graft.incr.Delta

/** §2 row 44 — K-means (paper workload [P §7]). k=10, FIXED 3
  * iterations, centroids seeded from vec_id 0..9. oracle=none: 64-dim
  * float mean recomputation is FP-order-sensitive, so correctness is
  * ScalaTest invariants (cost non-increasing, partition of the input,
  * seed stability) instead of a DuckDB hash.
  *
  * Scale shape: centroids (k×64 doubles) broadcast to executors — the
  * only driver-side data; assignment is a map-only pass; centroid
  * recomputation is one groupBy(cluster, dim) over posexploded rows
  * (k*64 groups). No cross join, no collect of the vectors. */
object KMeans {

  /** Reference UDF assignment — the codegen expression's bit-equality
    * baseline (`Round6Spec`); not on the hot path anymore. */
  private[graft] def assignUdf(s: SparkSession, cents: Array[Array[Double]]) = {
    val bc = s.sparkContext.broadcast(cents)
    udf { (emb: Seq[Float]) =>
      val cs = bc.value
      var best = 0; var bd = Double.MaxValue; var ci = 0
      while (ci < cs.length) {
        val c = cs(ci); var d2 = 0.0; var i = 0
        while (i < c.length) {
          val diff = emb(i) - c(i); d2 += diff * diff; i += 1
        }
        if (d2 < bd) { bd = d2; best = ci } // strict < keeps lowest id on tie
        ci += 1
      }
      best
    }
  }

  /** Assign each vector to its nearest of `cents`; returns (vec_id,
    * embedding, cluster). Nearest-centroid search runs as the native
    * codegen expression [[graft.functions.FloatL2Argmin]] — same IEEE
    * op sequence and tie-break as [[assignUdf]], bit-identical
    * assignments, no per-row Seq boxing/serialization. */
  def assign(s: SparkSession, vecs: DataFrame,
             cents: Array[Array[Double]]): DataFrame =
    vecs.withColumn("cluster",
      graft.functions.FloatL2Argmin.float_l2_argmin(col("embedding"), cents))

  def run(s: SparkSession, d: String, k: Int = 10, iters: Int = 3): DataFrame =
    runOn(s, embeddings(s, d).select(col("vec_id"), col("embedding")), k, iters)

  def runOn(s: SparkSession, vecs: DataFrame,
            k: Int = 10, iters: Int = 3): DataFrame = {
    // Seed from the first k rows by vec_id — works for ANY caller-
    // supplied id space (the fixture's 0..k-1 included) — and fail
    // fast if the input has fewer than k vectors, instead of silently
    // collapsing every row into cluster 0.
    var cents: Array[Array[Double]] = vecs
      .orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(cents.length == k,
      s"kmeans: need >= $k input vectors, got ${cents.length}")
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = assign(s, vecs, cents)
      cents = assigned
        .select(col("cluster"), posexplode(col("embedding")))
        .groupBy("cluster", "pos").agg(avg(col("col")).as("m"))
        .collect()
        .groupBy(_.getInt(0)).toArray.sortBy(_._1)
        .map(_._2.sortBy(_.getInt(1)).map(_.getDouble(2)))
    }
    assigned
  }

  /** K-means to CONVERGENCE — the [[IterQueries.iterateUntil]]
    * instantiation [P §4]: the loop state is the centroid table
    * (k·dims rows keyed as node = cluster·dims + pos, so the shared
    * L∞ distance applies), and the loop stops when the largest
    * per-dimension centroid move is <= eps. Centroid collect() is
    * k·dims rows — the same k-sized driver constant the fixed loop
    * broadcasts. Returns (assignment under the converged centroids,
    * iterations run). Assumes no cluster empties out (true for
    * data-seeded centroids; an empty cluster would need re-seeding). */
  def runUntil(s: SparkSession, vecs: DataFrame, k: Int, eps: Double,
               maxIter: Int): (DataFrame, Int) = {
    val seed = vecs.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(seed.length == k, s"kmeans: need >= $k input vectors")
    val (assigned, iters, _) = runUntilFrom(s, vecs, seed, eps, maxIter)
    (assigned, iters)
  }

  /** K-means to convergence from a CALLER-SUPPLIED centroid seed —
    * the warm-restart entry behind [[runIncremental]]. Returns
    * (assignment, iterations run, converged centroids): callers keep
    * the centroids as the preserved state for the NEXT delta. */
  def runUntilFrom(s: SparkSession, vecs: DataFrame,
                   seed: Array[Array[Double]], eps: Double,
                   maxIter: Int): (DataFrame, Int, Array[Array[Double]]) = {
    val k = seed.length
    val dims = seed.head.length
    // The loop state is k·dims doubles BY CONSTRUCTION — never
    // data-sized — and every round must ship it to the executors as a
    // broadcast anyway, so it lives on the DRIVER: convergence is
    // checked driver-side for free. The Lloyd ROUNDS run on a cached
    // RDD[Array[Float]] via one treeAggregate job per round (the
    // MLlib KMeans shape): per-partition argmin + (sum, count)
    // accumulation into k·dims doubles, combined driver-side. A round
    // is therefore one shuffle-free job on decoded primitives —
    // measured 5× cheaper per round than re-planning a fresh
    // assign→posexplode→groupBy DataFrame each round (~150 ms of
    // Catalyst analysis/codegen per round at sf0.1, ~30 ms here).
    // This is genuine per-partition imperative logic: the plan is
    // identical every round, only the broadcast centroids change, so
    // Catalyst has nothing to optimize round-over-round. The FINAL
    // assignment still runs through [[assign]]'s codegen expression —
    // the argmin op sequence below matches it exactly (double
    // accumulation, strict-< lowest-id tie-break), so the returned
    // assignment is the same one the rounds converged under.
    val rdd = vecs.select(col("embedding")).rdd
      .map(_.getSeq[Float](0).toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def step(cents: Array[Array[Double]]): Array[Array[Double]] = {
      val bc = s.sparkContext.broadcast(cents)
      val zero = (Array.ofDim[Double](k * dims), new Array[Long](k))
      val (sums, counts) = rdd.treeAggregate(zero)(
        seqOp = { case ((sm, ct), v) =>
          val cs = bc.value
          var best = 0; var bd = Double.MaxValue; var ci = 0
          while (ci < cs.length) {
            val c = cs(ci); var d2 = 0.0; var i = 0
            while (i < dims) {
              val diff = v(i) - c(i); d2 += diff * diff; i += 1
            }
            if (d2 < bd) { bd = d2; best = ci } // strict < == assign()'s tie-break
            ci += 1
          }
          var i = 0
          while (i < dims) { sm(best * dims + i) += v(i); i += 1 }
          ct(best) += 1L
          (sm, ct)
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var i = 0
          while (i < s1.length) { s1(i) += s2(i); i += 1 }
          var j = 0
          while (j < k) { c1(j) += c2(j); j += 1 }
          (s1, c1)
        })
      bc.destroy()
      Array.tabulate(k) { ci =>
        require(counts(ci) > 0L, "kmeans: a cluster emptied out")
        Array.tabulate(dims)(p => sums(ci * dims + p) / counts(ci))
      }
    }
    var cents = seed
    var i = 0
    var converged = false
    try {
      while (i < maxIter && !converged) {
        val next = step(cents)
        i += 1
        var d = 0.0
        var ci = 0
        while (ci < k) {
          var p = 0
          while (p < dims) {
            val diff = math.abs(next(ci)(p) - cents(ci)(p))
            if (diff > d) d = diff
            p += 1
          }
          ci += 1
        }
        converged = d <= eps
        cents = next
      }
    } finally rdd.unpersist(blocking = false)
    (assign(s, vecs, cents), i, cents)
  }

  /** INCREMENTAL K-means [P §6-7] — the paper applies its incremental-
    * iterative machinery to k-means: after a point delta, RESTART from
    * the previous run's converged centroids (the preserved state —
    * k×dims doubles, trivially persistable) instead of re-seeding from
    * data. Prior centroids already sit near the new optimum when the
    * delta is small relative to the corpus, so convergence takes fewer
    * assignment/recompute rounds than a cold start — the k-means
    * analogue of what q48/q101/q104 do for graph state. `Round5Spec`
    * proves fewer-iterations-than-cold on the fixture plus the fixed-
    * point invariant (restarting from the converged centroids stops
    * after one round). The delta is fully SIGNED [P §3]: centroids
    * are recomputed from whatever corpus is passed (the state is a
    * mean, not an additive sketch), so deletions need no special
    * machinery — pass the post-delta corpus; `Round8Spec` proves the
    * warm restart still beats a cold re-seed under insert+delete.
    * Like [[runUntil]], oracle=none by design: FP-order-sensitive
    * means. */
  def runIncremental(s: SparkSession, vecsWithDelta: DataFrame,
                     prevCentroids: Array[Array[Double]], eps: Double,
                     maxIter: Int): (DataFrame, Int, Array[Array[Double]]) =
    runUntilFrom(s, vecsWithDelta, prevCentroids, eps, maxIter)

  /** A centroid model as rows (cluster, centroid: array<double>) —
    * the one stored encoding of centroids (the k-means warm restart's
    * preserved state and the IVF index's model), committed through
    * [[graft.incr.StateStore]]. Parquet keeps IEEE doubles verbatim,
    * so [[centroidsOf]] in a NEW session returns bit-identical arrays
    * and `runIncremental` from them is exactly the in-session warm
    * restart — `Round6Spec` proves it across two sessions. */
  def centroidRows(s: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1) // k rows — one footer beats a file per task
  }

  /** Centroids back from [[centroidRows]]' encoding, in cluster order. */
  def centroidsOf(rows: DataFrame): Array[Array[Double]] =
    rows.orderBy("cluster").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)

  // oracle=none by design
  val queries: Seq[Query] = Seq(
    Query("q_iter_kmeans")((s, d) => {
      val vecs = embeddings(s, d).select(col("vec_id"), col("embedding")).persist()
      val out = runOn(s, vecs)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
        .orderBy("cluster")
      IterQueries.finish(out, vecs)
    }),

    /** q154: INCREMENTAL K-MEANS under a SIGNED point delta [P §6-7]
      * as a declared query — the last paper workload's incremental
      * path under the driver's eye. The STORED model is the converged
      * base-corpus centroids (vec_id % 10 <> 0, eps=1e-4 — memoized
      * here, a `StateStore` commit of `KMeans.centroidRows` in production); each
      * invocation warm-restarts `KMeans.runIncremental` on the
      * POST-delta corpus (insert % 10 == 0, delete % 10 == 1 — the
      * signed-delta convention) from those centroids and reports the
      * per-cluster assignment summary. Deletion needs no special
      * machinery: centroids are means recomputed from whatever corpus
      * is passed, so the '-' half is just the corpus filter.
      * oracle=none (FP-order-sensitive means, like q44); `Round9Spec`
      * pins the output to the library chain run directly and
      * `Round8Spec` proves warm-beats-cold + the fixed-point
      * invariant for the same signed delta. */
    Query("q_iter_kmeans_incr")((s, d) => {
      val delta = Delta.tenWay(
        embeddings(s, d).select(col("vec_id"), col("embedding")), "vec_id")
      val post = delta.post.persist()
      // the STORED centroid model (converged base-corpus centroids —
      // production commits them through `incr.StateStore` / reads
      // them back, `Round6Spec` proves that round-trip bit-exact): k×dims
      // doubles per (session, dir), so repeated invocations measure the
      // warm restart itself, not the base convergence
      val baseCents = Memos.value(s, d, "kmeans/baseCents") {
        val base = delta.base.persist()
        val seed = base.orderBy("vec_id").limit(10).collect()
          .map(_.getSeq[Float](1).map(_.toDouble).toArray)
        val cents = graft.iter.KMeans
          .runUntilFrom(s, base, seed, 1e-4, 60)._3
        base.unpersist(blocking = false)
        cents
      }
      val (assigned, _, _) = graft.iter.KMeans
        .runIncremental(s, post, baseCents, 1e-4, 60)
      val out = assigned.groupBy("cluster")
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
        .orderBy("cluster")
      graft.iter.IterQueries.finish(out, post)
    })
  )
}
