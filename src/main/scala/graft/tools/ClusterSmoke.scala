package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MULTI-PROCESS smoke tier (VERDICT r13 task 3): the whole declared
  * registry, the de-corpused capped verify, the TopK custom operator
  * and the Fenwick sweep, executed under `local-cluster[2,2,2048]` —
  * REAL executor JVMs, real closure/row serialization, real broadcast
  * transport and the real 8 GB relation ceiling machinery, none of
  * which local[n] (threads, one JVM) ever exercises. This is the
  * cheapest way to convert "works in local mode" into "survives a
  * cluster": any operator holding a non-serializable reference, any
  * InternalRow reuse bug that thread-mode sharing hides, any
  * driver-only state assumption fails HERE with a loud stack.
  *
  * A runMain tool rather than a ScalaTest suite because the test JVM
  * holds one shared local[4] SparkContext for all 57 suites — a
  * second context with a different master cannot coexist; `run / fork
  * := true` gives this its own JVM like Bench/Verify.
  *
  * Usage: SPARK_HOME=/opt/spark sbt "runMain graft.tools.ClusterSmoke
  *   [sfDir] [verifyDir]"  (exit 0 = all green; failures on stderr).
  * The driver JVM needs SPARK_HOME so the in-process Worker can build
  * executor launch commands; executor classpath/module-opens are set
  * below.
  *
  * VALUE TIER (r15, VERDICT r14 task 3): when `verifyDir` (a
  * `graft.Verify` dump produced under local[32] at the SAME sfDir) is
  * given, every row in [[ValueRows]] is re-executed under the cluster
  * topology and compared to the dumped parquet by TWO-WAY exceptAll —
  * full multiset equality of the result rows (strictly stronger than
  * a hash compare; a canonical multiset hash is still logged per row
  * for the run record). This converts the registry tier's "non-empty
  * under real serialization" into "bit-equal to local[32]" for every
  * custom exec/codegen path and one row per SURVEY §2 section. */
object ClusterSmoke {

  /** Queries whose empty result is legitimate at sf0.001 (every
    * customer has an order, so anti-join/except come back empty);
    * RegistrySmokeSpec reads the same set. */
  private[graft] val mayBeEmpty = Set("q_join_anti", "q_set_except")

  /** The value-tier cross-section (~40 rows): every custom
    * exec/codegen path — TopKPerGroupExec (q29/q198/q199), FloatDot
    * (q52/q67/q91), LongDot (q275/q277), FloatL2Argmin (q76/q135),
    * DamerauLev (q201), the Fenwick/segment sweeps (q208/q216/q217),
    * the LSH family (q51/q108/q136/q139), Bloom (q94), the iterative
    * loop family (q41/q42/q43/q101/q106/q107) — plus one
    * deterministic row per §2 section. Rows whose output is
    * FP-order-sensitive by declaration (k-means averaging) are
    * excluded: their cross-run equality is not a contract even
    * locally. q277/q76/q135 ARE included — assignment, integer dots
    * and total-order tie-breaks make them partitioning-independent. */
  private[graft] val ValueRows: Seq[String] = Seq(
    // custom exec / codegen expressions
    "q_topk_per_group", "q_topk_native", "q_topk_auto",
    "q_sim_topk_cosine", "q_sim_cosine_pairs", "q_sim_knn_batch",
    "q_sim_cosine_quantized", "q_sim_ann_ivf_quantized",
    "q_sim_ann_ivf", "q_sim_ann_ivf_batch",
    "q_sim_ann_ivf_batch_quantized", "q_fn_damerau",
    // sweeps / band joins
    "q_join_band_time", "q_join_grid_2d", "q_events_outlier_days",
    // LSH / dedup / signed maintenance
    "q_dedup_minhash", "q_dedup_groups", "q_dedup_groups_lsh",
    "q_dedup_groups_lsh_incr", "q_incr_dedup_exact", "q_dedup_simhash",
    // r18: the convergence-terminated collapse and the
    // distributed-branch CC row under real executor JVMs
    "q_dedup_groups_converged", "q_graph_cc_lineitem",
    // iterative / incremental loops
    "q_iter_pagerank", "q_iter_sssp", "q_iter_connected_components",
    "q_gimv_pagerank", "q_incr_frontier", "q_incr_sssp_delete",
    // one per remaining §2 section
    "q_scan_pushdown", "q_filter_compound", "q_join_multiway",
    "q_agg_basic", "q_win_rank", "q_sort_total", "q_fn_string",
    "q_incr_delta_merge", "q_incr_merge_into", "q_incr_merge_partitioned",
    "q_stream_merge_upsert",
    "q_text_quality", "q_udaf_weighted_avg",
    "q_multimodal_features", "q_join_range", "q_agg_bitmap_distinct",
    "q_events_rfm", "q_join_colocated", "q_text_scrub",
    "q_agg_heavy_hitters", "q_join_bloom_pruned", "q_tpch_q1",
    "q_tpch_q9",
    // r18 batch 2: the exact-rational diversity pair, the integer
    // rule bitmask and the dyadic EWMA under real executor JVMs
    "q_agg_diversity", "q_incr_diversity", "q_quality_gopher",
    "q_ts_ewma", "q_sample_softdedup", "q_multimodal_mime",
    "q_incr_softdedup", "q_incr_ewma", "q_sample_softdedup_near")

  /** Map-typed columns are not comparable (no EXCEPT over MapType) —
    * canonicalize them to their JSON text; everything else compares
    * natively (arrays/structs are ordered and comparable). */
  private def canon(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType =>
          to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val classes = new java.io.File("target/scala-2.13/classes")
      .getAbsolutePath
    val spark = graft.engine.Sessions.create("local-cluster[2,2,2048]",
      "spark.app.name" -> "graft-cluster-smoke",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.executor.extraClassPath" -> s"$classes:/opt/spark/jars/*",
      "spark.executor.extraJavaOptions" -> s"$addOpens -Duser.timezone=UTC")

    var failed = List.empty[(String, String)]
    def check(name: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          failed ::= (name, e.toString.linesIterator.next())
          System.err.println(s"[cluster-smoke] FAIL $name: $e")
      }

    // sanity: we really are multi-process (driver + 2 executors).
    // Registration is async — poll up to 60 s before declaring the
    // topology wrong.
    check("cluster-topology") {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var hosts = spark.sparkContext.getExecutorMemoryStatus.size
      while (hosts < 3 && System.nanoTime() < deadline) {
        Thread.sleep(500)
        hosts = spark.sparkContext.getExecutorMemoryStatus.size
      }
      require(hosts == 3, s"expected driver + 2 executors, got $hosts")
    }

    // 1. the full declared registry under real executors — the log
    // names every row it covered (VERDICT r16 task 5: the artifact
    // must be auditable without re-running it)
    val registry = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    println(s"[cluster-smoke] registry tier: ${registry.size} rows, " +
      s"${graft.SparkEntry.oracleSql.size} oracle entries")
    println(registry.map(_._1).mkString(
      "[cluster-smoke] registry rows: ", ", ", ""))
    val t0 = System.nanoTime()
    registry.foreach {
      case (name, fn) =>
        check(name) {
          val n = fn(spark, sfDir).count()
          if (!mayBeEmpty(name))
            require(n > 0, s"$name returned no rows")
        }
    }
    println(f"[cluster-smoke] registry pass (${registry.size} rows) " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // 2. the de-corpused capped verify (VERDICT r13 task 1) under a
    // REAL broadcast path: forced capped branch must equal the exact
    // branch values pair-for-pair
    check("capped-verify-decorpused") {
      val rel = graft.text.Dedup.subsetTokens(spark, sfDir)
      val (pe, exact) = graft.text.Dedup
        .guardedInterPairs(rel, "tok", "doc_id", volumeCap = Long.MaxValue)
      val (pc, capped) = graft.text.Dedup
        .guardedInterPairs(rel, "tok", "doc_id", volumeCap = 0L)
      require(pe == "exact" && pc == "capped", s"plans $pe/$pc")
      def m(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val (e, c) = (m(exact), m(capped))
      require(c.nonEmpty, "capped branch found no pairs")
      c.foreach { case (k, v) =>
        require(e.get(k).contains(v), s"pair $k: capped=$v exact=${e.get(k)}")
      }
    }

    // 3. the Fenwick sweep branch (forced) under real row
    // serialization: must equal the exact pair join
    check("sweep-vs-pairjoin") {
      val ev = graft.engine.Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          (unix_micros(col("ts"))).as("tsu"),
          floor(col("value") * 100).cast("long").as("vc"))
      val T = 900L * 1000000L
      val V = 5000L
      val exact = graft.ops.Sweep.gridPairs2d(ev, T, V).drop("plan")
      val swept = graft.ops.Sweep
        .gridPairs2d(ev, T, V, volumeCap = 1L).drop("plan")
      require(swept.exceptAll(exact).count() == 0 &&
        exact.exceptAll(swept).count() == 0, "sweep diverged")
    }

    // 4. VALUE tier: bit-equal outputs vs a local[32] Verify dump at
    // the same sfDir (two-way exceptAll = full multiset equality)
    if (args.length > 1) {
      val vd = args(1)
      println(ValueRows.mkString(
        s"[cluster-smoke] value tier rows (${ValueRows.size}): ", ", ", ""))
      val t1 = System.nanoTime()
      ValueRows.foreach { name =>
        check(s"value:$name") {
          val refRaw = spark.read.parquet(s"$vd/$name")
          val order = refRaw.columns.sorted.map(col).toSeq
          val ref = canon(refRaw).select(order: _*)
          val got = canon(graft.SparkEntry.queries(name)(spark, sfDir))
            .select(order: _*)
          val extra = got.exceptAll(ref).count()
          val missing = ref.exceptAll(got).count()
          require(extra == 0 && missing == 0,
            s"value drift vs local[32]: +$extra unexpected, " +
              s"-$missing missing rows")
          // bit_xor, not sum: ANSI mode (Spark-4 default) throws on
          // BIGINT sum overflow, and xxhash64 values overflow any sum
          // after a handful of rows. XOR never overflows; duplicate
          // multiplicity is already covered by the exceptAll above —
          // this hash is only the run-record label.
          val h = got.agg(
            coalesce(bit_xor(xxhash64(to_json(struct(
              got.columns.map(col).toSeq: _*)))), lit(0L)),
            count(lit(1))).head()
          println(s"[cluster-smoke] value $name rows=${h.getLong(1)} " +
            s"hash=${java.lang.Long.toHexString(h.getLong(0))}")
        }
      }
      println(f"[cluster-smoke] value tier (${ValueRows.size} rows) " +
        f"${(System.nanoTime() - t1) / 1e9}%.1f s")
    }

    val verdict =
      if (failed.isEmpty) "[cluster-smoke] ALL GREEN"
      else s"[cluster-smoke] ${failed.size} FAILURES: " +
        failed.map(_._1).mkString(", ")
    println(verdict)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
