package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 pins (VERDICT r16 task 1): the driver-frontier min-label
  * collapse — row-identity with the distributed minPropagate form it
  * replaced, on the REAL fixture pair graph and on random graphs
  * (both selector branches), plus the warm JOB-COUNT pin that is the
  * point of the rework (19 → ≤8 warm jobs for q136; every job launch
  * multiplies under ambient host bursts, BENCH_r16's 6.93 s vs
  * 1.21 s quiet min). */
class Round17Spec extends SparkSpecBase {
  import graft.iter.IterQueries

  private def collapseVia(edges: DataFrame, nodes: DataFrame,
                          iters: Int): DataFrame = {
    val state0 = nodes.select(col("node"), col("node").as("label"))
    val changed0 = state0
      .select(col("node").as("cnode"), col("label").as("cval"))
    IterQueries.minPropagate(edges, state0, changed0, "label", 0L, iters,
        matEvery = 1)
      .select("node", "label")
  }

  private def rowsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minLabelCollapseLocal == minPropagate on random graphs, both branches") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(40)
      val nEdges = rnd.nextInt(3 * n)
      val pairs = Seq.fill(nEdges)((rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong))
      import spark.implicits._
      val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
        .localCheckpoint()
      val nodes = (0L until n.toLong).toDF("node")
      val iters = 1 + rnd.nextInt(5)
      val expected = rowsOf(collapseVia(edges, nodes, iters))
      val local = rowsOf(IterQueries
        .minLabelCollapseLocal(edges, nodes, iters))
      assert(local == expected, s"trial $trial: local branch diverged")
      // cap = 0 forces the distributed fallback branch
      val fallback = rowsOf(IterQueries
        .minLabelCollapseLocal(edges, nodes, iters, localCap = 0L))
      assert(fallback == expected, s"trial $trial: fallback branch diverged")
    }
  }

  test("q_dedup_groups_lsh: compact collapse == distributed minPropagate on the fixture pair graph") {
    // the REAL q136 input: the verified LSH pair graph at sf0.001
    val out = SparkEntry.queries("q_dedup_groups_lsh")(spark, sfDir)
      .select(col("doc_id").as("node"), col("keep_id").as("label"))
    val pairs = graft.ops.Round8.probeLshPairs(spark, sfDir)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val nodes = graft.engine.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("node"))
    assert(rowsOf(out) == rowsOf(collapseVia(edges, nodes, 5)),
      "q136 must be row-identical to the 5-round distributed collapse")
  }

  test("warm job-count pin: q136 <= 8 jobs, q139 <= 18 jobs") {
    // warm the memos + stream of both rows first
    SparkEntry.queries("q_dedup_groups_lsh")(spark, sfDir).count()
    SparkEntry.queries("q_dedup_groups_lsh_incr")(spark, sfDir).count()
    def warmJobs(name: String): Int =
      jobsOf(SparkEntry.queries(name)(spark, sfDir).count())._2
    // q136 warm = edge-count gate + edge collect + label-broadcast
    // build + the count action (orderBy's sort is eliminated under
    // count) ≈ 4-6; pin at 8 for headroom. Before the r17 rework the
    // same path ran 19 jobs — the pin guards the regression.
    val j136 = warmJobs("q_dedup_groups_lsh")
    assert(j136 <= 8, s"q_dedup_groups_lsh warm ran $j136 jobs (> 8)")
    // q139 warm = delta maintenance (~12) + the compact collapse (3);
    // 18 gives one-broadcast headroom. Was 19+ before the rework.
    val j139 = warmJobs("q_dedup_groups_lsh_incr")
    assert(j139 <= 18, s"q_dedup_groups_lsh_incr warm ran $j139 jobs (> 18)")
  }

  // ------------------------------------------------------------------
  // VERDICT r16 task 3: partition-pruned MERGE
  // ------------------------------------------------------------------

  test("mergeIntoPartitioned: untouched partition files byte-identical, " +
      "result == whole-table mergeInto, emptied partition removed") {
    import graft.incr.MergeInto
    val dir = java.nio.file.Files.createTempDirectory("graft_mergepart")
    val basePath = s"$dir/store"
    try {
      val o = graft.engine.Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      o.write.mode("overwrite").partitionBy("o_orderstatus")
        .parquet(basePath)
      // capture every partition's file bytes before the merge
      def files(status: String): Map[String, Array[Byte]] = {
        val d = java.nio.file.Paths.get(basePath, s"o_orderstatus=$status")
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(d).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.readAllBytes(p)).toMap
      }
      val statuses = o.select("o_orderstatus").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      assert(statuses.size >= 2, s"fixture has $statuses")
      val touchedStatus = statuses.head
      val untouched = statuses.tail
      val before = untouched.map(s => s -> files(s)).toMap
      // delta: one update + one delete + one insert, all inside ONE
      // partition
      val part = o.filter(col("o_orderstatus") === touchedStatus)
        .orderBy("o_orderkey").limit(2).collect()
      val delta = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(part(0).getLong(0), touchedStatus,
            999.5, "U"),
          org.apache.spark.sql.Row(part(1).getLong(0), touchedStatus,
            0.0, "D"),
          org.apache.spark.sql.Row(-1L, touchedStatus, 1.25, "I")),
        org.apache.spark.sql.types.StructType(o.schema.fields :+
          org.apache.spark.sql.types.StructField("op",
            org.apache.spark.sql.types.StringType)))
      val expected = MergeInto.mergeInto(o, delta, Seq("o_orderkey"),
        whenMatchedUpdate = MergeInto.updateAll(o),
        whenMatchedDelete = col("s.op") === "D")
      val touched = MergeInto.mergeIntoPartitioned(spark, basePath, delta,
        Seq("o_orderkey"), "o_orderstatus",
        whenMatchedUpdate = MergeInto.updateAll(o),
        whenMatchedDelete = col("s.op") === "D")
      assert(touched == Seq(touchedStatus), s"touched=$touched")
      val after = spark.read.parquet(basePath)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      assert(after.exceptAll(expected).count() == 0 &&
        expected.exceptAll(after).count() == 0,
        "partition-pruned merge diverged from the whole-table merge")
      // untouched partitions: same file names, same bytes
      untouched.foreach { st =>
        val now = files(st)
        assert(now.keySet == before(st).keySet,
          s"partition $st file set changed")
        now.foreach { case (name, bytes) =>
          assert(java.util.Arrays.equals(bytes, before(st)(name)),
            s"partition $st file $name was rewritten")
        }
      }
      // emptied partition: delete EVERY row of the touched partition
      // via WHEN NOT MATCHED BY SOURCE against an empty-key source
      MergeInto.mergeIntoPartitioned(spark, basePath,
        delta.filter(col("op") === "I"), // touches the partition
        Seq("o_orderkey"), "o_orderstatus",
        whenMatchedDelete = lit(true),
        insertWhenNotMatched = false,
        whenNotMatchedBySourceDelete = lit(true))
      val dirGone = !java.nio.file.Files.exists(
        java.nio.file.Paths.get(basePath, s"o_orderstatus=$touchedStatus"))
      assert(dirGone, "emptied partition directory was not removed")
      // and the untouched partitions STILL carry their original bytes
      untouched.foreach { st =>
        files(st).foreach { case (name, bytes) =>
          assert(java.util.Arrays.equals(bytes, before(st)(name)))
        }
      }
    } finally deleteRecursively(dir)
  }

  /** `orders` stored partitioned by o_orderpriority (five partitions)
    * under a fresh directory, and a delta that partly deletes and
    * updates 1-URGENT, deletes every row of 2-HIGH and inserts into
    * 9-NEW, a partition the base lacks. */
  private def withPriorityStore(body: (String, DataFrame, DataFrame) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mergepart_prio")
    val basePath = s"$dir/store"
    try {
      val o = graft.engine.Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
      o.write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(basePath)
      val prio = col("o_orderpriority")
      val urgent = o.filter(prio === "1-URGENT")
      val delta = urgent.filter(col("o_orderkey") % 3 === 0)
          .withColumn("op", lit("D"))
        .unionByName(urgent.filter(col("o_orderkey") % 3 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1.5))
          .withColumn("op", lit("U")))
        .unionByName(o.filter(prio === "2-HIGH").withColumn("op", lit("D")))
        .unionByName(urgent.limit(2)
          .withColumn("o_orderkey", -col("o_orderkey") - 1)
          .withColumn("o_orderpriority", lit("9-NEW"))
          .withColumn("op", lit("I")))
        .localCheckpoint()
      body(basePath, o, delta)
    } finally deleteRecursively(dir)
  }

  private def mergeByOp(basePath: String, o: DataFrame,
                        delta: DataFrame): Seq[Any] =
    graft.incr.MergeInto.mergeIntoPartitioned(spark, basePath, delta,
      Seq("o_orderkey"), "o_orderpriority",
      whenMatchedUpdate = graft.incr.MergeInto.updateAll(o),
      whenMatchedDelete = col("s.op") === "D")

  test("mergeIntoPartitioned: an emptied partition is removed, a new one " +
      "created, a partly deleted one keeps its survivors, untouched files " +
      "stay byte-identical") {
    import graft.incr.MergeInto
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    withPriorityStore { (basePath, o, delta) =>
      def partDir(p: String) = Paths.get(basePath, s"o_orderpriority=$p")
      def files(p: String): Map[String, Seq[Byte]] =
        Files.list(partDir(p)).iterator().asScala
          .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
          .toMap
      val untouched = Seq("3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val before = untouched.map(p => p -> files(p)).toMap
      assert(before.values.forall(_.nonEmpty))
      val urgentBefore = o.filter(col("o_orderpriority") === "1-URGENT")
      assert(urgentBefore.filter(col("o_orderkey") % 3 === 2).count() > 0,
        "1-URGENT must keep rows the delta does not touch")
      val expected = MergeInto.mergeInto(o, delta, Seq("o_orderkey"),
        whenMatchedUpdate = MergeInto.updateAll(o),
        whenMatchedDelete = col("s.op") === "D")
      val touched = mergeByOp(basePath, o, delta)
      assert(touched.toSet == Set("1-URGENT", "2-HIGH", "9-NEW"),
        s"touched=$touched")
      val after = spark.read.parquet(basePath)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
      assert(after.exceptAll(expected).count() == 0 &&
        expected.exceptAll(after).count() == 0,
        "partition-pruned merge diverged from the whole-table merge")
      assert(!Files.exists(partDir("2-HIGH")),
        "the emptied partition's directory must be removed")
      assert(after.filter(col("o_orderpriority") === "9-NEW").count() == 2,
        "the inserted partition must be created with its rows")
      val survivors = urgentBefore.filter(col("o_orderkey") % 3 === 2)
      val urgentAfter = after.filter(col("o_orderpriority") === "1-URGENT")
      assert(survivors.exceptAll(urgentAfter).count() == 0,
        "a partly deleted partition lost rows the delta did not touch")
      assert(urgentAfter.filter(col("o_orderkey") % 3 === 0).count() == 0)
      untouched.foreach { p =>
        assert(files(p) == before(p), s"untouched partition $p was rewritten")
      }
    }
  }

  test("warm job-count pin: one mergeIntoPartitioned <= 5 jobs") {
    withPriorityStore { (basePath, o, delta) =>
      mergeByOp(basePath, o, delta) // first call: code paths warm
      // the same delta again (it reapplies idempotently): the touched
      // values (one job, no shuffle), the merge's checkpoint and the
      // dynamic overwrite. The base's schema comes from a footer read
      // on the driver, and emptied partitions from a file listing —
      // neither is a job. Measured 5; an inferring base read made it
      // 6, and the shuffled distincts for the touched and the
      // still-present values 9.
      val jobs = jobsOf(mergeByOp(basePath, o, delta))._2
      assert(jobs <= 5, s"a warm mergeIntoPartitioned ran $jobs jobs (> 5)")
    }
  }

  test("mergeIntoPartitioned's base schema: the footer's data schema plus " +
      "the inferred partition column equal an inferring read, with no job") {
    import graft.engine.Tables
    withPriorityStore { (basePath, _, _) =>
      val root = new org.apache.hadoop.fs.Path(basePath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (written, jobs) = jobsOf(Tables.writtenSchema(fs, root))
      assert(jobs == 0)
      assert(written.map(_.fieldNames.toSeq) ==
        Some(Seq("o_orderkey", "o_totalprice")))
      assert(spark.read.schema(written.get).parquet(basePath).schema ==
        spark.read.parquet(basePath).schema)
      // no data file: the caller falls back to the inferring read
      fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_empty"))
      assert(Tables.writtenSchema(fs,
        new org.apache.hadoop.fs.Path(root, "_empty")).isEmpty)
    }
  }

  test("mergeInto: per-clause update condition + marker-collision guard") {
    import graft.incr.MergeInto
    import spark.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val delta = Seq((1L, 5.0), (2L, 25.0)).toDF("k", "v")
    // WHEN MATCHED AND s.v > t.v THEN UPDATE — key 1 keeps 10.0
    val out = MergeInto.mergeInto(base, delta, Seq("k"),
        whenMatchedUpdate = MergeInto.updateAll(base),
        whenMatchedUpdateCond = col("s.v") > col("t.v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out == Set((1L, 10.0), (2L, 25.0)), s"got $out")
    // reserved marker names are rejected, not silently replaced
    val poisoned = base.withColumn("__t_present", lit(false))
    intercept[IllegalArgumentException] {
      MergeInto.mergeInto(poisoned, delta.withColumn("__t_present",
        lit(false)), Seq("k"))
    }
  }

  // ------------------------------------------------------------------
  // VERDICT r16 task 2 + ADVICE: crash-safe merge-sink commits
  // ------------------------------------------------------------------

  test("merge sink: a torn snapshot write is invisible (pointer still " +
      "serves the old state) and the retry converges") {
    import graft.stream.Streams
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tornsink")
    val store = s"$dir/store"
    try {
      val b1 = Seq((1L, 1.0, 10.0), (2L, 1.0, 20.0)).toDF("k", "ord", "v")
      Streams.applyMergeBatch(b1, Seq("k"), "ord", store)
      val s1 = Streams.readStore(spark, store).get
        .orderBy("k").collect().map(_.getDouble(2)).toSeq
      assert(s1 == Seq(10.0, 20.0))
      // simulate a writer that died mid-snapshot: a TORN snap-2 dir
      // exists but the pointer was never swapped
      val torn = java.nio.file.Paths.get(store, "snap-2")
      java.nio.file.Files.createDirectories(torn)
      java.nio.file.Files.write(torn.resolve("part-00000.parquet"),
        Array[Byte](1, 2, 3)) // not parquet — reading it would throw
      val afterCrash = Streams.readStore(spark, store).get
        .orderBy("k").collect().map(_.getDouble(2)).toSeq
      assert(afterCrash == Seq(10.0, 20.0),
        "torn uncommitted snapshot leaked into reads")
      // the foreachBatch retry re-runs the batch: it must overwrite
      // the torn dir and commit cleanly
      val b2 = Seq((2L, 2.0, 99.0), (3L, 1.0, 30.0)).toDF("k", "ord", "v")
      Streams.applyMergeBatch(b2, Seq("k"), "ord", store)
      val s2 = Streams.readStore(spark, store).get
        .orderBy("k").collect().map(_.getDouble(2)).toSeq
      assert(s2 == Seq(10.0, 99.0, 30.0), s"retry diverged: $s2")
    } finally deleteRecursively(dir)
  }
}
