package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.stream.Streams

/** The library facade on NON-fixture data: operators must work on any
  * caller-supplied DataFrame, not just the benchmark tables. */
class FacadeSpec extends SparkSpecBase {

  test("pagerank on a 5-ring: symmetry keeps every rank at exactly 1.0") {
    val sp = spark
    import sp.implicits._
    val ring = (0L until 5L).map(i => (i, (i + 1) % 5)).toDF("src", "dst")
      .union((0L until 5L).map(i => ((i + 1) % 5, i)).toDF("src", "dst"))
    val ranks = Graft.pagerank(ring, 5).collect()
    assert(ranks.length == 5)
    // every node has in=out degree 2 → rank stays exactly 1e10 scaled
    assert(ranks.forall(_.getAs[Long]("rs") == 10000000000L))
  }

  test("iterative facade leaves caller session conf exactly as found") {
    // the loop conf must restore-or-UNSET: restoring a literal fallback
    // would pin a never-set key (e.g. stock 200 partitions becoming 32).
    val sp = spark
    import sp.implicits._
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    // get(key, null) sees only EXPLICIT settings (getOption falls
    // through to entry defaults and cannot distinguish set-to-default
    // from never-set)
    def explicit(k: String): Option[String] = Option(sp.conf.get(k, null))
    val saved = keys.map(k => k -> explicit(k))
    try {
      keys.foreach(sp.conf.unset)
      assert(keys.forall(k => explicit(k).isEmpty),
        "precondition: keys must be unset")
      val ring = (0L until 4L).map(i => (i, (i + 1) % 4)).toDF("src", "dst")
      Graft.sssp(ring, 0L, 3).collect()
      val after = keys.map(k => k -> explicit(k))
      assert(after.forall(_._2.isEmpty),
        s"facade left conf explicitly pinned: $after")
    } finally saved.foreach {
      case (k, Some(v)) => sp.conf.set(k, v)
      case (k, None)    => sp.conf.unset(k)
    }
  }

  test("a cached edge list stays cached after sssp and connectedComponents") {
    val sp = spark
    import sp.implicits._
    val ring = (0L until 4L).map(i => (i, (i + 1) % 4)).toDF("src", "dst").cache()
    try {
      ring.count()
      val level = ring.storageLevel
      assert(level != org.apache.spark.storage.StorageLevel.NONE)
      Graft.sssp(ring, 0L, 3).collect()
      assert(ring.storageLevel == level, "sssp released the caller's cache")
      Graft.connectedComponents(ring, 3).collect()
      assert(ring.storageLevel == level,
        "connectedComponents released the caller's cache")
    } finally ring.unpersist()
  }

  test("incrMerge applies inserts and deletes per key") {
    val sp = spark
    import sp.implicits._
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0)).toDF("k", "v")
    val delta = Seq(("a", 30.0, "+"), ("a", 10.0, "-"), ("c", 1.0, "+"))
      .toDF("k", "v", "op")
    val out = Graft.incrMerge(base, delta, Seq("k"), col("v"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("a", 2L, 50.0), ("b", 1L, 5.0), ("c", 1L, 1.0)))
  }

  test("incrMerge fails on an op other than '+' or '-'") {
    val sp = spark
    import sp.implicits._
    val base = Seq(("a", 10.0)).toDF("k", "v")
    // the 'I'/'D' encoding of MergeInto: an insert must not count as a delete
    for (op <- Seq("I", null)) {
      val delta = Seq(("a", 30.0, op)).toDF("k", "v", "op")
      val e = intercept[Exception](
        Graft.incrMerge(base, delta, Seq("k"), col("v")).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("must be '+' or '-'")),
        s"op = $op: $e")
    }
  }

  test("tfidf scores match the hand-computed values") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = Graft.tfidf(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map(
      (1L, "a") -> ((2L, 1L, 2.0 * math.log(2.0))),
      (1L, "b") -> ((1L, 2L, 0.0)),
      (2L, "b") -> ((1L, 2L, 0.0)),
      (2L, "c") -> ((1L, 1L, math.log(2.0)))))
  }

  test("dedupExact keeps the lowest id per identical content") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((3L, "same text"), (1L, "same text"), (2L, "other"))
      .toDF("id", "body")
    val out = Graft.dedupExact(docs, "id", "body")
      .orderBy("keep_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((2L, 1L), (1L, 2L))) // (n_dups, keep_id)
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sq = sp.sqlContext
    def ts(s: String) = Timestamp.from(Instant.parse(s"2024-01-01T${s}Z"))
    val ms = MemoryStream[(Timestamp, Long)]
    val stream = ms.toDF.toDF("ts", "user_id")
    val q = Streams.runningUserState(stream).writeStream
      .format("memory").queryName("ustate").outputMode("update").start()
    ms.addData((ts("10:00:00"), 1L), (ts("10:01:00"), 1L), (ts("10:02:00"), 2L))
    q.processAllAvailable()
    ms.addData((ts("10:03:00"), 1L)) // state must carry n=2 forward
    q.processAllAvailable()
    val last = sp.table("ustate").filter(col("user_id") === 1L)
      .orderBy(col("n").desc).head()
    assert(last.getAs[Long]("n") == 3L, "state not preserved across batches")
    assert(last.getAs[Timestamp]("last_ts") == ts("10:03:00"))
    q.stop()
  }

  test("transformWithState (Spark 4 API) matches mapGroupsWithState semantics") {
    val sp = spark
    import sp.implicits._
    implicit val sq = sp.sqlContext
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ts(s: String) = Timestamp.from(Instant.parse(s"2024-01-01T${s}Z"))
      val ms = MemoryStream[(Timestamp, Long)]
      val stream = ms.toDF.toDF("ts", "user_id")
      val q = Streams.runningUserStateTws(stream).writeStream
        .format("memory").queryName("ustate_tws").outputMode("update").start()
      ms.addData((ts("10:00:00"), 1L), (ts("10:01:00"), 1L), (ts("10:02:00"), 2L))
      q.processAllAvailable()
      ms.addData((ts("10:03:00"), 1L))
      q.processAllAvailable()
      val last = sp.table("ustate_tws").filter(col("user_id") === 1L)
        .orderBy(col("n").desc).head()
      assert(last.getAs[Long]("n") == 3L, "ValueState not preserved across batches")
      assert(last.getAs[Timestamp]("last_ts") == ts("10:03:00"))
      q.stop()
    } finally prev match {
      case Some(v) => sp.conf.set(key, v)
      case None => sp.conf.unset(key)
    }
  }
}
