package graft

import org.apache.spark.sql.Row
import graft.text.{Dedup, TextStats}
import graft.iter.KMeans

/** Edge cases flagged by the round-1 advisor: inputs the fixture
  * corpus never produces but a library user's data will — documents
  * with fewer than 3 tokens (3-gram paths), empty text, and k-means
  * over id spaces that don't start at 0. */
class EdgeCaseSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    texts.toDF("doc_id", "text")

  test("fingerprint of <3-token docs is NULL, not a crash (ANSI element_at)") {
    val out = TextStats.fingerprintOf(docs(
      1L -> "", 2L -> "one", 3L -> "one two", 4L -> "one two three",
      5L -> "a b c d")).collect()
    // < 3 tokens -> fp NULL; note split("", " ") yields [""] (1 token)
    assert(out.map(r => r.getLong(0) -> r.isNullAt(1)).toMap ==
      Map(1L -> true, 2L -> true, 3L -> true, 4L -> false, 5L -> false))
    // n_grams mirrors DuckDB's raw len-2 (may be <= 0 for short docs)
    assert(out.map(_.getLong(2)).toSeq == Seq(-1L, -1L, 0L, 1L, 2L))
  }

  test("shingles of <3-token docs are dropped, not a crash") {
    val out = Dedup.shinglesOf(docs(
      1L -> "x", 2L -> "x y", 3L -> "x y z")).collect()
    assert(out.map(_.getLong(0)).distinct.toSeq == Seq(3L))
  }

  test("intervalJoin with no right events emits nothing and terminates") {
    val sp = spark
    import sp.implicits._
    val left = Seq((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L))
      .toDF("lt", "l_user")
    val right = Seq.empty[(java.sql.Timestamp, Long)].toDF("rt", "r_user")
    // batch mode: the same plan shape runs without a stream
    assert(graft.stream.Streams.intervalJoin(left, right).count() == 0)
  }

  test("tfidf of a single document has idf 0 everywhere (ln 1)") {
    val sp = spark
    import sp.implicits._
    val one = Seq((1L, "a b a")).toDF("doc_id", "text")
    val rows = Graft.tfidf(one, "doc_id", "text").collect()
      .map(r => r.getString(1) -> r.getDouble(4)).toMap
    assert(rows == Map("a" -> 0.0, "b" -> 0.0))
  }

  test("saltedJoin with nSalts=1 degenerates to the plain join") {
    val sp = spark
    import sp.implicits._
    val fact = (0L until 50L).map(i => (i, i % 5)).toDF("row_id", "k")
    val dim = (0L until 5L).map(k => (k, s"d$k")).toDF("k", "name")
    val one = Graft.saltedJoin(fact, dim, "k",
      Seq(org.apache.spark.sql.functions.col("row_id")), nSalts = 1)
    assert(one.count() == 50)
  }

  test("mode tiebreak picks the lexicographically smallest type") {
    val sp = spark
    import sp.implicits._
    // user 1: two 'b', two 'a' -> tie broken to 'a'
    val ev = Seq((1L, "b"), (1L, "b"), (1L, "a"), (1L, "a"))
      .toDF("user_id", "event_type")
    val counts = ev.groupBy("user_id", "event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(org.apache.spark.sql.functions.col("n").desc,
        org.apache.spark.sql.functions.col("event_type"))
    val top = counts.withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(w))
      .filter(org.apache.spark.sql.functions.col("rn") === 1).collect()
    assert(top.length == 1 && top.head.getString(1) == "a")
  }

  test("kmeans seeds from first k rows of any id space, rejects n < k") {
    // ids 100..119 (not 0..k-1): must still produce k real centroids
    val vecs = (100 until 120).map(i =>
      (i.toLong, Array.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    val assigned = KMeans.runOn(spark, vecs, k = 3, iters = 2)
    assert(assigned.select("cluster").distinct().count() > 1,
      "multiple clusters must survive with non-0-based ids")
    val tiny = (0 until 2).map(i =>
      (i.toLong, Array.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      KMeans.runOn(spark, tiny, k = 3, iters = 1)
    }
  }

  test("round-11 generics survive degenerate inputs") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    // single-user single-event log: no transitions, one 1-day streak
    val one = Seq((1L, 1L, "2024-03-05 10:00:00", "a"))
      .toDF("u", "id", "t", "typ")
      .withColumn("t", col("t").cast("timestamp"))
    assert(graft.ops.Events.transitionMatrix(one, "u", "t", "id", "typ")
      .count() == 0)
    val st = Graft.activityStreaks(one, "u", "t").head()
    assert((st.getLong(1), st.getLong(2), st.getLong(3)) == ((1L, 1L, 1L)))
    // single-class frame: balancedSample and temperatureRebalance are
    // identity (threshold branch c == c_min)
    val mono = (0L until 7L).map((_, "only")).toDF("id", "cls")
    assert(Graft.balancedSample(mono, "cls", "id").count() == 7)
    assert(Graft.temperatureRebalance(mono, "cls", "id").count() == 7)
    // nearestAsofJoin with an empty right side emits nothing
    val l = Seq((1L, 1L, "2024-03-05 10:00:00")).toDF("lid", "k", "lt")
      .withColumn("lt", col("lt").cast("timestamp"))
    val r = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("rid", "k", "rt")
    assert(Graft.nearestAsofJoin(l, "lid", "lt", r, "rid", "rt", "k")
      .count() == 0)
    // lmRarity: corpus of sub-2-token docs is empty output, not a crash
    assert(Graft.lmRarity(Seq((1L, "solo"), (2L, ""))
      .toDF("doc_id", "text"), "doc_id", "text").count() == 0)
  }

  test("round-12 generics survive degenerate inputs") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val two = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    // incrTokenCounts with empty deltas == base counts; a delta that
    // deletes the whole corpus leaves nothing
    val baseCounts = two
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("word"))
      .groupBy("word").agg(org.apache.spark.sql.functions
        .count(org.apache.spark.sql.functions.lit(1)).as("n"))
    val same = Graft.incrTokenCounts(baseCounts, empty, empty, "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(same == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    assert(Graft.incrTokenCounts(baseCounts, empty, two, "text").count() == 0,
      "deleting every doc must drive all counts to zero")
    // chunkDupGroups: docs shorter than one chunk produce nothing
    assert(Graft.chunkDupGroups(two, "doc_id", "text", 16).count() == 0)
    // identical docs >= 1 chunk share every chunk
    val twin = Seq((1L, ("t " * 16).trim), (2L, ("t " * 16).trim))
      .toDF("doc_id", "text")
    val g = Graft.chunkDupGroups(twin, "doc_id", "text", 16).head()
    assert((g.getLong(1), g.getLong(2), g.getLong(3)) == ((2L, 2L, 1L)))
    // winnowFingerprints: sub-(k+w-1) docs have no fingerprints
    assert(Graft.winnowFingerprints(two, "doc_id", "text").count() == 0)
    // profileStats of an empty frame: one row per column with zero
    // counts and NULL extremes, not a crash
    val pEmpty = Graft.profileStats(
      Seq.empty[(Double, Double)].toDF("x", "y"), Seq("x", "y")).collect()
    assert(pEmpty.length == 2 &&
      pEmpty.forall(r => r.getLong(1) == 0L && r.isNullAt(3)))
    // valueCountState: delete of a never-seen value nets negative and
    // is dropped rather than corrupting the state
    val vs = graft.ops.Aggs.valueCountState(
      Seq((1L, 1.0)).toDF("id", "x"), Seq.empty[(Long, Double)].toDF("id", "x"),
      Seq((9L, 9.0)).toDF("id", "x"), "x")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(vs == Map(1.0 -> 1L), s"phantom delete leaked into state: $vs")
  }
}
