package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the harness itself: the percentile rule, the fingerprint,
  * the delta generator and the span arithmetic. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("percentile interpolates like Python's inclusive quantiles") {
    val xs = Seq(7.0, 1.0, 3.0, 5.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 7.0)
    assert(Stats.median(xs) == 4.0)
    // statistics.quantiles([1, 3, 5, 7], n=4, method="inclusive") == [2.5, 4.0, 5.5]
    assert(Stats.percentile(xs, 25) == 2.5)
    assert(Stats.percentile(xs, 75) == 5.5)
    assert(Stats.median(Seq(42.0)) == 42.0)
  }

  test("the tail percentile keeps at least ten samples above it") {
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
    for (n <- 20 to 500; p <- Stats.tailPercentile(n)) {
      assert(n * (100 - p) >= 1000, s"n=$n p=$p")
      assert(p == 100 || n * (100 - (p + 1)) < 1000, s"n=$n: p$p is not the highest")
    }
  }

  private def frame(rows: Seq[(Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("k", "s", "v")
  }
  private val rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, -0.0), (4L, "d", 4.0))

  test("the fingerprint ignores row order and partitioning") {
    val fp = Fingerprint.of(frame(rows))
    assert(fp.rows == 4)
    assert(Fingerprint.of(frame(rows.reverse)) == fp)
    assert(Fingerprint.of(frame(rows).repartition(3)) == fp)
    assert(Fingerprint.of(frame(rows).orderBy(col("v").desc)) == fp)
    assert(Fingerprint.parse(fp.toString) == fp)
  }

  test("the fingerprint sees every cell, duplicates and column order") {
    val fp = Fingerprint.of(frame(rows))
    assert(Fingerprint.of(frame(rows.updated(1, (2L, "b", 2.5000001)))) != fp)
    assert(Fingerprint.of(frame(rows.updated(1, (2L, "B", 2.5)))) != fp)
    assert(Fingerprint.of(frame(rows.updated(2, (3L, null, 0.0)))) != fp) // -0.0 vs 0.0
    assert(Fingerprint.of(frame(rows.updated(2, (3L, "", -0.0)))) != fp)  // null vs ""
    assert(Fingerprint.of(frame(rows :+ rows.head)) != fp)
    assert(Fingerprint.of(frame(rows ++ rows)).h1 != 0L, "a duplicated row must not cancel out")
    assert(Fingerprint.of(frame(rows).select("s", "k", "v")) != fp)
    // two swapped cells across rows keep the multiset of values, not the rows
    assert(Fingerprint.of(frame(Seq((1L, "b", 1.5), (2L, "a", 2.5)))) !=
      Fingerprint.of(frame(Seq((1L, "a", 1.5), (2L, "b", 2.5)))))
  }

  test("the fingerprint consumes every output column, with the final sort") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("m")).orderBy("m", "id")
    val fp = Fingerprint.of(df)
    assert(fp.rows == 1000)
    assert(fp == Fingerprint.ofRows(df.collect().iterator))
    assert(fp != Fingerprint.of(df.select(col("id"), (col("m") + 1).as("m"))))
  }

  private def base = spark.range(0, 20000).select(col("id"), (col("id") * 3).as("x"))

  test("the delta generator is deterministic for a seed") {
    def gen(seed: Long) = {
      val d = DeltaGen.generate(base, Seq("id"), 0.1, seed, _.withColumn("id", -col("id") - 1))
      (d.inserts.collect().toSet, d.deletes.collect().toSet)
    }
    val (i1, d1) = gen(7L)
    val (i2, d2) = gen(7L)
    assert(i1 == i2 && d1 == d2)
    val (i3, d3) = gen(8L)
    assert(i3 != i1 && d3 != d1)
  }

  test("inserts and deletes are disjoint, and sized by the fraction") {
    for (frac <- Seq(0.001, 0.01, 0.1)) {
      val d = DeltaGen.generate(base, Seq("id"), frac, 11L, _.withColumn("id", -col("id") - 1))
      val ins = d.inserts.select("id").collect().map(_.getLong(0)).toSet
      val del = d.deletes.select("id").collect().map(_.getLong(0)).toSet
      assert(ins.intersect(del).isEmpty)
      assert(ins.forall(_ < 0), "inserts must take keys the base does not hold")
      assert(del.forall(k => k >= 0 && k < 20000), "deletes must be base rows")
      val want = frac * 20000
      assert(math.abs(ins.size + del.size - want) <= 4 * math.sqrt(want) + 2,
        s"fraction $frac: ${ins.size} + ${del.size} rows, expected about $want")
      val post = DeltaGen.applyTo(base, d, Seq("id"))
      assert(post.count() == 20000 - del.size + ins.size)
    }
  }

  test("span self time subtracts the union of child intervals") {
    assert(Tracer.covered(0, 100, Nil) == 0)
    assert(Tracer.covered(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 30)
    assert(Tracer.covered(0, 100, Seq((-10L, 5L), (95L, 120L))) == 10)
    assert(Tracer.covered(0, 100, Seq((40L, 50L), (0L, 100L))) == 100)
  }

  test("a traced call owns its jobs, and a failed check is a failed op") {
    val tracer = new Tracer(spark)
    val client = new Client(spark, tracer)
    client.setTracing(true)
    val ok = client.call("warm", "count") { (spark.range(0, 100).count() == 100, Map.empty) }
    val bad = client.call("warm", "wrong") { (false, Map.empty) }
    val threw = client.call("warm", "boom") { throw new IllegalStateException("boom") }
    client.setTracing(false)
    assert(ok.ok && !bad.ok && !threw.ok)
    assert(tracer.countsOf(ok.id).jobs >= 1)
    assert(tracer.countsOf(bad.id).jobs == 0)
    assert(client.failures.size == 2)
    assert(tracer.allSpans.exists(s => s.kind == "job" && s.parent == ok.id))
  }
}
