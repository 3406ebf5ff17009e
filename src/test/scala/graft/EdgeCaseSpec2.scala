package graft

import org.apache.spark.sql.functions._

/** Edge cases for the rows 201-215 generics: inputs the fixture never
  * produces but a library user's data will — empty frames, single
  * rows, degenerate patterns, and the SQL-function registration path
  * for the custom expression. */
class EdgeCaseSpec2 extends SparkSpecBase {
  import spark.implicits._

  test("bandSelfJoin: empty and single-row inputs yield no pairs") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "t")
    assert(Graft.bandSelfJoin(empty, "id", "t", 100L).count() == 0)
    val one = Seq((1L, 42L)).toDF("id", "t")
    assert(Graft.bandSelfJoin(one, "id", "t", 100L).count() == 0)
  }

  test("bandSelfJoin: band 0 is rejected at call time, not a runtime " +
      "DIVIDE_BY_ZERO deep in the plan") {
    val df = Seq((1L, 10L), (2L, 10L), (3L, 11L)).toDF("id", "t")
    intercept[IllegalArgumentException] {
      Graft.bandSelfJoin(df, "id", "t", 0L)
    }
    // band 1: equal stamps pair, gap-1 stamps pair
    val got = Graft.bandSelfJoin(df, "id", "t", 1L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("patternMatches: pattern longer than any timeline matches nothing") {
    val ev = Seq((1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"))
      .toDF("k", "t", "tie", "typ")
    assert(Graft.patternMatches(ev, "k", "t", "tie", "typ",
      Seq("a", "b", "a", "b")).count() == 0)
    // single-element pattern degrades to a plain filter
    assert(Graft.patternMatches(ev, "k", "t", "tie", "typ",
      Seq("b")).count() == 1)
  }

  test("kcore: empty graph and sub-k graphs converge to empty") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graft.kcore(empty, 2).count() == 0)
    // a path graph has max degree 2 -> 3-core is empty
    val canon = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val path = (canon ++ canon.map(e => (e._2, e._1))).toDF("src", "dst")
    assert(Graft.kcore(path, 3).count() == 0)
    // a triangle IS its own 2-core
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val triangle = (tri ++ tri.map(e => (e._2, e._1))).toDF("src", "dst")
    assert(Graft.kcore(triangle, 2).count() == 6)
  }

  test("cmsBuild/cmsEstimate: empty stream estimates zero everywhere") {
    val empty = Seq.empty[Long].toDF("k")
    val cms = Graft.cmsBuild(empty, "k")
    assert(cms.count() == 0)
    val probes = Seq(1L, 2L).toDF("k")
    val est = Graft.cmsEstimate(cms, probes, "k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est == Map(1L -> 0L, 2L -> 0L),
      "missing counters must read as 0, not NULL")
  }

  test("ffillSummary: single event spans one day; value floor is exact") {
    val ev = Seq((7L,
        java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:00:00Z")),
        1L, 19.99))
      .toDF("user_id", "ts", "event_id", "value")
    val out = Graft.ffillSummary(ev).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("days_span") == 1 &&
      r.getAs[Long]("days_active") == 1 &&
      r.getAs[Long]("gap_days") == 0)
    // floor(19.99 * 100) — the parquet-double contract, not rounding:
    // 19.99*100 = 1998.9999... in IEEE, so the exact answer here is 1998
    assert(r.getAs[Long]("ffill_sum") == math.floor(19.99 * 100).toLong)
  }

  test("prefixJaccardPairs: identical docs and disjoint docs") {
    val toks = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (2L, "c"), // identical to 1
      (3L, "x"), (3L, "y")) // disjoint
      .toDF("doc_id", "tok")
    val out = Graft.prefixJaccardPairs(toks, 1, 1) // tau = 1.0
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L)),
      "tau=1 keeps only the identical pair")
  }

  test("intervalOverlapJoin: touching endpoints overlap (closed " +
      "intervals); disjoint do not") {
    val iv = Seq((1L, 0L, 10L), (2L, 10L, 20L), (3L, 21L, 30L))
      .toDF("id", "s", "e")
    val got = Graft.intervalOverlapJoin(iv, Seq("id"), "s", "e", 7L)
      .select("id_a", "id_b", "overlap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == Set((1L, 2L, 0L)),
      "closed intervals touching at one instant overlap with length 0")
  }

  test("damerau_levenshtein registers as a SQL function via the Bridge") {
    org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark,
      "damerau_levenshtein",
      es => graft.functions.DamerauLevenshtein(es(0), es(1)))
    val out = spark.sql(
      "SELECT damerau_levenshtein('CA', 'ABC') AS d," +
        " damerau_levenshtein('kitten', 'sitting') AS k")
      .head()
    assert(out.getInt(0) == 2 && out.getInt(1) == 3)
    // NULL propagation through the SQL surface
    assert(spark.sql(
      "SELECT damerau_levenshtein(NULL, 'x') AS d").head().isNullAt(0))
  }

  test("qualityReport: zero rules is rejected cleanly; empty frame counts 0") {
    val df = Seq((1, 2)).toDF("a", "b")
    // zero rules: reduce over empty would throw — the call contract
    // is >= 1 rule; assert the failure is immediate, not a wrong plan
    intercept[UnsupportedOperationException] {
      Graft.qualityReport(df, Nil).collect()
    }
    val empty = Seq.empty[(Int, Int)].toDF("a", "b")
    val rep = Graft.qualityReport(empty, Seq("r" -> (col("a") > 0)))
      .collect()
    assert(rep.length == 1 && rep.head.getLong(1) == 0 &&
      rep.head.getLong(2) == 0)
  }
}
