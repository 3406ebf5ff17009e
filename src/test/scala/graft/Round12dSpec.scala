package graft

import org.apache.spark.sql.functions._
import graft.functions.DamerauLev
import graft.ops.{GraphStats, Scalars, TimeSeries}
import graft.text.Similarity

/** Specs for SURVEY §2 rows 201-207 (Round12b): the Damerau-
  * Levenshtein codegen expression, forward-fill resampling (batch +
  * signed incremental), the prefix-filtered exact similarity join,
  * the constraint report, bigram PMI, and k-core peeling. */
class Round12dSpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(1206)

  // ---------------- q201 Damerau-Levenshtein ----------------

  /** Reference: plain Levenshtein DP (no transpositions) — an upper
    * bound that also EQUALS DL whenever no adjacent transposition can
    * help. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val c = if (a(i - 1) == b(j - 1)) 0 else 1
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + c)
    }
    d(a.length)(b.length)
  }

  test("DamerauLev: known values incl. the unrestricted-variant fixture") {
    // CA→ABC = 2 distinguishes true DL from optimal-string-alignment
    // (OSA yields 3) — the value DuckDB's damerau_levenshtein returns.
    assert(DamerauLev.dist(
      org.apache.spark.unsafe.types.UTF8String.fromString("CA"),
      org.apache.spark.unsafe.types.UTF8String.fromString("ABC")) == 2)
    def dl(a: String, b: String): Int = DamerauLev.dist(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    assert(dl("ab", "ba") == 1)
    assert(dl("kitten", "sitting") == 3)
    assert(dl("", "abc") == 3 && dl("abc", "") == 3 && dl("", "") == 0)
    assert(dl("same", "same") == 0)
    assert(dl("abcdef", "abcfed") == 2) // transposition + substitution region
  }

  test("DamerauLev: random-pair properties (bounds, symmetry, codegen≡eval)") {
    import spark.implicits._
    val pairs = Seq.fill(300) {
      def w = Seq.fill(rnd.nextInt(9))("abcd" (rnd.nextInt(4))).mkString
      (w, w)
    }.map { case (a, _) =>
      def w = Seq.fill(rnd.nextInt(9))("abcd" (rnd.nextInt(4))).mkString
      (a, w)
    }
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        Scalars.damerauLev(col("a"), col("b")).as("dl"),
        levenshtein(col("a"), col("b")).as("lev"))
    df.collect().foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val dl = r.getInt(2)
      // codegen result == direct kernel call (interpreted path)
      assert(dl == DamerauLev.dist(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b)))
      assert(dl <= r.getInt(3), s"DL must not exceed Levenshtein: $a/$b")
      assert(dl >= math.abs(a.length - b.length))
      assert((dl == 0) == (a == b))
    }
    // symmetry on the same sample
    val sym = pairs.toDF("a", "b")
      .select(Scalars.damerauLev(col("a"), col("b")).as("x"),
        Scalars.damerauLev(col("b"), col("a")).as("y"))
    assert(sym.filter(col("x") =!= col("y")).count() == 0)
  }

  test("DamerauLev: triangle inequality on random triples") {
    def w() = Seq.fill(1 + rnd.nextInt(8))("abc" (rnd.nextInt(3))).mkString
    def dl(a: String, b: String): Int = DamerauLev.dist(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))
    (1 to 200).foreach { _ =>
      val (a, b, c) = (w(), w(), w())
      assert(dl(a, c) <= dl(a, b) + dl(b, c), s"triangle: $a $b $c")
    }
  }

  // ---------------- q202/q207 forward-fill ----------------

  test("q_ts_resample: runs partition the span; gap accounting closes") {
    val runs = TimeSeries.ffillRuns(graft.engine.Tables.events(spark, sfDir))
    val sums = runs.groupBy("user_id")
      .agg(sum(col("run_len")).as("rl_sum"),
        (datediff(max(col("day")), min(col("day"))) + 1).cast("long")
          .as("span"))
    assert(sums.filter(col("rl_sum") =!= col("span")).count() == 0,
      "per-user run lengths must sum exactly to the day span")
    val out = TimeSeries.ffillSummary(graft.engine.Tables.events(spark, sfDir))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("gap_days")
        == r.getAs[Long]("days_span") - r.getAs[Long]("days_active"))
      assert(r.getAs[Long]("days_active") >= 1)
    }
  }

  test("q_ts_resample: random timeline matches a day-exploded brute force") {
    import spark.implicits._
    // random sparse timeline for a handful of users
    val rows = for {
      u <- 1 to 5
      _ <- 1 to (3 + rnd.nextInt(10))
    } yield (u.toLong,
      java.sql.Timestamp.from(java.time.Instant.parse("2024-02-01T00:00:00Z")
        .plusSeconds(rnd.nextInt(90 * 24 * 3600).toLong)),
      rnd.nextLong(), // unique-ish event id
      rnd.nextDouble() * 100)
    val ev = rows.toDF("user_id", "ts", "event_id", "value")
    val got = TimeSeries.ffillSummary(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4)))
      .toMap
    // brute force: explode every calendar day, carry the last daily
    // value forward, sum
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, rs) =>
      val perDay = rs.groupBy(r => r._2.toInstant.atZone(java.time.ZoneOffset.UTC)
          .toLocalDate)
        .map { case (day, dayRows) =>
          val last = dayRows.maxBy(r => (r._2.getTime, r._3))
          day -> math.floor(last._4 * 100).toLong
        }
      val days = perDay.keys.toSeq.sortBy(_.toEpochDay)
      val (lo, hi) = (days.head, days.last)
      var cur = 0L
      var total = 0L
      (lo.toEpochDay to hi.toEpochDay).foreach { ed =>
        val day = java.time.LocalDate.ofEpochDay(ed)
        perDay.get(day).foreach(cur = _)
        total += cur
      }
      val (span, active, ffill) = got(u)
      assert(span == hi.toEpochDay - lo.toEpochDay + 1)
      assert(active == perDay.size)
      assert(ffill == total, s"user $u ffill mismatch")
    }
  }

  test("q_incr_resample: maintenance is row-identical to the batch form") {
    val ev = graft.engine.Tables.events(spark, sfDir)
    val post = ev.filter(col("event_id") % 10 =!= 1)
    val batch = TimeSeries.ffillSummary(post)
    val incr = SparkEntry.queries("q_incr_resample")(spark, sfDir)
    assert(incr.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(incr).count() == 0)
  }

  // ---------------- q203 prefix-filtered similarity join ----------------

  /** Brute-force exact Jaccard pairs over the same doc subset. */
  private def bruteJaccard(num: Int, den: Int) = {
    val toks = graft.engine.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0).distinct()
    val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = toks.as("a").join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .withColumn("union_sz", col("sa") + col("sb") - col("inter"))
      .filter(col("inter") * den >= col("union_sz") * num)
      .select(col("doc_a"), col("doc_b"), col("inter").cast("long"),
        col("union_sz").cast("long"))
  }

  test("q_sim_setjoin_prefix: lossless vs brute force at two thresholds") {
    Seq((9, 10), (1, 2)).foreach { case (num, den) =>
      val pruned = Similarity.prefixFilteredJaccard(spark, sfDir, num, den)
      val brute = bruteJaccard(num, den)
      assert(pruned.exceptAll(brute).count() == 0,
        s"prefix join emitted a pair brute force lacks (tau=$num/$den)")
      assert(brute.exceptAll(pruned).count() == 0,
        s"prefix filtering LOST a qualifying pair (tau=$num/$den)")
    }
  }

  // ---------------- q204 constraint report ----------------

  test("q_quality_constraints: sane counts; integrity rules hold on fixture") {
    val out = SparkEntry.queries("q_quality_constraints")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 6)
    out.foreach { case (name, (checked, viol)) =>
      assert(viol >= 0 && viol <= checked, s"$name: $viol/$checked")
    }
    assert(out("li_fk_orders")._2 == 0, "fixture has no orphan lineitems")
    assert(out("ord_orderkey_unique")._2 == 0)
    // range rules must actually fire on the fixture (a wall of zeros
    // would make the oracle hash vacuous)
    assert(out("li_quantity_le_30")._2 > 0)
    assert(out("cust_acctbal_nonneg")._2 > 0)
  }

  // ---------------- q205 bigram PMI ----------------

  test("q_text_pmi: count consistency and ordering contract") {
    val rows = SparkEntry.queries("q_text_pmi")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      val (cxy, cx, cy) = (r.getAs[Long]("c_xy"), r.getAs[Long]("c_x"),
        r.getAs[Long]("c_y"))
      assert(cxy >= 5 && cxy <= math.min(cx, cy),
        "a bigram cannot outnumber either unigram")
      assert(r.getAs[Double]("lift") > 0)
    }
    val lifts = rows.map(_.getAs[Double]("lift"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b },
      "descending lift order")
  }

  // ---------------- q206 k-core ----------------

  test("q_graph_kcore: every survivor of round r had degree >= 3 before it") {
    val e0 = graft.iter.Graphs.edges(spark, sfDir)
    val e1 = GraphStats.peel(e0, 3)
    // survivors' degrees measured in the PRE-peel graph
    val deg0 = e0.groupBy("src").agg(count(lit(1)).as("deg"))
    val bad = e1.select(col("src")).distinct()
      .join(deg0, "src").filter(col("deg") < 3)
    assert(bad.count() == 0)
    // monotone shrink + declared row consistency
    val stats = SparkEntry.queries("q_graph_kcore")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stats.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(stats.zip(stats.tail).forall { case ((_, n1, m1), (_, n2, m2)) =>
      n2 <= n1 && m2 <= m1 }, "peeling can only shrink the graph")
  }

  test("q_graph_kcore: peel reaches a fixpoint that IS the 3-core") {
    // iterate peel to convergence on the tiny graph, then verify the
    // fixpoint property: every node has degree >= 3 inside the core
    var e = graft.iter.Graphs.edges(spark, sfDir)
    var n = e.count()
    var changed = true
    var guard = 0
    while (changed && guard < 50) {
      val next = GraphStats.peel(e, 3)
      val m = next.count()
      changed = m != n
      e = next; n = m; guard += 1
    }
    if (n > 0) {
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      assert(deg.filter(col("deg") < 3).count() == 0,
        "3-core fixpoint must have min degree 3")
    }
  }
}
