package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.incr.{Delta, IncrMerge}
import graft.iter.MrbgPagerank
import graft.ops.Aggs
import graft.text.TextStats

/** The incremental steps do no dead work: MRBG's last iteration is one
  * lazy plan, and the signed merges (wordcount, partials, value counts)
  * are one shuffle each. They stay bit-equal to their from-scratch forms.
  * The change set they read, `incr.Delta`, keeps its laws on every
  * constructor. */
class IncrStepSpec extends SparkSpecBase {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** A random 40-node graph, the same graph with some edges removed and
    * some added, and an arbitrary integer base rank state. */
  private object Graph {
    private val rnd = new scala.util.Random(5)
    val n = 40
    private val oldEdges = (for {
      s <- 0 until n; d <- 0 until n if s != d && rnd.nextInt(8) == 0
    } yield (s.toLong, d.toLong)).distinct
    private val removed = oldEdges.filter(_ => rnd.nextInt(6) == 0).toSet
    private val added = (for {
      s <- 0 until n; d <- 0 until n if s != d && rnd.nextInt(40) == 0
    } yield (s.toLong, d.toLong)).filterNot(oldEdges.contains).distinct
    private val newEdges = oldEdges.filterNot(removed) ++ added
    /** Sources whose out-edge set changed: the first frontier. */
    val changedSrcs: Seq[Long] = (removed.toSeq ++ added).map(_._1).distinct

    def withDeg(es: Seq[(Long, Long)]): DataFrame = {
      val e = es.toDF("src", "dst")
      e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
        .select("src", "dst", "outdeg")
    }
    val edgesDegOld: DataFrame = withDeg(oldEdges)
    val edgesDegNew: DataFrame = withDeg(newEdges)
    val nodes: DataFrame = (0L until n).toDF("node")
    val base: DataFrame = (0L until n)
      .map(v => (v, 1000000000L + 7919L * v * v)).toDF("node", "rs")
  }

  /** `iters` full PageRank iterations over the new graph from the base
    * ranks, in the same integer arithmetic as MrbgPagerank. */
  private def fullIterations(iters: Int): DataFrame = {
    import Graph._
    (1 to iters).foldLeft(base) { (state, _) =>
      val s = edgesDegNew.join(state, state("node") === edgesDegNew("src"))
        .selectExpr("dst", "rs DIV outdeg AS c")
        .groupBy("dst").agg(sum(col("c")).as("S"))
      nodes.join(s, nodes("node") === s("dst"), "left")
        .selectExpr("node",
          "CAST(1500000000 + (85 * coalesce(S, 0)) DIV 100 AS BIGINT) AS rs")
    }
  }

  /** The preserved state under the old graph: contributions C0 and
    * per-node sums S0 of the base ranks, materialized. */
  private def preserved(): (DataFrame, DataFrame) = {
    import Graph._
    val c = MrbgPagerank.contribsFor(edgesDegOld, base,
      nodes.select(col("node").as("src"))).localCheckpoint()
    val s = nodes.join(c.groupBy("dst").agg(sum(col("c")).as("S")),
        nodes("node") === col("dst"), "left")
      .select(col("node"), coalesce(col("S"), lit(0L)).as("S"))
      .localCheckpoint()
    (c, s)
  }

  private def incremental(c0: DataFrame, s0: DataFrame, iters: Int): DataFrame =
    MrbgPagerank.incrRun(Graph.edgesDegNew, Graph.base, c0, s0,
      Graph.changedSrcs.toDF("src"), 0L, iters)

  test("MrbgPagerank.incrRun: the last iteration is lazy — iters = 1 starts no Spark job") {
    val (c0, s0) = preserved()
    val (state, started) = jobsOf(incremental(c0, s0, 1))
    assert(started == 0, s"incrRun(iters = 1) started $started Spark job(s)")
    assert(rows(state.select("node", "rs")) ==
      rows(fullIterations(1).select("node", "rs")))
  }

  test("MrbgPagerank.incrRun at iters 1 and 2 == full re-iteration, bit for bit") {
    assert(Graph.changedSrcs.nonEmpty)
    val (c0, s0) = preserved()
    for (iters <- Seq(1, 2)) {
      val got = rows(incremental(c0, s0, iters))
      val want = rows(fullIterations(iters))
      assert(got.size == Graph.n)
      assert(got == want, s"iters = $iters diverged from full re-iteration")
    }
  }

  private val docs = Seq("a b a", "c d", "b e c").toDF("text")
  private val inserts = Seq("b f", "a").toDF("text")
  /** Removes the only `d` and every `c`. */
  private val deletes = Seq("c d", "b e c").toDF("text")

  private def wordcount(d: DataFrame): DataFrame =
    d.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Base counts as a shuffle-free local relation. */
  private def baseCounts: DataFrame = {
    val counted = wordcount(docs).collect().map(r => (r.getString(0), r.getLong(1)))
    counted.toSeq.toDF("word", "n")
  }

  /** Shuffle exchanges in `df`'s executed plan with AQE off. */
  private def shuffles(df: DataFrame): Int = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.size
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `merged` costs its inputs' shuffles plus exactly one: the signed
    * merge's own exchange on the keys. */
  private def assertOneMergeShuffle(merged: DataFrame, inputs: DataFrame*): Unit = {
    val own = shuffles(merged) - inputs.map(shuffles).sum
    assert(own == 1, s"the merge plans $own shuffles of its own in\n" +
      merged.queryExecution.executedPlan)
  }

  test("incrTokenCounts: delta tokens and base counts meet in one shuffle (AQE off)") {
    assertOneMergeShuffle(TextStats.incrTokenCounts(baseCounts, inserts, deletes, "text"))
  }

  test("IncrMerge.mergePartials: stored and delta partials meet in one shuffle (AQE off)") {
    val stored = Seq(("a", 2L, BigDecimal("3.50")), ("b", 1L, BigDecimal("1.00")))
      .toDF("k", "n", "psum")
    val delta = IncrMerge.partials(
      Seq(("a", 1.25), ("c", 2.0)).toDF("k", "v"), Seq("k"), col("v"))
    assertOneMergeShuffle(IncrMerge.mergePartials(Seq("k"), stored, delta), delta)
  }

  test("Round12.valueCountStateFrom: base and delta value counts meet in one shuffle (AQE off)") {
    val baseCounts = Seq((1L, 2L), (3L, 1L)).toDF("v", "n")
    val ins = Seq(1L, 5L).toDF("x")
    val del = Seq(3L).toDF("x")
    def counts(df: DataFrame) = df.groupBy(col("x").as("v")).agg(count(lit(1)).as("n"))
    assertOneMergeShuffle(Aggs.valueCountStateFrom(baseCounts, ins, del, "x"),
      counts(ins), counts(del))
  }

  test("incrTokenCounts == from-scratch wordcount when the delta drives words to zero") {
    val got = TextStats.incrTokenCounts(baseCounts, inserts, deletes, "text")
    val post = Seq("a b a", "b f", "a").toDF("text")
    val want = wordcount(post).withColumnRenamed("n", "n_total")
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    assert(rows(got) == rows(want))
    assert(!rows(got).exists(r => Set("c", "d").contains(r.getString(0))),
      "words whose count reached zero must vanish")
  }

  /** Random keyed rows with duplicates: (k, v). */
  private def keyedRows(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(4))).toDF("k", "v")
  }

  /** Every constructor over the rows: the 10-way split, a cut, and an
    * explicit one whose deleted predicate also names non-base rows. */
  private def constructors(rows: DataFrame): Seq[(String, Delta)] = Seq(
    "tenWay" -> Delta.tenWay(rows, "k"),
    "cut" -> Delta.cut(rows, col("k") < 40, "k"),
    "apply" -> Delta(rows, col("k") % 3 =!= 0, col("k") % 3 === 0,
      col("k") % 4 === 1))

  private def same(a: DataFrame, b: DataFrame): Boolean = rows(a) == rows(b)

  test("Delta laws: deletes ⊆ base, post = base − deletes + inserts, touched = inserts ∪ deletes") {
    for (seed <- Seq(1, 2, 3); (name, d) <- constructors(keyedRows(seed))) {
      val clue = s"$name, seed $seed"
      assert(d.deletes.exceptAll(d.base).isEmpty, s"deletes ⊄ base ($clue)")
      assert(!d.inserts.isEmpty && !d.deletes.isEmpty, s"an empty part ($clue)")
      assert(same(d.post, d.base.exceptAll(d.deletes).unionAll(d.inserts)),
        s"post ≠ base − deletes + inserts ($clue)")
      assert(same(d.touched, d.inserts.unionAll(d.deletes)),
        s"touched ≠ inserts ∪ deletes ($clue)")
      assert(same(d.touchedKeys("k"), d.touched.select("k").distinct()),
        s"touchedKeys ≠ the distinct keys of touched ($clue)")
    }
  }

  test("Delta.map applies the derivation to every part") {
    val f = (df: DataFrame) =>
      df.select((col("k") % 7).as("g"), (col("v") * 10).as("w"))
    for ((name, d) <- constructors(keyedRows(4))) {
      val m = d.map(f)
      val parts = Seq[(String, Delta => DataFrame)]("base" -> (_.base),
        "inserts" -> (_.inserts), "deletes" -> (_.deletes),
        "post" -> (_.post), "touched" -> (_.touched))
      for ((part, of) <- parts)
        assert(same(of(m), f(of(d))), s"$name: map(f).$part ≠ f($part)")
      assert(same(m.touchedKeys("g"), f(d.touched).select("g").distinct()),
        s"$name: map(f).touchedKeys")
    }
  }

  test("Delta.tenWay returns the rows of the three filters it replaced (events, sf0.001)") {
    val ev = Tables.events(spark, sfDir)
    val d = Delta.tenWay(ev, "event_id")
    val k = col("event_id") % 10
    assert(same(d.base, ev.filter(k =!= 0)))
    assert(same(d.inserts, ev.filter(k === 0)))
    assert(same(d.deletes, ev.filter(k === 1)))
    assert(same(d.post, ev.filter(k =!= 1)))
    assert(same(d.touched, ev.filter(k === 0 || k === 1)))
  }
}
