package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.ops.Events

/** Random-structure properties for the round-11 analytics/curation
  * generics. The fixture proofs (Round11bSpec) run on the driver
  * events/embeddings tables, whose shape is benign (dense timelines,
  * near-uniform classes); these re-prove the load-bearing claims on
  * seeded random inputs where the shape cannot hide a hole:
  *
  *  1. signed incremental pathing == batch transition matrix for
  *     ARBITRARY insert/delete splits (empty-timeline users, users
  *     fully deleted, single-event users — all occur by construction),
  *  2. transitionMatrix == a brute per-user fold,
  *  3. nearestAsofJoin == a brute argmin with the declared (ms, id)
  *     tie-break, including left keys with no right partner (absent
  *     from output) and exact-tie timestamps,
  *  4. balancedSample keeps EXACTLY the minority size per class for
  *     arbitrary skew, and the kept set is a deterministic function
  *     of (class, id) alone.
  */
class PropertiesSpec4 extends SparkSpecBase {

  private def randomEvents(seed: Long, nUsers: Int, nEvents: Int)
      : Seq[(Long, Long, Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val types = Array("a", "b", "c")
    (0 until nEvents).map { i =>
      (rnd.nextInt(nUsers).toLong, i.toLong,
        1700000000000000L + rnd.nextInt(1000000).toLong * 1000000L,
        types(rnd.nextInt(types.length)))
    }
  }

  private def evDf(rows: Seq[(Long, Long, Long, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("user_id", "event_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
  }

  test("signed pathing maintenance == batch matrix on random logs and random deltas") {
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed * 977)
      val all = randomEvents(seed, nUsers = 8, nEvents = 120)
      // random split: ~70% base, rest inserts; ~15% of base deleted
      val (base, ins) = all.partition(_ => rnd.nextDouble() < 0.7)
      val delIds = base.filter(_ => rnd.nextDouble() < 0.15)
        .map(_._2).toSet
      val sp = spark
      import sp.implicits._
      val baseDf = evDf(base).persist()
      val insDf = evDf(ins).persist()
      val delDf = delIds.toSeq.toDF("event_id")
      try {
        // the q169 shape on explicit frames
        def trans(ev: DataFrame) =
          Events.transitionMatrix(ev, "user_id", "ts", "event_id",
            "event_type")
        val affected = broadcast(insDf.select("user_id")
          .unionByName(baseDf.join(delDf, "event_id")
            .select("user_id")).distinct())
        val postBase = baseDf.join(delDf, Seq("event_id"), "left_anti")
        val maintained = trans(baseDf)
          .unionByName(trans(baseDf.join(affected, Seq("user_id"),
            "left_semi"))
            .withColumn("n_transitions", -col("n_transitions")))
          .unionByName(trans(postBase.unionByName(insDf)
            .join(affected, Seq("user_id"), "left_semi")))
          .groupBy("event_type", "next_type")
          .agg(sum("n_transitions").as("n_transitions"))
          .filter(col("n_transitions") > 0)
        val batch = trans(postBase.unionByName(insDf))
        val m = maintained.collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        val b = batch.collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(m == b, s"seed $seed: maintained $m != batch $b")
      } finally {
        baseDf.unpersist(blocking = false)
        insDf.unpersist(blocking = false)
      }
    }
  }

  test("transitionMatrix == brute per-user fold on random logs") {
    for (seed <- 10L to 12L) {
      val rows = randomEvents(seed, nUsers = 6, nEvents = 80)
      val got = Events.transitionMatrix(evDf(rows), "user_id", "ts",
          "event_id", "event_type").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val brute = rows.groupBy(_._1).toSeq.flatMap { case (_, es) =>
        es.sortBy(e => (e._3, e._2)).sliding(2).collect {
          case Seq(x, y) => (x._4, y._4)
        }
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == brute, s"seed $seed")
    }
  }

  test("nearestAsofJoin == brute argmin with (ms, id) tie-break on random timelines") {
    val sp = spark
    import sp.implicits._
    for (seed <- 20L to 22L) {
      val rnd = new scala.util.Random(seed)
      // coarse time grid (ms multiples of 500) forces exact ties
      def side(n: Int, idBase: Long) = (0 until n).map { i =>
        (idBase + i, rnd.nextInt(4).toLong,
          1700000000000000L + rnd.nextInt(50).toLong * 500000L)
      }
      val ls = side(15, 100L)
      val rs = side(25, 1000L)
      val l = ls.toDF("lid", "k", "us")
        .withColumn("lt", timestamp_micros(col("us"))).drop("us")
      val r = rs.toDF("rid", "k", "us")
        .withColumn("rt", timestamp_micros(col("us"))).drop("us")
      val got = Graft.nearestAsofJoin(l, "lid", "lt", r, "rid", "rt", "k")
        .collect().map(x => (x.getLong(0), x.getLong(2), x.getLong(3))).toSet
      val byKey = rs.groupBy(_._2)
      val brute = ls.flatMap { case (lid, k, lus) =>
        byKey.get(k).map { cands =>
          val (dMs, rid) = cands
            .map(c => (math.abs(c._3 - lus) / 1000, c._1)).min
          (lid, rid, dMs)
        }
      }.toSet
      assert(got == brute, s"seed $seed")
    }
  }

  test("incrGroupRecompute == derive(post) for random group derivations and deltas") {
    val sp = spark
    import sp.implicits._
    for (seed <- 40L to 42L) {
      val rnd = new scala.util.Random(seed)
      val all = randomEvents(seed, nUsers = 7, nEvents = 90)
      val (base, ins) = all.partition(_ => rnd.nextDouble() < 0.65)
      val delIds = base.filter(_ => rnd.nextDouble() < 0.2).map(_._2).toSet
      val baseDf = evDf(base)
      val insDf = evDf(ins)
      val delDf = delIds.toSeq.toDF("event_id")
      val post = baseDf.join(delDf, Seq("event_id"), "left_anti")
        .unionByName(insDf)
      val affected = insDf.select("user_id")
        .unionByName(baseDf.join(delDf, "event_id").select("user_id"))
        .distinct()
      // a group-local derivation: per-user event count + distinct types
      def derive(ev: org.apache.spark.sql.DataFrame) = ev
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_type")).as("n_types"))
      val incr = Graft.incrGroupRecompute(baseDf, post,
          Seq("user_id"), affected)(derive)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val full = derive(post).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(incr == full, s"seed $seed")
    }
  }

  test("balancedSample: exact minority size and (class, id)-determinism under skew") {
    val sp = spark
    import sp.implicits._
    for (seed <- 30L to 31L) {
      val rnd = new scala.util.Random(seed)
      // skewed classes: sizes 2, 9, 40
      val rows = (0 until 2).map(i => (rnd.nextInt(100000).toLong + 0L, "t")) ++
        (0 until 9).map(i => (200000L + i, "m")) ++
        (0 until 40).map(i => (300000L + i, "h"))
      val df = rows.toDF("id", "cls")
      val kept = Graft.balancedSample(df, "cls", "id").collect()
        .map(r => (r.getString(1), r.getLong(0)))
      assert(kept.groupBy(_._1).forall(_._2.size == 2),
        s"seed $seed: ${kept.groupBy(_._1).view.mapValues(_.size).toMap}")
      // determinism: survivors are a pure function of (class, id) — an
      // independent shuffled copy keeps the same ids
      val kept2 = Graft.balancedSample(
          df.orderBy(rand(seed)), "cls", "id").collect()
        .map(r => (r.getString(1), r.getLong(0)))
      assert(kept.toSet == kept2.toSet, s"seed $seed: order-dependent")
    }
  }
}
