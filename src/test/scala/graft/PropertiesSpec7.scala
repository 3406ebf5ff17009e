package graft

import org.apache.spark.sql.functions._

/** Random-structure properties for the round-18 kernels. The fixture
  * specs (Round18b/cSpec) prove these on the driver corpus, whose
  * shape is specific (uniform sources, 2-dp cents, all-touched
  * deltas); these re-prove the load-bearing claims on ARBITRARY
  * seeded random structure:
  *
  *  1. softDedupAgg == per-group brute force for any group-size
  *     distribution (incl. the singleton-always-survives law and the
  *     h32·n < 2^32 boundary arithmetic),
  *  2. incrEwma == batch EWMA over the post-delta frame for any mix
  *     of touched/untouched users, duplicate timestamps (the
  *     (ts, event_id) tie-break), and %10 delta classes,
  *  3. diversityOver's rationals == BigInt brute force up to count
  *     magnitudes near the documented 2^53 boundary.
  */
class PropertiesSpec7 extends SparkSpecBase {

  test("softDedupAgg == brute force on random group structures") {
    val sp = spark
    import sp.implicits._
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      // skewed group sizes: a few giant groups, many singletons
      val rows = (0 until 400).map { i =>
        val g = if (rnd.nextBoolean()) s"g${rnd.nextInt(5)}"
                else s"s$i"
        (rnd.nextLong().abs, g)
      }.distinct
      val got = graft.ops.Sampling
        .softDedupAgg(rows.toDF("doc_id", "k"), "k", "n_grp")
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val expected = rows.groupBy(_._2).map { case (k, ms) =>
        val n = ms.length.toLong
        val kept = ms.map(_._1).filter { id =>
          java.lang.Long.parseLong(md5hex(id.toString).substring(0, 8), 16) *
            n < 4294967296L
        }
        k -> (n, kept.length.toLong, if (kept.isEmpty) -1L else kept.min)
      }
      assert(got == expected, s"seed=$seed")
      expected.values.filter(_._1 == 1L)
        .foreach { case (_, k, _) => assert(k == 1L, "singleton dropped") }
    }
  }

  test("incrEwma == batch post-delta EWMA on random frames with ts ties") {
    val sp = spark
    import sp.implicits._
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 300).map { i =>
        val user = rnd.nextInt(12).toLong
        // coarse ts grid forces duplicate timestamps per user — the
        // (ts, event_id) tie-break must decide the lag order
        val ts = (rnd.nextInt(20) * 1000000L)
        val cents = (rnd.nextInt(99999) + 1).toLong
        (i.toLong, user, ts, cents / 100.0)
      }
      val ev = rows.toDF("event_id", "user_id", "tsl", "value")
        .withColumn("ts", timestamp_micros(col("tsl"))).drop("tsl")
      val got = graft.ops.TimeSeries.incrEwma(ev)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      // brute: batch EWMA over the post-delta frame
      val post = rows.filter(_._1 % 10 != 1)
      val expected = post.groupBy(_._2).flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._3, e._1))
        val cents = sorted.map(e => math.round(e._4 * 100))
        sorted.indices.map { i =>
          var num = 0L; var den = 0L
          (0 to 7).foreach { k =>
            if (i - k >= 0) { num += cents(i - k) << (7 - k); den += 1L << (7 - k) }
          }
          sorted(i)._1 -> num.toDouble / (den * 100).toDouble
        }
      }
      assert(got.keySet == expected.keySet, s"seed=$seed row set")
      got.foreach { case (id, v) =>
        assert(java.lang.Double.doubleToLongBits(v) ==
          java.lang.Double.doubleToLongBits(expected(id)),
          s"seed=$seed event $id not bit-equal")
      }
      // some users must be untouched for the pass-through branch to
      // carry rows (12 users × 300 events ⇒ overwhelmingly likely a
      // user exists with no %10∈{0,1} event; assert so the property
      // genuinely exercises both branches)
      val touched = rows.filter(e => e._1 % 10 == 0 || e._1 % 10 == 1)
        .map(_._2).toSet
      if (touched.size < 12)
        assert(post.exists(e => !touched.contains(e._2)))
    }
  }

  test("diversityOver rationals == BigInt brute force near the int64 comfort zone") {
    val sp = spark
    import sp.implicits._
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed)
      val langs = graft.ops.Aggs.Langs
      val rows = (0 until 8).flatMap { s =>
        langs.flatMap { l =>
          val n = rnd.nextInt(1000000).toLong // N per group up to 5M
          if (n == 0) None else Some((s"src$s", l, n))
        }
      }
      val got = graft.ops.Aggs.diversityOver(rows.toDF("source", "lang", "n"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(7), r.getLong(8))).toMap
      rows.groupBy(_._1).foreach { case (src, cs) =>
        val n = BigInt(cs.map(_._3).sum)
        val sumSq = cs.map(c => BigInt(c._3) * BigInt(c._3)).sum
        val (num, den) = got(src)
        assert(BigInt(num) == n * n - sumSq && BigInt(den) == n * n,
          s"seed=$seed $src rational mismatch")
      }
    }
  }
}
