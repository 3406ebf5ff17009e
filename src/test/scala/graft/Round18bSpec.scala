package graft

import org.apache.spark.sql.functions._

/** Round-18 extension rows (SURVEY §2 rows 284–289): each declared
  * query is checked against an independent in-JVM brute-force
  * recompute on the sf0.001 fixture — bit-equal doubles where the row
  * emits floats (the D-rule contract the oracle hash also enforces). */
class Round18bSpec extends SparkSpecBase {

  private def docs = spark.read
    .parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text", "lang", "source")
    .collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

  test("fixture language domain is closed (the q284/q285 pinned-pivot contract)") {
    val langs = docs.map(_._3).toSet
    assert(langs.subsetOf(graft.ops.Aggs.Langs.toSet),
      s"unexpected language(s) ${langs -- graft.ops.Aggs.Langs.toSet} — " +
        "the diversity rows' pinned pivot no longer covers the domain")
  }

  /** The exact rational from Aggs.diversityOver, replayed in JVM:
    * (N²−Σc², N², and the two single-division doubles). */
  private def diversityOf(counts: Map[String, Long])
      : (Long, Long, Double, Double) = {
    val n = counts.values.sum
    val sumSq = graft.ops.Aggs.Langs
      .map(l => { val c = counts.getOrElse(l, 0L); c * c })
      .sum
    (n * n - sumSq, n * n,
      (n * n - sumSq).toDouble / (n * n).toDouble,
      (n * n).toDouble / sumSq.toDouble)
  }

  private def checkDiversity(row: org.apache.spark.sql.Row,
                             counts: Map[String, Long]): Unit = {
    val src = row.getString(0)
    val (num, den, gini, eff) = diversityOf(counts)
    assert(row.getLong(1) == counts.values.sum, s"$src n_docs")
    graft.ops.Aggs.Langs.zipWithIndex.foreach { case (l, i) =>
      assert(row.getLong(2 + i) == counts.getOrElse(l, 0L), s"$src c_$l")
    }
    assert(row.getLong(7) == num && row.getLong(8) == den,
      s"$src rational")
    assert(java.lang.Double.doubleToLongBits(row.getDouble(9)) ==
      java.lang.Double.doubleToLongBits(gini), s"$src gini not bit-equal")
    assert(java.lang.Double.doubleToLongBits(row.getDouble(10)) ==
      java.lang.Double.doubleToLongBits(eff), s"$src eff not bit-equal")
  }

  test("q_agg_diversity == brute-force exact-rational Gini–Simpson") {
    val expected = docs.groupBy(_._4).map { case (src, ds) =>
      src -> ds.groupBy(_._3).map { case (l, xs) => l -> xs.length.toLong }
    }
    val got = SparkEntry.queries("q_agg_diversity")(spark, sfDir).collect()
    assert(got.length == expected.size)
    got.foreach(r => checkDiversity(r, expected(r.getString(0))))
  }

  test("q_incr_diversity == batch diversity over the post-delta corpus") {
    val post = docs.filter(_._1 % 10 != 1)
    val expected = post.groupBy(_._4).map { case (src, ds) =>
      src -> ds.groupBy(_._3).map { case (l, xs) => l -> xs.length.toLong }
    }
    val got = SparkEntry.queries("q_incr_diversity")(spark, sfDir).collect()
    assert(got.length == expected.size)
    got.foreach(r => checkDiversity(r, expected(r.getString(0))))
  }

  test("q_quality_gopher == brute-force rules on every doc; each rule discriminates") {
    val got = SparkEntry.queries("q_quality_gopher")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5))).toMap
    val bitsSeen = Array.fill(4)(Set.empty[Long])
    docs.foreach { case (id, text, _, _) =>
      val toks = text.split(" ", -1)
      val n = toks.length.toLong
      val sumLen = toks.map(_.length.toLong).sum
      val stop = toks.count(w => w == "the" || w == "a").toLong
      val mx = toks.groupBy(identity).values.map(_.length).max.toLong
      val r1 = n >= 20 && n <= 90
      val r2 = sumLen >= 3 * n && 2 * sumLen <= 9 * n
      val r3 = stop * 50 >= n
      val r4 = mx * 5 <= n
      val bits = (if (r1) 1L else 0L) + (if (r2) 2L else 0L) +
        (if (r3) 4L else 0L) + (if (r4) 8L else 0L)
      val keep = if (bits == 15L) 1L else 0L
      assert(got(id) == (bits, keep), s"doc $id: got ${got(id)}, want ($bits, $keep)")
      Seq(r1, r2, r3, r4).zipWithIndex.foreach { case (b, i) =>
        bitsSeen(i) += (if (b) 1L else 0L)
      }
    }
    bitsSeen.zipWithIndex.foreach { case (s, i) =>
      assert(s == Set(0L, 1L), s"rule ${i + 1} does not discriminate on the fixture")
    }
  }

  test("q_ts_ewma == brute-force dyadic 8-lag EWMA, bit-equal") {
    val ev = graft.engine.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsus"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = ev.groupBy(_._2).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      sorted.indices.map { i =>
        var num = 0L; var den = 0L
        (0 to 7).foreach { k =>
          if (i - k >= 0) { num += sorted(i - k)._4 << (7 - k); den += 1L << (7 - k) }
        }
        sorted(i)._1 -> num.toDouble / (den * 100).toDouble
      }
    }
    val got = SparkEntry.queries("q_ts_ewma")(spark, sfDir).collect()
    assert(got.length == ev.length)
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(expected(r.getLong(0))),
        s"event ${r.getLong(0)} ewma not bit-equal")
    }
  }

  test("q_sample_softdedup == brute-force 1/n threshold; expected-one-per-group semantics") {
    val byHash = docs.groupBy(d => md5hex(d._2))
    val expected = byHash.map { case (h, ds) =>
      val n = ds.length.toLong
      val kept = ds.filter { d =>
        val h32 = java.lang.Long.parseLong(
          md5hex(d._1.toString).substring(0, 8), 16)
        h32 * n < 4294967296L
      }
      h -> (n, kept.length.toLong,
        if (kept.isEmpty) -1L else kept.map(_._1).min)
    }
    val got = SparkEntry.queries("q_sample_softdedup")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
    // soft-dedup semantics: kept mass ≈ one per group (the estimator
    // is unbiased; the fixture realization should land within 20%)
    val groups = expected.size.toDouble
    val kept = expected.values.map(_._2).sum.toDouble
    assert(kept > groups * 0.8 && kept < groups * 1.2,
      s"kept $kept vs $groups groups — threshold rule off")
    // singletons always survive: h32 * 1 < 2^32 for any 8-hex h32
    expected.values.filter(_._1 == 1L).foreach { case (_, k, _) =>
      assert(k == 1L)
    }
  }

  test("q_multimodal_mime sniffs exactly the planted magic per doc_id%4") {
    val got = SparkEntry.queries("q_multimodal_mime")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byClass = docs.groupBy(_._1 % 4)
    val magicLen = Map(0L -> 8L, 1L -> 4L, 2L -> 4L, 3L -> 0L)
    val mime = Map(0L -> "image/png", 1L -> "image/jpeg",
      2L -> "audio/wav", 3L -> "text/plain")
    assert(got.keySet == byClass.keySet.map(mime))
    byClass.foreach { case (cls, ds) =>
      val (n, bytes) = got(mime(cls))
      assert(n == ds.length.toLong, s"class $cls count")
      assert(bytes == ds.map(d => d._2.getBytes("UTF-8").length.toLong +
        magicLen(cls)).sum, s"class $cls bytes")
    }
  }
}
