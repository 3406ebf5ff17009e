package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.text.{Dedup, TextStats}

/** Random-structure properties for the round-12 generics. The fixture
  * proofs (Round12Spec) run on the driver documents table, whose
  * 30-word vocabulary and template-duplicate structure are benign;
  * these re-prove the load-bearing claims on seeded random corpora
  * where the shape cannot hide a hole:
  *
  *  1. incrTokenCounts == from-scratch wordcount for ARBITRARY
  *     insert/delete splits (docs fully deleted, tokens driven to
  *     zero, empty insert/delete sides — all occur by construction),
  *  2. chunkDupGroups == a brute in-JVM chunker for random token
  *     streams and a non-default chunk size,
  *  3. the winnowing GUARANTEE: two random docs sharing a planted
  *     run of ≥ k+w−1 tokens ALWAYS share a fingerprint, and the
  *     fingerprint relation equals a brute winnower.
  */
class PropertiesSpec5 extends SparkSpecBase {


  private def randomDocs(seed: Long, nDocs: Int, vocab: Int,
                         maxLen: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until nDocs).map { i =>
      val len = 1 + rnd.nextInt(maxLen)
      (i.toLong, (0 until len).map(_ => s"w${rnd.nextInt(vocab)}")
        .mkString(" "))
    }
  }

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  test("incrTokenCounts == from-scratch wordcount on random corpora and random deltas") {
    for (seed <- 1L to 3L) {
      val rnd = new scala.util.Random(seed * 31)
      val all = randomDocs(seed, nDocs = 60, vocab = 12, maxLen = 25)
      val (base, ins) = all.partition(_ => rnd.nextDouble() < 0.6)
      val del = base.filter(_ => rnd.nextDouble() < 0.3)
      val delIds = del.map(_._1).toSet
      val baseCounts = docsDf(base)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
      val got = TextStats.incrTokenCounts(baseCounts, docsDf(ins),
          docsDf(del), "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val post = base.filterNot(d => delIds(d._1)) ++ ins
      val brute = post.flatMap(_._2.split(" "))
        .groupBy(identity).map { case (w, xs) => (w, xs.size.toLong) }
      assert(got == brute, s"seed=$seed: merged != from-scratch")
      // the zero-vanish rule really fires: some base token must have
      // been driven out OR the delta must be non-trivial
      assert(del.nonEmpty && ins.nonEmpty, s"seed=$seed: vacuous split")
    }
  }

  test("chunkDupGroups == brute chunker on random corpora at chunk size 5") {
    for (seed <- 4L to 6L) {
      // small vocab so cross-doc chunk collisions actually occur
      val all = randomDocs(seed, nDocs = 80, vocab = 3, maxLen = 18)
      val got = Dedup.chunkDupGroups(docsDf(all), "doc_id", "text", 5)
        .collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val brute = all.flatMap { case (id, text) =>
        val toks = text.split(" ")
        (0 until toks.length / 5).map(ci =>
          (md5hex(toks.slice(ci * 5, ci * 5 + 5).mkString(" ")), id))
      }.groupBy(_._1).map { case (h, occ) =>
        (h, (occ.size.toLong, occ.map(_._2).distinct.size.toLong,
          occ.map(_._2).min))
      }.filter(_._2._2 >= 2)
      assert(got == brute, s"seed=$seed: chunk groups differ")
      assert(got.nonEmpty, s"seed=$seed: no duplicate chunks — weak test input")
    }
  }

  test("session_window == islands derivation on random timelines with boundary-exact gaps") {
    val sp = spark
    import sp.implicits._
    val gapUs = 1800000000L // 30 minutes
    for (seed <- 11L to 13L) {
      val rnd = new scala.util.Random(seed * 53)
      // random user timelines whose inter-event gaps cluster AROUND the
      // 30-min boundary, including exact multiples (the merge-boundary
      // case the fixture never produces)
      val rows = (0 until 6).flatMap { u =>
        var t = 1700000000000000L + rnd.nextInt(1000) * 1000000L
        (0 until 40).map { _ =>
          val gap = rnd.nextInt(4) match {
            case 0 => gapUs                      // exactly the duration
            case 1 => gapUs + 1 + rnd.nextInt(5) // just over
            case 2 => gapUs - 1 - rnd.nextInt(5) // just under
            case _ => rnd.nextInt(3600) * 1000000L
          }
          t += gap
          (u.toLong, t)
        }
      }
      val ev = rows.toDF("user_id", "us")
        .withColumn("ts", timestamp_micros(col("us")))
      val native = ev.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), min(col("us")).as("start_us"))
        .select("user_id", "start_us", "n")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // brute islands with the INCLUSIVE boundary (gap > duration splits)
      val brute = rows.groupBy(_._1).flatMap { case (u, es) =>
        val ts = es.map(_._2).sorted
        val sessions = scala.collection.mutable.ArrayBuffer
          .empty[scala.collection.mutable.ArrayBuffer[Long]]
        ts.foreach { t =>
          if (sessions.nonEmpty && t - sessions.last.last <= gapUs)
            sessions.last += t
          else sessions += scala.collection.mutable.ArrayBuffer(t)
        }
        sessions.map(s => (u, s.head, s.size.toLong))
      }.toSet
      assert(native == brute,
        s"seed=$seed: session_window != inclusive islands " +
          s"(native ${native.size} vs brute ${brute.size} sessions)")
    }
  }

  test("winnowing: planted shared runs force shared fingerprints; relation == brute") {
    val rnd = new scala.util.Random(99)
    // docs with a planted common run of exactly k+w-1 = 7 tokens at a
    // random offset inside otherwise-random text
    val run = (0 until 7).map(i => s"R$i").mkString(" ")
    val planted = (0 until 10).map { i =>
      val pre = (0 until 3 + rnd.nextInt(8)).map(_ => s"x${rnd.nextInt(50)}")
      val post = (0 until 3 + rnd.nextInt(8)).map(_ => s"y${rnd.nextInt(50)}")
      (i.toLong, (pre ++ Seq(run) ++ post).mkString(" "))
    }
    val noise = randomDocs(7L, nDocs = 20, vocab = 40, maxLen = 20)
      .map { case (id, t) => (id + 100L, t) }
    val all = planted ++ noise
    val fps = TextStats.winnowFingerprints(docsDf(all), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fps.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toSet) }
    // guarantee: every pair of planted docs shares >= 1 fingerprint
    for (a <- 0 until 10; b <- (a + 1) until 10) {
      assert(byDoc(a.toLong).intersect(byDoc(b.toLong)).nonEmpty,
        s"planted docs $a and $b share a 7-token run but no fingerprint")
    }
    // relation equals brute winnowing
    val brute = all.flatMap { case (id, text) =>
      val toks = text.split(" ")
      if (toks.length < 7) Nil
      else {
        val hs = (0 to toks.length - 4)
          .map(i => md5hex(toks.slice(i, i + 4).mkString(" ")))
        (0 to hs.length - 4).map(j => hs.slice(j, j + 4).min)
          .distinct.map((id, _))
      }
    }.toSet
    assert(fps.toSet == brute, "fingerprint relation != brute winnower")
  }
}
