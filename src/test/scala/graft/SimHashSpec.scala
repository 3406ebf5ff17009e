package graft

import org.apache.spark.sql.functions._
import graft.text.{Dedup, SimHash}

/** SimHash semantics: identical token sets → identical signatures;
  * the declared query's pairs really are within the Hamming bound. */
class SimHashSpec extends SparkSpecBase {

  test("identical token multisets get identical signatures") {
    val sp = spark
    import sp.implicits._
    val toks = Seq((1L, "spark"), (1L, "join"), (2L, "spark"), (2L, "join"),
      (3L, "window")).toDF("doc_id", "tok")
    val sigs = SimHash.signatures(toks).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("declared pairs respect the Hamming bound and are symmetric-free") {
    val out = SparkEntry.queries("q_dedup_simhash")(spark, sfDir).collect()
    assert(out.forall(_.getAs[Long]("hamming") <= SimHash.MaxHamming))
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("banding finds all pairs within Hamming <= 3 (pigeonhole completeness)") {
    // brute-force the subset's signatures and compare pair sets
    val sigs = SimHash.signatures(Dedup.subsetTokens(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (d1, s1) <- sigs; (d2, s2) <- sigs if d1 < d2
      if java.lang.Long.bitCount(s1 ^ s2) <= SimHash.MaxHamming
    } yield (d1, d2)).toSet
    val banded = SparkEntry.queries("q_dedup_simhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute, "4x16 banding must be exhaustive for d<=3")
  }
}
