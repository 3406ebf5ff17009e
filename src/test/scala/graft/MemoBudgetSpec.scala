package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.Memos
import scala.jdk.CollectionConverters._

/** Memo frames carry a byte budget: over-budget admissions evict
  * least-recently-hit frames across every module, the release is REAL
  * (checkpoint blocks freed at the RDD, not left to ContextCleaner
  * GC), and a later re-miss rebuilds correctly. Each case keys its
  * frames under its own fixture dir, so the live-entry count of that
  * dir is the case's own store size. */
class MemoBudgetSpec extends SparkSpecBase {

  /** Budgeted scope with the working-set guard OFF (minResident=0) so
    * the tiny 2-3-entry fixtures below actually evict; the guard's
    * own semantics get a dedicated test. */
  private def withBudget[A](bytes: Long)(body: => A): A = {
    try {
      spark.conf.set(Memos.BudgetConf, bytes.toString)
      spark.conf.set(Memos.MinResidentConf, "0")
      body
    } finally {
      spark.conf.unset(Memos.BudgetConf)
      spark.conf.unset(Memos.MinResidentConf)
    }
  }

  private def persisted(lo: Long, n: Long): DataFrame = {
    val df = spark.range(lo, lo + n).toDF("v").persist(); df.count(); df
  }

  private def live(dir: String): Int = Memos.frameCount(spark, dir)

  test("over-budget admission evicts the LRU entry; re-miss rebuilds " +
      "correctly; just-admitted entry is exempt") {
    // isolate: drop every module memo so only spec entries can be
    // victims (module memos rebuild on their next use by design)
    Memos.clearAll()
    val dir = "memo-spec/lru"
    var builds = 0
    def build(lo: Long): DataFrame = { builds += 1; persisted(lo, 10000) }
    withBudget(1L) { // everything is over budget: each admission evicts
      val before = Memos.evictions.get()
      val a = Memos.frame(spark, dir, "a")(build(0))
      assert(a.count() == 10000)
      val b = Memos.frame(spark, dir, "b")(build(100))
      // b's admission must evict a (the only other entry), never b
      assert(live(dir) == 1, s"expected only b to survive: ${live(dir)}")
      assert(Memos.evictions.get() > before, "eviction counter did not move")
      assert(b.storageLevel != StorageLevel.NONE,
        "the just-admitted entry must not be evicted")
      // a's frame was unpersisted but is lineage-backed: still readable
      assert(a.storageLevel == StorageLevel.NONE)
      // re-miss rebuilds from source
      val a2 = Memos.frame(spark, dir, "a")(build(0))
      assert(builds == 3, s"expected a rebuild on re-miss, builds=$builds")
      assert(a2.count() == 10000 &&
        a2.agg(min(col("v"))).head().getLong(0) == 0L,
        "rebuilt entry returned wrong data")
    }
    Memos.clearAll()
  }

  test("eviction releases checkpoint blocks at the RDD (the real free)") {
    Memos.clearAll()
    val dir = "memo-spec/ckpt"
    // a checkpointed entry: Dataset.unpersist alone would NOT free it
    val ck = Memos.frame(spark, dir, "ck")(
      spark.range(0, 50000).toDF("v").localCheckpoint())
    val rdds = org.apache.spark.sql.graftbridge.Bridge.planRdds(ck)
    assert(rdds.nonEmpty, "checkpointed frame must expose its plan RDD")
    assert(rdds.forall(_.getStorageLevel != StorageLevel.NONE),
      "checkpoint blocks should be cached before eviction")
    withBudget(1L) {
      // admitting anything evicts ck (LRU, ck is the only other entry)
      Memos.frame(spark, dir, "other")(persisted(0, 10))
    }
    assert(live(dir) == 1, "ck must be evicted")
    assert(rdds.forall(_.getStorageLevel == StorageLevel.NONE),
      "eviction must unpersist the checkpoint RDD blocks, not just the " +
        "CacheManager entry")
    Memos.clearAll()
  }

  test("evicting a DERIVED entry must not free a live dependency's " +
      "checkpoint blocks (shared-RDD ownership guard, ADVICE r15)") {
    Memos.clearAll()
    val dir = "memo-spec/shared"
    // base: a localCheckpointed frame (the lshBandedOld shape)
    val base = Memos.frame(spark, dir, "base")(
      spark.range(0, 50000).toDF("v").localCheckpoint())
    val baseRdds = org.apache.spark.sql.graftbridge.Bridge.planRdds(base)
    assert(baseRdds.nonEmpty &&
      baseRdds.forall(_.getStorageLevel != StorageLevel.NONE))
    // derived: persisted frame BUILT OVER base — its plan embeds
    // base's checkpoint RDD (the cachedLshBucketsOld shape)
    val derived = Memos.frame(spark, dir, "derived") {
      val df = base.filter(col("v") % 2 === 0).persist(); df.count(); df
    }
    assert(org.apache.spark.sql.graftbridge.Bridge.planRdds(derived)
      .map(_.id).toSet.intersect(baseRdds.map(_.id).toSet).nonEmpty,
      "fixture must actually share the checkpoint RDD")
    // bump base so derived is the LRU victim, then force an eviction
    // that stops AFTER derived: budget = current total - 1, so evicting
    // derived (much larger than the tiny new entry) gets back under it
    Memos.frame(spark, dir, "base")(fail("base must be a hit"))
    withBudget(Memos.storedBytes(spark) - 1) {
      Memos.frame(spark, dir, "other")(persisted(0, 10))
    }
    assert(derived.storageLevel == StorageLevel.NONE, "derived evicted")
    assert(baseRdds.forall(_.getStorageLevel != StorageLevel.NONE),
      "derived's eviction must NOT unpersist the live base entry's " +
        "checkpoint blocks")
    // base still readable after the derived eviction
    assert(Memos.frame(spark, dir, "base")(fail("base must still be live"))
      .count() == 50000)
    // releasing the LAST referencing slot frees the shared RDD
    Memos.clearAll()
    assert(baseRdds.forall(_.getStorageLevel == StorageLevel.NONE),
      "clearAll must free the shared checkpoint once no slot embeds it")
  }

  test("concurrent misses on one key admit exactly one frame; the " +
      "loser's build is released, both callers get the winner (ADVICE r15)") {
    Memos.clearAll()
    val dir = "memo-spec/race"
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    // localCheckpoint, not persist: CacheManager dedupes identical
    // persisted plans into ONE entry, but each checkpoint build pins
    // its own distinct RDD blocks — the actual leak shape.
    def racer(): DataFrame =
      Memos.frame(spark, dir, "k") {
        gate.await() // both threads are inside build before either puts
        val df = spark.range(0, 5000).toDF("v").localCheckpoint()
        built.add(df); df
      }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (r1, r2) = (Future(racer()), Future(racer()))
    val (d1, d2) = (Await.result(r1, 60.seconds), Await.result(r2, 60.seconds))
    assert(built.size == 2, "fixture must actually race both builds")
    assert(d1 eq d2, "both callers must receive the same winning frame")
    assert(live(dir) == 1)
    // exactly one of the two built frames keeps its checkpoint blocks
    // (the winner); the loser's must have been released at the RDD,
    // not orphaned in the block manager
    val pinned = built.asScala.count(df =>
      org.apache.spark.sql.graftbridge.Bridge.planRdds(df)
        .exists(_.getStorageLevel != StorageLevel.NONE))
    assert(pinned == 1, s"expected 1 pinned frame (winner), got $pinned")
    assert(org.apache.spark.sql.graftbridge.Bridge.planRdds(d1)
      .forall(_.getStorageLevel != StorageLevel.NONE),
      "the returned winner must be the pinned one")
    Memos.clearAll()
  }

  test("working-set guard: the N newest-hit entries are never evicted " +
      "even under an out-of-contract budget (r16 — an already-fetched " +
      "checkpointed frame must survive until its query reads it)") {
    Memos.clearAll()
    val dir = "memo-spec/guard"
    def admit(i: Int) = Memos.frame(spark, dir, i.toString)(
      spark.range(i * 1000L, i * 1000L + 1000).toDF("v").localCheckpoint())
    val before = Memos.evictions.get()
    try {
      spark.conf.set(Memos.BudgetConf, "1") // everything is over budget
      spark.conf.set(Memos.MinResidentConf, "3")
      val frames = (1 to 5).map(i => i -> admit(i))
      // 5 entries, guard 3: only the 2 oldest (1, 2) may be evicted —
      // the newest 3 (3, 4, 5 at admission time) stay readable even
      // though every admission ran over budget
      assert(live(dir) >= 3, s"guard violated: ${live(dir)} survive")
      frames.drop(2).foreach { case (i, df) =>
        val rdds = org.apache.spark.sql.graftbridge.Bridge.planRdds(df)
        assert(rdds.forall(_.getStorageLevel != StorageLevel.NONE),
          s"entry $i inside the guard window lost its checkpoint blocks")
        assert(df.count() == 1000)
      }
      assert(Memos.evictions.get() > before,
        "older-than-guard entries must still evict")
    } finally {
      spark.conf.unset(Memos.BudgetConf)
      spark.conf.unset(Memos.MinResidentConf)
      Memos.clearAll()
    }
  }

  test("a scratch directory is deleted at JVM exit: q_incr_restart's " +
      "is registered once the row has run") {
    SparkEntry.queries("q_incr_restart")(spark, sfDir).collect()
    // the row's directories of this application, found on disk
    val app = spark.sparkContext.applicationId
    val dirs = Option(new java.io.File(sys.props("java.io.tmpdir"), "graft_incr")
        .listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("restart_") && f.getName.endsWith(app))
    assert(dirs.nonEmpty)
    assert(dirs.forall(f =>
      org.apache.spark.sql.graftbridge.Bridge.deletesAtShutdown(f.getPath)))
  }

  test("within budget nothing evicts; budget default derives from the " +
      "driver heap") {
    Memos.clearAll()
    assert(Memos.budgetBytes(spark) == Runtime.getRuntime.maxMemory() / 2)
    val dir = "memo-spec/nofree"
    val before = Memos.evictions.get()
    val a = Memos.frame(spark, dir, "a")(persisted(0, 1000))
    Memos.frame(spark, dir, "b")(persisted(0, 1000))
    assert(Memos.evictions.get() == before, "evicted under budget")
    assert(live(dir) == 2)
    assert(a.storageLevel != StorageLevel.NONE)
    Memos.clearAll()
    assert(live(dir) == 0)
  }

  test("q_incr_linreg's stored partials are budgeted: an undersized " +
      "budget evicts them and the row rebuilds to the same rows") {
    Memos.clearAll()
    val row = SparkEntry.queries("q_incr_linreg")
    val expected = row(spark, sfDir).collect().toSeq
    val partials = Memos.frame(spark, sfDir, "analytics_ols/linreg_partials")(
      fail("q_incr_linreg must memoize its stored partials"))
    assert(partials.storageLevel != StorageLevel.NONE)
    withBudget(1L) {
      val before = Memos.evictions.get()
      Memos.frame(spark, "memo-spec/linreg", "other")(persisted(0, 10))
      assert(Memos.evictions.get() > before, "eviction counter did not move")
      assert(partials.storageLevel == StorageLevel.NONE,
        "the stored partials must be released by the budget")
      assert(live(sfDir) == 0, "the partials must leave the memo")
      assert(row(spark, sfDir).collect().toSeq == expected,
        "the rebuilt partials must yield the same rows")
      assert(live(sfDir) == 1, "the re-miss must re-admit the partials")
    }
    Memos.clearAll()
  }
}
