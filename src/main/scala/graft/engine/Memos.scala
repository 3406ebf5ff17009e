package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** The one place that decides how a piece of session-scoped stored
  * state is identified, kept and released. Every memo in the engine —
  * persisted / localCheckpointed structure frames, gate scalars and
  * flags, scratch layouts on disk — is keyed by (session, fixture
  * dir, tag), where the tag is `"<module>/<name>"` (`"graphs/edges"`,
  * `"lsh/lshBandedOld"`): the module prefix keeps every row's entries
  * apart, so no two rows can share one by accident. Three entry
  * points:
  *
  *  - [[frame]] — a DataFrame, BYTE-BUDGETED: each admission checks
  *    the block manager's total pinned bytes against [[budgetBytes]]
  *    and evicts least-recently-HIT frames until the total fits
  *    (never the entry just admitted, never the [[MinResidentConf]]
  *    newest). Eviction is a real release — CacheManager entry AND
  *    any checkpoint RDD blocks in the frame's plan — and a later
  *    re-miss simply rebuilds (`MemoBudgetSpec` proves it).
  *  - [[value]] — scalars, flags and small driver arrays (a few longs
  *    each): outside the budget. [[stored]] and [[replace]] are its
  *    peek and overwrite, for an owner that can tell a stale value.
  *  - [[scratchDir]] — the appId-isolated directory a stored layout
  *    is written to.
  *  - [[storedExchange]] / [[keepExchange]] — the one exchange store:
  *    built broadcast relations and the map outputs of shuffles, one
  *    entry per (session, application, canonical exchange plan), held
  *    with the sorted (path, length, mtime) of the files the exchange's
  *    subtree read. A lookup whose files differ is a miss, and the
  *    rebuilt exchange replaces the entry. Their bytes (a relation's
  *    estimated size, the sum of a shuffle's per-partition output
  *    bytes) count in [[storedBytes]], against the same byte budget
  *    and LRU as the frames. An evicted, replaced or cleared entry is
  *    only dropped: a running query may still read it, and Spark's
  *    `ContextCleaner` destroys the relation, or unregisters the
  *    shuffle and deletes its files, once no plan holds it.
  *
  * The `tables/<name>` value tags are the session's table catalog
  * (`Tables.tbl`): one fingerprinted schema per fixture table path,
  * replaced when the table's files change.
  *
  * [[clearAll]] drops all of it: for a harness that switches fixture
  * dirs or wants a cold-cache measurement (the benchmark calls it
  * between session set-ups and before each registry workload).
  *
  * Eviction-safety contract: an evicted checkpointed frame is
  * unreadable (its lineage was truncated at materialization), so
  * handed-out frames must be consumed within the query that fetched
  * them — which the registry convention guarantees: every access
  * goes through [[frame]] (bumping the LRU clock), so the frames a
  * running query depends on are the NEWEST-hit entries and are
  * evicted last; queries materialize their result before returning.
  * Set the budget above the largest single query's working set (the
  * default, half the driver heap, is two orders above it at every
  * measured SF). */
object Memos {

  /** Identity of one memo entry. */
  private final case class Key(s: SparkSession, dir: String, tag: String)

  /** Reference-equality slot (NOT a case class): eviction removes it
    * with the conditional `TrieMap.remove(key, slot)`, so a victim
    * selected from a stale snapshot can never drop a NEWER slot that
    * was re-admitted at the same key after the snapshot was taken. */
  private final class Slot(val key: Key, val df: DataFrame,
      @volatile var lastHit: Long)

  private val frames = TrieMap.empty[Key, Slot]
  private val exchanges = TrieMap.empty[ExchangeKey, ExchangeEntry]
  private val values = TrieMap.empty[Key, Any]
  private val tick = new java.util.concurrent.atomic.AtomicLong(0)

  /** Conf key for the memo byte budget (default: half the driver
    * JVM's max heap — in local mode the one JVM holds every block). */
  val BudgetConf = "spark.graft.memoBudgetBytes"

  /** The session's memo byte budget. */
  def budgetBytes(s: SparkSession): Long =
    s.conf.getOption(BudgetConf).map(_.toLong)
      .getOrElse(Runtime.getRuntime.maxMemory() / 2)

  /** Conf key for the WORKING-SET GUARD: the N newest-hit entries are
    * never eviction victims. A query fetches its memo frames over
    * several [[frame]] calls and only then runs jobs over them; pure
    * LRU under an undersized budget can evict an already-fetched
    * checkpointed frame before the job reads it, and a checkpoint's
    * lineage is truncated — the read then dies with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (observed at sf10 under a
    * deliberately out-of-contract 1.5 GB budget). Keeping the newest
    * N resident turns that hard failure into a bounded overshoot of
    * at most the N newest entries' bytes. Default 8 covers the
    * deepest current query (the signed-LSH family touches ≤ 7
    * entries per invocation). */
  val MinResidentConf = "spark.graft.memoMinResident"

  /** The working-set guard size (entries). */
  def minResident(s: SparkSession): Int =
    s.conf.getOption(MinResidentConf).map(_.toInt).getOrElse(8)

  /** Bytes currently pinned in the block manager (memory + disk),
    * across ALL cached/checkpointed RDDs — memo entries and any
    * in-flight query scratch — plus the stored exchanges (broadcast
    * relations and shuffle map outputs). The budget compares against
    * this total: what matters at runtime is the real storage pressure,
    * not the memos' own share of it. */
  def storedBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum +
      exchanges.values.map(_.bytes.getOrElse(0L)).sum

  /** Cumulative budget evictions (observability + spec hook). */
  val evictions = new java.util.concurrent.atomic.AtomicLong(0)

  /** Cumulative stored exchanges served ([[storedExchange]] hits) and
    * kept ([[keepExchange]] calls), broadcasts and shuffles together. */
  val exchangeHits = new java.util.concurrent.atomic.AtomicLong(0)
  val exchangeMisses = new java.util.concurrent.atomic.AtomicLong(0)

  /** Identity of one stored exchange. The application id keeps an
    * exchange of a stopped SparkContext from being served to a session
    * built after it; `plan` is the canonicalized exchange. */
  private final case class ExchangeKey(s: SparkSession, app: String,
      plan: AnyRef)

  /** A stored exchange: `value` is what its exchange kept (a built
    * broadcast relation, or a shuffle's dependency and metrics), built
    * from `files`, last served at `lastHit` (the LRU clock [[frame]]
    * uses). `size` gives its bytes once it is built — a shuffle is kept
    * when its map stage is planned, and that stage may still run, or
    * may have failed — and None before. */
  final class ExchangeEntry private[Memos] (
      private[Memos] val key: ExchangeKey,
      val files: Seq[(String, Long, Long)],
      val value: AnyRef, size: () => Option[Long],
      @volatile private[Memos] var lastHit: Long) {
    def bytes: Option[Long] = size()
  }

  /** The built exchange stored for `plan` of session `s`, if it was
    * built from exactly `files`. A hit counts as served. */
  def storedExchange(s: SparkSession, plan: AnyRef,
      files: Seq[(String, Long, Long)]): Option[ExchangeEntry] = {
    val hit = exchanges.get(exchangeKey(s, plan))
      .filter(e => e.files == files && e.bytes.isDefined)
    hit.foreach { e =>
      e.lastHit = tick.incrementAndGet(); exchangeHits.incrementAndGet()
    }
    hit
  }

  /** Store `value`, kept by exchange `plan` over `files` with the bytes
    * `size` gives once built, replacing any earlier entry of that plan,
    * then enforce the budget. */
  def keepExchange(s: SparkSession, plan: AnyRef,
      files: Seq[(String, Long, Long)], value: AnyRef,
      size: () => Option[Long]): Unit = {
    val key = exchangeKey(s, plan)
    val e = new ExchangeEntry(key, files, value, size, tick.incrementAndGet())
    exchangeMisses.incrementAndGet()
    exchanges.update(key, e)
    enforceBudget(s, e, releaseFrames = false)
  }

  private def exchangeKey(s: SparkSession, plan: AnyRef) =
    ExchangeKey(s, s.sparkContext.applicationId, plan)

  /** The memoized frame under (s, d, tag), built on a miss. Admission
    * is atomic: `putIfAbsent` decides the winner of two concurrent
    * misses, and a losing builder releases its freshly built frame
    * and returns the winner's (a plain get-then-put left the loser's
    * frame pinned forever). */
  def frame(s: SparkSession, d: String, tag: String)
           (build: => DataFrame): DataFrame = {
    val key = Key(s, d, tag)
    frames.get(key) match {
      case Some(sl) =>
        sl.lastHit = tick.incrementAndGet(); sl.df
      case None =>
        val df = build // outside the lock: builds run Spark jobs
        // Admission holds the Memos lock: release()'s keep-set scan
        // and unpersist loop hold the same lock, so a slot can never
        // become live between a scan and the free it informs — the
        // insert and the budget sweep are one atom.
        synchronized {
          val slot = new Slot(key, df, tick.incrementAndGet())
          frames.putIfAbsent(key, slot) match {
            case Some(winner) =>
              release(df)
              winner.lastHit = tick.incrementAndGet()
              winner.df
            case None =>
              enforceBudget(df.sparkSession, df, releaseFrames = true)
              df
          }
        }
    }
  }

  /** The memoized value under (s, d, tag) — counts, cost-gate stats,
    * "layout written" flags, centroid arrays: deterministic per
    * (session, fixture) like the frames they describe, so one job per
    * session instead of one per invocation. Outside the byte budget. */
  def value[T](s: SparkSession, d: String, tag: String)(build: => T): T =
    values.getOrElseUpdate(Key(s, d, tag), build).asInstanceOf[T]

  /** The value under (s, d, tag), if one is stored. */
  def stored[T](s: SparkSession, d: String, tag: String): Option[T] =
    values.get(Key(s, d, tag)).map(_.asInstanceOf[T])

  /** Store `v` under (s, d, tag), replacing any earlier value. */
  def replace[T](s: SparkSession, d: String, tag: String, v: T): Unit =
    values.update(Key(s, d, tag), v)

  /** The scratch directory of stored layout `tag` for fixture `d`:
    * stable within a session (writes overwrite — no accumulation
    * across invocations), isolated from concurrent processes on the
    * same fixture by the Spark application id, which also breaks
    * cross-fixture 32-bit hashCode collisions between processes. The
    * id makes every application's directory new, so each one is
    * registered for deletion when the JVM shuts down. The directory
    * is a direct child of the temp dir, so `tag` may hold no `/`:
    * deletion at exit would remove only the leaf. */
  def scratchDir(s: SparkSession, d: String, tag: String): String = {
    require(!tag.contains('/'), s"scratch tag '$tag' must not contain '/'")
    val dir = s"${sys.props("java.io.tmpdir")}/graft_${tag}_" +
      Integer.toHexString(d.hashCode) + "_" + s.sparkContext.applicationId
    org.apache.spark.sql.graftbridge.Bridge.deleteAtShutdown(dir)
    dir
  }

  /** Live memo frames of session `s` under fixture dir `d`. */
  private[graft] def frameCount(s: SparkSession, d: String): Int =
    frames.keys.count(k => (k.s eq s) && k.dir == d)

  /** Stored exchanges of session `s`. */
  private[graft] def exchangesOf(s: SparkSession): Seq[ExchangeEntry] =
    exchanges.values.filter(_.key.s eq s).toSeq

  /** Evict every memo: frames are released, values and stored
    * exchanges dropped. Safe to call between fixtures or before a
    * cold-cache measurement; the next query rebuilds what it needs. The map is emptied BEFORE the
    * releases, so [[release]]'s shared-RDD exclusion set no longer
    * counts the dropped slots as live and every shared RDD is freed. */
  def clearAll(): Unit = {
    val dropped = synchronized {
      val all = frames.values.toSeq
      frames.clear()
      all
    }
    dropped.foreach(sl => release(sl.df))
    values.clear()
    exchanges.clear()
  }

  /** Fully release a memoized frame: the CacheManager entry and any
    * checkpoint RDD blocks embedded in its plan THAT NO LIVE SLOT'S
    * PLAN STILL EMBEDS. The ownership guard matters: a derived entry's
    * plan can embed another live entry's checkpoint RDD (a persisted
    * bucket index built over a localCheckpointed banded frame), and
    * unpersisting every plan RDD would destroy the live dependency's
    * blocks. A shared RDD is freed when its LAST referencing slot is
    * released. Liveness is decided per SLOT: a victim is removed from
    * the map BEFORE release is called, so "live" = everything still
    * in the map; if the SAME DataFrame is also memoized under another
    * key, that twin keeps the cache entry and every plan RDD.
    * Blocking, so the budget check right after an eviction reads
    * post-release sizes; runs under the Memos lock (see [[frame]]). */
  private def release(df: DataFrame): Unit = synchronized {
    val live = frames.values.toSeq
    val keep: Set[Int] = live
      .flatMap(sl => org.apache.spark.sql.graftbridge.Bridge.planRdds(sl.df))
      .map(_.id).toSet
    if (!live.exists(_.df eq df)) df.unpersist(blocking = true)
    org.apache.spark.sql.graftbridge.Bridge.planRdds(df).foreach { r =>
      if (!keep.contains(r.id) &&
          r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        r.unpersist(blocking = true)
    }
  }

  /** Evict least-recently-hit entries — frames and stored exchanges —
    * until [[storedBytes]] fits the budget. The just-admitted entry is
    * exempt; if everything evictable is gone and the total still
    * exceeds the budget, the residue is in-flight query scratch —
    * released by its own query's end-of-call discipline.
    *
    * An exchange is admitted inside a running query (its map stage is
    * being planned, or its relation was just built), where releasing a
    * frame could wait on a cache that very query is building: that
    * admission (`releaseFrames` false) only drops exchanges, without
    * the Memos lock, and frames over the budget are released at the
    * next frame admission, which holds the lock (see [[frame]]).
    *
    * Known slack (accepted): a persisted (non-checkpointed) entry's
    * blocks only materialize at its first action, so `storedBytes`
    * can exclude the newest entry and the budget is enforced one
    * admission late — the session may transiently exceed it by the
    * largest entry's size, which the half-heap default leaves room
    * for by construction. */
  private def enforceBudget(s: SparkSession, justAdmitted: AnyRef,
                            releaseFrames: Boolean): Unit = {
    val budget = budgetBytes(s)
    if (budget <= 0 || storedBytes(s) <= budget) return
    val victims: Seq[(Long, () => Unit)] =
      (if (!releaseFrames) Nil
       else frames.values.toSeq.filter(_.df ne justAdmitted).map(v =>
         v.lastHit -> (() => { frames.remove(v.key, v); release(v.df) }))) ++
      exchanges.values.toSeq.filter(_ ne justAdmitted).map(v =>
        v.lastHit -> (() => { exchanges.remove(v.key, v); () }))
    // working-set guard: the newest-hit entries are never victims
    val it = victims.sortBy(_._1).dropRight(minResident(s)).iterator
    while (storedBytes(s) > budget && it.hasNext) {
      it.next()._2()
      evictions.incrementAndGet()
    }
  }
}
