package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a workload run needs. `expected` holds the committed
  * fingerprints of the registry rows on the bench fixture. */
final case class Ctx(spark: SparkSession, client: Client, data: String, work: Path,
                     seed: Long, seconds: Int, trace: Boolean,
                     expected: Map[String, Fingerprint]) {
  private var t0: Long = System.nanoTime()
  /** Starts the measured window (after untimed input preparation). */
  def startWindow(): Unit = t0 = System.nanoTime()
  def elapsedMs: Double = (System.nanoTime() - t0) / 1e6
  def windowMs: Double = seconds * 1000.0
  /** In a traced run, rounds alternate traced / untraced (round 0
    * traced). */
  def traceRound(i: Int): Unit = client.setTracing(trace && i % 2 == 0)
}

trait Workload {
  def name: String
  /** Tables the traced run resolves directly through `Tables.tbl`. */
  def tables: Seq[String]
  def run(ctx: Ctx): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "olap_warm" => Registry.OlapWarm
    case "state_build_serve" => Registry.StateBuildServe
    case "incr_delta" => IncrDelta
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Registry rows of `graft.SparkEntry.queries`, in a session with
  * cleared memos. Row by row, in registry order: the cold call, one
  * settling call (checked, not timed into the warm metrics: right after
  * the cold call the JIT is still compiling the warm path), then
  * `measuredCalls` warm calls. A row's cold and warm calls thus run
  * seconds apart, so a burst of host contention hits both sides of its
  * cold / warm ratio alike. Then, while the window lasts, further
  * rounds of one warm call per row in seeded order.
  *
  * In a traced run the measured warm calls alternate traced / untraced
  * (at least two each row), so one run yields both the per-layer counts
  * and the tracing overhead. Every call's fingerprint must equal the
  * committed one; a later call's must also equal its row's cold one. */
final class Registry(val name: String, val rows: Seq[String], val tables: Seq[String],
                     measuredCalls: Int) extends Workload {
  def run(ctx: Ctx): Unit = {
    val q = graft.SparkEntry.queries
    val rng = new scala.util.Random(ctx.seed)
    graft.engine.Memos.clearAll()
    val cold = mutable.Map.empty[String, Fingerprint]
    def warm(kind: String, r: String): Unit = ctx.client.call(kind, r) {
      val fp = Fingerprint.of(q(r)(ctx.spark, ctx.data))
      (ctx.expected.get(r).contains(fp) && cold.get(r).contains(fp), Map.empty)
    }
    val measured = if (ctx.trace) math.max(2, measuredCalls) else measuredCalls
    rows.foreach { r =>
      ctx.traceRound(0)
      ctx.client.call("cold", r) {
        val fp = Fingerprint.of(q(r)(ctx.spark, ctx.data))
        cold(r) = fp
        (ctx.expected.get(r).contains(fp), Map.empty)
      }
      ctx.traceRound(1)
      warm("settle", r)
      for (i <- 0 until measured) {
        ctx.traceRound(i)
        warm("warm", r)
      }
    }
    var round = measured
    var lastRoundMs = 0.0
    while (ctx.elapsedMs + lastRoundMs <= ctx.windowMs) {
      ctx.traceRound(round)
      val r0 = ctx.elapsedMs
      rng.shuffle(rows).foreach(warm("warm", _))
      lastRoundMs = ctx.elapsedMs - r0
      round += 1
    }
  }
}

object Registry {
  /** TPC-H rows, few enough that their cold, settling and measured warm
    * calls fit the run budget: a scan aggregate (q1), a filter aggregate
    * (q6) and join chains of three and six tables (q3, q5). They keep no
    * memo state, so their time is table resolution, Catalyst and
    * scheduling. */
  val OlapWarm = new Registry("olap_warm",
    Seq("q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6"),
    Seq("lineitem", "orders", "customer"), measuredCalls = 2)

  /** At least one state-building row per family: cold builds the
    * session memo, warm serves it. */
  val StateBuildServe = new Registry("state_build_serve",
    Seq("q_dedup_auto", "q_dedup_groups", "q_sim_setjoin_dedup", "q_graph_cc_lineitem",
      "q_iter_pagerank", "q_apriori_pairs"),
    Seq("documents", "lineitem", "embeddings"), measuredCalls = 3)

  def family(row: String): String = row.stripPrefix("q_").takeWhile(_ != '_')
  val families: Seq[String] = Seq("dedup", "sim", "graph", "iter", "apriori")
}

/** The paper's metric: incremental step vs full recompute for four
  * families at two delta fractions. The state
  * build is timed once; then repetitions of all cells, in seeded order,
  * until the window is spent (at least one). Each cell writes a fresh
  * seeded delta, runs the recompute and then the step, and the step
  * passes only if its output equals the recompute's exactly. */
object IncrDelta extends Workload {
  val name = "incr_delta"
  val tables: Seq[String] = Seq("lineitem", "orders", "documents")
  /** Two delta sizes, two decades apart: one repetition of 4 families
    * at three sizes (with 1%) took twice the run window on this
    * fixture. */
  val fractions: Seq[(String, Double)] = Seq("0.1pct" -> 0.001, "10pct" -> 0.1)
  val familyNames: Seq[String] = Seq("wordcount", "kvmerge", "mrbg", "merge_part")

  def cell(family: String, frac: String): String = s"$family.$frac"

  def run(ctx: Ctx): Unit = {
    val fams = Family.all(ctx.spark, ctx.data, ctx.work.resolve("incr"))
    ctx.traceRound(0)
    ctx.client.prep("base") { fams.foreach(_.prepareBase()) }
    ctx.startWindow()
    fams.foreach { f =>
      ctx.client.call("build", f.name) { f.build(); (true, Map.empty) }
    }
    val rng = new scala.util.Random(ctx.seed)
    val cells = for (f <- fams; (label, frac) <- fractions) yield (f, label, frac)
    var rep = 0
    var lastRepMs = 0.0
    while (rep < 1 || ctx.elapsedMs + lastRepMs <= ctx.windowMs) {
      ctx.traceRound(rep)
      val r0 = ctx.elapsedMs
      rng.shuffle(cells).foreach { case (f, label, frac) =>
        val c = cell(f.name, label)
        val deltaSeed = scala.util.hashing.MurmurHash3.stringHash(s"${ctx.seed}/$c/$rep").toLong
        val (rows, bytes) = ctx.client.prep(s"delta $c") {
          f.prepare(frac, deltaSeed)
          (if (ctx.trace) f.deltaRows else 0L, f.deltaBytes)
        }
        var reference: Option[Fingerprint] = None
        ctx.client.call("recompute", c) {
          reference = Some(f.recompute()); (true, Map.empty)
        }
        ctx.client.call("step", c) {
          val (fp, extra) = f.step()
          (reference.contains(fp), extra + ("delta_rows" -> rows.toDouble,
            "delta_bytes" -> bytes.toDouble))
        }
      }
      lastRepMs = ctx.elapsedMs - r0
      rep += 1
    }
  }
}
