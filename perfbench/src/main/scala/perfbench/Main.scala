package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.engine.{Memos, Tables}

/** The benchmark JVM. One closed-loop client drives graft's public
  * entry points in a `local[N]` session:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <fixture dir> --work <scratch dir> --out <result file>
  *                --expected <committed fingerprints>
  * }}}
  *
  * It sets up the session three times (the first from JVM start), runs
  * the workload, checks every output, and writes one JSON result: the
  * end-to-end metrics when untraced, the per-layer metrics when traced.
  * A traced run also writes its spans under `<work>/trace/`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: Path, out: Path, expected: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace,
      need("data"), Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")),
      Paths.get(need("expected")))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors
  val WarmUpKey = "warmup:nation_region"

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The set-up's warm-up call: resolve two tables, join and aggregate
    * them, and fingerprint the result, so the first measured call does
    * not pay the planner's and code generator's class loading alone. */
  def warmUp(s: SparkSession, data: String): Fingerprint = {
    import org.apache.spark.sql.functions.{col, count, lit}
    Fingerprint.of(Tables.tbl(s, data, "nation")
      .join(Tables.tbl(s, data, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("nations")))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val wl = Workload(a.workload)
    val expected = Expected.load(a.expected)
    Files.createDirectories(a.work)

    // Set-up, three times: JVM start → session → warm-up result, then
    // twice more from a stopped session with cleared memos.
    var spark = session(a.work)
    val warmFps = scala.collection.mutable.ArrayBuffer(warmUp(spark, a.data))
    val setups = scala.collection.mutable.ArrayBuffer(
      (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    for (_ <- 1 to 2) {
      spark.stop()
      Memos.clearAll()
      val t0 = System.nanoTime()
      spark = session(a.work)
      warmFps += warmUp(spark, a.data)
      setups += (System.nanoTime() - t0) / 1e9
    }

    val tracer = new Tracer(spark)
    val client = new Client(spark, tracer)
    val warmOk = warmFps.forall(fp => expected.get(Main.WarmUpKey).contains(fp))
    if (!warmOk) client.failures += "warm-up fingerprint differs from the committed one"
    val evictions0 = Memos.evictions.get()
    val steal0 = Host.stealSeconds()
    val ctx = Ctx(spark, client, a.data, a.work, a.seed, a.seconds, a.trace, expected)
    wl.run(ctx)
    val windowS = ctx.elapsedMs / 1000.0

    if (a.trace) for (_ <- 1 to 3; on <- Seq(false, true); t <- wl.tables) {
      client.setTracing(on)
      client.call("resolve", t) { Tables.tbl(spark, a.data, t); (true, Map.empty) }
    }
    client.setTracing(false)
    val end = EndState(Memos.storedBytes(spark), spark.sparkContext.getRDDStorageInfo.length,
      Memos.evictions.get() - evictions0, Host.stealSeconds() - steal0)

    val metrics =
      if (a.trace) Metrics.perLayer(wl, client, tracer, end, cores)
      else Metrics.endToEnd(wl, client, setups.toSeq)
    if (a.trace) tracer.writeSpans(a.work.resolve("trace").resolve(s"${a.workload}-seed${a.seed}.jsonl"))
    Files.write(a.work.resolve(s"samples-${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.tsv"),
      client.samples.map(s => f"${s.kind}\t${s.item}\t${s.ms}%.1f\t${s.ok}\t${s.traced}")
        .mkString("kind\titem\tms\tok\ttraced\n", "\n", "\n").getBytes("UTF-8"))
    spark.stop()

    val attempted = client.samples.size + 1
    val failed = client.samples.count(!_.ok) + (if (warmOk) 0 else 1)
    val summary = Metrics.summary(wl, client, setups.toSeq, windowS)
    System.err.println(summary)
    client.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val line = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit))) })))
    Files.write(a.out, (line + "\n").getBytes("UTF-8"))
  }
}

final case class EndState(storedBytes: Long, cachedRdds: Int, evictions: Long, stealS: Double)

object Host {
  /** Hypervisor steal time of the whole host, in seconds (field 8 of
    * the `cpu` line of /proc/stat, in USER_HZ = 100 ticks). */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toDouble / 100.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
