package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Graft
import graft.engine.Tables
import graft.incr.IncrMerge
import graft.iter.{Graphs, IterQueries, MrbgPagerank}

/** One incremental family of `incr_delta`: a stored state built once,
  * then per cell a generated delta, an incremental step over the
  * state, and a full recompute over the post-delta input.
  *
  * The harness writes each cell's delta to `delta/changes.parquet`, one
  * table whose `op` column marks inserts ("I") and deletes ("D"). The
  * program reads it, its stored state and any output it wrote back
  * through `Tables.tbl`, and every one of these paths is rewritten in
  * place on every cell. */
abstract class Family(val name: String, spark: SparkSession, val fixture: String, root: Path) {
  val dir: Path = root.resolve(name)
  def path(sub: String): String = dir.resolve(sub).toString
  def read(sub: String, table: String): DataFrame = Tables.tbl(spark, path(sub), table)
  def write(df: DataFrame, sub: String, table: String): Unit =
    df.write.mode("overwrite").parquet(s"${path(sub)}/$table.parquet")

  /** The base input the deltas apply to, its row key, and how an
    * inserted row gets a key the base does not hold. */
  def base: DataFrame
  def rowKey: Seq[String]
  def fresh(picked: DataFrame): DataFrame

  /** Untimed inputs the state build reads. */
  def prepareBase(): Unit = ()
  /** The one-time build of the stored state (timed). */
  def build(): Unit
  /** The incremental step, with sub-timings in ms. */
  def step(): (Fingerprint, Map[String, Double])
  /** The full recompute over the post-delta input. */
  def recompute(): Fingerprint

  /** Writes the cell's delta; untimed. */
  def prepare(fraction: Double, seed: Long): Unit = {
    val d = DeltaGen.generate(base, rowKey, fraction, seed, fresh)
    write(d.inserts.withColumn("op", lit("I"))
      .unionByName(d.deletes.withColumn("op", lit("D"))), "delta", "changes")
  }

  private def changes(op: String): DataFrame =
    read("delta", "changes").filter(col("op") === op).drop("op")
  def inserts: DataFrame = changes("I")
  def deletes: DataFrame = changes("D")
  /** The post-delta input, from the base and the written delta. */
  def post: DataFrame = DeltaGen.applyTo(base, Delta(inserts, deletes), rowKey)

  private def deltaPath = dir.resolve("delta").resolve("changes.parquet")
  /** Bytes of the delta's parquet files. */
  def deltaBytes: Long = {
    val all = Files.walk(deltaPath)
    try all.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
    finally all.close()
  }
  /** Rows of the delta (an extra Spark job: counted in traced runs only). */
  def deltaRows: Long = read("delta", "changes").count()
}

object Family {
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Whitespace-token counts, the from-scratch wordcount. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  def all(spark: SparkSession, fixture: String, root: Path): Seq[Family] = Seq(
    new WordCount(spark, fixture, root), new KvMerge(spark, fixture, root),
    new Mrbg(spark, fixture, root), new MergePart(spark, fixture, root))
}

/** `Graft.incrTokenCounts` over stored base counts vs a from-scratch
  * wordcount of the post-delta corpus. */
final class WordCount(spark: SparkSession, fixture: String, root: Path)
    extends Family("wordcount", spark, fixture, root) {
  def base: DataFrame = Tables.tbl(spark, fixture, "documents").select("doc_id", "text")
  val rowKey = Seq("doc_id")
  def fresh(d: DataFrame): DataFrame = d.withColumn("doc_id", -col("doc_id") - 1)

  def build(): Unit = write(Family.tokenCounts(base), "state", "counts")

  def step(): (Fingerprint, Map[String, Double]) =
    (Fingerprint.of(Graft.incrTokenCounts(read("state", "counts"), inserts, deletes, "text")),
      Map.empty)

  def recompute(): Fingerprint =
    Fingerprint.of(Family.tokenCounts(post).select(col("word"), col("n").as("n_total")))
}

/** `IncrMerge` partials: the delta's signed partials are written and
  * read back, then merged with the stored partials, vs the partials of
  * the whole post-delta `lineitem`. */
final class KvMerge(spark: SparkSession, fixture: String, root: Path)
    extends Family("kvmerge", spark, fixture, root) {
  private val keys = Seq("l_partkey")
  private val value = col("l_extendedprice")
  def base: DataFrame = Tables.tbl(spark, fixture, "lineitem")
  val rowKey = Seq("l_orderkey", "l_linenumber")
  def fresh(d: DataFrame): DataFrame = d.withColumn("l_orderkey", col("l_orderkey") + lit(1000000000L))

  def build(): Unit = IncrMerge.writePartials(
    IncrMerge.partials(base, keys, value), s"${path("state")}/partials.parquet")

  def step(): (Fingerprint, Map[String, Double]) = {
    val signed = IncrMerge.partials(inserts, keys, value).unionByName(
      IncrMerge.partials(deletes, keys, value)
        .select(col("l_partkey"), (-col("n")).as("n"), (-col("psum")).as("psum")))
    val tw = System.nanoTime()
    IncrMerge.writePartials(signed, s"${path("delta")}/partials.parquet")
    val writeMs = Family.msSince(tw)
    val tr = System.nanoTime()
    val stored = read("state", "partials")
    val back = read("delta", "partials")
    val readMs = Family.msSince(tr)
    val merged = IncrMerge.mergePartials(keys, stored, back).filter(col("n") > 0)
    (Fingerprint.of(merged), Map("state_write_ms" -> writeMs, "state_read_ms" -> readMs))
  }

  def recompute(): Fingerprint = Fingerprint.of(IncrMerge.partials(post, keys, value))
}

/** `MrbgPagerank.incrRun` (threshold 0) from preserved contributions
  * vs the same iterations over the whole post-delta graph from the
  * same base ranks. Integer ranks make the two bit-equal. Both run
  * under the program's loop configuration, and both read the post-delta
  * edge list, which the harness materializes with the delta. */
final class Mrbg(spark: SparkSession, fixture: String, root: Path)
    extends Family("mrbg", spark, fixture, root) {
  val iters = 1
  private var nodes: DataFrame = _
  private var ranks: DataFrame = _
  private var c0: DataFrame = _
  private var s0: DataFrame = _

  def base: DataFrame = read("base", "edges")
  val rowKey = Seq("src", "dst")
  /** New edges between existing nodes: each picked edge keeps its src
    * and takes the dst of the next picked edge in hash order. */
  def fresh(picked: DataFrame): DataFrame = picked
    .select(col("src"), lead(col("dst"), 1)
      .over(Window.orderBy(xxhash64(col("src"), col("dst")), col("src"), col("dst"))).as("dst"))
    .filter(col("dst").isNotNull && col("src") =!= col("dst")).distinct()
    .join(base, rowKey, "left_anti")

  private def withDeg(e: DataFrame): DataFrame =
    e.join(broadcast(Graphs.deg(e)), "src").select("src", "dst", "outdeg")

  override def prepareBase(): Unit = write(Graphs.edges(spark, fixture), "base", "edges")

  override def prepare(fraction: Double, seed: Long): Unit = {
    super.prepare(fraction, seed)
    write(post, "post", "edges")
  }

  def build(): Unit = IterQueries.loopConf(spark) {
    val e = base
    nodes = Graphs.allNodes(e).localCheckpoint()
    val edgesDeg = withDeg(e)
    ranks = IterQueries.pagerankOn(nodes, edgesDeg, 2)
    c0 = MrbgPagerank.contribsFor(edgesDeg, ranks, nodes.select(col("node").as("src")))
      .localCheckpoint()
    s0 = nodes.join(c0.groupBy("dst").agg(sum(col("c")).as("S")),
        nodes("node") === col("dst"), "left")
      .select(col("node"), coalesce(col("S"), lit(0L)).as("S")).localCheckpoint()
  }

  private def ranked(state: DataFrame): Fingerprint =
    Fingerprint.of(state.select("node", "rs"))

  def step(): (Fingerprint, Map[String, Double]) = IterQueries.loopConf(spark) {
    val edgesDegNew = withDeg(read("post", "edges")).localCheckpoint()
    val frontier = read("delta", "changes").select("src").distinct()
    val fp = ranked(MrbgPagerank.incrRun(edgesDegNew, ranks, c0, s0, frontier, 0L, iters))
    edgesDegNew.unpersist(blocking = false)
    (fp, Map.empty)
  }

  def recompute(): Fingerprint = IterQueries.loopConf(spark) {
    val edgesDeg = withDeg(read("post", "edges"))
    var state = ranks
    for (_ <- 1 to iters) {
      val s = edgesDeg.join(state, state("node") === edgesDeg("src"))
        .selectExpr("dst", "rs DIV outdeg AS c")
        .groupBy("dst").agg(sum(col("c")).as("S"))
      state = nodes.join(s, nodes("node") === s("dst"), "left")
        .selectExpr("node", "CAST(1500000000 + (85 * coalesce(S, 0)) DIV 100 AS BIGINT) AS rs")
    }
    ranked(state)
  }
}

/** `Graft.mergeIntoPartitioned` into a partitioned copy of `orders`,
  * read back, vs a full rewrite of the post-delta table, read back. The
  * live table is reset from a pristine copy before every cell. */
final class MergePart(spark: SparkSession, fixture: String, root: Path)
    extends Family("merge_part", spark, fixture, root) {
  private val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
  private val part = "o_orderpriority"
  def base: DataFrame = Tables.tbl(spark, fixture, "orders").select(cols.map(col): _*)
  val rowKey = Seq("o_orderkey")
  def fresh(d: DataFrame): DataFrame = d.withColumn("o_orderkey", -col("o_orderkey") - 1)

  def build(): Unit =
    base.write.mode("overwrite").partitionBy(part).parquet(s"${path("pristine")}/orders_part.parquet")

  override def prepare(fraction: Double, seed: Long): Unit = {
    Fs.replaceTree(dir.resolve("pristine/orders_part.parquet"), dir.resolve("live/orders_part.parquet"))
    super.prepare(fraction, seed)
  }

  private def readBack(sub: String): Fingerprint =
    Fingerprint.of(read(sub, "orders_part").select(cols.map(col): _*))

  def step(): (Fingerprint, Map[String, Double]) = {
    Graft.mergeIntoPartitioned(spark, s"${path("live")}/orders_part.parquet",
      read("delta", "changes"), rowKey, part, whenMatchedDelete = col("s.op") === "D")
    (readBack("live"), Map.empty)
  }

  def recompute(): Fingerprint = {
    post.write.mode("overwrite").partitionBy(part).parquet(s"${path("recompute")}/orders_part.parquet")
    readBack("recompute")
  }
}

/** Small file-tree helpers for resets. */
object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
    try all.forEach(f => Files.delete(f)) finally all.close()
  }

  /** Makes `dst` an exact copy of the tree at `src`. */
  def replaceTree(src: Path, dst: Path): Unit = {
    deleteTree(dst)
    val all = Files.walk(src)
    try all.forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally all.close()
  }
}
