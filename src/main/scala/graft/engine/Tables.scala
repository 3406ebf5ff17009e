package graft.engine

import scala.collection.mutable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
  SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Typed fixture readers for the driver-generated testdata
  * (FIXTURES.md). The reference tree at /root/reference is absent
  * (SURVEY.md §0), so semantics cite the published i2MapReduce paper
  * via SURVEY.md instead of reference file:line.
  *
  * Scale note: every reader is a plain parquet scan — columnar,
  * splittable, predicate-pushdown-capable. At cluster scale the same
  * code reads a partitioned table directory; nothing here assumes a
  * single file.
  */
object Tables {
  /** The driver contract's query shape: (session, sf-dir) => result. */
  type Q = (SparkSession, String) => DataFrame

  /** Fixture table `name` under `dir`, resolved through the session's
    * table catalog: its schema is inferred once per session and
    * re-inferred only when the table's files change.
    *
    * Every read installs graft's planner strategies on `s`
    * ([[graft.plans.GraftStrategies]]), among them the reuse of built
    * broadcast relations across calls.
    *
    * The catalog entry lives in [[Memos.value]]'s store under tag
    * `tables/<name>` (one entry per path, replaced on change, dropped by
    * [[Memos.clearAll]]). It holds the analyzed relation of the read
    * that resolved the table and that read's fingerprint: the sorted
    * (path, length, modification time) of every file its file index
    * listed, nested partition files included. A hit lists the table's
    * files once ([[listing]]) and, when they still match, returns a
    * new instance of the stored relation (fresh attribute ids, the
    * stored file index): no data source, no file index and no Spark
    * job. On a mismatch the table is inferred again and the entry
    * replaced. The stored index is never refreshed in place, so a
    * frame returned earlier keeps reading the files it was built
    * over. A miss returns the inferring read itself. */
  def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.plans.GraftStrategies.install(s)
    val path = s"$dir/$name.parquet"
    val tag = s"tables/$name"
    Memos.stored[Entry](s, dir, tag)
      .filter(e => listing(s, path).contains(e.files))
      .map(e => e.finish(Bridge.ofRows(s, e.relation.newInstance())))
      .getOrElse {
        val (df, ts) =
          if (name == "events") eventsRead(s, path)
          else (s.read.parquet(path), None)
        val e = Entry(relationOf(df), ts)
        Memos.replace(s, dir, tag, e)
        e.finish(df)
      }
  }

  /** Run SQL text over the fixture tables under `dir`. The text is
    * parsed once and each relation that names a fixture table is bound
    * to that table's [[tbl]] plan under its own name ([[bindTables]]),
    * so no temp view is registered and the query is the call's only
    * SQL execution. A relation named like a CTE in scope stays the
    * CTE's. A table named twice (TPC-H's `nation n1`, `nation n2`) is
    * resolved once; the analyzer gives each use its own attributes. */
  def runSql(s: SparkSession, dir: String, q: String): DataFrame = {
    val plans = mutable.Map.empty[String, LogicalPlan]
    Bridge.ofRows(s, bindTables(s.sessionState.sqlParser.parsePlan(q)) { t =>
      SubqueryAlias(t, plans.getOrElseUpdate(t, Bridge.analyzed(tbl(s, dir, t))))
    })
  }

  /** The fixture tables SQL text `q` reads: the relations [[runSql]]
    * binds — CTE bodies and subqueries included, a CTE's own name
    * excluded — in [[allNames]] order. */
  private[graft] def namedIn(s: SparkSession, q: String): Seq[String] = {
    val named = mutable.Set.empty[String]
    bindTables(s.sessionState.sqlParser.parsePlan(q)) { t =>
      named += t
      UnresolvedRelation(Seq(t))
    }
    allNames.filter(named)
  }

  /** `plan` with each single-part relation that names a fixture table
    * replaced by `bind(name)`, in CTE bodies and subquery expressions
    * too, except where a CTE of that name is in scope (`ctes`): a CTE
    * body sees the CTEs defined before it (and itself under WITH
    * RECURSIVE), the WITH's query sees them all. */
  private def bindTables(plan: LogicalPlan, ctes: Set[String] = Set.empty)(
      bind: String => LogicalPlan): LogicalPlan = plan match {
    case w: UnresolvedWith =>
      val names = w.cteRelations.map(c => lower(c._1))
      val bodies = w.cteRelations.zipWithIndex.map { case ((n, body, depth), i) =>
        val scope = ctes ++ names.take(if (w.allowRecursion) i + 1 else i)
        (n, bindTables(body, scope)(bind).asInstanceOf[SubqueryAlias], depth)
      }
      w.copy(child = bindTables(w.child, ctes ++ names)(bind),
        cteRelations = bodies)
    case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
      val t = lower(r.multipartIdentifier.head)
      if (allNames.contains(t) && !ctes(t)) bind(t) else r
    case p => p.mapChildren(bindTables(_, ctes)(bind)).transformExpressions {
      case e: SubqueryExpression => e.withNewPlan(bindTables(e.plan, ctes)(bind))
    }
  }

  private def lower(n: String): String = n.toLowerCase(java.util.Locale.ROOT)

  /** One catalog entry: the analyzed relation a table was resolved to,
    * the fingerprint of the files its index listed, and the `ts`
    * normalization (events). */
  private final case class Entry(relation: LogicalRelation, ts: Option[Column]) {
    val files: Seq[(String, Long, Long)] = fingerprint(relation)
    def finish(df: DataFrame): DataFrame =
      ts.fold(df)(df.withColumn("ts", _))
  }

  /** The relation a file read `df` analyzed to. */
  private def relationOf(df: DataFrame): LogicalRelation =
    Bridge.analyzed(df).collectFirst { case l: LogicalRelation => l }
      .getOrElse(throw new IllegalStateException(
        s"not a file read: ${Bridge.analyzed(df).nodeName}"))

  /** Sorted (path, length, modification time) of the files `relation`'s
    * file index listed when the read was built — no second listing and
    * no Spark job. */
  private def fingerprint(relation: LogicalRelation): Seq[(String, Long, Long)] =
    (relation.relation match {
      case r: HadoopFsRelation => listed(r.location)
      case _ => None
    }).getOrElse(throw new IllegalStateException(
      s"cannot fingerprint a read over ${relation.relation}"))

  /** Sorted (path, length, modification time) of the files under
    * `path` as Spark's file index lists them: one `listStatus` per
    * directory (no block locations), names Spark skips skipped
    * ([[Bridge.listsName]]). None when `path` does not exist. */
  private[graft] def listing(s: SparkSession, path: String)
      : Option[Seq[(String, Long, Long)]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Seq[(String, Long, Long)] =
      fs.listStatus(dir).toSeq.filter(f => Bridge.listsName(f.getPath.getName))
        .flatMap { f =>
          if (f.isDirectory) walk(f.getPath)
          else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
        }
    try Some(walk(fs.makeQualified(root)).sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Sorted (path, length, modification time) of the files a file index
    * listed, if it is one that lists files itself. */
  private[graft] def listed(i: FileIndex): Option[Seq[(String, Long, Long)]] =
    i match {
      case p: PartitioningAwareFileIndex => Some(p.allFiles()
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sorted)
      case _ => None
    }

  /** The parquet directory `root` read with the data schema Spark wrote
    * into its footer ([[writtenSchema]]), so the read starts no
    * schema-inference job; partition columns are still inferred from
    * the directory names, as an inferring read does. Without the footer
    * key (or a data file) the read infers. */
  def readWritten(s: SparkSession, fs: FileSystem, root: Path): DataFrame =
    writtenSchema(fs, root).fold(s.read.parquet(root.toString))(
      s.read.schema(_).parquet(root.toString))

  /** The schema Spark wrote into the footer of one data file under
    * `root` (key `org.apache.spark.sql.parquet.row.metadata`; partition
    * columns are not in it), found by a Hadoop listing and read on the
    * driver — no Spark job. None when `root` or a data file is missing
    * or the file carries no such key (not written by Spark). Data files are
    * what Spark's own listing reads: no path component below `root`
    * starts with `_` or `.`. */
  private[graft] def writtenSchema(fs: FileSystem, root: Path)
      : Option[StructType] = {
    if (!fs.exists(root)) return None // the inferring read reports it
    val prefix = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
    def isData(p: Path): Boolean = p.toUri.getPath.stripPrefix(prefix)
      .split('/').forall(c => !c.startsWith("_") && !c.startsWith("."))
    val files = fs.listFiles(root, true)
    var found: Option[Path] = None
    while (found.isEmpty && files.hasNext) {
      val p = files.next().getPath
      if (isData(p)) found = Some(p)
    }
    found.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, fs.getConf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** events.parquet physical schema with ts as a raw integer epoch —
    * the fallback read used only when Spark's schema inference rejects
    * the footer (TIMESTAMP(NANOS), SPARK-40819). A user-supplied
    * LongType schema reads the raw int64 without any session-wide
    * legacy conf, so no session state is mutated. */
  private val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Convert a raw int64 epoch `ts` column to µs by sniffing the unit
    * from one non-null sample's magnitude (2024-era epochs: seconds
    * ≈1.7e9, millis ≈1.7e12, micros ≈1.7e15, nanos ≈1.7e18 — four
    * decades apart, so one row decides unambiguously). The sample read
    * is one row of one column chunk — O(1) even on a 100 TB table. */
  private def longEpochToMicros(df: DataFrame): Column = {
    val sample = df.select(col("ts")).where(col("ts").isNotNull).head(1)
    val v = if (sample.isEmpty) 0L else math.abs(sample(0).getLong(0))
    if (v >= 1e17) expr("ts div 1000")            // nanos
    else if (v >= 1e14) col("ts")                 // micros
    else if (v >= 1e11) col("ts") * lit(1000L)    // millis
    else col("ts") * lit(1000000L)                // seconds
  }

  def region(s: SparkSession, d: String): DataFrame    = tbl(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = tbl(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = tbl(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = tbl(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = tbl(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = tbl(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = tbl(s, d, "lineitem")
  /** events with `ts` normalized to TimestampType (µs precision),
    * whatever the fixture's physical layout. The driver has shipped
    * this column as parquet TIMESTAMP(NANOS) (rounds 1–8) and as
    * timestamp[us] with isAdjustedToUTC=false (round 9+) — a reader
    * that hardcodes one layout breaks on the next regeneration
    * (VERDICT r9), so we sniff instead of assuming:
    *  1. native `spark.read.parquet` first — handles TIMESTAMP(MICROS/
    *     MILLIS) directly; TIMESTAMP_NTZ (isAdjustedToUTC=false under
    *     Spark 4's default inferTimestampNTZ) is cast to TimestampType,
    *     which under the engine's UTC session timezone preserves the
    *     instant bit-for-bit (DuckDB reads the same column as a naive
    *     timestamp, so the engines agree);
    *  2. if schema inference rejects the footer (TIMESTAMP(NANOS),
    *     SPARK-40819) — fall back to an explicit LongType schema and
    *     integer-divide nanos→µs (`div`, not double: ns-since-epoch
    *     exceeds double's 53-bit mantissa);
    *  3. a plain int64 `ts` is unit-sniffed by magnitude
    *     (longEpochToMicros).
    * The sniffing (and step 3's one-row sample job) runs once per
    * catalog fingerprint, not once per call (see [[tbl]]).
    * FixtureContractSpec pins the resulting values to the documented
    * 2024 range so the NEXT layout change fails loudly in `sbt test`,
    * not silently in the oracle. */
  def events(s: SparkSession, d: String): DataFrame = tbl(s, d, "events")

  /** The inferring read of events.parquet at `path` and the expression
    * that normalizes its `ts` (None: already TimestampType). */
  private def eventsRead(s: SparkSession,
                         path: String): (DataFrame, Option[Column]) = {
    // Fall back ONLY on the schema-inference rejection the fallback
    // is built for (TIMESTAMP(NANOS), SPARK-40819) — any other failure
    // (missing path, corrupt footer, permissions) propagates as
    // itself instead of resurfacing later as a confusing wrong-schema
    // read under the nanos-specific `div 1000` (ADVICE r10).
    val native =
      try Some(s.read.parquet(path))
      catch {
        case scala.util.control.NonFatal(e)
            if Option(e.getMessage).exists(m =>
              m.contains("TIMESTAMP(NANOS") ||
              m.contains("Illegal Parquet type")) => None
      }
    native match {
      case Some(df) => df -> (df.schema("ts").dataType match {
        case TimestampType    => None
        case TimestampNTZType => Some(col("ts").cast(TimestampType))
        case LongType         => Some(timestamp_micros(longEpochToMicros(df)))
        // insurance against the next plausible drifts: a DATE column
        // (day precision) and an ISO-8601 string both cast cleanly
        // under the UTC session; FixtureContractSpec's 2024-range
        // check still arbitrates whether the values are sane
        case DateType         => Some(col("ts").cast(TimestampType))
        case _: StringType    => Some(col("ts").cast(TimestampType))
        case other => throw new IllegalStateException(
          s"events.ts: unsupported physical type $other in $path")
      })
      case None =>
        s.read.schema(eventsRawSchema).parquet(path) ->
          Some(timestamp_micros(expr("ts div 1000")))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = tbl(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = tbl(s, d, "embeddings")

  val allNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}

/** Determinism helpers implementing SURVEY.md rules D1–D6 so Spark
  * output hash-matches the DuckDB oracle.
  *
  * Cross-engine numeric contract (validated against DuckDB 1.0.0 on
  * this box, 2026-08-12):
  *  - Raw money columns are exact 2-dp doubles (verified per column),
  *    so a scale-2/4 decimal cast is tie-free and exact on BOTH
  *    engines. All arithmetic that feeds an aggregate happens in
  *    decimal — exact and order-independent, so shuffle order can
  *    never perturb a sum.
  *  - Output floats are DOUBLE on both sides, produced from the exact
  *    decimal by one CAST (correctly rounded in both engines —
  *    validated on 40k random values) and at most one IEEE division
  *    (exact-rounded, bit-identical). This survives any driver
  *    normalization: float64 == float64 bitwise.
  *  - NEVER round() a computed double: Spark rounds the shortest
  *    decimal repr (BigDecimal.valueOf) while DuckDB rounds via
  *    scale-multiply, and they can disagree at x.xxx5 boundaries.
  *    Rounding raw 2-dp columns is safe (no ties); rounding computed
  *    expressions is not.
  *  - 2^53 BOUNDARY RULE: decimal→double is only correctly rounded
  *    while the decimal's UNSCALED value fits in 2^53 — above that,
  *    both engines' fast paths (unscaled long→double, then divide by
  *    10^scale) double-round, and they can disagree by 1 ulp (caught
  *    live on a scale-10 sum at ~4e17 unscaled). Any decimal whose
  *    unscaled magnitude can exceed 2^53 must be re-scaled down
  *    (e.g. CAST to DECIMAL(18,4) / ROUND(...,4) — half-up on both
  *    engines) before the double cast.
  */
object Dec {
  /** Exact money decimal (tie-free for the 2-dp raw columns). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Small factor like (1-discount) — exact at 4 dp. */
  def dec4s(c: Column): Column = c.cast(DecimalType(8, 4))
  /** Output-normalize an exact decimal to double. */
  def dbl(c: Column): Column = c.cast(DoubleType)
  /** Exact decimal sum of a 2-dp column, output as double. */
  def sumd2(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  /** Average via one IEEE double division of exact operands. */
  def avgd(sumDec: Column, cnt: Column): Column =
    sumDec.cast(DoubleType) / cnt.cast(DoubleType)
}
