package graft.incr

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The versioned store of preserved state — the MRBG-Store analogue
  * [P §5]: state that outlives the process and, after each delta, is
  * left at the new version, ready for the next one. Aggregation
  * partials, MRBG's (C, S, state), centroid models, band and IVF
  * indexes and the streaming upsert snapshot all commit and read
  * through it.
  *
  * Layout: under `root`, one `snap-<v>` directory per version holding
  * one parquet directory per named part (a part may be partitioned),
  * and a one-line `_CURRENT` file naming the committed version.
  *
  * Commit protocol: the parts are written, in order, into a fresh
  * `snap-<v+1>` (a dead attempt's leftover at that version is removed
  * first — no pointer ever named it). Only when every part is written
  * is `_CURRENT` swapped by a FileContext rename with OVERWRITE,
  * atomic on HDFS and local filesystems. So a reader sees the old
  * version or the new one, whole: never a torn write, never a mix of
  * parts from two versions, and a failed commit leaves the previous
  * version readable. After the swap, versions older than v-1 are
  * deleted; v-1 is kept so a frame read lazily from the version just
  * replaced stays valid across one commit — reading a store, applying
  * a delta and committing back to the same root works.
  *
  * Paths resolve through the Hadoop FileSystem API from the session's
  * Hadoop conf, so `file:`, `hdfs:` and `s3a:` roots all work.
  * Parquet keeps integers, exact decimals and IEEE doubles verbatim,
  * so a later session reads back bit-identical state. */
object StateStore {
  private val Pointer = "_CURRENT"

  /** Commit `parts` (name → frame, written in order) as the store's
    * next version; `partitionBy` names the partition columns of the
    * parts that have them. Returns the committed version. */
  def commit(root: String, parts: Seq[(String, DataFrame)],
             partitionBy: Map[String, Seq[String]] = Map.empty): Long = {
    require(parts.nonEmpty, "a commit needs at least one part")
    val s = parts.head._2.sparkSession
    val (fs, base) = resolve(s, root)
    val v = version(fs, base).getOrElse(0L) + 1
    val snap = new Path(base, s"snap-$v")
    fs.delete(snap, true)
    parts.foreach { case (name, df) =>
      val cols = partitionBy.getOrElse(name, Nil)
      (if (cols.isEmpty) df.write else df.write.partitionBy(cols: _*))
        .parquet(new Path(snap, name).toString)
    }
    val tmp = new Path(base, s"$Pointer.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(fs.getUri, s.sessionState.newHadoopConf())
      .rename(tmp, new Path(base, Pointer), Options.Rename.OVERWRITE)
    fs.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("snap-") &&
          n.stripPrefix("snap-").toLongOption.exists(_ < v - 1))
        fs.delete(st.getPath, true)
    }
    v
  }

  /** The committed version's parts by name, each a parquet scan (so
    * column and partition pruning apply); None before the first
    * commit. */
  def read(s: SparkSession, root: String): Option[Map[String, DataFrame]] = {
    val (fs, base) = resolve(s, root)
    version(fs, base).map { v =>
      fs.listStatus(new Path(base, s"snap-$v")).filter(_.isDirectory)
        .map(st => st.getPath.getName -> s.read.parquet(st.getPath.toString))
        .toMap
    }
  }

  private def resolve(s: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def version(fs: FileSystem, base: Path): Option[Long] = {
    val ptr = new Path(base, Pointer)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close())
    }
  }
}
