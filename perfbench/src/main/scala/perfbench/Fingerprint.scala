package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a result: the row count plus two
  * independent 64-bit row-hash sums, computed in ONE action that
  * consumes every output column.
  *
  * `count()` lets Catalyst prune the projected columns and drop the
  * final sort, and an aggregate over the rows lets `EliminateSorts`
  * drop it too. A `mapPartitions` over the decoded rows is opaque to
  * the optimizer, so the query's whole physical plan runs, every column
  * is decoded, and the per-partition partials reduce on the driver.
  * Summing row hashes (wrapping 64-bit arithmetic) makes the result
  * independent of row order and partitioning while still counting
  * duplicates, which an XOR would cancel. */
final case class Fingerprint(rows: Long, h1: Long, h2: Long) {
  override def toString: String = f"$rows:$h1%016x:$h2%016x"
}

object Fingerprint {
  def parse(s: String): Fingerprint = s.split(":") match {
    case Array(n, a, b) => Fingerprint(n.toLong,
      java.lang.Long.parseUnsignedLong(a, 16), java.lang.Long.parseUnsignedLong(b, 16))
    case _ => throw new IllegalArgumentException(s"bad fingerprint '$s'")
  }

  private val Seed1 = 0x5bd1e995
  private val Seed2 = 0x1b873593

  /** Hash of one cell value, stable across JVMs: strings, numbers,
    * byte arrays, nested rows, arrays and maps hash by content. */
  def hashValue(v: Any, seed: Int): Int = v match {
    case null => seed ^ 0x3c6ef372
    case b: Array[Byte] => MurmurHash3.bytesHash(b, seed)
    case s: String => MurmurHash3.stringHash(s, seed)
    case d: java.lang.Double => longHash(java.lang.Double.doubleToRawLongBits(d), seed ^ 0x11)
    case f: java.lang.Float => MurmurHash3.mix(seed ^ 0x12, java.lang.Float.floatToRawIntBits(f))
    case l: java.lang.Long => longHash(l, seed ^ 0x13)
    case i: java.lang.Integer => MurmurHash3.mix(seed, i.intValue) ^ 0x14
    case t: java.sql.Timestamp =>
      longHash(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000, seed ^ 0x1a)
    case bd: java.math.BigDecimal => MurmurHash3.stringHash(bd.toPlainString, seed ^ 0x15)
    case r: Row => orderedHash(r.toSeq, seed ^ 0x16)
    case m: scala.collection.Map[_, _] =>
      // map entries carry no order: combine them commutatively
      MurmurHash3.mix(seed ^ 0x17, m.iterator.map { case (k, x) =>
        MurmurHash3.mix(hashValue(k, seed), hashValue(x, seed)) }.sum)
    case it: Iterable[_] => orderedHash(it, seed ^ 0x18)
    case other => MurmurHash3.stringHash(other.toString, seed ^ 0x19)
  }

  private def longHash(v: Long, seed: Int): Int =
    MurmurHash3.mix(MurmurHash3.mix(seed, v.toInt), (v >>> 32).toInt)

  private def orderedHash(xs: Iterable[Any], seed: Int): Int = {
    var h = seed
    var n = 0
    xs.foreach { x => h = MurmurHash3.mix(h, hashValue(x, seed)); n += 1 }
    MurmurHash3.finalizeHash(h, n)
  }

  /** 64-bit hash of one row, position-sensitive across its columns. */
  def rowHash(r: Row, seedA: Int, seedB: Int): Long = {
    val xs = r.toSeq
    (orderedHash(xs, seedA).toLong << 32) | (orderedHash(xs, seedB).toLong & 0xffffffffL)
  }

  /** Fold rows into (count, Σ hash under seed pair 1, Σ hash under seed pair 2). */
  def ofRows(rows: Iterator[Row]): Fingerprint = {
    var n = 0L; var a = 0L; var b = 0L
    rows.foreach { r =>
      n += 1
      a += rowHash(r, Seed1, Seed2)
      b += rowHash(r, Seed2 ^ 0x7f4a7c15, Seed1 ^ 0x2545f491)
    }
    Fingerprint(n, a, b)
  }

  def combine(x: Fingerprint, y: Fingerprint): Fingerprint =
    Fingerprint(x.rows + y.rows, x.h1 + y.h1, x.h2 + y.h2)

  /** Run `df` to completion and fingerprint every row and column. */
  def of(df: DataFrame): Fingerprint = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    df.mapPartitions { it =>
      val f = ofRows(it)
      Iterator((f.rows, f.h1, f.h2))
    }(enc).collect()
      .map { case (n, a, b) => Fingerprint(n, a, b) }
      .foldLeft(Fingerprint(0L, 0L, 0L))(combine)
  }
}
