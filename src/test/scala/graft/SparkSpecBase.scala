package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. sf0.001 is the smoke tier. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** md5 hex of a UTF-8 string — the brute-force reference hash every
    * in-JVM recompute uses (must stay byte-identical to Spark's
    * md5(cast(x as binary)) and DuckDB's md5(x)). */
  def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** Recursively delete a spec-created scratch directory. */
  def deleteRecursively(path: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.exists(path)) {
      Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = graft.engine.Sessions.create("local[4]",
    "spark.app.name" -> "graft-test",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
