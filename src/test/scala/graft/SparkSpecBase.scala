package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
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

  /** `body`'s result and the number of Spark jobs it started on `s`'s
    * context. The listener bus delivers asynchronously, so it is
    * drained before the count starts (no earlier job's late event is
    * counted) and again before the count is read (no tail job is
    * missed). */
  def jobsOf[T](body: => T, s: SparkSession = spark): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Bridge.drainListenerBus(s, 10000L)
    s.sparkContext.addSparkListener(l)
    try {
      val r = body
      Bridge.drainListenerBus(s, 10000L)
      (r, jobs.get())
    } finally s.sparkContext.removeSparkListener(l)
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
    "spark.sql.warehouse.dir" -> warehouse)

  /** The specs' warehouse: a new temp dir per JVM, deleted at exit. */
  private lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    Bridge.deleteAtShutdown(dir)
    dir
  }
}
