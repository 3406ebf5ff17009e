package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed call. `kind` is cold, warm, step, recompute, build or
  * resolve; `item` names what was called (a registry row, an
  * incremental cell, a table). `extra` carries sub-timings measured
  * inside the call. */
final case class Sample(id: Long, kind: String, item: String, ms: Double,
                        ok: Boolean, traced: Boolean,
                        extra: Map[String, Double] = Map.empty)

/** The closed-loop client: one call at a time, each under its own job
  * group. With a tracer installed the call is also a span, and the
  * listener bus is drained before the call closes. A call that throws
  * or fails its check is recorded as failed. */
final class Client(spark: SparkSession, tracer: Tracer) {
  private var nextUntraced = -1L
  private var tracing = false
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]

  /** Turns the tracer's listeners on or off between calls. */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) tracer.install() else tracer.uninstall()
    tracing = on
  }

  /** Runs `body`, which returns whether its output check passed, and
    * any sub-timings. */
  def call(kind: String, item: String)(body: => (Boolean, Map[String, Double])): Sample = {
    val traced = tracing
    val id = if (traced) tracer.open() else { nextUntraced -= 1; nextUntraced }
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.GroupPrefix + id, s"$kind $item", interruptOnCancel = false)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, extra) =
      try body
      catch { case e: Throwable =>
        failures += s"$kind $item threw: ${e.getClass.getName}: ${e.getMessage}".take(600)
        (false, Map.empty[String, Double])
      }
    val ms = (System.nanoTime() - t0) / 1e6
    sc.clearJobGroup()
    if (traced) tracer.close(id, kind, item, wall0, wall0 + math.round(ms))
    if (!ok && !failures.lastOption.exists(_.startsWith(s"$kind $item threw")))
      failures += s"$kind $item failed its output check"
    val s = Sample(id, kind, item, ms, ok, traced, extra)
    samples += s
    s
  }

  /** Untimed work between calls (input generation, resets); traced as
    * its own span so its jobs are not charged to a call. */
  def prep[T](what: String)(body: => T): T = {
    val traced = tracing
    val id = if (traced) tracer.open() else { nextUntraced -= 1; nextUntraced }
    spark.sparkContext.setJobGroup(Tracer.GroupPrefix + id, s"prep $what", interruptOnCancel = false)
    val wall0 = System.currentTimeMillis()
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      if (traced) tracer.close(id, "prep", what, wall0, System.currentTimeMillis())
    }
  }

  def of(kind: String): Seq[Sample] = samples.filter(s => s.kind == kind && s.ok).toSeq
}
