package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One span: a benchmark call, or a Spark job / SQL execution inside
  * it. Times are epoch milliseconds. `parent` is the id of the causing
  * span (-1 for a call); every span of one call shares its `call` id. */
final case class Span(id: Long, call: Long, parent: Long, kind: String,
                      name: String, startMs: Long, endMs: Long,
                      attrs: Map[String, Double]) {
  def durMs: Long = endMs - startMs
}

/** Counters of one call, accumulated from listener events. */
final class CallCounts {
  var jobs = 0L
  var inferJobs = 0L
  var inferMs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var spillBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var executions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
}

/** The traced run's recorder: a SparkListener for jobs, stages, tasks
  * and SQL executions, plus a QueryExecutionListener for the Catalyst
  * phase times. Each benchmark call runs under its own job group; jobs
  * are attributed to a call by that group, and everything else (SQL
  * executions, Catalyst phases) to the call that was open when the
  * event was posted. The client drains the listener bus before it
  * closes a call, so no event crosses into the next call.
  *
  * Spans are kept in memory and written out by [[writeSpans]] when the
  * run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private var nextId = 0L
  @volatile private var openCall: Long = -1L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.HashMap.empty[Long, CallCounts]
  private val jobCall = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Boolean, String)]
  private val stageCall = mutable.HashMap.empty[Int, Long]
  private val execOpen = mutable.HashMap.empty[Long, (Long, Long, String)]

  private def newId(): Long = synchronized { nextId += 1; nextId }
  def countsOf(call: Long): CallCounts = synchronized { counts.getOrElseUpdate(call, new CallCounts) }

  /** Opens a call span; its jobs carry job group `GroupPrefix + id`. */
  def open(): Long = { val id = newId(); openCall = id; id }
  def close(id: Long, kind: String, name: String, startMs: Long, endMs: Long): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { spans += Span(id, id, -1L, kind, name, startMs, endMs, Map.empty) }
    openCall = -1L
  }

  private def callOfGroup(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong)
      .getOrElse(-1L)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val call = callOfGroup(e.properties)
      if (call >= 0) {
        jobCall(e.jobId) = call
        e.stageIds.foreach(stageCall(_) = call)
        val names = e.stageInfos.map(_.name)
        val infer = names.exists(_.startsWith(InferStagePrefix))
        jobStart(e.jobId) = (e.time, infer, names.headOption.getOrElse(""))
        val c = countsOf(call)
        c.jobs += 1
        if (infer) c.inferJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      for (call <- jobCall.remove(e.jobId); (t0, infer, name) <- jobStart.remove(e.jobId)) {
        if (infer) countsOf(call).inferMs += e.time - t0
        spans += Span(newId(), call, call, "job", name, t0, e.time,
          Map("job_id" -> e.jobId.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageCall.get(e.stageInfo.stageId).foreach(countsOf(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (call <- stageCall.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = countsOf(call)
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputRows += m.inputMetrics.recordsRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        val call = openCall
        if (call >= 0) execOpen(s.executionId) = (call, s.time, s.description)
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        execOpen.remove(s.executionId).foreach { case (call, t0, desc) =>
          countsOf(call).executions += 1
          spans += Span(newId(), call, call, "sql", desc.take(80), t0, s.time,
            Map("execution_id" -> s.executionId.toDouble))
        }
      }
      case _ => ()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val call = openCall
      if (call >= 0) {
        val c = countsOf(call)
        val p = qe.tracker.phases
        def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }
  def uninstall(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def allSpans: Seq[Span] = synchronized { spans.toList }

  /** Span id → self time: its duration minus the part of its interval
    * that its child spans cover. */
  def selfTimes: Map[Long, Long] = {
    val all = allSpans
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    all.map(s => s.id -> (s.durMs - covered(s.startMs, s.endMs,
      kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))))).toMap
  }

  /** Wall time of call `id` not covered by any of its Spark jobs. */
  def driverGapMs(id: Long): Long = {
    val all = allSpans
    all.find(_.id == id).map { s =>
      s.durMs - covered(s.startMs, s.endMs,
        all.filter(k => k.parent == id && k.kind == "job").map(k => (k.startMs, k.endMs)))
    }.getOrElse(0L)
  }

  /** One JSON object per span, with its self time. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val lines = allSpans.sortBy(s => (s.call, s.startMs, s.id)).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      (Seq(s""""id":${s.id}""", s""""call":${s.call}""", s""""parent":${s.parent}""",
        s""""kind":${Json.str(s.kind)}""", s""""name":${Json.str(s.name)}""",
        s""""start_ms":${s.startMs}""", s""""end_ms":${s.endMs}""",
        s""""self_ms":${self.getOrElse(s.id, 0L)}""") ++ attrs).mkString("{", ",", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-call-"
  /** Stage name of a `Tables.tbl` schema-inference job. */
  val InferStagePrefix = "parquet at Tables.scala:"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
