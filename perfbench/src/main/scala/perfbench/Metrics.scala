package perfbench

import Stats.median

/** Turns a run's samples and trace into the reported metrics.
  *
  * Every workload has two kinds of timed call on the same items:
  *  - a from-scratch call: a registry row's first (cold) call in a
  *    session with cleared memos, or an incremental cell's full
  *    recompute;
  *  - a reuse call: a registry row's warm call, or an incremental
  *    cell's step over the stored state.
  * The metrics are defined on these, so each one means the same thing on
  * every workload.
  *
  * Only ratios within a run are end-to-end metrics: on the shared host
  * this benchmark was built on, contention episodes slowed whole runs by
  * 35-40% (seen as bursts of hypervisor steal), and absolute times
  * spread by 35% between the quartiles of ten runs — wider than any
  * bound a gate can use. The absolute times are reported per layer
  * (`calls.*`) and on stderr. */
object Metrics {
  type Out = Seq[(String, (Double, String))]

  private def isIncr(wl: Workload) = wl == IncrDelta
  def reuseKind(wl: Workload): String = if (isIncr(wl)) "step" else "warm"
  def scratchKind(wl: Workload): String = if (isIncr(wl)) "recompute" else "cold"

  private def byItem(xs: Seq[Sample]): Map[String, Seq[Double]] =
    xs.groupBy(_.item).map { case (k, v) => k -> v.map(_.ms) }

  /** Mean over items of each item's median ms. */
  def itemMean(xs: Seq[Sample]): Double = byItem(xs).values.map(median).sum / byItem(xs).size

  /** Geometric mean over items of (median from-scratch ms / median reuse ms). */
  def reuseSpeedup(scratch: Seq[Sample], reuse: Seq[Sample]): Double = {
    val r = byItem(reuse)
    val logs = byItem(scratch).toSeq.collect {
      case (k, s) if r.contains(k) => math.log(median(s) / median(r(k))) }
    math.exp(logs.sum / logs.size)
  }

  /** The user-visible times: mean warm (reuse) call, one-time cold
    * cost (registry: Σ first calls; incr: the state build), mean
    * from-scratch call. */
  def times(wl: Workload, c: Client): Out = {
    val scratch = c.of(scratchKind(wl))
    val coldS = (if (isIncr(wl)) c.of("build") else scratch).map(_.ms).sum / 1000.0
    Seq(
      "calls.warm_ms" -> (itemMean(c.of(reuseKind(wl))), "ms"),
      "calls.cold_s" -> (coldS, "s"),
      "calls.scratch_ms" -> (itemMean(scratch), "ms"))
  }

  def endToEnd(wl: Workload, c: Client, setups: Seq[Double]): Out = Seq(
    "setup_s" -> (median(setups), "s"),
    "reuse_speedup" -> (reuseSpeedup(c.of(scratchKind(wl)), c.of(reuseKind(wl))), "x"))

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def perLayer(wl: Workload, c: Client, t: Tracer, end: EndState, cores: Int): Out = {
    val reuseAll = c.of(reuseKind(wl))
    val scratchAll = c.of(scratchKind(wl))
    val warm = reuseAll.filter(_.traced)
    val cold = scratchAll.filter(_.traced)
    val resolve = c.of("resolve")
    def per(xs: Seq[Sample])(f: CallCounts => Double): Double = mean(xs.map(s => f(t.countsOf(s.id))))
    val warmJobs = per(warm)(_.jobs.toDouble)
    val coldJobs = per(cold)(_.jobs.toDouble)
    val buildS =
      if (isIncr(wl)) c.of("build").map(_.ms).sum / 1000.0
      else {
        val w = byItem(reuseAll)
        byItem(scratchAll).toSeq.map { case (k, s) => s.sum - w.get(k).map(median).getOrElse(0.0) }
          .sum / 1000.0
      }
    // Tracing overhead: median over items of (traced / untraced median
    // ms) - 1, on the reuse calls where a run has both (the registry
    // workloads' alternating warm calls), else on the direct table
    // resolutions, which every traced run makes both ways.
    def overheadOf(xs: Seq[Sample]): Option[Double] = {
      val untraced = byItem(xs.filterNot(_.traced))
      val ratios = byItem(xs.filter(_.traced)).toSeq.collect {
        case (k, v) if untraced.contains(k) => median(v) / median(untraced(k)) - 1 }
      if (ratios.isEmpty) None else Some(median(ratios))
    }
    val overhead = overheadOf(reuseAll).orElse(overheadOf(resolve)).getOrElse(0.0)
    val attempted = c.samples.size
    val general: Out = times(wl, c) ++ Seq(
      "tables.resolve_ms" -> (if (resolve.isEmpty) 0.0 else median(resolve.map(_.ms)), "ms"),
      "tables.resolve_jobs" -> (per(resolve.filter(_.traced))(_.jobs.toDouble), "count"),
      "tables.infer_jobs_per_query" -> (per(warm)(_.inferJobs.toDouble), "count"),
      "tables.infer_ms_per_query" -> (per(warm)(_.inferMs.toDouble), "ms"),
      "memo.build_s" -> (buildS, "s"),
      "memo.stored_mb" -> (end.storedBytes / 1048576.0, "MB"),
      "memo.cached_rdds" -> (end.cachedRdds.toDouble, "count"),
      "memo.evictions" -> (end.evictions.toDouble, "count"),
      "memo.cold_jobs_per_query" -> (coldJobs, "count"),
      "memo.warm_jobs_per_query" -> (warmJobs, "count"),
      "memo.serve_ratio" -> (if (coldJobs > 0) warmJobs / coldJobs else 0.0, "ratio"),
      "catalyst.analysis_ms" -> (per(warm)(_.analysisMs.toDouble), "ms"),
      "catalyst.optimization_ms" -> (per(warm)(_.optimizationMs.toDouble), "ms"),
      "catalyst.planning_ms" -> (per(warm)(_.planningMs.toDouble), "ms"),
      "catalyst.executions_per_query" -> (per(warm)(_.executions.toDouble), "count"),
      "sched.jobs_per_query" -> (warmJobs, "count"),
      "sched.stages_per_query" -> (per(warm)(_.stages.toDouble), "count"),
      "sched.tasks_per_query" -> (per(warm)(_.tasks.toDouble), "count"),
      "sched.driver_gap_ms" -> (mean(warm.map(s => t.driverGapMs(s.id).toDouble)), "ms"),
      "exec.task_run_ms" -> (per(warm)(_.taskRunMs.toDouble), "ms"),
      "exec.task_cpu_ms" -> (per(warm)(_.taskCpuNs / 1e6), "ms"),
      "exec.gc_ms" -> (per(warm)(_.gcMs.toDouble), "ms"),
      "exec.core_busy_frac" -> (
        if (warm.isEmpty) 0.0
        else warm.map(s => t.countsOf(s.id).taskRunMs.toDouble).sum / (warm.map(_.ms).sum * cores),
        "frac"),
      "exec.input_rows" -> (per(warm)(_.inputRows.toDouble), "count"),
      "exec.spill_bytes" -> (per(warm)(_.spillBytes.toDouble), "bytes"),
      "shuffle.read_bytes" -> (per(warm)(_.shuffleReadBytes.toDouble), "bytes"),
      "shuffle.write_bytes" -> (per(warm)(_.shuffleWriteBytes.toDouble), "bytes"))

    // Workload-specific layers read 0 on the workloads that do not run them.
    val steps = c.of("step")
    val recomputes = c.of("recompute")
    def cellMs(xs: Seq[Sample], cell: String): Double = {
      val v = xs.filter(_.item == cell).map(_.ms)
      if (v.isEmpty) 0.0 else median(v)
    }
    def famSteps(f: String) = steps.filter(_.item.startsWith(f + "."))
    def ratio(xs: Seq[Sample], num: CallCounts => Double, den: String): Double = {
      val tr = xs.filter(_.traced)
      val d = tr.map(_.extra.getOrElse(den, 0.0)).sum
      if (d > 0) tr.map(s => num(t.countsOf(s.id))).sum / d else 0.0
    }
    def extraMs(xs: Seq[Sample], k: String): Double = {
      val v = xs.flatMap(_.extra.get(k))
      if (v.isEmpty) 0.0 else median(v)
    }
    val incr: Out =
      (for (f <- IncrDelta.familyNames; (frac, _) <- IncrDelta.fractions) yield Seq(
        s"incr.step_ms.$f.$frac" -> (cellMs(steps, IncrDelta.cell(f, frac)), "ms"),
        s"incr.recompute_ms.$f.$frac" -> (cellMs(recomputes, IncrDelta.cell(f, frac)), "ms")
      )).flatten ++
      IncrDelta.familyNames.map(f => s"incr.rows_read_per_delta_row.$f" ->
        (ratio(famSteps(f), _.inputRows.toDouble, "delta_rows"), "ratio")) ++
      IncrDelta.familyNames.map(f => s"incr.state_build_ms.$f" ->
        (c.of("build").filter(_.item == f).map(_.ms).sum, "ms")) ++
      Seq(
        "incr.state_write_ms.kvmerge" -> (extraMs(famSteps("kvmerge"), "state_write_ms"), "ms"),
        "incr.state_read_ms.kvmerge" -> (extraMs(famSteps("kvmerge"), "state_read_ms"), "ms"),
        "incr.bytes_written_per_delta_byte.merge_part" ->
          (ratio(famSteps("merge_part"), _.outputBytes.toDouble, "delta_bytes"), "ratio"))

    val regCold = c.of("cold")
    val regWarm = c.of("warm")
    val rows: Out = Registry.families.flatMap { f =>
      def inFam(s: Sample) = Registry.family(s.item) == f
      val w = regWarm.filter(inFam).map(_.ms)
      Seq(
        s"rows.cold_s.$f" -> (regCold.filter(inFam).map(_.ms).sum / 1000.0, "s"),
        s"rows.warm_ms.$f" -> (if (w.isEmpty) 0.0 else median(w), "ms"))
    }

    general ++ incr ++ rows ++ Seq(
      "host.steal_s" -> (end.stealS, "s"),
      "trace.overhead_frac" -> (overhead, "frac"),
      "ops.failed_frac" -> (c.samples.count(!_.ok).toDouble / math.max(1, attempted), "frac"))
  }

  /** Human-readable lines for stderr: every end-to-end quantity by name
    * with its unit, the tail percentile with its sample count, and the
    * failure fraction. */
  def summary(wl: Workload, c: Client, setups: Seq[Double], windowS: Double): String = {
    val reuse = c.of(reuseKind(wl)).map(_.ms)
    val tail = Stats.tailPercentile(reuse.size) match {
      case Some(p) => f"p$p = ${Stats.percentile(reuse, p)}%.1f ms"
      case None => "none (fewer than 10 samples above the median)"
    }
    val failed = c.samples.count(!_.ok)
    val named = (endToEnd(wl, c, setups) ++ times(wl, c)).map { case (k, (v, u)) => f"$k $v%.3f $u" }
    (Seq(
      s"[perfbench] workload ${wl.name}: ${c.samples.size} timed calls in ${"%.1f".format(windowS)} s window",
      s"[perfbench] set-ups (s): ${setups.map(x => "%.2f".format(x)).mkString(", ")}",
      s"[perfbench] reuse calls (${reuseKind(wl)}): n = ${reuse.size}, tail $tail",
      s"[perfbench] from-scratch calls (${scratchKind(wl)}): n = ${c.of(scratchKind(wl)).size}",
      f"[perfbench] ops_failed_frac ${failed.toDouble / math.max(1, c.samples.size)}%.4f ($failed of ${c.samples.size})"
    ) ++ named.map("[perfbench] " + _)).mkString("\n")
  }
}
