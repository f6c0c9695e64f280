package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the harness spans, the exec
  * listener and the ops' Catalyst trackers. Times are per root (an op or a
  * micro-batch) unless the name says otherwise; layers a workload does not
  * touch read 0. The ext.*, stream backlog, generator and check metrics
  * need the output check and are added by run.py. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  def compute(ctx: Ctx, exec: ExecListener, ops: Seq[OpRec], measureS: Double): Map[String, Double] = {
    val spans = Spans.attachJobs(ctx.tracer.spans.asScala.toSeq)
    val self = Spans.selfNs(spans)
    val roots = spans.filter(s => s.parent == 0 && (s.name == "op" || s.name == "batch"))
    val nRoots = math.max(1, roots.size).toDouble
    val byId = spans.map(s => s.id -> s).toMap
    def per(x: Double) = x / nRoots
    def selfMs(name: String) = spans.filter(_.name == name).map(s => self(s.id)).sum / 1e6
    def durMs(name: String) = spans.filter(_.name == name).map(_.durNs).sum / 1e6
    def count(name: String) = spans.count(_.name == name)
    val jobs = spans.filter(_.name == "job")
    val jobUnionMs = Spans.unionNs(jobs.map(j => (j.startNs, j.endNs))) / 1e6
    val perOpExecMs = jobs.groupBy(_.op).values.map(js => Spans.unionNs(js.map(j => (j.startNs, j.endNs)))).sum / 1e6
    val stages = exec.synchronized(exec.stagesByOp.values.flatten.toSeq)
    def sum(f: StageAcc => Long): Double = stages.map(f).sum.toDouble
    val skews = stages.filter(_.taskMs.size >= 2).map { a =>
      val m = median(a.taskMs.map(_.toDouble).toSeq)
      if (m > 0) a.taskMs.max / m else 1.0
    }
    val phases = ops.filter(_.phases.nonEmpty)
    def phase(p: String) = if (phases.isEmpty) 0.0 else phases.map(_.phases.getOrElse(p, 0.0)).sum / phases.size
    Map(
      "build.ms" -> selfMs("build") / math.max(1, count("build")),
      "build.eager_jobs" -> jobs.count(j => byId.get(j.parent).exists(_.name == "build")).toDouble /
        math.max(1, count("build")),
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "exec.ms" -> per(perOpExecMs),
      "exec.jobs" -> per(jobs.size),
      "exec.stages" -> per(stages.size),
      "exec.tasks" -> per(sum(_.tasks)),
      "exec.task_run_ms" -> per(sum(_.runMs)),
      "exec.task_cpu_ms" -> per(sum(_.cpuNs) / 1e6),
      "exec.scheduler_delay_ms" -> per(sum(_.schedDelayMs)),
      "exec.core_busy_frac" -> (if (jobUnionMs > 0) sum(_.runMs) / (jobUnionMs * ctx.cpus) else 0.0),
      "exec.shuffle_write_bytes" -> per(sum(_.shuffleWrite)),
      "exec.shuffle_read_bytes" -> per(sum(_.shuffleRead)),
      "exec.shuffle_fetch_wait_ms" -> per(sum(_.fetchWaitMs)),
      "exec.spill_bytes" -> per(sum(_.spill)),
      "exec.input_bytes" -> per(sum(_.input)),
      "exec.gc_ms" -> per(sum(_.gcMs)),
      "exec.stage_skew" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size),
      "cdc.ingest_ms" -> (if (count("ingest") > 0) durMs("ingest") / count("ingest") else 0.0),
      "sources.append_ms" -> (if (count("append") > 0) durMs("append") / count("append") else 0.0),
      "sources.merge_ms" -> (if (count("merge") > 0) durMs("merge") / count("merge") else 0.0),
      "sources.scan_ms" -> (if (count("scan") > 0) durMs("scan") / count("scan") else 0.0),
      "bench.trace_overhead_frac" -> ctx.tracer.selfNs.get() / (measureS * 1e9))
  }
}
