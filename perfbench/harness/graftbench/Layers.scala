package graftbench

/** Splits one traced pass across the program's layers and lays it out as
  * spans: pass → operation → job → stage, each naming its parent.
  */
object Layers {
  private final case class Span(id: String, parent: String, kind: String, name: String,
      start: Long, end: Long) {
    def dur: Long = math.max(0L, end - start)
  }

  def of(workload: String, p: Pass, b: TraceBatch, summary: Map[String, Any], cpus: Int)
      : (Map[String, Any], Seq[Map[String, Any]]) = {
    val ops = p.ops.toSeq
    def opAt(t: Long): String =
      ops.find(o => t >= o.start && t <= o.end).map(_.id).getOrElse("")
    // a job launched from a thread without the op property falls back to
    // the operation running at the time
    val jobs = b.jobs.map(j => if (j.op.nonEmpty) j else j.copy(op = opAt(j.start)))
      .map(j => if (j.end >= j.start) j else j.copy(end = j.start))
    val jobOfStage = jobs.flatMap(j => j.stages.map(_ -> j.id)).groupBy(_._1)
      .map { case (s, js) => s -> js.map(_._2).min }

    val passSpan = Span(s"p${p.index}", "", "workload", workload,
      ops.map(_.start).minOption.getOrElse(0L), ops.map(_.end).maxOption.getOrElse(0L))
    val opSpans = ops.map(o => Span(s"o${o.id}", passSpan.id, "op", o.name, o.start, o.end))
    val jobSpans = jobs.map(j => Span(s"j${j.id}", s"o${j.op}", "job", s"job ${j.id}",
      j.start, j.end))
    val stageSpans = b.stages.map(s => Span(s"s${s.id}.${s.attempt}",
      jobOfStage.get(s.id).map(j => s"j$j").getOrElse(""), "stage", s"stage ${s.id}",
      s.start, s.end))
    val all = passSpan +: (opSpans ++ jobSpans ++ stageSpans)
    val children = all.groupBy(_.parent)
    // self time: the span's interval minus the part its children cover
    def self(s: Span): Long = s.dur - Tracer.covered(children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
    val spans = all.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
      "dur_ms" -> s.dur, "self_ms" -> self(s)))

    val gapMs = ops.map { o =>
      val iv = jobs.filter(_.op == o.id).map(j => (j.start, j.end))
      if (iv.isEmpty) 0L else iv.map(_._2).max - iv.map(_._1).min - Tracer.covered(iv)
    }.sum
    val buildJobs = ops.map(o => jobs.count(j => j.op == o.id && j.start < o.buildEnd)).sum
    val wall = summary("wall_s").asInstanceOf[Double]
    val taskRun = b.stages.map(_.runMs).sum / 1000.0
    val nStages = b.stages.size
    val metrics = Map[String, Any](
      "operators.build_s" -> ops.map(_.buildS).sum,
      "operators.build_jobs" -> buildJobs,
      "operators.action_s" -> ops.map(_.actionS).sum,
      "planning.analysis_ms" -> b.phases.map(_.analysisMs).sum,
      "planning.optimization_ms" -> b.phases.map(_.optimizationMs).sum,
      "planning.physical_ms" -> b.phases.map(_.planningMs).sum,
      "scheduler.jobs" -> jobs.size,
      "scheduler.stages" -> nStages,
      "scheduler.tasks" -> b.stages.map(_.tasks).sum,
      "scheduler.job_gap_s" -> gapMs / 1000.0,
      "scheduler.single_task_stage_frac" ->
        (if (nStages == 0) 0.0 else b.stages.count(_.tasks == 1).toDouble / nStages),
      "exec.task_run_s" -> taskRun,
      "exec.task_cpu_s" -> b.stages.map(_.cpuNs).sum / 1e9,
      "exec.parallel_eff" -> (if (wall <= 0) 0.0 else taskRun / (wall * cpus)),
      "exec.gc_s" -> summary("gc_s"),
      "exec.failed_tasks" -> b.failedTasks,
      "shuffle.write_bytes" -> b.stages.map(_.shuffleWrite).sum,
      "shuffle.read_bytes" -> b.stages.map(_.shuffleRead).sum,
      "shuffle.fetch_wait_s" -> b.stages.map(_.fetchWaitMs).sum / 1000.0,
      "spill.disk_bytes" -> b.stages.map(_.spill).sum,
      "io.input_bytes" -> b.stages.map(_.input).sum,
      "io.output_bytes" -> b.stages.map(_.output).sum,
      "trace.op_self_s" -> opSpans.map(self).sum / 1000.0,
      "trace.job_self_s" -> jobSpans.map(self).sum / 1000.0,
      "trace.spans" -> all.size)
    (metrics, spans)
  }
}
