package perfbench

import scala.jdk.CollectionConverters._

import perfbench.Trace._

/** Per-layer metrics and the span tree of one traced pass.
  *
  * Layers are the repository's own: `operators` (the public call and the
  * materialization), `catalyst` (planning phases), `exec` (jobs, stages,
  * tasks), `io` (scans and task output), `streaming` (micro-batches) and
  * `state` (state-store operators), plus `bench` for the harness itself.
  * Times and counts are totals over the traced pass.
  */
object Layers {

  final case class OpTrace(op: OpResult, jobs: Seq[JobRec], stages: Seq[StageRec],
                           tasks: Seq[TaskRec], plans: Seq[PlanRec], batches: Seq[ProgressRec],
                           started: Seq[(String, Long)], terminated: Seq[(String, Long)])

  private def within(t: Double, o: OpResult) = t >= o.start - 1 && t <= o.end + 1

  def split(tr: Trace, pass: Pass): Seq[OpTrace] = {
    val jobs = tr.jobs.asScala.toSeq
    val stages = tr.stages.asScala.toSeq.groupBy(_.id).map { case (k, v) => k -> v.last }
    val tasks = tr.tasks.asScala.toSeq.groupBy(_.stage)
    val progress = tr.progress.asScala.toSeq
    val plans = tr.plans.asScala.toSeq
    pass.spans.map { o =>
      val js = jobs.filter(_.op == o.id)
      val st = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
      // a query named after the operation is its own; others belong to the
      // operation running when they started
      val started = tr.started.asScala.toSeq
      val named = started.filter(_._2 == o.id)
      val queries = (if (named.nonEmpty) named else started.filter(s => within(s._3.toDouble, o)))
        .map(s => (s._1, s._3))
      OpTrace(o, js, st, st.flatMap(s => tasks.getOrElse(s.id, Nil)),
        plans.filter(p => within(p.start.toDouble, o)),
        progress.filter(p => within(p.start.toDouble, o) && queries.exists(_._1 == p.query)),
        queries, tr.terminated.asScala.toSeq.filter(t => queries.exists(_._1 == t._1)))
    }
  }

  private def skew(t: OpTrace): Option[Double] =
    t.stages.filter(_.end > 0).maxByOption(s => s.end - s.start).flatMap { s =>
      val d = t.tasks.filter(_.stage == s.id).map(x => (x.finish - x.launch).toDouble)
      val med = median(d)
      if (d.isEmpty || med <= 0) None else Some(d.max / med)
    }

  def apply(tr: Trace, pass: Pass, cores: Int,
            extra: Map[String, Double]): (Seq[(String, Double, String)], Seq[Span]) = {
    val ops = split(tr, pass)
    val tasks = ops.flatMap(_.tasks)
    // operations of the open loop overlap, so events are counted once each
    val inPass = (t: Long) => pass.spans.exists(o => within(t.toDouble, o))
    val plans = tr.plans.asScala.toSeq.filter(p => inPass(p.start))
    val started = ops.flatMap(_.started).toMap
    val terminated = ops.flatMap(_.terminated).toMap
    val batches = tr.progress.asScala.toSeq.filter(p => started.contains(p.query) && inPass(p.start))
    val byQuery = batches.groupBy(_.query)
    def d(p: ProgressRec, k: String*) = k.map(p.durationMs.getOrElse(_, 0L)).sum / 1000.0
    val wall = covered(pass.spans.map(o => (o.start.toLong, o.end.toLong))) / 1000.0
    val noTask = ops.map { t =>
      val o = t.op
      (o.end - o.start) / 1000 - covered(t.tasks.map(x =>
        (math.max(x.launch, o.start.toLong), math.min(x.finish, o.end.toLong)))) / 1000.0
    }.sum
    val lastState = byQuery.values.map(_.maxBy(_.batch))
    val startS = started.toSeq.flatMap { case (q, s) =>
      byQuery.get(q).map(b => math.max(0L, b.map(_.start).min - s))
    }.sum / 1000.0
    val stopS = terminated.toSeq.flatMap { case (q, e) =>
      byQuery.get(q).map(b => math.max(0L, e - b.map(_.end).max))
    }.sum / 1000.0
    val metrics = Seq(
      ("operators.call_s", pass.spans.map(_.callS).sum, "s"),
      ("operators.action_s", pass.spans.map(_.actionS).sum, "s"),
      ("catalyst.analysis_s", plans.map(_.analysisMs).sum / 1000.0, "s"),
      ("catalyst.optimization_s", plans.map(_.optimizationMs).sum / 1000.0, "s"),
      ("catalyst.planning_s", plans.map(_.planningMs).sum / 1000.0, "s"),
      ("catalyst.plans", plans.size.toDouble, "count"),
      ("exec.jobs", ops.map(_.jobs.size).sum.toDouble, "count"),
      ("exec.stages", ops.map(_.stages.size).sum.toDouble, "count"),
      ("exec.tasks", tasks.size.toDouble, "count"),
      ("exec.no_task_s", noTask, "s"),
      ("exec.task_run_s", tasks.map(_.runMs).sum / 1000.0, "s"),
      ("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9, "s"),
      ("exec.gc_s", tasks.map(_.gcMs).sum / 1000.0, "s"),
      ("exec.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("exec.shuffle_read_bytes", tasks.map(_.shuffleRead).sum.toDouble, "bytes"),
      ("exec.spill_bytes", tasks.map(_.spill).sum.toDouble, "bytes"),
      ("exec.peak_exec_mem_bytes", tasks.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "bytes"),
      ("exec.parallel_eff",
        tasks.map(x => x.finish - x.launch).sum / 1000.0 / math.max(1e-9, wall * cores), "ratio"),
      ("exec.task_skew", median(ops.flatMap(skew)), "ratio"),
      ("exec.speedup_1_to_n", extra("exec.speedup_1_to_n"), "ratio"),
      ("io.scan_s", extra("io.scan_s"), "s"),
      ("io.records_read", tasks.map(_.recordsRead).sum.toDouble, "count"),
      ("io.bytes_read", tasks.map(_.bytesRead).sum.toDouble, "bytes"),
      ("io.bytes_written", tasks.map(_.bytesWritten).sum.toDouble, "bytes"),
      ("streaming.queries", started.size.toDouble, "count"),
      ("streaming.batches", batches.size.toDouble, "count"),
      ("streaming.start_s", startS, "s"),
      ("streaming.stop_s", stopS, "s"),
      ("streaming.trigger_s", batches.map(d(_, "triggerExecution")).sum, "s"),
      ("streaming.add_batch_s", batches.map(d(_, "addBatch")).sum, "s"),
      ("streaming.plan_s", batches.map(d(_, "queryPlanning")).sum, "s"),
      ("streaming.offsets_s", batches.map(d(_, "latestOffset", "getBatch")).sum, "s"),
      ("streaming.commit_log_s", batches.map(d(_, "walCommit", "commitOffsets")).sum, "s"),
      ("streaming.batch_p50_ms", median(batches.map(d(_, "triggerExecution") * 1000)), "ms"),
      ("streaming.backlog_max_files", pass.backlogMaxFiles.toDouble, "count"),
      ("state.rows_total", lastState.map(_.stateRows).sum.toDouble, "count"),
      ("state.rows_updated", batches.map(_.stateUpdated).sum.toDouble, "count"),
      ("state.rows_removed", batches.map(_.stateRemoved).sum.toDouble, "count"),
      ("state.memory_bytes", batches.map(_.stateMem).maxOption.getOrElse(0L).toDouble, "bytes"),
      ("state.commit_s", batches.map(_.commitMs).sum / 1000.0, "s"),
      ("state.update_s", batches.map(_.updateMs).sum / 1000.0, "s"),
      ("state.remove_s", batches.map(_.removeMs).sum / 1000.0, "s"),
      ("bench.trace_overhead_frac", extra("bench.trace_overhead_frac"), "ratio"),
      ("bench.gen_late_max_ms", pass.genLateMs, "ms"),
      ("bench.check_s", extra("bench.check_s"), "s"))
    (metrics, ops.map(opSpan))
  }

  /** Layer times of one operation, each counted once: exec is time with a
    * job running, streaming is time in a micro-batch with no job, catalyst
    * is planning outside both, operators is the rest of the call and the
    * materialization. Planning phases are counted by their reported
    * durations, so the sum can differ from the wall time; a difference over
    * 10% is reported as `unattributed`. */
  def layerTimes(t: OpTrace): Seq[(String, Long)] = {
    val o = t.op
    val s = o.start.toLong
    val e = o.end.toLong
    def clip(iv: Seq[(Long, Long)]) = iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
    val jobs = clip(t.jobs.map(j => (j.start, j.end)))
    val batches = clip(t.batches.map(b => (b.start, b.end)))
    val exec = covered(jobs)
    val streaming = covered(jobs ++ batches) - exec
    val catalyst = t.plans.map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum
    val wall = e - s
    val operators = math.max(0L, wall - exec - streaming - catalyst)
    val named = Seq("exec" -> exec, "streaming" -> streaming, "catalyst" -> catalyst,
      "operators" -> operators)
    val rest = wall - named.map(_._2).sum
    if (math.abs(rest) > 0.1 * wall) named :+ ("unattributed" -> rest) else named
  }

  private def opSpan(t: OpTrace): Span = {
    val o = t.op
    val stages = t.stages.map(s => s.id -> s).toMap
    val jobSpans = t.jobs.sortBy(_.start).map { j =>
      Span(s"job ${j.id}", "job", j.start, j.end,
        j.stageIds.flatMap(stages.get).filter(_.end > 0).map(s =>
          Span(s"stage ${s.id}", "stage", s.start, s.end, attrs = Map("tasks" -> s.numTasks))))
    }
    val batchSpans = t.batches.sortBy(_.start).map(b =>
      Span(s"batch ${b.batch}", "micro-batch", b.start, b.end,
        attrs = Map("input_rows" -> b.inputRows.toDouble)))
    def inside(a: Long, b: Long)(x: Span) = x.start >= a - 1 && x.start <= b + 1
    val callEnd = o.callEnd.toLong
    val call = Span("operators.call", "operators", o.start.toLong, callEnd,
      (jobSpans ++ batchSpans).filter(inside(o.start.toLong, callEnd)))
    val action = Span("operators.action", "operators", callEnd, o.end.toLong,
      (jobSpans ++ batchSpans).filter(x => !inside(o.start.toLong, callEnd)(x)))
    val layers = layerTimes(t)
    Span(o.name, "operation", o.start.toLong, o.end.toLong, Seq(call, action),
      layers.map { case (k, v) => s"layer.$k" -> v.toDouble }.toMap ++
        o.error.map(_ => "failed" -> 1.0))
  }

  def traceJson(a: Args, ops: Seq[Span], metrics: Seq[(String, Double, String)]): String = {
    val root = Span(a.workload, "workload", ops.map(_.start).minOption.getOrElse(0L),
      ops.map(_.end).maxOption.getOrElse(0L), ops)
    val unreconciled = ops.filter(_.attrs.contains("layer.unattributed")).map(_.name)
    Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "ops_with_unattributed_time" -> unreconciled.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v, _) => k -> Json.num(v) }),
      "spans" -> toJson(root)))
  }
}
