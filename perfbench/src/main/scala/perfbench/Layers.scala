package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run: builds each query's span tree from
  * the benchmark's own spans (query, build, action) and the listener
  * records (batch, catalyst, job, stage), then sums per pass and reports
  * the median pass.
  */
final class Layers(t: Tracer, cores: Int, footprints: Map[Int, Footprint],
    scratchAfterPass: Seq[Long]) {
  private var nextSpan = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.Map.empty[String, Set[Seq[Long]]].withDefaultValue(Set.empty)
  private var attributedJobs = 0L
  private var worstAccountingMs = 0.0

  private def span(kind: String, name: String, q: Int, s: Double, e: Double,
      parent: Option[Span]): Span = {
    val (a, b) = parent.fold((s, e)) { p =>
      val a = math.min(math.max(s, p.start), p.end)
      (a, math.max(a, math.min(e, p.end)))
    }
    val sp = Span(nextSpan, kind, name, q, a, b, parent.fold(-1)(_.id))
    nextSpan += 1
    spans += sp
    sp
  }

  /** Metrics of one query execution, keyed by metric name. */
  private def query(e: Main.Exec): Map[String, Double] = {
    val w = t.within(e.start, e.end)
    val q = span("query", e.name, e.id, e.start, e.end, None)
    val build = span("build", e.name, e.id, e.start, e.built, Some(q))
    val action = span("action", e.name, e.id, e.built, e.end, Some(q))
    def inner(extra: Seq[Span], s: Double, x: Double) =
      Spans.enclosing(Seq(build, action) ++ extra, s, x).orElse(Some(q))
    val batchSpans = w.batches.map(b => span("batch", "batch", e.id, b.start, b.end,
      inner(Nil, b.start, b.end)))
    w.qes.foreach(qe => qe.phases.foreach { case (ph, (s, x)) =>
      span("catalyst", ph, e.id, s, x, inner(batchSpans, s, x))
    })
    val jobSpans = w.jobs.map(j => j -> span("job", s"job ${j.id}", e.id, j.start, j.end,
      inner(batchSpans, j.start, j.end))).toMap
    w.stages.foreach { st =>
      val parent = w.jobs.find(_.stages.contains(st.id)).map(jobSpans)
        .orElse(inner(batchSpans, st.start, st.end))
      span("stage", s"stage ${st.id}.${st.attempt}", e.id, st.start, st.end, parent)
    }
    val mine = spans.filter(_.query == e.id).toSeq
    val (self, ovl) = Spans.selfByKind(mine)
    worstAccountingMs = math.max(worstAccountingMs,
      math.abs(self.values.sum - ovl - q.dur))
    attributedJobs += w.jobs.size

    val ag = w.stages.map(_.agg)
    def sumA(f: StageAgg => Long): Double = ag.map(f).sum.toDouble
    def phase(p: String) = w.qes.flatMap(_.phases.get(p)).map { case (a, b) => b - a }.sum
    def node(n: String) = w.qes.map(_.nodes.getOrElse(n, 0)).sum.toDouble
    def dur(k: String) = w.batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val jobBusy = Spans.covered(q.start, q.end, w.jobs.map(j => (j.start, j.end)))
    val fp = footprints.getOrElse(e.id, Footprint(0, 0, 0, 0))
    val m = Map(
      "query.build_s" -> build.dur / 1e3,
      "query.eager_jobs" -> w.jobs.count(_.start <= e.built).toDouble,
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "catalyst.actions" -> w.qes.size.toDouble,
      "plan.exchanges" -> node("exchanges"), "plan.sorts" -> node("sorts"),
      "plan.windows" -> node("windows"), "plan.obj_hash_aggs" -> node("obj_hash_aggs"),
      "plan.broadcasts" -> node("broadcasts"),
      "scheduler.jobs" -> w.jobs.size.toDouble,
      "scheduler.stages" -> w.stages.size.toDouble,
      "scheduler.tasks" -> sumA(_.tasks),
      "scheduler.job_s" -> jobBusy / 1e3,
      "scheduler.driver_gap_s" -> (q.dur - jobBusy) / 1e3,
      "scheduler.delay_ms" -> sumA(_.delayMs),
      "executor.run_s" -> sumA(_.runMs) / 1e3,
      "executor.cpu_s" -> sumA(_.cpuNs) / 1e9,
      "executor.gc_s" -> sumA(_.gcMs) / 1e3,
      "shuffle.write_mb" -> sumA(_.shuffleWrite) / 1e6,
      "shuffle.read_mb" -> sumA(_.shuffleRead) / 1e6,
      "shuffle.fetch_wait_ms" -> sumA(_.fetchWaitMs),
      "shuffle.spill_mb" -> sumA(_.spill) / 1e6,
      "tables.scan_mb" -> sumA(_.inputBytes) / 1e6,
      "tables.scan_rows" -> sumA(_.inputRows),
      "result_rows" -> e.rows.toDouble,
      "sources.commits" -> fp.commits.toDouble,
      "sources.files_written" -> fp.filesWritten.toDouble,
      "sources.mb_written" -> fp.bytesWritten / 1e6,
      "sources.files_live" -> fp.filesLive.toDouble,
      "read_tasks_on_live" -> (if (fp.filesLive > 0) sumA(_.tasksWithInput) else 0.0),
      "streaming.batches" -> w.batches.size.toDouble,
      "streaming.empty_batches" -> w.batches.count(_.inputRows == 0).toDouble,
      "streaming.input_rows" -> w.batches.map(_.inputRows).sum.toDouble,
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_rows" -> w.batches.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "streaming.state_commit_ms" -> w.batches.map(_.stateCommitMs).sum.toDouble,
      "self.build_s" -> self.getOrElse("build", 0.0) / 1e3,
      "self.action_s" -> self.getOrElse("action", 0.0) / 1e3,
      "self.batch_s" -> self.getOrElse("batch", 0.0) / 1e3,
      "self.catalyst_s" -> self.getOrElse("catalyst", 0.0) / 1e3,
      "self.job_s" -> self.getOrElse("job", 0.0) / 1e3,
      "self.stage_s" -> self.getOrElse("stage", 0.0) / 1e3,
      "trace.gap_s" -> self.getOrElse("query", 0.0) / 1e3,
      "trace.overlap_s" -> ovl / 1e3)
    counts(e.name) += Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
      "plan.exchanges", "plan.sorts", "plan.windows", "plan.obj_hash_aggs",
      "plan.broadcasts", "streaming.batches", "sources.commits").map(k => m(k).toLong)
    m
  }

  /** Median over passes of each per-pass metric, with units. */
  def metrics(passes: Seq[(Seq[Main.Exec], Double)]): Seq[(String, Double, String)] = {
    val perPass = passes.map { case (execs, wall) =>
      val qs = execs.map(query)
      val s = qs.flatMap(_.keys).distinct.map(k => k -> qs.map(_.getOrElse(k, 0.0)).sum).toMap
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
      s ++ Map(
        "executor.busy_ratio" -> ratio(s("executor.run_s"), cores * s("scheduler.job_s")),
        "tables.rows_per_result_row" -> ratio(s("tables.scan_rows"), s("result_rows")),
        "sources.read_tasks_per_live_file" -> ratio(s("read_tasks_on_live"), s("sources.files_live")),
        "streaming.useful_batch_ratio" ->
          ratio(s("streaming.batches") - s("streaming.empty_batches"), s("streaming.batches")),
        "trace.wall_s" -> wall)
    }
    val growth = scratchAfterPass.sliding(2).collect { case Seq(a, b) => (b - a) / 1e6 }.toSeq
    val util = Map(
      "util.scratch_mb" -> scratchAfterPass.headOption.getOrElse(0L) / 1e6,
      "util.scratch_growth_mb" -> (if (growth.isEmpty) 0.0 else Stats.median(growth)))
    Layers.Units.map { case (k, u) =>
      (k, util.getOrElse(k, Stats.median(perPass.map(_(k)))), u)
    }
  }

  /** Jobs the session ran while tracing, from its sequential job ids. */
  private def sessionJobs: Long = {
    val ids = t.jobs.map(_.id)
    if (ids.isEmpty) 0L else ids.max - ids.min + 1L
  }

  /** Every job the session ran was attributed to a query. */
  def jobsAccounted: Boolean = attributedJobs == sessionJobs

  /** Self-checks on the trace, for the run's detail line. */
  def checks: Seq[(String, Any)] = Seq(
    "trace_jobs_attributed" -> attributedJobs, "trace_jobs_session" -> sessionJobs,
    "trace_unstable_count_queries" -> counts.count(_._2.size > 1),
    "trace_accounting_err_ms" -> worstAccountingMs)

  def spanLines: Seq[String] = spans.toSeq.map(s => Json.obj(Seq(
    "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
    "query" -> s.query, "start_ms" -> s.start, "end_ms" -> s.end)))
}

object Layers {
  /** Every metric a traced run reports, with its unit, in the order of
    * BENCHMARK.json's `per_layer` list (LayersSpec checks the two agree).
    */
  val Units: Seq[(String, String)] = Seq(
    "query.build_s" -> "s", "query.eager_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.actions" -> "count",
    "plan.exchanges" -> "count", "plan.sorts" -> "count", "plan.windows" -> "count",
    "plan.obj_hash_aggs" -> "count", "plan.broadcasts" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.job_s" -> "s",
    "scheduler.driver_gap_s" -> "s", "scheduler.delay_ms" -> "ms",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.busy_ratio" -> "ratio",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "shuffle.fetch_wait_ms" -> "ms", "shuffle.spill_mb" -> "MB",
    "tables.scan_mb" -> "MB", "tables.scan_rows" -> "count",
    "tables.rows_per_result_row" -> "ratio",
    "sources.commits" -> "count", "sources.files_written" -> "count",
    "sources.mb_written" -> "MB", "sources.files_live" -> "count",
    "sources.read_tasks_per_live_file" -> "ratio",
    "streaming.batches" -> "count", "streaming.empty_batches" -> "count",
    "streaming.useful_batch_ratio" -> "ratio", "streaming.input_rows" -> "count",
    "streaming.planning_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_commit_ms" -> "ms",
    "self.build_s" -> "s", "self.action_s" -> "s", "self.batch_s" -> "s",
    "self.catalyst_s" -> "s", "self.job_s" -> "s", "self.stage_s" -> "s",
    "trace.gap_s" -> "s", "trace.overlap_s" -> "s", "trace.wall_s" -> "s",
    "util.scratch_mb" -> "MB", "util.scratch_growth_mb" -> "MB")
}
