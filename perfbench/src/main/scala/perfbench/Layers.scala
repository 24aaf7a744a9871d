package perfbench

/** Per-layer metrics of a traced run, and the reconciliation of each
  * operation's wall time with its spans and Spark jobs. */
object Layers {
  val modules = Seq("analytics", "joins", "scale", "text", "graph", "multimodal")

  /** Tolerance of every reconciliation: listener times have 1 ms
    * resolution at both ends of a job, plus 1% for bookkeeping between
    * nested spans. */
  def tolerance(wallS: Double): Double = 0.002 + 0.01 * wallS

  /** Union length in seconds of [s, e] ms intervals clipped to [lo, hi] ns. */
  private def union(jobs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val iv = jobs.map { case (s, e) =>
      (math.max(Spans.fromEpochMs(s), lo), math.min(Spans.fromEpochMs(e), hi))
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }

  private def span(w: Workloads, op: Op, name: String): Option[Span] =
    w.spans.all.find(s => s.op == op.id && s.name == name)

  def apply(w: Workloads, cpus: Int, startS: Double, warmupS: Double)
      : Map[String, Double] = {
    val ops = w.ops.toSeq
    val queries = ops.filter(_.name.startsWith("q"))
    def sum(k: String, of: Seq[Op] = ops): Double = of.map(_(k)).sum
    val jobUnion = ops.map(o => union(o.jobs.toSeq, o.startNs, o.endNs)).sum
    val buildJobs = queries.map { o =>
      span(w, o, "graft.build").map(b => o.jobs.count(startedIn(_, b))).getOrElse(0)
    }.sum
    val m = scala.collection.mutable.LinkedHashMap[String, Double](
      "session.start_s" -> startS,
      "session.warmup_s" -> warmupS,
      "graft.build_s" -> queries.map(_.buildS).sum,
      "graft.build_jobs" -> buildJobs.toDouble,
      "graft.stage_builds" -> queries.map(_.stageBuilds.size).sum.toDouble,
      "graft.stage_build_s" -> sum("graft.stage_build_ns", queries) / 1e9,
      "catalyst.analysis_s" -> sum("catalyst.analysis_ms") / 1e3,
      "catalyst.optimization_s" -> sum("catalyst.optimization_ms") / 1e3,
      "catalyst.planning_s" -> sum("catalyst.planning_ms") / 1e3,
      "catalyst.codegen_s" -> ops.map(_.codegenNs).sum / 1e9,
      "catalyst.codegen_compiles" -> ops.map(_.codegenCompiles).sum.toDouble,
      "scheduler.jobs" -> sum("scheduler.jobs"),
      "scheduler.stages" -> sum("scheduler.stages"),
      "scheduler.tasks" -> sum("scheduler.tasks"),
      "scheduler.task_overhead_s" -> (sum("task.duration_ms") - sum("task.run_ms")) / 1e3,
      "scheduler.no_job_s" -> (ops.map(_.wallS).sum - jobUnion),
      "scheduler.core_busy_ratio" ->
        (if (jobUnion > 0) sum("task.run_ms") / 1e3 / (cpus * jobUnion) else 0.0),
      "sources.bytes_read" -> sum("sources.bytes_read"),
      "sources.rows_read" -> sum("sources.rows_read"),
      "sources.scan_s" -> sum("sources.scan_ms") / 1e3,
      "shuffle.exchanges" -> sum("shuffle.exchanges"),
      "shuffle.write_bytes" -> sum("shuffle.write_bytes"),
      "shuffle.read_bytes" -> sum("shuffle.read_bytes"),
      "shuffle.fetch_wait_s" -> sum("shuffle.fetch_wait_ms") / 1e3,
      "shuffle.spill_bytes" -> sum("shuffle.spill_bytes"))
    modules.foreach { mod =>
      val of = queries.filter(_.module == mod)
      m(s"$mod.run_s") = of.map(_.wallS).sum
      m(s"$mod.cpu_s") = sum("task.cpu_ns", of) / 1e9
      m(s"$mod.gc_s") = sum("task.gc_ms", of) / 1e3
      m(s"$mod.rows_out") = of.map(_.rows).sum.toDouble
    }
    m("load.merge_s") = sum("load.merge_ms") / 1e3
    Seq("load.bytes_written", "load.files_written", "load.buckets_touched")
      .foreach(k => m(k) = w.extra.getOrElse(k, 0.0))
    m("streaming.trigger_s") = sum("streaming.trigger_ms") / 1e3
    m("streaming.plan_s") = sum("streaming.plan_ms") / 1e3
    m("streaming.offsets_s") = sum("streaming.offsets_ms") / 1e3
    m("streaming.input_rows") = sum("streaming.input_rows")
    m("streaming.state_rows") = ops.map(_("streaming.state_rows")).maxOption.getOrElse(0.0)
    m("streaming.state_bytes") = ops.map(_("streaming.state_bytes")).maxOption.getOrElse(0.0)
    m.toMap
  }

  /** Whether a job, (start, end) in epoch ms, started inside `s`; the
    * listener truncates its times to the millisecond. */
  private def startedIn(job: (Long, Long), s: Span): Boolean = {
    val ns = Spans.fromEpochMs(job._1)
    ns >= s.startNs - 1000000L && ns <= s.endNs
  }

  /** Checks, per operation, within [[tolerance]]:
    *  - wall = build + action: the operation's two phase spans (`graft.build`
    *    and `action`, or an ingest tick's `drop` and `commit`) cover it;
    *  - every Spark job of the operation ends inside the span it started in.
    *    For queries and refreshes that span is `graft.build` or `action`, and
    *    a job that started in neither is a violation. An ingest tick's jobs
    *    run on the streams' own threads, so they are held to the tick.
    * `scheduler.no_job_s` is the residual (wall minus job time) and is not
    * checked on its own. */
  def reconcile(w: Workloads): Map[String, String] = {
    var maxSumErr, maxJobOverrun = 0.0
    var sumViolations, jobViolations = 0
    val checked = w.ops.filter(_.status != "error")
    checked.foreach { o =>
      val tol = tolerance(o.wallS)
      val sumErr = math.abs(o.wallS - (o.buildS + o.actionS))
      maxSumErr = math.max(maxSumErr, sumErr)
      if (sumErr > tol) sumViolations += 1
      val containers =
        if (o.name == "tick") span(w, o, "op").toSeq
        else Seq("graft.build", "action").flatMap(span(w, o, _))
      o.jobs.foreach { job =>
        containers.find(startedIn(job, _)) match {
          case None => jobViolations += 1
          case Some(c) =>
            val overrun = math.max(0L, Spans.fromEpochMs(job._2) - c.endNs) / 1e9
            maxJobOverrun = math.max(maxJobOverrun, overrun)
            if (overrun > tol) jobViolations += 1
        }
      }
    }
    Map(
      "tolerance" -> Json.str("0.002 s + 1% of the operation's wall time"),
      "ops_checked" -> checked.size.toString,
      "max_wall_minus_build_action_s" -> Json.num(maxSumErr),
      "wall_violations" -> sumViolations.toString,
      "max_job_past_its_span_s" -> Json.num(maxJobOverrun),
      "job_violations" -> jobViolations.toString)
  }
}
