package perfbench

/** Per-layer totals of one traced pass. Times and counts are summed
  * over the pass; `operators.*` are means over operations. */
object Layers {
  val BuildPhase = "queries.build"
  val ExecSpans = Set("exec.run", "sources.statement", "streaming.run", "pipelines.etl")

  def summarize(t: Tracer.Trace, perOp: Seq[Map[String, Any]], cores: Int): Map[String, Any] = {
    val ops = perOp.map(_("id").asInstanceOf[Int])
    val spans = t.spans.filter(s => ops.contains(s.op))
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum
    val build = new Work
    val exec = new Work
    val all = new Work
    ops.foreach { op =>
      build.add(t.work(op, _ == BuildPhase))
      exec.add(t.work(op, _ != BuildPhase))
      all.add(t.work(op))
    }
    val execMs = spans.filter(s => ExecSpans(s.name)).map(_.ms).sum
    def phaseSum(k: String) = perOp.map(_("phases").asInstanceOf[Map[String, Double]]
      .getOrElse(k, 0.0)).sum
    def mean(k: String) = if (perOp.isEmpty) 0.0
      else perOp.map(m => m(k).asInstanceOf[Number].doubleValue()).sum / perOp.size
    // children of each op span must account for its wall time
    val coverage = spans.filter(_.name == "op").map { s =>
      val kids = spans.filter(_.parent == s.id).map(_.ms).sum
      s.op -> (if (s.ms > 0) kids / s.ms else 1.0)
    }
    // ETL wall time outside its Spark jobs: JDBC DDL and table renames
    val etlJdbcMs = spans.filter(_.name == "pipelines.etl").map { s =>
      val jobMs = t.jobs.filter(j => j.op == s.op && j.end > 0).map(j => (j.end - j.start).toDouble).sum
      math.max(0.0, s.ms - jobMs)
    }.sum
    Map(
      "queries.build_ms" -> spanMs("queries.build"),
      "queries.build_jobs" -> build.jobs,
      "plans.plan_ms" -> spanMs("plans.plan"),
      "plans.analysis_ms" -> phaseSum("analysis"),
      "plans.optimization_ms" -> phaseSum("optimization"),
      "plans.planning_ms" -> phaseSum("planning"),
      "exec.ms" -> execMs,
      "exec.jobs" -> exec.jobs,
      "exec.stages" -> exec.stages,
      "exec.tasks" -> exec.tasks,
      "exec.sched_wait_ms" -> exec.schedWaitMs,
      "exec.task_failures" -> all.taskFailures,
      "exec.core_busy" -> (if (execMs > 0) exec.runMs / (execMs * cores) else 0.0),
      "tasks.run_ms" -> all.runMs,
      "tasks.cpu_ms" -> all.cpuMs,
      "tasks.gc_ms" -> all.gcMs,
      "tasks.shuffle_read_bytes" -> all.shuffleRead,
      "tasks.shuffle_write_bytes" -> all.shuffleWrite,
      "Tables.scan_bytes" -> all.scanBytes,
      "operators.cached_bytes" -> mean("cached_bytes"),
      "operators.checkpointed_rdds" -> mean("checkpointed_rdds"),
      "sources.jdbc_ms" -> etlJdbcMs,
      "pipelines.etl_ms" -> spanMs("pipelines.etl"),
      "jobs_by_op" -> perOp.map { m =>
        val id = m("id").asInstanceOf[Int]
        m("op") -> Map("build_jobs" -> t.work(id, _ == BuildPhase).jobs,
          "exec_jobs" -> t.work(id, _ != BuildPhase).jobs)
      }.toMap,
      "coverage_by_op" -> coverage.map { case (id, c) =>
        perOp.find(_("id") == id).map(_("op")).getOrElse(id.toString).toString -> c }.toMap)
  }
}
