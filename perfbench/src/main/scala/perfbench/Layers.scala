package perfbench

/** Per-layer metrics of the traced run, named after the repo's modules.
  * Everything here is measured from outside the program: spans around
  * `Task.run` closures, DAG runs and queries, plus the two listeners.
  */
object Layers {

  /** Tasks reported on their own; every other task is pooled as `other`. */
  val tasks = Seq("stream_and_load_csv", "load_csv_to_table", "ensure_tables",
    "process_sales_batch", "consume_and_mark", "enrich_outcodes")

  val names: Seq[String] =
    Seq("core.session_start_s",
      "orchestration.dag_overhead_s", "orchestration.failed_attempts",
      "orchestration.tasks_skipped", "orchestration.leaked_run_dirs") ++
      (tasks :+ "other").flatMap(t => Seq("s", "idle_s", "spark_jobs", "cpu_util").map(m => s"jobs.$t.$m")) ++
      Seq("jobs", "queries").flatMap(l => Seq("shuffle_write_bytes", "spill_bytes", "gc_s").map(m => s"$l.$m")) ++
      Seq("operators.clean.rows_per_s", "operators.insert_ignore.s", "operators.merge_by_key.s",
        "operators.update_by_key.s", "operators.work_queue.s", "operators.scrape_parse.rows_per_s",
        "sources.overwrite.s", "sources.overwrite.bytes_per_new_byte",
        "sources.txlog.append.s", "sources.txlog.merge.s", "sources.txlog.commit_spark_jobs",
        "ext.minhash.s", "ext.minhash.pairs", "ext.components.s", "ext.components.spark_jobs",
        "ext.mixture.s",
        "functions.text_filters.rows_per_s", "functions.fingerprint.rows_per_s",
        "functions.lenient_date.rows_per_s",
        "plans.planning_s", "plans.codegen_compile_s") ++
      QueryMix.queries.flatMap(q => Seq("s", "build_s", "spark_jobs").map(m => s"queries.$q.$m")) ++
      Seq("trace.overhead_s")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def summarize(wl: Workload, tr: Tracer, traced: Seq[Iteration], plain: Seq[Iteration],
      windows: Seq[(Long, Long)], cores: Int, compileS: Double, sessionS: Double): Map[String, Double] = {
    val iters = traced.size.toDouble
    val spans = tr.spans.toSeq
    val byParent = spans.indices.groupBy(i => spans(i).parent)
    val taskSpans = spans.filter(_.name.startsWith("task:"))
    val grouped = taskSpans.groupBy { s =>
      val id = s.name.stripPrefix("task:")
      if (tasks.contains(id)) id else "other"
    }
    val jobsLayer = grouped.toSeq.flatMap { case (t, ss) =>
      val w = ss.map(s => tr.sparkIn(s.start, s.end))
      Seq(
        s"jobs.$t.s" -> median(ss.map(_.seconds)),
        s"jobs.$t.idle_s" -> median(w.map(_.idleS)),
        s"jobs.$t.spark_jobs" -> median(w.map(_.jobs.toDouble)),
        s"jobs.$t.cpu_util" -> w.map(_.cpuS).sum / (ss.map(_.seconds).sum.max(1e-3) * cores))
    }
    val dagOverhead = spans.indices.filter(i => spans(i).name.startsWith("dag:")).map { i =>
      spans(i).seconds - byParent.getOrElse(i, Nil).map(j => spans(j).seconds).sum
    }
    val queryLayer = spans.filter(_.name.startsWith("query:")).groupBy(_.name.stripPrefix("query:"))
      .toSeq.flatMap { case (q, ss) =>
        val builds = traced.flatMap(_.ops).filter(_.name == q).map(_.buildS)
        Seq(s"queries.$q.s" -> median(ss.map(_.seconds)),
          s"queries.$q.build_s" -> median(builds),
          s"queries.$q.spark_jobs" -> median(ss.map(s => tr.sparkIn(s.start, s.end).jobs.toDouble)))
      }
    val ws = windows.map { case (a, b) => tr.sparkIn(a, b) }
    val layer = if (wl == QueryMix) "queries" else "jobs"
    val runS = median(traced.map(_.wallS))
    // the first measured iteration is still warming up: leave it out of
    // the untraced side of the overhead comparison
    val plainS = median((if (plain.size > 1) plain.tail else plain).map(_.wallS))
    Map(
      "core.session_start_s" -> sessionS,
      "orchestration.dag_overhead_s" -> median(dagOverhead),
      "orchestration.failed_attempts" -> tr.failedAttempts.toDouble,
      "orchestration.tasks_skipped" -> tr.tasksSkipped.toDouble,
      "orchestration.leaked_run_dirs" -> median(traced.map(_.leakedRunDirs.toDouble)),
      s"$layer.shuffle_write_bytes" -> ws.map(_.shuffleWrite).sum / iters,
      s"$layer.spill_bytes" -> ws.map(_.spill).sum / iters,
      s"$layer.gc_s" -> ws.map(_.gcS).sum / iters,
      "plans.planning_s" -> windows.map { case (a, b) => tr.planningIn(a, b) }.sum / iters,
      "plans.codegen_compile_s" -> compileS / iters,
      "trace.overhead_s" -> (runS - plainS)) ++ jobsLayer ++ queryLayer
  }
}
