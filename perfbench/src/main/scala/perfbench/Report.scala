package perfbench

/** Turns the passes, spans, jobs and tasks of one run into metrics.
  * End-to-end metrics come from untraced passes; per-layer metrics are
  * means per traced pass. Every per-layer name is always reported, as 0
  * where the workload does not reach that layer. */
final class Report(workload: String, meter: Meter, spans: Seq[Trace.Span],
                   passes: Seq[PassRec], cores: Int, sampler: Option[StackSampler]) {
  type Metrics = Seq[(String, (Double, String))]

  private val tasks = meter.allTasks
  private val jobs = meter.allJobs
  private val extraNotes = scala.collection.mutable.ArrayBuffer[String]()
  def notes: Seq[String] = extraNotes.toSeq

  private def tasksIn(p: PassRec) = tasks.filter(t => t.launchMs >= p.startMs && t.launchMs <= p.endMs)

  /** Time within [a, b] when no task was running, in ms. */
  private def idleMs(a: Long, b: Long, ts: Seq[TaskRec]): Double = {
    val iv = ts.map(t => (math.max(a, t.launchMs), math.min(b, t.finishMs))).filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0L
    var (cs, ce) = (-1L, -1L)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) busy += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) busy += ce - cs
    (b - a - busy).toDouble
  }

  def endToEnd(setupS: Double): Metrics = {
    val ps = passes.filterNot(_.traced)
    val rows = (p: PassRec) =>
      if (workload == "query_mix") tasksIn(p).map(_.scanRecords).sum.toDouble else p.rows.toDouble
    val samples = ps.flatMap(_.ops.map(_.ms)).sorted
    val n = samples.size
    val tailIdx = math.max(0, math.ceil(0.95 * n).toInt - 1)
    extraNotes += "op median ms: " + ps.flatMap(_.ops).groupBy(_.name).toSeq
      .map { case (k, os) => k -> Main.median(os.map(_.ms)) }.sortBy(-_._2)
      .map { case (k, v) => f"$k=$v%.0f" }.mkString(" ")
    extraNotes += s"op_tail_ms: p95, sample ${tailIdx + 1} of $n, ${n - 1 - tailIdx} samples beyond it; " +
      s"op_p50_ms over the same $n samples"
    Seq(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (Main.median(ps.map(_.wallS)), "s"),
      "rows_per_s" -> (Main.median(ps.map(p => rows(p) / p.wallS)), "1/s"),
      "op_p50_ms" -> (Main.median(samples), "ms"),
      "op_tail_ms" -> (if (n == 0) 0.0 else samples(tailIdx), "ms"),
      "cpu_s" -> (Main.median(ps.map(_.cpuS)), "s"),
      "mem_peak_mb" -> (Main.median(ps.map(_.heapMb)), "MB"))
  }

  def perLayer: Metrics = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val n = math.max(1, traced.size).toDouble
    val self = Trace.selfMs(spans)
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def sumMs(ss: Seq[Trace.Span]) = ss.map(_.ms).sum
    def jobsUnder(ss: Seq[Trace.Span]) = { val ids = ss.map(_.id).toSet; jobs.filter(j => ids(j.spanId)) }
    def tasksOf(js: Seq[JobRec]) = { val ids = js.map(_.jobId).toSet; tasks.filter(t => meter.jobOf(t.stageId).exists(j => ids(j.jobId))) }
    val tracedJobs = jobs.filter(_.spanId != 0)
    val tracedTasks = tasksOf(tracedJobs)

    val writes = named(n => n == "transfer.write" || n == "transfer.write_chunk")
    val writeTasks = tasksOf(jobsUnder(writes))
    val transfer = Seq(
      "transfer.read_ms" -> (sumMs(named(_ == "transfer.read")) / n, "ms"),
      "transfer.write_ms" -> (sumMs(writes) / n, "ms"),
      "transfer.finish_ms" -> (sumMs(named(_ == "transfer.finish")) / n, "ms"),
      "transfer.count_ms" -> (sumMs(named(_ == "transfer.count")) / n, "ms"),
      "transfer.engine_self_ms" -> (named(_ == "transfer.schema").map(s => self(s.id)).sum / n, "ms"),
      "transfer.rows" -> (if (workload == "query_mix") 0.0 else traced.map(_.rows).sum / n, "count"),
      "transfer.chunks" -> (named(_ == "transfer.write_chunk").size / n, "count"),
      "transfer.write_tasks" -> (writeTasks.size / n, "count"),
      "transfer.write_parallelism" -> (
        if (writes.isEmpty) 0.0
        else writeTasks.map(t => (t.finishMs - t.launchMs).toDouble).sum / (sumMs(writes) * cores), "ratio"))

    val ddl = Seq("discover", "generate", "apply").map(p =>
      s"ddl.${p}_ms" -> (sumMs(named(_ == s"ddl.$p")) / n, "ms"))

    val timeline = sampler.map(_.timeline).getOrElse(Nil)
    val sampleMs = timeline.map(_._1.ms).toArray
    // a job's program file: its call site, else the main thread's sample
    // when it started (jobs submitted by adaptive execution's own threads)
    def jobFile(j: JobRec): String =
      if (j.file.nonEmpty) j.file
      else {
        val i = java.util.Arrays.binarySearch(sampleMs, j.startMs)
        val at = if (i >= 0) i else -i - 2
        if (at >= 0) timeline(at)._1.file else ""
      }
    val manifestFiles = Set("Manifest.scala", "ManifestSql.scala")
    val sources = Seq(
      "sources.manifest_jobs" -> (tracedJobs.count(j => manifestFiles(jobFile(j))) / n, "count"),
      "sources.manifest_ms" -> (timeline.collect { case (s, d) if manifestFiles(s.file) => d }.sum / n, "ms"))

    val checks = Seq("row_count" -> "checkRowCount", "partition_counts" -> "checkPartitionCounts",
      "column_stats" -> "checkColumnStats", "fingerprint" -> "checkAggregateFingerprint",
      "row_sample" -> "checkRowSample")
    val validateJobs = jobsUnder(named(_ == "validate.table"))
    val validate = checks.map { case (k, m) =>
      s"validate.${k}_ms" -> (timeline.collect { case (s, d) if s.check == m => d }.sum / n, "ms")
    } ++ Seq(
      "validate.jobs" -> (validateJobs.size / n, "count"),
      "validate.scan_rows" -> (tasksOf(validateJobs).map(_.scanRecords).sum / n, "count"))

    val plans = meter.plans.toArray(Array.empty[(Long, Double)]).toSeq
    val queries = Workloads.QueryClasses.map(_._1).flatMap { cls =>
      val build = named(_ == s"query.$cls.build")
      val exec = named(_ == s"query.$cls.exec")
      val js = jobsUnder(build ++ exec)
      val ts = tasksOf(js)
      val planMs = plans.filter { case (st, _) => exec.exists(s => st >= s.startMs && st <= s.endMs) }.map(_._2).sum
      val wait = exec.map(s => idleMs(s.startMs, s.endMs, ts)).sum
      Seq(
        "build_ms" -> (sumMs(build) / n, "ms"),
        "plan_ms" -> (planMs / n, "ms"),
        "exec_ms" -> ((sumMs(exec) - planMs) / n, "ms"),
        "jobs" -> (js.size / n, "count"),
        "tasks" -> (ts.size / n, "count"),
        "task_cpu_ms" -> (ts.map(_.cpuMs).sum / n, "ms"),
        "sched_wait_ms" -> (wait / n, "ms"),
        "shuffle_bytes" -> (ts.map(_.shuffleBytes).sum / n, "bytes"),
        "scan_rows" -> (ts.map(_.scanRecords).sum / n, "count"),
        "spill_bytes" -> (ts.map(_.spillBytes).sum / n, "bytes")
      ).map { case (k, v) => s"query.$cls.$k" -> v }
    }

    val stages = meter.stageSubmits.toArray(Array.empty[java.lang.Long]).map(_.longValue)
      .count(s => traced.exists(p => s >= p.startMs && s <= p.endMs))
    val sched = Seq(
      "sched.jobs" -> (tracedJobs.size / n, "count"),
      "sched.stages" -> (stages / n, "count"),
      "sched.tasks" -> (tracedTasks.size / n, "count"),
      "sched.wait_ms" -> (traced.map(p => idleMs(p.startMs, p.endMs, tasksIn(p))).sum / n, "ms"),
      "exec.task_run_ms" -> (tracedTasks.map(_.runMs).sum / n, "ms"),
      "exec.task_cpu_ms" -> (tracedTasks.map(_.cpuMs).sum / n, "ms"),
      "exec.gc_ms" -> (tracedTasks.map(_.gcMs).sum / n, "ms"))

    val passSpans = named(_ == "pass")
    val layerSelf = spans.filterNot(_.name == "pass").map(s => self(s.id)).sum
    val byLayer = spans.filterNot(_.name == "pass").groupMapReduce(_.layer)(s => self(s.id))(_ + _)
    extraNotes += "layer self ms per traced pass: " +
      byLayer.toSeq.sortBy(-_._2).map { case (l, v) => f"$l=${v / n}%.1f" }.mkString(" ")
    val tr = Seq(
      "trace.overhead_ms" -> (1000 * (Main.median(traced.map(_.wallS)) - Main.median(untraced.map(_.wallS))), "ms"),
      "trace.layer_share" -> (if (passSpans.isEmpty) 0.0 else layerSelf / sumMs(passSpans), "ratio"))

    transfer ++ ddl ++ sources ++ validate ++ queries ++ sched ++ tr
  }
}
