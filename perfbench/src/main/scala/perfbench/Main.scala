package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}

/** One timed pass. */
final case class PassRec(startMs: Long, endMs: Long, wallS: Double, cpuS: Double, heapMb: Double,
                         rows: Long, ops: Seq[Op], traced: Boolean)

/** The benchmark's JVM side: set up (several times), a warm-up pass, then
  * timed passes until `--seconds` have passed; writes a JSON result file.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --work DIR --cores C --out FILE
  * }}}
  */
object Main {
  val SetupReps = 3

  def newSession(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val cores = opts("cores").toInt
    work.mkdirs()

    val wl = Workloads(workload, opts("data"), work, seed)
    var spark: SparkSession = null
    val out = try {
      val setupS = (1 to SetupReps).map { i =>
        val t0 = System.nanoTime()
        spark = newSession(cores, work)
        Meter.install(spark)
        wl.setup(spark)
        val s = (System.nanoTime() - t0) / 1e9
        if (i < SetupReps) {
          wl.teardown()
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        s
      }
      val meter = Meter.install(spark)
      Trace.sc = spark.sparkContext
      Trace.runId = s"$workload-$seed-${ProcessHandle.current().pid()}"
      wl.prepare(spark)

      def onePass(first: Boolean, traced: Boolean): PassRec = {
        HeapPeak.reset()
        val cpu0 = Meter.processCpuNs()
        val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
        Trace.on = traced
        val r = try Trace.span("pass")(wl.pass(spark, first)) finally Trace.on = false
        val wall = (System.nanoTime() - t0) / 1e9
        val w1 = System.currentTimeMillis()
        val cpu = (Meter.processCpuNs() - cpu0) / 1e9 + r.externalCpuS
        val heap = HeapPeak.peakMb
        val ops = wl.check(r)
        PassRec(w0, w1, wall, cpu, heap, r.rows, ops, traced)
      }

      val warm = onePass(first = true, traced = false)
      val sampler = if (trace) Some(new StackSampler(Thread.currentThread())) else None
      val passes = scala.collection.mutable.ArrayBuffer[PassRec]()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      // a traced run interleaves untraced and traced passes (U T T U ...,
      // at least four), so the tracing overhead is measured inside one run
      // without favouring either side with the JIT's warm-up
      while (passes.isEmpty || System.nanoTime() < deadline || (trace && passes.size < 4)) {
        passes += onePass(first = false, traced = trace && Set(1, 2)(passes.size % 4))
      }
      sampler.foreach(_.stop())
      Meter.flush(spark)
      val report = new Report(workload, meter, Trace.spans, passes.toSeq, cores, sampler)
      val metrics = if (trace) report.perLayer else report.endToEnd(median(setupS))
      val allOps = warm.ops ++ passes.flatMap(_.ops)
      val failures = allOps.filterNot(_.ok).map(o => s"${o.name}: ${o.note}")
      val notes = wl.notes ++ report.notes ++ Seq(
        s"seed=$seed cores=$cores spark_parallelism=${spark.sparkContext.defaultParallelism}" +
          s" passes=${passes.size} (+1 warm-up) traced_passes=${passes.count(_.traced)}",
        s"setup_s samples: ${setupS.map(s => f"$s%.3f").mkString(",")}",
        s"wall_s samples: ${passes.map(p => f"${p.wallS}%.3f").mkString(",")}",
        f"warm-up pass: ${warm.wallS}%.3f s: " +
          warm.ops.sortBy(-_.ms).map(o => f"${o.name}=${o.ms}%.0f").mkString(" "))
      "{" + Seq(
        "\"attempted\": " + allOps.size,
        "\"failed\": " + failures.size,
        "\"failures\": " + failures.map(Json.str).mkString("[", ", ", "]"),
        "\"notes\": " + notes.map(Json.str).mkString("[", ", ", "]"),
        "\"metrics\": " + metrics.map { case (k, (v, u)) =>
          s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
        }.mkString("{", ", ", "}")).mkString(",\n ") + "}"
    } finally {
      wl.teardown()
      if (spark != null) spark.stop()
    }
    java.nio.file.Files.write(new File(opts("out")).toPath, out.getBytes("UTF-8"))
  }
}
