package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Benchmark main — one JSON line of per-query wall-clock seconds over
  * `SPARK_GRAFT_SF_DIR` (driver contract). Queries run in sorted name order
  * after an untimed warmup job, so JVM/codegen/page-cache startup cost
  * doesn't land on whichever query happens to run first.
  *
  * Statistical honesty (round-4 verdict): single-shot `.count()` timings
  * showed up to 3x run-to-run noise (recorded q68 6.51s vs identical-code
  * rerun 2.06s), which would mask the very 2x regression the bench exists
  * to catch. Two fixes:
  *   - every query and every transfer benchmark runs `RUNS` times and the
  *     headline number is the MEDIAN of the CLEAN reps (within 3x of the
  *     query's own best; a >4x spread triggers up to [[MaxExtraRuns]]
  *     extra reps first — round-8's official total read 2.2x its clean
  *     local twin because plain median-of-3 reported host-throttle
  *     windows); per-run samples are kept in the JSON (`"runs"` /
  *     `"transfer_runs"`) so a reader can see the spread;
  *   - queries are timed as a `noop`-format WRITE, not a `.count()` —
  *     under a bare count Catalyst may prune work that doesn't affect
  *     cardinality (e.g. a final global sort), flattering sort-heavy
  *     queries; the noop sink consumes every row of the real result.
  */
object Bench {
  private val Runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt

  /** Local-iteration knobs (the driver's official run uses neither):
    * SPARK_GRAFT_BENCH_ONLY=q12,q111 restricts the sweep to name-prefix
    * matches; SPARK_GRAFT_BENCH_NO_TRANSFER=1 skips the three transfer
    * benchmarks — both exist so a drift/regression hypothesis can be
    * tested in seconds instead of a full 182-query sweep. */
  private val Only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSeq)
  private val NoTransfer = sys.env.contains("SPARK_GRAFT_BENCH_NO_TRANSFER")

  /** Extra repetitions allowed when one query's reps disagree >4x —
    * round-8 post-mortem: median-of-3 with one clean and two throttled
    * reps reports the THROTTLE (q119 ran [2.7, 70.1, 3.4]s and the
    * official total read 264s vs 118s clean-local for identical code). */
  val MaxExtraRuns = 2

  /** Spread ratio that triggers a rerun: max/min within one query's reps.
    * 4x sits well above genuine plan nondeterminism (AQE re-plans measured
    * ≤2x) and well below the 5-25x inflation recorded throttle windows
    * produce. Reruns ALSO trigger whenever the clean subset has fewer than
    * [[MinCleanReps]] members (round-9 advice): reps like [1.0, 3.5, 3.6]
    * sit under the 4x spread yet leave a single-rep "median" — a genuine
    * bimodal 3-4x regression would otherwise be reported at its fastest
    * rep with no extra evidence gathered. */
  val RerunSpread = 4.0

  /** Minimum members the clean subset must have before the reported median
    * is accepted without gathering more reps (bounded by [[MaxExtraRuns]]). */
  val MinCleanReps = 2

  /** True when a query's rep block needs another repetition: either the
    * raw spread says a throttle window landed inside it, or the clean
    * subset is too small to median over. */
  def needsRerun(samples: Seq[Double]): Boolean =
    samples.nonEmpty &&
      (samples.max / samples.min > RerunSpread ||
       cleanReps(samples).size < MinCleanReps)

  /** Clean-subset rule for the reported median: reps ≤3x the query's own
    * best rep. A throttled rep is 5-25x the clean ones, so it falls out;
    * by construction the reported median can never sit above 3x the best
    * rep (the round-8 acceptance bound). */
  def cleanReps(samples: Seq[Double]): Seq[Double] =
    if (samples.isEmpty) samples else samples.filter(_ <= 3.0 * samples.min)

  // shared with StatsCurve (Measure): both tools' JSONs are read against
  // the same 3x-median throttle threshold (round-5 official bench:
  // q53/q92/q93/q94 inflated 40-83x while the suite median inflation was
  // 1.23x)
  private def calibSecs(): Double = Measure.calibSecs()
  private def fmt(v: Double): String = Measure.fmt(v)

  /** Short display keys for the stdout line: the `qNN` prefix up to the
    * first '_' (unique today; any collision falls back to the full name
    * rather than silently merging two queries' timings). */
  def shortKeys(names: Seq[String]): Map[String, String] = {
    val pref = names.map(n => n -> n.takeWhile(_ != '_')).toMap
    val counts = pref.values.groupBy(identity).view.mapValues(_.size).toMap
    pref.map { case (full, p) => full -> (if (counts(p) == 1) p else full) }
  }

  /** Per-query medians from the PRIOR round's detail files — the
    * reference for the round-14 blind band: in the official r14 run five
    * queries' calibration probes sat at 2.5-2.9x the run median (just
    * under the 3x flag) while their reps ran 3.5x their clean-local
    * times, so ~20 s of contention rode in an unflagged "clean" total.
    * The fix cross-checks a mildly-elevated probe against history: a
    * query is also flagged when its probe ran >2x the run median AND its
    * clean median landed >2x the best prior-round recording. Prior = the
    * highest-round BENCH_DETAIL_r<N>*.json below the current stamp whose
    * recorded `sf` matches this run's (a prior sf0.001 smoke must not
    * make every sf0.1 query read 2x slow), all tags, per-query MIN
    * across them (the cleanest known recording); failed-query sentinels
    * (negative) are dropped. */
  def priorMedians(cwd: java.io.File = new java.io.File("."),
                   sfDir: String = ""): Map[String, Double] = {
    val dPat = "BENCH_DETAIL_r0*(\\d+)(_[A-Za-z0-9_]+)?\\.json".r
    val cPat = "CORRECTNESS_r0*(\\d+)\\.json".r
    val bPat = "BENCH_r0*(\\d+)\\.json".r
    val names = Option(cwd.list()).getOrElse(Array.empty[String]).toSeq
    val cSeen = names.collect { case cPat(n) => n.toInt }.toSet
    val bSeen = names.collect { case bPat(n) => n.toInt }.toSet
    val pending = cSeen.diff(bSeen)
    val current =
      if (pending.nonEmpty) pending.max
      else if (cSeen.isEmpty && bSeen.isEmpty) 0
      else (cSeen ++ bSeen).max + 1
    // same-SF recordings only (matched on the path's basename so a
    // relocated testdata root still compares); an empty sfDir skips the
    // filter (unit tests, exploratory use)
    val sfBase = new java.io.File(sfDir).getName
    def sameSf(json: String): Boolean =
      sfDir.isEmpty || "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(json)
        .exists(m => new java.io.File(m.group(1)).getName == sfBase)
    val priorFiles = names.collect { case n @ dPat(r, _) if r.toInt < current => (r.toInt, n) }
    val bodies = priorFiles.flatMap { case (r, n) =>
      scala.util.Try(java.nio.file.Files.readString(cwd.toPath.resolve(n)))
        .toOption.filter(sameSf).map((r, _))
    }
    if (bodies.isEmpty) Map.empty
    else {
      val top = bodies.map(_._1).max
      bodies.filter(_._1 == top).map(_._2)
        .flatMap(b => scala.util.Try(parseQueriesMap(b))
          .getOrElse(Map.empty[String, Double]).toSeq)
        .groupMapReduce(_._1)(_._2)(math.min)
        .filter(_._2 > 0)
    }
  }

  /** The `"queries"` object of a detail JSON as name→seconds; empty when
    * the text is not JSON or carries no such object. */
  def parseQueriesMap(json: String): Map[String, Double] =
    scala.util.Try(Json.mapper.readTree(json).path("queries").properties().asScala
      .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }
      .toMap).getOrElse(Map.empty)

  /** Whether one query's run sat in a contention window: the round-5 hard
    * probes (>3x the run-wide median, serial or parallel) OR the round-14
    * blind band (probe >2x AND clean median >2x the best prior-round
    * recording of the same query). */
  def throttleFlag(calib: Double, calibMed: Double,
                   calibPar: Double, calibParMed: Double,
                   median: Double, prior: Option[Double]): Boolean =
    (calibMed > 0 && calib > 3 * calibMed) ||
    (calibParMed > 0 && calibPar > 3 * calibParMed) ||
    (((calibMed > 0 && calib > 2 * calibMed) ||
      (calibParMed > 0 && calibPar > 2 * calibParMed)) &&
      prior.exists(pm => pm > 0 && median > 2 * pm))

  /** Stdout-line budget. The driver's tail capture is ~2000 chars and sbt's
    * trailing "[success] …" line eats ~80 — but rounds 2-7 proved that
    * SPENDING the whole window is the failure mode: r7's full-roster line ran
    * 1815 chars and the captured tail already showed the front clipped into a
    * stray warning; r6's overflowed outright and the artifact recorded
    * `parsed: null`. So the line now carries only the headline plus the
    * slowest few query medians and stays under HALF the window — the full
    * per-query map lives solely in BENCH_DETAIL.json. */
  val MaxLineLength = 1000

  /** Assemble the stdout JSON line: errors, headline, suite size, and the
    * `queries` map holding only the SLOWEST medians — as many as fit the
    * budget (10 → 5 → 0). The last rung additionally truncates the error
    * list to 10 names (`errors_total` keeps the true count), so the line is
    * bounded for ANY roster size or failure count — suite growth can never
    * push the artifact back into the rounds-2..6 `parsed: null` mode. */
  /** Round-stamped detail filename (round-11 verdict item 6; stamp rule
    * fixed round 13): the official driver run used to OVERWRITE
    * BENCH_DETAIL.json, clobbering the clean local run's only full
    * per-query record. The driver writes CORRECTNESS_rN BEFORE it runs the
    * bench, so "max seen + 1" stamped the round-12 official detail as r13
    * (verdict item: off by one, compounding). The current round is instead
    * the highest CORRECTNESS_rN that has no BENCH_rN yet (that bench is the
    * run about to happen); when every correctness file already has its
    * bench — a between-rounds local run — the NEXT round's stamp applies. */
  def detailFileName(cwd: java.io.File = new java.io.File(".")): String = {
    val cPat = "CORRECTNESS_r0*(\\d+)\\.json".r
    val bPat = "BENCH_r0*(\\d+)\\.json".r
    val names = Option(cwd.list()).getOrElse(Array.empty[String])
    val cSeen = names.collect { case cPat(n) => n.toInt }.toSet
    val bSeen = names.collect { case bPat(n) => n.toInt }.toSet
    val pending = cSeen.diff(bSeen)
    val round =
      if (pending.nonEmpty) pending.max
      else if (cSeen.isEmpty && bSeen.isEmpty) 0
      else (cSeen ++ bSeen).max + 1
    // SPARK_GRAFT_BENCH_TAG separates a local clean-window recording from
    // the round's official run — without it the two would clobber each
    // other even round-stamped (both land in the same round)
    val tag = sys.env.get("SPARK_GRAFT_BENCH_TAG").map("_" + _).getOrElse("")
    s"BENCH_DETAIL_r$round$tag.json"
  }

  def stdoutLine(medians: Seq[(String, Double)], errors: Seq[String],
                 headline: String, sf: String,
                 maxLen: Int = MaxLineLength,
                 detailName: String = "BENCH_DETAIL.json"): String = {
    val keys = shortKeys(medians.map(_._1))
    val slowest = medians.sortBy { case (k, v) => (-v, k) }
    def build(nQueries: Int, errs: Seq[String]): String = {
      val qs = slowest.take(nQueries).map { case (k, v) =>
        s""""${keys(k)}":${String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))}"""
      }.mkString("{", ",", "}")
      val errJson = errs.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"errors":$errJson,"errors_total":${errors.size},$headline,""" +
        s""""queries_total":${medians.size + errors.size},"queries":$qs,""" +
        s""""detail":"$detailName","sf":"$sf"}"""
    }
    Iterator(10, 5, 0).map(build(_, errors)).find(_.length <= maxLen)
      .getOrElse(build(0, errors.take(10)))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Times `body` once, returning (seconds, success). */
  private def time1(body: => Unit): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch { case _: Throwable => false }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** `Runs` timed repetitions of a throughput benchmark; median rows/s.
    * A failed run aborts the remaining repetitions (it would fail again)
    * and the whole benchmark reports -1.
    */
  private def bench3(run: () => Double): (Double, Seq[Double]) = {
    val samples = scala.collection.mutable.ArrayBuffer[Double]()
    var failed = false
    var i = 0
    while (i < Runs && !failed) {
      try samples += run()
      catch { case _: Throwable => failed = true }
      i += 1
    }
    if (failed || samples.isEmpty) (-1.0, samples.toSeq) else (median(samples.toSeq), samples.toSeq)
  }

  private def drain(df: DataFrame): Unit = Measure.drain(df)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    // Untimed warmup: touches every fixture file and exercises codegen,
    // including the noop write path used for timing.
    try SparkEntry.queries.get("q01_pricing_summary").foreach(q => drain(q(spark, sfDir)))
    catch { case _: Throwable => () }

    // Transfer benchmarks run FIRST, in near-fresh JVM state: round 2
    // measured them after the 68-query sweep and recorded roughly a third
    // of round 1's throughput — heap pressure and page-cache churn from the
    // sweep, not a transfer regression. One small untimed transfer warms
    // the write path so codegen/committer startup doesn't bill the
    // measurement either.
    if (!NoTransfer) try {
      val warm = java.nio.file.Files.createTempDirectory("graft_bench_warm").toString
      new graft.transfer.TransferEngine(
        new graft.transfer.ParquetSource(sfDir), new graft.transfer.ParquetSink(warm))
        .transferTable(spark, "nation")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warm))
    } catch { case _: Throwable => () }

    // Transfer throughput (rows/s) on the largest table — the comparable to
    // BASELINE.md's 50k-200k rows/s single-process transfer numbers.
    val calibTransfer = calibSecs()
    val (transferRps, transferSamples) = if (NoTransfer) (-1.0, Seq[Double]()) else bench3 { () =>
      val out = java.nio.file.Files.createTempDirectory("graft_bench_xfer").toString
      val engine = new graft.transfer.TransferEngine(
        new graft.transfer.ParquetSource(sfDir), new graft.transfer.ParquetSink(out))
      val stats = engine.transferTable(spark, "lineitem")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      if (stats.success) stats.rowsPerSecond else sys.error("transfer failed")
    }

    // Whole-schema transfer with 4 parallel table workers — the reference's
    // benchmark configuration (README.md:384-385: --workers 4 → 50k-200k
    // rows/s); aggregate rows over wall-clock.
    val calibSchema = calibSecs()
    val (schemaRps, schemaSamples) = if (NoTransfer) (-1.0, Seq[Double]()) else bench3 { () =>
      val out = java.nio.file.Files.createTempDirectory("graft_bench_schema").toString
      val engine = new graft.transfer.TransferEngine(
        new graft.transfer.ParquetSource(sfDir), new graft.transfer.ParquetSink(out))
      val t0 = System.nanoTime()
      val stats = engine.transferSchema(spark, graft.sources.Tables.all, workers = 4)
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      if (stats.forall(_.success) && secs > 0) stats.map(_.rowsTransferred).sum / secs
      else sys.error("schema transfer failed")
    }

    // COPY-path throughput: the same lineitem through the CSV bulk sink
    // (string formatting + minimal quoting is the extra cost vs parquet —
    // the honest comparable to the reference's CSV+COPY pipeline).
    val calibCsv = calibSecs()
    val (csvRps, csvSamples) = if (NoTransfer) (-1.0, Seq[Double]()) else bench3 { () =>
      val out = java.nio.file.Files.createTempDirectory("graft_bench_csv").toString
      val engine = new graft.transfer.TransferEngine(
        new graft.transfer.ParquetSource(sfDir), new graft.transfer.CsvBulkSink(out))
      val stats = engine.transferTable(spark, "lineitem")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      if (stats.success) stats.rowsPerSecond else sys.error("csv transfer failed")
    }

    // Query sweep: `Runs` timed noop-writes per query, median reported.
    // A failed query records its first wall-time NEGATED (sentinel) and
    // lands in "errors" — a broken query must never read as a fast one.
    // Cached/checkpointed blocks are dropped after every run: several
    // operators cache intermediates for intra-query reuse, and letting 100+
    // queries' worth pile up degrades the late sweep (round-3 bench showed
    // 2-6x late-query inflation vs the same queries in a clean session).
    // Each run also records summed executor CPU time (CpuMeter): the
    // throttle-immune counterpart to the wall sample — a throttled process
    // is descheduled, not busier, so a wall spike with flat CPU seconds is
    // environment. The converse is NOT reliable: memory-bandwidth
    // contention inflates CPU seconds too (stalled cycles bill to the
    // running thread — the round-14 q113 mis-adjudication), so elevated
    // CPU with an unchanged plan means "confirm with an isolated BenchOne",
    // not "real plan change". The 0.08s calibration probe samples only the
    // instant BEFORE the repetition block; CPU seconds cover the runs
    // themselves.
    val cpuMeter = new CpuMeter
    spark.sparkContext.addSparkListener(cpuMeter)
    val roster = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => Only.forall(_.exists(name.startsWith)) }
    val results = roster.map { case (name, fn) =>
      val calib = calibSecs()
      val calibPar = Measure.calibParallelSecs()
      val samples = scala.collection.mutable.ArrayBuffer[Double]()
      val cpuSamples = scala.collection.mutable.ArrayBuffer[Double]()
      var failSecs = Option.empty[Double]
      def rep(): Unit = {
        cpuMeter.reset()
        val (secs, ok) = time1(drain(fn(spark, sfDir)))
        cpuSamples += cpuMeter.quiesce()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        if (ok) samples += secs else failSecs = Some(secs)
      }
      var i = 0
      while (i < Runs && failSecs.isEmpty) { rep(); i += 1 }
      // Throttle self-repair (round-8 verdict item 1): a >4x spread within
      // one query's reps means a host-throttle window landed inside the
      // block — take up to MaxExtraRuns more reps so the clean subset has
      // enough members to median over, then report the median of the reps
      // within 3x of the query's own best (cleanReps). All reps, including
      // the discarded throttled ones, stay in BENCH_DETAIL.json `runs`.
      // Round-9 advice: also rerun while the clean subset is a singleton
      // (e.g. [1.0, 3.5, 3.6] — under the 4x spread, but the median would
      // rest on one rep), so every reported median has >=MinCleanReps
      // members behind it or exhausted the extra-run budget trying.
      var extra = 0
      while (failSecs.isEmpty && extra < MaxExtraRuns &&
             needsRerun(samples.toSeq)) { rep(); extra += 1 }
      val ok = failSecs.isEmpty
      val secs = failSecs.getOrElse(median(cleanReps(samples.toSeq)))
      (name, if (ok) secs else -secs, ok, samples.toSeq, calib,
        median(cpuSamples.toSeq), calibPar)
    }
    // The driver keeps only a bounded ~2000-char TAIL of stdout and parses
    // the JSON line out of it. Rounds 2-6 emitted one giant line (per-run
    // samples, cpu, calib maps) whose FRONT fell off that window, so the
    // driver recorded `parsed: null` every round; round 7's short-key map
    // fit but at 1815 chars the tail already clipped its front. Fix: the
    // stdout line carries only headline fields + the slowest few medians
    // (≤MaxLineLength, see stdoutLine) and everything else — full query
    // names, per-run samples, cpu seconds, calibration probes, throttle and
    // outlier lists — goes to BENCH_DETAIL.json in the working directory.
    // Failed queries are listed in `errors` only — a broken query must never
    // read as a (possibly negative) timing. Round-6 advice flagged the old
    // negated-wall sentinel (-0.066s) as noise.
    val okMedians = results.collect { case (k, v, true, _, _, _, _) => (k, v) }
    val errorNames = results.collect { case (k, _, false, _, _, _, _) => k }
    val errors = errorNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _, _, _, _) => v }.sum
    val cpuTotal = results.collect { case (_, _, true, _, _, cpu, _) => cpu }.sum
    // Throttle self-adjudication (round-5 verdict item 1): each query's
    // calibration sample vs the run-wide calibration median. A query whose
    // probe ran >3x the median executed inside a host-throttle window — its
    // wall time is environment, not plan. `throttled` lists exactly those
    // windows machine-readably; `throttled_count` rides in the headline.
    val calibMed = median(results.map(_._5))
    // Parallel-throughput degradation (round-9): a window where serial
    // probes stay healthy but every core's share of the machine halves
    // (observed: all queries ~2x with serial calib at 0.103s throughout).
    // The parallel probe inflates with exactly that mode, so flag queries
    // whose parallel probe ran >3x the run-wide parallel median, and emit
    // the parallel median itself — a reader comparing calib_par_median
    // against a healthy recording sees whole-run degradation even when
    // nothing is flagged relative to the (already-degraded) run median.
    val calibParMed = median(results.map(_._7))
    // Blind band (round-14 verdict item 8): probes at 2-3x the run median
    // sat under the hard flag while the reps they bracketed ran 3.5x
    // clean — cross-check mildly-elevated probes against the best
    // prior-round recording of the same query (see throttleFlag).
    val prior = priorMedians(sfDir = sfDir)
    val throttled = results.collect {
      case (k, v, ok, _, c, _, p)
        if throttleFlag(c, calibMed, p, calibParMed,
          if (ok) v else -1.0, prior.get(k)) => k
    }
    // Per-query outlier flag (round-7 verdict item 4): the calibration probe
    // samples only the instant BEFORE each repetition block, so a host stall
    // in the MIDDLE of a block (r7 saw q107 run 14.2s between 2.0s
    // neighbors) is invisible to `throttled`. A query whose worst sample ran
    // >5x its own median had exactly such a mid-block stall — the median
    // headline absorbs it, but the flag tells a reader the spread is
    // environment, not plan nondeterminism.
    val outliers = results.collect {
      case (k, _, true, ss, _, _, _)
        if ss.nonEmpty && median(ss) > 0 && ss.max / median(ss) > 5 => k
    }
    // cpus_effective (round-18 contract addendum, additions-only): the
    // session's actual scheduling width, so the driver's scaling heuristic
    // can verify $SPARK_GRAFT_CPUS took effect instead of inferring it from
    // per-query ratios (the sf0.1 roster is fixed-overhead-bound past ~8
    // cores, which round 17's heuristic misread as the knob being ignored)
    val headline = s""""metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""stat":"clean_median_of_$Runs",""" +
      s""""cpus_effective":${spark.sparkContext.defaultParallelism},""" +
      s""""transfer_rows_per_sec":${transferRps.round},""" +
      s""""schema_transfer_rows_per_sec":${schemaRps.round},""" +
      s""""csv_transfer_rows_per_sec":${csvRps.round},""" +
      s""""throttled_count":${throttled.size},""" +
      s""""cpu_total_secs":${fmt(cpuTotal)},""" +
      s""""calib_median":${fmt(calibMed)},""" +
      s""""calib_par_median":${fmt(calibParMed)}"""

    // Detail file: full names, per-run wall samples, per-run-block cpu
    // seconds, calibration probes, transfer samples.
    val runsJson = results.map { case (k, _, _, ss, _, _, _) =>
      s""""$k":[${ss.map(fmt).mkString(",")}]"""
    }.mkString("{", ",", "}")
    val cpuJson = results.map { case (k, _, _, _, _, cpu, _) =>
      s""""$k":${fmt(cpu)}"""
    }.mkString("{", ",", "}")
    val calibJson = results.map { case (k, _, _, _, c, _, _) =>
      s""""$k":${fmt(c)}"""
    }.mkString("{", ",", "}")
    val calibParJson = results.map { case (k, _, _, _, _, _, p) =>
      s""""$k":${fmt(p)}"""
    }.mkString("{", ",", "}")
    // failed queries keep the negated-wall sentinel HERE (detail only)
    val fullQs = results.map { case (k, v, _, _, _, _, _) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val transferRuns =
      s""""transfer":[${transferSamples.map(_.round).mkString(",")}],""" +
      s""""schema":[${schemaSamples.map(_.round).mkString(",")}],""" +
      s""""csv":[${csvSamples.map(_.round).mkString(",")}],""" +
      s""""calib":[${Seq(calibTransfer, calibSchema, calibCsv).map(fmt).mkString(",")}]"""
    val detail = s"""{$headline,"queries":$fullQs,"errors":$errors,""" +
      s""""transfer_runs":{$transferRuns},"runs":$runsJson,"cpu":$cpuJson,""" +
      s""""calib":$calibJson,"calib_par":$calibParJson,""" +
      s""""throttled":[${throttled.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""outliers":[${outliers.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""sf":"$sfDir"}"""
    val detailName = detailFileName()
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailName), detail + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }

    // stdoutLine is bounded (≤MaxLineLength for any roster) — headline plus
    // the slowest medians only; the full map is in the detail file.
    println(stdoutLine(okMedians, errorNames, headline, sfDir,
      detailName = detailName))
    spark.stop()
  }
}
