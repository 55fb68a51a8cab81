package graft

/** Local iteration harness: time a comma-separated subset of
  * [[SparkEntry.queries]] with the same session config / drain / repetition
  * discipline as [[Bench]], without paying for the whole roster.
  *
  * Per-query reps are 1 untimed-for-the-median WARM rep + 3 timed reps
  * (round-15 verdict item 7: the first rep of a fresh query carries
  * 3-7x JVM/codegen/page-cache inflation — q127 read 3.27/0.70/0.45 s —
  * so a median-of-3 that includes it overstated single-query
  * adjudication for builder and judge alike). The line reports the
  * POST-WARM median plus the MIN across all reps (warm included: a warm
  * rep can legitimately be the fastest on a contended host).
  *
  * Usage: `sbt "runMain graft.BenchOne q118_perplexity_gate[,q66...] [sfDir]"`
  */
object BenchOne {

  /** (median of post-warm reps, min across ALL reps) — the first sample
    * is the warm rep and is excluded from the median only. */
  def report(samples: Seq[Double]): (Double, Double) = {
    require(samples.size >= 2, "need a warm rep plus at least one timed rep")
    val timed = samples.tail.sorted
    val median =
      if (timed.size % 2 == 1) timed(timed.size / 2)
      else (timed(timed.size / 2 - 1) + timed(timed.size / 2)) / 2
    (median, samples.min)
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    try SparkEntry.queries.get("q01_pricing_summary")
      .foreach(q => Measure.drain(q(spark, sfDir)))
    catch { case _: Throwable => () }
    names.foreach { raw =>
      val name = SparkEntry.queries.keys.find(_.startsWith(raw)).getOrElse(raw)
      val fn = SparkEntry.queries(name)
      val samples = (1 to 4).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        Measure.drain(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val (median, min) = report(samples)
      println(f"BENCHONE $name%-28s median=$median%.3f min=$min%.3f " +
        f"runs=${samples.map(s => f"$s%.3f").mkString(",")} (first=warm)")
    }
    spark.stop()
  }
}
