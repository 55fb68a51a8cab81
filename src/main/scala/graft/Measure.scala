package graft

import org.apache.spark.sql.DataFrame

/** Shared measurement primitives for [[Bench]], [[BenchOne]] and
  * [[graft.sources.StatsCurve]] — one definition because their outputs are
  * compared ACROSS tools (both JSONs are read against the same 3×-median
  * throttle threshold): a calibration-loop tweak in one copy would
  * silently break comparability.
  */
object Measure {

  /** Sink for the calibration loop's result so the JIT can't eliminate it. */
  @volatile private var calibSink: Long = 0L

  /** Fixed-CPU calibration probe: a constant-work xorshift checksum loop
    * timed on the driver thread (~60-80ms healthy). The host this runs on
    * throttles CPU 40-70x in intermittent multi-minute windows; a probe
    * sampled immediately before a timed block inflates with the same
    * throttle, so a reader can attribute an inflated wall time to the
    * environment instead of a plan regression. Driver-thread loop, not a
    * Spark job: scheduling overhead would add noise, and the throttle hits
    * every core equally. */
  def calibSecs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    calibSink = x
    (System.nanoTime() - t0) / 1e9
  }

  /** Parallel fixed-CPU probe: the SAME xorshift loop run simultaneously
    * on every core (half iterations each, ~35ms healthy). The failure
    * mode this catches and the serial probe cannot: a host window where
    * single-thread speed is NORMAL but parallel throughput is degraded
    * (cores stolen by a co-tenant) — observed in a round-9 recording
    * where every Spark query ran ~2× slow with 32 threads while the
    * serial probes read a healthy 0.103s throughout, and consistent with
    * the round-8 official bench reporting `throttled_count: 0` while
    * running 2.2× over its clean twin. Healthy hosts read parallel ≈
    * serial/2 (half work per thread, independent cores); a parallel
    * probe far above that ratio marks the window as
    * parallel-throughput-degraded. */
  def calibParallelSecs(threads: Int =
      Runtime.getRuntime.availableProcessors): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0
        while (i < 25000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        calibSink = x
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Locale-independent 3-decimal formatting: f"%.3f" uses the JVM default
    * locale and emits `0,519` under comma-decimal locales — invalid JSON. */
  def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Consume every row of `df` without materializing anything driver-side;
    * a noop-format WRITE rather than `count()` because under a bare count
    * Catalyst may prune work that doesn't affect cardinality (e.g. a final
    * global sort), flattering sort-heavy plans. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
