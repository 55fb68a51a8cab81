package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Sums executor CPU nanos across task ends — the throttle-immune
  * complement to wall-clock timing used by [[Bench]].
  *
  * The shared host intermittently CPU-throttles 40-70x for minutes at a
  * time, and a short pre-run calibration probe cannot see a throttle that
  * begins MID-run (one scale-curve recording shows a 340s sample bracketed
  * by clean 0.08s probes). Task CPU time survives that: a throttled
  * process is descheduled, not busier, so the CPU it consumes stays
  * proportional to the work done while its wall clock inflates. A query
  * whose wall time triples while its CPU seconds hold steady ran inside a
  * throttle window.
  *
  * The converse is NOT reliable (round-14 adjudication): memory-BANDWIDTH
  * contention from co-tenants inflates CPU seconds too — stalled cycles
  * still bill to the running thread — so "CPU up ⇒ real plan change" is
  * one-directional reasoning. Round 14's official recording doubled one
  * query's CPU seconds in two independent runs on a contended evening
  * while an isolated re-run at the same commit reproduced the prior
  * round's numbers exactly. Treat elevated CPU with an unchanged plan as
  * SUSPECTED contention and confirm with an isolated BenchOne before
  * calling it a regression.
  *
  * Uses only public listener API. Task-end events post asynchronously, so
  * reads go through [[quiesce]], which waits for the counter to stop
  * moving (bounded at 2s).
  */
final class CpuMeter extends SparkListener {
  private val nanos = new java.util.concurrent.atomic.AtomicLong(0L)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) nanos.addAndGet(m.executorCpuTime)
  }

  def reset(): Unit = nanos.set(0L)

  def quiesce(): Double = {
    var prev = -1L
    var now = nanos.get
    var waited = 0
    while (now != prev && waited < 2000) {
      Thread.sleep(100); waited += 100
      prev = now; now = nanos.get
    }
    now / 1e9
  }
}
