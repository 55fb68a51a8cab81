package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Optimization-round measurement harness (guide §1): for each named query,
  * dump `.explain("formatted")` to `<outDir>/<name>_<suffix>.txt` and print
  * a per-stage breakdown (wall, task count, executor run time, input /
  * shuffle bytes) of ONE post-warm noop-drained repetition, so a reader can
  * see where the wall-clock goes — scan vs exchange vs per-task compute —
  * without the Spark UI (disabled in the bench session).
  *
  * Usage: `sbt "runMain graft.Profile q01,q67 [suffix] [outDir] [sfDir]"`
  * The session config matches [[Bench]] exactly — measurements here must
  * transfer to the bench, not to a differently-tuned session.
  */
object Profile {

  private final class StageMeter extends SparkListener {
    case class Row(id: Int, name: String, tasks: Int, wallMs: Long,
                   runMs: Long, cpuMs: Long, inBytes: Long, inRecs: Long,
                   shRead: Long, shWrite: Long, spill: Long)
    val rows = mutable.ArrayBuffer[Row]()
    var jobs = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val wall = (for {s <- si.submissionTime; c <- si.completionTime}
        yield c - s).getOrElse(-1L)
      rows += Row(si.stageId, si.name.takeWhile(_ != '\n').take(60),
        si.numTasks, wall, m.executorRunTime, m.executorCpuTime / 1000000,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    }
    def reset(): Unit = { rows.clear(); jobs = 0 }
    def dump(): String = {
      val hdr = f"${"stage"}%-7s ${"tasks"}%5s ${"wall"}%7s ${"run"}%8s " +
        f"${"cpu"}%8s ${"input"}%10s ${"recs"}%9s ${"shRd"}%9s ${"shWr"}%9s ${"spill"}%7s  name"
      val body = rows.sortBy(_.id).map { r =>
        f"${r.id}%-7d ${r.tasks}%5d ${r.wallMs}%6dms ${r.runMs}%7dms " +
          f"${r.cpuMs}%7dms ${r.inBytes}%10d ${r.inRecs}%9d ${r.shRead}%9d ${r.shWrite}%9d ${r.spill}%7d  ${r.name}"
      }.mkString("\n")
      s"jobs=$jobs stages=${rows.size}\n$hdr\n$body"
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val suffix = args.lift(1).getOrElse("before")
    val outDir = args.lift(2).getOrElse("plans/r17")
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    try SparkEntry.queries.get("q01_pricing_summary")
      .foreach(q => Measure.drain(q(spark, sfDir)))
    catch { case _: Throwable => () }
    val meter = new StageMeter
    spark.sparkContext.addSparkListener(meter)
    names.foreach { raw =>
      val name = SparkEntry.queries.keys.find(_.startsWith(raw)).getOrElse(raw)
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      Measure.drain(df) // warm rep: codegen + page cache, not measured
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      meter.reset()
      val t0 = System.nanoTime()
      Measure.drain(fn(spark, sfDir))
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // listener bus is async — give stage-completed events a beat to land
      Thread.sleep(300)
      println(f"\nPROFILE $name wall=$secs%.3f s (plan -> $outDir/${name}_$suffix.txt)")
      println(meter.dump())
    }
    spark.stop()
  }
}
