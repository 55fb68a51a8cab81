package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, in wall-clock ms. Scans are counted in rows: Parquet's
  * vectored reads run outside the task thread, so the task's byte counter
  * misses them. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuMs: Double, gcMs: Long, shuffleBytes: Long,
                         scanRecords: Long, spillBytes: Long)

/** One job: the span it ran under (0 = none) and the call stack Spark
  * recorded for it (the result stage's long call site). */
final case class JobRec(jobId: Int, spanId: Long, startMs: Long, callStack: String) {
  /** Source file of the innermost program (`graft.`) frame, e.g.
    * `graft.sources.Manifest$.update(Manifest.scala:12)` -> Manifest.scala. */
  lazy val file: String = callStack.linesIterator.map(_.trim).find(_.startsWith("graft."))
    .map(f => f.dropWhile(_ != '(').drop(1).takeWhile(_ != ':')).getOrElse("")
}

/** Spark listener for the benchmark: keeps every job (with the span it ran
  * under and its call stack) and every task's timing and bytes, plus the
  * planning time of each SQL execution. Installed once per SparkContext. */
final class Meter extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stageSubmits = new ConcurrentLinkedQueue[java.lang.Long]()
  /** (planning start ms, planning ms) per SQL execution. */
  val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val spanId = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    // the result stage is created last, so it has the highest id; its call
    // site is the job's (map stages carry their RDD's creation site)
    val stack = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, spanId, e.time, stack))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmits.add(e.stageInfo.submissionTime.map(Long.box).getOrElse(Long.box(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) tasks.add(TaskRec(
      e.stageId, i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime / 1e6,
      m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.recordsRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def jobOf(stageId: Int): Option[JobRec] = Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq
  def allTasks: Seq[TaskRec] = tasks.asScala.toSeq
}

object Meter {
  private val installed = new ConcurrentHashMap[SparkContext, Meter]()
  private val sessions = ConcurrentHashMap.newKeySet[SparkSession]()

  /** Install the meter on this session's context and its plan listener on
    * the session, each at most once (contains-check, then register). */
  def install(spark: SparkSession): Meter = {
    val sc = spark.sparkContext
    if (!installed.containsKey(sc)) {
      val m = new Meter
      sc.addSparkListener(m)
      installed.put(sc, m)
    }
    val m = installed.get(sc)
    if (!sessions.contains(spark)) {
      spark.listenerManager.register(m.planListener)
      sessions.add(spark)
    }
    m
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def flush(spark: SparkSession): Unit =
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Peak heap in use after a garbage collection: the largest live heap the
  * collector saw since [[reset]]. Peak pool usage would instead measure
  * where allocation stood when the collector happened to run. */
object HeapPeak {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak live heap in MB since [[reset]]; the heap in use now if no
    * collection ran. */
  def peakMb: Double = synchronized {
    (if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
}
