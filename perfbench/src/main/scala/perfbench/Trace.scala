package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext

/** In-memory span recorder for the traced run.
  *
  * A span is one call into a layer: name, start, end, parent span and run
  * id. Spans stay in memory and are read out once the run ends. While
  * tracing is off, [[span]] is a plain call. While it is on, the innermost
  * span's id also rides on every Spark job the body submits (as a job local
  * property), so [[Meter]] can attribute jobs and tasks to the layer call
  * that started them.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String,
                        startNs: Long, endNs: Long, startMs: Long, endMs: Long, run: String) {
    def ms: Double = (endNs - startNs) / 1e6
    /** Layer = the name up to the first dot (`transfer.write` -> transfer). */
    def layer: String = name.takeWhile(_ != '.')
  }

  val SpanProperty = "perfbench.span"

  @volatile var on = false
  @volatile var runId = ""
  @volatile var sc: SparkContext = _

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get
      val prevProp = sc.getLocalProperty(SpanProperty)
      current.set(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        done.add(Span(id, parent, name, t0, System.nanoTime(), w0, System.currentTimeMillis(), runId))
        current.set(parent)
        sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  def spans: Seq[Span] = { import scala.jdk.CollectionConverters._; done.asScala.toSeq }

  /** Self time of each span: its wall minus the wall of its direct children. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val childMs = all.groupMapReduce(_.parent)(_.ms)(_ + _)
    all.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}

/** Samples one thread's stack while tracing is on, every `intervalMs`.
  * Each sample keeps the source file of the innermost program (`graft.`)
  * frame and the outermost `Validator.check*` method on the stack. Spark
  * jobs that adaptive execution submits from its own threads carry no
  * program frames; the sample taken when such a job started still shows
  * which program code was waiting on it. */
final class StackSampler(target: Thread, intervalMs: Long = 5) {
  final case class Sample(ms: Long, file: String, check: String)
  private val samples = new ConcurrentLinkedQueue[Sample]()
  @volatile private var running = true

  private val thread = new Thread(() => {
    while (running) {
      if (Trace.on) {
        val frames = target.getStackTrace.filter(_.getClassName.startsWith("graft."))
        val file = frames.headOption.map(f => String.valueOf(f.getFileName)).getOrElse("")
        val check = frames.reverseIterator.collectFirst {
          case f if f.getClassName == "graft.validate.Validator" && f.getMethodName.startsWith("check") =>
            f.getMethodName
        }.getOrElse("")
        samples.add(Sample(System.currentTimeMillis(), file, check))
      }
      Thread.sleep(intervalMs)
    }
  }, "perfbench-stack-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }

  /** Samples in time order, each with the ms it stands for (the gap to the
    * next sample, capped at twice the interval). */
  def timeline: Seq[(Sample, Long)] = {
    import scala.jdk.CollectionConverters._
    val s = samples.asScala.toVector
    s.indices.map(i =>
      s(i) -> (if (i + 1 < s.size) math.min(s(i + 1).ms - s(i).ms, 2 * intervalMs) else intervalMs))
  }
}
