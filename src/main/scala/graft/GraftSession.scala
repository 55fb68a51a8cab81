package graft

import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.SparkSession

/** The one place a graft tool builds its Spark session, and the one place
  * an operator scopes a session-conf change. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every processor the
    * JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session (or the running one) with the confs every
    * graft entry point shares: UTC session time, TIMESTAMP(NANOS) parquet
    * surfaced as a long (see [[graft.sources.Tables.load]]) and no UI.
    * Shuffle partitions equal `cores`. */
  def apply(cores: Int = cpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private val loopLocks = new java.util.WeakHashMap[SparkSession, ReentrantLock]()

  /** Run an iterative operator's rounds with AQE off at `width` shuffle
    * partitions, restoring both confs after. Each round's exchanges would
    * otherwise surface as their own AQE stage-jobs; the caller sizes
    * `width` from its data-proportional checkpoints. One lock per session,
    * re-entrant on the same thread: two loops on one session run one after
    * the other instead of restoring each other's values. */
  def withLoopConf[T](spark: SparkSession, width: Int)(body: => T): T = {
    val lock = loopLocks.synchronized(
      loopLocks.computeIfAbsent(spark, _ => new ReentrantLock()))
    lock.lock()
    try {
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions", "200")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      try body
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
    } finally lock.unlock()
  }
}
