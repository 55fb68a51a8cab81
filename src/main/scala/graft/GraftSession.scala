package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanBridge

/** The one place a graft tool builds its Spark session, and the one place
  * an iterative operator gets a session of its own for its rounds: a clone
  * whose conf changes never reach the caller's session. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every processor the
    * JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session (or the running one) with the confs every
    * graft entry point shares: UTC session time, TIMESTAMP(NANOS) parquet
    * surfaced as a long (see [[graft.sources.Tables.load]]), no UI, and no
    * artifact isolation, which would give each loop session a class loader
    * of its own to recompile its rounds in. Shuffle partitions = `cores`. */
  def apply(cores: Int = cpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()

  /** Run an iterative operator's rounds on a clone of `spark` with AQE off
    * at `width` shuffle partitions, and hand `body`'s result back bound to
    * `spark`, whose confs never change. `body` gets the checkpoints
    * `inputs` rebound into the clone, in order. The clone's graft rules
    * are `spark`'s instances, bound to `spark`; loop bodies read only
    * checkpoints, so the manifest rules never fire there. The clone reuses
    * `spark`'s compiled classes when `spark` has no artifact isolation (see
    * [[apply]]). A body must not call [[graft.sources.Tables.loadCached]]
    * or `registerAll`: those maps key on the session and would hold the
    * clone for good. */
  def withLoopSession(spark: SparkSession, width: Int, inputs: DataFrame*)(
      body: Seq[DataFrame] => DataFrame): DataFrame = {
    val loop = PlanBridge.cloneSession(spark)
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.shuffle.partitions", width.toLong)
    rebind(spark, body(inputs.map(rebind(loop, _))))
  }

  private def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    PlanBridge.ofRows(spark, df.queryExecution.logical)
}
