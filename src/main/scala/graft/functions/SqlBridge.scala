package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 hides the direct `Column(expr)` constructor behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * expressions that close over runtime data (IVF centroid sets) either go
  * through the session-global `FunctionRegistry` — mutable shared state
  * that races when two queries with different constants resolve
  * concurrently — or through this bridge, which builds the `Column`
  * directly and keeps every query self-contained. The package placement
  * (`org.apache.spark.sql.graft`) is the standard open-source extension
  * pattern for reaching `private[sql]` API from a library.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** LogicalPlan → DataFrame bridge (same `private[sql]` rationale as
  * [[ColumnBridge]]): lets specs execute a plan after applying an
  * optimizer rule by hand, independent of which extensions the shared
  * test session was built with, and lets the transfer engine hand a sink
  * its staged chunks as frames. */
object PlanBridge {
  /** A session sharing `spark`'s context and cache, with copies of its
    * conf, functions, temp views and extra optimizations. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** An `InternalRow` RDD as a DataFrame (`Scan ExistingRDD`) that reports
    * `sizeInBytes` to the optimizer instead of Spark's unknown-size
    * default. The rows must match `schema`. */
  def ofRdd(spark: org.apache.spark.sql.SparkSession,
            rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
            schema: org.apache.spark.sql.types.StructType,
            sizeInBytes: BigInt): org.apache.spark.sql.DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    ofRows(s, org.apache.spark.sql.execution.LogicalRDD(attrs, rdd)(s,
      Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes))))
  }

  /** Remove the map output of every shuffle in `rdd`'s lineage now,
    * rather than whenever the driver's garbage collector lets Spark's
    * context cleaner find it. Later jobs over `rdd` would fail. */
  def releaseShuffles(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Seq[Int] = r.dependencies.flatMap {
      case d: org.apache.spark.ShuffleDependency[_, _, _] => Seq(d.shuffleId)
      case d => shuffles(d.rdd)
    }
    val cleaner = rdd.sparkContext.cleaner
    shuffles(rdd).distinct.foreach(id => cleaner.foreach(_.doCleanupShuffle(id, blocking = false)))
  }

  /** The optimizer rules an extensions set would inject — `private[sql]`
    * on SparkSessionExtensions, surfaced for extension specs. */
  def optimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
                     spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
}
