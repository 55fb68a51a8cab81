package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (small fixture dir = sf0.001). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // keep the shared session alive

  /** The rows of the composed half of a composed-vs-native differential.
    * The session carries [[graft.plans.NativeTextRewrites]] (installed
    * here, as any manifest read installs it), which would turn the
    * composed form into the native one it is compared with; so the half is
    * planned with the rule excluded, and its optimized plan must still
    * hold neither native form. */
  def composedRows(df: => DataFrame): Array[Row] = {
    graft.plans.GraftExtensions.install(spark)
    withoutRules(graft.plans.NativeTextRewrites.ruleName) {
      val d = df
      val plan = d.queryExecution.optimizedPlan.toString
      assert(!plan.contains("sig_agree") && !plan.contains("word_ngrams"), plan)
      d.collect()
    }
  }

  /** Runs `body` with the optimizer rules named `names` (their
    * `ruleName`, e.g. `graft.sources.ManifestAggRule`) excluded through
    * Spark's own `spark.sql.optimizer.excludedRules`. */
  def withoutRules[T](names: String*)(body: => T): T =
    withConf("spark.sql.optimizer.excludedRules", names.mkString(","))(body)

  /** Runs `body` with the session conf `key` at `value`, then restores
    * the value set before (or unsets it). */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  /** Four cores and four shuffle partitions whatever the host: plan pins
    * depend on both. */
  lazy val session: SparkSession = GraftSession(cores = 4)
}
