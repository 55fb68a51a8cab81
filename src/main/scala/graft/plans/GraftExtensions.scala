package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.GraftFunctions
import graft.sources.{ManifestAggRule, ManifestJoinPruneRule, ManifestPruneRule, ManifestTopKRule}

/** Puts graft's functions and optimizer rules on a session at build time:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` (no Scala
  * API needed) or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  * A running session gets the same through [[GraftExtensions.install]].
  *
  * Both paths land the rules in the same batch. `injectOptimizerRule`
  * would put them in Spark's operator-optimization batch, ahead of a live
  * session's `experimental.extraOptimizations` (the trailing "User
  * Provided Optimizers" batch), so a session carrying both would let the
  * prune rules consume the manifest markers before the aggregate rule sees
  * them. The build-time hook therefore installs the list into the
  * session's extraOptimizations — the optimizer is built lazily, after the
  * session state, and reads that batch after building its own rules — and
  * hands back only the text rewrite for the operator batch, where a
  * rewritten expression also meets the batch's own simplifications. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule { session =>
      GraftExtensions.installRules(session)
      NativeTextRewrites
    }
  }
}

object GraftExtensions {

  /** The session rules, in order. The aggregate rule runs first because a
    * metadata-answerable aggregate must see the relation's marker options
    * before either prune rule substitutes the file index (and drops the
    * markers); the join rule runs before the literal rule and folds any
    * fact-side Filter conjuncts into its own zone predicate — inner
    * equi-joins always carry an inferred `isnotnull(key)` Filter over the
    * fact relation, and letting the literal rule consume the markers on
    * that null-bound alone would lock the far more selective join prune
    * out of every star query. Spark's `spark.sql.optimizer.excludedRules`
    * switches any of them off by class name (`graft.sources.ManifestAggRule`). */
  def rules(spark: SparkSession): Seq[Rule[LogicalPlan]] = Seq(
    NativeTextRewrites, ManifestAggRule(spark), ManifestTopKRule(spark),
    ManifestJoinPruneRule(spark), ManifestPruneRule(spark))

  /** Register the functions and install [[rules]] on a running session.
    * Idempotent, and a no-op for rules a session built with the extension
    * already carries. */
  def install(spark: SparkSession): Unit = {
    GraftFunctions.register(spark)
    installRules(spark)
  }

  private def installRules(spark: SparkSession): Unit = synchronized {
    val extra = spark.experimental.extraOptimizations
    if (!extra.exists(_.isInstanceOf[ManifestPruneRule]))
      spark.experimental.extraOptimizations = extra ++ rules(spark)
  }
}
