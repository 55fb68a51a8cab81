package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graft.ConfSessions

import graft.SparkSpec
import graft.plans.GraftExtensions

/** A session configured only through
  * `spark.sql.extensions=graft.plans.GraftExtensions`, with the manifest
  * view declared in SQL, skips the same files and plans the same as a
  * session given the view by [[ManifestSql.register]]. */
class ConfigPathSpec extends SparkSpec {

  private val base = Files.createTempDirectory("graft_config_path").toString
  private val dataDir = s"$base/data"
  private val mp = s"$base/manifest"
  private val dim = "CREATE OR REPLACE TEMPORARY VIEW cp_dim AS SELECT * FROM VALUES (10L), (470L) AS d(k)"
  private lazy val conf: SparkSession =
    ConfSessions.withExtensions(spark, classOf[GraftExtensions].getName)

  override def beforeAll(): Unit = {
    super.beforeAll()
    import spark.implicits._
    // 5 part files with disjoint id ranges [f*100, f*100+99]
    (0 until 5).foreach { f =>
      (0 until 100).map(i => (f * 100L + i, s"v$f"))
        .toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(s"$dataDir/t.parquet")
    }
    Manifest.update(spark, dataDir, "t", Seq("id"), mp)
    ManifestSql.register(spark, dataDir, "t", mp, "cp_t")
    spark.sql(dim)
    conf.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW cp_t USING parquet OPTIONS (
         |  path '$dataDir/t.parquet',
         |  `${ManifestSql.PathOption}` '$mp',
         |  `${ManifestSql.TableOption}` 't')""".stripMargin)
    conf.sql(dim)
  }

  private def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(leaves)
  }

  /** Files the executed scans read (the numFiles metric). */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    leaves(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  /** The optimized plan without expression ids, which differ per session. */
  private def shape(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#")

  private val counted = "SELECT count(*) AS n FROM cp_t"
  private val summed = "SELECT sum(id) AS s FROM cp_t"
  private val topK = "SELECT id, v FROM cp_t ORDER BY id LIMIT 3"
  private val pruned = "SELECT count(v) AS n FROM cp_t WHERE id >= 150 AND id <= 240"
  private val star = "SELECT count(v) AS n FROM cp_t f JOIN cp_dim d ON f.id = d.k"

  test("COUNT(*), SUM and ORDER BY ... LIMIT read 0 / 0 / 1 files on the config-only path") {
    assert(Seq(counted, summed, topK).map(q => filesRead(conf.sql(q))) === Seq(0L, 0L, 1L))
    assert(Seq(counted, summed, topK).map(q => filesRead(spark.sql(q))) === Seq(0L, 0L, 1L))
  }

  test("the config-only path plans and answers like ManifestSql.register") {
    Seq(counted, summed, topK, pruned, star).foreach { q =>
      assert(shape(conf.sql(q)) === shape(spark.sql(q)), q)
      assert(conf.sql(q).collect().toSeq === spark.sql(q).collect().toSeq, q)
    }
    assert(filesRead(conf.sql(pruned)) === 2L)
    assert(filesRead(conf.sql(star)) === 2L)
  }

  test("spark.sql.optimizer.excludedRules switches a manifest rule off on both paths alike") {
    val agg = classOf[ManifestAggRule].getName
    val key = "spark.sql.optimizer.excludedRules"
    conf.conf.set(key, agg)
    try withoutRules(agg) {
      Seq(counted, summed, pruned).foreach { q =>
        assert(filesRead(conf.sql(q)) === filesRead(spark.sql(q)), q)
        assert(conf.sql(q).collect().toSeq === spark.sql(q).collect().toSeq, q)
      }
      // without the aggregate rule the counts scan; the prune rule still skips
      assert(Seq(counted, summed, pruned).map(q => filesRead(conf.sql(q))) === Seq(5L, 5L, 2L))
    } finally conf.conf.unset(key)
  }

  test("a session carrying both the extension and install runs each manifest rule once") {
    conf.sql(counted).collect() // the optimizer (and the extension's hook) is built
    GraftExtensions.install(conf)
    GraftExtensions.install(conf)
    val extra = conf.experimental.extraOptimizations
    assert(extra.map(_.ruleName) === GraftExtensions.rules(conf).map(_.ruleName))
    // same batch as the live path: each manifest rule runs as often in
    // one query on either session
    val manifestRules = GraftExtensions.rules(conf).map(_.ruleName).filter(_.contains("Manifest"))
    def runs(s: SparkSession, q: String): Seq[Option[Long]] = {
      val qe = s.sql(q).queryExecution
      qe.optimizedPlan
      val rules = qe.tracker.rules
      manifestRules.map(r => rules.get(r).map(_.numInvocations))
    }
    Seq(counted, topK, star).foreach { q =>
      assert(runs(conf, q).forall(_.isDefined), q)
      assert(runs(conf, q) === runs(spark, q), q)
    }
  }
}
