package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

import graft.SparkSpec
import graft.functions.GraftFunctions

/** The optimizer rule that protects USER-written SQL from the
  * interpreted-HOF cliff: the composed zip_with/filter/transform idioms
  * rewrite to the native codegen'd expressions with identical results. */
class NativeTextRewritesSpec extends SparkSpec {

  private def rewritten(sql: String) = {
    GraftFunctions.register(spark)
    val analyzed = spark.sql(sql).queryExecution.analyzed
    NativeTextRewrites(analyzed)
  }

  test("sig_agree rewrite fires on the composed agreement idiom") {
    import spark.implicits._
    Seq((Seq(1L, 2L, 3L), Seq(1L, 9L, 3L)), (Seq(4L), Seq(5L)))
      .toDF("a", "b").createOrReplaceTempView("sigs")
    val sql =
      "SELECT size(filter(zip_with(a, b, (x, y) -> x = y), v -> v)) AS n FROM sigs"
    val plan = rewritten(sql)
    assert(plan.toString.contains("sig_agree"), plan.toString)
    assert(PlanBridge.ofRows(spark, plan).collect().map(_.getInt(0)).toSeq ===
      composedRows(spark.sql(sql)).map(_.getInt(0)).toSeq)
  }

  test("word_ngrams rewrite fires on the canonical k-gram enumeration") {
    import spark.implicits._
    Seq("a b c d", "x", "").toDF("t").createOrReplaceTempView("docs")
    val sql =
      """SELECT transform(sequence(0, greatest(size(split(t, ' ')) - 3, 0)),
        |  i -> concat_ws(' ', slice(split(t, ' '), i + 1, 3))) AS g FROM docs""".stripMargin
    val plan = rewritten(sql)
    assert(plan.toString.contains("word_ngrams"), plan.toString)
    assert(PlanBridge.ofRows(spark, plan).collect().map(_.getSeq[String](0)).toSeq ===
      composedRows(spark.sql(sql)).map(_.getSeq[String](0)).toSeq)
  }

  test("rewrites do NOT fire on non-matching shapes") {
    import spark.implicits._
    Seq((Seq(1L, 2L), Seq(1L, 2L))).toDF("a", "b").createOrReplaceTempView("sigs2")
    // different comparator: x < y is not the agreement idiom
    val p1 = rewritten(
      "SELECT size(filter(zip_with(a, b, (x, y) -> x < y), v -> v)) FROM sigs2")
    assert(!p1.toString.contains("sig_agree"), p1.toString)
    // different separator: '_' n-grams are not the canonical shape
    Seq("a b").toDF("t").createOrReplaceTempView("docs2")
    val p2 = rewritten(
      """SELECT transform(sequence(0, greatest(size(split(t, ' ')) - 2, 0)),
        |  i -> concat_ws('_', slice(split(t, ' '), i + 1, 2))) FROM docs2""".stripMargin)
    assert(!p2.toString.contains("word_ngrams"), p2.toString)
  }

  test("GraftExtensions wires the rule and the function registry into a session") {
    // the shared test session was not built with the extensions — exercise
    // the injection path directly against a fresh builder-applied set
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // injected optimizer rule list includes NativeTextRewrites
    val rules = PlanBridge.optimizerRules(ext, spark)
    assert(rules.contains(NativeTextRewrites), rules.map(_.ruleName).mkString(","))
  }
}
