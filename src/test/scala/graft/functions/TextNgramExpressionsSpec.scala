package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec

/** The native word_ngrams / word_lines / sig_agree expressions replaced
  * interpreted higher-order-function chains for a ~10× per-scan win — this
  * spec pins BIT-EQUIVALENCE to the composed formulations they replaced,
  * including the whitespace edge cases (`split(s, ' ')` keeps empty tokens
  * for leading/trailing/double spaces and yields [""] for ""). */
class TextNgramExpressionsSpec extends SparkSpec {

  private def hofNgrams(textCol: String, k: Int) = {
    val toks = s"split($textCol, ' ')"
    expr(s"transform(sequence(0, greatest(size($toks) - $k, 0)), " +
      s"i -> concat_ws(' ', slice($toks, i + 1, $k)))")
  }

  private def hofLines(textCol: String, k: Int) = {
    val toks = s"split($textCol, ' ')"
    expr(s"transform(sequence(0, cast((size($toks) + ${k - 1}) / $k as int) - 1), " +
      s"i -> concat_ws(' ', slice($toks, i * $k + 1, $k)))")
  }

  test("word_ngrams is bit-identical to the composed HOF chain (property)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cases = Seq("", " ", "a", "a b", "a b c d e", "a  b", " a b ", "a b c") ++
      (1 to 60).map(i => Gen.listOfN(1 + i % 9, Gen.oneOf("w1", "w2", "", "tok"))
        .map(_.mkString(" ")).sample.getOrElse("a b c"))
    for (k <- Seq(2, 3, 8)) {
      val df = cases.toDF("text")
      val got = df.select(expr(s"word_ngrams(text, $k)")).collect().map(_.getSeq[String](0))
      val want = composedRows(df.select(hofNgrams("text", k))).map(_.getSeq[String](0))
      got.zip(want).zip(cases).foreach { case ((g, w), c) =>
        assert(g === w, s"k=$k text=${c.inspect}")
      }
    }
  }

  test("shingle_hash60 is bit-identical to the composed md5-prefix chain") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // includes the whitespace edge cases AND multibyte UTF-8 (byte-range
    // hashing must see exactly the bytes the string formulation hashes)
    val cases = Seq("", " ", "a", "a b", "a b c d e", "a  b", " a b ",
      "héllo wörld £5", "汉字 分词 测试 汉字", "a b c a b c a b c") ++
      (1 to 60).map(i => Gen.listOfN(1 + i % 9, Gen.oneOf("w1", "wö", "", "汉"))
        .map(_.mkString(" ")).sample.getOrElse("a b c"))
    for (k <- Seq(2, 3, 5)) {
      val df = cases.toDF("text")
      val got = df.select(expr(s"shingle_hash60(text, $k)"))
        .collect().map(_.getSeq[Long](0))
      val want = df.select(expr(
        s"transform(array_distinct(word_ngrams(text, $k)), " +
          "s -> CAST(CONV(SUBSTRING(MD5(s), 1, 15), 16, 10) AS BIGINT))"))
        .collect().map(_.getSeq[Long](0))
      got.zip(want).zip(cases).foreach { case ((g, w), c) =>
        assert(g === w, s"k=$k text=${c.inspect}")
      }
    }
  }

  test("winnow_word_fingerprints selects exactly the lexicographic hex-min grams") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // the composed chain the operator (and the DuckDB oracle) replays:
    // window minima over the 8-hex-char md5 prefixes as STRINGS
    // (lexicographic min), full w-windows only, distinct — mapped to the
    // numeric value at the end. Pins the order-isomorphism claim: the
    // native expression's numeric minima select THE SAME grams.
    def composed(k: Int, w: Int) = expr(
      s"""CASE WHEN size(word_ngrams(text, $k)) >= $w THEN
         |  array_sort(array_distinct(transform(
         |    sequence(0, size(word_ngrams(text, $k)) - $w),
         |    p -> CAST(CONV(array_min(slice(
         |      transform(word_ngrams(text, $k), g -> substring(md5(g), 1, 8)),
         |      p + 1, $w)), 16, 10) AS BIGINT))))
         |ELSE array() END""".stripMargin)
    val cases = Seq("", " ", "a", "a b", "a b c d e f g h i", "a  b c d e f g",
      " a b c d e f g ", "héllo wörld £5 and more words here",
      "汉字 分词 测试 汉字 再来 一些 词语 吧", "a b c a b c a b c a b c") ++
      (1 to 60).map(i => Gen.listOfN(1 + i % 14, Gen.oneOf("w1", "wö", "", "汉", "tok"))
        .map(_.mkString(" ")).sample.getOrElse("a b c d e f g h"))
    for ((k, w) <- Seq((4, 4), (2, 3), (3, 5))) {
      val df = cases.toDF("text")
      val got = df.select(expr(s"winnow_word_fingerprints(text, $k, $w)"))
        .collect().map(_.getSeq[Long](0))
      val want = df.select(composed(k, w)).collect().map(_.getSeq[Long](0))
      got.zip(want).zip(cases).foreach { case ((g, v), c) =>
        assert(g === v, s"k=$k w=$w text=${c.inspect}")
      }
    }
  }

  test("sorted_id_pairs equals the posexplode/transform/slice chain") {
    import spark.implicits._
    val cases = Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L), Seq(3L, 5L, 9L, 12L),
      (1L to 64L).toSeq)
    val df = cases.toDF("ids")
    val native = df.select(
      explode(GraftFunctions.sortedIdPairs(col("ids"))).as("p"))
      .select(col("p.a_id"), col("p.b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val hof = df
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "x")))
      .select(explode(expr(
        "transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "y -> struct(x AS a_id, y AS b_id))")).as("p"))
      .select(col("p.a_id"), col("p.b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(native === hof)
    assert(native.size === cases.map(c => c.size * (c.size - 1) / 2).sum)
  }

  test("word_lines is bit-identical to the composed line cutting (property)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cases = Seq("", "a", "a b c", "a b c d", " a  b ", "a b c d e f g") ++
      (1 to 60).map(i => Gen.listOfN(1 + i % 11, Gen.oneOf("t", "uu", "", "v"))
        .map(_.mkString(" ")).sample.getOrElse("a b"))
    for (k <- Seq(2, 3, 10)) {
      val df = cases.toDF("text")
      val got = df.select(expr(s"word_lines(text, $k)")).collect().map(_.getSeq[String](0))
      val want = df.select(hofLines("text", k)).collect().map(_.getSeq[String](0))
      got.zip(want).zip(cases).foreach { case ((g, w), c) =>
        assert(g === w, s"k=$k text=${c.inspect}")
      }
    }
  }

  test("word_ngrams reconstruction: grams overlap-join back to the text") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val text = "the quick brown fox jumps"
    val grams = Seq(text).toDF("text")
      .select(expr("word_ngrams(text, 3)")).collect().head.getSeq[String](0)
    assert(grams === Seq("the quick brown", "quick brown fox", "brown fox jumps"))
  }

  test("sig_agree matches the zip_with formulation and the driver-side count") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val pairs = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 7L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq(5L), Seq(5L)),
      (Seq(1L, 2L), Seq(1L, 2L))).toDF("a", "b")
    val native = pairs.select(expr("sig_agree(a, b)")).collect().map(_.getInt(0)).toSeq
    val hof = composedRows(pairs.select(
      expr("size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))"))).map(_.getInt(0)).toSeq
    assert(native === hof)
    assert(native === Seq(2, 0, 1, 2))
  }

  test("word_ngrams stays inside whole-stage codegen") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val plan = Seq("a b c").toDF("text")
      .select(explode(expr("word_ngrams(text, 3)")))
      .queryExecution.executedPlan.toString
    // "*(n)" is the compact WholeStageCodegen stage marker
    assert(plan.contains("*(1) Generate explode(word_ngrams"), plan)
  }

  private implicit class StrInspect(private val s: String) {
    def inspect: String = "\"" + s.replace(" ", "·") + "\""
  }
}
