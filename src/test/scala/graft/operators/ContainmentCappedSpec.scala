package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-10: the state-bounded containment census
  * (Dedup.containmentPairsCapped) and its bounded bottom-k building block.
  */
class ContainmentCappedSpec extends SparkSpec {

  test("capped census equals the exact census when no list exceeds the cap") {
    import spark.implicits._
    val quoted = (1 to 12).map(i => s"alpha$i beta$i gamma$i").mkString(" ")
    val docs = Seq(
      (1L, quoted),
      (2L, s"intro words here $quoted trailing tail tokens follow now"),
      (3L, "wholly unrelated text about completely different topics entirely"))
      .toDF("doc_id", "text")
    val exact = Dedup.containmentPairs(docs, "doc_id", "text",
      k = 3, maxDf = 20, minContainment = 0.8)
      .orderBy("a_id", "b_id").collect().toSeq
    val capped = Dedup.containmentPairsCapped(docs, "doc_id", "text",
      k = 3, listCap = 64, maxDf = 20, minContainment = 0.8)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(exact.nonEmpty, "planted doc-in-doc pair must surface")
    assert(capped === exact,
      "sub-cap corpora must be untouched by the capped mode")
  }

  test("pair exchange is 8x default parallelism past the threshold") {
    import spark.implicits._
    // corpus big enough (plan stats > the 2 MiB threshold) that the
    // pre-aggregation exchange engages at the factor the round-13 A/B
    // fixed (8x default parallelism). LocalRelation stats
    // price strings at the default width regardless of content, so the
    // threshold is crossed by ROW COUNT — plan-only, nothing executes.
    val docs = (1L to 70000L).map(id => (id, s"doc$id")).toDF("doc_id", "text")
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes >=
      Dedup.ContainmentExchangeThresholdBytes, "fixture must cross the threshold")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      k = 3, maxDf = 20, minContainment = 0.8)
    val exchangeParts = out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.optNumPartitions
    }.flatten.headOption
    assert(exchangeParts === Some(spark.sparkContext.defaultParallelism * 8))
  }

  test("capped census truncates every inverted list to the cap") {
    import spark.implicits._
    // 40 identical docs: every shingle has df 40 > cap 20 — retained set
    // sizes (a_n/b_n) must reflect CAPPED lists, never full ones, and the
    // pair stream stays <= #shingles * C(cap,2)
    val text = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = (1L to 40L).map(id => (id, text)).toDF("doc_id", "text")
    val nShingles = 10 - 3 + 1
    val out = Dedup.containmentPairsCapped(docs, "doc_id", "text",
      k = 3, listCap = 20, maxDf = 20, minContainment = 0.8).collect()
    assert(out.nonEmpty)
    // each shingle keeps 20 of the 40 docs -> a doc retains only the
    // shingles where its salt-hash ranked in the bottom 20; no doc can
    // retain more than all 8 shingles, and inter_cnt <= min(a_n, b_n)
    out.foreach { r =>
      val (inter, an, bn) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(an <= nShingles && bn <= nShingles)
      assert(inter <= math.min(an, bn))
      assert(r.getDouble(5) >= 0.8)
    }
    // total retained occurrences across all docs = nShingles * cap exactly
    val totalRetained = (1 to nShingles).map(_ => 20).sum
    val pairRows = out.map(r => r.getLong(2)).sum
    assert(pairRows <= nShingles.toLong * (20L * 19 / 2),
      "pair stream must be bounded by #shingles * C(cap,2)")
    assert(totalRetained === nShingles * 20)
  }

  test("capped census is partitioning-independent (deterministic retention)") {
    import spark.implicits._
    val base = (1L to 30L).map(id =>
      (id, s"shared middle run of tokens plus unique$id marker words here"))
    val docs = base.toDF("doc_id", "text")
    val a = Dedup.containmentPairsCapped(docs.repartition(7), "doc_id", "text",
      k = 3, listCap = 20, maxDf = 20, minContainment = 0.5)
      .orderBy("a_id", "b_id").collect().toSeq
    val b = Dedup.containmentPairsCapped(docs.repartition(3), "doc_id", "text",
      k = 3, listCap = 20, maxDf = 20, minContainment = 0.5)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(a === b, "retention must not depend on partitioning")
  }

  test("listCap below maxDf is rejected") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.containmentPairsCapped(docs, "doc_id", "text",
        k = 3, listCap = 8, maxDf = 20)
    }
  }

  test("BottomKIdsAggregator keeps the k smallest keys, bounded buffers, id-sorted output") {
    val agg = new graft.functions.BottomKIdsAggregator(3)
    val ins = Seq(
      graft.functions.RankedId(50L, 5L), graft.functions.RankedId(10L, 9L),
      graft.functions.RankedId(30L, 1L), graft.functions.RankedId(20L, 7L),
      graft.functions.RankedId(40L, 2L), graft.functions.RankedId(10L, 3L))
    // drive through reduce in two halves merged, and in one pass — same result
    val (h1, h2) = ins.splitAt(3)
    val viaMerge = agg.finish(agg.merge(
      h1.foldLeft(agg.zero)(agg.reduce), h2.foldLeft(agg.zero)(agg.reduce)))
    val viaReduce = agg.finish(ins.foldLeft(agg.zero)(agg.reduce))
    // 3 smallest by (rk, id): (10,3), (10,9), (20,7) -> ids sorted: 3, 7, 9
    assert(viaReduce === Seq(3L, 7L, 9L))
    assert(viaMerge === viaReduce, "merge order must not matter")
    // buffers never exceed 2k-1 entries between prunes
    val big = (1L to 100L).map(i => graft.functions.RankedId(i, i))
    val buf = big.foldLeft(agg.zero)(agg.reduce)
    assert(buf.length < 2 * 3 + 1)
    assert(agg.finish(buf) === Seq(1L, 2L, 3L))
  }
}
