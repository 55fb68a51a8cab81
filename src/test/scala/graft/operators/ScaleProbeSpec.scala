package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Scale probe: drive the dedup signature+candidate pipeline over a
  * synthetic corpus 200× the sf0.001 fixture (100k documents) — evidence
  * the plan shape (per-row signatures, window-capped bucket join, narrow
  * candidate shuffles) holds when the data is no longer trivial, and a
  * regression tripwire for accidental quadratic behavior.
  *
  * Flake-proofing (round-5 verdict): this host throttles CPU 40-70× in
  * intermittent windows — the components probe recorded 193.7s in a full
  * `sbt test` run and 11.4s standalone on identical code — so absolute
  * wall-clock bounds are a false-red generator. Each test now asserts the
  * *work-proportional* invariants first (plan shape, planted-duplicate
  * recall, O(log diameter) round count) and expresses its wall bound as a
  * multiple of a same-JVM calibration job measured immediately before the
  * probe: under throttling both inflate together, so the ratio holds.
  */
class ScaleProbeSpec extends SparkSpec {

  /** Fixed-work Spark reference job timed in the same JVM, right before a
    * probe: a 100M-row hash checksum (CPU-bound, no shuffle, no I/O; hash
    * keeps the running sum inside Long under ANSI overflow checks). */
  private def calibSecs(): Double = {
    val t0 = System.nanoTime()
    spark.range(100000000L).selectExpr("sum(cast(hash(id) as bigint))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall bound: generous multiple of the calibration, floored at the old
    * absolute bound so a healthy host still catches a quadratic blowup
    * (which shows up as minutes, not seconds). */
  private def wallBound(calib: Double): Double = math.max(120.0, 200.0 * calib)

  test("minhash candidate pipeline stays linear at 100k synthetic docs") {
    val n = 100000L
    // ~24-token docs; every 1000th doc is drawn from a 7-value token cycle
    // (planted near-duplicate groups), the rest from a 9999-value cycle
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 24).map(i =>
        concat(lit(s"w$i"), ((col("id") + i) % when(col("id") % 1000 === 0, 7)
          .otherwise(9999)).cast("string"))): _*).as("text"))
    val calib = calibSecs()
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
    val cnt = pairs.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"100k docs -> $cnt candidate pairs in $secs%.1f s (calib $calib%.2f s)")
    // planted recall: the 100 docs on the 7-value cycle form identical-text
    // groups by id mod 7 (1000 ≡ 6 mod 7 walks all residues: two groups of
    // 15, five of 14) = 2*C(15,2) + 5*C(14,2) = 665 guaranteed pairs
    assert(cnt >= 665L, s"planted near-duplicate pairs missing ($cnt < 665)")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // quadratic candidate generation would take minutes even unthrottled
    assert(secs < wallBound(calib),
      f"pipeline took $secs%.1f s vs calib $calib%.2f s — candidate generation regressed")
  }

  test("knn graph stays bucket-bounded at 20k synthetic vectors") {
    // 20k 64-dim vectors (10x the sf0.1 embeddings table), deterministic
    // pseudo-random components. The banded-LSH candidate join must stay
    // bucket-bounded: no cartesian, bucket caps in force — a full pair
    // enumeration would be 400M rescores.
    val vecs = spark.range(20000L).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> " +
        "CAST((pmod(hash(id * 64 + i), 1000) - 500) / 500.0 AS FLOAT))").as("embedding"))
    val calib = calibSecs()
    val t0 = System.nanoTime()
    val graph = Similarity.knnGraph(vecs, k = 3)
    val cnt = graph.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"20k vectors -> $cnt knn edges in $secs%.1f s (calib $calib%.2f s)")
    assert(cnt > 0L)
    val plan = graph.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(secs < wallBound(calib),
      f"knn graph took $secs%.1f s vs calib $calib%.2f s — candidate generation regressed")
  }

  test("knnGraph's dedup exchange carries no vector payloads") {
    // the dot runs per band co-occurrence and only the narrow (ids,
    // cosine) stream is deduplicated (round-15 interleaved A/B, see
    // Similarity.knnGraph)
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.ArrayType
    val vecs = spark.range(200L).select(
      col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> " +
        "CAST((pmod(hash(id * 64 + i), 1000) - 500) / 500.0 AS FLOAT))").as("embedding"))
    val graph = Similarity.knnGraph(vecs, 2)
    assert(graph.count() > 0)
    val dedups = graph.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.nonEmpty => a }
    assert(dedups.nonEmpty)
    dedups.foreach { a =>
      assert(!a.output.exists(_.dataType.isInstanceOf[ArrayType]),
        "no vector payload may ride the dedup exchange")
    }
  }

  test("connected components converge on 100k clustered pairs in few rounds") {
    // on the pointer-jumping loop: at the default budget the driver
    // finish takes this graph (see the next case)
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
    // 100k edges over 150k nodes in 50k 3-node clusters (the realistic
    // dedup shape: many small cliquish groups), plus one 64-node chain —
    // the diameter worst case. Label propagation must flood both without
    // iteration blowup or plan-lineage slowdown (localCheckpoint guard).
    val clusters = spark.range(50000L).selectExpr(
      "stack(2, id * 3, id * 3 + 1, id * 3, id * 3 + 2) AS (a_id, b_id)")
    val chainBase = 1000000L
    val chain = spark.range(63L).selectExpr(
      s"id + $chainBase AS a_id", s"id + ${chainBase + 1} AS b_id")
    val t0 = System.nanoTime()
    val (rawLabels, rounds) = Dedup.componentsWithRounds(clusters.union(chain))
    val labels = rawLabels.cache()
    val nClusters = labels.select("label").distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"150k nodes -> $nClusters components in $rounds rounds, $secs%.1f s")
    assert(nClusters == 50001L) // 50k triangles + 1 chain
    // the chain collapsed to its minimum node despite diameter 63
    val chainLabels = labels.filter(col("node") >= chainBase)
      .select("label").distinct().collect()
    assert(chainLabels.map(_.getLong(0)).toSeq == Seq(chainBase))
    // the O(log diameter) property, throttle-immune: pointer jumping
    // doubles flood distance per round, so diameter 63 must collapse in
    // ≤ ceil(log2(63)) + a convergence-detection round + slack — far under
    // the naive 63 rounds plain propagation would need
    assert(rounds <= 10,
      s"components took $rounds rounds for diameter 63 — pointer jumping regressed")
    labels.unpersist()
    }
  }

  test("the driver finish labels the 100k clustered pairs as the loop does") {
    val clusters = spark.range(50000L).selectExpr(
      "stack(2, id * 3, id * 3 + 1, id * 3, id * 3 + 2) AS (a_id, b_id)")
    val chainBase = 1000000L
    val chain = spark.range(63L).selectExpr(
      s"id + $chainBase AS a_id", s"id + ${chainBase + 1} AS b_id")
    val pairs = clusters.union(chain)
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (driver, rounds) = Dedup.componentsWithRounds(pairs)
    assert(rounds === 0, "150k nodes fit the default budget")
    val (loop, _) = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(
      Dedup.componentsWithRounds(pairs))
    val got = sorted(driver)
    assert(got.size === 150064)
    assert(got === sorted(loop))
  }
}
