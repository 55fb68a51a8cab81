package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Cluster formation over near-dup pairs: both the driver finish and the
  * pointer-jumping loop must produce exact connected components with the
  * minimum id as the deterministic representative. */
class ConnectedComponentsSpec extends SparkSpec {

  import spark.implicits._

  private def comps(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.components(pairs.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two separate cliques form two components under their min ids") {
    val got = comps(Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a long chain converges to one component (diameter > 1 iteration)") {
    // 0-1-2-...-9 as a path: worst case for naive propagation; the min
    // label must still flood the whole chain within maxIter
    val chain = (0L until 9L).map(i => (i, i + 1))
    val got = comps(chain)
    assert(got.values.toSet === Set(0L))
    assert(got.keySet === (0L to 9L).toSet)
  }

  test("bridge edge merges two cliques into one component") {
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
    assert(comps(two).values.toSet === Set(1L, 10L))
    val bridged = two :+ (3L, 10L)
    assert(comps(bridged).values.toSet === Set(1L))
  }

  test("cluster summary matches a hand-computed grouping") {
    val pairs = Seq((5L, 7L), (7L, 9L), (20L, 21L)).toDF("a_id", "b_id")
    val summary = Dedup.components(pairs)
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n"),
        concat_ws(",", expr("transform(sort_array(collect_list(node)), x -> cast(x AS string))")).as("members"))
      .orderBy(col("cluster"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(summary.toSeq === Seq((5L, 3L, "5,7,9"), (20L, 2L, "20,21")))
  }

  private type Pair = (Option[Long], Option[Long])

  /** Runs `body` with the driver budget at `bytes` (−1 turns the driver
    * finish off). */
  private def withBudget[T](bytes: Long)(body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", bytes.toString)(body)

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Seq[Pair] =
    df.collect().toSeq.map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sortBy(_.toString)

  private def run(pairs: Seq[Pair], parts: Int): (Seq[Pair], Int) = {
    val (df, rounds) = Dedup.componentsWithRounds(
      spark.sparkContext.parallelize(pairs, parts).toDF("a_id", "b_id"))
    (labelsOf(df), rounds)
  }

  /** In-memory union-find: every non-null end is a node labeled with its
    * component's minimum id; a pair with a null end adds no edge, and any
    * null adds one (null, null) row. */
  private def reference(pairs: Seq[Pair]): Seq[Pair] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach {
      case (Some(a), Some(b)) =>
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      case (a, b) => (a ++ b).foreach(find)
    }
    val nulls: Seq[Pair] =
      if (pairs.exists(p => p._1.isEmpty || p._2.isEmpty)) Seq((None, None)) else Nil
    (parent.keys.toSeq.map(n => (Some(n), Some(find(n)))) ++ nulls).sortBy(_.toString)
  }

  /** Both paths equal the reference; the driver path runs no round, the
    * loop at least one. */
  private def bothPathsMatch(pairs: Seq[Pair], parts: Int): Boolean = {
    val expected = reference(pairs)
    val (driver, driverRounds) = run(pairs, parts)
    val (loop, loopRounds) = withBudget(-1)(run(pairs, parts))
    driver == expected && loop == expected && driverRounds == 0 && loopRounds > 0
  }

  private val edgeIds = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
    Long.MaxValue - 1, Long.MaxValue)

  test("driver finish and pointer-jumping loop both equal an in-memory union-find") {
    val fixed: Seq[Seq[Pair]] = Seq(
      Nil,
      Seq((Some(5L), Some(5L)), (Some(6L), Some(6L)), (Some(5L), Some(6L))),
      Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(2L)), (Some(3L), Some(2L))),
      Seq((None, Some(4L)), (Some(7L), None), (None, None), (Some(4L), Some(9L))),
      Seq((Some(Long.MaxValue), Some(Long.MinValue)), (Some(Long.MinValue), Some(0L)),
        (Some(Long.MaxValue - 1), Some(Long.MaxValue))))
    for (pairs <- fixed; parts <- Seq(1, 4))
      assert(bothPathsMatch(pairs, parts), s"$pairs at $parts partitions")

    val id: Gen[Option[Long]] = Gen.frequency(
      1 -> Gen.const(None), 2 -> Gen.oneOf(edgeIds).map(Some(_)),
      6 -> Gen.choose(0L, 30L).map(Some(_)))
    val graph: Gen[(Seq[Pair], Int)] = for {
      base <- Gen.listOf(Gen.zip(id, id)).map(_.take(40))
      echoes <- Gen.someOf(base)
      parts <- Gen.oneOf(1, 3, 7)
    } yield (base ++ echoes.map(_.swap) ++ echoes, parts)
    val prop = Prop.forAll(graph) { case (pairs, parts) => bothPathsMatch(pairs, parts) }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("one partition over its share of the budget sends the graph to the loop") {
    // partition 0 holds a 40-node chain (640 bytes of star rows), the
    // other three two edges each, one of them into the chain; a 1280-byte
    // budget gives each partition 320 bytes, so partition 0 alone overflows
    val chain: Seq[Pair] = (0L until 39L).map(i => (Some(i), Some(i + 1)))
    val small: Seq[Seq[Pair]] = Seq(100L, 200L, 300L).map(b =>
      Seq((Some(b), Some(b + 1)), (Some(b + 1), Some(b / 10))))
    val pairs = spark.sparkContext.parallelize(chain +: small, 4).flatMap(identity)
      .toDF("a_id", "b_id")
    val expected = reference(chain ++ small.flatten)
    val (overflowed, rounds) = withBudget(1280)(Dedup.componentsWithRounds(pairs))
    assert(rounds > 0, "an overflowing partition must hand the graph to the loop")
    assert(labelsOf(overflowed) === expected)
    val (loop, _) = withBudget(-1)(Dedup.componentsWithRounds(pairs))
    assert(labelsOf(loop) === expected)
    val (fits, fitRounds) = withBudget(4 * 640)(Dedup.componentsWithRounds(pairs))
    assert(fitRounds === 0 && labelsOf(fits) === expected)
  }

  test("the caller's pairs pipeline runs exactly once on either path") {
    val acc = spark.sparkContext.longAccumulator("pairs-pipeline-rows")
    val tick = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    val pairs = spark.range(0L, 200L, 1L, 4)
      .select(tick(col("id")).as("a_id"), (col("id") / 3).cast("long").as("b_id"))
    for (budget <- Seq(10L << 20, -1L)) {
      acc.reset()
      val (labels, rounds) = withBudget(budget)(Dedup.componentsWithRounds(pairs))
      assert(labels.count() === 200L)
      assert((rounds == 0) === (budget > 0))
      assert(acc.value === 200L, s"pipeline rows counted at budget $budget")
    }
  }
}
