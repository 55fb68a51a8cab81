package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.internal.SQLConf

import graft.operators.{CacheScope, Graph}
import graft.plans.GraftExtensions

/** The session factory's shared confs, and the loop session under
  * concurrent use of one session. */
class GraftSessionSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"

  private def confs = (spark.conf.get(Aqe), spark.conf.get(Parts))

  private def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fa = Future(a)
      val fb = Future(b)
      (Await.result(fa, 10.minutes), Await.result(fb, 10.minutes))
    } finally pool.shutdown()
  }

  /** Whether `df` plans adaptively, and the widths of its planned shuffles
    * (call before `df` runs: an adaptive plan then still holds them all). */
  private def shuffles(df: DataFrame): (Boolean, Seq[Int]) = {
    def widths(p: SparkPlan) =
      p.collect { case s: ShuffleExchangeExec => s.outputPartitioning.numPartitions }
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => (true, widths(a.executedPlan))
      case p => (false, widths(p))
    }
  }

  private def checkpoint(n: Long): DataFrame =
    spark.range(n).selectExpr("id", "id % 5 AS k").localCheckpoint(true)

  /** Holds each thread's first AQE-off optimization until `parties`
    * threads have reached one: run on two threads, it returns only when
    * both are planning inside a loop session at once. */
  private final class Rendezvous(parties: Int) extends Rule[LogicalPlan] {
    private val barrier = new CyclicBarrier(parties)
    val met: java.util.Set[Thread] = ConcurrentHashMap.newKeySet[Thread]()
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (!SQLConf.get.adaptiveExecutionEnabled && met.add(Thread.currentThread()))
        barrier.await(1, TimeUnit.MINUTES)
      plan
    }
  }

  test("the factory sets the shared confs once") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    assert(spark.conf.get(Parts) === "4")
    assert(spark.sparkContext.master === "local[4]")
    assert(GraftSession.cpus >= 1)
  }

  test("a query beside a running loop plans adaptively at the session's width") {
    val before = confs
    val inLoop = new CountDownLatch(1)
    val queried = new CountDownLatch(1)
    val (_, (plan, rows)) = inParallel(
      GraftSession.withLoopSession(spark, 7, checkpoint(100)) { case Seq(in) =>
        inLoop.countDown()
        assert(queried.await(1, TimeUnit.MINUTES), "the plain query never ran")
        in
      }, {
        assert(inLoop.await(1, TimeUnit.MINUTES), "the loop never started")
        try {
          val agg = spark.range(1000).groupBy((col("id") % 10).as("k")).count()
          (shuffles(agg), agg.collect().length)
        } finally queried.countDown()
      })
    assert(plan === (true, Seq(4)), "the loop's AQE-off width leaked into the session")
    assert(rows === 10)
    assert(confs === before)
  }

  test("a loop session plans statically at its width and hands back an adaptive frame") {
    val before = confs
    var inside: (Boolean, Seq[Int]) = null
    val out = GraftSession.withLoopSession(spark, 7, checkpoint(100)) { case Seq(in) =>
      val agg = in.groupBy("k").count()
      inside = shuffles(agg)
      agg
    }
    assert(inside === (false, Seq(7)))
    assert(out.sparkSession eq spark)
    assert(shuffles(out) === (true, Seq(4)))
    assert(out.collect().map(_.getLong(1)).sum === 100L)
    assert(confs === before)
  }

  test("a loop session carries the graft rules and functions") {
    GraftExtensions.install(spark)
    var rules = Seq.empty[String]
    var hashed = 0L
    GraftSession.withLoopSession(spark, 2, checkpoint(10)) { case Seq(in) =>
      assert(in.sparkSession ne spark)
      rules = in.sparkSession.experimental.extraOptimizations.map(_.ruleName)
      hashed = in.selectExpr("explode(shingle_hash60('one two three four five six', 3))").count()
      in
    }
    val want = GraftExtensions.rules(spark).map(_.ruleName)
    assert(want.forall(rules.contains), s"rules in the loop session: $rules")
    assert(hashed > 0L)
  }

  test("a loop session's tasks run under the caller's class loader") {
    // a loop session under a class loader of its own recompiles every
    // generated class of its rounds; the caller's loader reuses them
    val loader = udf(() => System.identityHashCode(Thread.currentThread.getContextClassLoader))
    def loaders(df: DataFrame) = df.select(loader()).distinct().collect().map(_.getInt(0)).toSet
    val outside = loaders(spark.range(8).toDF())
    var inside = Set.empty[Int]
    GraftSession.withLoopSession(spark, 2, checkpoint(10)) { case Seq(in) =>
      inside = loaders(in)
      in
    }
    assert(outside.size === 1)
    assert(inside === outside)
  }

  test("CacheScope releases a checkpoint taken in a loop session") {
    val scope = new CacheScope
    var rddId = -1
    val out = GraftSession.withLoopSession(spark, 3, checkpoint(50)) { case Seq(in) =>
      val cp = scope.checkpointed(in.groupBy("k").count())
      rddId = cp.queryExecution.analyzed match {
        case lr: LogicalRDD => lr.rdd.id
        case other => fail(s"not a checkpoint: $other")
      }
      cp
    }
    assert(out.count() === 5L)
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
    scope.release()
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  test("pageRank and labelPropagation run concurrently and equal serial runs") {
    val nodes = spark.range(200L).selectExpr("id")
    val edges = spark.range(600L).selectExpr("id % 200 AS src", "(id * 7 + 3) % 200 AS dst")
    def ranks(): Seq[Row] =
      Graph.pageRank(nodes, edges).collect().toSeq.sortBy(_.getLong(0))
    def labels(): Seq[Row] =
      Graph.labelPropagation(nodes, edges).collect().toSeq.sortBy(_.getLong(0))
    val before = confs
    val serialRanks = ranks()
    val serialLabels = labels()
    assert(serialRanks.nonEmpty && serialLabels.nonEmpty)
    val rendezvous = new Rendezvous(2)
    val extra = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = extra :+ rendezvous
    val (parRanks, parLabels) =
      try inParallel(ranks(), labels())
      finally spark.experimental.extraOptimizations = extra
    assert(rendezvous.met.size === 2, "both loops must plan in their loop sessions at once")
    assert(parRanks === serialRanks)
    assert(parLabels === serialLabels)
    assert(confs === before)
  }
}
