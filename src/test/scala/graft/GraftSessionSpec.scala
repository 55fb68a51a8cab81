package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.Row

import graft.operators.{Dedup, Graph}

/** The session factory's shared confs, and the loop-conf scope under
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

  test("the factory sets the shared confs once") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.ui.enabled") === "false")
    assert(spark.conf.get(Parts) === "4")
    assert(spark.sparkContext.master === "local[4]")
    assert(GraftSession.cpus >= 1)
  }

  test("a nested loop scope on one thread re-enters and restores the outer values") {
    val before = confs
    GraftSession.withLoopConf(spark, 3) {
      assert(confs === ("false", "3"))
      GraftSession.withLoopConf(spark, 5)(assert(confs === ("false", "5")))
      assert(confs === ("false", "3"))
    }
    assert(confs === before)
  }

  test("two overlapping loop scopes on one session run one after the other") {
    val before = confs
    val inFirst = new CountDownLatch(1)
    val firstRead = new CountDownLatch(1)
    val (seenA, seenB) = inParallel(
      GraftSession.withLoopConf(spark, 7) {
        inFirst.countDown()
        Thread.sleep(300) // the second scope tries to enter meanwhile
        try confs finally firstRead.countDown()
      }, {
        assert(inFirst.await(1, TimeUnit.MINUTES))
        GraftSession.withLoopConf(spark, 9) {
          // a second scope let in early stays open across the first's read
          assert(firstRead.await(1, TimeUnit.MINUTES))
          confs
        }
      })
    assert(seenA === ("false", "7"), "the second scope must not enter the first")
    assert(seenB === ("false", "9"))
    assert(confs === before, "each scope restores the values it found")
  }

  test("componentsWithRounds and pageRank on one session from two threads equal their serial runs") {
    val pairs = spark.range(300L).selectExpr(
      "id * 2 AS a_id", "CASE WHEN id % 7 = 0 THEN id * 2 + 1 ELSE (id + 1) * 2 END AS b_id")
    val nodes = spark.range(200L).selectExpr("id")
    val edges = spark.range(600L).selectExpr("id % 200 AS src", "(id * 7 + 3) % 200 AS dst")
    def comps(): (Seq[Row], Int) = {
      val (df, rounds) = Dedup.componentsWithRounds(pairs)
      (df.collect().toSeq.sortBy(_.getLong(0)), rounds)
    }
    def ranks(): Seq[Row] =
      Graph.pageRank(nodes, edges).collect().toSeq.sortBy(_.getLong(0))
    val before = confs
    val serialComps = comps()
    val serialRanks = ranks()
    assert(serialComps._1.nonEmpty && serialRanks.nonEmpty)
    val (parComps, parRanks) = inParallel(comps(), ranks())
    assert(parComps === serialComps)
    assert(parRanks === serialRanks)
    assert(confs === before, "both loop confs restored")
  }
}
