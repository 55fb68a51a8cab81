package graft.transfer

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}

import graft.SparkSpec

/** COPY sessions whose committed lines land in one shared queue, the
  * stand-in for a target table (local mode: executors share the test JVM).
  * A session in the frame's partition `failPartition` reads some of its
  * stream and then fails, committing nothing. */
object LandedCopy {
  val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  final class Factory(failPartition: Int = -1) extends CopySessionFactory {
    def open(): CopySession = new CopySession {
      def copyIn(sql: String, from: java.io.Reader): Long = {
        val text = new java.io.BufferedReader(from)
        if (org.apache.spark.TaskContext.getPartitionId() == failPartition) {
          text.readLine()
          throw new java.io.IOException("connection reset mid-COPY")
        }
        val got = Iterator.continually(text.readLine()).takeWhile(_ != null).toVector
        got.foreach(l => lines.add(l))
        got.size.toLong
      }
      def close(): Unit = ()
    }
  }
}

/** Mid-table resume (checkpoint.py:60-74 + data_transfer.py:300-323): a
  * transfer killed mid-table must restart from its last committed chunk,
  * not from zero — exercising the `in_progress` half of the checkpoint
  * format that plain whole-table retry never touches. */
class ChunkedResumeSpec extends SparkSpec {

  /** Wraps a sink, crashing on the Nth chunk write and recording the
    * chunk-level call pattern. */
  private class FlakySink(inner: TableSink, failOnChunk: Int = Int.MaxValue) extends TableSink {
    var chunkWrites = 0
    var firstFlags: List[Boolean] = Nil
    def write(df: DataFrame, table: String): Unit = inner.write(df, table)
    override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit = {
      if (chunkWrites == failOnChunk) throw new RuntimeException("simulated mid-table crash")
      chunkWrites += 1
      firstFlags :+= firstChunk
      inner.writeChunk(df, table, firstChunk)
    }
    override def countRows(spark: SparkSession, table: String): Option[Long] =
      inner.countRows(spark, table)
  }

  /** Keeps each chunk frame's keys, read as the chunk lands (the staged
    * data is released once the last chunk has landed). Like a real sink it
    * reads every column. */
  private class RecordingSink(keyCol: String) extends TableSink {
    var chunks = Vector.empty[Seq[BigInt]]
    def write(df: DataFrame, table: String): Unit = ()
    override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit = {
      val k = df.schema.fieldIndex(keyCol)
      chunks :+= df.collect().toSeq.map(r => BigInt(r.get(k).toString))
    }
    override def countRows(spark: SparkSession, table: String): Option[Long] =
      Some(chunks.map(_.size.toLong).sum)
  }

  /** A parquet source whose frame counts the rows it emits with all their
    * columns: a non-deterministic probe column, which no filter can be
    * pushed below (a chunk filter over it reads the whole file) and which a
    * key-only scan, like the engine's bounds pass, prunes away. */
  private class CountingSource(dir: String) extends TableSource {
    val emitted = spark.sparkContext.longAccumulator("source_rows")
    def read(spark: SparkSession, table: String): DataFrame = {
      val acc = emitted
      val probe = udf(() => { acc.add(1); 1 }).asNondeterministic()
      spark.read.parquet(s"$dir/$table.parquet").withColumn("probe", probe())
    }
  }

  /** The most shuffle records any one stage of `body` wrote. */
  private def largestShuffleWrite(body: => Unit): Long =
    perStage(_.shuffleWriteMetrics.recordsWritten)(body)._2.values.maxOption.getOrElse(0L)

  /** `body`'s result and the source records its stages read. */
  private def recordsRead[T](body: => T): (T, Long) = {
    val (out, read) = perStage(_.inputMetrics.recordsRead)(body)
    (out, read.values.sum)
  }

  /** `metric` summed over each stage's tasks in `body`. A marker job run
    * after `body` flushes the listener bus: its start event is delivered
    * after every task-end event of the jobs before it. */
  private def perStage[T](metric: TaskMetrics => Long)(body: => T): (T, Map[Int, Long]) = {
    val marker = "chunked-resume-spec-marker"
    val perStage = mutable.Map.empty[Int, Long]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null)
        perStage.synchronized {
          perStage(e.stageId) = perStage.getOrElse(e.stageId, 0L) + metric(e.taskMetrics)
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          flushed.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val out = body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    (out, perStage.synchronized(perStage.toMap))
  }

  /** Transfers `keys` (one column `k` of `keyType`, plus a payload) from
    * `files` parquet files in `chunkCount` chunks and checks that each
    * chunk frame holds exactly the keys of `[lo + i·width, lo + (i+1)·width)`,
    * the last one running through `hi`. */
  private def chunkRangesHold(keys: Seq[BigInt], keyType: String, files: Int,
                              chunkCount: Int): Boolean = {
    import spark.implicits._
    val src = Files.createTempDirectory("ranges_src").toString
    keys.map(_.toString).toDF("s")
      .selectExpr(s"CAST(CAST(s AS DECIMAL(38,0)) AS $keyType) AS k", "length(s) AS v")
      .repartition(files).write.parquet(s"$src/ranges.parquet")
    val out = Files.createTempDirectory("ranges_out").toString
    val sink = new RecordingSink("k")
    val s = new TransferEngine(new ParquetSource(src), sink,
      Some(new CheckpointManager(s"$out/ckpt.json", "sf", "pq")),
      chunkColumns = Map("ranges" -> "k"), chunkCount = chunkCount).transferTable(spark, "ranges")
    assert(s.success, s.errorMessage)
    val (lo, hi) = (keys.min, keys.max)
    val span = hi - lo + 1
    val width = (span + chunkCount - 1) / chunkCount
    val total = ((span + width - 1) / width).toInt
    val want = keys.groupBy(k => ((k - lo) / width).toInt)
    val ok = sink.chunks.size == total && sink.chunks.indices.forall(i =>
      sink.chunks(i).sorted == want.getOrElse(i, Nil).sorted)
    if (!ok) info(s"$keyType files=$files chunks=$chunkCount lo=$lo hi=$hi width=$width: " +
      sink.chunks.zipWithIndex.map { case (c, i) =>
        s"#$i got ${c.sorted.take(4)} want ${want.getOrElse(i, Nil).sorted.take(4)}" }.mkString("; "))
    ok
  }

  test("property: each chunk frame holds exactly the keys of its range") {
    val minL = BigInt(Long.MinValue)
    val maxL = BigInt(Long.MaxValue)
    // (lo, hi) families: small zero-crossing, wide (width over 10^6), and
    // spans that touch or cover the Long extremes
    val bounds: Gen[(BigInt, BigInt)] = Gen.oneOf(
      for (lo <- Gen.choose(-1000L, 0L); n <- Gen.choose(0L, 2000L)) yield (BigInt(lo), BigInt(lo + n)),
      for (lo <- Gen.choose(-(1L << 40), 1L << 40); n <- Gen.choose(8L << 20, 1L << 44))
        yield (BigInt(lo), BigInt(lo) + n),
      Gen.oneOf((minL, minL + 12345), (maxL - 999999999, maxL), (minL, maxL), (minL, BigInt(0))))
    val setup = for {
      (lo, hi) <- bounds
      chunkCount <- Gen.choose(1, 8)
      files <- Gen.oneOf(1, 3)
      keyType <- Gen.oneOf("BIGINT", "DECIMAL(38,0)")
      inner <- Gen.listOfN(12, Gen.choose(0L, Long.MaxValue).map(r => lo + BigInt(r) % (hi - lo + 1)))
    } yield {
      // every chunk edge, the key just below it and the key just above it
      val span = hi - lo + 1
      val width = (span + chunkCount - 1) / chunkCount
      val edges = (0 until chunkCount).flatMap(i => Seq(-1, 0, 1).map(d => lo + width * i + d))
      ((lo +: hi +: (edges ++ inner)).filter(k => k >= lo && k <= hi), keyType, files, chunkCount)
    }
    val prop = Prop.forAllNoShrink(setup) { case (keys, keyType, files, chunkCount) =>
      chunkRangesHold(keys, keyType, files, chunkCount)
    }
    val res = check(Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("chunk ranges stay exact where a rounded decimal quotient would not") {
    // width 1,000,000,007: (1,000,000,006 - 0) / width is 0.999999999…,
    // which a decimal division rounded to scale 6 reads as 1.000000
    val trap = Seq(0L, 1000000006L, 1000000007L, 2000000013L).map(BigInt(_))
    for (keyType <- Seq("BIGINT", "INT", "DECIMAL(38,0)"); files <- Seq(1, 3))
      assert(chunkRangesHold(trap, keyType, files, 2),
        s"$keyType over $files files")
    assert(chunkRangesHold(Seq(-1000000007L, -1L, 0L, 1000000006L).map(BigInt(_)), "BIGINT", 1, 2))
    // a span wider than Long: chunk edges near ±2^63
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue - 1, Long.MaxValue)
    for (keyType <- Seq("BIGINT", "DECIMAL(38,0)"))
      assert(chunkRangesHold(extremes.map(BigInt(_)), keyType, 1, 2), keyType)
  }

  test("the source is read once per chunked transfer, and a resume stages only the pending chunks") {
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    // one source file, one row group: a per-chunk range filter reads it
    // all, chunkCount times
    val once = new CountingSource(sfDir)
    val sink = new RecordingSink("o_orderkey")
    val s = new TransferEngine(once, sink, Some(new CheckpointManager(
      s"${Files.createTempDirectory("readonce")}/ckpt.json", "sf", "pq")),
      chunkColumns = Map("orders" -> "o_orderkey"), chunkCount = 8).transferTable(spark, "orders")
    assert(s.success, s.errorMessage)
    assert(sink.chunks.size == 8 && sink.chunks.map(_.size.toLong).sum == total)
    assert(once.emitted.value == total, s"the source emitted ${once.emitted.value} rows for $total")

    // crash while chunk 3 of 5 is written; the rerun stages chunks 3–5 only
    val out = Files.createTempDirectory("readresume").toString
    def engine(src: TableSource, sink: TableSink) = new TransferEngine(src, sink,
      Some(new CheckpointManager(s"$out/ckpt.json", "sf", "pq")),
      chunkColumns = Map("orders" -> "o_orderkey"), chunkCount = 5)
    val crashed = engine(new CountingSource(sfDir),
      new FlakySink(new RecordingSink("o_orderkey"), failOnChunk = 2)).transferTable(spark, "orders")
    assert(!crashed.success)
    val rerunSource = new CountingSource(sfDir)
    val rerunSink = new RecordingSink("o_orderkey")
    val staged = largestShuffleWrite {
      assert(engine(rerunSource, rerunSink).transferTable(spark, "orders").success)
    }
    val keys = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey").collect().map(r => BigInt(r.getLong(0)))
    val (lo, hi) = (keys.min, keys.max)
    val width = (hi - lo + 1 + 4) / 5
    val pending = keys.count(_ >= lo + 2 * width).toLong
    assert(rerunSink.chunks.size == 3 && rerunSink.chunks.map(_.size.toLong).sum == pending)
    assert(staged == pending, s"the rerun staged $staged rows; chunks 3–5 hold $pending")
    assert(rerunSource.emitted.value == total, "the rerun read the source more than once")
  }

  test("a resumed transfer into a sink that cannot count reports its rows without re-reading the source") {
    // five files, one per chunk's key range, so the rerun's pending-range
    // read skips the landed chunks' row groups
    val src = Files.createTempDirectory("resumecount_src").toString
    (0 until 5).foreach(i => spark.range(i * 1000L, (i + 1) * 1000L)
      .selectExpr("id AS k", "id % 7 AS v").coalesce(1)
      .write.mode("append").parquet(s"$src/resumecount.parquet"))
    val out = Files.createTempDirectory("resumecount").toString
    def engine(sink: TableSink) = new TransferEngine(new ParquetSource(src), sink,
      Some(new CheckpointManager(s"$out/ckpt.json", "sf", "csv")),
      chunkColumns = Map("resumecount" -> "k"), chunkCount = 5)
    // crash while chunk 3 of 5 is written
    assert(!engine(new FlakySink(new CsvBulkSink(out), failOnChunk = 2))
      .transferTable(spark, "resumecount").success)
    // the rerun's sink is fresh, so it has no count for the table
    val (stats, read) = recordsRead(engine(new CsvBulkSink(out)).transferTable(spark, "resumecount"))
    assert(stats.success, stats.errorMessage)
    assert(stats.rowsTransferred == 5000L)
    assert(spark.read.text(s"$out/resumecount.csv").count() == 5000L)
    // the key-only bounds pass reads every row, the staging read only
    // chunks 3–5; no further read counts the source
    assert(read == 5000L + 3000L, s"the rerun read $read source rows")
  }

  test("a crash after a chunk lands and before its checkpoint duplicates exactly that chunk") {
    val out = Files.createTempDirectory("landed").toString
    val parquet = new ParquetSink(out)
    /** Lands chunk 3 of 5, then dies before the engine records it. */
    class DiesAfterLanding extends TableSink {
      var chunks = 0
      def write(df: DataFrame, table: String): Unit = parquet.write(df, table)
      override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit = {
        parquet.writeChunk(df, table, firstChunk)
        chunks += 1
        if (chunks == 3) throw new RuntimeException("simulated crash before the checkpoint")
      }
    }
    def engine(sink: TableSink) = new TransferEngine(new ParquetSource(sfDir), sink,
      Some(new CheckpointManager(s"$out/ckpt.json", "sf", "pq")),
      chunkColumns = Map("orders" -> "o_orderkey"), chunkCount = 5)
    assert(!engine(new DiesAfterLanding).transferTable(spark, "orders").success)
    assert(new CheckpointManager(s"$out/ckpt.json", "sf", "pq").resumeOffset("orders") == 2)
    assert(engine(parquet).transferTable(spark, "orders").success)

    val source = spark.read.parquet(s"$sfDir/orders.parquet")
    val keys = source.select("o_orderkey").collect().map(_.getLong(0))
    val (lo, hi) = (keys.min, keys.max)
    val width = (hi - lo + 1 + 4) / 5
    val chunk3 = keys.filter(k => k >= lo + 2 * width && k < lo + 3 * width).toSet
    val landed = spark.read.parquet(s"$out/orders.parquet")
    assert(landed.count() == keys.length + chunk3.size)
    val twice = landed.groupBy("o_orderkey").count().filter(col("count") > 1)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(twice == chunk3, "the rerun must duplicate chunk 3's rows and no others")
  }

  test("a chunk that lands in part resends only the partitions that did not commit") {
    // three files, so each chunk is staged over three partitions, each its
    // own COPY transaction
    val src = Files.createTempDirectory("partcopy_src").toString
    spark.range(0, 3000).selectExpr("id AS k", "id % 7 AS v").repartition(3)
      .write.parquet(s"$src/partcopy.parquet")
    val p = spark.read.parquet(s"$src/partcopy.parquet").queryExecution.toRdd.getNumPartitions
    assert(p > 1, s"the source plans $p partitions")
    val ckpt = s"${Files.createTempDirectory("partcopy")}/ckpt.json"
    def engine(sink: TableSink) = new TransferEngine(new ParquetSource(src), sink,
      Some(new CheckpointManager(ckpt, "sf", "pg")),
      chunkColumns = Map("partcopy" -> "k"), chunkCount = 5)
    LandedCopy.lines.clear()
    // chunk 3 of 5 fails in its first partition
    val failing = new TableSink {
      private var chunks = 0
      private val ok = new CopyManagerSink(new LandedCopy.Factory)
      private val lost = new CopyManagerSink(new LandedCopy.Factory(failPartition = 0))
      def write(df: DataFrame, table: String): Unit = ok.write(df, table)
      override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit = {
        chunks += 1
        (if (chunks == 3) lost else ok).writeChunk(df, table, firstChunk)
      }
    }
    val s1 = engine(failing).transferTable(spark, "partcopy")
    assert(!s1.success && s1.errorMessage.exists(_.contains("connection reset")), s1.errorMessage)
    val cp = new CheckpointManager(ckpt, "sf", "pg")
    assert(cp.resumeOffset("partcopy") == 2)
    assert(cp.committedPartitions("partcopy") == Some((p, (1 until p).toSet)))
    def keys = LandedCopy.lines.toArray(Array.empty[String]).map(_.takeWhile(_ != ',').toLong)
    val chunk3 = keys.count(k => k >= 1200 && k < 1800) // width 600
    assert(keys.count(_ < 1200) == 1200 && chunk3 > 0 && chunk3 < 600, s"$chunk3 rows of chunk 3")

    val s2 = engine(new CopyManagerSink(new LandedCopy.Factory)).transferTable(spark, "partcopy")
    assert(s2.success, s2.errorMessage)
    val all = keys
    assert(all.length == 3000 && all.toSet == (0L until 3000L).toSet,
      s"every row must land exactly once: ${all.length} rows, ${all.distinct.length} keys")
    assert(new CheckpointManager(ckpt, "sf", "pg").committedPartitions("partcopy").isEmpty)
  }

  test("crash mid-table, rerun transfers only the remaining chunks") {
    val out = Files.createTempDirectory("chunked").toString
    val cp = new CheckpointManager(s"$out/ckpt.json", "sf", "pq")
    val parquet = new ParquetSink(out)
    val chunking = Map("orders" -> "o_orderkey")

    // run 1: dies after committing 2 of 5 chunks
    val flaky = new FlakySink(parquet, failOnChunk = 2)
    val engine1 = new TransferEngine(new ParquetSource(sfDir), flaky, Some(cp),
      chunkColumns = chunking, chunkCount = 5)
    val s1 = engine1.transferTable(spark, "orders")
    assert(!s1.success && s1.errorMessage.exists(_.contains("simulated")))
    assert(flaky.chunkWrites == 2)
    assert(flaky.firstFlags.head && !flaky.firstFlags(1)) // overwrite, then append

    // the checkpoint recorded committed-chunk progress: not completed, > 0
    assert(!cp.isCompleted("orders"))
    val watermark = cp.resumeOffset("orders")
    assert(watermark == 2) // two chunks landed before the crash
    val committed = spark.read.parquet(s"$out/orders.parquet").count()
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(committed > 0 && committed < total, s"committed=$committed total=$total")

    // run 2 (fresh engine, reloaded checkpoint — a new process): finishes
    val cp2 = new CheckpointManager(s"$out/ckpt.json", "sf", "pq")
    assert(cp2.resumeOffset("orders") == watermark) // watermark survived the crash
    val healthy = new FlakySink(parquet)
    val engine2 = new TransferEngine(new ParquetSource(sfDir), healthy, Some(cp2),
      chunkColumns = chunking, chunkCount = 5)
    val s2 = engine2.transferTable(spark, "orders")
    assert(s2.success, s2.errorMessage)
    assert(s2.rowsTransferred == total)
    assert(spark.read.parquet(s"$out/orders.parquet").count() == total)
    // only the REMAINING 3 chunks ran, every one as an append (no restart)
    assert(healthy.chunkWrites == 3, s"reran ${healthy.chunkWrites} chunks")
    assert(healthy.firstFlags.forall(_ == false))
    // resumed rows are disjoint from committed ones: no duplicates at all
    val dupes = spark.read.parquet(s"$out/orders.parquet")
      .groupBy("o_orderkey").count().filter("count > 1").count()
    assert(dupes == 0)
    assert(cp2.isCompleted("orders"))
  }

  test("negative and zero-crossing chunk keys resume without duplication") {
    // chunk-count progress (not a key watermark) — a key bound of 0 or
    // negative would read as "never started" and re-append committed chunks
    val src = Files.createTempDirectory("negkeys_src").toString
    spark.range(-50, 50).selectExpr("id AS k", "id * 2 AS v")
      .write.parquet(s"$src/negkeys.parquet")
    val out = Files.createTempDirectory("negkeys_out").toString
    val cp = new CheckpointManager(s"$out/ckpt.json", "sf", "pq")
    val chunking = Map("negkeys" -> "k")

    val flaky = new FlakySink(new ParquetSink(out), failOnChunk = 2)
    val s1 = new TransferEngine(new ParquetSource(src), flaky, Some(cp),
      chunkColumns = chunking, chunkCount = 5).transferTable(spark, "negkeys")
    assert(!s1.success)
    assert(cp.resumeOffset("negkeys") == 2) // two committed chunks

    val cp2 = new CheckpointManager(s"$out/ckpt.json", "sf", "pq")
    val healthy = new FlakySink(new ParquetSink(out))
    val s2 = new TransferEngine(new ParquetSource(src), healthy, Some(cp2),
      chunkColumns = chunking, chunkCount = 5).transferTable(spark, "negkeys")
    assert(s2.success, s2.errorMessage)
    assert(healthy.chunkWrites == 3 && healthy.firstFlags.forall(_ == false))
    val result = spark.read.parquet(s"$out/negkeys.parquet")
    assert(result.count() == 100)
    assert(result.groupBy("k").count().filter("count > 1").count() == 0, "duplicated chunks")
  }

  test("null or fractional chunk keys are rejected, not silently dropped") {
    // chunk predicates filter on the raw key: a NULL key matches no range,
    // and a fractional key above the truncated max (10.7 vs hi=10) escapes
    // the last chunk — both must fail the transfer instead of losing rows
    val src = Files.createTempDirectory("badkeys_src").toString
    spark.range(0, 10).selectExpr(
      "CASE WHEN id = 3 THEN CAST(NULL AS BIGINT) ELSE id END AS k", "id AS v")
      .write.parquet(s"$src/nullkeys.parquet")
    spark.range(0, 10).selectExpr("id + 0.7 AS k", "id AS v")
      .write.parquet(s"$src/frackeys.parquet")
    val out = Files.createTempDirectory("badkeys_out").toString

    val s1 = new TransferEngine(new ParquetSource(src), new ParquetSink(out),
      Some(new CheckpointManager(s"$out/c1.json", "sf", "pq")),
      chunkColumns = Map("nullkeys" -> "k"), chunkCount = 3).transferTable(spark, "nullkeys")
    assert(!s1.success, "NULL chunk keys must fail the transfer")
    assert(s1.errorMessage.exists(_.contains("NULL")), s1.errorMessage)

    val s2 = new TransferEngine(new ParquetSource(src), new ParquetSink(out),
      Some(new CheckpointManager(s"$out/c2.json", "sf", "pq")),
      chunkColumns = Map("frackeys" -> "k"), chunkCount = 3).transferTable(spark, "frackeys")
    assert(!s2.success, "non-integral chunk keys must fail the transfer")
    assert(s2.errorMessage.exists(_.contains("integral")), s2.errorMessage)
  }

  test("decimal(p,0) chunk keys — the JDBC integer-PK type — chunk like longs") {
    // Oracle NUMBER / PG NUMERIC integer PKs surface as DecimalType(p, 0)
    // through JDBC; scale 0 has no fractional values, so chunk-range
    // predicates are exact and the key must be accepted
    val src = Files.createTempDirectory("deckeys_src").toString
    spark.range(0, 100).selectExpr("CAST(id AS DECIMAL(18,0)) AS k", "id * 3 AS v")
      .write.parquet(s"$src/deckeys.parquet")
    val out = Files.createTempDirectory("deckeys_out").toString
    val cp = new CheckpointManager(s"$out/ckpt.json", "sf", "pq")
    val sink = new FlakySink(new ParquetSink(out))
    val s = new TransferEngine(new ParquetSource(src), sink, Some(cp),
      chunkColumns = Map("deckeys" -> "k"), chunkCount = 4).transferTable(spark, "deckeys")
    assert(s.success, s.errorMessage)
    assert(s.rowsTransferred === 100)
    assert(sink.chunkWrites === 4)
    val back = spark.read.parquet(s"$out/deckeys.parquet")
    assert(back.count() === 100)
    assert(back.groupBy("k").count().filter("count > 1").count() === 0)
  }

  test("a decimal chunk key whose values exceed Long range is rejected up front") {
    val src = Files.createTempDirectory("widekeys_src").toString
    spark.sql("SELECT CAST('99999999999999999999' AS DECIMAL(38,0)) AS k, 1 AS v")
      .write.parquet(s"$src/widekeys.parquet")
    val out = Files.createTempDirectory("widekeys_out").toString
    val s = new TransferEngine(new ParquetSource(src), new ParquetSink(out),
      Some(new CheckpointManager(s"$out/c.json", "sf", "pq")),
      chunkColumns = Map("widekeys" -> "k"), chunkCount = 3).transferTable(spark, "widekeys")
    assert(!s.success, "a 20-digit key cannot produce Long chunk boundaries")
    assert(s.errorMessage.exists(_.contains("outside Long range")), s.errorMessage)
  }

  test("unchunked tables keep whole-table semantics; chunked success completes checkpoint") {
    val out = Files.createTempDirectory("chunked2").toString
    val cp = new CheckpointManager(s"$out/ckpt.json", "sf", "pq")
    val sink = new FlakySink(new ParquetSink(out))
    val engine = new TransferEngine(new ParquetSource(sfDir), sink, Some(cp),
      chunkColumns = Map("orders" -> "o_orderkey"), chunkCount = 4)
    val stats = engine.transferSchema(spark, Seq("nation", "orders"))
    assert(stats.forall(_.success))
    assert(sink.chunkWrites == 4) // nation went through write(), orders in 4 chunks
    assert(cp.isCompleted("nation") && cp.isCompleted("orders"))
    assert(cp.resumeOffset("orders") == 0) // completion cleared the watermark
  }
}
