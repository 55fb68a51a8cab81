package graft.transfer

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class CheckpointSpec extends AnyFunSuite {

  test("checkpoint round-trip: completed + in-progress survive reload") {
    val dir = Files.createTempDirectory("ckpt").toString
    val path = s"$dir/checkpoint.json"
    val cp = new CheckpointManager(path, "src_schema", "dst_schema")
    cp.markCompleted("region")
    cp.updateProgress("orders", 12345L)
    cp.markCompleted("nation")

    val reloaded = new CheckpointManager(path, "src_schema", "dst_schema")
    assert(reloaded.isCompleted("region"))
    assert(reloaded.isCompleted("nation"))
    assert(!reloaded.isCompleted("orders"))
    assert(reloaded.resumeOffset("orders") === 12345L)
    assert(reloaded.resumeOffset("region") === 0L) // completed → no offset
  }

  test("markCompleted clears in-progress offset") {
    val dir = Files.createTempDirectory("ckpt2").toString
    val cp = new CheckpointManager(s"$dir/c.json", "s", "t")
    cp.updateProgress("t1", 999L)
    cp.markCompleted("t1")
    val re = new CheckpointManager(s"$dir/c.json", "s", "t")
    assert(re.resumeOffset("t1") === 0L)
    assert(re.isCompleted("t1"))
  }

  test("special characters in table names survive JSON round-trip") {
    val dir = Files.createTempDirectory("ckpt3").toString
    val cp = new CheckpointManager(s"$dir/c.json", "s", "t")
    cp.markCompleted("weird \"table\"\nname")
    val re = new CheckpointManager(s"$dir/c.json", "s", "t")
    assert(re.isCompleted("weird \"table\"\nname"))
  }

  test("quote, backslash, tab and non-ASCII names round-trip, done and in progress") {
    val dir = Files.createTempDirectory("ckpt4").toString
    val names = Seq("a\"b", "c\\d", "e\tf", "café")
    val cp = new CheckpointManager(s"$dir/c.json", "sch\"ema", "tar\\get")
    names.zipWithIndex.foreach { case (n, i) => cp.updateProgress(n, i + 1L) }
    cp.markCompleted("café")
    val re = new CheckpointManager(s"$dir/c.json", "sch\"ema", "tar\\get")
    assert(re.isCompleted("café"))
    names.take(3).zipWithIndex.foreach { case (n, i) =>
      assert(!re.isCompleted(n), n)
      assert(re.resumeOffset(n) === i + 1L, n)
    }
  }

  test("a pretty-printed checkpoint file loads") {
    val dir = Files.createTempDirectory("ckpt5").toString
    val path = s"$dir/c.json"
    Files.writeString(java.nio.file.Paths.get(path),
      """{
        |  "schema": "s",
        |  "target": "t",
        |  "completed": [
        |    "region",
        |    "nation"
        |  ],
        |  "in_progress": {
        |    "orders": 4
        |  }
        |}
        |""".stripMargin)
    val cp = new CheckpointManager(path, "s", "t")
    assert(cp.isCompleted("region") && cp.isCompleted("nation"))
    assert(cp.resumeOffset("orders") === 4L)
  }
}

class TransferSpec extends SparkSpec {

  test("parquet → parquet transfer preserves rows; checkpoint skips done tables") {
    val out = Files.createTempDirectory("xfer").toString
    val cp = new CheckpointManager(s"$out/ckpt.json", "sf", "pq")
    val engine = new TransferEngine(new ParquetSource(sfDir), new ParquetSink(out), Some(cp))

    val stats = engine.transferSchema(spark, Seq("region", "nation"), workers = 2)
    assert(stats.forall(_.success))
    assert(stats.map(_.tableName) === Seq("region", "nation"))
    val back = spark.read.parquet(s"$out/region.parquet")
    assert(back.count() === spark.read.parquet(s"$sfDir/region.parquet").count())

    // second run: both skipped via checkpoint
    val again = engine.transferSchema(spark, Seq("region", "nation"), workers = 2)
    assert(again.forall(_.errorMessage.contains("skipped (checkpoint)")))
  }

  test("where/limit are applied on the way through") {
    val out = Files.createTempDirectory("xfer2").toString
    val engine = new TransferEngine(
      new ParquetSource(sfDir), new ParquetSink(out),
      where = Some("n_regionkey = 0"), limit = Some(3))
    val stats = engine.transferTable(spark, "nation")
    assert(stats.success)
    assert(stats.rowsTransferred <= 3)
    val back = spark.read.parquet(s"$out/nation.parquet")
    assert(back.filter("n_regionkey <> 0").count() === 0)
  }

  test("parallel transfer isolates one failing table from the rest") {
    val out = Files.createTempDirectory("xfer4").toString
    val engine = new TransferEngine(new ParquetSource(sfDir), new ParquetSink(out))
    // "ghost" doesn't exist; region/nation do
    val stats = engine.transferSchema(spark, Seq("region", "ghost", "nation"), workers = 3)
    assert(stats.map(_.tableName) === Seq("region", "ghost", "nation")) // input order kept
    assert(stats.count(_.success) === 2)
    val failed = stats.find(!_.success).get
    assert(failed.tableName === "ghost" && failed.errorMessage.nonEmpty)
  }

  test("partitioned sink writes a Hive layout that prunes on the partition key") {
    val out = Files.createTempDirectory("xferpart").toString
    val engine = new TransferEngine(
      new ParquetSource(sfDir), new ParquetSink(out, partitionColumns = Seq("o_orderstatus")))
    val stats = engine.transferTable(spark, "orders")
    assert(stats.success)
    // directory layout is partitioned…
    val dirs = new java.io.File(s"$out/orders.parquet").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("o_orderstatus=")), dirs.toSeq)
    // …and a status-filtered scan prunes to one partition's files
    val df = spark.read.parquet(s"$out/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(o_orderstatus"), scan.take(1500))
    assert(df.count() ===
      spark.read.parquet(s"$sfDir/orders.parquet").filter("o_orderstatus = 'F'").count())
  }

  test("sink compression codec is applied to the written files") {
    val out = Files.createTempDirectory("xferzstd").toString
    val engine = new TransferEngine(
      new ParquetSource(sfDir), new ParquetSink(out, compression = Some("zstd")))
    assert(engine.transferTable(spark, "nation").success)
    val files = new java.io.File(s"$out/nation.parquet").listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".zstd.parquet")), files.toSeq)
    assert(spark.read.parquet(s"$out/nation.parquet").count() ==
      spark.read.parquet(s"$sfDir/nation.parquet").count())
  }

  test("failure surfaces as stats, not exception (continue-on-error)") {
    val out = Files.createTempDirectory("xfer3").toString
    val engine = new TransferEngine(new ParquetSource("/nonexistent"), new ParquetSink(out))
    val stats = engine.transferTable(spark, "region")
    assert(!stats.success)
    assert(stats.errorMessage.nonEmpty)
  }

  test("ParquetSink(manifestKeys) keeps the file catalog current at write time") {
    // round-11 verdict item 2: manifest rows are produced by the job that
    // wrote the data files — the only moment the stats are free — never by
    // a full-corpus rescan
    import org.apache.spark.sql.functions.col
    import graft.sources.Manifest
    val out = Files.createTempDirectory("xfermanifest").toString
    val mp = s"$out/_manifest/orders"
    val sink = new ParquetSink(out, mode = org.apache.spark.sql.SaveMode.Append,
      manifestKeys = Some(Seq("o_orderkey")))

    // batch 1: a transfer job lands files; the manifest appears with them
    val e1 = new TransferEngine(new ParquetSource(sfDir), sink,
      where = Some("o_orderkey < 500"))
    assert(e1.transferTable(spark, "orders").success)
    val batch1 = spark.read.parquet(mp).collect().toSet
    assert(batch1.nonEmpty)
    assert(Manifest.slice(spark, mp, "orders").rows === 500L)

    // batch 2 appends MORE files: the manifest gains exactly those rows —
    // every batch-1 row survives byte-identical, so nothing was rescanned
    val e2 = new TransferEngine(new ParquetSource(sfDir), sink,
      where = Some("o_orderkey >= 500 AND o_orderkey < 800"))
    assert(e2.transferTable(spark, "orders").success)
    val batch2 = spark.read.parquet(mp).collect().toSet
    assert(batch1.subsetOf(batch2), "batch-1 manifest rows must be untouched")
    val allFiles = spark.read.parquet(s"$out/orders.parquet").inputFiles.toSet
    assert(batch2.map(_.getAs[String]("path")) === allFiles)
    assert(Manifest.slice(spark, mp, "orders").rows === 800L)

    // a pruned read sees the new batch through its typed zone maps
    val got = graft.sources.ManifestSql.readTable(spark, out, "orders", mp)
      .filter(col("o_orderkey").between(500L, 799L))
    assert(got.count() === 300L)
  }

  test("an overwrite clears the stale catalog up front; finish rebuilds it") {
    // round-13 review: chunk 1's SaveMode.Overwrite deletes every old part
    // file, and until the end-of-transfer update the old manifest points
    // at vanished paths — prunable queries in that window would fail or
    // silently miss rows. No catalog beats a wrong catalog: the sink
    // drops it before the overwrite and readers degrade to the unpruned
    // (current) scan.
    import org.apache.spark.sql.functions.col
    import graft.sources.Manifest
    import spark.implicits._
    val out = Files.createTempDirectory("xferclear").toString
    val mp = s"$out/_manifest/t"
    val sink = new ParquetSink(out, manifestKeys = Some(Seq("id")))
    sink.write((0L until 100L).toDF("id"), "t")
    assert(Manifest.slice(spark, mp, "t").rows === 100L)

    // the overwrite's first chunk: catalog gone, not stale
    sink.writeChunk((0L until 40L).toDF("id").coalesce(1), "t", firstChunk = true)
    val fs = new org.apache.hadoop.fs.Path(mp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mp)),
      "mid-transfer, the catalog must be absent (degrade), never wrong")

    // remaining chunks + finish: catalog rebuilt over exactly the new files
    sink.writeChunk((40L until 70L).toDF("id").coalesce(1), "t", firstChunk = false)
    sink.finish(spark, "t")
    assert(Manifest.slice(spark, mp, "t").rows === 70L)
    assert(spark.read.parquet(mp).select("path").as[String].collect().toSet ===
      spark.read.parquet(s"$out/t.parquet").inputFiles.toSet)
  }

  test("ParquetSink.countRows answers from the manifest commit: plain, chunked, resumed") {
    // the committed catalog already holds every file's row count: the
    // count after a manifest-maintained write must equal a parquet count
    // of the directory without listing or counting it again
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val out = Files.createTempDirectory("xfercount").toString
    val sink = new ParquetSink(out, manifestKeys = Some(Seq("o_orderkey")))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    def onDisk(): Long = spark.read.parquet(s"$out/orders.parquet").count()

    // plain write: the count is the commit's total, zero Spark jobs
    sink.write(orders.repartition(3), "orders")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val counted = try sink.countRows(spark, "orders") finally {
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() === 0, "countRows after a manifest commit must not scan")
    assert(counted === Some(onDisk()))

    // chunked: the last chunk's finish commits, the engine's count reads it
    class Crashing(crashAt: Int) extends TableSink {
      var chunks = 0
      def write(df: DataFrame, table: String): Unit = sink.write(df, table)
      override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit = {
        if (chunks == crashAt) throw new RuntimeException("simulated mid-table crash")
        chunks += 1
        sink.writeChunk(df, table, firstChunk)
      }
      override def finish(spark: SparkSession, table: String): Unit = sink.finish(spark, table)
      override def countRows(spark: SparkSession, table: String): Option[Long] =
        sink.countRows(spark, table)
    }
    def engine(cp: String, crashAt: Int) = new TransferEngine(new ParquetSource(sfDir),
      new Crashing(crashAt), Some(new CheckpointManager(cp, "sf", "pq")),
      chunkColumns = Map("orders" -> "o_orderkey"), chunkCount = 5)
    val clean = engine(s"$out/ckpt_clean.json", Int.MaxValue).transferTable(spark, "orders")
    assert(clean.success, clean.errorMessage)
    assert(clean.rowsTransferred === onDisk())

    // resumed after a crash mid-chunks: the first run never reached
    // finish, the rerun's single commit catalogs every chunk's files
    val cp = s"$out/ckpt_resume.json"
    assert(!engine(cp, crashAt = 2).transferTable(spark, "orders").success)
    val resumed = engine(cp, Int.MaxValue).transferTable(spark, "orders")
    assert(resumed.success, resumed.errorMessage)
    assert(resumed.rowsTransferred === onDisk())
    assert(resumed.rowsTransferred === orders.count())
  }
}
