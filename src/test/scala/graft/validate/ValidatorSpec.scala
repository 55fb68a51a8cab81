package graft.validate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The validation layers are the reference's spec (SURVEY §5): each layer
  * must be a fixpoint on an exact copy and detect the fault classes from the
  * reference README (dropped rows, nulled cells, scaled values, partition
  * shifts). */
class ValidatorSpec extends SparkSpec {

  private lazy val orders: DataFrame = Tables.load(spark, sfDir, "orders").cache()

  // the session outlives this spec: a cached fixture left behind would
  // serve later specs' reads of orders (input_file_name() then reads "")
  override def afterAll(): Unit = {
    orders.unpersist()
    super.afterAll()
  }

  test("all layers pass on an exact copy") {
    val r = new Validator(orders, orders).validateTable("orders", pkCols = Seq("o_orderkey"),
      rowSample = true)
    assert(r.passed, r.checks.filterNot(_.passed.getOrElse(true)).map(_.message))
    assert(r.checks.map(_.name).toSet ===
      Set("row_count", "partition_counts", "column_stats", "aggregate_fingerprint", "row_sample"))
  }

  test("CHECK layer: a seeded violating row is caught, NULL passes, bad clauses degrade") {
    import graft.meta.ConstraintMeta
    val checks = Seq(
      ConstraintMeta("chk_price", "CHECK", Nil, checkClause = Some("o_totalprice > 0")),
      // NULL clause result is NOT a violation (SQL CHECK semantics) — a
      // clause over a nullable column must not flag the NULL rows
      ConstraintMeta("chk_null_ok", "CHECK", Nil,
        checkClause = Some("NULLIF(o_orderstatus, o_orderstatus) <> 'X'")),
      // free source-dialect text Spark can't resolve → indeterminate, not a crash
      ConstraintMeta("chk_alien", "CHECK", Nil,
        checkClause = Some("no_such_col ## 'weird dialect'")))

    val clean = new Validator(orders, orders).checkConstraintClauses(checks)
    assert(clean.find(_.name == "check_chk_price").get.passed === Some(true))
    assert(clean.find(_.name == "check_chk_null_ok").get.passed === Some(true))
    assert(clean.find(_.name == "check_chk_alien").get.passed === None)

    // seed one violating row: price negated on a single order
    val corrupted = orders.withColumn("o_totalprice",
      when(col("o_orderkey") === orders.select(min("o_orderkey")).head().getLong(0),
        -col("o_totalprice")).otherwise(col("o_totalprice")))
    val dirty = new Validator(orders, corrupted).checkConstraintClauses(checks)
    val hit = dirty.find(_.name == "check_chk_price").get
    assert(hit.passed === Some(false))
    assert(hit.message.contains("1 rows violate"))
    // the layer rides validateTable when clauses are supplied
    val full = new Validator(orders, corrupted)
      .validateTable("orders", checks = checks)
    assert(!full.passed)
    assert(full.checks.exists(_.name == "check_chk_price"))
  }

  test("CHECK layer: a clause that errors at RUNTIME degrades alone, not the whole run") {
    import graft.meta.ConstraintMeta
    // o_orderpriority is '1-URGENT'-style text: the clause analyzes cleanly
    // against the schema (passes the plan-only probe) but the cast throws
    // under ANSI mode on the first evaluated row — exactly the failure mode
    // the round-5 advice flagged. The offender must degrade to
    // indeterminate while the well-behaved clause still gets a real verdict.
    val checks = Seq(
      ConstraintMeta("chk_price", "CHECK", Nil, checkClause = Some("o_totalprice > 0")),
      ConstraintMeta("chk_ansi_boom", "CHECK", Nil,
        checkClause = Some("CAST(o_orderpriority AS INT) >= 0")))
    val rs = new Validator(orders, orders).checkConstraintClauses(checks)
    assert(rs.find(_.name == "check_chk_price").get.passed === Some(true))
    val boom = rs.find(_.name == "check_chk_ansi_boom").get
    assert(boom.passed === None)
    assert(boom.message.contains("failed to evaluate"))
  }

  test("layer 1 catches dropped rows") {
    val corrupted = orders.filter(col("o_orderkey") % 100 =!= 0)
    val r = new Validator(orders, corrupted).checkRowCount()
    assert(r.passed === Some(false))
  }

  test("layer 2 catches partition-local row drops") {
    val firstDate = orders.agg(min(to_date(col("o_orderdate")))).collect()(0).getDate(0)
    val corrupted = orders.filter(to_date(col("o_orderdate")) =!= lit(firstDate))
    val r = new Validator(orders, corrupted).checkPartitionCounts("o_orderdate")
    assert(r.passed === Some(false))
    assert(r.details.nonEmpty)
  }

  test("layer 3 catches nulled cells and shifted extremes") {
    val nulled = orders.withColumn("o_totalprice",
      when(col("o_orderkey") % 50 === 0, lit(null)).otherwise(col("o_totalprice")))
    val r = new Validator(orders, nulled).checkColumnStats()
    assert(r.head.passed === Some(false))
    assert(r.head.details.exists(_.startsWith("null_o_totalprice")))
  }

  test("layer 4 catches scaled values that row counts miss") {
    val scaled = orders.withColumn("o_totalprice", col("o_totalprice") * 1.0001)
    val r = new Validator(orders, scaled).checkAggregateFingerprint("o_orderdate")
    assert(r.passed === Some(false))
    // same row count, so layer 1 passes — the fingerprint is what catches it
    assert(new Validator(orders, scaled).checkRowCount().passed === Some(true))
  }

  test("layer 5 catches missing rows and field mismatches via PK lookup") {
    val missing = orders.filter(col("o_orderkey") =!= 1L)
    val r1 = new Validator(orders, missing).checkRowSample(Seq("o_orderkey"), 10)
    assert(r1.passed === Some(false))

    val mangled = orders.withColumn("o_orderstatus",
      when(col("o_orderkey") <= 5, lit("Z")).otherwise(col("o_orderstatus")))
    val r2 = new Validator(orders, mangled).checkRowSample(Seq("o_orderkey"), 10)
    assert(r2.passed === Some(false))
    assert(r2.message.contains("6 rows with field mismatches"), r2.message) // keys 0..5

    // drop exactly 2 of the 10 sampled keys → missing-by-subtraction must say 2
    val sampledKeys = orders.orderBy("o_orderkey").limit(10)
      .select("o_orderkey").collect().map(_.getAs[Number](0).longValue())
    val dropped = orders.filter(!col("o_orderkey").isin(sampledKeys.take(2): _*))
    val r3 = new Validator(orders, dropped).checkRowSample(Seq("o_orderkey"), 10)
    assert(r3.passed === Some(false))
    assert(r3.message.startsWith("2 missing rows"), r3.message)
  }

  test("layer 5: a duplicated PK cannot mask a missing sampled row") {
    // at-least-once chunked resume can duplicate rows; if `present` counted
    // join rows, one duplicate would cancel one missing row and read PASS
    val sampledKeys = orders.orderBy("o_orderkey").limit(10)
      .select("o_orderkey").collect().map(_.getAs[Number](0).longValue())
    val corrupted = orders.filter(col("o_orderkey") =!= sampledKeys.head)
      .union(orders.filter(col("o_orderkey") === sampledKeys(1))) // key(1) now twice
    val r = new Validator(orders, corrupted).checkRowSample(Seq("o_orderkey"), 10)
    assert(r.passed === Some(false), r.message)
    assert(r.message.startsWith("1 missing rows"), r.message)
  }

  test("layer 5 broadcasts the SAMPLE, never the target") {
    // the scale contract: target is the probe side (scanned in place), the
    // ≤n-row sample is the broadcast build side — a reversed join would ship
    // the full target to the driver and OOM at production row counts
    val v = new Validator(orders, orders)
    val joined = v.rowSampleJoin(Seq("o_orderkey"), 10)
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the broadcast exchange must sit on the sample branch — recognizable by
    // its TakeOrderedAndProject (ORDER BY pk LIMIT n); the target branch has none
    val bcastIdx = plan.indexOf("BroadcastExchange")
    assert(bcastIdx >= 0, plan.take(2000))
    assert(plan.indexOf("TakeOrderedAndProject", bcastIdx) >= 0,
      s"broadcast side is not the limited sample:\n${plan.take(3000)}")
  }

  test("layers 1/2/4 answer from the catalog on a manifest-maintained corpus (round-16 item 1)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_val_manifest").toString
    // aligned layout: one file per date (single-valued on the date key),
    // the numeric column a manifest key with recorded per-file sums —
    // exactly the reference's validator shapes: layer 1 row counts
    // (validator.py:193-215), layer 2 per-date partition counts
    // (validator.py:572-592), layer 4 SUM fingerprints over a decimal
    // widening (validator.py:326-405)
    Seq("2024-01-01", "2024-01-02", "2024-01-03").zipWithIndex.foreach {
      case (d, i) =>
        Seq.tabulate(10)(j => (java.sql.Date.valueOf(d), i * 100L + j, s"v$i$j"))
          .toDF("o_date", "amt", "v")
          .coalesce(1).write.mode("append").parquet(s"$base/t.parquet")
    }
    graft.sources.Manifest.updateDir(spark, s"$base/t.parquet", "t",
      Seq("o_date", "amt"), s"$base/_manifest/t")
    // what cli.Main's validate readSide now constructs for parquet sides
    val routed = Tables.load(spark, base, "t")
    val raw = spark.read.parquet(s"$base/t.parquet")
    def l124(v: Validator) = Seq(v.checkRowCount(),
      v.checkPartitionCounts("o_date"), v.checkAggregateFingerprint("o_date"))
    // results identical to the unrouted path, and all pass on the copy
    val routedResults = l124(new Validator(routed, routed))
    assert(routedResults === l124(new Validator(raw, raw)))
    assert(routedResults.forall(_.passed.contains(true)), routedResults)
    // steady state (snapshot warm from the pass above): the three layers
    // read ZERO data-file bytes — counts, per-date groups, and the
    // decimal-widened SUM fingerprints all answer from per-file stats
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val warm = l124(new Validator(routed, routed))
      assert(warm.forall(_.passed.contains(true)))
      Thread.sleep(600) // let the listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(bytes.get() === 0L,
      s"layers 1/2/4 over an aligned catalog must read no data pages, read ${bytes.get()}")
    // an out-of-band file makes the catalog stale: the rules decline to
    // the scan, so every layer reflects the TRUE current state — and the
    // routed results still match the unrouted path exactly
    Seq((java.sql.Date.valueOf("2024-01-04"), 999L, "x"))
      .toDF("o_date", "amt", "v")
      .coalesce(1).write.mode("append").parquet(s"$base/t.parquet")
    val routedStale = Tables.load(spark, base, "t") // fresh listing
    val rawStale = spark.read.parquet(s"$base/t.parquet")
    val staleRouted = l124(new Validator(routedStale, routedStale))
    assert(staleRouted === l124(new Validator(rawStale, rawStale)))
    assert(staleRouted.head.sourceValue === "31",
      "a stale catalog must decline to the scan and count the out-of-band file")
  }

  test("date column heuristic: name hints beat position") {
    val df = spark.range(1).select(
      current_timestamp().as("created_ts"),
      current_timestamp().as("order_date"))
    assert(Validator.detectDateColumn(df) === Some("order_date"))
    val df2 = spark.range(1).select(current_timestamp().as("a"), current_timestamp().as("b"))
    assert(Validator.detectDateColumn(df2) === Some("a"))
    assert(Validator.detectDateColumn(spark.range(1).toDF()) === None)
  }
}
