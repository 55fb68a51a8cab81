package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SQL-surface manifest pruning (round-11 verdict item 7): a `spark.sql`
  * query over a manifest-backed temp view must open ONLY the files whose
  * zone maps overlap the WHERE clause — file skipping without calling any
  * Scala helper — while the row-level filter still re-applies on top. */
class ManifestSqlSpec extends SparkSpec {

  private val base = Files.createTempDirectory("graft_manifest_sql").toString
  private val dataDir = s"$base/data"
  private val mp = s"$base/manifest"
  // rule names for Spark's spark.sql.optimizer.excludedRules
  private val AggRule = classOf[ManifestAggRule].getName
  private val JoinRule = classOf[ManifestJoinPruneRule].getName
  private val TopKRule = classOf[ManifestTopKRule].getName

  override def beforeAll(): Unit = {
    super.beforeAll()
    import spark.implicits._
    // 5 part files with disjoint id ranges [f*100, f*100+99]
    (0 until 5).foreach { f =>
      (0 until 100).map(i => (f * 100L + i, s"v$f"))
        .toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(s"$dataDir/t.parquet")
    }
    Manifest.update(spark, dataDir, "t", Seq("id"), mp)
    ManifestSql.register(spark, dataDir, "t", mp, "mt")
  }

  private def leaves(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves)
    }

  /** Files the FINAL (adaptive) plan's parquet scans actually list. */
  private def scannedFiles(df: DataFrame): Seq[String] = {
    df.collect() // finalize the adaptive plan
    leaves(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.inputFiles)
  }

  /** Files the executed scans actually READ (the numFiles metric) — unlike
    * [[scannedFiles]] this observes partition pruning too, so it can pin
    * the partition-stage × zone-map-stage composition. */
  private def scannedCount(df: DataFrame): Long = {
    df.collect()
    leaves(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }

  /** Spark jobs submitted while running `body`, via a throwaway job group. */
  private def jobsIn(tag: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
  }

  test("a WHERE range over the key scans only the overlapping files") {
    // this pins the PRUNE rule alone — with metadata aggregates on, the
    // round-16 hybrid SUM answers the covered middle file from stats and
    // scans only the two straddled boundary files (pinned below)
    val sql = "SELECT count(*) AS n, sum(id) AS s FROM mt WHERE id >= 150 AND id <= 340"
    val q = spark.sql(sql)
    withoutRules(AggRule) {
      val files = scannedFiles(q)
      assert(files.length === 3, s"expected files f1,f2,f3 only: $files")
    }
    // and the answer is exactly the raw recompute — pruning lost no rows
    val raw = spark.read.parquet(s"$dataDir/t.parquet")
      .filter(col("id").between(150L, 340L))
      .agg(count(lit(1)), sum("id")).head
    assert(q.head.toSeq === raw.toSeq)
    // hybrid metadata aggregate: one better — the fully-covered middle
    // file answers from its recorded stats, only the boundaries scan
    val qHybrid = spark.sql(sql)
    assert(scannedFiles(qHybrid).length === 2)
    assert(qHybrid.head.toSeq === raw.toSeq)
  }

  test("equality pins a single file; the row filter still re-applies") {
    val q = spark.sql("SELECT v FROM mt WHERE id = 250")
    assert(scannedFiles(q).length === 1)
    assert(q.head.getString(0) === "v2")
  }

  test("a sparse IN-list skips the files between its members") {
    val q = spark.sql("SELECT id FROM mt WHERE id IN (50, 51, 450)")
    assert(scannedFiles(q).length === 2, "members live only in f0 and f4")
    assert(q.collect().map(_.getLong(0)).sorted === Array(50L, 51L, 450L))
  }

  test("a predicate no file overlaps is an empty result, not an error") {
    val q = spark.sql("SELECT * FROM mt WHERE id > 99999")
    assert(scannedFiles(q).isEmpty)
    assert(q.count() === 0L)
  }

  test("non-key predicates keep every file (conservative, never lossy)") {
    val q = spark.sql("SELECT count(*) AS n FROM mt WHERE v = 'v3'")
    assert(scannedFiles(q).length === 5)
    assert(q.head.getLong(0) === 100L)
  }

  test("a dialect-TRANSLATED Snowflake query file-skips through the manifest") {
    // the round-11 gap verbatim: "a SQL user or a translated view never
    // benefits" — a migrated Snowflake view must prune like native SQL
    val snowflakeSql =
      """SELECT id, IFF(id >= 200, 'hi', 'lo') AS bucket
        |FROM mt WHERE id >= 150 AND id <= 250""".stripMargin
    val q = spark.sql(graft.dialect.SnowflakeDialect.translate(snowflakeSql))
    assert(scannedFiles(q).length === 2, "ids 150..250 live in f1 and f2 only")
    assert(q.count() === 101L)
  }

  test("the pruned scan still pushes the row predicate into parquet") {
    val q = spark.sql("SELECT id FROM mt WHERE id >= 150 AND id <= 160")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,150)"),
      plan.take(1200))
  }

  test("LIKE 'prefix%' on a string key prunes to the prefix's files") {
    import spark.implicits._
    val dir = s"$base/strdata"
    Seq("alpha", "apple", "ant").zipWithIndex.map(_.swap).toDF("n", "s")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq("bravo", "berry", "bat").zipWithIndex.map(_.swap).toDF("n", "s")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq("carol", "cherry", "cat").zipWithIndex.map(_.swap).toDF("n", "s")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val smp = s"$base/strmanifest"
    Manifest.update(spark, dir, "t", Seq("s"), smp)
    ManifestSql.register(spark, dir, "t", smp, "strt")
    val q = spark.sql("SELECT s FROM strt WHERE s LIKE 'b%' ORDER BY s")
    assert(scannedFiles(q).length === 1, "only the b-file may be opened")
    assert(q.collect().map(_.getString(0)).toSeq === Seq("bat", "berry", "bravo"))
  }

  test("z-ordered layout + multi-key manifest: the conjunction out-prunes one column") {
    import spark.implicits._
    // the write-side layout (ZOrder.cluster) and the read-side catalog
    // composed: 64×64 grid z-clustered into 16 files = 16×16 z-aligned
    // tiles, so BOTH columns are selective per file
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x, y)))
      .toDF("x", "y")
    val zdir = s"$base/zdata"
    graft.operators.ZOrder.cluster(grid, Seq("x", "y"), bits = 8, partitions = 16)
      .drop("zval")
      .write.mode("overwrite").parquet(s"$zdir/t.parquet")
    val zmp = s"$base/zmanifest"
    Manifest.update(spark, zdir, "t", Seq("x", "y"), zmp)
    ManifestSql.register(spark, zdir, "t", zmp, "zt")
    val qx = spark.sql(
      "SELECT count(*) AS n FROM zt WHERE x BETWEEN 8 AND 15")
    val qxy = spark.sql(
      "SELECT count(*) AS n FROM zt WHERE x BETWEEN 8 AND 15 AND y BETWEEN 8 AND 15")
    val fx = scannedFiles(qx).length
    val fxy = scannedFiles(qxy).length
    assert(fxy === 1, s"an aligned 16x16 tile lives in one z-file, scanned $fxy")
    assert(fx > fxy, s"the x-slab alone must cross tiles: $fx vs $fxy")
    assert(qx.head.getLong(0) === 8L * 64 && qxy.head.getLong(0) === 64L)
  }

  test("IS NULL scans only null-bearing files; IS NOT NULL skips all-null files") {
    import spark.implicits._
    val dir = s"$base/nulldata"
    // f-clean: no nulls; f-mixed: some; f-allnull: key entirely null
    Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, String)]((10L, "c"), (null, "d")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, String)]((null, "e"), (null, "f")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val nmp = s"$base/nullmanifest"
    Manifest.update(spark, dir, "t", Seq("id"), nmp)
    ManifestSql.register(spark, dir, "t", nmp, "nt")

    val qNull = spark.sql("SELECT v FROM nt WHERE id IS NULL ORDER BY v")
    assert(scannedFiles(qNull).length === 2, "only the null-bearing files")
    assert(qNull.collect().map(_.getString(0)).toSeq === Seq("d", "e", "f"))

    // the IS NOT NULL Spark inserts under a comparison skips the all-null
    // file even though its zone map is NULL (unknown range, kept by the
    // range bound alone). The aggregate rule is excluded: the hybrid
    // aggregate would scan only the mixed file (also correct, pinned in
    // its own test) — this pins the PRUNE path
    withoutRules(AggRule) {
      val qCmp = spark.sql("SELECT count(*) AS n FROM nt WHERE id >= 1")
      assert(scannedFiles(qCmp).length === 2, "all-null file must be skipped")
      assert(qCmp.head.getLong(0) === 3L)
    }
  }

  test("the DataFrame API prunes the same way — the rule sees plans, not SQL text") {
    // the aggregate rule excluded: the hybrid would scan only the two
    // straddled boundary files — this pins the PRUNE path over the DataFrame API
    withoutRules(AggRule) {
      val q = ManifestSql.readTable(spark, dataDir, "t", mp)
        .filter(col("id").between(150L, 340L))
        .agg(count(lit(1)).as("n"))
      assert(scannedFiles(q).length === 3)
      assert(q.head.getLong(0) === 191L)
    }
  }

  test("an OR of two prunable ranges scans the union of the branches' files") {
    // round-12 verdict item 1b: translated views routinely emit
    // `d BETWEEN … OR d BETWEEN …` — before this round any OR kept all files
    val q = spark.sql(
      """SELECT count(*) AS n, sum(id) AS s FROM mt
        |WHERE (id >= 50 AND id <= 60) OR (id >= 450 AND id <= 460)""".stripMargin)
    val files = scannedFiles(q)
    assert(files.length === 2, s"branch ranges live in f0 and f4 only: $files")
    val raw = spark.read.parquet(s"$dataDir/t.parquet")
      .filter(col("id").between(50L, 60L) || col("id").between(450L, 460L))
      .agg(count(lit(1)), sum("id")).head
    assert(q.head.toSeq === raw.toSeq)
  }

  test("an OR with an unprunable branch keeps every file — lossless, never lossy") {
    // the non-key branch alone could match rows anywhere; the whole OR
    // must then decline to prune
    val q = spark.sql("SELECT count(*) AS n FROM mt WHERE id <= 60 OR v = 'v3'")
    assert(scannedFiles(q).length === 5)
    assert(q.head.getLong(0) === 161L) // 61 ids in f0 + 100 v3 rows, disjoint
  }

  test("a cast-wrapped key bound still prunes: date key vs timestamp literal") {
    // round-12 verdict item 1a: comparing a typed column to a
    // differently-typed literal makes Catalyst wrap the ATTRIBUTE in a
    // Cast; the old AttributeReference-only match then scanned everything
    import spark.implicits._
    val dir = s"$base/datedata"
    Seq("2020-01-01", "2020-01-05", "2020-01-09").map(java.sql.Date.valueOf)
      .toDF("d").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq("2020-02-01", "2020-02-05", "2020-02-09").map(java.sql.Date.valueOf)
      .toDF("d").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq("2020-03-01", "2020-03-05", "2020-03-09").map(java.sql.Date.valueOf)
      .toDF("d").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val dmp = s"$base/datemanifest"
    Manifest.update(spark, dir, "t", Seq("d"), dmp)
    ManifestSql.register(spark, dir, "t", dmp, "datet")
    // the aggregate rule excluded: it would answer this count with ZERO
    // files (also correct, pinned elsewhere) — this test pins the
    // cast-wrapped PRUNE path
    withoutRules(AggRule) {
      val q = spark.sql(
        """SELECT count(*) AS n FROM datet
          |WHERE d >= TIMESTAMP '2020-02-01 00:00:00'
          |  AND d <= TIMESTAMP '2020-02-28 23:59:59'""".stripMargin)
      assert(scannedFiles(q).length === 1, "only the February file may be opened")
      assert(q.head.getLong(0) === 3L)
    }
  }

  test("a numeric cast-wrapped bound prunes: bigint key vs fractional literal") {
    // `id <= 250.5` coerces the BIGINT attribute into a decimal Cast —
    // the q194 oracle pins losslessness; this pins the file SKIPPING
    // (the aggregate rule excluded: the hybrid aggregate would scan
    // boundary files only — also correct, pinned in its own test)
    withoutRules(AggRule) {
      val q = spark.sql(
        "SELECT count(*) AS n FROM mt WHERE id <= 250.5")
      assert(scannedFiles(q).length === 3, "ids <= 250.5 live in f0..f2 only")
      assert(q.head.getLong(0) === 251L)
      // and on the >= side
      val q2 = spark.sql("SELECT count(*) AS n FROM mt WHERE id >= 449.5")
      assert(scannedFiles(q2).length === 1)
      assert(q2.head.getLong(0) === 50L)
    }
  }

  test("a stale manifest never loses rows when nothing prunes (round-12 advice)") {
    // the advice's exact hazard: a data file landing AFTER the last
    // Manifest.update is absent from the manifest's path list — swapping
    // the file index on a filter with NO prunable conjunct would silently
    // drop its rows from every filtered query
    import spark.implicits._
    val dir = s"$base/staledata"
    (0L until 50L).map((_, "old")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    (50L until 100L).map((_, "old")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    val smp = s"$base/stalemanifest"
    Manifest.update(spark, dir, "t", Seq("id"), smp)
    ManifestSql.register(spark, dir, "t", smp, "stalet")
    // a third file lands out-of-band — the manifest does not know it
    (1000L until 1010L).map((_, "fresh")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    // re-register so the relation's own file index sees the new file (the
    // manifest still doesn't — that's the point)
    ManifestSql.register(spark, dir, "t", smp, "stalet")
    val q = spark.sql("SELECT count(*) AS n FROM stalet WHERE v = 'fresh'")
    assert(scannedFiles(q).length === 3,
      "non-prunable predicate must use the relation's own (current) file index")
    assert(q.head.getLong(0) === 10L,
      "rows in the uncataloged file were silently dropped")
  }

  test("a path option without a table option degrades to the unpruned scan") {
    // round-12 advice: getOrElse("") used to filter the manifest on
    // table='' — zero rows survive and the query silently went empty
    spark.read
      .option(ManifestSql.PathOption, mp)
      .parquet(s"$dataDir/t.parquet")
      .createOrReplaceTempView("mt_notbl")
    val q = spark.sql(
      "SELECT count(*) AS n FROM mt_notbl WHERE id >= 150 AND id <= 340")
    assert(scannedFiles(q).length === 5, "mis-registration keeps every file")
    assert(q.head.getLong(0) === 191L)
  }

  test("LIKE prefix at the U+D7FF fencepost never prunes its own matches") {
    // round-12 verdict item 6: incrementing U+D7FF lands in the surrogate
    // block; UTF8String encodes the unpaired surrogate as '?', an upper
    // bound sorting BELOW the real matches — their file was wrongly pruned
    import spark.implicits._
    val dir = s"$base/surrdata"
    Seq("a\uD7FFx", "a\uD7FFy").zipWithIndex.map(_.swap).toDF("n", "s")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq("b1", "b2").zipWithIndex.map(_.swap).toDF("n", "s")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val smp = s"$base/surrmanifest"
    Manifest.update(spark, dir, "t", Seq("s"), smp)
    val q = ManifestSql.readTable(spark, dir, "t", smp)
      .filter(col("s").startsWith("a\uD7FF"))
    assert(q.count() === 2L, "both U+D7FF-prefixed rows must survive")
    // and the bound still skips the b-file: U+E000 sorts between the
    // a-prefixed matches and 'b1' in UTF-8 order
    assert(scannedFiles(
      ManifestSql.readTable(spark, dir, "t", smp)
        .filter(col("s").startsWith("a\uD7FF"))).length === 1)
  }

  test("a manifest holding no rows for the table degrades to the unpruned scan") {
    // the transfer path CLEARS a table's catalog before an overwrite
    // deletes its files (no catalog beats a wrong catalog); a prunable
    // query in that window — or against a wrong-table registration —
    // must scan everything, never return empty (round-13 review)
    val mp2 = s"$base/elsewhere_manifest"
    Manifest.write(
      Manifest.build(spark, dataDir, "t", Seq("id"))
        .withColumn("table", org.apache.spark.sql.functions.lit("elsewhere")),
      mp2)
    ManifestSql.register(spark, dataDir, "t", mp2, "mt_empty")
    val q = spark.sql(
      "SELECT count(*) AS n FROM mt_empty WHERE id >= 150 AND id <= 340")
    assert(scannedFiles(q).length === 5,
      "an unknown table must keep the relation's own file index")
    assert(q.head.getLong(0) === 191L)
  }

  test("an InSet-sized IN list (>10 members) prunes like the In form") {
    // Catalyst converts IN lists past inSetConversionThreshold (default 10)
    // to InSet — the production shape for translated views' long member
    // lists; round-13 verdict item 8 wanted the parity pinned
    val members = ((50 to 59) :+ 450).mkString(", ") // 11 literals → InSet
    val q = spark.sql(s"SELECT count(*) AS n FROM mt WHERE id IN ($members)")
    assert(scannedFiles(q).length === 2, "members live only in f0 and f4")
    assert(q.head.getLong(0) === 11L)
  }

  test("YEAR(key) bounds prune to the matching year's files (round-13 item 1)") {
    import spark.implicits._
    val dir = s"$base/yeardata"
    Seq("2019-03-01", "2019-06-01", "2020-01-05", "2020-07-05",
      "2021-02-01", "2021-11-01").map(java.sql.Date.valueOf)
      .grouped(2).foreach(g =>
        g.toDF("d").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet"))
    val ymp = s"$base/yearmanifest"
    Manifest.update(spark, dir, "t", Seq("d"), ymp)
    ManifestSql.register(spark, dir, "t", ymp, "yt")
    val q = spark.sql("SELECT count(*) AS n FROM yt WHERE YEAR(d) = 2020")
    assert(scannedFiles(q).length === 1, "only the 2020 file may be opened")
    assert(q.head.getLong(0) === 2L)
    // inequalities through the same wrapper
    val q2 = spark.sql("SELECT count(*) AS n FROM yt WHERE YEAR(d) >= 2021")
    assert(scannedFiles(q2).length === 1)
    assert(q2.head.getLong(0) === 2L)
    // and through the dialect-translate path — the round-13 verdict's
    // motivating case: translated views emit YEAR(d) = y constantly
    val tq = spark.sql(graft.dialect.SnowflakeDialect.translate(
      "SELECT COUNT(*) AS n FROM yt WHERE YEAR(d) = 2019"))
    assert(scannedFiles(tq).length === 1)
    assert(tq.head.getLong(0) === 2L)
  }

  test("DATE_TRUNC and TO_DATE bounds over a timestamp key prune (round-13 item 1)") {
    import spark.implicits._
    val dir = s"$base/tsdata"
    // Spark's DEFAULT parquet timestamp encoding is INT96, whose footer
    // statistics parquet itself deems unusable — a footer-maintained
    // manifest would carry NULL zone maps (conservative keep-all, never
    // wrong). Timestamp keys need TIMESTAMP_MICROS at write time for
    // footer stats to exist; that is the production setting pinned here.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      Seq("2020-01-05 10:00:00", "2020-01-25 11:00:00",
        "2020-02-05 10:00:00", "2020-02-25 11:00:00",
        "2020-03-05 10:00:00", "2020-03-25 11:00:00")
        .map(java.sql.Timestamp.valueOf)
        .grouped(2).foreach(g =>
          g.toDF("t").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet"))
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val tmp = s"$base/tsmanifest"
    Manifest.update(spark, dir, "t", Seq("t"), tmp)
    ManifestSql.register(spark, dir, "t", tmp, "tst")
    // DATE_TRUNC('month', ts) = lit — the translated-view staple
    val q = spark.sql(
      """SELECT count(*) AS n FROM tst
        |WHERE date_trunc('month', t) = TIMESTAMP '2020-02-01 00:00:00'""".stripMargin)
    assert(scannedFiles(q).length === 1, "only the February file may be opened")
    assert(q.head.getLong(0) === 2L)
    // TO_DATE(ts) optimizes to Cast(ts AS DATE) — prune through it
    // (the aggregate rule excluded through execution: it would answer
    // this count with ZERO files once UnwrapCastInBinaryComparison bares the attribute — this assert
    // pins the PRUNE path)
    withoutRules(AggRule) {
      val q2 = spark.sql(
        "SELECT count(*) AS n FROM tst WHERE to_date(t) >= DATE '2020-03-01'")
      assert(scannedFiles(q2).length === 1)
      assert(q2.head.getLong(0) === 2L)
    }
    // a non-monotone wrapper (MONTH wraps around each year) must decline
    val q3 = spark.sql("SELECT count(*) AS n FROM tst WHERE MONTH(t) = 2")
    assert(scannedFiles(q3).length === 3, "MONTH is not monotone — keep all")
    assert(q3.head.getLong(0) === 2L)
  }

  test("repeated pruned queries reuse the manifest snapshot: no per-query scan jobs") {
    // round-13 verdict item 2: the rule ran a distributed manifest read +
    // collect inside the optimizer for EVERY query — N queries, N manifest
    // scans. With the snapshot, only the cold query pays manifest jobs;
    // warm queries list the manifest dir (no job) and evaluate locally.
    import spark.implicits._
    val sdir = s"$base/snapdata"
    (0 until 5).foreach { f =>
      (0 until 100).map(i => (f * 100L + i, s"v$f"))
        .toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(s"$sdir/t.parquet")
    }
    val smp = s"$base/snapmanifest"
    Manifest.update(spark, sdir, "t", Seq("id"), smp)
    ManifestSql.register(spark, sdir, "t", smp, "snapt")
    def run(idLit: Int): Long =
      spark.sql(s"SELECT count(*) AS n FROM snapt WHERE id = $idLit").head.getLong(0)
    val cold = jobsIn("snap_cold") { assert(run(250) === 1L) }
    val warm = Seq(50, 250, 450).zipWithIndex.map { case (id, i) =>
      jobsIn(s"snap_warm_$i") { assert(run(id) === 1L) }
    }
    assert(warm.distinct.size === 1,
      s"warm pruned queries must cost identical job counts: $warm")
    assert(warm.head < cold,
      s"cold run pays the manifest scan jobs the snapshot then absorbs: " +
        s"cold=$cold warm=$warm")
    // freshness: maintenance changes the manifest's file set, so the next
    // query must see the fresh catalog, not the cached snapshot
    (9000L until 9100L).map((_, "fresh")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$sdir/t.parquet")
    Manifest.update(spark, sdir, "t", Seq("id"), smp)
    ManifestSql.register(spark, sdir, "t", smp, "snapt") // refresh the view's own index
    // the aggregate rule excluded: the fully-covered count would otherwise be
    // answered with ZERO files (also correct); this pins the SNAPSHOT
    // freshness of the prune path
    withoutRules(AggRule) {
      val q = spark.sql("SELECT count(*) AS n FROM snapt WHERE id >= 9000")
      assert(scannedFiles(q).length === 1, "the post-update snapshot knows the new file")
      assert(q.head.getLong(0) === 100L)
    }
  }

  test("hive partition pruning and zone maps compose (round-13 verdict item 4)") {
    import spark.implicits._
    val dir = s"$base/partdata"
    // two dt= partitions × two files each, with the SAME id ranges in both
    // partitions — so neither prune stage subsumes the other
    Seq(("a", 0L), ("a", 100L), ("b", 0L), ("b", 100L)).foreach { case (dt, lo) =>
      (lo until lo + 100L).map((_, s"v$dt$lo", dt)).toDF("id", "v", "dt")
        .coalesce(1).write.partitionBy("dt").mode("append")
        .parquet(s"$dir/t.parquet")
    }
    val pmp = s"$base/partmanifest"
    Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), pmp)
    ManifestSql.register(spark, dir, "t", pmp, "pt")
    // both stages: partition dirs select dt=a, zone maps skip the id>=100
    // file within it → exactly one file read (bound 50 sits strictly
    // inside the first file's range — the inclusive zone bounds keep a
    // file whose min EQUALS the bound, by design)
    val qBoth = spark.sql(
      "SELECT count(*) AS n FROM pt WHERE dt = 'a' AND id <= 50")
    assert(scannedCount(qBoth) === 1L, "partition stage × zone stage must compose")
    assert(qBoth.head.getLong(0) === 51L)
    // zone stage alone: one file per partition survives
    val qZone = spark.sql("SELECT count(*) AS n FROM pt WHERE id <= 50")
    assert(scannedCount(qZone) === 2L)
    assert(qZone.head.getLong(0) === 102L)
    // partition stage alone (no prunable key conjunct → plan unchanged,
    // Spark's own partition pruning still applies)
    val qPart = spark.sql("SELECT count(*) AS n FROM pt WHERE dt = 'b'")
    assert(scannedCount(qPart) === 2L)
    assert(qPart.head.getLong(0) === 200L)
    // partition VALUES survive the wrapped index — dt still projects
    val vals = spark.sql(
      "SELECT DISTINCT dt FROM pt WHERE id <= 50 ORDER BY dt")
      .collect().map(_.getString(0)).toSeq
    assert(vals === Seq("a", "b"))
  }

  test("a well-pruned scan reports survivor bytes and broadcasts in a join") {
    // the wrapped index reports the SURVIVORS' manifest-recorded bytes as
    // sizeInBytes (not the whole table's), so a big table pruned to a
    // sliver qualifies for a broadcast join — at 100 TB this is the
    // difference between a shuffle of the fact table and none. Payloads
    // are md5-derived hex (incompressible) so disk sizes have real
    // margins on both sides of the threshold.
    import spark.implicits._
    val dir = s"$base/bcastdata"
    (0 until 5).foreach { f =>
      (0 until 100).map(i => f * 100L + i).toDF("id")
        .withColumn("v", concat((0 until 8).map(j =>
          md5(concat(col("id"), lit(s"_$j")))): _*))
        .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    }
    val bmp = s"$base/bcastmanifest"
    Manifest.update(spark, dir, "t", Seq("id"), bmp)
    ManifestSql.register(spark, dir, "t", bmp, "bt")
    spark.range(0, 100000).toDF("id").createOrReplaceTempView("bt_other")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "32768")
    try {
      val q = spark.sql(
        "SELECT count(*) AS n FROM bt_other o JOIN bt b ON o.id = b.id AND b.id <= 50")
      q.collect()
      // the join read exactly the one surviving file…
      assert(leaves(q.queryExecution.executedPlan)
        .filter(_.relation.location.isInstanceOf[ManifestPrunedFileIndex])
        .map(_.metrics("numFiles").value).sum === 1L)
      // …whose index reports the survivor's manifest bytes, under the
      // 32 KiB threshold where the full 5-file table (incompressible hex)
      // sits far above it — so the planner picks a broadcast join
      val scan = leaves(q.queryExecution.executedPlan)
        .find(_.relation.location.isInstanceOf[ManifestPrunedFileIndex]).get
      val survivorBytes = spark.read.parquet(bmp)
        .filter(col("maxs.id") <= 99L).agg(org.apache.spark.sql.functions.sum("bytes"))
        .head.getLong(0)
      assert(scan.relation.location.sizeInBytes === survivorBytes)
      assert(survivorBytes < 32768L)
      assert(new java.io.File(s"$dir/t.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum > 32768L,
        "fixture too small to make the unpruned side non-broadcastable")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"pruned side must broadcast:\n${plan.take(1500)}")
      assert(q.head.getLong(0) === 51L)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a broadcast-small dim side prunes fact files at planning time (join rule)") {
    // the star-schema shape static pruning cannot touch: no literal bound
    // on fact.id, yet only the files whose zone maps overlap the dim's
    // keys may be opened — the DPP analog over zone maps (round 14)
    import spark.implicits._
    Seq(10L, 470L).toDF("k").createOrReplaceTempView("jp_dim")
    val q = spark.sql("SELECT count(*) AS n FROM mt f JOIN jp_dim d ON f.id = d.k")
    assert(scannedFiles(q).length === 2, "dim keys live in f0 and f4 only")
    assert(q.head.getLong(0) === 2L)
    // flipped sides and flipped equality still prune the fact
    val q2 = spark.sql("SELECT count(*) AS n FROM jp_dim d JOIN mt f ON d.k = f.id")
    assert(scannedFiles(q2).length === 2)
    assert(q2.head.getLong(0) === 2L)
  }

  test("an empty dim side prunes the fact scan to zero files — the join is empty anyway") {
    import spark.implicits._
    // literal-empty dim: Catalyst's own empty propagation folds the join
    Seq(10L, 470L).toDF("k").createOrReplaceTempView("jp_dim_src")
    val q = spark.sql(
      """SELECT count(*) AS n FROM mt f
        |JOIN (SELECT k FROM jp_dim_src WHERE k < 0) d ON f.id = d.k""".stripMargin)
    assert(scannedFiles(q).isEmpty)
    assert(q.head.getLong(0) === 0L)
    // RUNTIME-empty dim (not constant-foldable): the rule's own zero-key
    // path must prune the FACT scan to zero files while the dim side
    // still scans normally
    val q2 = spark.sql(
      """SELECT count(*) AS n FROM mt f
        |JOIN (SELECT id AS k FROM mt WHERE v = 'nope') d ON f.id = d.k""".stripMargin)
    // the substitution is visible in the OPTIMIZED plan (AQE then folds
    // the zero-file scan away entirely at execution — also correct)
    val prunedIndexes = q2.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.isInstanceOf[ManifestPrunedFileIndex] =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation].location
    }
    // the dim side's inferred isnotnull skips no file, so only the fact
    // side carries a pruned index — the zero-file index is the rule's
    // empty-keys path under test
    assert(prunedIndexes.exists(_.inputFiles.isEmpty),
      s"the fact side must be pruned to zero files: " +
        s"${prunedIndexes.map(_.inputFiles.length)}")
    assert(q2.head.getLong(0) === 0L)
  }

  test("a multi-key equi-join ANDs every manifest-keyed column's dim bound") {
    // 2×2 grid of files on (a, b); the dim's single tuple (5, 15) pins
    // exactly one file under the two-column AND where either column
    // alone keeps two — the Z-order read path, join-driven
    import spark.implicits._
    val dir = s"$base/multikeydata"
    Seq((0, 0), (0, 10), (10, 0), (10, 10)).foreach { case (aLo, bLo) =>
      (0 until 10).flatMap(i => (0 until 10).map(j => (aLo + i, bLo + j)))
        .toDF("a", "b").coalesce(1)
        .write.mode("append").parquet(s"$dir/t.parquet")
    }
    val mmp = s"$base/multikeymanifest"
    Manifest.update(spark, dir, "t", Seq("a", "b"), mmp)
    ManifestSql.register(spark, dir, "t", mmp, "mkt")
    Seq((5, 15)).toDF("ka", "kb").createOrReplaceTempView("mk_dim")
    val q = spark.sql(
      """SELECT count(*) AS n FROM mkt f
        |JOIN mk_dim d ON f.a = d.ka AND f.b = d.kb""".stripMargin)
    assert(scannedFiles(q).length === 1, "both key bounds must AND")
    assert(q.head.getLong(0) === 1L)
    // one column alone (the other not equi-joined) keeps that column's two
    val q2 = spark.sql(
      "SELECT count(*) AS n FROM mkt f JOIN mk_dim d ON f.a = d.ka")
    assert(scannedFiles(q2).length === 2)
    assert(q2.head.getLong(0) === 20L)
    // a NULL-bearing dim tuple matches nothing and must not widen bounds
    Seq((Some(5), Some(15)), (None: Option[Int], Some(15)))
      .toDF("ka", "kb").createOrReplaceTempView("mk_dim_null")
    val q3 = spark.sql(
      """SELECT count(*) AS n FROM mkt f
        |JOIN mk_dim_null d ON f.a = d.ka AND f.b = d.kb""".stripMargin)
    assert(scannedFiles(q3).length === 1, "the null tuple is dropped whole")
    assert(q3.head.getLong(0) === 1L)
  }

  test("a literal fact bound and the dim keys prune on their INTERSECTION") {
    // the composition that motivated join-rule-first ordering: the rule
    // folds walked-through Filter conjuncts into its zone predicate, so
    // id<=100 (files f0,f1) ∧ dim keys {10,470} (files f0,f4) opens f0 only
    import spark.implicits._
    Seq(10L, 470L).toDF("k").createOrReplaceTempView("jp_dim3")
    val q = spark.sql(
      """SELECT count(*) AS n FROM mt f JOIN jp_dim3 d ON f.id = d.k
        |WHERE f.id <= 100""".stripMargin)
    assert(scannedFiles(q).length === 1, "intersection of filter and join prunes")
    assert(q.head.getLong(0) === 1L, "only id=10 survives both")
  }

  test("join pruning declines whenever soundness cannot be proven") {
    import spark.implicits._
    Seq(10L, 470L).toDF("k").createOrReplaceTempView("jp_dim2")
    // fact-preserving outer side: every fact row reaches the output
    val qOuter = spark.sql(
      "SELECT count(*) AS n FROM mt f LEFT JOIN jp_dim2 d ON f.id = d.k")
    assert(scannedFiles(qOuter).length === 5, "LEFT-side fact must keep all files")
    assert(qOuter.head.getLong(0) === 500L)
    // …but the null-extended side of the same join type prunes
    val qOuterFlip = spark.sql(
      "SELECT count(*) AS n FROM jp_dim2 d LEFT JOIN mt f ON f.id = d.k")
    assert(scannedFiles(qOuterFlip).length === 2)
    assert(qOuterFlip.head.getLong(0) === 2L)
    // an Aggregate between the relation and the join is not row-local —
    // a pruned row could have fed a surviving group's aggregate
    val qAgg = spark.sql(
      """SELECT count(*) AS n FROM
        |  (SELECT id, count(*) AS c FROM mt GROUP BY id) f
        |JOIN jp_dim2 d ON f.id = d.k""".stripMargin)
    assert(scannedFiles(qAgg).length === 5, "aggregate between relation and join")
    assert(qAgg.head.getLong(0) === 2L)
    // a dim past the broadcast threshold is not worth a planning-time job
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try {
      spark.range(0, 5000).toDF("k").createOrReplaceTempView("jp_big_dim")
      val qBig = spark.sql(
        "SELECT count(*) AS n FROM mt f JOIN jp_big_dim d ON f.id = d.k")
      assert(scannedFiles(qBig).length === 5, "oversized dim must not execute early")
      assert(qBig.head.getLong(0) === 500L)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // a key-count cap breach degrades to the dim's [min,max] ENVELOPE
    // (round-14 verdict item 3) — here {10,470} spans every file, so all
    // five still scan, but the join stays correct
    spark.conf.set("graft.manifest.joinPruneMaxKeys", "1")
    try {
      val qCap = spark.sql(
        "SELECT count(*) AS n FROM mt f JOIN jp_dim2 d ON f.id = d.k")
      assert(scannedFiles(qCap).length === 5)
      assert(qCap.head.getLong(0) === 2L)
    } finally spark.conf.unset("graft.manifest.joinPruneMaxKeys")
    // and excluding the rule turns it off outright
    withoutRules(JoinRule) {
      val qOff = spark.sql(
        "SELECT count(*) AS n FROM mt f JOIN jp_dim2 d ON f.id = d.k")
      assert(scannedFiles(qOff).length === 5)
      assert(qOff.head.getLong(0) === 2L)
    }
  }

  test("a filter on an alias SHADOWING a key name never folds into the join prune") {
    // round-14 advice: a compiler resolving attributes by NAME lets a
    // Filter above a Project whose alias shadows the manifest key fold as
    // a bound on the NATIVE column and unsoundly prune. The fold set is
    // exprId-guarded: only conjuncts referencing the relation's own
    // attributes fold.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join, JoinHint, Project}
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import spark.implicits._
    val factDf = ManifestSql.readTable(spark, dataDir, "t", mp)
    val rel = factDf.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l }.get
    val idAttr = rel.output.find(_.name == "id").get
    // a deterministic computed column whose ALIAS NAME is the key's name
    val shadow = Alias(Literal(0L), "id")()
    val proj = Project(Seq(idAttr, shadow), rel)
    val shadowRef = proj.output(1)
    // row-level TRUE for every row (shadow ≡ 0), but a name-resolved fold
    // would read it as id < 250 and drop the file holding dim key 470
    val filt = LFilter(LessThan(shadowRef, Literal(250L)), proj)
    val dimPlan = Seq(470L).toDF("k").queryExecution.analyzed
    val join = Join(filt, dimPlan, Inner,
      Some(EqualTo(idAttr, dimPlan.output.head)), JoinHint.NONE)
    val out = ManifestJoinPruneRule(spark)(join)
    val prunedIdx = out.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[HadoopFsRelation] &&
            l.relation.asInstanceOf[HadoopFsRelation]
              .location.isInstanceOf[ManifestPrunedFileIndex] =>
        l.relation.asInstanceOf[HadoopFsRelation].location
    }
    assert(prunedIdx.nonEmpty, "the join prune itself must still fire")
    assert(prunedIdx.head.inputFiles.length === 1,
      "dim key 470 lives in exactly one file — the shadow conjunct must not drop it")
    assert(prunedIdx.head.inputFiles.head.contains("part-"),
      s"unexpected survivor: ${prunedIdx.head.inputFiles.toSeq}")
  }

  test("a non-deterministic fact-side chain declines the join prune whole") {
    // round-14 advice: mirror the dim-side determinism gate on the
    // walked-through fact chain — a rand() projection between the
    // relation and the join keeps every file
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join, JoinHint, Project}
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import spark.implicits._
    val factDf = ManifestSql.readTable(spark, dataDir, "t", mp)
    val rel = factDf.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l }.get
    val idAttr = rel.output.find(_.name == "id").get
    val noise = Alias(Rand(Literal(42L)), "noise")()
    val proj = Project(Seq(idAttr, noise), rel)
    val filt = LFilter(GreaterThanOrEqual(proj.output(1), Literal(0.0d)), proj)
    val dimPlan = Seq(470L).toDF("k").queryExecution.analyzed
    val join = Join(filt, dimPlan, Inner,
      Some(EqualTo(idAttr, dimPlan.output.head)), JoinHint.NONE)
    val out = ManifestJoinPruneRule(spark)(join)
    assert(out.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[HadoopFsRelation] &&
            l.relation.asInstanceOf[HadoopFsRelation]
              .location.isInstanceOf[ManifestPrunedFileIndex] => l
    }.isEmpty, "a non-deterministic chain must decline the prune entirely")
  }

  test("a non-manifest join never pays the dim-side gates (probe order, round-14 item 2)") {
    import spark.implicits._
    (1L to 100L).map((_, "x")).toDF("id", "v").createOrReplaceTempView("plain_a")
    (1L to 100L).map((_, "y")).toDF("id", "w").createOrReplaceTempView("plain_b")
    val before = ManifestJoinPruneRule.dimGateEvals.get()
    assert(spark.sql(
      """SELECT count(*) AS n FROM plain_a a
        |JOIN plain_b b ON a.id = b.id
        |JOIN plain_a c ON b.id = c.id""".stripMargin).head.getLong(0) === 100L)
    assert(ManifestJoinPruneRule.dimGateEvals.get() === before,
      "joins that never reach a marked relation must stop at the structural probe")
    // …while a manifest star query does arrive at the gates
    Seq(10L).toDF("k").createOrReplaceTempView("gate_dim")
    spark.sql("SELECT count(*) AS n FROM mt f JOIN gate_dim d ON f.id = d.k").collect()
    assert(ManifestJoinPruneRule.dimGateEvals.get() > before)
  }

  test("a fact-fact join between two manifest-backed tables prunes BOTH sides") {
    // round-14 verdict item 4: candidates fold cumulatively — the second
    // orientation's dim view is the already-pruned first side
    import spark.implicits._
    val dir2 = s"$base/bothdata2"
    Seq(100L, 300L, 900L).foreach { lo =>
      (lo until lo + 10L).map((_, s"w$lo")).toDF("id", "w").coalesce(1)
        .write.mode("append").parquet(s"$dir2/t2.parquet")
    }
    val mp2 = s"$base/bothmanifest2"
    Manifest.update(spark, dir2, "t2", Seq("id"), mp2)
    ManifestSql.register(spark, dir2, "t2", mp2, "mt2")
    val q = spark.sql("SELECT count(*) AS n FROM mt f JOIN mt2 g ON f.id = g.id")
    val files = scannedFiles(q)
    assert(files.count(_.contains("/data/")) === 2,
      s"t side: keys 100-109 and 300-309 live in two files: $files")
    assert(files.count(_.contains("bothdata2")) === 2,
      s"t2 side: the 900-file misses the pruned-t envelope [100,399]: $files")
    assert(q.head.getLong(0) === 20L)
  }

  test("repeated join-pruned star queries reuse the dim-key memo (round-14 item 1)") {
    import spark.implicits._
    // own fact table so maintenance here cannot disturb shared fixtures
    val dir = s"$base/memodata"
    (0 until 3).foreach { f =>
      (0 until 100).map(i => (f * 100L + i, s"v$f")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(s"$dir/tm.parquet")
    }
    val mmp = s"$base/memomanifest"
    Manifest.update(spark, dir, "tm", Seq("id"), mmp)
    ManifestSql.register(spark, dir, "tm", mmp, "memot")
    // parquet-backed dim so a planning-time key collection costs jobs
    val pdim = s"$base/memopdim"
    Seq(10L, 905L).toDF("k").coalesce(1).write.parquet(pdim)
    spark.read.parquet(pdim).createOrReplaceTempView("memo_dim")
    val sqlTxt = "SELECT count(*) AS n FROM memot f JOIN memo_dim d ON f.id = d.k"
    def run(tag: String, expect: Long): Int =
      jobsIn(tag) { assert(spark.sql(sqlTxt).head.getLong(0) === expect) }
    val cold = run("memo_cold", 1L)
    val warm1 = run("memo_warm1", 1L)
    val warm2 = run("memo_warm2", 1L)
    assert(warm1 === warm2, s"warm runs must cost identical jobs: $warm1 vs $warm2")
    assert(warm1 < cold,
      s"the memo must absorb the planning-time dim execution: cold=$cold warm=$warm1")
    // maintenance rotates the manifest signature: a new fact file lands,
    // the memo entry dies with the old signature, and the join sees it
    (900L until 910L).map((_, "z")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$dir/tm.parquet")
    Manifest.update(spark, dir, "tm", Seq("id"), mmp)
    ManifestSql.register(spark, dir, "tm", mmp, "memot")
    val postCold = run("memo_post_cold", 2L) // key 905 now matches
    val postWarm = run("memo_post_warm", 2L)
    assert(postWarm < postCold,
      s"post-update first run re-executes the dim keys: $postCold then $postWarm")
  }

  test("past joinPruneMaxKeys the dim degrades to a min/max envelope that still skips") {
    import spark.implicits._
    // 20 contiguous keys inside f1's range, plus NULL rows that must not
    // widen the envelope (equi-join nulls match nothing)
    ((100L to 119L).map(Option(_)) ++ Seq(None, None)).toDF("k")
      .createOrReplaceTempView("env_dim")
    spark.conf.set("graft.manifest.joinPruneMaxKeys", "10")
    try {
      val q = spark.sql("SELECT count(*) AS n FROM mt f JOIN env_dim d ON f.id = d.k")
      assert(scannedFiles(q).length === 1, "envelope [100,119] lives in f1 only")
      assert(q.head.getLong(0) === 20L)
    } finally spark.conf.unset("graft.manifest.joinPruneMaxKeys")
  }

  test("the snapshot cache evicts exactly one LRU entry at capacity (round-14 item 6)") {
    ManifestSnapshot.cache.clear()
    def snap(i: Int) = ManifestSnapshot.Snap(Vector((s"f$i", 1L, 1L)), Map.empty, Map.empty)
    (0 until ManifestSnapshot.MaxEntries).foreach(i =>
      ManifestSnapshot.cache.put(s"m$i", snap(i)))
    ManifestSnapshot.cache.get("m0") // most-recently-used now
    ManifestSnapshot.cache.put("m_over", snap(9999))
    assert(ManifestSnapshot.cache.size() === ManifestSnapshot.MaxEntries,
      "the bound holds")
    assert(!ManifestSnapshot.cache.containsKey("m1"),
      "exactly the least-recently-used entry is evicted")
    assert(ManifestSnapshot.cache.containsKey("m0"), "a touched entry survives")
    assert(ManifestSnapshot.cache.containsKey("m_over"))
    assert((2 until ManifestSnapshot.MaxEntries).forall(i =>
      ManifestSnapshot.cache.containsKey(s"m$i")), "everything else survives")
    ManifestSnapshot.cache.clear() // repopulates on demand
  }

  test("metadata-aggregates answer COUNT/MIN/MAX from the manifest, zero data jobs") {
    // round-14 verdict item 5: the Scala helpers' stats-only speed
    // (Manifest.slice) surfaced to spark.sql
    spark.sql("SELECT count(*) AS n FROM mt").collect() // warm snapshot + listing
    val q = spark.sql("SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM mt")
    assert(scannedFiles(q).isEmpty, "no parquet scan may remain in the plan")
    assert(q.head.toSeq === Seq(500L, 0L, 499L))
    val jobs = jobsIn("meta_agg") {
      assert(spark.sql("SELECT count(*) AS n FROM mt").head.getLong(0) === 500L)
    }
    assert(jobs === 0, s"metadata aggregate must cost zero Spark jobs, got $jobs")
    // a WHERE that fully covers or excludes every file still answers from stats
    val qCov = spark.sql("SELECT count(*) AS n FROM mt WHERE id >= 100 AND id <= 299")
    assert(scannedFiles(qCov).isEmpty)
    assert(qCov.head.getLong(0) === 200L)
    // post-aggregation expressions ride along (cast over the computed min)
    val qCast = spark.sql("SELECT CAST(min(id) AS STRING) AS lo FROM mt")
    assert(scannedFiles(qCast).isEmpty)
    assert(qCast.head.getString(0) === "0")
    // a partially-covered bound goes HYBRID: covered files answer from
    // stats, and ONLY the boundary file is scanned (id>=150 covers
    // f2..f4, excludes f0, and straddles f1 alone)
    val qPart = spark.sql("SELECT count(*) AS n FROM mt WHERE id >= 150")
    assert(scannedFiles(qPart).length === 1,
      "only the straddled boundary file may scan")
    assert(qPart.head.getLong(0) === 350L)
    // hybrid MIN/MAX: the scan leg's boundary row (150) must beat the
    // stats leg's covered minimum (200)
    val qPartMm = spark.sql(
      "SELECT min(id) AS lo, max(id) AS hi, count(*) AS n FROM mt WHERE id >= 150")
    assert(scannedFiles(qPartMm).length === 1)
    assert(qPartMm.head.toSeq === Seq(150L, 499L, 350L))
    // a range straddling two boundary files scans exactly those two
    val qMid = spark.sql(
      "SELECT count(*) AS n FROM mt WHERE id BETWEEN 95 AND 105")
    assert(scannedFiles(qMid).length === 2)
    assert(qMid.head.getLong(0) === 11L)
    // SUM answers from the recorded per-file sums (round-15 item 3) —
    // the validator-fingerprint shape at catalog speed
    val qSum = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM mt")
    assert(scannedFiles(qSum).isEmpty,
      "SUM over a sums-bearing manifest must answer from stats")
    assert(qSum.head.toSeq === Seq(500L, (0L until 500L).sum))
    // AVG decomposes to SUM/COUNT over the same stats (round-16 item 3)
    // and answers with zero data files
    val qAvg = spark.sql("SELECT count(*) AS n, avg(id) AS a FROM mt")
    assert(scannedFiles(qAvg).isEmpty,
      "AVG must answer from the recorded sums and counts")
    assert(qAvg.head.toSeq === Seq(500L, (0L until 500L).sum.toDouble / 500))
    // an unsupported aggregate still declines the WHOLE rewrite
    val qStd = spark.sql("SELECT count(*) AS n, stddev_pop(id) AS sd FROM mt")
    assert(scannedFiles(qStd).nonEmpty)
    assert(qStd.head.getLong(0) === 500L)
    // hybrid SUM: covered files from stats, boundary file scanned
    val qSumPart = spark.sql("SELECT sum(id) AS s FROM mt WHERE id >= 150")
    assert(scannedFiles(qSumPart).length === 1)
    assert(qSumPart.head.getLong(0) === (150L until 500L).sum)
    // excluding the rule declines
    withoutRules(AggRule) {
      val qOff = spark.sql("SELECT count(*) AS n FROM mt")
      assert(scannedFiles(qOff).nonEmpty)
      assert(qOff.head.getLong(0) === 500L)
    }
  }

  test("metadata-aggregates handle NULL keys and decline on a stale catalog") {
    import spark.implicits._
    val dir = s"$base/aggnull"
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, String)]((null, "c"), (null, "d")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val amp = s"$base/aggnullmanifest"
    Manifest.update(spark, dir, "t", Seq("id"), amp)
    ManifestSql.register(spark, dir, "t", amp, "aggnt")
    val q = spark.sql(
      "SELECT count(*) AS n, count(id) AS nid, min(id) AS lo, max(id) AS hi FROM aggnt")
    assert(scannedFiles(q).isEmpty,
      "all-null files contribute nothing to MIN/MAX and known null counts answer COUNT(id)")
    assert(q.head.toSeq === Seq(4L, 1L, 1L, 1L))
    // an out-of-band file makes the catalog stale — completeness declines
    Seq[(java.lang.Long, String)]((50L, "e")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    ManifestSql.register(spark, dir, "t", amp, "aggnt") // fresh relation listing
    val qStale = spark.sql("SELECT count(*) AS n, max(id) AS hi FROM aggnt")
    assert(scannedFiles(qStale).nonEmpty, "a stale catalog must fall back to the scan")
    assert(qStale.head.toSeq === Seq(5L, 50L))
  }

  test("ORDER BY key LIMIT n scans only the files that can hold a top-n row") {
    // round-15 extension (ManifestTopKRule): the guarantee sweep — files
    // sorted by their guaranteed bound accumulate rows until n, and
    // everything provably past that threshold skips
    val q = spark.sql("SELECT id, v FROM mt ORDER BY id DESC LIMIT 10")
    assert(scannedFiles(q).length === 1, "the top 10 ids live in f4 only")
    assert(q.collect().map(_.getLong(0)).toSeq === (490L to 499L).reverse)
    // n spanning two files keeps exactly those two
    val q2 = spark.sql("SELECT id FROM mt ORDER BY id DESC LIMIT 150")
    assert(scannedFiles(q2).length === 2)
    assert(q2.count() === 150L)
    // ascending mirror
    val q3 = spark.sql("SELECT id FROM mt ORDER BY id ASC LIMIT 5")
    assert(scannedFiles(q3).length === 1)
    assert(q3.collect().map(_.getLong(0)).toSeq === (0L to 4L))
    // a secondary sort key changes nothing about which FILES can hold
    // the top-n — the threshold argument is primary-key-only
    val q4 = spark.sql("SELECT id, v FROM mt ORDER BY id DESC, v LIMIT 10")
    assert(scannedFiles(q4).length === 1)
    // explicit opposite placements engage too (round-16 item 4): with
    // zero recorded nulls the DESC NULLS FIRST null region is empty and
    // the value threshold alone prunes
    val q5 = spark.sql("SELECT id FROM mt ORDER BY id DESC NULLS FIRST LIMIT 5")
    assert(scannedFiles(q5).length === 1)
    assert(q5.collect().map(_.getLong(0)).toSeq === (495L to 499L).reverse)
    val q5b = spark.sql("SELECT id FROM mt ORDER BY id ASC NULLS LAST LIMIT 5")
    assert(scannedFiles(q5b).length === 1)
    assert(q5b.collect().map(_.getLong(0)).toSeq === (0L to 4L))
    // an UNCLASSIFIABLE filter conjunct (non-key column, <> shape)
    // declines whole — a partial file could hide inside a "guaranteed"
    // count
    val q6 = spark.sql(
      "SELECT id FROM mt WHERE v <> 'v4' ORDER BY id DESC LIMIT 5")
    assert(scannedFiles(q6).length === 5, "filtered counts can't guarantee")
    assert(q6.collect().map(_.getLong(0)).toSeq === (395L to 399L).reverse)
    // n past the table keeps every file (the guarantees never reach n)
    val q7 = spark.sql("SELECT id FROM mt ORDER BY id DESC LIMIT 1000")
    assert(scannedFiles(q7).length === 5)
    assert(q7.count() === 500L)
    // excluding the rule keeps every file
    withoutRules(TopKRule) {
      val qOff = spark.sql("SELECT id FROM mt ORDER BY id DESC LIMIT 10")
      assert(scannedFiles(qOff).length === 5)
    }
  }

  test("top-k pruning accounts NULL keys under the default null placements") {
    import spark.implicits._
    val dir = s"$base/topknull"
    // f0: one null + one value; f1: all null; f2: two high values
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, String)]((null, "c"), (null, "d")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, String)]((10L, "e"), (11L, "f")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val tmp = s"$base/topknullmanifest"
    Manifest.update(spark, dir, "t", Seq("id"), tmp)
    ManifestSql.register(spark, dir, "t", tmp, "tkn")
    // ASC NULLS FIRST with a null region >= n: only null-bearing files scan
    val qAsc = spark.sql("SELECT v FROM tkn ORDER BY id ASC, v LIMIT 3")
    assert(scannedFiles(qAsc).length === 2, "the all-value file cannot lead ASC")
    assert(qAsc.collect().map(_.getString(0)).toSeq === Seq("b", "c", "d"))
    // DESC NULLS LAST: the all-null file is skippable once n rows are
    // guaranteed above the threshold; f0's value 1 < T=10 skips too
    val qDesc = spark.sql("SELECT v FROM tkn ORDER BY id DESC, v LIMIT 2")
    assert(scannedFiles(qDesc).length === 1, "only the high-value file may scan")
    assert(qDesc.collect().map(_.getString(0)).toSeq === Seq("f", "e"))
    // DESC NULLS FIRST (round-16 item 4): the 3 known nulls cover n=3 —
    // only possible null-holders survive, the all-value file skips
    val qDescNf = spark.sql(
      "SELECT v FROM tkn ORDER BY id DESC NULLS FIRST, v LIMIT 3")
    assert(scannedFiles(qDescNf).length === 2, "the all-value file cannot lead")
    assert(qDescNf.collect().map(_.getString(0)).toSeq === Seq("b", "c", "d"))
    // ASC NULLS LAST: values lead — the all-null file skips, both
    // value-bearing files stay (T=11 needs f2's second row)
    val qAscNl = spark.sql(
      "SELECT v FROM tkn ORDER BY id ASC NULLS LAST, v LIMIT 2")
    assert(scannedFiles(qAscNl).length === 2, "the all-null file must skip")
    assert(qAscNl.collect().map(_.getString(0)).toSeq === Seq("a", "e"))
    // NULLS FIRST with the region short of n: nulls + threshold compose —
    // n=4 needs the 3 nulls plus the best value (11), so every file that
    // may hold a null OR a value >= 11 stays; f0 (max 1, has a null) stays
    // for its null, and nothing skips here except nothing — all 3 files
    // hold either a null or the top value; n=5 over 6 rows keeps all too,
    // so pin the complement: DESC NULLS FIRST LIMIT 4 scans f0,f1,f2 minus
    // none — use the value side instead: the region (3) + f2's two values
    // cover n=5, and f0's value 1 < T=10 with ONE null still keeps f0
    val qDescNf5 = spark.sql(
      "SELECT v FROM tkn ORDER BY id DESC NULLS FIRST, v LIMIT 5")
    assert(scannedFiles(qDescNf5).length === 3,
      "f0 may hold a null — it must stay")
    assert(qDescNf5.collect().map(_.getString(0)).toSeq ===
      Seq("b", "c", "d", "f", "e"))
  }

  test("AVG answers from SUM/COUNT stats: pure, hybrid, decimal, cast shapes (round-16 item 3)") {
    import spark.implicits._
    val dir = s"$base/avgstats"
    // two files of decimal(9,2) values plus an all-null file; longs ride
    // the same manifest via a second key
    Seq(("1.25", 1L), ("2.50", 2L), ("3.75", 3L)).toDF("ds", "id")
      .select(col("ds").cast("decimal(9,2)").as("d"), col("id"))
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq(("10.10", 10L), ("20.20", 11L)).toDF("ds", "id")
      .select(col("ds").cast("decimal(9,2)").as("d"), col("id"))
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq((null: String, 20L), (null: String, 21L)).toDF("ds", "id")
      .select(col("ds").cast("decimal(9,2)").as("d"), col("id"))
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val amp = s"$base/avgstats_manifest"
    Manifest.update(spark, dir, "t", Seq("d", "id"), amp)
    ManifestSql.register(spark, dir, "t", amp, "avt")
    def offOn(sql: String): (org.apache.spark.sql.Row, org.apache.spark.sql.Row, Int) = {
      val off = withoutRules(AggRule)(spark.sql(sql).head)
      val q = spark.sql(sql)
      val files = scannedFiles(q).length
      (off, q.head, files)
    }
    // decimal AVG: Average's own buffer algebra replayed over exact sums —
    // rule-on must equal the scan EXACTLY (decimal arithmetic is exact)
    val (dOff, dOn, dFiles) = offOn(
      "SELECT avg(d) AS a, count(*) AS n FROM avt")
    assert(dFiles === 0, "decimal AVG must answer with zero data files")
    assert(dOn.toSeq === dOff.toSeq)
    assert(dOn.getDecimal(0) === new java.math.BigDecimal("7.560000"))
    // long AVG (double result): sums stay within 2^53, so the exact-total
    // division equals the scan's double bit-for-bit
    val (lOff, lOn, lFiles) = offOn("SELECT avg(id) AS a FROM avt")
    assert(lFiles === 0)
    assert(lOn.toSeq === lOff.toSeq)
    // hybrid AVG: a bound straddling the second file scans ONLY it, the
    // covered file answers from stats, and the divide combines the legs
    val (hOff, hOn, hFiles) = offOn(
      "SELECT avg(id) AS a, avg(d) AS ad FROM avt WHERE id <= 10")
    assert(hFiles === 1, "only the straddled file may scan")
    assert(hOn.toSeq === hOff.toSeq)
    // AVG over an all-null slice is NULL, not an error
    val (nOff, nOn, _) = offOn("SELECT avg(d) AS a FROM avt WHERE id >= 20")
    assert(nOn.isNullAt(0) && nOff.isNullAt(0))
    // the validator layer-4 shape: SUM over a lossless decimal widening
    // answers from the native sums (validator.py:326-405)
    val (sOff, sOn, sFiles) = offOn(
      "SELECT sum(CAST(id AS DECIMAL(38,6))) AS s, " +
        "sum(CAST(d AS DECIMAL(38,6))) AS sd FROM avt")
    assert(sFiles === 0, "lossless-cast SUM must answer from stats")
    assert(sOn.toSeq === sOff.toSeq)
    assert(sOn.getDecimal(0) === new java.math.BigDecimal("68.000000"))
    // AVG over a lossless cast rides the same machinery
    val (cOff, cOn, cFiles) = offOn(
      "SELECT avg(CAST(d AS DECIMAL(20,4))) AS a FROM avt")
    assert(cFiles === 0)
    assert(cOn.toSeq === cOff.toSeq)
    // a lossy cast declines: DECIMAL(5,2) cannot hold every bigint
    val (xOff, xOn, xFiles) = offOn(
      "SELECT sum(CAST(id AS DECIMAL(5,2))) AS s FROM avt")
    assert(xFiles > 0, "a lossy cast must decline to the scan")
    assert(xOn.toSeq === xOff.toSeq)
    // DISTINCT avg stays undecomposed and declines
    val (yOff, yOn, yFiles) = offOn("SELECT avg(DISTINCT id) AS a FROM avt")
    assert(yFiles > 0)
    assert(yOn.toSeq === yOff.toSeq)
  }

  test("the distributed-answer memo evicts by held path weight (round-16 advice)") {
    ManifestStats.memoClear()
    try {
      def big(tag: Int) = StatsSummary(
        partialFiles = Vector.tabulate(80000)(i => (s"p$tag-$i", None)))
      ManifestStats.memoized(("w", 1))(big(1))
      ManifestStats.memoized(("w", 2))(big(2))
      ManifestStats.memoized(("w", 3))(big(3))
      // 3 × 80k paths would hold 240k tuples — the weight bound evicts
      // the eldest even though the entry COUNT (3) is far below 64
      assert(ManifestStats.memoSize === 2)
      assert(ManifestStats.memoHeldWeight <= ManifestStats.MemoMaxWeight)
      var recomputed = false
      ManifestStats.memoized(("w", 1)) { recomputed = true; big(1) }
      assert(recomputed, "the eldest oversized entry must have been evicted")
      // the newest entry always survives its own insertion
      var recomputed1 = false
      ManifestStats.memoized(("w", 1)) { recomputed1 = true; big(1) }
      assert(!recomputed1)
      // the entry-count bound still applies to small entries
      ManifestStats.memoClear()
      (0 until 80).foreach(i => ManifestStats.memoized(("s", i))(i))
      assert(ManifestStats.memoSize <= ManifestStats.MemoMaxEntries)
    } finally ManifestStats.memoClear()
  }

  test("SUM metadata answers decline without recorded sums, handle all-null files") {
    import spark.implicits._
    val dir = s"$base/sumdecline"
    Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, String)]((null, "c"), (null, "d")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    // sums-less catalog (a sum-scan cap of 0): SUM must decline to the
    // scan, COUNT/MIN/MAX still answer joblessly
    val mpOff = s"$base/sumdecline_manifest"
    withConf(Manifest.SumScanMaxFilesConf, "0")(
      Manifest.update(spark, dir, "t", Seq("id"), mpOff))
    ManifestSql.register(spark, dir, "t", mpOff, "sdt")
    val qs = spark.sql("SELECT sum(id) AS s FROM sdt")
    assert(scannedFiles(qs).nonEmpty, "NULL sums over real rows must decline")
    assert(qs.head.getLong(0) === 3L)
    val qc = spark.sql("SELECT count(id) AS n, max(id) AS hi FROM sdt")
    assert(scannedFiles(qc).isEmpty)
    assert(qc.head.toSeq === Seq(2L, 2L))
    // sums-bearing catalog: the all-null file's NULL sum is genuine (it
    // contributes nothing), and a sum over ONLY all-null files is NULL
    val mpOn = s"$base/sumdecline_manifest_on"
    Manifest.update(spark, dir, "t", Seq("id"), mpOn)
    ManifestSql.register(spark, dir, "t", mpOn, "sdt2")
    val q2 = spark.sql("SELECT sum(id) AS s FROM sdt2")
    assert(scannedFiles(q2).isEmpty)
    assert(q2.head.getLong(0) === 3L)
    val qNullOnly = spark.sql("SELECT sum(id) AS s FROM sdt2 WHERE id IS NULL")
    assert(qNullOnly.head.isNullAt(0), "SUM over no non-null values is NULL")
  }

  test("GROUP BY a single-valued-per-file key answers from stats (round-15 item 4)") {
    import spark.implicits._
    // date-laid-out shape: one file per day value, plus one MIXED file
    // holding two days and one file with NULL days — per-group answers
    // come from stats for aligned files, the mixed file aggregates in a
    // scan leg, and the NULL group rides like any other
    val dir = s"$base/grpdata"
    Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("day", "x").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    Seq((10L, 4L), (10L, 5L)).toDF("day", "x").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    Seq((20L, 6L), (20L, 7L)).toDF("day", "x").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    Seq((30L, 8L), (40L, 9L)).toDF("day", "x").coalesce(1) // mixed: scans
      .write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, java.lang.Long)]((null, 10L), (null, 11L))
      .toDF("day", "x").coalesce(1) // the NULL group, single-valued
      .write.mode("append").parquet(s"$dir/t.parquet")
    val gmp = s"$base/grpmanifest"
    Manifest.update(spark, dir, "t", Seq("day", "x"), gmp)
    ManifestSql.register(spark, dir, "t", gmp, "grp")
    val sql =
      """SELECT day, count(*) AS n, count(day) AS nd, sum(x) AS sx,
        |  min(x) AS lo, max(x) AS hi
        |FROM grp GROUP BY day ORDER BY day""".stripMargin
    val q = spark.sql(sql)
    assert(scannedFiles(q).length === 1,
      "only the mixed-day file may scan; aligned files answer from stats")
    val got = q.collect().map(_.toSeq)
    assert(got.toSeq === Seq(
      Seq(null, 2L, 0L, 21L, 10L, 11L), // the NULL group (stats-answered), NULLS FIRST
      Seq(10L, 5L, 5L, 15L, 1L, 5L),    // two aligned files merge into one group
      Seq(20L, 2L, 2L, 13L, 6L, 7L),
      Seq(30L, 1L, 1L, 8L, 8L, 8L),     // from the scan leg
      Seq(40L, 1L, 1L, 9L, 9L, 9L)      // from the scan leg
    ), got.mkString("; "))
    // fully-aligned slice: a filter excluding the mixed file scans NOTHING
    val qAligned = spark.sql(
      "SELECT day, count(*) AS n FROM grp WHERE day <= 20 GROUP BY day ORDER BY day")
    assert(scannedFiles(qAligned).isEmpty, "aligned group-by must be zero-scan")
    assert(qAligned.collect().map(_.toSeq).toSeq ===
      Seq(Seq(10L, 5L), Seq(20L, 2L)))
    // expressions of the group key ride along (pure and hybrid paths)
    val qExpr = spark.sql(
      "SELECT CAST(day AS STRING) AS d, count(*) AS n FROM grp WHERE day <= 20 GROUP BY day ORDER BY d")
    assert(scannedFiles(qExpr).isEmpty)
    assert(qExpr.collect().map(_.toSeq).toSeq ===
      Seq(Seq("10", 5L), Seq("20", 2L)))
    // a non-key grouping column declines to the ordinary scan
    val qNonKey = spark.sql(
      "SELECT x, count(*) AS n FROM grp GROUP BY x HAVING x = 1 ORDER BY x")
    assert(qNonKey.collect().map(_.toSeq).toSeq === Seq(Seq(1L, 1L)))
    // excluding the rule declines the grouped rewrite too
    withoutRules(AggRule) {
      val qOff = spark.sql(sql)
      assert(scannedFiles(qOff).length === 5)
      assert(qOff.collect().map(_.toSeq).toSeq === got.toSeq)
    }
    // past the snapshot cap the grouped path folds DISTRIBUTED with the
    // group map capped — same answers, still mixed-file-only scan
    spark.conf.set(ManifestSnapshot.MaxBytesConf, "1")
    try {
      val qDist = spark.sql(sql)
      assert(scannedFiles(qDist).length === 1,
        "distributed grouped path must still scan only the mixed file")
      assert(qDist.collect().map(_.toSeq).toSeq === got.toSeq)
      // a group-map cap of 0 declines rather than growing the driver map
      spark.conf.set(ManifestStats.MaxDriverPathsConf, "0")
      try {
        val qCap = spark.sql(sql)
        assert(scannedFiles(qCap).length === 5, "past the cap: decline whole")
        assert(qCap.collect().map(_.toSeq).toSeq === got.toSeq)
      } finally spark.conf.unset(ManifestStats.MaxDriverPathsConf)
    } finally spark.conf.unset(ManifestSnapshot.MaxBytesConf)
  }

  test("count of a NULL literal is 0, never the row count (round-15 advice)") {
    // `count(NULL)` — or any count whose argument constant-folds to null —
    // used to match the Count(Literal) shape and be rewritten to the
    // total row count, in both the pure stats path and the hybrid leg
    val q = spark.sql("SELECT count(NULL) AS n FROM mt")
    assert(q.head.get(0) === 0L)
    val qFold = spark.sql("SELECT count(CASE WHEN 1 = 0 THEN id END) AS n FROM mt")
    assert(qFold.head.get(0) === 0L)
    // hybrid shape: a straddling predicate with a null-literal count
    val qHyb = spark.sql("SELECT count(NULL) AS n FROM mt WHERE id >= 150")
    assert(qHyb.head.get(0) === 0L)
    // the non-null literal forms still answer joblessly
    val q1 = spark.sql("SELECT count(1) AS n FROM mt")
    assert(scannedFiles(q1).isEmpty && q1.head.getLong(0) === 500L)
  }

  test("WHERE plus ORDER BY LIMIT composes: coverage classes drive the sweep (round-15 item 5)") {
    // the dashboard shape — WHERE key >= X ORDER BY key DESC LIMIT n.
    // Files the filter EXCLUDES drop; FULLY-COVERED files keep their
    // row-count guarantees (every row passes); a PARTIAL boundary file
    // stays scanned but guarantees nothing. On the mt fixture
    // (f0..f4 = id ranges [0,99]..[400,499]):
    //  - id >= 150 excludes f0, straddles f1, covers f2..f4
    //  - DESC LIMIT 10 is guaranteed inside f4 alone → 1 file scanned
    val q = spark.sql(
      "SELECT id FROM mt WHERE id >= 150 ORDER BY id DESC LIMIT 10")
    assert(scannedFiles(q).length === 1, "top 10 of the filtered set live in f4")
    assert(q.collect().map(_.getLong(0)).toSeq === (490L to 499L).reverse)
    // LIMIT spanning two files keeps exactly those two
    val q2 = spark.sql(
      "SELECT id FROM mt WHERE id >= 150 ORDER BY id DESC LIMIT 150")
    assert(scannedFiles(q2).length === 2)
    assert(q2.count() === 150L)
    // ascending: the excluded f0 drops, the PARTIAL f1 must still scan
    // (its surviving rows 150..199 lead the filtered ascending order) —
    // it contributes no guarantee, so f2 is kept to cover n
    val q3 = spark.sql(
      "SELECT id FROM mt WHERE id >= 150 ORDER BY id ASC LIMIT 5")
    val f3 = scannedFiles(q3)
    assert(f3.length === 2, s"partial f1 + first covered f2: $f3")
    assert(q3.collect().map(_.getLong(0)).toSeq === (150L to 154L))
    // an upper bound composes the same way: f3/f4 EXCLUDE outright, the
    // straddled f2 scans (it holds the filtered top), and f1 — whose
    // guarantee bound is its MIN, setting T=100 — stays conservatively
    val q4 = spark.sql(
      "SELECT id FROM mt WHERE id <= 250 ORDER BY id DESC LIMIT 5")
    val f4 = scannedFiles(q4)
    assert(f4.length === 2, s"straddled f2 + threshold-kept f1: $f4")
    assert(q4.collect().map(_.getLong(0)).toSeq === (246L to 250L).reverse)
    // correctness across the board vs the raw recompute
    val raw = spark.read.parquet(s"$dataDir/t.parquet")
      .filter(col("id") >= 150).orderBy(col("id").desc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(q.collect().map(_.getLong(0)).toSeq === raw)
  }

  test("top-k pruning declines on a stale catalog instead of dropping late files") {
    import spark.implicits._
    // round-15 advice: once skipping engaged, a data file that landed
    // after the last Manifest.update was silently dropped from
    // ORDER BY ... LIMIT results — 'latest N events' dashboards target
    // exactly the freshly-written tables where that loss bites
    val dir = s"$base/topkstale"
    (0L until 100L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    (100L until 200L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    val tmp = s"$base/topkstalemanifest"
    Manifest.update(spark, dir, "t", Seq("id"), tmp)
    ManifestSql.register(spark, dir, "t", tmp, "tks")
    // maintained catalog: skipping engages
    val q = spark.sql("SELECT id FROM tks ORDER BY id DESC LIMIT 5")
    assert(scannedFiles(q).length === 1)
    assert(q.collect().map(_.getLong(0)).toSeq === (195L to 199L).reverse)
    // a file lands OUT OF BAND (no manifest update): the completeness
    // gate must decline — the latest rows live only in the new file
    (200L until 210L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    ManifestSql.register(spark, dir, "t", tmp, "tks") // fresh relation listing
    val qStale = spark.sql("SELECT id FROM tks ORDER BY id DESC LIMIT 5")
    assert(scannedFiles(qStale).length === 3, "stale catalog must keep every file")
    assert(qStale.collect().map(_.getLong(0)).toSeq === (205L to 209L).reverse,
      "the out-of-band file's rows must appear in the top-k")
    // catching the catalog back up re-engages skipping
    Manifest.update(spark, dir, "t", Seq("id"), tmp)
    ManifestSql.register(spark, dir, "t", tmp, "tks")
    val qFresh = spark.sql("SELECT id FROM tks ORDER BY id DESC LIMIT 5")
    assert(scannedFiles(qFresh).length === 1)
    assert(qFresh.collect().map(_.getLong(0)).toSeq === (205L to 209L).reverse)
  }

  test("stats rules run distributed past the snapshot cap: same answers, memoized jobs") {
    // round-15 verdict item 1: past snapshotMaxBytes the old path
    // collected one FStat per data file onto the driver per planned
    // query. Now classification and folding run as memoized distributed
    // jobs; the driver holds one summary plus a capped partial list.
    def answers(): Seq[Seq[Any]] = Seq(
      spark.sql("SELECT count(*) AS n, count(id) AS ni, min(id) AS lo, " +
        "max(id) AS hi, sum(id) AS s FROM mt").head.toSeq,
      spark.sql("SELECT count(*) AS n, sum(id) AS s FROM mt WHERE id >= 150")
        .head.toSeq,
      spark.sql("SELECT id FROM mt ORDER BY id DESC LIMIT 10")
        .collect().map(_.getLong(0)).toSeq,
      spark.sql("SELECT id FROM mt WHERE id >= 150 ORDER BY id DESC LIMIT 10")
        .collect().map(_.getLong(0)).toSeq)
    val small = answers() // snapshot (driver) path
    spark.conf.set(ManifestSnapshot.MaxBytesConf, "1")
    try {
      // small/large differential: the distributed fold must be
      // value-identical to the driver path on every shape
      assert(answers() === small)
      // the pure metadata aggregate still ends jobless once memoized:
      // planning hits the memo, execution collects a LocalRelation
      spark.sql("SELECT count(*) AS n, sum(id) AS s FROM mt").collect()
      val jobs = jobsIn("dist_agg_repeat") {
        assert(spark.sql("SELECT count(*) AS n, sum(id) AS s FROM mt")
          .head.toSeq === Seq(500L, (0L until 500L).sum))
      }
      assert(jobs === 0,
        s"repeated distributed metadata aggregate must hit the memo, got $jobs jobs")
      // hybrid still scans ONLY the boundary file
      val qPart = spark.sql("SELECT count(*) AS n FROM mt WHERE id >= 150")
      assert(scannedFiles(qPart).length === 1)
      // top-k still prunes to the one possible holder
      val qTop = spark.sql("SELECT id FROM mt ORDER BY id DESC LIMIT 10")
      assert(scannedFiles(qTop).length === 1)
      // the driver-list cap is a hard bound: under it the rewrite
      // declines rather than materializing an unbounded path list
      spark.conf.set(ManifestStats.MaxDriverPathsConf, "0")
      try {
        val qCap = spark.sql("SELECT id FROM mt ORDER BY id DESC LIMIT 10")
        assert(scannedFiles(qCap).length === 5, "past the cap: decline, never grow")
        assert(qCap.collect().map(_.getLong(0)).toSeq === (490L to 499L).reverse)
      } finally spark.conf.unset(ManifestStats.MaxDriverPathsConf)
      // a NON-key grouping column declines in both paths but stays correct
      val qG = spark.sql(
        "SELECT v, count(*) AS n FROM mt GROUP BY v ORDER BY v LIMIT 2")
      assert(qG.collect().map(_.toSeq).toSeq ===
        Seq(Seq("v0", 100L), Seq("v1", 100L)))
    } finally spark.conf.unset(ManifestSnapshot.MaxBytesConf)
  }

  test("the driver-list cap binds only past the snapshot: snapshot answers ignore it") {
    // statsMaxDriverPaths bounds the lists the DISTRIBUTED executor may
    // bring back; a snapshot-sized catalog already lives on the driver,
    // so a cap of 0 must not make the hybrid or top-k rewrites decline
    spark.conf.set(ManifestStats.MaxDriverPathsConf, "0")
    try {
      val qPart = spark.sql("SELECT count(*) AS n FROM mt WHERE id >= 150")
      assert(scannedFiles(qPart).length === 1, "hybrid scans only the boundary file")
      assert(qPart.head.getLong(0) === 350L)
      val qTop = spark.sql("SELECT id FROM mt ORDER BY id DESC LIMIT 10")
      assert(scannedFiles(qTop).length === 1, "top-k keeps only the one holder")
      assert(qTop.collect().map(_.getLong(0)).toSeq === (490L to 499L).reverse)
    } finally spark.conf.unset(ManifestStats.MaxDriverPathsConf)
  }

  test("distributed fold matches the driver path on null-rich and stats-less files") {
    import spark.implicits._
    // the fold's unknowable semantics must be value-identical to the
    // driver aggValue on the awkward inputs: a mixed null/value file, an
    // all-null file (genuine NULL sum, contributes nothing to MIN/MAX),
    // and a key column ABSENT from one file (NULL zone maps — COUNT and
    // MIN/MAX must decline, never guess)
    val dir = s"$base/foldnull"
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (7L, "c"))
      .toDF("id", "v").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, String)]((null, "d"), (null, "e")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    val fmp = s"$base/foldnull_manifest"
    Manifest.update(spark, dir, "t", Seq("id"), fmp)
    ManifestSql.register(spark, dir, "t", fmp, "fnl")
    val sql = "SELECT count(*) AS n, count(id) AS ni, min(id) AS lo, " +
      "max(id) AS hi, sum(id) AS s FROM fnl"
    val small = spark.sql(sql).head.toSeq
    assert(small === Seq(5L, 2L, 1L, 7L, 8L))
    spark.conf.set(ManifestSnapshot.MaxBytesConf, "1")
    try {
      val large = spark.sql(sql)
      assert(scannedFiles(large).isEmpty, "null-rich pure answer stays jobless-scan")
      assert(large.head.toSeq === small)
    } finally spark.conf.unset(ManifestSnapshot.MaxBytesConf)

    // evolution fixture: the key column absent from one file → NULL zone
    // maps → both paths must DECLINE to the scan with identical answers
    val edir = s"$base/foldevolve"
    Seq("x").toDF("v").coalesce(1)
      .write.mode("append").parquet(s"$edir/t.parquet")
    Seq((5L, "y")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$edir/t.parquet")
    val emp = s"$base/foldevolve_manifest"
    Manifest.updateDir(spark, s"$edir/t.parquet", "t", Seq("id"), emp)
    // evolved tables need merged inference or the view may resolve from
    // the keyless file's footer alone
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try ManifestSql.register(spark, edir, "t", emp, "fev")
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    val esql = "SELECT count(id) AS ni, max(id) AS hi FROM fev"
    val eSmall = spark.sql(esql)
    assert(scannedFiles(eSmall).nonEmpty, "unknown stats must decline")
    assert(eSmall.head.toSeq === Seq(1L, 5L))
    spark.conf.set(ManifestSnapshot.MaxBytesConf, "1")
    try {
      val eLarge = spark.sql(esql)
      assert(scannedFiles(eLarge).nonEmpty, "distributed path must decline too")
      assert(eLarge.head.toSeq === Seq(1L, 5L))
    } finally spark.conf.unset(ManifestSnapshot.MaxBytesConf)
  }

  test("distributed stats memo declines when a commit races the planning jobs") {
    import spark.implicits._
    // the sandwich: a result computed while the catalog moved must be
    // neither served nor cached — otherwise a pre-commit answer lands
    // under the post-commit signature and persists until the NEXT commit
    val dir = s"$base/memorace"
    (0L until 10L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    val rmp = s"$base/memorace_manifest"
    Manifest.update(spark, dir, "t", Seq("id"), rmp)
    val (_, sig, _) = ManifestSnapshot.signature(spark, rmp)
    val raced = ManifestStats.memoizedStable(spark, rmp, sig, ("race", sig)) {
      // a maintenance commit lands mid-computation (new part names)
      (10L until 20L).toDF("id").coalesce(1)
        .write.mode("append").parquet(s"$dir/t.parquet")
      Manifest.update(spark, dir, "t", Seq("id"), rmp)
      42
    }
    assert(raced.isEmpty, "a raced computation must decline, not cache")
    // the stale key was never populated; the fresh signature computes anew
    val (_, sig2, _) = ManifestSnapshot.signature(spark, rmp)
    assert(sig2 !== sig)
    assert(ManifestStats.memoizedStable(spark, rmp, sig2,
      ("race", sig2)) { 43 } === Some(43))
    // and the memo serves the cached value on the stable key
    assert(ManifestStats.memoizedStable(spark, rmp, sig2,
      ("race", sig2)) { 44 } === Some(43))

    // end-to-end: a maintained catalog's distributed answers track commits
    val vmp = s"$base/memorace_m2"
    val vdir = s"$base/memorace_d2"
    (0L until 5L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$vdir/t.parquet")
    Manifest.updateDir(spark, s"$vdir/t.parquet", "t", Seq("id"), vmp)
    spark.conf.set(ManifestSnapshot.MaxBytesConf, "1")
    try {
      ManifestSql.register(spark, vdir, "t", vmp, "mrc")
      assert(spark.sql("SELECT count(*) AS n, sum(id) AS s FROM mrc")
        .head.toSeq === Seq(5L, 10L))
      (5L until 8L).toDF("id").coalesce(1)
        .write.mode("append").parquet(s"$vdir/t.parquet")
      Manifest.updateDir(spark, s"$vdir/t.parquet", "t", Seq("id"), vmp)
      ManifestSql.register(spark, vdir, "t", vmp, "mrc") // fresh listing
      assert(spark.sql("SELECT count(*) AS n, sum(id) AS s FROM mrc")
        .head.toSeq === Seq(8L, 28L),
        "the post-commit signature must never serve the pre-commit answer")
    } finally spark.conf.unset(ManifestSnapshot.MaxBytesConf)
  }

  test("q198-q205 stay green over a manifest larger than snapshotMaxBytes") {
    // the round-15 verdict's done-criterion verbatim: the roster's
    // metadata-rule queries must answer identically when every manifest
    // exceeds the snapshot cap and the rules run their distributed path
    // (round 17 adds the AVG hybrid and the NULLS-placement top-k)
    val names = Seq("q198_manifest_meta_agg", "q199_manifest_topk_read",
      "q200_manifest_hybrid_agg", "q201_manifest_sum_fingerprint",
      "q202_manifest_groupby_agg", "q203_manifest_filter_topk",
      "q204_manifest_avg_agg", "q205_manifest_nulls_topk")
    def run(): Map[String, Seq[Seq[Any]]] = names.map { n =>
      n -> graft.queries.CoreQueries.defs(n)(spark, sfDir)
        .collect().map(_.toSeq).toSeq
    }.toMap
    val small = run()
    spark.conf.set(ManifestSnapshot.MaxBytesConf, "1")
    try {
      val large = run()
      names.foreach { n =>
        assert(large(n) === small(n), s"$n diverged past the snapshot cap")
        assert(large(n).nonEmpty)
      }
    } finally spark.conf.unset(ManifestSnapshot.MaxBytesConf)
  }

  test("doubles compare in SQL order: a -0.0 file answers x = 0.0, NaN sorts last") {
    // parquet pushdown OFF: with it on, parquet's dictionary filter drops the
    // -0.0 row group under `x = 0.0`, so the plain scan itself reads 0 rows
    // where Spark's SQL order (-0.0 = 0.0) says 2
    import spark.implicits._
    val dir = s"$base/negzero"
    Seq(Seq(-0.0, -0.0), Seq(1.0, 2.0), Seq(Double.NaN)).foreach(vs =>
      vs.toDF("x").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet"))
    val zmp = s"$base/negzero_manifest"
    Manifest.write(Manifest.build(spark, dir, "t", Seq("x")), zmp)
    ManifestSql.register(spark, dir, "t", zmp, "negz")
    withConf("spark.sql.parquet.filterPushdown", "false") {
      Seq("x = 0.0" -> 2L, "x >= 0.0" -> 5L, "x <= 0.0" -> 2L, "x > 2.0" -> 1L,
        "x = double('NaN')" -> 1L).foreach { case (p, n) =>
        val sql = s"SELECT count(*) AS n FROM negz WHERE $p"
        val scan = withoutRules(AggRule)(spark.sql(sql).head.getLong(0))
        assert(scan === n, s"the scan itself: $p")
        assert(spark.sql(sql).head.getLong(0) === scan, s"the metadata answer: $p")
      }
    }
  }

  test("a vanished manifest degrades to the unpruned scan, never an error") {
    ManifestSql.register(spark, dataDir, "t", s"$base/never_written", "mt_gone")
    val q = spark.sql("SELECT count(*) AS n FROM mt_gone WHERE id >= 150 AND id <= 340")
    assert(scannedFiles(q).length === 5, "all files scanned when the catalog is missing")
    assert(q.head.getLong(0) === 191L)
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    super.afterAll()
  }
}
