package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Manifest-backed catalog for corpora beyond driver-listing scale
  * (round-10 directive; round-12: typed multi-column zone maps + footer
  * incremental maintenance). 10^4 manifest entries flow through the
  * DISTRIBUTED pruning path — a parquet scan with pushed filters, pinned
  * here — and only the surviving handful of real files is ever opened.
  * The synthetic 9,990 entries point at paths that DO NOT EXIST, so any
  * listing/read outside the pruned set fails the suite by construction. */
class ManifestSpec extends SparkSpec {

  private val base = Files.createTempDirectory("graft_manifest").toString

  private def parquetFiles(dir: String): Seq[String] =
    spark.read.parquet(dir).inputFiles.toSeq

  test("10^4-entry manifest prunes distributively; only surviving files are read") {
    import spark.implicits._

    // 10 REAL data files: key ranges [d*100, d*100+98], 50 rows each
    val dataDir = s"$base/data"
    (0 until 10).foreach { d =>
      (0 until 50).map(i => (d * 100 + i * 2, s"v${d}_$i"))
        .toDF("k", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dataDir/shard$d")
    }
    // real entries come from FOOTERS — stats read without opening a data
    // page, and typed: k is an INT zone map, not a string
    val realEntries = Manifest.fromFooters(spark,
      (0 until 10).flatMap(d => parquetFiles(s"$dataDir/shard$d")),
      "docs", Seq("k"))
    assert(realEntries.schema("mins").dataType.simpleString === "struct<k:int>")
    // 9,990 SYNTHETIC entries: nonexistent paths, key ranges disjoint from
    // every real shard (offset by 10^6) — pruning must drop all of them
    val synthetic = (0 until 9990).map { i =>
      (s"/nonexistent/corpus/f$i.parquet", "docs", 1000L, 1L << 20,
        1000000 + i * 100, 1000000 + i * 100 + 99)
    }.toDF("path", "table", "rows", "bytes", "lo", "hi")
      .withColumn("mins", struct(col("lo").as("k")))
      .withColumn("maxs", struct(col("hi").as("k")))
      .withColumn("nulls", struct(lit(null).cast("long").as("k")))
      .withColumn("sums", struct(lit(null).cast("long").as("k")))
      .select((Manifest.columns :+ Manifest.SumsColumn).map(col): _*)
    val manifestPath = s"$base/manifest"
    Manifest.write(
      realEntries.unionByName(synthetic).repartition(8), manifestPath)

    // predicate: table + key-range overlap for keys [200, 399]
    // (shards 2 and 3) — file-level zone-map semantics, NUMERIC comparison
    val pred = col("table") === "docs" && Manifest.overlaps("k", 200, 399)

    // pruning is a DISTRIBUTED parquet scan with the predicate pushed —
    // the pin that says "this is a scan plan, not a driver loop"
    val pruned = Manifest.select(spark, manifestPath, pred)
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters"), plan.take(800))
    assert(plan.matches("(?s).*PushedFilters: \\[.*mins.*\\].*") ||
      plan.matches("(?s).*PushedFilters: \\[.*maxs.*\\].*"),
      "nested zone-map predicate did not reach the manifest scan:\n" +
        plan.take(1200))

    val survivors = pruned.select("path").as[String].collect()
    assert(survivors.length === 2)
    assert(survivors.forall(p => p.contains("shard2") || p.contains("shard3")))

    // stats-only count: answered from the manifest, zero data files opened
    assert(Manifest.rowCount(spark, manifestPath, pred) === 100L)

    // the data read opens ONLY the pruned files (nonexistent synthetic
    // paths would throw) and re-applies the row-level key filter
    val got = Manifest.read(spark, manifestPath, pred,
      keyFilter = Some(col("k").between(200, 399)))
    assert(got.count() === 100L)
    assert(got.agg(min("k"), max("k")).head.toSeq === Seq(200, 398))

    // zero-survivor predicates: stats answer 0, data read fails loudly
    // instead of listing a corpus
    val none = col("table") === "docs" && col("mins.k") >= 999999990
    assert(Manifest.rowCount(spark, manifestPath, none) === 0L)
    val e = intercept[IllegalArgumentException](
      Manifest.read(spark, manifestPath, none))
    assert(e.getMessage.contains("zero files"))
  }

  test("numeric keys prune numerically, not lexicographically (round-11 advice)") {
    import spark.implicits._
    // the advice's exact failure shape: a file with ids [100..200] has
    // max '200' < min-bound '90' AS STRINGS — the old string-cast zone map
    // silently dropped it and returned wrong counts
    val dir = s"$base/numkeys"
    Seq(5L, 7L, 9L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lo")
    (100L to 200L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/hi")
    val mp = s"$base/numkeys_manifest"
    Manifest.write(Manifest.fromFooters(spark,
      parquetFiles(s"$dir/lo") ++ parquetFiles(s"$dir/hi"),
      "t", Seq("id")), mp)
    val pred = col("table") === "t" && Manifest.overlaps("id", 90L, 10000000L)
    val survivors = Manifest.select(spark, mp, pred)
      .select("path").as[String].collect()
    assert(survivors.length === 1 && survivors.head.contains("/hi/"),
      s"numeric zone map must keep the [100..200] file: ${survivors.mkString(",")}")
    assert(Manifest.rowCount(spark, mp, pred) === 101L)
  }

  test("multi-column zone maps: the second column prunes files the first cannot") {
    import spark.implicits._
    // 4 files spanning the SAME d range (first column useless) but
    // disjoint c ranges (second column selective) — the Z-order shape
    val dir = s"$base/multikey"
    (0 until 4).foreach { f =>
      (0 until 50).map(i => (i.toLong, f * 100 + i * 2)).toDF("d", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/f$f")
    }
    val mp = s"$base/multikey_manifest"
    Manifest.write(Manifest.fromFooters(spark,
      (0 until 4).flatMap(f => parquetFiles(s"$dir/f$f")),
      "t", Seq("d", "c")), mp)
    // first column alone: every file overlaps [0, 49]
    assert(Manifest.select(spark, mp,
      col("table") === "t" && Manifest.overlaps("d", 0L, 49L)).count() === 4)
    // conjunction: c ∈ [150, 160] lives only in file f1
    val pred = col("table") === "t" &&
      Manifest.overlaps("d", 0L, 49L) && Manifest.overlaps("c", 150, 160)
    val survivors = Manifest.select(spark, mp, pred)
      .select("path").as[String].collect()
    assert(survivors.length === 1 && survivors.head.contains("/f1/"))
    val got = Manifest.read(spark, mp, pred,
      keyFilter = Some(col("c").between(150, 160)))
    assert(got.count() === 6) // 150,152,...,160
  }

  test("fromFooters matches the full-scan build exactly (rows, typed min/max, nulls)") {
    val scanned = Manifest.build(spark, sfDir, "orders", Seq("o_orderdate", "o_custkey"))
      .select("path", "rows", "mins", "maxs", "nulls")
    val footers = Manifest.fromFooters(spark,
      spark.read.parquet(s"$sfDir/orders.parquet").inputFiles.toSeq,
      "orders", Seq("o_orderdate", "o_custkey"))
      .select("path", "rows", "mins", "maxs", "nulls")
    assert(scanned.schema.simpleString === footers.schema.simpleString)
    assert(scanned.exceptAll(footers).isEmpty && footers.exceptAll(scanned).isEmpty,
      "footer stats must equal a full data scan's min/max/rows")
  }

  test("build() bootstraps a manifest from an existing fixture table") {
    val entries = Manifest.build(spark, sfDir, "orders", "o_orderdate")
    val rows = entries.collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("rows")).sum
    assert(total === spark.read.parquet(s"$sfDir/orders.parquet").count())
    // every entry carries a usable typed zone map
    assert(rows.forall { r =>
      val mins = r.getAs[org.apache.spark.sql.Row]("mins")
      val maxs = r.getAs[org.apache.spark.sql.Row]("maxs")
      !mins.isNullAt(0) && !maxs.isNullAt(0)
    })
    // round-trip: written manifest answers the full-table count from stats
    val mp = s"$base/orders_manifest"
    Manifest.write(entries, mp)
    assert(Manifest.rowCount(spark, mp, col("table") === "orders") === total)
  }

  test("update() appends novel files and drops stale rows without a data rescan") {
    import spark.implicits._
    val dataDir = s"$base/upd"
    val mp = s"$base/upd_manifest"
    // batch 1: bootstrap-by-update (manifest does not exist yet)
    (0L until 100L).toDF("id").repartition(2)
      .write.mode("overwrite").parquet(s"$dataDir/t.parquet")
    val (a1, r1) = Manifest.update(spark, dataDir, "t", Seq("id"), mp)
    assert(a1 === 2 && r1 === 0)
    assert(Manifest.rowCount(spark, mp, col("table") === "t") === 100L)
    // batch 2: append lands new part files; ONLY those are footer-scanned
    (100L until 150L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dataDir/t.parquet")
    val (a2, r2) = Manifest.update(spark, dataDir, "t", Seq("id"), mp)
    assert(a2 === 1 && r2 === 0)
    assert(Manifest.rowCount(spark, mp, col("table") === "t") === 150L)
    // idempotent: nothing new, nothing touched
    assert(Manifest.update(spark, dataDir, "t", Seq("id"), mp) === ((0L, 0L)))
    // overwrite rewrites the dir under fresh part names: stale rows drop
    (0L until 30L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dataDir/t.parquet")
    val (a3, r3) = Manifest.update(spark, dataDir, "t", Seq("id"), mp)
    assert(a3 === 1 && r3 === 3)
    assert(Manifest.rowCount(spark, mp, col("table") === "t") === 30L)
    // the zone maps stayed typed through every maintenance path
    assert(Manifest.rowCount(spark, mp,
      col("table") === "t" && Manifest.overlaps("id", 90L, 999L)) === 0L)
    // a divergent key set must fail loudly, not corrupt the manifest
    val bad = Manifest.fromFooters(spark,
      parquetFiles(s"$dataDir/t.parquet"), "t2", Seq.empty[String])
    val e = intercept[IllegalArgumentException](
      Manifest.append(spark, bad, mp))
    assert(e.getMessage.contains("key columns"))
  }

  test("update diff is distributed: listing parity, anti-join plan, no driver path arrays") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    // partitioned layout: nested part=… dirs + _SUCCESS markers — the
    // listing must walk subtrees and skip hidden entries, and its path
    // strings must render byte-identical to Spark's own file index
    // (file:///, not file:/ — a mismatch would re-add every file forever)
    val dir = s"$base/distdiff"
    (0L until 100L).map(i => (i, i % 4)).toDF("id", "part")
      .repartition(2).write.partitionBy("part")
      .mode("overwrite").parquet(s"$dir/t.parquet")
    val listing = Manifest.listFilesDF(spark, s"$dir/t.parquet")
    try {
      assert(listing.as[String].collect().sorted.toSeq ===
        spark.read.parquet(s"$dir/t.parquet").inputFiles.sorted.toSeq)

      // the novel-file set is an ANTI-JOIN over the distributed listing —
      // pinned so a future edit can't quietly reintroduce the collected
      // driver array (round-12 verdict item 5's ceiling)
      val mp = s"$base/distdiff_manifest"
      val novel = Manifest.novelFiles(spark, listing, "t", mp)
      val plan = novel.queryExecution.optimizedPlan
      assert(plan.collect { case j: Join if j.joinType == LeftAnti => j }.nonEmpty,
        s"novel-file diff must be an anti-join:\n$plan")
      assert(!plan.collectLeaves().exists(_.isInstanceOf[LocalRelation]),
        s"listing side must stay a distributed scan, not a localized array:\n$plan")

      // and the maintenance pass over this layout works end to end
      // (keys must be DATA columns; `part` lives in directory names)
      val (a1, r1) = Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), mp)
      assert(a1 === listing.count() && r1 === 0L)
      assert(Manifest.rowCount(spark, mp, col("table") === "t") === 100L)
      assert(Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), mp)
        === ((0L, 0L)))
    } finally listing.unpersist()
  }

  test("compact() defragments an append-grown manifest without changing its contents") {
    import spark.implicits._
    // ten incremental batches = ten tiny appended manifest files (the
    // streaming-ingest growth shape); compaction restores the sorted
    // range-partitioned layout in one pass
    val dir = s"$base/compactdata"
    val mp = s"$base/compact_manifest"
    (0 until 10).foreach { b =>
      (b * 100L until b * 100L + 100L).toDF("id").coalesce(1)
        .write.mode("append").parquet(s"$dir/t.parquet")
      Manifest.update(spark, dir, "t", Seq("id"), mp)
    }
    val before = spark.read.parquet(mp).orderBy("path").collect()
    val filesBefore = spark.read.parquet(mp).inputFiles.length
    assert(filesBefore >= 10, s"appends should fragment: $filesBefore files")
    val (rows, b0, b1) = Manifest.compact(spark, mp)
    assert(rows === 10L && b0 === filesBefore.toLong && b1 < b0)
    // entry-for-entry identical catalog, and stats still answer
    assert(spark.read.parquet(mp).orderBy("path").collect().toSeq === before.toSeq)
    assert(Manifest.rowCount(spark, mp,
      col("table") === "t" && Manifest.overlaps("id", 250L, 260L)) === 100L)
  }

  test("repeated CLI-path updates auto-compact past the file threshold (round-13 item 5)") {
    import spark.implicits._
    // streaming already compacted every N micro-batches, but repeated
    // `migrate`/`transfer --manifest-keys` runs appended one manifest file
    // per run FOREVER; update now compacts inline once the catalog
    // fragments past graft.manifest.autoCompactFiles
    val dir = s"$base/autocompactdata"
    val mp = s"$base/autocompact_manifest"
    val threshold = 4
    spark.conf.set(Manifest.AutoCompactFilesConf, threshold.toString)
    try {
      var compacted = false
      (0 until 10).foreach { b =>
        (b * 100L until b * 100L + 100L).toDF("id").coalesce(1)
          .write.mode("append").parquet(s"$dir/t.parquet")
        val (novel, stale) = Manifest.update(spark, dir, "t", Seq("id"), mp)
        assert(novel === 1L && stale === 0L)
        val files = spark.read.parquet(mp).inputFiles.length
        compacted ||= files < b + 1 // an append-per-update would hold b+1
        assert(files <= threshold,
          s"update $b left $files manifest files (> $threshold)")
        // readers stay green across every maintenance step
        assert(Manifest.rowCount(spark, mp,
          col("table") === "t" && Manifest.overlaps("id", 0L, b * 100L + 99L))
          === (b + 1) * 100L)
      }
      assert(compacted, "ten updates over threshold 4 must have compacted")
    } finally spark.conf.unset(Manifest.AutoCompactFilesConf)
  }

  test("reads ride out a concurrent rewrite's delete+rename window (round-12 item 7)") {
    import spark.implicits._
    val dir = s"$base/rwretry"
    val mp = s"$base/rwretry_manifest"
    (0L until 50L).toDF("id").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    Manifest.update(spark, dir, "t", Seq("id"), mp)

    // the hazard is real: a frame PLANNED against the pre-rewrite file
    // set scans vanished part files once update() swaps the directory …
    val preplanned = Manifest.select(spark, mp, col("table") === "t")
    assert(preplanned.count() === 2L)
    (0L until 30L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    Manifest.update(spark, dir, "t", Seq("id"), mp) // stale rows → rewrite
    intercept[Exception](preplanned.count())

    // … while the helper calls re-plan per attempt: fresh listing, right
    // answer, loud-failure behavior preserved for everything non-racy
    assert(Manifest.rowCount(spark, mp, col("table") === "t") === 30L)

    // deterministic retry mechanics: vanished-file failures retry with a
    // fresh plan; everything else surfaces immediately; exhaustion rethrows
    var calls = 0
    val got = Manifest.withReadRetry(attempts = 4, delayMs = 1) {
      calls += 1
      if (calls < 3) throw new java.io.FileNotFoundException("part-0 vanished")
      42
    }
    assert(got === 42 && calls === 3)
    var nonRetryable = 0
    intercept[IllegalStateException](Manifest.withReadRetry(delayMs = 1) {
      nonRetryable += 1; throw new IllegalStateException("boom")
    })
    assert(nonRetryable === 1, "non-racy failures must stay loud and immediate")
    intercept[java.io.FileNotFoundException](
      Manifest.withReadRetry(attempts = 2, delayMs = 1) {
        throw new java.io.FileNotFoundException("never comes back")
      })

    // bounded stress: rewrites racing stats reads never fail a reader
    val writer = new Thread(() => {
      (0 until 5).foreach { i =>
        (0L until (20L + i)).toDF("id").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/t.parquet")
        Manifest.update(spark, dir, "t", Seq("id"), mp)
      }
    })
    writer.start()
    try
      while (writer.isAlive)
        assert(Manifest.rowCount(spark, mp, col("table") === "t") >= 20L)
    finally writer.join()
  }

  test("Scala-helper predicates skip the same files the SQL rule does (round-12 item 8)") {
    import spark.implicits._
    // numeric fixture: 5 files with disjoint id ranges [f*100, f*100+99]
    val dir = s"$base/paritydata"
    (0 until 5).foreach { f =>
      (0 until 100).map(i => (f * 100L + i, s"v$f")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    }
    val mp = s"$base/paritymanifest"
    Manifest.update(spark, dir, "t", Seq("id"), mp)
    val t = col("table") === "t"
    // IN-list: sparse members skip the files between them (= the SQL
    // rule's `id IN (50, 51, 450)` case)
    assert(Manifest.select(spark, mp,
      t && Manifest.inList("id", Seq(50L, 51L, 450L))).count() === 2)
    // dense >64-member list falls back to the [min,max] envelope
    assert(Manifest.select(spark, mp,
      t && Manifest.inList("id", (0L to 70L))).count() === 1)
    // all-null / empty list matches nothing
    assert(Manifest.select(spark, mp,
      t && Manifest.inList("id", Seq(null))).count() === 0)
    // stats-only row counts compose with the builders
    assert(Manifest.rowCount(spark, mp,
      t && Manifest.inList("id", Seq(50L, 51L, 450L))) === 200L)

    // string fixture for LIKE-prefix parity
    val sdir = s"$base/parity_str"
    Seq("alpha", "ant").toDF("s").coalesce(1)
      .write.mode("append").parquet(s"$sdir/t.parquet")
    Seq("bat", "berry").toDF("s").coalesce(1)
      .write.mode("append").parquet(s"$sdir/t.parquet")
    val smp = s"$base/parity_str_manifest"
    Manifest.update(spark, sdir, "t", Seq("s"), smp)
    assert(Manifest.select(spark, smp,
      t && Manifest.likePrefix("s", "b")).count() === 1)

    // null-count fixture for IS [NOT] NULL parity
    val ndir = s"$base/parity_null"
    Seq[(java.lang.Long, String)]((1L, "a")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$ndir/t.parquet")
    Seq[(java.lang.Long, String)]((null, "b"), (2L, "c")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$ndir/t.parquet")
    Seq[(java.lang.Long, String)]((null, "d")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$ndir/t.parquet")
    val nmp = s"$base/parity_null_manifest"
    Manifest.update(spark, ndir, "t", Seq("id"), nmp)
    assert(Manifest.select(spark, nmp, t && Manifest.keyIsNull("id")).count() === 2)
    assert(Manifest.select(spark, nmp, t && Manifest.keyIsNotNull("id")).count() === 2)
  }

  test("rewrite reclaims only its own __rw/__old leftovers, never a prefix-sharing sibling") {
    import spark.implicits._
    // round-13 advice: the old `manifestPath + "__*"` glob matched ANY
    // sibling sharing the prefix — a manifest literally named `rm__x` was
    // recursively deleted whenever `rm` rewrote
    val dir = s"$base/reclaim"
    val mp = s"$base/rm"
    val sibling = s"$base/rm__x"
    (0L until 10L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/u.parquet")
    Manifest.updateDir(spark, s"$dir/u.parquet", "u", Seq("id"), sibling)
    (0L until 20L).toDF("id").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), mp)
    // leftovers of a DEAD prior rewrite: these MUST be reclaimed
    val fs = new org.apache.hadoop.fs.Path(mp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(mp + "__rw999999"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(mp + "__old424242"))
    // overwrite the data → stale manifest rows → rewrite path runs
    (0L until 5L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), mp)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mp + "__rw999999")),
      "dead rewrite tmp must be reclaimed")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mp + "__old424242")),
      "dead rewrite trash must be reclaimed")
    assert(Manifest.rowCount(spark, mp, col("table") === "t") === 5L)
    // the prefix-sharing sibling manifest survived, contents intact
    assert(Manifest.rowCount(spark, sibling, col("table") === "u") === 10L)
  }

  test("update's schema probe merges footers across divergent novel files (round-13 advice)") {
    import spark.implicits._
    // bootstrap over TWO novel files where the key column is ABSENT from
    // one (added-column evolution): a single-file probe that happened to
    // hit the keyless file would throw "key column not in data schema";
    // the sampled mergeSchema probe sees the union, and the keyless file
    // keeps NULL (unknown → conservative keep) zone maps
    val dir = s"$base/evolve"
    Seq("a").toDF("v").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    Seq((1L, "b"), (9L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    val mp = s"$base/evolve_manifest"
    Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), mp)
    assert(spark.read.parquet(mp).schema("mins").dataType.simpleString
      === "struct<id:bigint>")
    // selective range: the keyed file matches, the keyless file is kept
    // conservatively (NULL zone map), nothing errors
    assert(Manifest.rowCount(spark, mp, col("table") === "t" &&
      Manifest.overlaps("id", 0L, 100L)) === 3L)
    // disjoint range: only the unknown-range file survives
    assert(Manifest.select(spark, mp, col("table") === "t" &&
      Manifest.overlaps("id", 1000L, 2000L)).count() === 1L)
  }

  test("two writers racing disjoint tables into one manifest both commit (round-14 item 10)") {
    // the multi-writer ring: prepare runs unserialized; the commit
    // section claims the catalog via atomic marker-file create, and the
    // loser re-diffs against the winner's committed state. Without it,
    // interleaved appends collide on committer temp state or a rewrite
    // drops the other writer's fresh rows. Repeated 3x because the
    // interleaving is scheduler-dependent.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    (1 to 3).foreach { round =>
      val dirA = s"$base/racedata_a$round"
      val dirB = s"$base/racedata_b$round"
      (0 until 4).foreach { f =>
        (0 until 50).map(i => (f * 50L + i, s"a$f")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(s"$dirA/ta.parquet")
        (0 until 50).map(i => (f * 50L + i, s"b$f")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(s"$dirB/tb.parquet")
      }
      val rmp = s"$base/racemanifest$round"
      val fa = Future(Manifest.update(spark, dirA, "ta", Seq("id"), rmp))
      val fb = Future(Manifest.update(spark, dirB, "tb", Seq("id"), rmp))
      val (novelA, _) = Await.result(fa, 120.seconds)
      val (novelB, _) = Await.result(fb, 120.seconds)
      assert(novelA === 4L && novelB === 4L)
      val m = spark.read.parquet(rmp)
      assert(m.filter(col("table") === "ta").count() === 4L,
        s"round $round: writer A's entries must survive writer B's commit")
      assert(m.filter(col("table") === "tb").count() === 4L,
        s"round $round: writer B's entries must survive writer A's commit")
      // both committed mutations bumped the version stamp, and no claim
      // marker leaked
      assert(Manifest.version(spark, rmp) === 2L)
      val lock = new org.apache.hadoop.fs.Path(rmp + "__commitlock")
      assert(!lock.getFileSystem(spark.sessionState.newHadoopConf()).exists(lock))
    }
  }

  test("a crashed writer's stale commit claim is reclaimed by age") {
    import spark.implicits._
    val dir = s"$base/staleclaim"
    (0L until 10L).map((_, "x")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/t.parquet")
    val smp = s"$base/staleclaimmanifest"
    // plant a claim nobody owns, older than the timeout
    val lock = new org.apache.hadoop.fs.Path(smp + "__commitlock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(lock, false)
    out.write("dead\n".getBytes("UTF-8")); out.close()
    spark.conf.set(Manifest.CommitLockTimeoutConf, "400")
    try {
      Thread.sleep(600) // age the claim past the timeout
      val (novel, stale) = Manifest.update(spark, dir, "t", Seq("id"), smp)
      assert(novel === 1L && stale === 0L, "the aged claim must be reclaimed")
      assert(Manifest.version(spark, smp) === 1L)
    } finally spark.conf.unset(Manifest.CommitLockTimeoutConf)
    assert(!fs.exists(lock))
  }

  test("update-path sums match the build scan's sums exactly (round-15 item 3)") {
    import spark.implicits._
    // build() folds sums into its bootstrap data scan; update() fills the
    // same column via the column-pruned novel-file scan — the two
    // maintenance paths must record IDENTICAL per-file sums, including
    // NULL for an all-null column and absence for unsummable types
    val dir = s"$base/sumsdata"
    Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 1.5, "a"), (2L, 2.5, "b"), (null, null, "c"))
      .toDF("id", "x", "s").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, java.lang.Double, String)](
      (null, null, "d"), (null, null, "e"))
      .toDF("id", "x", "s").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    val mp = s"$base/sums_manifest"
    Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id", "x", "s"), mp)
    val got = spark.read.parquet(mp)
    // string key contributes no sums field; numeric keys are typed as
    // Spark's SUM result (long → long, double → double)
    assert(got.schema(Manifest.SumsColumn).dataType.simpleString
      === "struct<id:bigint,x:double>")
    // the value-bearing file sums its non-null values; the all-null file
    // records a genuine NULL sum (no non-null value existed)
    val byFile = got.select("sums.id", "sums.x").collect().map(_.toSeq).toSet
    assert(byFile === Set(Seq(3L, 4.0), Seq(null, null)))
    // and the bootstrap build records the same values per PATH
    val built = Manifest.build(spark, dir, "t", Seq("id", "x", "s"))
      .select("path", "sums.id", "sums.x").collect()
      .map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    val updated = got.select("path", "sums.id", "sums.x").collect()
      .map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    assert(built === updated)
    // recordSums=false restores the strictly footer-only update
    val mpOff = s"$base/sums_manifest_off"
    spark.conf.set(Manifest.RecordSumsConf, "false")
    try {
      Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), mpOff)
      assert(spark.read.parquet(mpOff).select("sums.id").collect()
        .forall(_.isNullAt(0)))
    } finally spark.conf.unset(Manifest.RecordSumsConf)
  }

  test("append aligns the optional sums column in both directions") {
    import spark.implicits._
    val dir = s"$base/sumalign"
    val mp = s"$base/sumalign_manifest"
    (0L until 10L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    // legacy catalog: entries written WITHOUT sums (pre-rollout shape)
    val legacy = Manifest.build(spark, dir, "t", Seq("id")).drop("sums")
    Manifest.write(legacy, mp)
    // a sums-bearing update appends cleanly (sums dropped to match)
    (10L until 20L).toDF("id").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    val (a, r) = Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), mp)
    assert(a === 1L && r === 0L)
    assert(!spark.read.parquet(mp).columns.contains("sums"))
    assert(Manifest.rowCount(spark, mp, col("table") === "t") === 20L)
    // an overwrite forces the rewrite path: the catalog upgrades to the
    // sums-bearing schema, legacy semantics intact
    (0L until 5L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), mp)
    val up = spark.read.parquet(mp)
    assert(up.columns.contains("sums"))
    assert(up.select("sums.id").head.get(0) === 10L) // 0+1+2+3+4
  }

  test("backfillSums fills missing sums and upgrades a pre-sums catalog") {
    import spark.implicits._
    val dir = s"$base/backfill"
    Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    Seq[(java.lang.Long, String)]((null, "c"), (null, "d")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    // case 1: sums RECORDED as NULL (recordSums off at update time)
    val mp1 = s"$base/backfill_m1"
    spark.conf.set(Manifest.RecordSumsConf, "false")
    try Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id"), mp1)
    finally spark.conf.unset(Manifest.RecordSumsConf)
    assert(spark.read.parquet(mp1).select("sums.id").collect().forall(_.isNullAt(0)))
    val v1 = Manifest.version(spark, mp1)
    // only the value-bearing file needs a scan; the all-null file's NULL
    // sum is genuine and is never rescanned
    assert(Manifest.backfillSums(spark, mp1) === 1L)
    val got1 = spark.read.parquet(mp1)
      .select("sums.id", "nulls.id", "rows").collect()
      .map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
    assert(got1 === Set((3L, 0L, 2L), (null, 2L, 2L)))
    assert(Manifest.version(spark, mp1) === v1 + 1, "one commit, one bump")
    // idempotent: nothing left to fill
    assert(Manifest.backfillSums(spark, mp1) === 0L)
    // stats answers now work (the SQL rule consumes the filled column)
    ManifestSql.register(spark, dir, "t", mp1, "bf1")
    val q = spark.sql("SELECT sum(id) AS s FROM bf1")
    assert(q.head.getLong(0) === 3L)
    assert(q.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    // case 2: a catalog written BEFORE the sums column existed upgrades
    val mp2 = s"$base/backfill_m2"
    Manifest.write(Manifest.build(spark, dir, "t", Seq("id")).drop("sums"), mp2)
    assert(!spark.read.parquet(mp2).columns.contains("sums"))
    assert(Manifest.backfillSums(spark, mp2) === 1L)
    val up = spark.read.parquet(mp2)
    assert(up.columns.contains("sums"))
    assert(up.select("sums.id").collect().map(_.get(0)).toSet === Set(3L, null))
  }

  test("footer scans run in the pre-pass, outside the commit claim (round-15 item 6)") {
    import spark.implicits._
    val dir = s"$base/hoistdata"
    val mp = s"$base/hoist_manifest"
    (0L until 40L).toDF("id").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarts.add(System.nanoTime())
    }
    Manifest.ringProbe = Some(e => events.add((e, System.nanoTime())))
    spark.sparkContext.addSparkListener(listener)
    try {
      Manifest.update(spark, dir, "t", Seq("id"), mp)
      val seq = events.toArray(Array.empty[(String, Long)]).toSeq
      val names = seq.map(_._1)
      // the expensive step (footer scans) fires BEFORE the claim; inside
      // the claim only the re-diff + manifest write remain
      assert(names.indexOf("footers") >= 0 && names.indexOf("claim") >= 0, names)
      assert(names.indexOf("footers") < names.indexOf("claim"),
        s"footer scans must be hoisted out of the commit claim: $names")
      // uncontended steady state: exactly one footer pass (the pre-pass) —
      // the inside-claim residual scan only fires under real contention
      assert(names.count(_ == "footers") === 1, names)
      // the inside-claim job-count bound (round-15 verdict item 6's done
      // criterion): the claim window holds the re-diff counts and the
      // manifest write — a single-digit job budget — while the update as
      // a whole runs the listing, footer, and sums jobs outside it
      val claimT = seq.find(_._1 == "claim").get._2
      val releaseT = seq.find(_._1 == "release").get._2
      Thread.sleep(500) // let the listener bus drain
      val starts = jobStarts.toArray(Array.empty[java.lang.Long]).map(_.longValue())
      val inClaim = starts.count(t => t >= claimT && t <= releaseT)
      val total = starts.length
      // ≤1: the manifest append write — an unchanged catalog reuses the
      // pre-pass diff, so the listing, diff, footer and sums passes (the
      // work that scales with ingest size) all stay outside
      assert(inClaim <= 1,
        s"claim window ran $inClaim jobs (of $total) — expensive work leaked inside")
      assert(total > inClaim, "the pre-pass work must run outside the claim")
      assert(Manifest.rowCount(spark, mp, col("table") === "t") === 40L)
    } finally {
      Manifest.ringProbe = None
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a paused writer fences out after reclamation and retries instead of clobbering") {
    // the round-15 double-holder: writer A's section outlives the claim
    // timeout (heartbeat off = a GC/FS-stalled process), writer B reclaims
    // by RENAME and commits; A must detect the loss at its pre-mutation
    // fence, retry its whole section against B's committed state, and
    // land WITHOUT deleting B's claim or dropping B's rows
    import spark.implicits._
    val dirA = s"$base/fence_a"
    val dirB = s"$base/fence_b"
    (0L until 30L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dirA/ta.parquet")
    (0L until 20L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dirB/tb.parquet")
    val mp = s"$base/fence_manifest"
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val aClaimed = new java.util.concurrent.CountDownLatch(1)
    val paused = new java.util.concurrent.atomic.AtomicBoolean(true)
    Manifest.ringProbe = Some { e =>
      events.add(e)
      // pause ONLY writer A's first claim, past the reclamation timeout
      if (e == "claim" && paused.compareAndSet(true, false)) {
        aClaimed.countDown()
        Thread.sleep(2500)
      }
    }
    spark.conf.set(Manifest.CommitLockTimeoutConf, "1000")
    spark.conf.set(Manifest.CommitHeartbeatConf, "false")
    try {
      val a = new Thread(() =>
        Manifest.update(spark, dirA, "ta", Seq("id"), mp))
      a.start()
      assert(aClaimed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // B starts while A sleeps inside its claim; B waits out the age
      // check, reclaims by rename, commits, releases
      Manifest.update(spark, dirB, "tb", Seq("id"), mp)
      a.join(120000)
      assert(!a.isAlive, "writer A must finish")
      val seq = events.toArray(Array.empty[String]).toSeq
      assert(seq.contains("reclaim"), s"B must reclaim A's stale claim: $seq")
      assert(seq.contains("fence-lost"),
        s"A must fence out instead of committing blind: $seq")
      // both writers' rows landed; nothing was clobbered
      assert(Manifest.rowCount(spark, mp, col("table") === "ta") === 30L)
      assert(Manifest.rowCount(spark, mp, col("table") === "tb") === 20L)
      assert(Manifest.version(spark, mp) === 2L)
      val lock = new org.apache.hadoop.fs.Path(mp + "__commitlock")
      assert(!lock.getFileSystem(spark.sessionState.newHadoopConf()).exists(lock))
    } finally {
      Manifest.ringProbe = None
      spark.conf.unset(Manifest.CommitLockTimeoutConf)
      spark.conf.unset(Manifest.CommitHeartbeatConf)
    }
  }

  test("same-table writers converge: the loser's re-diff no-ops on the winner's commit") {
    import spark.implicits._
    // both writers maintain the SAME table dir; A's pre-pass footer-scans
    // the novel files, then B claims first and commits them all — A's
    // inside-claim re-diff must find nothing novel and apply nothing
    // (no duplicate manifest rows, one version bump total)
    val dir = s"$base/sametable"
    (0L until 60L).toDF("id").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val mp = s"$base/sametable_manifest"
    val aScanned = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    Manifest.ringProbe = Some { e =>
      // pause writer A between its pre-pass and its claim, letting B win
      if (e == "footers" && first.compareAndSet(true, false)) {
        aScanned.countDown()
        bDone.await(60, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
    }
    try {
      var aResult: (Long, Long) = null
      val a = new Thread(() => {
        aResult = Manifest.update(spark, dir, "t", Seq("id"), mp)
      })
      a.start()
      assert(aScanned.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Manifest.ringProbe = Some(_ => ()) // B runs unpaused
      val (bNovel, _) = Manifest.update(spark, dir, "t", Seq("id"), mp)
      assert(bNovel === 3L)
      bDone.countDown()
      a.join(120000)
      assert(!a.isAlive)
      assert(aResult === ((0L, 0L)),
        "A's re-diff against B's committed state must find nothing novel")
      val m = spark.read.parquet(mp)
      assert(m.count() === 3L, "no duplicate rows from the losing writer")
      assert(m.select("path").distinct().count() === 3L)
      assert(Manifest.version(spark, mp) === 1L, "only B's commit mutated")
      assert(Manifest.rowCount(spark, mp, col("table") === "t") === 60L)
    } finally Manifest.ringProbe = None
  }

  test("two concurrent reclaimers: rename lets exactly one win (no double holder)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val dirA = s"$base/reclaim2_a"
    val dirB = s"$base/reclaim2_b"
    (0L until 10L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dirA/ta.parquet")
    (0L until 15L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dirB/tb.parquet")
    val mp = s"$base/reclaim2_manifest"
    // plant a claim nobody owns, aged far past the timeout
    val lock = new org.apache.hadoop.fs.Path(mp + "__commitlock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(lock, false)
    out.write("dead-token\n0\n".getBytes("UTF-8")); out.close()
    fs.setTimes(lock, System.currentTimeMillis() - 60000L, -1)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Manifest.ringProbe = Some(e => events.add(e))
    spark.conf.set(Manifest.CommitLockTimeoutConf, "1000")
    try {
      val fa = Future(Manifest.update(spark, dirA, "ta", Seq("id"), mp))
      val fb = Future(Manifest.update(spark, dirB, "tb", Seq("id"), mp))
      assert(Await.result(fa, 120.seconds)._1 === 1L)
      assert(Await.result(fb, 120.seconds)._1 === 1L)
      val seq = events.toArray(Array.empty[String]).toSeq
      // the planted stale claim is renamed away exactly once — the loser
      // of the rename race waits for the winner's fresh claim instead of
      // deleting it (the round-15 delete-then-create double holder)
      assert(seq.count(_ == "reclaim") === 1, seq)
      assert(Manifest.rowCount(spark, mp, col("table") === "ta") === 10L)
      assert(Manifest.rowCount(spark, mp, col("table") === "tb") === 15L)
      assert(Manifest.version(spark, mp) === 2L)
      assert(!fs.exists(lock))
    } finally {
      Manifest.ringProbe = None
      spark.conf.unset(Manifest.CommitLockTimeoutConf)
    }
  }

  test("a healthy long commit section is protected by the heartbeat, not reclaimed") {
    import spark.implicits._
    val dir = s"$base/hbdata"
    (0L until 10L).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val mp = s"$base/hb_manifest"
    // timeout far below the section length: without the heartbeat this
    // section would age out mid-commit; with it the mtime stays fresh
    spark.conf.set(Manifest.CommitLockTimeoutConf, "300")
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val once = new java.util.concurrent.atomic.AtomicBoolean(true)
    Manifest.ringProbe = Some { e =>
      events.add(e)
      if (e == "claim" && once.compareAndSet(true, false)) Thread.sleep(900)
    }
    try {
      Manifest.update(spark, dir, "t", Seq("id"), mp)
      val seq = events.toArray(Array.empty[String]).toSeq
      assert(!seq.contains("fence-lost"),
        s"a heartbeating holder must never fence out: $seq")
      assert(Manifest.version(spark, mp) === 1L)
    } finally {
      Manifest.ringProbe = None
      spark.conf.unset(Manifest.CommitLockTimeoutConf)
    }
  }

  test("heartbeat stays live on a setTimes-refusing object store (round-16 item 2)") {
    // S3A-class stores silently no-op fs.setTimes, so an mtime-refresh
    // heartbeat was dead code there: a healthy long commit section aged
    // out and was reclaimed mid-commit, paying spurious full-section
    // retries exactly under contention. The heartbeat now REWRITES the
    // lock's content — a content write updates mtime on every store —
    // pinned against a RawLocalFileSystem whose setTimes is a silent no-op.
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.stubfs.impl", classOf[NoSetTimesFileSystem].getName)
    val mp = s"stubfs:$base/hb_objstore/m"
    val lock = new org.apache.hadoop.fs.Path(mp + "__commitlock")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NoSetTimesFileSystem], s"stub scheme must resolve: $fs")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"stubfs:$base/hb_objstore"))
    spark.conf.set(Manifest.CommitLockTimeoutConf, "500")
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Manifest.ringProbe = Some(e => events.add(e))
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    try {
      val hb = new org.apache.hadoop.fs.Path(lock.toString + "hb")
      val a = new Thread(() =>
        try Manifest.withCommitLock(spark, mp) {
          order.add("a-enter")
          val lockM0 = fs.getFileStatus(lock).getModificationTime
          val t0 = System.currentTimeMillis()
          Thread.sleep(800) // > timeout: only the heartbeat keeps the claim fresh
          Manifest.fenceClaim(spark, mp) // must still own the claim
          // the heartbeat refreshes its SIDECAR by content write (mtime
          // advances despite the setTimes no-op) and NEVER rewrites the
          // lock itself — a paused heartbeat can thus never clobber a
          // reclaimer's fresh claim with a stale token (round-17 review)
          assert(fs.exists(hb) && fs.getFileStatus(hb).getModificationTime >= t0,
            "heartbeat must refresh the sidecar despite the setTimes no-op")
          assert(fs.getFileStatus(lock).getModificationTime === lockM0,
            "the heartbeat must never write the lock file itself")
          order.add("a-exit")
        } catch { case t: Throwable => failure.compareAndSet(null, t) })
      a.start()
      Thread.sleep(200) // let A claim before B contends
      val b = new Thread(() =>
        try Manifest.withCommitLock(spark, mp) { order.add("b-enter"); () }
        catch { case t: Throwable => failure.compareAndSet(null, t) })
      b.start()
      a.join(30000); b.join(30000)
      assert(failure.get() == null, s"ring section failed: ${failure.get()}")
      assert(order.toArray(Array.empty[String]).toSeq ===
        Seq("a-enter", "a-exit", "b-enter"))
      val seq = events.toArray(Array.empty[String]).toSeq
      assert(!seq.contains("reclaim"),
        s"a heartbeating holder must not be reclaimed: $seq")
      assert(!seq.contains("fence-lost"), seq)
    } finally {
      Manifest.ringProbe = None
      spark.conf.unset(Manifest.CommitLockTimeoutConf)
    }
  }

  test("a waiter outlasts a heartbeating section longer than twice the timeout") {
    // the fixed 2x-timeout acquire deadline made waiters ERROR out under
    // any commit section longer than 2x the reclamation timeout even
    // though the holder was alive and heartbeating; the deadline now
    // resets whenever the lock's mtime advances (a live holder), and
    // only fires on a lock that is neither refreshed nor reclaimable
    val mp = s"$base/longwait/m"
    new java.io.File(s"$base/longwait").mkdirs()
    spark.conf.set(Manifest.CommitLockTimeoutConf, "300")
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Manifest.ringProbe = Some(e => events.add(e))
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    try {
      val a = new Thread(() =>
        try Manifest.withCommitLock(spark, mp) {
          order.add("a-enter")
          Thread.sleep(1000) // > 2x timeout: only heartbeat keeps B waiting
          Manifest.fenceClaim(spark, mp)
          order.add("a-exit")
        } catch { case t: Throwable => failure.compareAndSet(null, t) })
      a.start()
      Thread.sleep(100)
      val b = new Thread(() =>
        try Manifest.withCommitLock(spark, mp) { order.add("b-enter"); () }
        catch { case t: Throwable => failure.compareAndSet(null, t) })
      b.start()
      a.join(30000); b.join(30000)
      assert(failure.get() == null, s"ring section failed: ${failure.get()}")
      assert(order.toArray(Array.empty[String]).toSeq ===
        Seq("a-enter", "a-exit", "b-enter"))
      assert(!events.toArray(Array.empty[String]).contains("reclaim"))
    } finally {
      Manifest.ringProbe = None
      spark.conf.unset(Manifest.CommitLockTimeoutConf)
    }
  }

  /** One data file under an exact name, so path-order fixtures are
    * deterministic (Spark's own part-file names are not). */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame,
                              destDir: String, name: String): Unit = {
    val tmp = s"$destDir/__tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$destDir/$name"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  test("backfillSumsAll pages past an unfillable cap-sized batch (round-16 advice)") {
    import spark.implicits._
    val dir = s"$base/backfill_cursor"
    // a.parquet LACKS the x column (schema evolution): its x-sum can never
    // be filled from its own pages; b.parquet carries both columns and
    // sits BEYOND a cap of 1 in path order
    writeSingleFile(Seq((1L, "a")).toDF("id", "v"), s"$dir/t.parquet", "a.parquet")
    writeSingleFile(Seq((2L, 5L, "b")).toDF("id", "x", "v"),
      s"$dir/t.parquet", "b.parquet")
    val mp = s"$base/backfill_cursor_m"
    spark.conf.set(Manifest.RecordSumsConf, "false")
    try Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id", "x"), mp)
    finally spark.conf.unset(Manifest.RecordSumsConf)
    spark.conf.set(Manifest.SumScanMaxFilesConf, "1")
    try {
      // a single bounded pass takes only {a}: fills its id sum but can
      // never produce its x sum — 0 TRUE fills, while fillable b waits
      // beyond the cap (the round-16 starvation shape)
      assert(Manifest.backfillSums(spark, mp) === 0L)
      // the cursor form pages strictly past the unfillable batch
      val (filled, unfillable) = Manifest.backfillSumsAll(spark, mp)
      assert(filled === 1L, "b.parquet must be reached past the unfillable batch")
      assert(unfillable === 1L)
      val got = spark.read.parquet(mp)
        .select(col("path"), col("sums.id"), col("sums.x")).collect()
        .map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).getName,
          r.get(1), r.get(2))).toSet
      assert(got === Set(("a.parquet", 1L, null), ("b.parquet", 2L, 5L)))
    } finally spark.conf.unset(Manifest.SumScanMaxFilesConf)
  }

  test("inline auto-compaction bumps the version once per committed mutation") {
    import spark.implicits._
    // round-15 advice: compact() under the re-entrant claim bumped, then
    // updateDir bumped again — one committed mutation advanced the stamp
    // by 2, breaking the "bumped once" contract the race spec pins
    val dir = s"$base/singlebump"
    val mp = s"$base/singlebump_manifest"
    spark.conf.set(Manifest.AutoCompactFilesConf, "2")
    try {
      (0 until 6).foreach { b =>
        (b * 10L until b * 10L + 10L).toDF("id").coalesce(1)
          .write.mode("append").parquet(s"$dir/t.parquet")
        val before = Manifest.version(spark, mp)
        Manifest.update(spark, dir, "t", Seq("id"), mp)
        assert(Manifest.version(spark, mp) === before + 1,
          s"update $b (with inline compaction) must bump exactly once")
      }
      // a STANDALONE compact is its own committed mutation: exactly one bump
      val v = Manifest.version(spark, mp)
      Manifest.compact(spark, mp)
      assert(Manifest.version(spark, mp) === v + 1)
    } finally spark.conf.unset(Manifest.AutoCompactFilesConf)
  }

  test("prefixUpper works in code-point space: surrogate fencepost, supplementary tails") {
    // plain increment
    assert(Manifest.prefixUpper("abc") === Some("abd"))
    // U+D7FF fencepost: the increment would be an unpaired high surrogate
    // (UTF8String-mangled to '?'); jump to U+E000, the next real scalar
    assert(Manifest.prefixUpper("a\uD7FF") === Some("a\uE000"))
    // a supplementary code point increments as ONE unit — char-wise
    // increment of its low surrogate D7FF→E000 would strand the high half
    val u103FF = new String(Character.toChars(0x103FF))
    val u10400 = new String(Character.toChars(0x10400))
    assert(Manifest.prefixUpper("a" + u103FF) === Some("a" + u10400))
    // a U+10FFFF tail cannot increment; the previous code point does
    val uMax = new String(Character.toChars(0x10FFFF))
    assert(Manifest.prefixUpper("a" + uMax) === Some("b"))
    // all-U+10FFFF has no finite upper bound
    assert(Manifest.prefixUpper(uMax + uMax) === None)
    assert(Manifest.prefixUpper("a\uFFFF") === Some("a" + new String(Character.toChars(0x10000))))
  }

  test("driver-side stat comparisons use UTF-8 byte order, not UTF-16 (round-12 advice)") {
    val supp = new String(Character.toChars(0x10000)) // U+10000, above BMP
    // UTF-16 code units put the surrogate pair (D800 DC00) BELOW U+E000;
    // UTF-8/code-point order — what Spark and parquet compare by — puts
    // every supplementary character ABOVE the whole BMP
    assert("\uE000".compareTo(supp) > 0, "Java order differs (precondition)")
    assert(Manifest.ordCompare("\uE000", supp) < 0)
    assert(Manifest.ordCompare(supp, "\uE000") > 0)
    assert(Manifest.ordCompare("abc", "abc") === 0)
    assert(Manifest.ordCompare(Long.box(3L), Long.box(10L)) < 0)
  }

  /** Start times of the jobs submitted while `f` runs, and f's result. */
  private def jobsDuring[T](f: => T): (Seq[Long], T) = {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.add(j.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.currentTimeMillis()
      val r = f
      val t1 = System.currentTimeMillis()
      Thread.sleep(500) // let the listener bus drain
      (starts.toArray(Array.empty[java.lang.Long]).map(_.longValue)
        .filter(t => t >= t0 && t <= t1).toSeq, r)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an uncontended update runs a constant handful of Spark jobs, whatever the file count") {
    import spark.implicits._
    // the job budget of write-time upkeep: one listing pass, one diff
    // pass, one footer pass (sums folded in) and the append — the same
    // count for 2 files as for 24, with sums on and the catalog absent
    // (the sink's shape: it clears the catalog before an overwrite)
    Seq(2, 24).foreach { n =>
      val dir = s"$base/budget$n"
      val mp = s"$base/budget${n}_manifest"
      (0L until 20L * n).map(i => (i, s"v$i")).toDF("id", "v").repartition(n)
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val (jobs, (added, removed)) = jobsDuring(
        Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id", "v"), mp))
      assert(added === n.toLong && removed === 0L)
      assert(jobs.size <= 8, s"$n-file update ran ${jobs.size} jobs")
      info(s"$n novel files: ${jobs.size} jobs")
      // a no-op re-run against the now-present catalog stays as cheap
      val (again, r) = jobsDuring(
        Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id", "v"), mp))
      assert(r === ((0L, 0L)))
      assert(again.size <= 8, s"$n-file no-op update ran ${again.size} jobs")
      assert(Manifest.rowCount(spark, mp, col("table") === "t") === 20L * n)
    }
  }

  test("update's one-pass catalog equals the build scan and the file lengths") {
    import spark.implicits._
    // every maintenance shape on one fixture: an int key (summed), a
    // string key and a date key (footer stats only), nulls, an empty
    // file, a batch over the sums cap, a batch with recordSums off, and
    // an Overwrite whose stale entries force the rewrite path
    val dir = s"$base/parity"
    val tdir = s"$dir/t.parquet"
    val mp = s"$base/parity_manifest"
    val keys = Seq("id", "s", "d")
    def day(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    def batch(from: Int, n: Int, files: Int, mode: String = "append"): Unit =
      (from until from + n).map { i =>
        (if (i % 7 == 3) null else Int.box(i * 13 % 101 - 50),
          if (i % 5 == 4) null else s"s${i % 9}", day(i % 40))
      }.toDF("id", "s", "d").repartition(files).write.mode(mode).parquet(tdir)
    def filesOf(): Set[String] = spark.read.parquet(tdir).inputFiles.toSet
    def entries(): Map[String, org.apache.spark.sql.Row] =
      spark.read.parquet(mp).filter(col("table") === "t").collect()
        .map(r => r.getAs[String]("path") -> r).toMap
    batch(0, 60, 3)
    Seq.empty[(Integer, String, java.sql.Date)].toDF("id", "s", "d").coalesce(1)
      .write.mode("append").parquet(tdir)
    Manifest.updateDir(spark, tdir, "t", keys, mp)
    val summed = filesOf()
    spark.conf.set(Manifest.SumScanMaxFilesConf, "1")
    try { batch(60, 30, 2); Manifest.updateDir(spark, tdir, "t", keys, mp) }
    finally spark.conf.unset(Manifest.SumScanMaxFilesConf)
    val overCap = filesOf() -- summed
    assert(overCap.size === 2)
    val before2 = filesOf()
    spark.conf.set(Manifest.RecordSumsConf, "false")
    try { batch(90, 20, 1); Manifest.updateDir(spark, tdir, "t", keys, mp) }
    finally spark.conf.unset(Manifest.RecordSumsConf)
    val unsummed = overCap ++ (filesOf() -- before2)

    def check(recorded: Set[String]): Unit = {
      val got = entries()
      val built = Manifest.build(spark, dir, "t", keys).collect()
        .map(r => r.getAs[String]("path") -> r).toMap
      assert(got.keySet === filesOf(), "one entry per data file, no stale entry")
      assert(got.values.head.schema("sums").dataType.simpleString === "struct<id:bigint>")
      val fs = new org.apache.hadoop.fs.Path(tdir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      got.foreach { case (path, e) =>
        assert(e.getAs[Long]("bytes") ===
          fs.getFileStatus(new org.apache.hadoop.fs.Path(new java.net.URI(path))).getLen)
        built.get(path) match {
          case Some(b) =>
            Seq("rows", "mins", "maxs", "nulls").foreach(c =>
              assert(e.getAs[Any](c) === b.getAs[Any](c), s"$c of $path"))
            if (recorded(path)) assert(e.getAs[Any]("sums") === b.getAs[Any]("sums"), path)
            else assert(e.getAs[org.apache.spark.sql.Row]("sums") ===
              org.apache.spark.sql.Row(null), s"unrecorded sums of $path")
          case None =>
            // an empty file: no data row to group, so the build has no
            // entry; footers say 0 rows, unknown ranges, no nulls
            assert(e.getAs[Long]("rows") === 0L, path)
            val none = org.apache.spark.sql.Row(null, null, null)
            assert(e.getAs[Any]("mins") === none && e.getAs[Any]("maxs") === none)
            assert(e.getAs[Any]("nulls") === org.apache.spark.sql.Row(0L, 0L, 0L))
            assert(e.isNullAt(e.fieldIndex("sums")), s"empty-file sums of $path")
        }
      }
    }
    check(filesOf() -- unsummed)
    assert(entries().values.count(_.getAs[Long]("rows") == 0L) === 1,
      "the fixture carries exactly one empty file")
    // an Overwrite: every cataloged file is stale, the rewrite path drops
    // them and lands the new batch, sums recorded
    val v = Manifest.version(spark, mp)
    batch(200, 40, 2, mode = "overwrite")
    val (added, removed) = Manifest.updateDir(spark, tdir, "t", keys, mp)
    assert(added === 2L && removed === summed.size + unsummed.size)
    assert(Manifest.version(spark, mp) === v + 1)
    check(filesOf())
  }

  test("update-path sums keep try_sum's semantics: overflow, wide decimals, -0.0, NaN") {
    import spark.implicits._
    // the write-time fold must equal Spark's own per-file try_sum (the
    // build scan) on the shapes where hand-rolled arithmetic drifts: a
    // long sum and a DECIMAL(38,0) sum that overflow mid-file, a file
    // whose only double is -0.0, NaN, and floats widened to double
    val dir = s"$base/sumedge"
    val mp = s"$base/sumedge_manifest"
    val nines = "9" * 38
    def file(rows: Seq[(java.lang.Long, String, java.lang.Double, java.lang.Float)]): Unit =
      rows.toDF("l", "m", "x", "f").select(col("l"), col("m").cast("decimal(38,0)").as("m"),
        col("x"), col("f")).coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
    file(Seq((Long.MaxValue, nines, 2.25, 1.5f), (1L, nines, null, null),
      (-5L, "-" + nines, -0.5, 0.1f)))
    file(Seq((7L, null, -0.0, null), (-9L, "-1", Double.NaN, -2.5f)))
    file(Seq((3L, "4", -0.0, 0.25f)))
    val keys = Seq("l", "m", "x", "f")
    Manifest.updateDir(spark, s"$dir/t.parquet", "t", keys, mp)
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.select("path", "sums").collect().map(r => r.getString(0) -> r.get(1)).toMap
    val got = sums(spark.read.parquet(mp))
    assert(got === sums(Manifest.build(spark, dir, "t", keys)))
    assert(got.values.exists(_.asInstanceOf[org.apache.spark.sql.Row].isNullAt(0)),
      "the overflowing long sum records NULL")
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    super.afterAll()
  }
}

/** RawLocalFileSystem under its own scheme whose `setTimes` is an
  * S3A-style silent no-op — lets the heartbeat spec simulate an object
  * store where only a content write refreshes a file's mtime. */
class NoSetTimesFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "stubfs"
  override def getUri: java.net.URI = java.net.URI.create("stubfs:///")
  override def setTimes(p: org.apache.hadoop.fs.Path,
                        mtime: Long, atime: Long): Unit = ()
}
