package graft.cli

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpec

class MainSpec extends SparkSpec {

  private def runCli(args: String*): (Int, Seq[String]) = {
    val buf = Seq.newBuilder[String]
    val code = Main.run(args.toArray, spark, s => buf += s)
    (code, buf.result())
  }

  test("discover lists tables with schemas and row counts") {
    val (code, out) = runCli("discover", "--source", sfDir)
    assert(code === 0)
    assert(out.exists(_.startsWith("lineitem")))
    assert(out.exists(_.contains("l_shipdate")))
  }

  test("manifest --build then stats answers counts without opening data files") {
    val mp = Files.createTempDirectory("graft_cli_manifest").toString + "/orders"
    val (bcode, bout) = runCli("manifest", "--source", sfDir, "--table", "orders",
      "--key", "o_orderdate", "--manifest", mp, "--build")
    assert(bcode === 0)
    assert(bout.exists(_.contains("manifest for orders written")))
    val (scode, sout) = runCli("manifest", "--source", sfDir, "--table", "orders",
      "--manifest", mp)
    assert(scode === 0)
    val expected = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(sout.exists(_.contains(s"orders: $expected rows")), sout.mkString("\n"))
    // a key range nothing overlaps answers 0 from stats, loudly not wrongly
    val (zcode, zout) = runCli("manifest", "--source", sfDir, "--table", "orders",
      "--manifest", mp, "--min-key", "2999-01-01")
    assert(zcode === 0)
    assert(zout.exists(_.contains("orders: 0 rows across 0 files")), zout.mkString("\n"))
    // --update on an unchanged directory is an incremental no-op
    val (ucode, uout) = runCli("manifest", "--source", sfDir, "--table", "orders",
      "--key", "o_orderdate", "--manifest", mp, "--update")
    assert(ucode === 0)
    assert(uout.exists(_.contains("(+0 files, -0 stale)")), uout.mkString("\n"))
    // --compact reports the defragmentation and keeps stats working
    val (ccode, cout) = runCli("manifest", "--source", sfDir, "--table", "orders",
      "--manifest", mp, "--compact")
    assert(ccode === 0)
    assert(cout.exists(_.contains("compacted")), cout.mkString("\n"))
    val (s2code, s2out) = runCli("manifest", "--source", sfDir, "--table", "orders",
      "--manifest", mp)
    assert(s2code === 0)
    assert(s2out.exists(_.contains(s"orders: $expected rows")), s2out.mkString("\n"))
  }

  test("manifest stats mode counts exactly the files the SQL prune rule keeps") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, when}
    import graft.sources.{Manifest, ManifestSql}
    // one file each: below the bound, inside it, all-NULL key, and one
    // whose catalog stats are unknown (NULL min/max/null count)
    val dir = Files.createTempDirectory("graft_cli_rule_parity").toString
    Seq(Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](100L, 101L),
        Seq[java.lang.Long](null, null, null, null), Seq[java.lang.Long](1000L, 1001L))
      .foreach(_.toDF("id").coalesce(1).write.mode("append").parquet(s"$dir/t.parquet"))
    val mp = s"$dir/_manifest/t"
    Manifest.write(Manifest.build(spark, dir, "t", Seq("id"))
      .withColumn("unknown", col("maxs.id") === 1001L)
      .withColumn("mins", when(col("unknown"), lit(null)).otherwise(col("mins")))
      .withColumn("maxs", when(col("unknown"), lit(null)).otherwise(col("maxs")))
      .withColumn("nulls", when(col("unknown"), lit(null)).otherwise(col("nulls"))), mp)
    ManifestSql.register(spark, dir, "t", mp, "cli_rule_parity_t")
    val kept = spark.sql("SELECT * FROM cli_rule_parity_t WHERE id >= 50 AND id <= 200")
      .inputFiles
    val rows = spark.read.parquet(kept.toIndexedSeq: _*).count()
    // the rule keeps the in-range and the unknown-stats file only
    assert(kept.length === 2 && rows === 4L, kept.mkString(", "))
    val (code, out) = runCli("manifest", "--source", dir, "--table", "t",
      "--manifest", mp, "--min-key", "50", "--max-key", "200")
    assert(code === 0, out.mkString("\n"))
    assert(out.contains(
      s"t: $rows rows across ${kept.length} files (from stats, no data files opened)"),
      out.mkString("\n"))
  }

  test("manifest --backfill-sums-all pages to completion and logs per-pass fills") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cli_bfall").toString
    // two single-row files with a sum-scan cap of 1 → the loop needs two
    // filling passes plus the terminating empty pass
    Seq((1L, 10L)).toDF("id", "x").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    Seq((2L, 20L)).toDF("id", "x").coalesce(1)
      .write.mode("append").parquet(s"$dir/t.parquet")
    val mp = s"$dir/_manifest/t"
    withConf(graft.sources.Manifest.SumScanMaxFilesConf, "0")(
      graft.sources.Manifest.updateDir(spark, s"$dir/t.parquet", "t", Seq("id", "x"), mp))
    spark.conf.set(graft.sources.Manifest.SumScanMaxFilesConf, "1")
    try {
      val (code, out) = runCli("manifest", "--source", dir, "--table", "t",
        "--manifest", mp, "--backfill-sums-all")
      assert(code === 0, out.mkString("\n"))
      assert(out.exists(_.contains("backfill pass 1: filled 1, unfillable 0")),
        out.mkString("\n"))
      assert(out.exists(_.contains("backfill pass 2: filled 1, unfillable 0")),
        out.mkString("\n"))
      assert(out.exists(_.contains("backfilled sums for 2 files")), out.mkString("\n"))
      assert(!out.exists(_.contains("unfillable (")), out.mkString("\n"))
    } finally spark.conf.unset(graft.sources.Manifest.SumScanMaxFilesConf)
  }

  test("build writes topo-ordered DDL to a file") {
    val f = Files.createTempDirectory("ddl").resolve("schema.sql").toString
    val (code, _) = runCli("build", "--source", sfDir, "--schema", "tpch", "--output", f)
    assert(code === 0)
    val ddl = new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)
    assert(ddl.contains("CREATE SCHEMA IF NOT EXISTS \"tpch\""))
    assert(ddl.contains("CREATE TABLE \"tpch\".\"lineitem\""))
    assert(ddl.contains("\"l_quantity\" DOUBLE PRECISION"))
  }

  test("build-views translates Snowflake SQL and registers temp views") {
    val f = Files.createTempDirectory("views").resolve("views.sql")
    Files.write(f,
      """-- view: big_orders
        |SELECT o_orderkey, IFF(o_totalprice > 150000, 'big', 'small') AS bucket
        |FROM TPCH.PUBLIC.ORDERS
        |-- view: type_words
        |SELECT p_partkey, w.value AS word
        |FROM TPCH.PUBLIC.PART, LATERAL FLATTEN(input => split(p_type, ' ')) w
        |-- view: bad_view
        |SELECT nonexistent_col FROM orders
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val (code, out) = runCli("build-views", "--source", sfDir, "--views", f.toString)
    assert(code === 1) // one failure
    assert(out.exists(_.startsWith("view big_orders: OK")))
    assert(out.exists(_.startsWith("view type_words: OK")), out)
    assert(out.exists(_.startsWith("view bad_view: FAILED")))
    assert(spark.sql("SELECT bucket FROM big_orders").count() > 0)
    // the flattened view explodes every space-separated type word
    assert(spark.sql("SELECT word FROM type_words").count() ===
      spark.sql("SELECT explode(split(p_type, ' ')) FROM part").count())
  }

  test("build-views emits the manual-TODO stub for procedure sections") {
    val f = Files.createTempDirectory("views").resolve("mixed.sql")
    Files.write(f,
      """-- view: ok_view
        |SELECT o_orderkey FROM TPCH.PUBLIC.ORDERS
        |-- procedure: refresh_stats
        |CREATE OR REPLACE PROCEDURE refresh_stats()
        |RETURNS VARCHAR LANGUAGE JAVASCRIPT AS
        |$$ snowflake.execute({sqlText: "CALL SYSTEM$..."}); $$
        |-- procedure: empty_proc
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val (code, out) = runCli("build-views", "--source", sfDir, "--views", f.toString)
    // procedures warn, they don't fail the run (view_procedure_translator.py:343-383)
    assert(code === 0, out)
    assert(out.exists(_.startsWith("view ok_view: OK")))
    assert(out.contains("-- WARNING: This procedure requires manual translation"))
    // the original DDL is preserved line-by-line as comments
    assert(out.exists(_.startsWith("-- CREATE OR REPLACE PROCEDURE refresh_stats()")))
    assert(out.exists(_.contains("snowflake.execute")))
    assert(out.exists(_.startsWith("procedure refresh_stats: WARNING")))
    // the reference skips an empty body (`if not snowflake_ddl: return None`)
    assert(out.exists(_.startsWith("procedure empty_proc: skipped")))
    assert(out.exists(_.contains("1 views, 0 failed, 1 procedures requiring manual translation")))
  }

  test("--source-format is rejected alongside a jdbc: source, not silently ignored") {
    val (code, out) = runCli("transfer", "--source", "jdbc:derby:memory:nope",
      "--target", Files.createTempDirectory("clijdbc").toString,
      "--table", "t", "--source-format", "orc")
    assert(code === 1)
    assert(out.exists(l => l.startsWith("error:") && l.contains("--source-format")), out)
  }

  test("validate --constraints-jdbc evaluates discovered CHECK clauses against the target") {
    // the CHECK lives in a live catalog; the data lives in parquet — the
    // discover→validate loop must catch a target row violating the clause
    val curl = "jdbc:derby:memory:validateck;create=true"
    val conn = java.sql.DriverManager.getConnection(curl)
    try conn.createStatement().execute(
      """CREATE TABLE scores (s_id INT NOT NULL, s_value INT,
        CONSTRAINT scores_value_ck CHECK (s_value >= 0))""")
    finally conn.close()
    val srcDir = Files.createTempDirectory("cksrc").toString
    val dstDir = Files.createTempDirectory("ckdst").toString
    spark.range(0, 10).selectExpr("CAST(id AS INT) AS s_id", "CAST(id AS INT) AS s_value")
      .write.parquet(s"$srcDir/scores.parquet")
    spark.range(0, 10).selectExpr("CAST(id AS INT) AS s_id",
      "CAST(CASE WHEN id = 7 THEN -1 ELSE id END AS INT) AS s_value")
      .write.parquet(s"$dstDir/scores.parquet")
    val (code, out) = runCli("validate", "--source", srcDir, "--target", dstDir,
      "--constraints-jdbc", curl, "--constraints-schema", "APP")
    assert(code === 1)
    assert(out.exists(l => l.contains("check_scores_value_ck") && l.contains("MISMATCH")), out)
    // and a clean target passes the CHECK layer
    val okDir = Files.createTempDirectory("ckok").toString
    spark.read.parquet(s"$srcDir/scores.parquet").write.parquet(s"$okDir/scores.parquet")
    val (okCode, okOut) = runCli("validate", "--source", srcDir, "--target", okDir,
      "--constraints-jdbc", curl, "--constraints-schema", "APP")
    assert(okCode === 0, okOut)
    assert(okOut.exists(l => l.contains("check_scores_value_ck") && l.contains("ok")), okOut)
  }

  test("transfer + validate round-trip, then destroy with confirmation") {
    val dst = Files.createTempDirectory("clidst").resolve("myschema").toString
    val (tcode, tout) = runCli("transfer", "--source", sfDir, "--target", dst,
      "--table", "nation", "--workers", "2")
    assert(tcode === 0, tout)
    val (vcode, vout) = runCli("validate", "--source", sfDir, "--target", dst,
      "--table", "nation")
    assert(vcode === 0, vout)
    assert(vout.exists(_.startsWith("nation: PASS")))

    // destroy refuses a wrong confirmation, accepts the right one
    val (bad, badOut) = runCli("destroy", "--target", dst, "--confirm", "wrong")
    assert(bad === 1 && badOut.exists(_.contains("aborting")))
    val (ok, _) = runCli("destroy", "--target", dst, "--confirm", "myschema")
    assert(ok === 0)
    assert(!Files.exists(Paths.get(dst)))
  }

  test("transfer --manifest-keys maintains the file catalog at write time") {
    val dst = Files.createTempDirectory("climanifest").toString
    val (code, out) = runCli("transfer", "--source", sfDir, "--target", dst,
      "--table", "orders", "--manifest-keys", "o_orderkey,o_orderdate")
    assert(code === 0, out)
    val mp = s"$dst/_manifest/orders"
    val total = spark.read.parquet(s"$dst/orders.parquet").count()
    assert(graft.sources.Manifest.slice(spark, mp, "orders").rows === total)
    // typed two-column zone maps came along
    assert(spark.read.parquet(mp).schema("mins").dataType.simpleString
      .contains("o_orderkey:bigint"))
  }

  test("a translated view over a manifest-maintained table file-skips automatically") {
    // round-12 verdict item 2: `--manifest-keys` maintained the catalog at
    // write time but nothing on the CLI read path consumed it — a
    // translated view scanned every file unless the user hand-called
    // ManifestSql.readTable. Tables.load now probes $dir/_manifest/$table.
    import org.apache.spark.sql.functions.col
    val dst = Files.createTempDirectory("graft_autowire").toString
    // full fixture set first (view registration loads every table) …
    val (c0, out0) = runCli("migrate", "--source", sfDir, "--target", dst)
    assert(c0 === 0, out0)
    // … then rewrite orders as 4 disjoint key-range chunks, manifest kept
    // current at write time; the finish-hook updates it ONCE after the
    // last chunk (round-12 advice), so it must still cover all 4
    val cp = Files.createTempDirectory("graft_autowire_cp").toString + "/cp.json"
    val (c1, out1) = runCli("transfer", "--source", sfDir, "--target", dst,
      "--table", "orders", "--chunk-column", "o_orderkey", "--chunk-count", "4",
      "--checkpoint", cp, "--manifest-keys", "o_orderkey")
    assert(c1 === 0, out1)
    val dataFiles = spark.read.parquet(s"$dst/orders.parquet").inputFiles.length
    assert(dataFiles >= 4, s"chunked rewrite should leave >=4 files, got $dataFiles")
    assert(graft.sources.Manifest.slice(spark, s"$dst/_manifest/orders", "orders").rows ===
      spark.read.parquet(s"$dst/orders.parquet").count(),
      "the single end-of-transfer manifest update must cover every chunk")

    // the CLI view surface: registerAll + a dialect-translated query — no
    // manifest API in sight — must open only the surviving chunk files
    graft.sources.Tables.registerAll(spark, dst)
    val translated = graft.dialect.SnowflakeDialect.translate(
      """SELECT o_orderkey, IFF(o_totalprice > 150000, 'big', 'small') AS bucket
        |FROM orders WHERE o_orderkey <= 5""".stripMargin)
    val q = spark.sql(translated)
    q.collect() // finalize the adaptive plan
    def leaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(s.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves)
    }
    val scanned = leaves(q.queryExecution.executedPlan)
      .flatMap(_.relation.location.inputFiles)
    assert(scanned.nonEmpty && scanned.length < dataFiles,
      s"view must prune through the write-time manifest: " +
        s"scanned ${scanned.length} of $dataFiles files")
    // and pruning lost nothing
    assert(q.count() === spark.read.parquet(s"$dst/orders.parquet")
      .filter(col("o_orderkey") <= 5).count())
    // fixture dirs WITHOUT a manifest keep reading exactly as before
    graft.sources.Tables.registerAll(spark, sfDir)
  }

  test("migrate prompts 'Verify migration?' on a console; y runs the verifier, n skips") {
    // the reference's interactive post-migration prompt (sf_migrate.py:
    // 940-952) — exercised by injecting a console reader
    def runWithAnswer(answer: String, dst: String): (Int, Seq[String], Seq[String]) = {
      val asked = Seq.newBuilder[String]
      val buf = Seq.newBuilder[String]
      val code = Main.run(
        Array("migrate", "--source", sfDir, "--target", dst, "--table", "nation"),
        spark, s => buf += s, prompt = Some(q => { asked += q; answer }))
      (code, buf.result(), asked.result())
    }
    val (yCode, yOut, yAsked) = runWithAnswer("y", Files.createTempDirectory("pv_y").toString)
    assert(yCode === 0, yOut)
    assert(yAsked.exists(_.contains("Verify migration?")))
    assert(yOut.exists(_.startsWith("nation: PASS")), yOut)
    val (nCode, nOut, nAsked) = runWithAnswer("n", Files.createTempDirectory("pv_n").toString)
    assert(nCode === 0, nOut)
    assert(nAsked.nonEmpty)
    assert(!nOut.exists(_.startsWith("nation: PASS")), nOut)
    // no console (prompt = None) → no prompt, no verification: the
    // non-interactive default every scripted invocation relies on
    val dst3 = Files.createTempDirectory("pv_none").toString
    val buf = Seq.newBuilder[String]
    val code = Main.run(Array("migrate", "--source", sfDir, "--target", dst3,
      "--table", "nation"), spark, s => buf += s)
    assert(code === 0)
    assert(!buf.result().exists(_.startsWith("nation: PASS")))
  }

  test("migrate --verify runs the validation suite inline after transfer") {
    // the reference's post-migration "Verify migration?" prompt
    // (sf_migrate.py:940-952), as a non-interactive flag
    val dst = Files.createTempDirectory("cliverify").toString
    val (code, out) = runCli("migrate", "--source", sfDir, "--target", dst,
      "--table", "nation", "--verify")
    assert(code === 0, out)
    assert(out.exists(_.contains("nation") && out.exists(_.contains("OK"))), out)
    assert(out.exists(_.startsWith("nation: PASS")), out)
    // an unreadable target format cannot be verified — loud, not silent,
    // and BEFORE the transfer runs (the target dir must stay untouched)
    for (fmt <- Seq("csv", "orc", "jsonl")) {
      val dst2 = Files.createTempDirectory(s"cliverify_$fmt").toString
      val (code2, out2) = runCli("migrate", "--source", sfDir, "--target", dst2,
        "--table", "nation", "--format", fmt, "--verify")
      assert(code2 === 1 && out2.exists(_.contains("cannot read back")), out2)
      // migrate's build step legitimately writes the DDL first; the guard
      // must fire before any table DATA lands
      import scala.jdk.CollectionConverters._
      val leftover = Files.list(java.nio.file.Paths.get(dst2))
        .iterator().asScala.map(_.getFileName.toString).toSet
      assert(leftover.subsetOf(Set("_schema.sql")),
        s"$fmt: data written before the guard fired: $leftover")
    }
    // a filtered transfer would ALWAYS fail verification (full-count
    // compare) — refuse up front rather than false-failing afterwards
    val dst3 = Files.createTempDirectory("cliverify3").toString
    val (code3, out3) = runCli("migrate", "--source", sfDir, "--target", dst3,
      "--table", "nation", "--limit", "5", "--verify")
    assert(code3 === 1 && out3.exists(_.contains("validate manually")), out3)
  }

  test("validate catches a corrupted copy") {
    val dst = Files.createTempDirectory("clibad").toString
    runCli("transfer", "--source", sfDir, "--target", dst,
      "--table", "orders", "--where", "o_orderkey % 100 != 0")
    val (code, out) = runCli("validate", "--source", sfDir, "--target", dst,
      "--table", "orders")
    assert(code === 1)
    assert(out.exists(_.startsWith("orders: FAIL")))
  }

  test("unknown action and missing options fail cleanly") {
    assert(runCli("frobnicate")._1 === 2)
    val (code, out) = runCli("transfer", "--source", sfDir)
    assert(code === 1 && out.exists(_.contains("missing --target")))
  }

  test("transfer --format csv writes COPY-ready shards") {
    val dst = Files.createTempDirectory("clicsv").toString
    val (code, out) = runCli("transfer", "--source", sfDir, "--target", dst,
      "--table", "region", "--format", "csv")
    assert(code === 0, out)
    val lines = spark.read.text(s"$dst/region.csv").collect().map(_.getString(0))
    assert(lines.length === 5)
    assert(lines.forall(_.split(",", -1).length >= 2))
  }

  test("transfer --chunk-column runs chunked with a checkpoint watermark cleared on success") {
    val dst = Files.createTempDirectory("clichunk").toString
    val ckpt = s"$dst/ckpt.json"
    val (code, out) = runCli("transfer", "--source", sfDir, "--target", dst,
      "--table", "orders", "--checkpoint", ckpt,
      "--chunk-column", "o_orderkey", "--chunk-count", "3")
    assert(code === 0, out)
    assert(spark.read.parquet(s"$dst/orders.parquet").count() ===
      spark.read.parquet(s"$sfDir/orders.parquet").count())
    val cp = new graft.transfer.CheckpointManager(ckpt, sfDir, dst)
    assert(cp.isCompleted("orders") && cp.resumeOffset("orders") === 0L)
  }

  test("discover and build work against a live JDBC catalog with constraints") {
    val url = "jdbc:derby:memory:clidisc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE region (r_regionkey INT NOT NULL, r_name VARCHAR(25),
        CONSTRAINT disc_region_pk PRIMARY KEY (r_regionkey))""")
      st.execute("""CREATE TABLE nation (n_nationkey INT NOT NULL, n_regionkey INT NOT NULL,
        CONSTRAINT disc_nation_pk PRIMARY KEY (n_nationkey),
        CONSTRAINT disc_nation_fk FOREIGN KEY (n_regionkey) REFERENCES region (r_regionkey))""")
      st.close()
    } finally conn.close()

    val (dc, dout) = runCli("discover", "--source", url,
      "--driver", "org.apache.derby.jdbc.EmbeddedDriver")
    assert(dc === 0, dout)
    assert(dout.exists(_.startsWith("nation (0 rows) [pk: n_nationkey]")), dout)
    assert(dout.exists(_.contains("fk disc_nation_fk: (n_regionkey) -> region(r_regionkey)")), dout)

    // build straight from the live catalog: full discover→DDL loop
    val f = Files.createTempDirectory("cliddl2").resolve("schema.sql").toString
    val (bc, _) = runCli("build", "--source", url, "--schema", "pg",
      "--driver", "org.apache.derby.jdbc.EmbeddedDriver", "--output", f)
    assert(bc === 0)
    val ddl = new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)
    assert(ddl.contains("PRIMARY KEY (\"n_nationkey\")"), ddl)
    assert(ddl.contains("ADD CONSTRAINT \"disc_nation_fk\""), ddl)
    // FK topo order survives: region created before nation
    assert(ddl.indexOf("CREATE TABLE \"pg\".\"region\"") <
      ddl.indexOf("CREATE TABLE \"pg\".\"nation\""))
  }

  test("transfer and validate drive JDBC endpoints from jdbc: URLs") {
    val url = "jdbc:derby:memory:clijdbc;create=true"
    val drv = "org.apache.derby.jdbc.EmbeddedDriver"
    // parquet → JDBC (the reference's load direction)
    val (up, upOut) = runCli("transfer", "--source", sfDir, "--target", url,
      "--table", "nation", "--driver", drv)
    assert(up === 0, upOut)
    // validate parquet source against the JDBC copy
    val (vc, vout) = runCli("validate", "--source", sfDir, "--target", url,
      "--table", "nation", "--driver", drv)
    assert(vc === 0, vout)
    assert(vout.exists(_.startsWith("nation: PASS")))
    // JDBC → parquet (the extraction direction) round-trips the rows
    val back = Files.createTempDirectory("clijdbcback").toString
    val (down, downOut) = runCli("transfer", "--source", url, "--target", back,
      "--table", "nation", "--driver", drv)
    assert(down === 0, downOut)
    assert(spark.read.parquet(s"$back/nation.parquet").count() ===
      spark.read.parquet(s"$sfDir/nation.parquet").count())
    // a JDBC source without --table fails with a clear message
    val (bad, badOut) = runCli("transfer", "--source", url, "--target", back,
      "--driver", drv)
    assert(bad === 1 && badOut.exists(_.contains("requires --table")))
  }

  test("analyze verb profiles the corpus per language") {
    val (code, out) = runCli("analyze", "--source", sfDir)
    assert(code === 0, out)
    // one line per language plus the exact-dup tail line
    assert(out.count(_.contains("avg_dup_frac")) === 5) // en fr de es zh
    assert(out.exists(_.startsWith("exact-dup rate:")))
    val en = out.find(_.startsWith("en")).get
    assert(en.contains("docs=") && en.contains("tokens="))
  }

  test("analyze --splits and --kl append the split census and KL report") {
    val (code, out) = runCli("analyze", "--source", sfDir, "--splits", "--kl")
    assert(code === 0, out)
    val splitLines = out.filter(_.contains("naive_split_would_leak="))
    assert(splitLines.size === 3, out.mkString("\n")) // train/val/test
    assert(splitLines.exists(_.startsWith("train")))
    val klLines = out.filter(_.contains("kl_vs_corpus="))
    assert(klLines.nonEmpty, out.mkString("\n"))
    // KL is non-negative by Gibbs' inequality (up to per-term rounding)
    val kls = klLines.map(_.split("kl_vs_corpus=")(1).trim.toDouble)
    assert(kls.forall(_ > -1e-6), kls.mkString(","))
  }

  test("analyze --perplexity appends per-language LM cross-entropy") {
    // other suites share this session and may mark plans cached without
    // releasing (plan-only pins); the assertion below is about THIS verb
    spark.catalog.clearCache()
    val (code, out) = runCli("analyze", "--source", sfDir, "--perplexity")
    assert(code === 0, out)
    val xentLines = out.filter(_.contains("avg_xent="))
    assert(xentLines.size === 5, out.mkString("\n")) // one per language
    // self-trained LM on real text: strictly positive, finite bits/bigram
    val avgs = xentLines.map(_.split("avg_xent=")(1).trim.split(" ")(0).toDouble)
    assert(avgs.forall(x => x > 0 && x < 64), avgs.mkString(","))
    // and the run leaves no scoped caches behind
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("analyze --vocab/--padding/--dsir append the round-7 censuses") {
    // the sf0.001 fixture has ~31 distinct words — a top-10 vocab must
    // strand something while still covering the head
    val (code, out) = runCli("analyze", "--source", sfDir,
      "--vocab", "10", "--padding", "--dsir", "en")
    assert(code === 0, out)
    val oov = out.filter(_.contains("oov_rate="))
    assert(oov.size === 5, out.mkString("\n")) // one per language
    assert(oov.exists(_.split("oov_rate=")(1).trim.toDouble > 0))
    assert(oov.forall(_.split("oov_rate=")(1).trim.toDouble < 1.0))
    val pad = out.filter(_.contains("utilization="))
    assert(pad.nonEmpty, out.mkString("\n"))
    // buckets are powers of two
    val buckets = pad.map(_.split("bucket=")(1).trim.split(" ")(0).toLong)
    assert(buckets.forall(b => (b & (b - 1)) == 0), buckets.mkString(","))
    val dsir = out.filter(_.contains("avg_log_w="))
    assert(dsir.size === 5, out.mkString("\n"))
    // the target slice itself must score highest on average
    val byLang = dsir.map(l =>
      l.trim.split("\\s+")(0) -> l.split("avg_log_w=")(1).trim.split(" ")(0).toDouble).toMap
    assert(byLang("en") === byLang.values.max, byLang.toString)
  }

  test("corpus-report emits every census section from one cached corpus scan") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // scan counter: parquet relations left in a frame's OPTIMIZED plan —
    // after cache substitution, so a section served from the shared cache
    // counts zero while a standalone census counts its own corpus scan.
    // Plan-level counting is deterministic where a listener on the async
    // execution bus is racy, and AQE cannot hide logical-plan leaves.
    def scanCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collectWithSubqueries {
        case r: LogicalRelation => r
      }.size
    val censusQueries = Seq("q106_quality_funnel", "q109_source_overlap",
      "q111_source_kl", "q115_vocab_coverage", "q117_padding_waste",
      "q123_token_fertility", "q130_zipf_slope", "q150_length_quantiles",
      "q151_tfidf_terms", "q154_ngram_diversity")
    // standalone verbs first — measured BEFORE the report's cache exists,
    // or Spark's cache manager would substitute it into these plans too
    val separateScans = censusQueries
      .map(n => scanCount(graft.SparkEntry.queries(n)(spark, sfDir))).sum
    assert(separateScans >= 7, s"expected >=1 corpus scan per census, got $separateScans")
    val scope = new graft.operators.CacheScope
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val sections = graft.operators.CorpusReport.sections(docs, scope)
      assert(sections.map(_._1) === Seq("quality_funnel", "source_overlap",
        "source_kl", "vocab_coverage", "padding_waste", "token_fertility",
        "zipf_slope", "heaps_vocab_growth", "boilerplate",
        "length_quantiles", "tfidf_terms", "ngram_diversity"))
      val chainedScans = sections.map(s => scanCount(s._2)).sum
      assert(chainedScans < separateScans,
        s"report sections hit $chainedScans corpus scans vs $separateScans separate")
      // and the sections agree with their oracle-checked twins
      val vocabRows = sections.toMap.apply("vocab_coverage").collect()
      val q115Rows = graft.SparkEntry.queries("q115_vocab_coverage")(spark, sfDir).collect()
      assert(vocabRows.map(_.toString).sorted.toSeq ===
        q115Rows.map(_.toString).sorted.toSeq)
    } finally scope.release()
    // the CLI verb: one JSON document, every section present and populated
    val (code, out) = runCli("corpus-report", "--source", sfDir)
    assert(code === 0, out)
    val json = out.last
    Seq("quality_funnel", "source_overlap", "source_kl", "vocab_coverage",
      "padding_waste", "token_fertility", "zipf_slope", "heaps_vocab_growth",
      "boilerplate", "length_quantiles", "tfidf_terms", "ngram_diversity")
      .foreach { s =>
        assert(json.contains("\"" + s + "\":[{"), s"section $s missing or empty: $json")
      }
  }

  test("analyze --heaps and --boilerplate append the round-8 censuses") {
    val (code, out) = runCli("analyze", "--source", sfDir, "--heaps", "--boilerplate")
    assert(code === 0, out)
    assert(out.exists(_.contains("heaps_beta=")), out.mkString("\n"))
    assert(out.exists(_.contains("boiler_share=")), out.mkString("\n"))
  }

  test("cluster verb reports the k-means census and mines hard negatives") {
    val (code, out) = runCli("cluster", "--source", sfDir, "--k", "4",
      "--iters", "1", "--hard-negatives")
    assert(code === 0, out)
    val clusterLines = out.filter(_.startsWith("cluster="))
    assert(clusterLines.nonEmpty && clusterLines.size <= 4, out.mkString("\n"))
    assert(clusterLines.forall(_.contains("mean_cos=")))
    assert(out.exists(_.contains("hard negatives mined")), out.mkString("\n"))
    assert(out.exists(_.trim.startsWith("anchor=")), out.mkString("\n"))
  }

  test("cluster --graph reports communities, triangles, and top PageRank") {
    val (code, out) = runCli("cluster", "--source", sfDir, "--k", "4",
      "--iters", "1", "--graph")
    assert(code === 0, out)
    val comm = out.find(_.startsWith("communities=")).getOrElse(fail(out.mkString("\n")))
    assert("communities=(\\d+) largest=(\\d+) .*".r.findFirstMatchIn(comm)
      .exists(m => m.group(1).toInt >= 1 && m.group(2).toInt >= 1), comm)
    assert(out.exists(_.startsWith("triangles(node-sum)=")), out.mkString("\n"))
    assert(out.count(_.trim.startsWith("pagerank id=")) === 5, out.mkString("\n"))
  }

  test("decontaminate verb drops training docs overlapping the eval set; bloom matches exact") {
    import org.apache.spark.sql.functions.col
    val evalDir = Files.createTempDirectory("decon_eval").toString
    val dst = Files.createTempDirectory("decon_out").toString
    graft.sources.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 40 === 0)
      .write.parquet(s"$evalDir/documents.parquet")
    spark.catalog.clearCache() // see analyze --perplexity note
    val (code, out) = runCli("decontaminate", "--source", sfDir,
      "--eval", evalDir, "--target", dst, "--method", "ngram")
    assert(code === 0, out)
    val kept = spark.read.parquet(s"$dst/documents.parquet")
    // the eval docs exist verbatim in train — every one must be dropped
    assert(kept.filter(col("doc_id") % 40 === 0).count() === 0)
    assert(kept.count() > 0)
    assert(out.exists(_.contains("contaminated removed (ngram)")), out.mkString("\n"))
    // the Bloom-pruned variant must keep the IDENTICAL id set
    val dst2 = Files.createTempDirectory("decon_out2").toString
    val (code2, _) = runCli("decontaminate", "--source", sfDir,
      "--eval", evalDir, "--target", dst2, "--method", "bloom")
    assert(code2 === 0)
    val ids = (d: String) => spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(dst2) === ids(dst))
    // scoped caches released after the terminal write
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("decontaminate --method semantic drops embedding-cosine matches") {
    import org.apache.spark.sql.functions.col
    val evalDir = Files.createTempDirectory("decon_sem_eval").toString
    val dst = Files.createTempDirectory("decon_sem_out").toString
    // eval = exact copies of a few training vectors → cosine 1.0 hits
    graft.sources.Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 50 === 0)
      .write.parquet(s"$evalDir/embeddings.parquet")
    val (code, out) = runCli("decontaminate", "--source", sfDir,
      "--eval", evalDir, "--target", dst, "--method", "semantic",
      "--table", "embeddings", "--id", "vec_id", "--threshold", "0.99")
    assert(code === 0, out)
    val kept = spark.read.parquet(s"$dst/embeddings.parquet")
    assert(kept.filter(col("vec_id") % 50 === 0).count() === 0)
    assert(kept.count() > 0)
  }

  test("dedup verb removes near-duplicate documents, keeping cluster representatives") {
    val dst = Files.createTempDirectory("clidedup").toString
    val (code, out) = runCli("dedup", "--source", sfDir, "--target", dst,
      "--table", "documents", "--method", "minhash")
    assert(code === 0, out)
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val kept = spark.read.parquet(s"$dst/documents.parquet").count()
    assert(kept < total, s"no duplicates removed ($kept of $total)") // fixture plants near-dups
    assert(out.exists(_.contains("duplicates removed")))
    assert(out.exists(_.matches(
      "documents: components: driver finish, \\d+ bytes of star rows collected .*")),
      out.mkString("\n"))

    // exact mode on a table with no exact dups keeps everything
    val dst2 = Files.createTempDirectory("clidedup2").toString
    val (code2, _) = runCli("dedup", "--source", sfDir, "--target", dst2,
      "--table", "documents", "--method", "exact")
    assert(code2 === 0)
    assert(spark.read.parquet(s"$dst2/documents.parquet").count() ===
      spark.read.parquet(s"$sfDir/documents.parquet")
        .dropDuplicates("text").count())
  }

  test("dedup --sample runs the audit on a deterministic content-hash subset") {
    val dst = Files.createTempDirectory("clisample").toString
    val (code, out) = runCli("dedup", "--source", sfDir, "--target", dst,
      "--table", "documents", "--method", "exact", "--sample", "0.25")
    assert(code === 0, out)
    assert(out.exists(_.contains("sampled audit")), out)
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val kept = spark.read.parquet(s"$dst/documents.parquet").count()
    // ~25% Bernoulli of the corpus (binomial bounds, wide)
    assert(kept > total / 8 && kept < total / 2, s"$kept of $total")
    // deterministic: the same invocation selects the same rows
    val dst2 = Files.createTempDirectory("clisample2").toString
    runCli("dedup", "--source", sfDir, "--target", dst2,
      "--table", "documents", "--method", "exact", "--sample", "0.25")
    val a = spark.read.parquet(s"$dst/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = spark.read.parquet(s"$dst2/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
    // out-of-range rate fails loudly
    val (codeBad, outBad) = runCli("dedup", "--source", sfDir, "--target", dst,
      "--table", "documents", "--sample", "1.5")
    assert(codeBad === 1, outBad)
  }

  test("dedup --method incremental drops batch docs that near-dup the standing corpus") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val exDir = Files.createTempDirectory("cliincr_ex").toString
    val inDir = Files.createTempDirectory("cliincr_in").toString
    val dst = Files.createTempDirectory("cliincr_out").toString
    docs.filter(col("doc_id") % 4 =!= 0).write.parquet(s"$exDir/documents.parquet")
    docs.filter(col("doc_id") % 4 === 0).write.parquet(s"$inDir/documents.parquet")
    val (code, out) = runCli("dedup", "--source", inDir, "--target", dst,
      "--method", "incremental", "--existing", exDir)
    assert(code === 0, out)
    val incoming = spark.read.parquet(s"$inDir/documents.parquet")
    val expectKills = graft.operators.Dedup.incrementalNearDups(
      spark.read.parquet(s"$exDir/documents.parquet"), incoming,
      "doc_id", "text", threshold = 0.5).count()
    assert(expectKills > 0, "fixture should plant cross-split near-dups")
    val kept = spark.read.parquet(s"$dst/documents.parquet").count()
    assert(kept === incoming.count() - expectKills)
  }

  test("dedup --method lines rewrites documents from first-occurrence lines") {
    val dst = Files.createTempDirectory("clilines").toString
    val (code, out) = runCli("dedup", "--source", sfDir, "--target", dst,
      "--method", "lines")
    assert(code === 0, out)
    assert(out.exists(_.matches("documents: line dedup kept \\d+ of \\d+ lines")), out)
    val before = spark.read.parquet(s"$sfDir/documents.parquet")
    val after = spark.read.parquet(s"$dst/documents.parquet")
    assert(after.count() === before.count()) // every document survives
    assert(after.columns.sorted === before.columns.sorted)
    // some line was a later copy somewhere, so total text shrank
    import org.apache.spark.sql.functions.{col, length, sum}
    val lenBefore = before.agg(sum(length(col("text")))).head.getLong(0)
    val lenAfter = after.agg(sum(length(col("text")))).head.getLong(0)
    assert(lenAfter < lenBefore)
  }

  test("dedup --method substring removes repeated spans in place, keeping every doc") {
    val dst = Files.createTempDirectory("clisubstring").toString
    val (code, out) = runCli("dedup", "--source", sfDir, "--target", dst,
      "--method", "substring")
    assert(code === 0, out)
    assert(out.exists(_.matches(
      "documents: substring dedup removed \\d+ tokens across \\d+ documents")), out)
    val before = spark.read.parquet(s"$sfDir/documents.parquet")
    val after = spark.read.parquet(s"$dst/documents.parquet")
    assert(after.count() === before.count()) // rewrite pass, not a row filter
    assert(after.columns.sorted === before.columns.sorted)
    // the fixture has cross-doc repeated 8-grams, so total text shrank
    import org.apache.spark.sql.functions.{col, length, sum}
    val lenBefore = before.agg(sum(length(col("text")))).head.getLong(0)
    val lenAfter = after.agg(sum(length(col("text")))).head.getLong(0)
    assert(lenAfter < lenBefore)
  }

  test("dedup --method containment drops contained documents, keeping containers") {
    import org.apache.spark.sql.functions.{col, when}
    spark.catalog.clearCache()
    val dst = Files.createTempDirectory("clicontain").toString
    val (code, out) = runCli("dedup", "--source", sfDir, "--target", dst,
      "--method", "containment")
    assert(code === 0, out)
    // round-11 ADVICE: this branch omitted `scope = scope`, so the census's
    // per-doc set-size cache landed in the unmanaged session scope and
    // leaked one corpus-sized entry per CLI invocation
    assert(spark.sharedState.cacheManager.isEmpty,
      "containment branch must release its sz cache via the CLI's CacheScope")
    val before = spark.read.parquet(s"$sfDir/documents.parquet")
    val victims = graft.operators.Dedup.containmentPairs(before, "doc_id", "text")
      .select(when(col("a_n") < col("b_n"), col("a_id"))
        .otherwise(col("b_id")).as("doc_id"))
      .distinct().count()
    assert(victims > 0, "fixture should plant contained near-dups")
    val kept = spark.read.parquet(s"$dst/documents.parquet").count()
    assert(kept === before.count() - victims)
  }

  test("dedup --method capped-containment matches the state-bounded census") {
    import org.apache.spark.sql.functions.{col, when}
    val dst = Files.createTempDirectory("clicontaincap").toString
    val (code, out) = runCli("dedup", "--source", sfDir, "--target", dst,
      "--method", "capped-containment")
    assert(code === 0, out)
    val before = spark.read.parquet(s"$sfDir/documents.parquet")
    val victims = graft.operators.Dedup.containmentPairsCapped(
        before, "doc_id", "text")
      .select(when(col("a_n") < col("b_n"), col("a_id"))
        .otherwise(col("b_id")).as("doc_id"))
      .distinct().count()
    assert(victims > 0, "fixture should plant contained near-dups")
    val kept = spark.read.parquet(s"$dst/documents.parquet").count()
    assert(kept === before.count() - victims)
  }

  test("dedup --method rare-containment matches the rare-shingle census") {
    import org.apache.spark.sql.functions.{col, when}
    val dst = Files.createTempDirectory("clicontainrare").toString
    val (code, out) = runCli("dedup", "--source", sfDir, "--target", dst,
      "--method", "rare-containment")
    assert(code === 0, out)
    val before = spark.read.parquet(s"$sfDir/documents.parquet")
    val victims = graft.operators.Dedup.containmentPairsRare(
        before, "doc_id", "text")
      .select(when(col("a_n") < col("b_n"), col("a_id"))
        .otherwise(col("b_id")).as("doc_id"))
      .distinct().count()
    assert(victims > 0, "fixture should plant contained near-dups")
    val kept = spark.read.parquet(s"$dst/documents.parquet").count()
    assert(kept === before.count() - victims)
  }

  test("dedup verb releases its pipeline caches (empty cache manager after the run)") {
    // round-5 verdict: minhashNearDups/lshCandidatePairs cached signatures
    // and bucket frames for the session lifetime — repeated CLI invocations
    // against one session accumulated corpus-sized entries
    spark.catalog.clearCache()
    val dst = Files.createTempDirectory("clidedupcache").toString
    val (code, out) = runCli("dedup", "--source", sfDir, "--target", dst,
      "--table", "documents", "--method", "minhash")
    assert(code === 0, out)
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedup verb must unpersist its pipeline caches after the terminal write")
  }

  test("--log-dir tees output to a timestamped per-action log file, ANSI-stripped") {
    // S12 parity (sf_migrate.py:28-46, 954-976): logs/{ts}_{schema}/{action}.log
    val logBase = Files.createTempDirectory("clilogs").toString
    val (code, out) = runCli("discover", "--source", sfDir,
      "--schema", "tpch", "--log-dir", logBase)
    assert(code === 0)
    val files = Files.walk(Paths.get(logBase)).toArray.map(_.toString)
      .filter(_.endsWith("discover.log"))
    assert(files.length === 1, files.mkString(","))
    // directory name carries the timestamp + schema
    assert(Paths.get(files.head).getParent.getFileName.toString.matches("\\d{8}_\\d{6}_tpch"))
    // the file mirrors exactly what the collector saw
    val logged = new String(Files.readAllBytes(Paths.get(files.head)), StandardCharsets.UTF_8)
      .linesIterator.toSeq
    assert(logged === out)
    // ANSI escapes are stripped on the file side (strip_ansi parity)
    assert(Main.stripAnsi("\u001b[31mFAIL\u001b[0m nation") === "FAIL nation")
  }

  test("build --constraints-jdbc folds live catalog constraints into the DDL") {
    // a live Derby catalog whose table name matches a parquet table
    val url = "jdbc:derby:memory:clidb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        """CREATE TABLE nation (
          n_nationkey INT NOT NULL, n_name VARCHAR(25), n_regionkey INT,
          CONSTRAINT cli_nation_pk PRIMARY KEY (n_nationkey))""")
    } finally conn.close()
    val f = Files.createTempDirectory("cliddl").resolve("schema.sql").toString
    val (code, _) = runCli("build", "--source", sfDir, "--schema", "tpch",
      "--output", f, "--constraints-jdbc", url)
    assert(code === 0)
    val ddl = new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)
    assert(ddl.contains("PRIMARY KEY (\"n_nationkey\")"), ddl)
  }
}
