package graft.cli

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.ddl.DdlGenerator
import graft.dialect.SnowflakeDialect
import graft.meta.TableMeta
import graft.sources.Tables
import graft.transfer._
import graft.validate.Validator

/** CLI orchestration — the reference's seven `sf_migrate` actions
  * (`management/commands/sf_migrate.py:70-312`) over the Spark engine. A
  * "schema" here is a directory of parquet tables (the fixture layout); the
  * same verbs drive JDBC endpoints by swapping the source/sink.
  *
  * discover | build | build-views | destroy | migrate | transfer | validate
  */
object Main {

  def main(args: Array[String]): Unit = {
    // the post-migration "Verify migration?" prompt needs a real console;
    // piped/cron invocations keep the non-interactive default (no prompt)
    val ask: Option[String => String] =
      Option(System.console()).map(c => (q: String) => {
        val a = c.readLine(q); if (a == null) "" else a
      })
    sys.exit(run(args, newSession(), prompt = ask))
  }

  def newSession(): SparkSession = graft.GraftSession()

  /** Parse `--key value` pairs (bare `--flag` becomes "true"). */
  private[cli] def parseOpts(rest: Seq[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < rest.length) {
      val a = rest(i)
      if (a.startsWith("--")) {
        val key = a.drop(2)
        if (i + 1 < rest.length && !rest(i + 1).startsWith("--")) {
          out += key -> rest(i + 1); i += 2
        } else { out += key -> "true"; i += 1 }
      } else i += 1
    }
    out.result()
  }

  def run(args: Array[String], spark: SparkSession, sink: String => Unit = println,
          prompt: Option[String => String] = None): Int = {
    if (args.isEmpty) { sink(usage); return 2 }
    val action = args.head
    val opts = parseOpts(args.tail.toSeq)
    // S12 log tee (sf_migrate.py:28-46, 954-976): mirror every emitted line
    // to {--log-dir}/{ts}_{schema}/{action}.log with ANSI escapes stripped —
    // the reference's timestamped per-run log directory, opt-in via flag
    // (this CLI has no Django BASE_DIR to anchor an implicit logs/ under).
    val teeAttempt: Try[Option[java.io.PrintWriter]] =
      Try(opts.get("log-dir").map { base =>
        val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
        val dir = Paths.get(base, s"${ts}_${opts.getOrElse("schema", "public")}")
        Files.createDirectories(dir)
        new java.io.PrintWriter(Files.newBufferedWriter(
          dir.resolve(s"$action.log"), StandardCharsets.UTF_8))
      })
    // an unwritable --log-dir reports through the same uniform error path
    // as every other failure, not a raw stack trace out of main()
    val tee: Option[java.io.PrintWriter] = teeAttempt match {
      case Failure(e) => sink(s"error: cannot open --log-dir: ${e.getMessage}"); return 1
      case scala.util.Success(t) => t
    }
    // every call site below writes through `out`, so the tee sees exactly
    // what the collector sees
    val out: String => Unit = tee match {
      case Some(w) => s => { sink(s); w.println(stripAnsi(s)) }
      case None => sink
    }
    def req(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    // --sample RATE (dedup/decontaminate): sampled-audit mode — apply a
    // deterministic content-hash Bernoulli sample to the source table
    // before the operators run. Membership is a pure hash threshold
    // (Sampling.qualityWeighted at a constant rate), so the same rows are
    // sampled under any partitioning/run and the audit replays.
    def sampled(df: org.apache.spark.sql.DataFrame, idCol: String)
        : org.apache.spark.sql.DataFrame =
      opts.get("sample").map { r =>
        val rate = r.toDouble
        require(rate > 0.0 && rate <= 1.0, s"--sample must be in (0,1], got $r")
        out(s"sampled audit: deterministic content-hash sample at rate $rate")
        // hash membership needs a string key (ANSI forbids BIGINT→BINARY):
        // sample on the id's canonical string form, then drop the helper
        import org.apache.spark.sql.functions.{col, lit}
        graft.operators.Sampling.qualityWeighted(
          df.withColumn("_sample_key", col(idCol).cast("string")),
          "_sample_key", lit(rate)).drop("_sample_key")
      }.getOrElse(df)
    try Try {
      action match {
        case "discover" =>
          val dir = req("source")
          val tables = discoverAny(spark, dir, opts.getOrElse("schema", "public"), opts)
          if (opts.get("format").contains("json")) {
            val js = tables.map(t =>
              s"""{"table": "${t.name}", "rows": ${t.rowCount.getOrElse(-1L)}, "columns": [""" +
                t.columns.map(c => s""""${c.name} ${c.dataType.simpleString}"""").mkString(", ") + "]}")
              .mkString("[", ",\n ", "]")
            out(js)
          } else tables.foreach { t =>
            val pk = if (t.primaryKey.nonEmpty) s" [pk: ${t.primaryKey.mkString(",")}]" else ""
            out(s"${t.name} (${t.rowCount.getOrElse(-1L)} rows)$pk")
            t.columns.foreach(c => out(s"  ${c.name}: ${c.dataType.simpleString}"))
            t.foreignKeys.foreach(fk => out(
              s"  fk ${fk.name}: (${fk.columns.mkString(",")}) -> " +
                s"${fk.referencedTable.getOrElse("?")}(${fk.referencedColumns.mkString(",")})"))
          }
          0
        case "build" =>
          val dir = req("source")
          val schema = opts.getOrElse("schema", "public")
          // --constraints-jdbc URL: enrich the DDL with PK/FK/UNIQUE from a
          // live catalog (information_schema when present, DatabaseMetaData
          // otherwise) — discovery.py:250-346 parity
          val metas = opts.get("constraints-jdbc") match {
            case Some(url) =>
              opts.get("driver").foreach(Class.forName) // raw-connection path: no ServiceLoader guarantee
              val plain = discoverAny(spark, dir, schema, opts)
              val cschema = opts.getOrElse("constraints-schema", "APP")
              val live = graft.meta.ConstraintDiscovery.discover(spark,
                constraintCatalog(url, cschema, plain.map(_.name.toUpperCase), opts),
                cschema)
              plain.map(graft.meta.ConstraintDiscovery.enrich(_, live))
            case None => discoverAny(spark, dir, schema, opts)
          }
          // tables discovered from a live database carry its catalog schema
          // (e.g. APP) — the emitted DDL re-homes them in the target schema
          val ddl = DdlGenerator.generateSchemaDdl(schema, metas.map(_.copy(schema = schema)))
          opts.get("output") match {
            case Some(f) =>
              Files.write(Paths.get(f), ddl.mkString(";\n\n").getBytes(StandardCharsets.UTF_8))
              out(s"wrote ${ddl.length} statements to $f")
            case None => ddl.foreach(s => out(s + ";"))
          }
          0
        case "build-views" =>
          val dir = req("source")
          val viewsFile = req("views")
          Tables.registerAll(spark, dir)
          val raw = new String(Files.readAllBytes(Paths.get(viewsFile)), StandardCharsets.UTF_8)
          // one CREATE VIEW per `-- view: <name>` section, one manual-TODO
          // stub per `-- procedure: <name>` section
          val header = "(?m)^-- (view|procedure): (.+)$".r
          val heads = header.findAllMatchIn(raw).toVector
          var failures = 0
          var procStubs = 0
          var views = 0
          heads.zipWithIndex.foreach { case (m, idx) =>
            val kind = m.group(1)
            val name = m.group(2).trim
            val end = if (idx + 1 < heads.length) heads(idx + 1).start else raw.length
            val body = raw.substring(m.end, end).trim
            kind match {
              case "view" =>
                views += 1
                val translated = SnowflakeDialect.translate(body)
                val deps = Try(SnowflakeDialect.crossSchemaRefs(
                  spark, translated, opts.getOrElse("schema", "public"))).getOrElse(Nil)
                if (deps.nonEmpty)
                  out(s"view $name: WARNING cross-schema refs: ${deps.mkString(", ")}")
                Try(spark.sql(translated).createOrReplaceTempView(name)) match {
                  case Success(_) => out(s"view $name: OK")
                  case Failure(e) => out(s"view $name: FAILED ${e.getMessage.linesIterator.next()}"); failures += 1
                }
              case "procedure" =>
                // procedures are not auto-translated — Snowflake bodies are
                // JavaScript/SQL-scripting with no Spark counterpart; emit
                // the reference's manual-TODO stub with the original text
                // preserved and count it in the report
                // (view_procedure_translator.py:343-383). The reference
                // skips an empty body entirely (`if not snowflake_ddl`).
                if (body.isEmpty) out(s"procedure $name: skipped (empty body)")
                else {
                  procedureStub(name, body,
                    opts.getOrElse("schema", "public")).foreach(out)
                  out(s"procedure $name: WARNING requires manual translation")
                  procStubs += 1
                }
            }
          }
          out(s"build-views: $views views, $failures failed, " +
            s"$procStubs procedures requiring manual translation")
          if (failures == 0) 0 else 1
        case "destroy" =>
          val dir = req("target")
          val confirm = req("confirm")
          val name = Paths.get(dir).getFileName.toString
          if (confirm != name) {
            out(s"confirmation '$confirm' does not match target schema '$name' — aborting")
            1
          } else {
            deleteRecursive(Paths.get(dir)); out(s"destroyed $dir"); 0
          }
        case "transfer" | "migrate" =>
          val src = req("source")
          val dst = req("target")
          // endpoints: a `jdbc:` URL selects the JDBC connector (the
          // reference's Snowflake→PostgreSQL shape); anything else is a
          // parquet directory. JDBC sources need --table/--tables (no
          // directory to list).
          val tables = opts.get("table").map(Seq(_))
            .orElse(opts.get("tables").map(_.split(',').toSeq))
            .getOrElse {
              if (src.startsWith("jdbc:"))
                throw new IllegalArgumentException("JDBC source requires --table or --tables")
              listTables(src)
            }
          if (action == "migrate" && !src.startsWith("jdbc:") && !dst.startsWith("jdbc:")) {
            val schema = opts.getOrElse("schema", "public")
            val ddl = DdlGenerator.generateSchemaDdl(
              schema, discoverTables(spark, src, schema))
            Files.createDirectories(Paths.get(dst))
            Files.write(Paths.get(dst, "_schema.sql"),
              ddl.mkString(";\n\n").getBytes(StandardCharsets.UTF_8))
          }
          val cp = opts.get("checkpoint").map(f => new CheckpointManager(f, src, dst))
          val jdbcOpts = opts.get("driver").map(d => Map("driver" -> d)).getOrElse(Map.empty)
          // a jdbc: URL fixes the source connector — a --source-format
          // alongside it is a misplaced flag, and silently ignoring it
          // (pre-round-5 behavior) reads a different format than the user
          // asked for; fail loudly like the unsupported-format cases below
          if (src.startsWith("jdbc:") && opts.contains("source-format"))
            throw new IllegalArgumentException(
              "--source-format does not apply to a jdbc: source")
          val source: TableSource =
            if (src.startsWith("jdbc:")) new JdbcSource(src, jdbcOpts)
            else opts.get("source-format") match {
              case Some("orc")   => new OrcSource(src)
              case Some("jsonl") => new JsonLinesSource(src)
              case Some(other) if other != "parquet" =>
                throw new IllegalArgumentException(s"unsupported --source-format $other")
              case _ => new ParquetSource(src)
            }
          val sink: TableSink = opts.get("format") match {
            case Some("csv") => new CsvBulkSink(dst) // COPY-ready shards
            case Some("copy") => // executed COPY FROM STDIN, per-partition
              if (!dst.startsWith("jdbc:"))
                throw new IllegalArgumentException("--format copy requires a jdbc: target")
              // two transports for the same CopySession contract: `jdbc`
              // drives pgjdbc's CopyManager (needs the jar on the task
              // classpath), `wire` speaks the v3 COPY-IN protocol directly
              // (zero dependencies, unix-socket capable)
              val copyFactory: CopySessionFactory = opts.get("copy-transport") match {
                case Some("wire")        => PgWireCopySessionFactory.fromJdbcUrl(dst, jdbcOpts)
                case Some("jdbc") | None => new PgCopySessionFactory(dst, jdbcOpts)
                case Some(other) =>
                  throw new IllegalArgumentException(s"unsupported --copy-transport $other (wire|jdbc)")
              }
              new CopyManagerSink(copyFactory)
            case Some("orc") => new OrcSink(dst,
              partitionColumns = opts.get("partition-by")
                .map(_.split(',').toSeq).getOrElse(Nil),
              compression = opts.get("compression"))
            case Some("jsonl") =>
              new JsonLinesSink(dst, gzip = opts.get("compression").contains("gzip"))
            case Some(other) if other != "parquet" =>
              // a typo must not silently fall through to parquet (or be
              // swallowed by a jdbc target)
              throw new IllegalArgumentException(s"unsupported --format $other")
            case _ if dst.startsWith("jdbc:") => new JdbcSink(dst, jdbcOpts)
            case _ => new ParquetSink(dst,
              partitionColumns = opts.get("partition-by")
                .map(_.split(',').toSeq).getOrElse(Nil),
              compression = opts.get("compression"),
              // --manifest-keys COL[,COL..]: maintain the file catalog at
              // write time (round 12) — each table's manifest lands at
              // $dst/_manifest/$table, kept current per write, no rescan
              manifestKeys = opts.get("manifest-keys").map(_.split(',').toSeq))
          }
          // --manifest-keys rides the parquet sink's footer reader; on any
          // other format it would be a silent no-op — fail loudly instead
          if (opts.contains("manifest-keys") &&
              (opts.get("format").exists(_ != "parquet") || dst.startsWith("jdbc:")))
            throw new IllegalArgumentException(
              "--manifest-keys requires a parquet target (the manifest is " +
                "maintained from parquet footers)")
          // --verify needs parquet on both sides (the nested validate reads
          // $dir/$t.parquet) and an unfiltered transfer (it compares full
          // source vs target counts) — fail before transferring, not after
          if (opts.contains("verify") && opts.get("format").exists(_ != "parquet"))
            throw new IllegalArgumentException(
              s"--verify cannot read back a --format ${opts("format")} target")
          if (opts.contains("verify") && opts.get("source-format").exists(_ != "parquet"))
            throw new IllegalArgumentException(
              s"--verify cannot re-read a --source-format ${opts("source-format")} source")
          if (opts.contains("verify") && (opts.contains("where") || opts.contains("limit")))
            throw new IllegalArgumentException(
              "--verify compares full source vs target counts, so a --where/--limit " +
                "transfer would always fail verification — run validate manually instead")
          // --chunk-column KEY: per-chunk checkpoint commits + mid-table resume
          if (opts.contains("chunk-column") && cp.isEmpty)
            throw new IllegalArgumentException(
              "--chunk-column requires --checkpoint FILE (chunk progress must be recorded " +
                "somewhere to resume from)")
          if (opts.contains("chunk-column") && opts.contains("limit"))
            throw new IllegalArgumentException(
              "--chunk-column cannot combine with --limit (a row limit has no stable " +
                "assignment to key-range chunks)")
          val chunked = opts.get("chunk-column")
            .map(c => tables.map(_ -> c).toMap).getOrElse(Map.empty[String, String])
          val engine = new TransferEngine(
            source, sink, cp,
            where = opts.get("where"), limit = opts.get("limit").map(_.toInt),
            chunkColumns = chunked,
            chunkCount = opts.getOrElse("chunk-count", "8").toInt)
          val stats = engine.transferSchema(spark, tables,
            workers = opts.getOrElse("workers", "1").toInt)
          stats.foreach(s => out(
            f"${s.tableName}%-12s ${if (s.success) "OK" else "FAIL"}%-4s " +
              f"${s.rowsTransferred}%9d rows ${s.transferTimeSec}%6.2fs " +
              f"${s.rowsPerSecond}%10.0f rows/s${s.errorMessage.map(" " + _).getOrElse("")}"))
          val transferCode = if (stats.forall(_.success)) 0 else 1
          // --verify: run the validation suite inline after a successful
          // transfer — the non-interactive equivalent of the reference's
          // post-migration "Verify migration?" prompt (sf_migrate.py:
          // 940-952, which calls its verifier on yes). Only a readable
          // target can be validated: csv/copy shards have no read side.
          // Interactive parity (C12): with a console attached and no
          // --verify flag, a successful migrate asks the reference's
          // "Verify migration?" question inline (sf_migrate.py:940-952);
          // 'y'/'yes' runs the verifier, anything else (or no console)
          // keeps the answer no. A readable-format check guards the
          // prompted path the same way the flag path is pre-validated.
          val wantsVerify = opts.contains("verify") ||
            (action == "migrate" && transferCode == 0 && prompt.exists { ask =>
              opts.get("format").forall(_ == "parquet") &&
              opts.get("source-format").forall(_ == "parquet") &&
              !opts.contains("where") && !opts.contains("limit") && {
                val a = ask("Verify migration? [y/N]: ").trim.toLowerCase
                a == "y" || a == "yes"
              }
            })
          if (wantsVerify && transferCode == 0) {
            val nested = Seq("validate", "--source", src, "--target", dst,
              "--tables", tables.mkString(",")) ++
              opts.get("driver").toSeq.flatMap(d => Seq("--driver", d)) ++
              opts.get("pk").toSeq.flatMap(p => Seq("--pk", p))
            run(nested.toArray, spark, out) // no --log-dir: outer tee captures
          } else transferCode
        case "analyze" =>
          // one-command corpus profile: per-language doc/token budgets,
          // quality (repetition) distribution, exact-dup rate — the report
          // a training-data pipeline runs before deciding sampling weights
          import org.apache.spark.sql.functions._
          import graft.operators.TextAnalysis
          val src = req("source")
          val table = opts.getOrElse("table", "documents")
          val textCol = opts.getOrElse("text-col", "text")
          val langCol = opts.getOrElse("lang-col", "lang")
          val df = spark.read.parquet(s"$src/$table.parquet")
            .withColumn("__tokens", TextAnalysis.tokenCount(col(textCol)))
            .withColumn("__dup_frac", TextAnalysis.dupTrigramFraction(textCol))
            .cache()
          val profile = df.groupBy(col(langCol)).agg(
            count(lit(1)).as("docs"),
            sum(col("__tokens")).as("tokens"),
            avg(col("__tokens")).as("avg_tokens"),
            avg(col("__dup_frac")).as("avg_dup_frac"),
            sum(when(col("__dup_frac") >= 0.2, 1L).otherwise(0L)).as("repetitious"))
            .orderBy(col(langCol))
          profile.collect().foreach(r => out(
            f"${r.get(0)}%-8s docs=${r.getLong(1)}%6d tokens=${r.getLong(2)}%9d " +
              f"avg_tokens=${r.getDouble(3)}%7.1f avg_dup_frac=${r.getDouble(4)}%5.3f " +
              f"repetitious=${r.getLong(5)}%d"))
          val total = df.count()
          val distinct = df.select(md5(col(textCol).cast("binary"))).distinct().count()
          out(s"exact-dup rate: ${total - distinct} of $total docs " +
            f"(${100.0 * (total - distinct) / math.max(total, 1)}%.2f%%)")
          // --perplexity: self-trained bigram-LM cross-entropy per language
          // (train = the corpus itself) — mislabeled-language and noise
          // docs surface as per-lang outliers of the fluency distribution
          if (opts.contains("perplexity")) {
            val idCol = opts.getOrElse("id", "doc_id")
            val scope = new graft.operators.CacheScope
            try {
              val xent = TextAnalysis.ngramLmCrossEntropy(df, df, idCol, textCol,
                scope = scope)
              df.select(col(idCol), col(langCol))
                .join(xent, Seq(idCol))
                .groupBy(col(langCol))
                .agg(avg(col("xent")).as("avg_xent"), max(col("xent")).as("max_xent"))
                .orderBy(col(langCol))
                .collect().foreach(r => out(
                  f"${r.get(0)}%-8s avg_xent=${r.getDouble(1)}%6.3f max_xent=${r.getDouble(2)}%6.3f"))
            } finally scope.release()
          }
          // --splits: leakage-safe cluster-aware train/val/test census
          if (opts.contains("splits")) {
            val idCol = opts.getOrElse("id", "doc_id")
            graft.operators.Splits.clusterSplitCensus(df, idCol, textCol)
              .collect().foreach(r => out(
                f"${r.getString(0)}%-6s clusters=${r.getLong(1)}%6d docs=${r.getLong(2)}%6d " +
                  f"naive_split_would_leak=${r.getLong(3)}%d"))
          }
          // --kl: per-source unigram KL divergence vs the corpus blend
          if (opts.contains("kl")) {
            val srcCol = opts.getOrElse("source-col", "source")
            graft.operators.TextAnalysis.unigramKlBySource(df, srcCol, textCol)
              .collect().foreach(r => out(
                f"${r.getString(0)}%-12s tokens=${r.getLong(1)}%9d vocab=${r.getLong(2)}%7d " +
                  f"kl_vs_corpus=${r.getDouble(3)}%7.4f"))
          }
          // --vocab V: OOV rate per language under a top-V global vocabulary
          if (opts.contains("vocab")) {
            val v = opts("vocab").toInt
            graft.operators.TextAnalysis.vocabCoverage(df, langCol, textCol, v)
              .collect().foreach(r => out(
                f"${r.get(0)}%-8s tokens=${r.getLong(1)}%9d oov=${r.getLong(2)}%8d " +
                  f"oov_rate=${r.getDouble(3)}%6.4f"))
          }
          // --padding: power-of-two batch-bucket utilization census
          if (opts.contains("padding")) {
            graft.operators.TextAnalysis.paddingWaste(df, textCol)
              .collect().foreach(r => out(
                f"bucket=${r.getLong(0)}%5d docs=${r.getLong(1)}%6d " +
                  f"pad_tokens=${r.getLong(3)}%9d utilization=${r.getDouble(4)}%5.3f"))
          }
          // --heaps: Heaps'-law vocabulary growth per language (full vs
          // deterministic md5-half slice) — does this language keep
          // minting new types as the corpus grows?
          if (opts.contains("heaps")) {
            val idCol = opts.getOrElse("id", "doc_id")
            graft.operators.TextAnalysis.heapsCensus(df, langCol, textCol, idCol)
              .collect().foreach(r => out(
                f"${r.get(0)}%-8s tokens=${r.getLong(1)}%9d types=${r.getLong(2)}%7d " +
                  f"half_types=${r.getLong(4)}%7d heaps_beta=${r.getDouble(5)}%6.3f"))
          }
          // --boilerplate: per-source share of volume in lines repeated
          // across documents corpus-wide (is a line-dedup pass worth it?)
          if (opts.contains("boilerplate")) {
            val idCol = opts.getOrElse("id", "doc_id")
            val srcCol = opts.getOrElse("source-col", "source")
            graft.operators.TextAnalysis.boilerplateCensus(df, idCol, textCol, srcCol)
              .collect().foreach(r => out(
                f"${r.getString(0)}%-12s lines=${r.getLong(1)}%7d boiler=${r.getLong(2)}%6d " +
                  f"docs_affected=${r.getLong(3)}%5d boiler_share=${r.getDouble(4)}%6.4f"))
          }
          // --dsir LANG: DSIR importance-weight distribution of the corpus
          // against the given target language slice
          opts.get("dsir").foreach { targetLang =>
            val idCol = opts.getOrElse("id", "doc_id")
            val w = graft.operators.TextAnalysis.dsirWeights(
              df, idCol, textCol, col(langCol) === targetLang)
            df.select(col(idCol), col(langCol)).join(w, Seq(idCol))
              .groupBy(col(langCol))
              .agg(avg(col("log_weight")).as("avg_lw"),
                max(col("log_weight")).as("max_lw"))
              .orderBy(col(langCol))
              .collect().foreach(r => out(
                f"${r.get(0)}%-8s avg_log_w=${r.getDouble(1)}%8.3f " +
                  f"max_log_w=${r.getDouble(2)}%8.3f"))
          }
          df.unpersist()
          0
        case "cluster" =>
          // embedding-space topic discovery: deterministic Lloyd k-means
          // census (per-cluster size + member-cosine quality), optionally
          // the hard-negative mining report — the two vector-side curation
          // passes next to `decontaminate --method semantic`
          import org.apache.spark.sql.functions.col
          val src = req("source")
          val table = opts.getOrElse("table", "embeddings")
          val idCol = opts.getOrElse("id", "vec_id")
          val vecCol = opts.getOrElse("vec-col", "embedding")
          val k = opts.getOrElse("k", "8").toInt
          val iters = opts.getOrElse("iters", "2").toInt
          val df = spark.read.parquet(s"$src/$table.parquet")
          graft.operators.Ivf.kmeansCensus(df, idCol, vecCol, k, iters)
            .collect().foreach(r => out(
              f"cluster=${r.getInt(0)}%2d seed=${r.getLong(1)}%6d " +
                f"members=${r.getLong(2)}%6d mean_cos=${r.getDouble(3)}%6.4f " +
                f"min_cos=${r.getDouble(4)}%7.4f"))
          if (opts.contains("hard-negatives")) {
            val labelCol = opts.getOrElse("label-col", "label")
            val negs = graft.operators.Similarity.hardNegatives(
              df, idCol, vecCol, labelCol, k = 1)
            val n = negs.count()
            val top = negs.orderBy(col("cosine").desc, col("a_id")).limit(10).collect()
            out(s"hard negatives mined for $n anchors; 10 most confusable:")
            top.foreach(r => out(
              f"  anchor=${r.getLong(0)}%6d(label ${r.getInt(1)}%2d) " +
                f"neg=${r.getLong(2)}%6d(label ${r.getInt(3)}%2d) " +
                f"cosine=${r.getDouble(4)}%6.4f"))
          }
          // --graph: similarity-graph structure report — LPA communities,
          // triangle/clustering census, top PageRank — the neighborhood
          // view of the same vectors the k-means census partitions
          if (opts.contains("graph")) {
            import org.apache.spark.sql.functions.{count => fcount, lit, sum => fsum, max => fmax, avg}
            // scoped: the graph operators cache their edge frames (round
            // 10); released after the report so repeated CLI invocations
            // never accumulate session-lifetime entries (round-5 lesson)
            val gscope = new graft.operators.CacheScope
            try {
            val edges = graft.operators.Similarity.knnGraph(df, k = 5)
              .select(col("a_id").as("src"), col("b_id").as("dst"))
            val nodes = df.select(col(idCol).as("id"))
            val comms = graft.operators.Graph.labelPropagation(nodes, edges,
                iters = 3, scope = gscope)
              .groupBy(col("label")).agg(fcount(lit(1)).as("n"))
            val cs = comms.agg(fcount(lit(1)), fmax(col("n")), avg(col("n"))).head
            out(f"communities=${cs.getLong(0)}%d largest=${cs.getLong(1)}%d " +
              f"mean_size=${cs.getDouble(2)}%.1f")
            // triangleCensus requires a deduplicated a_id<b_id undirected
            // edge list; knnGraph emits DIRECTED per-node top-k edges
            // (possibly both orientations of a pair, possibly one), so
            // canonicalize first — mixed orientations never close a
            // directed 3-cycle under the compact-forward join and
            // reciprocal edges double-count degree.
            import org.apache.spark.sql.functions.{least, greatest}
            val tri = graft.operators.Graph.triangleCensus(
              edges.select(least(col("src"), col("dst")).as("a_id"),
                greatest(col("src"), col("dst")).as("b_id")).distinct(),
              scope = gscope)
            val ts = tri.agg(fsum(col("n_triangles")), avg(col("clustering"))).head
            out(f"triangles(node-sum)=${ts.getLong(0)}%d " +
              f"mean_clustering=${ts.getDouble(1)}%.4f")
            graft.operators.Graph.pageRank(nodes, edges, iters = 3,
                scope = gscope)
              .orderBy(col("pagerank").desc, col("id")).limit(5)
              .collect().foreach(r => out(
                f"  pagerank id=${r.getLong(0)}%6d pr=${r.getDouble(1)}%.6f " +
                  f"out=${r.getLong(2)}%d"))
            } finally gscope.release()
          }
          0
        case "manifest" =>
          // the file-catalog workflow end-to-end (round 11, rebuilt round
          // 12, sources.Manifest): bootstrap a manifest from a table
          // directory (--build, full scan), keep it current incrementally
          // (--update, parquet-footer stats only — novel files appended,
          // stale rows dropped, zero data pages read), or answer stats
          // questions without opening a data file (--count with optional
          // key range). --key takes a comma list; zone maps keep each key's
          // NATIVE type, so numeric keys prune numerically (round-11 advice:
          // the old string-cast zone map compared doc_id lexicographically).
          val src = req("source")
          val table = opts.getOrElse("table", "documents")
          val keyCols = opts.getOrElse("key", "doc_id").split(",").toSeq
          val manifestPath = opts.getOrElse("manifest", s"$src/_manifest/$table")
          if (opts.contains("build")) {
            val entries = graft.sources.Manifest.build(spark, src, table, keyCols)
            graft.sources.Manifest.write(entries, manifestPath)
            val n = spark.read.parquet(manifestPath).count()
            out(s"manifest for $table written to $manifestPath ($n files)")
          } else if (opts.contains("update")) {
            val (added, removed) = graft.sources.Manifest.update(
              spark, src, table, keyCols, manifestPath)
            out(s"manifest for $table updated at $manifestPath " +
              s"(+$added files, -$removed stale)")
          } else if (opts.contains("backfill-sums-all")) {
            // run-to-completion form (round 17): pages the bounded pass on
            // a path cursor until no candidate remains, logging each pass —
            // saves the operator the rerun loop, and the cursor guarantees
            // progress even when a whole cap-sized batch is unfillable
            val (filled, unfillable) = graft.sources.Manifest
              .backfillSumsAll(spark, manifestPath, out)
            out(s"manifest at $manifestPath: backfilled sums for $filled files" +
              (if (unfillable > 0)
                 s"; $unfillable unfillable (unknown null counts, absent keys, or overflow)"
               else ""))
          } else if (opts.contains("backfill-sums")) {
            // catalogs maintained before the sums column (or updates past
            // the sum-scan cap) hold NULL sums over real rows, so SUM
            // stays scan-speed there — one bounded pass per invocation
            // fills them and upgrades a pre-sums schema (round 16)
            val n = graft.sources.Manifest.backfillSums(spark, manifestPath)
            out(s"manifest at $manifestPath: backfilled sums for $n files")
          } else if (opts.contains("compact")) {
            // incremental appends (one tiny file per micro-batch/update)
            // fragment the catalog and break its own range layout —
            // --compact restores the sorted range-partitioned form so
            // manifest scans prune again (round 13)
            val (rows, before, after) =
              graft.sources.Manifest.compact(spark, manifestPath)
            out(s"manifest for $table compacted at $manifestPath " +
              s"($rows entries, $before -> $after files)")
          } else {
            import org.apache.spark.sql.functions.col
            // stats mode reads the key name from the manifest itself unless
            // --key overrides — the zone-map column was fixed at build time
            val k = opts.get("key").map(_.split(",").head).getOrElse(
              spark.read.parquet(manifestPath).schema("mins").dataType
                .asInstanceOf[org.apache.spark.sql.types.StructType]
                .fields.head.name)
            // the bounds are a row predicate on the key (string CLI values
            // coerce to its native type), classified as the SQL rules do
            val pred = Seq(opts.get("min-key").map(col(s"`$k`") >= _),
                opts.get("max-key").map(col(s"`$k`") <= _)).flatten
              .reduceOption(_ && _).getOrElse(org.apache.spark.sql.functions.lit(true))
            val graft.sources.Manifest.Slice(rows, files) =
              graft.sources.Manifest.slice(spark, manifestPath, table, pred)
            out(s"$table: $rows rows across $files files (from stats, no data files opened)")
          }
          0

        case "corpus-report" =>
          // the reference's `discover` report analogue for the text
          // pipeline: one command, one JSON document with every census
          // section (quality funnel, source overlap, KL, vocab/OOV,
          // padding, fertility, Zipf slope), built over ONE cached corpus
          // scan and ONE cached unigram explode (CorpusReport) instead of
          // seven separate corpus scans.
          val src = req("source")
          val table = opts.getOrElse("table", "documents")
          val scope = new graft.operators.CacheScope
          try {
            val docs = spark.read.parquet(s"$src/$table.parquet")
            val json = graft.operators.CorpusReport.reportJson(docs, scope)
            opts.get("output") match {
              case Some(path) =>
                java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json + "\n")
                out(s"corpus report written to $path")
              case None => out(json)
            }
          } finally scope.release()
          0
        case "dedup" =>
          // training-data surface: exact or near-dup (MinHash→components)
          // dedup of one table; keeps the minimum-id representative per
          // duplicate group and writes the deduplicated table
          import org.apache.spark.sql.functions.{col, md5, min => fmin, row_number, when}
          val src = req("source")
          val table = opts.getOrElse("table", "documents")
          val dst = req("target")
          val idCol = opts.getOrElse("id", "doc_id")
          val textCol = opts.getOrElse("text-col", "text")
          // --sample RATE: sampled-audit mode — a deterministic content-
          // hash Bernoulli sample (Sampling.qualityWeighted at a constant
          // rate: replayable, partition-independent) feeds the SAME
          // operators, so an exact-intersection-class audit (the q124
          // calibration shape, 52 CPU-s at sf0.1) has a stated production
          // story at corpus scale: run it on the sample, read the rate.
          val df = sampled(spark.read.parquet(s"$src/$table.parquet"), idCol)
          val total = df.count()
          // pipeline caches live exactly as long as this verb: released
          // after the terminal write, so a long-lived session (or repeated
          // CLI invocations against one session) ends with an empty cache
          // manager instead of accumulating corpus-sized signature frames
          val scope = new graft.operators.CacheScope
          try {
            val kept = opts.getOrElse("method", "exact") match {
              case "exact" =>
                // keep the min-id row per exact content hash
                val w = org.apache.spark.sql.expressions.Window
                  .partitionBy(md5(col(textCol))).orderBy(col(idCol))
                df.withColumn("__rn", row_number().over(w))
                  .filter(col("__rn") === 1).drop("__rn")
              case "minhash" =>
                val thr = opts.getOrElse("threshold", "0.5").toDouble
                val pairs = graft.operators.Dedup.minhashNearDups(
                  df, idCol, textCol, thr, scope = scope)
                val cc = graft.operators.Dedup.componentsRun(pairs)
                out(s"$table: ${cc.describe}")
                val drop = cc.labels
                  .filter(col("node") =!= col("label")) // keep each cluster's min id
                  .select(col("node").as(idCol))
                df.join(drop, Seq(idCol), "left_anti")
              case "lines" =>
                // RefinedWeb/CCNet line-level pass: every document survives,
                // its text rebuilt from globally-first-occurrence lines
                val lt = opts.getOrElse("line-tokens", "10").toInt
                val clean = scope.cached(
                  graft.operators.LineDedup.dedupLines(df, idCol, textCol, lt))
                val ls = clean.agg(
                  org.apache.spark.sql.functions.sum("n_lines"),
                  org.apache.spark.sql.functions.sum("n_kept")).head
                out(s"$table: line dedup kept ${ls.getLong(1)} of ${ls.getLong(0)} lines")
                df.drop(textCol).join(
                  clean.select(col(idCol), col("clean_text").as(textCol)),
                  Seq(idCol), "inner")
              case "substring" =>
                // Lee et al. exact-substring pass: every document survives,
                // repeated >=K-token spans removed (first occurrence wins)
                val kTok = opts.getOrElse("ngram", "8").toInt
                val acct = graft.operators.SubstringDedup.killSpans(df, idCol, textCol, kTok)
                  .agg(org.apache.spark.sql.functions.sum("removed_tokens"),
                    org.apache.spark.sql.functions.count(col(idCol))).head
                if (!acct.isNullAt(0))
                  out(s"$table: substring dedup removed ${acct.getLong(0)} tokens " +
                    s"across ${acct.getLong(1)} documents")
                graft.operators.SubstringDedup.rewrite(df, idCol, textCol, kTok)
              case "incremental" =>
                // rolling ingestion: drop incoming docs that near-dup the
                // standing corpus (--existing) or an earlier batch mate;
                // existing x existing pairs are never formed
                val ex = opts.getOrElse("existing",
                  throw new IllegalArgumentException("--existing DIR required for --method incremental"))
                val thr = opts.getOrElse("threshold", "0.5").toDouble
                val existing = spark.read.parquet(s"$ex/$table.parquet")
                // the operator's contract is disjoint id spaces; a shared
                // id (--existing pointed at the source, an id collision)
                // must fail loudly, not silently skew the kill set
                val overlap = existing.select(col(idCol))
                  .join(df.select(col(idCol)), Seq(idCol), "left_semi").count()
                if (overlap > 0)
                  throw new IllegalArgumentException(
                    s"--existing shares $overlap ${idCol} value(s) with --source — " +
                      "incremental dedup requires disjoint id spaces")
                val kills = graft.operators.Dedup.incrementalNearDups(
                  existing, df, idCol, textCol, thr, scope = scope)
                  .select(col(idCol))
                df.join(kills, Seq(idCol), "left_anti")
              case "containment" =>
                // doc-in-doc pass (Broder containment): the contained doc
                // (smaller shingle set) is the redundant one; equal sizes
                // kill the larger id so the rule is deterministic
                val thr = opts.getOrElse("threshold", "0.8").toDouble
                val pairs = graft.operators.Dedup.containmentPairs(
                  df, idCol, textCol, minContainment = thr, scope = scope)
                val victims = pairs.select(
                  when(col("a_n") < col("b_n"), col("a_id"))
                    .otherwise(col("b_id")).as(idCol)).distinct()
                df.join(victims, Seq(idCol), "left_anti")
              case "capped-containment" =>
                // same doc-in-doc rule over the state-bounded census
                // (containmentPairsCapped): the corpus-scale default —
                // inverted lists capped at 64, pair stream linear
                val thr = opts.getOrElse("threshold", "0.8").toDouble
                val pairs = graft.operators.Dedup.containmentPairsCapped(
                  df, idCol, textCol, minContainment = thr, scope = scope)
                val victims = pairs.select(
                  when(col("a_n") < col("b_n"), col("a_id"))
                    .otherwise(col("b_id")).as(idCol)).distinct()
                df.join(victims, Seq(idCol), "left_anti")
              case "rare-containment" =>
                // rare-shingle containment (df<=20 both sides):
                // boilerplate-robust and the cheapest at corpus scale
                val thr = opts.getOrElse("threshold", "0.8").toDouble
                val pairs = graft.operators.Dedup.containmentPairsRare(
                  df, idCol, textCol, minContainment = thr, scope = scope)
                val victims = pairs.select(
                  when(col("a_n") < col("b_n"), col("a_id"))
                    .otherwise(col("b_id")).as(idCol)).distinct()
                df.join(victims, Seq(idCol), "left_anti")
              case other => throw new IllegalArgumentException(s"unknown method: $other")
            }
            new ParquetSink(dst).write(kept, table)
          } finally scope.release()
          val keptN = spark.read.parquet(s"$dst/$table.parquet").count()
          out(s"$table: $total rows -> $keptN kept, ${total - keptN} duplicates removed")
          0
        case "decontaminate" =>
          // train/eval hygiene as a verb: drop (or just count) training
          // documents that overlap an eval/benchmark set — exact n-gram
          // overlap, its Bloom-pruned scale variant (identical result), or
          // embedding-cosine for paraphrased leakage. Writes the cleaned
          // table plus a per-document hit report.
          import org.apache.spark.sql.functions.col
          val src = req("source")
          val evalDir = req("eval")
          val dst = req("target")
          val table = opts.getOrElse("table", "documents")
          val idCol = opts.getOrElse("id", "doc_id")
          val method = opts.getOrElse("method", "ngram")
          val scope = new graft.operators.CacheScope
          try {
            val (df, flaggedIds) = method match {
              case "ngram" | "bloom" =>
                val textCol = opts.getOrElse("text-col", "text")
                val k = opts.getOrElse("ngram", "4").toInt
                val train = sampled(spark.read.parquet(s"$src/$table.parquet"), idCol)
                val eval = spark.read.parquet(s"$evalDir/$table.parquet")
                val hits =
                  if (method == "ngram")
                    graft.operators.TextAnalysis.ngramOverlap(
                      train, eval, idCol, textCol, k)
                  else graft.operators.TextAnalysis.bloomNgramOverlap(
                    train, eval, idCol, textCol, k, scope = scope)
                (train, hits.select(col(idCol)))
              case "semantic" =>
                val vecCol = opts.getOrElse("vec-col", "embedding")
                val thr = opts.getOrElse("threshold", "0.9").toDouble
                val train = sampled(spark.read.parquet(s"$src/$table.parquet"), idCol)
                val eval = spark.read.parquet(s"$evalDir/$table.parquet")
                // --eval is user-supplied: an arbitrarily large eval set must
                // degrade to a partition-wise join, not a broadcast OOM. The
                // guard counts eval rows (one cheap parquet-footer count)
                // against a cap that keeps the broadcast well under Spark's
                // default 8GB broadcast-table limit at embedding widths.
                val evalRows = eval.count()
                val bcast = evalRows <= opts.getOrElse("broadcast-eval-max", "2000000").toLong
                if (!bcast) out(s"eval set has $evalRows rows — broadcast disabled, " +
                  "running partition-wise cross join")
                val flagged = graft.operators.Similarity.semanticDecontaminate(
                  train, eval, idCol, vecCol, thr, broadcastEval = bcast)
                  .filter(col("contaminated"))
                (train, flagged.select(col("train_id").as(idCol)))
              case other => throw new IllegalArgumentException(s"unknown method: $other")
            }
            val total = df.count()
            val clean = df.join(flaggedIds, Seq(idCol), "left_anti")
            new ParquetSink(dst).write(clean, table)
            val keptN = spark.read.parquet(s"$dst/$table.parquet").count()
            out(s"$table: $total rows -> $keptN kept, " +
              s"${total - keptN} contaminated removed ($method)")
          } finally scope.release()
          0
        case "validate" =>
          val src = req("source")
          val dst = req("target")
          val jdbcOpts = opts.get("driver").map(d => Map("driver" -> d)).getOrElse(Map.empty)
          // parquet sides route through Tables.loadRaw (round-16 verdict
          // item 1): it auto-registers `endpoint/_manifest/t` where one
          // exists, so on a manifest-maintained corpus validator layer 1
          // (row counts), layer 2 (per-date GROUP BY counts) and layer 4
          // (SUM fingerprints over lossless decimal widenings) answer
          // from per-file stats — zero or mixed-file-only data scans —
          // instead of paying full table scans per side; a stale catalog
          // declines inside the rules to the ordinary scan. loadRaw, not
          // load: validate reads ARBITRARY user tables, so the fixture
          // `ts` long→timestamp rewrite must not touch them
          def readSide(endpoint: String, t: String) =
            if (endpoint.startsWith("jdbc:")) new JdbcSource(endpoint, jdbcOpts).read(spark, t)
            else graft.sources.Tables.loadRaw(spark, endpoint, t)
          val tables = opts.get("table").map(Seq(_))
            .orElse(opts.get("tables").map(_.split(',').toSeq))
            .getOrElse {
              if (src.startsWith("jdbc:"))
                throw new IllegalArgumentException("JDBC source requires --table or --tables")
              listTables(src)
            }
          // --constraints-jdbc: discover CHECK constraints from a live
          // catalog and EVALUATE each clause against the target data — the
          // validation half of SURVEY §1.1's CHECK mapping (the reference
          // only re-emits discovered clauses in DDL, discovery.py:276-287)
          val liveChecks: Map[String, Seq[graft.meta.ConstraintMeta]] =
            opts.get("constraints-jdbc").map { curl =>
              opts.get("driver").foreach(Class.forName) // raw-connection path, like build's
              val cschema = opts.getOrElse("constraints-schema", "APP")
              graft.meta.ConstraintDiscovery.discover(spark,
                constraintCatalog(curl, cschema, tables.map(_.toUpperCase), opts),
                cschema)
            }.getOrElse(Map.empty)
          var failures = 0
          tables.foreach { t =>
            // PK: --pk a,b beats the naming convention (<prefix>_<t>key)
            val source = readSide(src, t)
            val pkCols = opts.get("pk").map(_.split(',').toSeq).getOrElse(
              source.columns.filter(_.endsWith("key")).take(1).toSeq)
            val result = new Validator(
              source,
              readSide(dst, t))
              .validateTable(t, pkCols = pkCols, rowSample = opts.contains("row-sample"),
                checks = liveChecks.getOrElse(t.toLowerCase, Nil)
                  .filter(_.constraintType == "CHECK"))
            val mark = if (result.passed) "PASS" else "FAIL"
            out(s"$t: $mark")
            result.checks.foreach(c =>
              out(s"  ${c.name}: ${c.passed.map(p => if (p) "ok" else "MISMATCH").getOrElse("skipped")} ${c.message}"))
            if (!result.passed) failures += 1
          }
          if (failures == 0) 0 else 1
        case other =>
          out(s"unknown action: $other"); out(usage); 2
      }
    } match {
      case Success(code) => code
      case Failure(e) => out(s"error: ${e.getMessage}"); 1
    } finally tee.foreach(_.close())
  }

  /** ANSI escape stripping for the log tee (sf_migrate.py:28-33's
    * `strip_ansi`) — log files must stay grep-clean even when a caller's
    * collector emits colored lines. */
  private val AnsiEscape = "\u001B\\[[0-9;]*[A-Za-z]".r
  private[cli] def stripAnsi(s: String): String = AnsiEscape.replaceAllIn(s, "")

  private def listTables(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .map(p => Paths.get(p).getFileName.toString.stripSuffix(".parquet"))
      .sorted.toSeq

  private def discoverTables(spark: SparkSession, dir: String,
                             schema: String = "public"): Seq[TableMeta] =
    listTables(dir).map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      TableMeta.fromDataFrame(t, schema, df).copy(rowCount = Some(df.count()))
    }

  /** Live-database discovery (discovery.py:99-249 shape): table list from
    * DatabaseMetaData, per-table schema from a JDBC read, PK/FK/UNIQUE via
    * [[graft.meta.ConstraintDiscovery]]. `dbSchema` is the catalog schema
    * to enumerate (Derby: APP). */
  private def discoverJdbc(spark: SparkSession, url: String, dbSchema: String,
                           jdbcOpts: Map[String, String]): Seq[TableMeta] = {
    // DriverManager relies on ServiceLoader auto-registration; a driver
    // that needs explicit loading (--driver) must be Class.forName'd before
    // the first getConnection — the Spark JDBC reader does this for the
    // transfer path, this covers the raw-connection discovery path
    jdbcOpts.get("driver").foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url)
    val names =
      try {
        val rs = conn.getMetaData.getTables(null, dbSchema, "%", Array("TABLE"))
        val out = Seq.newBuilder[String]
        while (rs.next()) out += rs.getString("TABLE_NAME")
        out.result()
      } finally conn.close()
    val constraints = graft.meta.ConstraintDiscovery.discover(spark,
      new graft.meta.JdbcMetadataCatalog(url, dbSchema, names), dbSchema)
    // row counts via a DB-side COUNT(*) (discovery.py:348-352) — a Spark
    // df.count() over the classic JDBC relation would pull every row out
    names.sorted.map { t =>
      val df = new JdbcSource(url, jdbcOpts).read(spark, s"$dbSchema.$t")
      val cnt = {
        val c = java.sql.DriverManager.getConnection(url)
        try {
          val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $dbSchema.$t")
          rs.next(); rs.getLong(1)
        } finally c.close()
      }
      graft.meta.ConstraintDiscovery.enrich(
        TableMeta.fromDataFrame(t, dbSchema, df).copy(rowCount = Some(cnt)),
        constraints)
    }
  }

  /** Constraint catalog selection: prefer the ANSI `INFORMATION_SCHEMA`
    * views when the engine exposes them (PostgreSQL, Snowflake, MySQL — the
    * exact relations the reference reads at discovery.py:250-346, including
    * `CHECK_CONSTRAINTS` clause text), falling back to the
    * `DatabaseMetaData`-synthesized catalog for engines without them
    * (embedded Derby). Probed with a zero-row query against a live
    * connection, so the choice follows the engine, not a guess — a
    * Derby-only CHECK lookup against PostgreSQL would silently validate
    * nothing. */
  private[cli] def constraintCatalog(url: String, dbSchema: String, tables: Seq[String],
                                     opts: Map[String, String]): graft.meta.ConstraintCatalog = {
    val hasInfoSchema =
      try {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val st = conn.createStatement()
          try { st.executeQuery(
            "SELECT 1 FROM INFORMATION_SCHEMA.TABLE_CONSTRAINTS WHERE 1=0"); true }
          finally st.close()
        } finally conn.close()
      } catch { case scala.util.control.NonFatal(_) => false }
    if (hasInfoSchema)
      new graft.meta.InformationSchemaCatalog(url,
        opts.get("driver").map(d => Map("driver" -> d)).getOrElse(Map.empty))
    else new graft.meta.JdbcMetadataCatalog(url, dbSchema, tables)
  }

  /** Either endpoint kind → TableMeta list. */
  private def discoverAny(spark: SparkSession, src: String, schema: String,
                          opts: Map[String, String]): Seq[TableMeta] =
    if (src.startsWith("jdbc:"))
      discoverJdbc(spark, src,
        opts.getOrElse("db-schema", "APP"),
        opts.get("driver").map(d => Map("driver" -> d)).getOrElse(Map.empty))
    else discoverTables(spark, src, schema)

  /** The reference's manual-TODO procedure stub
    * (view_procedure_translator.py:365-383): Snowflake procedures are
    * JavaScript or SQL-scripting, which no engine auto-translates, so
    * build-views preserves the original DDL as commented text plus a
    * rewrite skeleton. One improvement over the reference: every original
    * line gets its own `-- ` prefix (the reference interpolates the whole
    * body after a single `-- `, so a multi-line original breaks out of the
    * comment). */
  private def procedureStub(name: String, originalDdl: String,
                            targetSchema: String): Seq[String] =
    Seq(
      "-- WARNING: This procedure requires manual translation",
      "-- Original Snowflake DDL:") ++
      originalDdl.linesIterator.map(l => s"-- $l").toSeq ++
      Seq(
        "--",
        "-- TODO: Rewrite as a Spark SQL routine or external job",
        s"-- CREATE OR REPLACE FUNCTION $targetSchema.$name()",
        "-- RETURNS void AS $$",
        "-- BEGIN",
        "--     -- Add your logic here",
        "-- END;",
        "-- $$ LANGUAGE plpgsql;")

  private def deleteRecursive(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }

  private val usage: String =
    """usage: graft.cli.Main <action> [--opt value ...]
      |  discover    --source DIR|jdbc:URL [--format json] [--db-schema S] [--driver CLASS]
      |  build       --source DIR|jdbc:URL [--schema NAME] [--output FILE]
      |              [--db-schema S] [--constraints-jdbc URL] [--constraints-schema NAME]
      |  build-views --source DIR --views FILE   (sections: -- view: N | -- procedure: N)
      |  destroy     --target DIR --confirm SCHEMA_NAME
      |  transfer    --source DIR|jdbc:URL --target DIR|jdbc:URL [--table T]
      |              [--tables a,b] [--where W] [--limit N] [--workers K]
      |              [--checkpoint FILE] [--format csv|orc|jsonl|copy]
      |              [--source-format parquet|orc|jsonl] [--driver CLASS]
      |              [--chunk-column KEY] [--chunk-count N] [--partition-by a,b]
      |              [--compression snappy|zstd|gzip]
      |              [--manifest-keys COL[,COL..]]  (parquet targets: keep a
      |               file-catalog manifest at DST/_manifest/TABLE current
      |               at write time — typed zone maps, no rescan)
      |              (--format copy executes COPY FROM STDIN per partition
      |               against a jdbc: target; --copy-transport jdbc uses
      |               pgjdbc's CopyManager from the classpath [default],
      |               --copy-transport wire speaks the v3 protocol directly
      |               with zero extra jars, ?socketDir=/path for unix sockets)
      |  migrate     (build + transfer) same options, plus [--verify]
      |              (run the validation suite inline after transfer)
      |  analyze     --source DIR [--table T] [--text-col COL] [--lang-col COL]
      |              [--perplexity]  (self-trained bigram-LM cross-entropy
      |               per language — outlier fluency surfaces mislabels)
      |              [--splits]  (leakage-safe cluster-aware train/val/test
      |               census + what a naive per-doc split would leak)
      |              [--kl] [--source-col COL]  (per-source unigram KL
      |               divergence vs the corpus blend — domain shift)
      |              [--vocab V]  (OOV rate per language under a top-V
      |               global vocabulary — tokenizer sizing)
      |              [--padding]  (power-of-two batch-bucket pad-token and
      |               utilization census)
      |              [--dsir LANG]  (DSIR importance-weight distribution
      |               against the LANG target slice)
      |              [--heaps]  (Heaps'-law vocabulary growth per language
      |               — full vs md5-half slice, growth exponent beta)
      |              [--boilerplate]  (per-source share of volume in lines
      |               repeated across docs corpus-wide)
      |  manifest    --source DIR [--table T] [--key COL[,COL..]] [--manifest PATH]
      |              --build  (bootstrap the file-catalog parquet table:
      |               path/rows/bytes + typed min/max zone maps per data file)
      |              --update  (incremental: diff the table dir by path,
      |               footer-scan only novel files, drop stale rows — no
      |               data pages read)
      |              --compact  (rewrite a fragmented catalog back into the
      |               sorted range-partitioned layout so manifest scans
      |               prune again)
      |              --backfill-sums  (fill NULL per-file sums for rows
      |               that predate the sums column or were skipped by the
      |               sum-scan cap; bounded per pass, upgrades the schema)
      |              --backfill-sums-all  (page --backfill-sums on a path
      |               cursor until no candidate remains, logging each pass
      |               and any unfillable files)
      |              or stats mode: [--min-key V] [--max-key V]  (row/file
      |               counts for a key range answered from the manifest
      |               alone — no data files opened; the bounds classify
      |               files as the SQL manifest rules do)
      |              (update/compact serialize on a fenced __commitlock
      |               claim — UUID tokens, a content-rewrite heartbeat that
      |               refreshes the lock on every store incl. S3A-class
      |               ones, rename-based stale reclamation after
      |               graft.manifest.commitLockTimeoutMs (default 120000),
      |               and a pre-mutation ownership + __version re-check
      |               that retries a displaced writer's section — so
      |               concurrent jobs maintaining DISJOINT tables of one
      |               catalog are safe; each commit bumps __version once.
      |               NOTE: single-winner stale-claim reclamation relies on
      |               ATOMIC rename — an HDFS-semantics property; on
      |               S3A-class stores (copy+delete rename) two reclaimers
      |               can both proceed — the fences keep answers correct,
      |               at the cost of a spurious section retry. update also
      |               records per-file SUMs of numeric keys, for batches of
      |               up to graft.manifest.sumScanMaxFiles files.
      |               registered views also answer COUNT/MIN/MAX/SUM and
      |               single-valued-key GROUP BY from stats and prune
      |               [WHERE ...] ORDER BY key LIMIT n; Spark's
      |               spark.sql.optimizer.excludedRules switches a rule off,
      |               e.g. graft.sources.ManifestAggRule)
      |  dedup       --source DIR --target DIR [--table T]
      |              [--method exact|minhash|lines|substring|incremental|
      |               containment|capped-containment|rare-containment]
      |              [--id COL]
      |              [--text-col COL] [--threshold X] [--line-tokens N]
      |              [--ngram K]  (substring: remove repeated >=K-token
      |               spans in place, first occurrence wins)
      |              [--existing DIR]  (incremental: drop incoming docs
      |               near-duplicating the standing corpus at DIR or an
      |               earlier doc of their own batch)
      |              (capped/rare-containment are the production-scale
      |               modes)
      |              [--sample R]  (sampled-audit mode: run the same
      |               operators on a deterministic content-hash sample at
      |               rate R in (0,1] — the production story for exact-
      |               intersection-class audits at corpus scale)
      |  decontaminate --source DIR --eval DIR --target DIR [--table T]
      |              [--method ngram|bloom|semantic] [--id COL]
      |              [--text-col COL] [--ngram K]  (ngram/bloom: drop
      |               training docs sharing any word K-gram with the eval
      |               set — bloom prunes map-side, identical result)
      |              [--vec-col COL] [--threshold X]  (semantic: drop docs
      |               whose embedding cosine vs any eval row >= X)
      |              [--sample R]  (sampled audit, as in dedup)
      |  cluster     --source DIR [--table T] [--id COL] [--vec-col COL]
      |              [--k N] [--iters N]  (deterministic Lloyd k-means
      |               census over the embedding table: per-cluster size +
      |               member-cosine quality)
      |              [--hard-negatives] [--label-col COL]  (per-anchor
      |               nearest cross-label neighbor — contrastive negatives)
      |              [--graph]  (KNN-graph structure: LPA communities,
      |               triangle/clustering census, top PageRank)
      |  corpus-report --source DIR [--table T] [--output FILE]
      |              (all census sections — quality funnel, source
      |               overlap, KL, vocab/OOV, padding, fertility, Zipf
      |               slope, Heaps growth, boilerplate — as one JSON over
      |               one cached corpus scan + one token explode)
      |  validate    --source DIR|jdbc:URL --target DIR|jdbc:URL [--table T]
      |              [--pk a,b] [--row-sample true] [--driver CLASS]
      |              [--constraints-jdbc URL] [--constraints-schema NAME]
      |  any action: [--log-dir DIR]  tee output to DIR/{ts}_{schema}/{action}.log""".stripMargin
}
