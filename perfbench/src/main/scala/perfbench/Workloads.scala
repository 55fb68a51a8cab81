package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ddl.DdlGenerator
import graft.meta.TableMeta
import graft.sources.Tables
import graft.transfer._
import graft.validate.Validator

/** One measured operation of a pass: a table transfer, a table validation
  * or a query. `ok` is false when it threw or its output check failed. */
final case class Op(name: String, ms: Double, ok: Boolean, note: String = "")

/** What a pass did, plus the extra CPU seconds spent outside this JVM. */
final case class PassResult(ops: Seq[Op], rows: Long, externalCpuS: Double = 0.0)

/** A workload: set up (timed, repeated), then passes over the fixture. */
trait Workload {
  /** Set up what a pass needs besides the Spark session. */
  def setup(spark: SparkSession): Unit
  /** Undo [[setup]] between repeated set-ups and at the end. */
  def teardown(): Unit
  /** Work done once per run after set-up and before the passes, untimed:
    * what the output checks need. */
  def prepare(spark: SparkSession): Unit = ()
  /** One pass. `first` marks the warm-up pass, which also writes the
    * outputs that are checked once per run. */
  def pass(spark: SparkSession, first: Boolean): PassResult
  /** Check a pass's outputs, untimed; returns the ops with `ok` updated. */
  def check(r: PassResult): Seq[Op] = r.ops
  /** Notes printed with the result (sizes, exclusions). */
  def notes: Seq[String] = Nil
}

object Workloads {
  /** Scalar fixture tables, and the one the COPY path leaves out. */
  val ArrayTable = "embeddings"
  val ScalarTables: Seq[String] = Tables.all.filterNot(_ == ArrayTable)

  /** Key column per table: the chunk key, the manifest key and the row
    * sample's lookup key. `lineitem`'s lookup key is composite. */
  val Keys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"), "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))

  val Chunked: Map[String, String] = Map("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")

  /** migrate_verify's tables. Every table pays a fixed ~1.5 s of manifest
    * upkeep plus ~1 s of validation on this 4-core host, so the run-time
    * budget allows two: `orders` (chunked and checkpointed, has a date
    * column, so all five validator layers run) and `region` (5 rows: the
    * per-table fixed cost on its own). */
  val VerifyTables: Seq[String] = Seq("region", "orders")

  /** query_mix: five named classes of [[SparkEntry.queries]] by name
    * prefix, cut to ~7 s a pass on this 4-core host to fit the run-time
    * budget. Each class keeps the queries the open work items name first
    * (q70's components loop, q01's exact-decimal sums, q170's native
    * winnowing kernel). */
  val QueryClasses: Seq[(String, Seq[String])] = Seq(
    "loops" -> Seq("q70"),
    "decimal" -> Seq("q01"),
    "kernels" -> Seq("q170"),
    "manifest" -> Seq("q190", "q191", "q193", "q198"),
    "floor" -> Seq("q02", "q03", "q04", "q08", "q35"))

  def apply(name: String, sfDir: String, work: File, seed: Long): Workload = {
    val rnd = new scala.util.Random(seed)
    name match {
      case "migrate_pg" => new MigratePg(sfDir, work, rnd.shuffle(ScalarTables))
      case "migrate_verify" =>
        new MigrateVerify(sfDir, work, rnd.shuffle(VerifyTables))
      case "query_mix" =>
        val names = SparkEntry.queries.keys.toSeq
        val all = QueryClasses.flatMap { case (cls, prefixes) =>
          prefixes.map(p => names.find(_.startsWith(p + "_")).getOrElse(
            throw new IllegalArgumentException(s"no query named ${p}_*")) -> cls)
        }
        new QueryMix(sfDir, work, rnd.shuffle(all))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def deleteTree(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f)

  /** One op per table transfer, timed by the engine itself. */
  def transferOps(stats: Seq[TransferStats]): Seq[Op] =
    stats.map(s => Op(s.tableName, s.transferTimeSec * 1000, s.success, s.errorMessage.getOrElse("")))
}

/** Tracing wrappers: each call into the transfer layer's source and sink
  * becomes a span. With tracing off they only delegate. */
final class TracedSource(inner: TableSource) extends TableSource {
  def read(spark: SparkSession, table: String): DataFrame =
    Trace.span("transfer.read")(inner.read(spark, table))
}

final class TracedSink(inner: TableSink) extends TableSink {
  def write(df: DataFrame, table: String): Unit =
    Trace.span("transfer.write")(inner.write(df, table))
  override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit =
    Trace.span("transfer.write_chunk")(inner.writeChunk(df, table, firstChunk))
  override def finish(spark: SparkSession, table: String): Unit =
    Trace.span("transfer.finish")(inner.finish(spark, table))
  override def countRows(spark: SparkSession, table: String): Option[Long] =
    Trace.span("transfer.count")(inner.countRows(spark, table))
}

/** Routes each table to its own sink (one manifest key per table). */
final class PerTableSink(sinks: Map[String, TableSink]) extends TableSink {
  def write(df: DataFrame, table: String): Unit = sinks(table).write(df, table)
  override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit =
    sinks(table).writeChunk(df, table, firstChunk)
  override def finish(spark: SparkSession, table: String): Unit = sinks(table).finish(spark, table)
  override def countRows(spark: SparkSession, table: String): Option[Long] =
    sinks(table).countRows(spark, table)
}

/** Order-independent per-table checksum: the row count, then per column its
  * non-null count and an exact sum (integers and decimals; string lengths;
  * timestamps as epoch micros; dates as epoch days) or, for floating
  * columns, a double sum compared with a relative tolerance. */
object Checksum {
  sealed trait Part { def sparkExpr: org.apache.spark.sql.Column; def pgExpr: String }
  private final case class Exact(sparkExpr: org.apache.spark.sql.Column, pgExpr: String) extends Part
  private final case class Approx(sparkExpr: org.apache.spark.sql.Column, pgExpr: String) extends Part

  private def q(c: String) = "\"" + c + "\""

  def parts(schema: StructType): Seq[Part] =
    Exact(count(lit(1)).cast("string"), "count(*)::text") +: schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      val nn = Exact(count(c).cast("string"), s"count(${q(f.name)})::text")
      val sum1: Option[Part] = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(Exact(sum(c.cast(DecimalType(38, 0))).cast("string"), s"sum(${q(f.name)})::numeric::text"))
        case _: DecimalType =>
          Some(Exact(sum(c).cast("string"), s"sum(${q(f.name)})::text"))
        case FloatType | DoubleType =>
          Some(Approx(sum(c.cast(DoubleType)).cast("string"), s"sum(${q(f.name)})::float8::text"))
        case StringType =>
          Some(Exact(sum(length(c).cast(LongType)).cast("string"), s"sum(length(${q(f.name)}))::text"))
        case TimestampType | TimestampNTZType =>
          Some(Exact(sum(unix_micros(c.cast(TimestampType)).cast(DecimalType(38, 0))).cast("string"),
            s"sum((extract(epoch from ${q(f.name)}) * 1000000)::numeric(38,0))::text"))
        case DateType =>
          Some(Exact(sum(unix_date(c).cast(LongType)).cast("string"),
            s"sum(${q(f.name)} - date '1970-01-01')::text"))
        case BooleanType =>
          Some(Exact(count(when(c, 1)).cast("string"), s"count(*) filter (where ${q(f.name)})::text"))
        case _ => None
      }
      nn +: sum1.toSeq
    }

  def expected(df: DataFrame): Seq[String] = {
    val ps = parts(df.schema)
    df.agg(ps.head.sparkExpr, ps.tail.map(_.sparkExpr): _*).head().toSeq
      .map(v => if (v == null) "" else v.toString)
  }

  def pgSql(schema: StructType, table: String): String =
    parts(schema).map(p => s"coalesce(${p.pgExpr}, '')").mkString("SELECT ", " || '|' || ", s" FROM ${q(table)}")

  /** Mismatching positions between the expected and the PostgreSQL values. */
  def diff(schema: StructType, want: Seq[String], got: Seq[String]): Seq[String] =
    parts(schema).zip(want.zipAll(got, "?", "?")).zipWithIndex.collect {
      case ((p, (w, g)), i) if !same(p, w, g) => s"#$i want=$w got=$g"
    }

  private def same(p: Part, w: String, g: String): Boolean = p match {
    case _ if w == g => true
    case _: Approx if w.nonEmpty && g.nonEmpty =>
      val (a, b) = (w.toDouble, g.toDouble)
      math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    case _ if w.nonEmpty && g.nonEmpty =>
      scala.util.Try(BigDecimal(w).compare(BigDecimal(g)) == 0).getOrElse(false)
    case _ => false
  }
}

/** Schema DDL from the source catalog, then a wire-COPY transfer of every
  * scalar table into a throwaway PostgreSQL. */
final class MigratePg(sfDir: String, work: File, tables: Seq[String]) extends Workload {
  private var pg: Pg = _
  private var expected: Map[String, (StructType, Seq[String])] = Map.empty
  private val checkpointFile = new File(work, "checkpoint_pg.json")

  def setup(spark: SparkSession): Unit = {
    pg = new Pg(new File(work, "pg"))
    pg.start()
  }

  def teardown(): Unit = if (pg != null) {
    pg.stop()
    Workloads.deleteTree(new File(work, "pg"))
    pg = null
  }

  /** Source checksums, read with Spark's own parquet reader and cached
    * under the work directory's parent by fixture file size, mtime and
    * checksum SQL (they depend on nothing else). */
  override def prepare(spark: SparkSession): Unit =
    expected = tables.map { t =>
      val df = spark.read.parquet(Tables.path(sfDir, t))
      val f = new File(Tables.path(sfDir, t))
      val key = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"${f.getAbsolutePath}|${f.length}|${f.lastModified}|${Checksum.pgSql(df.schema, t)}"
          .getBytes("UTF-8")).map("%02x".format(_)).mkString
      val cache = new File(new File(work.getParentFile, "checksum-cache"), key)
      val values =
        if (cache.exists) java.nio.file.Files.readAllLines(cache.toPath).asScala.toSeq
        else {
          val v = Checksum.expected(df)
          cache.getParentFile.mkdirs()
          java.nio.file.Files.write(cache.toPath, v.asJava)
          v
        }
      t -> (df.schema, values)
    }.toMap

  def pass(spark: SparkSession, first: Boolean): PassResult = {
    val cpu0 = pg.cpuSeconds()
    val metas = Trace.span("ddl.discover") {
      tables.map { t =>
        val df = spark.read.parquet(Tables.path(sfDir, t))
        TableMeta.fromDataFrame(t, "public", df).copy(rowCount = Some(df.count()))
      }
    }
    val ddl = Trace.span("ddl.generate")(DdlGenerator.generateSchemaDdl("public", metas))
    Trace.span("ddl.apply") {
      pg.psql(("DROP SCHEMA IF EXISTS public CASCADE" +: ddl).mkString("", ";\n", ";\n"))
    }
    val cp = new CheckpointManager(checkpointFile.getPath, sfDir, "postgres")
    cp.reset()
    val factory = new PgWireCopySessionFactory("127.0.0.1", pg.port, "postgres", "postgres",
      sslMode = "disable")
    val engine = new TransferEngine(new TracedSource(new ParquetSource(sfDir)),
      new TracedSink(new CopyManagerSink(factory)), Some(cp), chunkColumns = Workloads.Chunked)
    val stats = Trace.span("transfer.schema")(engine.transferSchema(spark, tables))
    PassResult(Workloads.transferOps(stats), stats.map(_.rowsTransferred).sum, pg.cpuSeconds() - cpu0)
  }

  /** Row count and checksum of every table, read back with one psql call. */
  override def check(r: PassResult): Seq[Op] = {
    val sql = r.ops.map(op => s"SELECT '${op.name}' || '|' || (" +
      Checksum.pgSql(expected(op.name)._1, op.name) + ");").mkString("\n")
    val got = scala.util.Try(pg.psql(sql).linesIterator.filter(_.nonEmpty).map { l =>
      val cells = l.split("\\|", -1).toSeq
      cells.head -> cells.tail
    }.toMap)
    r.ops.map { op =>
      val (schema, want) = expected(op.name)
      got.map(_.get(op.name)) match {
        case scala.util.Success(Some(g)) =>
          val d = Checksum.diff(schema, want, g)
          if (d.isEmpty) op else op.copy(ok = false, note = s"checksum: ${d.take(3).mkString(", ")}")
        case scala.util.Success(None) => op.copy(ok = false, note = "checksum: no row read back")
        case scala.util.Failure(e) => op.copy(ok = false, note = s"checksum: ${e.getMessage}")
      }
    }
  }

  override def notes: Seq[String] = Seq(
    s"${Workloads.ArrayTable} left out: COPY rejects array columns on purpose",
    "pg flush policy: " + Pg.FlushPolicy.map { case (k, v) => s"$k=$v" }.mkString(", "))
}

/** Parquet migrate with a manifest per table, then the validator on every
  * table, both sides read through Tables.loadRaw as the CLI validate does. */
final class MigrateVerify(sfDir: String, work: File, tables: Seq[String]) extends Workload {
  private val target = new File(work, "target")
  private val checkpointFile = new File(work, "checkpoint_parquet.json")
  private var sampleTables: Set[String] = Set.empty

  def setup(spark: SparkSession): Unit = {
    Workloads.deleteTree(target)
    target.mkdirs()
  }
  def teardown(): Unit = Workloads.deleteTree(target)

  /** Layer 5 (row sampling) looks rows up by key, so it runs only on tables
    * whose key is unique in the fixture: `lineitem`'s (l_orderkey,
    * l_linenumber) is not, and a sample there reports false mismatches. */
  override def prepare(spark: SparkSession): Unit =
    sampleTables = tables.filter { t =>
      val keys = Workloads.Keys(t).map(col)
      val df = spark.read.parquet(Tables.path(sfDir, t))
      df.count() == df.select(keys: _*).distinct().count()
    }.toSet

  def pass(spark: SparkSession, first: Boolean): PassResult = {
    val dst = target.getPath
    val cp = new CheckpointManager(checkpointFile.getPath, sfDir, dst)
    cp.reset()
    val sink = new PerTableSink(tables.map(t =>
      t -> new ParquetSink(dst, manifestKeys = Some(Seq(Workloads.Keys(t).head)))).toMap)
    val engine = new TransferEngine(new TracedSource(new ParquetSource(sfDir)),
      new TracedSink(sink), Some(cp), chunkColumns = Workloads.Chunked)
    val stats = Trace.span("transfer.schema")(engine.transferSchema(spark, tables))
    val validated = tables.map { t =>
      val t0 = System.nanoTime()
      val r = scala.util.Try(Trace.span("validate.table") {
        new Validator(Tables.loadRaw(spark, sfDir, t), Tables.loadRaw(spark, dst, t))
          .validateTable(t, pkCols = Workloads.Keys(t), rowSample = sampleTables(t))
      })
      val ms = (System.nanoTime() - t0) / 1e6
      r match {
        case scala.util.Success(v) =>
          val bad = v.checks.filter(_.passed.contains(false))
          Op(s"validate:$t", ms, bad.isEmpty, bad.map(c => s"${c.name}: ${c.message}").mkString("; "))
        case scala.util.Failure(e) => Op(s"validate:$t", ms, ok = false, e.toString)
      }
    }
    PassResult(Workloads.transferOps(stats) ++ validated, stats.map(_.rowsTransferred).sum)
  }

  override def notes: Seq[String] = {
    def list(ts: Seq[String]) = if (ts.isEmpty) "none" else ts.sorted.mkString(",")
    Seq(s"row sample (validator layer 5) on: ${list(tables.filter(sampleTables))}; skipped on: " +
      s"${list(tables.filterNot(sampleTables))} (lookup key not unique in the fixture)")
  }
}

/** A fixed roster of oracle-checked queries, drained to the noop sink. The
  * warm-up pass writes each result as parquet instead, for the oracle. */
final class QueryMix(sfDir: String, work: File, order: Seq[(String, String)]) extends Workload {
  private val results = new File(work, "results")

  def setup(spark: SparkSession): Unit = {
    // resolve the query roster and every fixture table's plan (footer reads)
    SparkEntry.queries
    Tables.all.foreach(t => Tables.loadCached(spark, sfDir, t))
  }
  def teardown(): Unit = ()

  def pass(spark: SparkSession, first: Boolean): PassResult = {
    spark.catalog.clearCache()
    val ops = order.map { case (name, cls) =>
      val t0 = System.nanoTime()
      val ok = scala.util.Try {
        val df = Trace.span(s"query.$cls.build")(SparkEntry.queries(name)(spark, sfDir))
        Trace.span(s"query.$cls.exec") {
          if (first) df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(new File(results, name).getPath)
          else df.write.format("noop").mode(SaveMode.Overwrite).save()
        }
      }
      Op(s"$cls:$name", (System.nanoTime() - t0) / 1e6, ok.isSuccess,
        ok.failed.map(_.toString).getOrElse(""))
    }
    PassResult(ops, 0L)
  }

  /** The oracle SQL of every query in the roster, for the DuckDB check. */
  override def prepare(spark: SparkSession): Unit = {
    val m = order.map(_._1).map(n =>
      n -> SparkEntry.oracleSql.getOrElse(n, throw new IllegalStateException(s"$n has no oracle SQL")))
    val json = m.map { case (k, v) => Json.str(k) + ": " + Json.str(v) }.mkString("{", ",\n", "}")
    java.nio.file.Files.write(new File(work, "oracle_sql.json").toPath, json.getBytes("UTF-8"))
  }
}
