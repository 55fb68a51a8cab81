package graft.transfer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}

import graft.SparkSpec

/** COPY-CSV discipline round-trip: whatever the sink writes, a PostgreSQL
  * `COPY … WITH CSV NULL '\N'` reader must reconstruct byte-exactly —
  * including the null-vs-empty-string distinction the reference's COPY
  * setup exists to preserve (data_transfer.py:272-283), with `\x00`
  * scrubbed (the one value class that is deliberately NOT identity). */
class CsvBulkSpec extends SparkSpec {

  /** Reference decoder implementing COPY CSV read semantics: `"`-quoting
    * with `""` doubling; an *unquoted* `\N` is NULL, a quoted one is the
    * literal string. */
  private def copyCsvParse(line: String): Seq[Option[String]] = {
    val out = Seq.newBuilder[Option[String]]
    val cur = new StringBuilder
    var i = 0
    var quoted = false   // current field started with a quote
    var inQuotes = false // currently inside an open quote
    def endField(): Unit = {
      val s = cur.toString
      out += (if (!quoted && s == "\\N") None else Some(s))
      cur.clear(); quoted = false
    }
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQuotes = false
        } else cur.append(c)
      } else c match {
        case '"' if cur.isEmpty && !quoted => quoted = true; inQuotes = true
        case ',' => endField()
        case other => cur.append(other)
      }
      i += 1
    }
    endField()
    out.result()
  }

  private def roundTrip(values: Seq[Option[String]]): Seq[Option[String]] = {
    val schema = StructType(values.indices.map(i => StructField(s"c$i", StringType)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(values.map(_.orNull): _*)), schema)
    val line = df.select(CsvBulk.csvLine(df)).collect()(0).getString(0)
    assert(!line.contains('\u0000'), "NUL byte survived the scrub")
    copyCsvParse(line)
  }

  test("null vs empty string vs literal \\N survive distinctly") {
    assert(roundTrip(Seq(None, Some(""), Some("\\N"))) ===
      Seq(None, Some(""), Some("\\N")))
  }

  test("quoting: commas, quotes, newlines, unicode round-trip byte-exactly") {
    val tricky = Seq(
      Some("a,b"), Some("she said \"hi\""), Some("line1\nline2"),
      Some("crlf\r\n"), Some("héllo wörld ✓ 日本語"), Some("plain"))
    assert(roundTrip(tricky) === tricky)
  }

  test("\\x00 bytes are scrubbed, everything else identical") {
    assert(roundTrip(Seq(Some("a\u0000b"), Some("\u0000"))) ===
      Seq(Some("ab"), Some("")))
  }

  test("property: arbitrary strings (incl. control chars) round-trip modulo NUL scrub") {
    val field: Gen[Option[String]] = Gen.frequency(
      2 -> Gen.const(None),
      1 -> Gen.const(Some("")),
      1 -> Gen.const(Some("\\N")),
      8 -> Gen.listOf(Gen.frequency(
        8 -> Gen.asciiPrintableChar,
        2 -> Gen.oneOf(',', '"', '\n', '\r', '\t', '\u0000', 'π', '字'))).map(l => Some(l.mkString)))
    val prop = Prop.forAll(Gen.listOfN(4, field)) { values =>
      val expected = values.map(_.map(_.replace("\u0000", "")))
      roundTrip(values) == expected
    }
    val res = check(Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("a value that becomes literal \\N only after NUL-scrub is still quoted") {
    // NUL + backslash + N scrubs to exactly \N — must ship quoted or COPY
    // reads it as SQL NULL
    assert(roundTrip(Seq(Some("\u0000\\N"))) === Seq(Some("\\N")))
  }

  test("chunked CSV transfer appends chunks instead of overwriting") {
    val dir = java.nio.file.Files.createTempDirectory("csv_chunked").toString
    val cp = new CheckpointManager(s"$dir/ckpt.json", "sf", "csv")
    val engine = new TransferEngine(new ParquetSource(sfDir), new CsvBulkSink(dir),
      Some(cp), chunkColumns = Map("orders" -> "o_orderkey"), chunkCount = 4)
    val group = "csv-chunked-jobs"
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    val stats = try engine.transferTable(spark, "orders") finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    assert(stats.success)
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(stats.rowsTransferred === total, "chunked CSV lost rows (overwrite per chunk?)")
    assert(spark.read.text(s"$dir/orders.csv").count() === total)
    // the staged chunks reach the formatter as they are: one job reads the
    // source's schema, two find the key bounds, one stages the chunks and
    // each chunk is one write. A chunk frame reporting Spark's unknown-size
    // default would clear the sink's size gate and send every chunk
    // through a second exchange, one more job each.
    assert(jobs === 1 + 2 + 1 + 4, s"$jobs jobs")
  }

  test("CsvBulkSink writes COPY-ready shards through the transfer engine") {
    val dir = java.nio.file.Files.createTempDirectory("csv_bulk").toString
    val engine = new TransferEngine(new ParquetSource(sfDir), new CsvBulkSink(dir))
    val stats = engine.transferTable(spark, "nation")
    assert(stats.success && stats.rowsTransferred == 25)
    val lines = spark.read.text(s"$dir/nation.csv").collect().map(_.getString(0))
    assert(lines.length == 25)
    // every line parses to the nation column count with no nulls (fixture has none)
    assert(lines.forall(l => copyCsvParse(l).length == 3))
    // spot-check a full row against the parquet source
    val parsed = lines.map(copyCsvParse).map(f => (f(0).get.toInt, f(1).get)).toMap
    val nation = graft.sources.Tables.load(spark, sfDir, "nation")
      .selectExpr("n_nationkey", "n_name").collect()
      .map(r => r.getAs[Number](0).intValue() -> r.getString(1)).toMap
    assert(parsed === nation)
  }

  test("non-scalar columns are rejected up front, not mangled") {
    // binary cast through UTF-8 and arrays rendered as '[1, 2]' would load
    // wrong into PG silently — the sink's COPY contract is scalars only
    val dir = java.nio.file.Files.createTempDirectory("csvbad").toString
    val sink = new CsvBulkSink(dir)
    val binDf = spark.range(3).selectExpr("id", "CAST('ab' AS BINARY) AS blob")
    val e1 = intercept[IllegalArgumentException](sink.write(binDf, "bin_t"))
    assert(e1.getMessage.contains("blob: binary"), e1.getMessage)
    val arrDf = spark.range(3).selectExpr("id", "array(id, id + 1) AS xs")
    val e2 = intercept[IllegalArgumentException](sink.write(arrDf, "arr_t"))
    assert(e2.getMessage.contains("xs: array"), e2.getMessage)
    // the documented escape hatch works: project through to_json/hex first
    sink.write(arrDf.selectExpr("id", "to_json(xs) AS xs_json"), "arr_json")
    assert(sink.countRows(spark, "arr_json").contains(3L))
  }
}
