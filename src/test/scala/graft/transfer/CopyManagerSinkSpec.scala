package graft.transfer

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.SparkSpec

/** Records every COPY stream an executor opens. Local-mode only: executors
  * share the test JVM, so a static queue observes what a real deployment
  * would send over N sockets. The factory is what the closure ships — it
  * must survive serialization (it does: it is stateless; the state lives
  * in the companion). */
object RecordingCopy {
  final case class Call(sql: String, text: String, rows: Long)
  val calls = new ConcurrentLinkedQueue[Call]()
  val openSessions = new java.util.concurrent.atomic.AtomicInteger(0)

  class Factory extends CopySessionFactory {
    def open(): CopySession = new CopySession {
      RecordingCopy.openSessions.incrementAndGet()
      def copyIn(sql: String, from: java.io.Reader): Long = {
        val sb = new StringBuilder
        val buf = new Array[Char](7) // odd size: exercises read() re-chunking
        var n = from.read(buf, 0, buf.length)
        while (n >= 0) { sb.appendAll(buf, 0, n); n = from.read(buf, 0, buf.length) }
        val text = sb.toString
        val rows = text.count(_ == '\n').toLong
        RecordingCopy.calls.add(Call(sql, text, rows))
        rows
      }
      def close(): Unit = RecordingCopy.openSessions.decrementAndGet()
    }
  }
}

/** End-to-end COPY execution against the CopyManager-shaped fake: the one
  * reference code path (data_transfer.py:339-344) that rounds 1-4 formatted
  * but never ran. Asserts the statement text, per-partition parallel COPY
  * streams, `\N` discipline THROUGH the reader, and database-acknowledged
  * row accounting. */
class CopyManagerSinkSpec extends SparkSpec {

  private def freshSink(): CopyManagerSink = {
    RecordingCopy.calls.clear()
    RecordingCopy.openSessions.set(0)
    new CopyManagerSink(new RecordingCopy.Factory)
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  private def frame(rows: Seq[(Int, String)], partitions: Int) =
    spark.createDataFrame(
      rows.map { case (i, s) => Row(Int.box(i), s) }.asJava, schema)
      .repartition(partitions)

  test("issues the reference's COPY statement once per non-empty partition") {
    val sink = freshSink()
    sink.write(frame((1 to 40).map(i => (i, s"row$i")), partitions = 4), "t")
    val calls = RecordingCopy.calls.asScala.toSeq
    assert(calls.size === 4) // one COPY stream per partition — parallel ingest
    val expectedSql = """COPY "t" ("id", "name") FROM STDIN WITH CSV NULL '\N'"""
    assert(calls.forall(_.sql === expectedSql))
    assert(calls.map(_.rows).sum === 40)
    assert(sink.countRows(spark, "t") === Some(40L))
    assert(RecordingCopy.openSessions.get === 0, "a session leaked")
  }

  test("empty partitions never open a COPY session") {
    val sink = freshSink()
    sink.write(frame(Seq(1 -> "only"), partitions = 8), "t")
    assert(RecordingCopy.calls.size === 1)
    assert(sink.countRows(spark, "t") === Some(1L))
  }

  test("\\N discipline survives the streaming reader end-to-end") {
    val sink = freshSink()
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(Int.box(1), null),        // SQL NULL      → unquoted \N
        Row(Int.box(2), ""),          // empty string  → stays empty, NOT NULL
        Row(Int.box(3), "\\N"),       // literal \N    → quoted, survives
        Row(Int.box(4), "a,b\"c")),   // needs quoting → RFC 4180
      schema).coalesce(1)
    sink.write(df, "vals")
    val text = RecordingCopy.calls.asScala.toSeq.map(_.text).mkString
    val lines = text.split("\n").toSeq.sortBy(_.takeWhile(_ != ','))
    assert(lines === Seq("1,\\N", "2,", "3,\"\\N\"", "4,\"a,b\"\"c\""))
  }

  test("chunked writes accumulate database-acknowledged counts") {
    val sink = freshSink()
    val a = frame(Seq(1 -> "a", 2 -> "b"), partitions = 1)
    val b = frame(Seq(3 -> "c"), partitions = 1)
    sink.writeChunk(a, "t", firstChunk = true)
    sink.writeChunk(b, "t", firstChunk = false)
    assert(sink.countRows(spark, "t") === Some(3L))
  }

  test("blind resume (append with no first chunk) reports no partial count") {
    val sink = freshSink()
    sink.writeChunk(frame(Seq(3 -> "c"), partitions = 1), "t", firstChunk = false)
    assert(sink.countRows(spark, "t") === None)
  }

  test("non-scalar columns fail loudly before any COPY is attempted") {
    val sink = freshSink()
    val df = spark.range(3).selectExpr("id", "array(id) AS xs")
    val e = intercept[IllegalArgumentException](sink.write(df, "t"))
    assert(e.getMessage.contains("non-scalar"))
    assert(RecordingCopy.calls.isEmpty)
  }

  test("works as a TransferEngine sink over the real fixture tables") {
    val sink = freshSink()
    val engine = new TransferEngine(new ParquetSource(sfDir), sink)
    val stats = engine.transferTable(spark, "region")
    assert(stats.success, stats.errorMessage.getOrElse(""))
    assert(stats.rowsTransferred === 5)
    val expectedSql = """COPY "region" ("r_regionkey", "r_name") FROM STDIN WITH CSV NULL '\N'"""
    assert(RecordingCopy.calls.asScala.forall(_.sql === expectedSql))
  }

  test("CsvLinesReader yields each line plus its newline at any read size") {
    val lines = Seq("", "a", "bc,\"d\"", "", "héllo ✓", "x" * 40)
    val want = lines.map(_ + "\n").mkString
    for (size <- Seq(1, 2, 3, 7, 64)) {
      val r = new CsvLinesReader(lines.iterator)
      val sb = new StringBuilder
      val buf = new Array[Char](size)
      var n = r.read(buf, 0, size)
      while (n >= 0) { assert(n > 0); sb.appendAll(buf, 0, n); n = r.read(buf, 0, size) }
      assert(sb.toString === want, s"read size $size")
      assert(r.read(buf, 0, size) === -1)
    }
    assert(new CsvLinesReader(Iterator.empty).read(new Array[Char](4), 0, 4) === -1)
  }
}
