package graft.transfer

import scala.util.control.NonFatal

import org.apache.spark.TaskKilledException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** One COPY stream for one executor partition — the exact call shape of
  * pgjdbc's `org.postgresql.copy.CopyManager.copyIn(String, java.io.Reader)`
  * (returns rows loaded). Abstracted behind a trait because this image has
  * no PostgreSQL: the production factory is three lines of pgjdbc glue, the
  * spec factory is a recording fake, and everything between — partitioned
  * execution, COPY statement text, CSV/`\N` field discipline, row
  * accounting — runs identically against either.
  */
trait CopySession extends AutoCloseable {
  def copyIn(sql: String, from: java.io.Reader): Long
}

/** Opened once per non-empty partition ON THE EXECUTOR, so it must be
  * serializable and must not capture a live connection — capture the JDBC
  * URL and build the connection inside `open()`. The production
  * implementation is [[PgCopySessionFactory]].
  */
trait CopySessionFactory extends Serializable {
  def open(): CopySession
}

/** Production COPY factory: one JDBC connection per executor partition,
  * driving pgjdbc's `CopyManager.copyIn` — the call the reference makes at
  * `data_transfer.py:339-344` (`copy_expert` over psycopg2), executed here
  * per-partition instead of through one driver funnel.
  *
  * pgjdbc is invoked REFLECTIVELY: the offline artifact mirror this build
  * runs against carries no `org.postgresql` artifacts, so a compile-time
  * dependency cannot resolve. The reflective path is byte-for-byte the
  * documented direct calls —
  * {{{
  *   val mgr = new org.postgresql.copy.CopyManager(
  *     conn.unwrap(classOf[org.postgresql.core.BaseConnection]))
  *   mgr.copyIn(sql, reader)   // returns rows loaded
  * }}}
  * — resolved at `open()` time on the executor, where a production
  * `spark-submit --jars postgresql-*.jar` puts pgjdbc on the task
  * classloader. The three class names are constructor parameters (defaulted
  * to the pgjdbc names) so the reflective glue itself is spec-covered
  * against stand-in classes in this image; only strings ship in the closure.
  */
final class PgCopySessionFactory(
    url: String,
    props: Map[String, String] = Map.empty,
    driverClass: String = "org.postgresql.Driver",
    copyManagerClass: String = "org.postgresql.copy.CopyManager",
    baseConnectionClass: String = "org.postgresql.core.BaseConnection")
  extends CopySessionFactory {

  def open(): CopySession = new CopySession {
    // Executor JVMs may not have run DriverManager's service discovery for
    // this driver yet; load it explicitly and let getConnection fail with
    // its own diagnostic if the jar is genuinely absent.
    try Class.forName(driverClass)
    catch { case _: ClassNotFoundException => () }
    private val conn = {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      java.sql.DriverManager.getConnection(url, p)
    }
    // reflective setup can fail AFTER the connection opened (CopyManager
    // class absent, a pooling wrapper that won't unwrap) — close the
    // connection before rethrowing or every task retry leaks one server
    // connection
    private val copyFn =
      try {
        val baseCls = Class.forName(baseConnectionClass)
        val mgrCls = Class.forName(copyManagerClass)
        val unwrapped = conn.unwrap(baseCls.asInstanceOf[Class[AnyRef]])
        val mgr = mgrCls.getConstructor(baseCls).newInstance(unwrapped).asInstanceOf[AnyRef]
        val m = mgrCls.getMethod("copyIn", classOf[String], classOf[java.io.Reader])
        (sql: String, from: java.io.Reader) =>
          m.invoke(mgr, sql, from).asInstanceOf[java.lang.Long].longValue()
      } catch {
        case e: Throwable =>
          try conn.close() catch { case _: Throwable => () }
          throw e
      }
    def copyIn(sql: String, from: java.io.Reader): Long = copyFn(sql, from)
    def close(): Unit = conn.close()
  }
}

/** Streams an iterator of CSV lines as a `java.io.Reader` without ever
  * materializing the partition: `CopyManager.copyIn` pulls from the reader
  * in its own buffer-sized chunks, so peak memory per partition is one row
  * plus the copy buffer — the same bounded shape as the reference's
  * `io.StringIO` batch buffer (data_transfer.py:325-338), minus the
  * batch-sized accumulation. */
final class CsvLinesReader(lines: Iterator[String]) extends java.io.Reader {
  private var cur: String = ""
  private var pos = 0
  private var newlineOwed = false // `cur` is copied out; its '\n' is not yet

  override def read(cbuf: Array[Char], off: Int, len: Int): Int = {
    if (len == 0) return 0
    var written = 0
    while (written < len) {
      if (pos < cur.length) {
        val n = math.min(len - written, cur.length - pos)
        cur.getChars(pos, pos + n, cbuf, off + written)
        pos += n
        written += n
      } else if (newlineOwed) {
        cbuf(off + written) = '\n'
        written += 1
        newlineOwed = false
      } else if (lines.hasNext) {
        cur = lines.next()
        pos = 0
        newlineOwed = true
      } else return if (written == 0) -1 else written
    }
    written
  }

  override def close(): Unit = ()
}

/** [[TableSink]] that EXECUTES the reference's COPY path
  * (`data_transfer.py:339-344`: `COPY … FROM STDIN WITH CSV NULL '\N'`) —
  * where the reference funnels every row through one driver-side psycopg2
  * COPY, each executor partition here opens its own [[CopySession]] and
  * streams its shard concurrently: N partitions = N parallel COPY streams
  * into the target, the shape that scales COPY ingest with the cluster.
  * Field formatting is the same codegen'd [[CsvBulk.csvLine]] the CSV file
  * sink uses, so the `\N`/quoting discipline is proven once and shared.
  *
  * Row accounting sums `copyIn`'s per-partition return — the count the
  * DATABASE acknowledged, not the count Spark sent.
  *
  * Each partition's COPY is its own transaction, so a frame can land in
  * part. A failed COPY is reported as that partition's result rather than
  * failing its task: a failed job would cancel the sibling streams, and
  * the driver could not tell which of them had committed. After the job,
  * any failure surfaces as a [[PartialWrite]] naming the partitions that
  * committed, which a chunked transfer records so its rerun sends only the
  * rest. Spark does not retry a failed COPY; the checkpointed rerun does.
  */
final class CopyManagerSink(factory: CopySessionFactory) extends TableSink {

  private val written = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The statement the reference builds at data_transfer.py:339-341, with
    * an explicit column list so COPY never depends on target column order. */
  def copySql(table: String, columns: Seq[String]): String =
    s"""COPY "$table" (${columns.map(c => s""""$c"""").mkString(", ")}) FROM STDIN WITH CSV NULL '\\N'"""

  def write(df: DataFrame, table: String): Unit =
    written.put(table, copyPartitions(df, table))

  /** COPY appends by nature, so chunks need no mode switch — only the
    * running count distinguishes first from later chunks. A blind resume
    * (append with no recorded first chunk) records nothing, so stats fall
    * back to a source count instead of under-reporting. */
  override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit = {
    val rows = copyPartitions(df, table)
    if (firstChunk) written.put(table, rows)
    else written.computeIfPresent(table,
      (_: String, a: java.lang.Long) => java.lang.Long.valueOf(a + rows))
  }

  private def copyPartitions(df: DataFrame, table: String): Long = {
    CsvBulk.requireCopyCompatible(df, table, "CopyManagerSink")
    val sql = copySql(table, df.columns.toSeq)
    val f = factory // local vals only in the closure — the sink itself never ships
    val lines = df.select(CsvBulk.csvLine(df)).queryExecution.toRdd
    val results = df.sparkSession.sparkContext.runJob(lines, (it: Iterator[InternalRow]) =>
      if (!it.hasNext) Right(0L) // empty partitions never open a connection
      else try {
        val session = f.open()
        // the rows are committed once copyIn returns; a failing close cannot undo that
        val rows = try session.copyIn(sql, new CsvLinesReader(it.map(_.getUTF8String(0).toString)))
          finally scala.util.Try(session.close())
        Right(rows)
      } catch {
        case e: TaskKilledException => throw e
        case NonFatal(e) => Left(e.toString)
      })
    val failed = results.indices.filter(results(_).isLeft)
    if (failed.nonEmpty) throw new PartialWrite(results.indices.filterNot(failed.contains).toSet,
      new java.io.IOException(s"COPY into $table failed in partition(s) " +
        s"${failed.mkString(", ")}: ${results(failed.head).swap.getOrElse("")}"))
    results.map(_.getOrElse(0L)).sum
  }

  override def countRows(spark: SparkSession, table: String): Option[Long] =
    Option(written.get(table)).map(_.longValue())
}
