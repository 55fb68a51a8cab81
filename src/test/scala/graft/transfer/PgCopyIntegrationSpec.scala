package graft.transfer

import java.io.File
import java.nio.file.{Files, Paths}
import scala.sys.process._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** A COPY session whose connection drops after `lines` CSV lines, in the
  * frame's partition `partition` only; the other partitions' sessions are
  * `inner`'s own. The session reads at most 64 chars at a time, so
  * CopyData frames reach the server before the drop. Serializable: it
  * ships to the executors. */
final class DroppingCopyFactory(inner: CopySessionFactory, lines: Int, partition: Int)
  extends CopySessionFactory {
  def open(): CopySession = {
    val session = inner.open()
    if (org.apache.spark.TaskContext.getPartitionId() != partition) session
    else new CopySession {
      def copyIn(sql: String, from: java.io.Reader): Long = session.copyIn(sql, new java.io.Reader {
        private var seen = 0
        def read(cbuf: Array[Char], off: Int, len: Int): Int = {
          if (seen >= lines) session.close() // the connection goes away mid-COPY
          val n = from.read(cbuf, off, math.min(len, 64))
          (off until off + math.max(n, 0)).foreach(i => if (cbuf(i) == '\n') seen += 1)
          n
        }
        def close(): Unit = from.close()
      })
      def close(): Unit = session.close()
    }
  }
}

/** Real-PostgreSQL COPY integration (round-9): pushes the bytes
  * [[CsvBulkSink]] writes through an ACTUAL PostgreSQL server's
  * `\copy … WITH (FORMAT csv, NULL '\N')` — the exact load command the
  * sink documents — and asserts the wire NULL discipline the reference
  * implements in `data_transfer.py:277-357`:
  *
  *   - SQL NULL arrives as DB NULL (unquoted `\N`)
  *   - empty string stays an empty string, NOT NULL
  *   - a LITERAL `\N` value survives as text (the sink quotes it; the
  *     reference's QUOTE_MINIMAL writer silently collapses it to NULL)
  *   - commas / quotes / embedded newlines round-trip through minimal
  *     RFC-4180 quoting; `\x00` bytes are stripped (invalid in PG text)
  *
  * The offline mirror carries no org.postgresql JDBC artifact, so the
  * CopyManager path stays spec'd against a recording fake
  * (CopyManagerSinkSpec) — but this image DOES ship the PostgreSQL 15
  * server binaries, which lets the CSV shard bytes be validated against
  * the genuine COPY parser rather than a reimplementation of it. The spec
  * is environment-conditional (`assume`): it initdbs a throwaway cluster
  * on a unix socket as the `postgres` system user (the server refuses
  * root) and tears it down in afterAll; absent binaries cancel, never
  * fail, so the suite stays green on images without PostgreSQL.
  */
class PgCopyIntegrationSpec extends SparkSpec {

  private val initdb = "/usr/local/bin/initdb"
  private val pgCtl = "/usr/local/bin/pg_ctl"
  /** Requires effective uid 0 as well as the binaries + postgres user:
    * beforeAll needs chown and `su postgres`, so an image that ships the
    * PG binaries but runs the suite unprivileged must CANCEL (assume),
    * never fail (round-9 advice). */
  private def pgAvailable: Boolean =
    new File(initdb).exists && new File(pgCtl).exists &&
      (Process(Seq("id", "-u", "postgres")).!(ProcessLogger(_ => ())) == 0) &&
      scala.util.Try(Process(Seq("id", "-u")).!!.trim).toOption.contains("0")

  /** A FREE TCP port probed at suite start: binding 5432 unconditionally
    * would hard-fail the whole suite (not cancel) on any host where a
    * system PostgreSQL or a concurrent run already listens there. The unix
    * socket name follows the port (.s.PGSQL.<port>), so everything keys
    * off this one value. */
  private val pgPort: Int = {
    val ss = new java.net.ServerSocket(0)
    try ss.getLocalPort finally ss.close()
  }
  private val base = Files.createTempDirectory("graft_pg").toFile
  private val dataDir = new File(base, "data")
  private val sockDir = new File(base, "sock")
  private val serverCrt = new File(base, "server.crt")
  private val serverKey = new File(base, "server.key")
  private var serverUp = false
  private var tlsReady = false // openssl generated the PEM pair and ssl=on

  /** Run a shell command as the postgres system user, cwd somewhere it
    * can read (su from /root/repo warns "could not change directory"). */
  private def asPostgres(cmd: String): Int =
    Process(Seq("su", "-s", "/bin/bash", "postgres", "-c", cmd),
      cwd = new File("/tmp")).!(ProcessLogger(_ => (), _ => ()))

  /** stdout of `psql -c sql`; stderr goes only into the failure message.
    * The two streams are read on their own threads, so each gets its own
    * buffer. */
  private def psql(sql: String): String = {
    val out = new StringBuffer
    val err = new StringBuffer
    val code = Process(Seq("psql", "-h", sockDir.getAbsolutePath, "-p", pgPort.toString,
      "-U", "postgres",
      "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-A", "-t", "-c", sql),
      cwd = new File("/tmp"))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    assert(code == 0, s"psql failed ($code): $sql\n$err")
    out.toString
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (pgAvailable) {
      dataDir.mkdirs(); sockDir.mkdirs()
      Process(Seq("chown", "-R", "postgres:postgres", base.getAbsolutePath)).!
      assert(asPostgres(s"$initdb -D ${dataDir.getAbsolutePath} -A trust") == 0,
        "initdb failed")
      // TLS server identity (round 11): a self-signed PEM pair so the wire
      // transport's sslmode ladder runs against the REAL server's TLS stack;
      // SAN=DNS:localhost so verify-full has a name to match. Best-effort —
      // without openssl the TLS test cancels, the rest run unencrypted.
      tlsReady = Process(Seq("openssl", "req", "-new", "-x509", "-days", "1",
        "-nodes", "-subj", "/CN=localhost",
        "-addext", "subjectAltName=DNS:localhost",
        "-keyout", serverKey.getAbsolutePath,
        "-out", serverCrt.getAbsolutePath)).!(ProcessLogger(_ => (), _ => ())) == 0
      if (tlsReady) {
        Process(Seq("chown", "postgres:postgres",
          serverCrt.getAbsolutePath, serverKey.getAbsolutePath)).!
        Process(Seq("chmod", "600", serverKey.getAbsolutePath)).!
      }
      val sslOpts = if (tlsReady)
        s" -c ssl=on -c ssl_cert_file=${serverCrt.getAbsolutePath}" +
          s" -c ssl_key_file=${serverKey.getAbsolutePath}"
      else ""
      val opts = s"-c listen_addresses='127.0.0.1' -c port=$pgPort" +
        s" -k ${sockDir.getAbsolutePath}" + sslOpts
      serverUp = asPostgres(s"""$pgCtl -D ${dataDir.getAbsolutePath} -o "$opts" """ +
        s"-w -l ${base.getAbsolutePath}/pg.log start") == 0
      assert(serverUp, "postgres failed to start")
    }
  }

  override def afterAll(): Unit = {
    if (serverUp)
      asPostgres(s"$pgCtl -D ${dataDir.getAbsolutePath} -m immediate stop")
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    super.afterAll()
  }

  test("CsvBulkSink shards load through real COPY with exact NULL discipline") {
    assume(pgAvailable, "PostgreSQL server binaries not present")
    import spark.implicits._

    val rows = Seq(
      (1L, Option("plain"), BigDecimal("10.50")),
      (2L, None, BigDecimal("20.00")),               // SQL NULL
      (3L, Option(""), BigDecimal("30.25")),          // empty, NOT NULL
      (4L, Option("\\N"), BigDecimal("1.00")),        // literal backslash-N
      (5L, Option("has,comma"), BigDecimal("2.00")),
      (6L, Option("has\"quote"), BigDecimal("3.00")),
      (7L, Option("line1\nline2"), BigDecimal("4.00")),
      (8L, Option("nul\u0000byte"), BigDecimal("5.00"))) // \x00 stripped
    val df = rows.toDF("id", "txt", "amt")
      .select($"id", $"txt", $"amt".cast("decimal(12,2)").as("amt"))

    val outDir = Files.createTempDirectory("graft_pg_csv").toString
    val sink = new CsvBulkSink(outDir)
    sink.write(df, "copytest")
    assert(sink.countRows(spark, "copytest") === Some(rows.size.toLong))

    psql("DROP TABLE IF EXISTS copytest")
    psql("CREATE TABLE copytest (id bigint, txt text, amt numeric(12,2))")
    val shards = new File(sink.path("copytest")).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    assert(shards.nonEmpty, "no CSV shards written")
    shards.foreach { shard =>
      psql(s"\\copy copytest FROM '${shard.getAbsolutePath}' " +
        "WITH (FORMAT csv, NULL '\\N')")
    }

    // read back: (id, is-null flag, md5 of the text PG stored) — md5
    // sidesteps psql's own output escaping for newlines/delimiters
    val got = psql(
      """SELECT id, (txt IS NULL)::int, md5(coalesce(txt, '')), amt
        |FROM copytest ORDER BY id""".stripMargin)
      .trim.split('\n').filter(_.nonEmpty).map { l =>
        val Array(id, isNull, m, amt) = l.split('|')
        (id.toLong, isNull == "1", m, amt)
      }
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = Seq(
      (1L, false, md5Hex("plain"), "10.50"),
      (2L, true, md5Hex(""), "20.00"),
      (3L, false, md5Hex(""), "30.25"),
      (4L, false, md5Hex("\\N"), "1.00"),             // survived as text
      (5L, false, md5Hex("has,comma"), "2.00"),
      (6L, false, md5Hex("has\"quote"), "3.00"),
      (7L, false, md5Hex("line1\nline2"), "4.00"),
      (8L, false, md5Hex("nulbyte"), "5.00"))          // \x00 gone, rest kept
    assert(got.toSeq === expected)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(outDir))
  }

  /** The round-9 caveat closer: `migrate --format copy` pushes bytes through
    * an EXECUTING CopySession into a real PostgreSQL server — the reference's
    * headline capability (`data_transfer.py:210-382`, COPY FROM STDIN) run
    * end-to-end, not spec'd against a fake. The transport is the v3
    * wire-protocol client ([[PgWireSession]]), connecting over the cluster's
    * unix socket via `?socketDir=`; per-partition sessions stream
    * concurrently exactly as they would against a TCP target. */
  test("migrate --format copy --copy-transport wire loads real tables with matching counts") {
    assume(pgAvailable, "PostgreSQL server binaries not present")
    psql("DROP TABLE IF EXISTS region"); psql("DROP TABLE IF EXISTS nation")
    psql("CREATE TABLE region (r_regionkey int, r_name text)")
    psql("CREATE TABLE nation (n_nationkey int, n_name text, n_regionkey int)")

    val url = s"jdbc:postgresql://localhost:$pgPort/postgres?user=postgres" +
      s"&socketDir=${sockDir.getAbsolutePath}"
    val outLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = graft.cli.Main.run(
      Array("migrate", "--source", sfDir, "--target", url,
        "--tables", "region,nation", "--format", "copy", "--copy-transport", "wire"),
      spark, s => outLines += s)
    assert(code === 0, s"migrate failed:\n${outLines.mkString("\n")}")

    val srcRegion = spark.read.parquet(s"$sfDir/region.parquet").count()
    val srcNation = spark.read.parquet(s"$sfDir/nation.parquet").count()
    assert(psql("SELECT count(*) FROM region").trim.toLong === srcRegion)
    assert(psql("SELECT count(*) FROM nation").trim.toLong === srcNation)
    // the engine's reported per-table counts are the DATABASE-acknowledged
    // COPY tags, so they must agree with what the server holds
    assert(outLines.exists(l => l.startsWith("region") && l.contains(s"$srcRegion rows")))
    assert(outLines.exists(l => l.startsWith("nation") && l.contains(s"$srcNation rows")))
    // content spot-check through the wire path: exact name set, not just counts
    val pgNames = psql("SELECT r_name FROM region ORDER BY r_name").trim
      .split('\n').filter(_.nonEmpty).toSeq
    val srcNames = spark.read.parquet(s"$sfDir/region.parquet")
      .select("r_name").collect().map(_.getString(0)).sorted.toSeq
    assert(pgNames === srcNames)
  }

  test("a wire-COPY connection lost mid-chunk keeps the checkpoint there; the rerun loads every row once") {
    assume(pgAvailable, "PostgreSQL server binaries not present")
    psql("DROP TABLE IF EXISTS faultcopy"); psql("CREATE TABLE faultcopy (k bigint, v text)")
    val src = Files.createTempDirectory("graft_pg_fault").toString
    // three files, so each chunk is staged over three partitions: three
    // COPY transactions, of which the dropped one alone rolls back
    spark.range(0, 3000).selectExpr("id AS k", "concat('v', id) AS v").repartition(3)
      .write.parquet(s"$src/faultcopy.parquet")
    val p = spark.read.parquet(s"$src/faultcopy.parquet").queryExecution.toRdd.getNumPartitions
    assert(p > 1, s"the source plans $p partitions")
    val wire = new PgWireCopySessionFactory(sockDir.getAbsolutePath, pgPort, "postgres", "postgres")
    val ckpt = s"$src/ckpt.json"
    def engine(sink: TableSink) = new TransferEngine(new ParquetSource(src), sink,
      Some(new CheckpointManager(ckpt, "sf", "pg")),
      chunkColumns = Map("faultcopy" -> "k"), chunkCount = 5)

    /** Chunk 3 of 5 goes through a connection that drops after 50 lines
      * in the chunk's first partition. */
    val dropping = new TableSink {
      private var chunks = 0
      private val ok = new CopyManagerSink(wire)
      private val lost = new CopyManagerSink(new DroppingCopyFactory(wire, lines = 50, partition = 0))
      def write(df: DataFrame, table: String): Unit = ok.write(df, table)
      override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit = {
        chunks += 1
        (if (chunks == 3) lost else ok).writeChunk(df, table, firstChunk)
      }
    }
    assert(!engine(dropping).transferTable(spark, "faultcopy").success)
    val cp = new CheckpointManager(ckpt, "sf", "pg")
    assert(cp.resumeOffset("faultcopy") === 2)
    assert(cp.committedPartitions("faultcopy") === Some((p, (1 until p).toSet)))
    // chunks 1-2 (keys 0-1199, width 600) are in, and so are chunk 3's
    // other partitions; the dropped COPY rolled back
    val Array(landed, below) = psql(
      "SELECT count(*), count(*) FILTER (WHERE k < 1200) FROM faultcopy").trim.split('|').map(_.toInt)
    assert(below === 1200 && landed > 1200 && landed < 1800, s"$landed rows landed")

    val rerun = engine(new CopyManagerSink(wire)).transferTable(spark, "faultcopy")
    assert(rerun.success, rerun.errorMessage)
    assert(psql("SELECT count(*), count(DISTINCT k) FROM faultcopy").trim === "3000|3000")
    org.apache.commons.io.FileUtils.deleteQuietly(new File(src))
  }

  /** Round-10 directive: PG ≥14 defaults `password_encryption =
    * scram-sha-256`, so the dependency-free wire transport must negotiate
    * SCRAM against a REAL server, not just the scripted backend. A dedicated
    * role is forced onto scram by a prepended pg_hba rule (the cluster-wide
    * socket rule stays trust for the orchestration psql). */
  test("wire transport negotiates SCRAM-SHA-256 against a real server") {
    assume(pgAvailable, "PostgreSQL server binaries not present")
    psql("SET password_encryption = 'scram-sha-256'; " +
      "DROP ROLE IF EXISTS scramuser; " +
      "CREATE ROLE scramuser LOGIN PASSWORD 'scr4m-pw'")
    // verify the server actually stored a SCRAM verifier, so this test can't
    // silently pass through an md5 path
    assert(psql("SELECT rolpassword FROM pg_authid WHERE rolname='scramuser'")
      .contains("SCRAM-SHA-256"))
    val hba = s"${dataDir.getAbsolutePath}/pg_hba.conf"
    assert(asPostgres(
      s"sed -i '1i local all scramuser scram-sha-256' $hba") == 0)
    assert(asPostgres(s"$pgCtl -D ${dataDir.getAbsolutePath} reload") == 0)
    psql("DROP TABLE IF EXISTS scramcopy; CREATE TABLE scramcopy (id int, txt text); " +
      "GRANT ALL ON scramcopy TO scramuser")

    val factory = new PgWireCopySessionFactory(
      sockDir.getAbsolutePath, pgPort, "postgres", "scramuser", Some("scr4m-pw"))
    val s = factory.open()
    try {
      val n = s.copyIn("COPY scramcopy FROM STDIN WITH CSV NULL '\\N'",
        new java.io.StringReader("1,uno\n2,dos\n3,tres\n"))
      assert(n === 3L)
    } finally s.close()
    assert(psql("SELECT count(*) FROM scramcopy").trim.toLong === 3L)
    assert(psql("SELECT txt FROM scramcopy WHERE id=2").trim === "dos")

    // wrong password: the server rejects the proof loudly (28P01), no hang
    val bad = new PgWireCopySessionFactory(
      sockDir.getAbsolutePath, pgPort, "postgres", "scramuser", Some("not-the-password"))
    val e = intercept[PgWireException](bad.open())
    assert(e.sqlState === "28P01")
  }

  /** Round-11: the wire transport's TLS ladder against the REAL server's
    * ssl=on stack over TCP loopback — require (encrypt, no verification),
    * verify-full (chain pinned to the server's own self-signed cert +
    * hostname), and a wrong-CA loud failure. */
  test("wire transport TLS: require and verify-full against a real ssl=on server") {
    assume(pgAvailable, "PostgreSQL server binaries not present")
    assume(tlsReady, "openssl not available to mint the server certificate")
    assert(psql("SHOW ssl").trim === "on")
    psql("DROP TABLE IF EXISTS tlscopy; CREATE TABLE tlscopy (id int, txt text)")

    val req = new PgWireCopySessionFactory("127.0.0.1", pgPort, "postgres", "postgres",
      password = None, sslMode = "require")
    val s1 = req.open()
    try assert(s1.copyIn("COPY tlscopy FROM STDIN WITH CSV NULL '\\N'",
      new java.io.StringReader("1,enc\n2,rypted\n")) === 2L)
    finally s1.close()

    val ver = new PgWireCopySessionFactory("localhost", pgPort, "postgres", "postgres",
      password = None, sslMode = "verify-full",
      sslRootCert = Some(serverCrt.getAbsolutePath))
    val s2 = ver.open()
    try assert(s2.copyIn("COPY tlscopy FROM STDIN WITH CSV NULL '\\N'",
      new java.io.StringReader("3,verified\n")) === 1L)
    finally s2.close()
    assert(psql("SELECT count(*) FROM tlscopy").trim.toLong === 3L)

    // a root that did NOT sign the server cert must fail the handshake
    val bogusPem = new File(base, "bogus.pem")
    assert(Process(Seq("openssl", "req", "-new", "-x509", "-days", "1", "-nodes",
      "-subj", "/CN=localhost", "-addext", "subjectAltName=DNS:localhost",
      "-keyout", new File(base, "bogus.key").getAbsolutePath,
      "-out", bogusPem.getAbsolutePath)).!(ProcessLogger(_ => (), _ => ())) == 0)
    val wrong = new PgWireCopySessionFactory("localhost", pgPort, "postgres", "postgres",
      password = None, sslMode = "verify-ca",
      sslRootCert = Some(bogusPem.getAbsolutePath))
    intercept[java.io.IOException](wrong.open())
  }

  /** Round-11: SCRAM-SHA-256-PLUS channel binding against the real server.
    * PostgreSQL advertises -PLUS on every TLS connection; the client must
    * choose it, and the server RECOMPUTES the channel-binding c= attribute
    * from its own certificate — so a successful login IS proof the RFC
    * 5929 tls-server-end-point hash matched. An hostssl-only rule forces
    * SCRAM for the role over TCP. */
  test("wire transport negotiates SCRAM-SHA-256-PLUS channel binding over real TLS") {
    assume(pgAvailable, "PostgreSQL server binaries not present")
    assume(tlsReady, "openssl not available to mint the server certificate")
    psql("SET password_encryption = 'scram-sha-256'; " +
      "DROP ROLE IF EXISTS cbuser; CREATE ROLE cbuser LOGIN PASSWORD 'cb-pw'")
    val hba = s"${dataDir.getAbsolutePath}/pg_hba.conf"
    assert(asPostgres(
      s"sed -i '1i hostssl all cbuser 127.0.0.1/32 scram-sha-256' $hba") == 0)
    assert(asPostgres(s"$pgCtl -D ${dataDir.getAbsolutePath} reload") == 0)
    psql("DROP TABLE IF EXISTS cbcopy; CREATE TABLE cbcopy (id int); " +
      "GRANT ALL ON cbcopy TO cbuser")

    val f = new PgWireCopySessionFactory("127.0.0.1", pgPort, "postgres", "cbuser",
      password = Some("cb-pw"), sslMode = "require")
    val s = f.open()
    try {
      assert(s.asInstanceOf[PgWireSession].authMechanism ===
        Some("SCRAM-SHA-256-PLUS"))
      assert(s.copyIn("COPY cbcopy FROM STDIN WITH CSV NULL '\\N'",
        new java.io.StringReader("7\n8\n")) === 2L)
    } finally s.close()
    assert(psql("SELECT count(*) FROM cbcopy").trim.toLong === 2L)

    // wrong password still fails loudly through the PLUS exchange
    val bad = new PgWireCopySessionFactory("127.0.0.1", pgPort, "postgres", "cbuser",
      password = Some("wrong"), sslMode = "require")
    val e = intercept[PgWireException](bad.open())
    assert(e.sqlState === "28P01")
  }
}
