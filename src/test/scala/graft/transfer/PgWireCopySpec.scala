package graft.transfer

import java.nio.ByteBuffer
import java.nio.channels.{ServerSocketChannel, SocketChannel}
import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Scripted PostgreSQL backend for [[PgWireSession]]: binds a unix domain
  * socket with libpq naming (`<dir>/.s.PGSQL.<port>`), accepts one
  * connection per test, and plays the documented backend side of the v3
  * protocol — so the frontend's framing, auth responses, COPY-IN streaming,
  * and error recovery are asserted byte-for-byte without PostgreSQL
  * installed. The integration spec (PgWireIntegrationSpec) then replays the
  * same client against a REAL server.
  */
final class FakePgBackend(authMode: String, password: String = "sekret") {
  val dir = Files.createTempDirectory("graft_fakepg").toFile
  private val server = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
  server.bind(UnixDomainSocketAddress.of(s"${dir.getAbsolutePath}/.s.PGSQL.5432"))

  /** What the backend observed, for the spec to assert on. */
  @volatile var startupParams: Map[String, String] = Map.empty
  @volatile var receivedPassword: Option[String] = None
  @volatile var lastQuery: String = ""
  @volatile var copyBytes: Array[Byte] = Array.emptyByteArray
  @volatile var sawCopyDone = false
  @volatile var sawCopyFail: Option[String] = None
  @volatile var failNextQuery: Option[(String, String)] = None // (sqlstate, message)
  @volatile var scramVerified = false // backend-side proof check passed

  private def msg(ch: SocketChannel, tpe: Char, payload: Array[Byte]): Unit = {
    val buf = ByteBuffer.allocate(5 + payload.length)
    buf.put(tpe.toByte).putInt(4 + payload.length).put(payload).flip()
    while (buf.hasRemaining) ch.write(buf)
  }

  private def readFully(ch: SocketChannel, n: Int): ByteBuffer = {
    val buf = ByteBuffer.allocate(n)
    while (buf.hasRemaining)
      if (ch.read(buf) < 0) throw new java.io.EOFException("client closed")
    buf.flip(); buf
  }

  private def readFrontend(ch: SocketChannel): (Byte, ByteBuffer) = {
    val head = readFully(ch, 5)
    val tpe = head.get(); val len = head.getInt() - 4
    (tpe, readFully(ch, len))
  }

  private def cstr(b: ByteBuffer): String = {
    val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var c = b.get(); while (c != 0) { bytes += c; c = b.get() }
    new String(bytes.toArray, UTF_8)
  }

  private def ready(ch: SocketChannel): Unit = msg(ch, 'Z', Array('I'.toByte))

  private def errorResponse(state: String, m: String): Array[Byte] =
    Array('S'.toByte) ++ "ERROR".getBytes(UTF_8) ++ Array[Byte](0) ++
      Array('C'.toByte) ++ state.getBytes(UTF_8) ++ Array[Byte](0) ++
      Array('M'.toByte) ++ m.getBytes(UTF_8) ++ Array[Byte](0) ++ Array[Byte](0)

  val thread = new Thread(() => {
    try {
      val ch = server.accept()
      // StartupMessage has no type byte: int32 len, int32 protocol, params
      val head = readFully(ch, 8)
      val len = head.getInt() - 8; val proto = head.getInt()
      assert(proto == 196608, s"bad protocol $proto")
      val body = readFully(ch, len)
      val params = scala.collection.mutable.Map.empty[String, String]
      var k = cstr(body)
      while (k.nonEmpty) { params(k) = cstr(body); k = if (body.remaining() > 1) cstr(body) else "" }
      startupParams = params.toMap
      authMode match {
        case "trust" => msg(ch, 'R', ByteBuffer.allocate(4).putInt(0).array())
        case "cleartext" =>
          msg(ch, 'R', ByteBuffer.allocate(4).putInt(3).array())
          val (t, p) = readFrontend(ch); assert(t == 'p'.toByte)
          receivedPassword = Some(cstr(p))
          msg(ch, 'R', ByteBuffer.allocate(4).putInt(0).array())
        case "md5" =>
          msg(ch, 'R', ByteBuffer.allocate(8).putInt(5).put("SALT".getBytes(UTF_8)).array())
          val (t, p) = readFrontend(ch); assert(t == 'p'.toByte)
          receivedPassword = Some(cstr(p))
          msg(ch, 'R', ByteBuffer.allocate(4).putInt(0).array())
        case "sasl-unknown" => // only a mechanism the client can't do
          msg(ch, 'R', ByteBuffer.allocate(4).putInt(10).array() ++
            "SCRAM-SHA-256-PLUS".getBytes(UTF_8) ++ Array[Byte](0, 0))
          ch.close()
        case "scram-skipfinal" =>
          // the premature-AuthOk MITM: harvest the client proof, then skip
          // the SASLFinal v= message (which an impostor cannot forge) and
          // wave the session through — the client must refuse
          msg(ch, 'R', ByteBuffer.allocate(4).putInt(10).array() ++
            "SCRAM-SHA-256".getBytes(UTF_8) ++ Array[Byte](0, 0))
          val (ti, pi) = readFrontend(ch); assert(ti == 'p'.toByte)
          val mech0 = cstr(pi); assert(mech0 == "SCRAM-SHA-256")
          val il = pi.getInt(); val ib = new Array[Byte](il); pi.get(ib)
          val cb = new String(ib, UTF_8).drop(3)
          val cn = Scram.parseAttrs(cb)('r')
          val sn = cn + "srvNONCE"
          msg(ch, 'R', ByteBuffer.allocate(4).putInt(11).array() ++
            (s"r=$sn,s=${java.util.Base64.getEncoder.encodeToString("somesalt".getBytes(UTF_8))}," +
              "i=4096").getBytes(UTF_8))
          val (tf, _) = readFrontend(ch); assert(tf == 'p'.toByte) // proof harvested
          msg(ch, 'R', ByteBuffer.allocate(4).putInt(0).array()) // premature AuthOk
          serveQueries(ch)
        case "scram" | "scram-tamper" =>
          // full scripted RFC 7677 verifier: the backend checks the client's
          // proof from first principles (same Scram math, server side), so a
          // wrong password is REJECTED like a real server would
          msg(ch, 'R', ByteBuffer.allocate(4).putInt(10).array() ++
            "SCRAM-SHA-256".getBytes(UTF_8) ++ Array[Byte](0, 0))
          val (t1, p1) = readFrontend(ch); assert(t1 == 'p'.toByte)
          val mech = cstr(p1)
          assert(mech == "SCRAM-SHA-256", s"client picked $mech")
          val ilen = p1.getInt()
          val ibytes = new Array[Byte](ilen); p1.get(ibytes)
          val clientFirst = new String(ibytes, UTF_8)
          assert(clientFirst.startsWith("n,,"), s"bad GS2 header in $clientFirst")
          val bare = clientFirst.drop(3)
          val cnonce = Scram.parseAttrs(bare)('r')
          val snonce = cnonce + "srvNONCE/fixed+suffix"
          val salt = "pepper&salt8bytes".getBytes(UTF_8)
          val b64 = java.util.Base64.getEncoder
          val serverFirst = s"r=$snonce,s=${b64.encodeToString(salt)},i=4096"
          msg(ch, 'R', ByteBuffer.allocate(4).putInt(11).array() ++
            serverFirst.getBytes(UTF_8))
          val (t2, p2) = readFrontend(ch); assert(t2 == 'p'.toByte)
          val fbytes = new Array[Byte](p2.remaining()); p2.get(fbytes)
          val clientFinal = new String(fbytes, UTF_8)
          val fattrs = Scram.parseAttrs(clientFinal)
          assert(fattrs('c') == "biws" && fattrs('r') == snonce,
            s"bad client-final $clientFinal")
          val withoutProof = clientFinal.substring(0, clientFinal.lastIndexOf(",p="))
          val authMessage = s"$bare,$serverFirst,$withoutProof"
          val salted = Scram.hi(password, salt, 4096)
          val clientKey = Scram.hmac(salted, "Client Key")
          val storedKey = Scram.sha256(clientKey)
          val clientSig = Scram.hmac(storedKey, authMessage)
          val proof = java.util.Base64.getDecoder.decode(fattrs('p'))
          val recovered = proof.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
          if (!java.util.Arrays.equals(Scram.sha256(recovered), storedKey)) {
            msg(ch, 'E', errorResponse("28P01",
              s"password authentication failed for user \"${params("user")}\""))
            ch.close()
          } else {
            scramVerified = true
            var serverSig = Scram.hmac(Scram.hmac(salted, "Server Key"), authMessage)
            if (authMode == "scram-tamper") serverSig = serverSig.map(b => (b ^ 0x5a).toByte)
            msg(ch, 'R', ByteBuffer.allocate(4).putInt(12).array() ++
              s"v=${b64.encodeToString(serverSig)}".getBytes(UTF_8))
            msg(ch, 'R', ByteBuffer.allocate(4).putInt(0).array())
            serveQueries(ch)
          }
      }
      if (authMode == "trust" || authMode == "cleartext" || authMode == "md5")
        serveQueries(ch)
    } catch { case _: java.io.IOException => () } // client hung up (EOF/reset): scripted scenario over
  })

  private def serveQueries(ch: SocketChannel): Unit = {
    try {
      // ParameterStatus + BackendKeyData, like a real server
      msg(ch, 'S', "server_version".getBytes(UTF_8) ++ Array[Byte](0) ++
        "15.0".getBytes(UTF_8) ++ Array[Byte](0))
      msg(ch, 'K', ByteBuffer.allocate(8).putInt(1234).putInt(5678).array())
      ready(ch)
      // query loop: each 'Q' is a COPY that accumulates 'd' until 'c'/'f'
      var open = true
      while (open) {
        val (tpe, payload) = readFrontend(ch)
        tpe.toChar match {
          case 'Q' =>
            lastQuery = cstr(payload)
            failNextQuery match {
              case Some((state, m)) =>
                failNextQuery = None
                msg(ch, 'E', errorResponse(state, m)); ready(ch)
              case None =>
                msg(ch, 'G', Array[Byte](0, 0, 0)) // text format, 0 columns described
                val acc = new java.io.ByteArrayOutputStream()
                var inCopy = true
                while (inCopy) {
                  val (t2, p2) = readFrontend(ch)
                  t2.toChar match {
                    case 'd' => val a = new Array[Byte](p2.remaining()); p2.get(a); acc.write(a)
                    case 'c' =>
                      sawCopyDone = true; inCopy = false
                      copyBytes = acc.toByteArray
                      val rows = new String(copyBytes, UTF_8).count(_ == '\n')
                      msg(ch, 'C', s"COPY $rows".getBytes(UTF_8) ++ Array[Byte](0))
                      ready(ch)
                    case 'f' =>
                      sawCopyFail = Some(cstr(p2)); inCopy = false
                      msg(ch, 'E', errorResponse("57014", "COPY from stdin failed")); ready(ch)
                    case other => throw new AssertionError(s"unexpected in-copy message $other")
                  }
                }
            }
          case 'X' => open = false; ch.close()
          case other => throw new AssertionError(s"unexpected frontend message $other")
        }
      }
    } catch { case _: java.io.IOException => () } // client hung up: scenario over
  }

  thread.setDaemon(true)
  thread.start()

  def close(): Unit = {
    server.close()
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}

class PgWireCopySpec extends AnyFunSuite {

  private def withBackend(mode: String)(f: (FakePgBackend, PgWireCopySessionFactory) => Unit): Unit = {
    val be = new FakePgBackend(mode)
    try {
      val factory = new PgWireCopySessionFactory(
        be.dir.getAbsolutePath, 5432, "graftdb", "graft",
        password = if (mode == "trust") None else Some("sekret"))
      f(be, factory)
    } finally be.close()
  }

  test("trust handshake sends user/database/client_encoding and reaches ready") {
    withBackend("trust") { (be, factory) =>
      val s = factory.open()
      try {
        val n = s.copyIn("COPY t FROM STDIN WITH CSV NULL '\\N'",
          new java.io.StringReader("1,a\n2,b\n"))
        assert(n === 2L)
      } finally s.close()
      assert(be.startupParams("user") === "graft")
      assert(be.startupParams("database") === "graftdb")
      assert(be.startupParams("client_encoding") === "UTF8")
    }
  }

  test("copyIn streams the exact bytes, chunked, and returns the server's COPY count") {
    withBackend("trust") { (be, factory) =>
      // > one 64 KiB chunk, with multi-byte UTF-8 straddling chunk reads
      val line = "42,\"héllo — ünïcode\"\n"
      val big = line * 20000
      val s = factory.open()
      try {
        val n = s.copyIn("COPY big FROM STDIN WITH CSV NULL '\\N'", new java.io.StringReader(big))
        assert(n === 20000L)
      } finally s.close()
      assert(be.sawCopyDone)
      assert(new String(be.copyBytes, UTF_8) === big) // byte-exact through chunking
      assert(be.lastQuery === "COPY big FROM STDIN WITH CSV NULL '\\N'")
    }
  }

  test("cleartext auth sends the password; md5 sends the salted double-hash") {
    withBackend("cleartext") { (be, factory) =>
      val s = factory.open()
      try s.copyIn("COPY t FROM STDIN WITH CSV NULL '\\N'", new java.io.StringReader(""))
      finally s.close()
      assert(be.receivedPassword === Some("sekret"))
    }
    withBackend("md5") { (be, factory) =>
      val s = factory.open()
      try s.copyIn("COPY t FROM STDIN WITH CSV NULL '\\N'", new java.io.StringReader(""))
      finally s.close()
      def md5hex(b: Array[Byte]): String =
        java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString
      val expected = "md5" + md5hex(
        md5hex("sekretgraft".getBytes(UTF_8)).getBytes(UTF_8) ++ "SALT".getBytes(UTF_8))
      assert(be.receivedPassword === Some(expected))
    }
  }

  test("SCRAM-SHA-256: full RFC 7677 exchange authenticates and COPY runs") {
    withBackend("scram") { (be, factory) =>
      val s = factory.open()
      try {
        val n = s.copyIn("COPY t FROM STDIN WITH CSV NULL '\\N'",
          new java.io.StringReader("1,a\n2,b\n3,c\n"))
        assert(n === 3L)
      } finally s.close()
      assert(be.scramVerified, "backend did not verify the client proof")
    }
  }

  test("SCRAM-SHA-256: wrong password is rejected by the proof check with 28P01") {
    val be = new FakePgBackend("scram") // backend knows 'sekret'
    try {
      val factory = new PgWireCopySessionFactory(
        be.dir.getAbsolutePath, 5432, "graftdb", "graft", password = Some("wrong"))
      val e = intercept[PgWireException](factory.open())
      assert(e.sqlState === "28P01")
      assert(!be.scramVerified)
    } finally be.close()
  }

  test("SCRAM-SHA-256: AuthenticationOk before a verified SASLFinal is refused (MITM)") {
    withBackend("scram-skipfinal") { (_, factory) =>
      val e = intercept[java.io.IOException](factory.open())
      assert(e.getMessage.contains("before completing the SCRAM exchange"))
    }
  }

  test("SCRAM-SHA-256: a tampered server signature is rejected as possible MITM") {
    withBackend("scram-tamper") { (_, factory) =>
      val e = intercept[java.io.IOException](factory.open())
      assert(e.getMessage.contains("server signature mismatch"))
    }
  }

  test("a SASL list with only unusable mechanisms fails loudly, naming them") {
    // PLUS-only over a UNIX socket: channel binding needs TLS, which unix
    // connections never run, so the client cannot use the offered mechanism
    withBackend("sasl-unknown") { (_, factory) =>
      val e = intercept[java.io.IOException](factory.open())
      assert(e.getMessage.contains("SCRAM-SHA-256-PLUS"))
      assert(e.getMessage.contains("only SCRAM-SHA-256[-PLUS] is implemented"))
    }
  }

  test("a surrogate pair straddling the 64 KiB chunk boundary encodes intact") {
    withBackend("trust") { (be, factory) =>
      // 64 Ki chars fill one read exactly; position the HIGH surrogate as the
      // last char of the first read so naive per-chunk encoding would emit
      // '?' twice — the client must hold it back and pair it (round-10 advice)
      val emoji = "😀" // U+1F600, one code point, two chars
      val payload = ("a" * (64 * 1024 - 1)) + emoji + ",tail\n"
      val s = factory.open()
      try {
        val n = s.copyIn("COPY t FROM STDIN WITH CSV NULL '\\N'",
          new java.io.StringReader(payload))
        assert(n === 1L)
      } finally s.close()
      val got = new String(be.copyBytes, UTF_8)
      assert(got === payload) // byte-exact: no '?' substitution, nothing dropped
      assert(!got.contains('?'))
    }
  }

  test("unpaired surrogates reach the server as '?', the bytes String.getBytes makes") {
    withBackend("trust") { (be, factory) =>
      // a lone low surrogate mid-stream, a reversed pair, and a lone high
      // surrogate as the very last char (held back, then sent at EOF)
      val payload = "a\uDC00b,\uDE00\uD83D\n" + ("x" * (64 * 1024)) + "\uD83D"
      val s = factory.open()
      try s.copyIn("COPY t FROM STDIN WITH CSV NULL '\\N'", new java.io.StringReader(payload))
      finally s.close()
      assert(be.copyBytes.toSeq === payload.getBytes(UTF_8).toSeq)
    }
  }

  test("server error on the COPY statement surfaces severity+sqlstate and leaves the session usable") {
    withBackend("trust") { (be, factory) =>
      val s = factory.open()
      try {
        be.failNextQuery = Some(("42P01", "relation \"missing\" does not exist"))
        val e = intercept[PgWireException](
          s.copyIn("COPY missing FROM STDIN WITH CSV NULL '\\N'", new java.io.StringReader("x\n")))
        assert(e.sqlState === "42P01")
        assert(e.getMessage.contains("does not exist"))
        // protocol drained to ReadyForQuery: the next COPY on the same session works
        val n = s.copyIn("COPY t FROM STDIN WITH CSV NULL '\\N'", new java.io.StringReader("1\n"))
        assert(n === 1L)
      } finally s.close()
    }
  }

  test("a reader failure mid-stream sends CopyFail and rethrows the local cause") {
    withBackend("trust") { (be, factory) =>
      val boom = new java.io.Reader {
        private var fed = false
        def read(c: Array[Char], off: Int, len: Int): Int =
          if (!fed) { fed = true; "1,partial\n".getChars(0, 10, c, off); 10 }
          else throw new RuntimeException("upstream iterator died")
        def close(): Unit = ()
      }
      val s = factory.open()
      try {
        val e = intercept[RuntimeException](
          s.copyIn("COPY t FROM STDIN WITH CSV NULL '\\N'", boom))
        assert(e.getMessage === "upstream iterator died")
      } finally s.close()
      assert(be.sawCopyFail.exists(_.contains("upstream iterator died")))
    }
  }

  test("fromJdbcUrl parses host/port/db/user/password/socketDir with props precedence") {
    val f1 = PgWireCopySessionFactory.fromJdbcUrl(
      "jdbc:postgresql://db.example:5433/warehouse?user=loader&password=pw")
    // reflection-free sanity: open() against a dead host fails with connect, not parse
    assert(f1.isInstanceOf[CopySessionFactory])
    val f2 = PgWireCopySessionFactory.fromJdbcUrl(
      "jdbc:postgresql://localhost/postgres?user=postgres&socketDir=%2Ftmp%2Fsock")
    assert(f2.isInstanceOf[CopySessionFactory])
    intercept[IllegalArgumentException](
      PgWireCopySessionFactory.fromJdbcUrl("jdbc:postgresql://h/db")) // no user anywhere
    intercept[IllegalArgumentException](
      PgWireCopySessionFactory.fromJdbcUrl("jdbc:derby:memory:x")) // wrong scheme
    // IPv6 literals (round-10 advice): bracketed with port, bracketed bare,
    // and bare multi-colon — none may be split at the LAST colon
    for ((u, h, p) <- Seq(
        ("jdbc:postgresql://[::1]:5433/db?user=u", "::1", 5433),
        ("jdbc:postgresql://[::1]/db?user=u", "::1", 5432),
        ("jdbc:postgresql://::1/db?user=u", "::1", 5432),
        ("jdbc:postgresql://[2001:db8::7]:5433/db?user=u", "2001:db8::7", 5433),
        ("jdbc:postgresql://h4:5433/db?user=u", "h4", 5433))) {
      val f = PgWireCopySessionFactory.fromJdbcUrl(u)
      assert(f.host === h, u); assert(f.port === p, u)
    }
    intercept[IllegalArgumentException](
      PgWireCopySessionFactory.fromJdbcUrl("jdbc:postgresql://[::1/db?user=u")) // unterminated
  }
}
