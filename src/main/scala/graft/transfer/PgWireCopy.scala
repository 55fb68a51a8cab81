package graft.transfer

import java.io.IOException
import java.net.{InetSocketAddress, StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.{ByteBuffer, CharBuffer}
import java.nio.channels.SocketChannel
import java.nio.charset.CodingErrorAction
import java.nio.charset.StandardCharsets.UTF_8

/** A PostgreSQL backend error surfaced to the caller — severity + message +
  * SQLSTATE, the fields a failed COPY needs for fault classification. */
final class PgWireException(val severity: String, val sqlState: String, message: String)
  extends IOException(s"$severity ($sqlState): $message")

/** Dependency-free COPY FROM STDIN over the PostgreSQL v3 wire protocol —
  * the execution path the reference drives through psycopg2's `copy_expert`
  * (`data_transfer.py:339-344`), implemented directly against the documented
  * frontend/backend protocol so `--format copy` works with ZERO jars beyond
  * Spark: no pgjdbc on the classpath, no reflective dispatch.
  *
  * The COPY-IN leg really is three frontend message types —
  *
  *   - `Q` Query: `COPY t (cols) FROM STDIN WITH CSV NULL '\N'`
  *   - `d` CopyData: raw CSV bytes, chunked
  *   - `c` CopyDone (or `f` CopyFail if the local reader throws mid-stream)
  *
  * — plus the startup handshake (StartupMessage, Authentication, ReadyForQuery)
  * and the `COPY <n>` CommandComplete that carries the database-acknowledged
  * row count [[CopySession.copyIn]] must return. Connects over TCP — with
  * the SSLRequest/TLS preamble per libpq's full `sslmode` ladder
  * (disable/prefer/require/verify-ca/verify-full + `sslrootcert`, JDK
  * `javax.net.ssl`, zero dependencies) — or, when the host is an absolute
  * path (libpq convention), a unix domain socket (`<dir>/.s.PGSQL.<port>`,
  * JDK 17 `StandardProtocolFamily.UNIX`; no TLS, as libpq).
  *
  * Auth: trust, cleartext password, md5, and SCRAM-SHA-256 (RFC 5802/7677
  * over JDK `javax.crypto` — see [[Scram]]) are implemented; PostgreSQL ≥14
  * defaults `password_encryption = scram-sha-256`, so SCRAM is the one a
  * stock modern server actually requires (psycopg2 gets it from libpq,
  * `connections.py:92-163`). Anything else — GSS, SSPI, channel-binding-only
  * SCRAM-SHA-256-PLUS — fails loudly with the mechanism code so a
  * misconfigured target is a clear error, not a hang.
  */
final class PgWireCopySessionFactory(
    val host: String,
    val port: Int,
    val database: String,
    val user: String,
    password: Option[String] = None,
    val sslMode: String = "prefer",
    val sslRootCert: Option[String] = None,
    val connectTimeoutSecs: Int = 10,
    val socketTimeoutSecs: Int = 0)
  extends CopySessionFactory {

  require(PgWireCopySessionFactory.SslModes(sslMode),
    s"unknown sslmode '$sslMode' (expected one of ${PgWireCopySessionFactory.SslModes.mkString("/")})")
  require(connectTimeoutSecs >= 0 && socketTimeoutSecs >= 0, "negative timeout")

  def open(): CopySession =
    new PgWireSession(host, port, database, user, password, sslMode, sslRootCert,
      connectTimeoutSecs, socketTimeoutSecs)
}

object PgWireCopySessionFactory {

  /** libpq's sslmode ladder, faithfully: `disable` never negotiates TLS;
    * `allow` starts plaintext and upgrades to TLS only if the server
    * rejects the unencrypted connection; `prefer` (the libpq default)
    * negotiates TLS and falls back to plaintext on ANY SSL failure — the
    * server answering 'N' or a failed handshake; `require` encrypts but
    * does NOT verify the server certificate (libpq-documented semantics,
    * same for allow/prefer); `verify-ca` verifies the chain against
    * `sslrootcert`; `verify-full` additionally matches the hostname.
    * Unix-socket connections skip TLS entirely, as libpq does. */
  val SslModes: Set[String] =
    Set("disable", "allow", "prefer", "require", "verify-ca", "verify-full")

  /** Build a factory from a `jdbc:postgresql://` URL so `--format copy
    * --copy-transport wire` accepts the same target string as every other
    * jdbc sink. Recognized pieces: `host[:port]` (default 5432), `/database`
    * (default = user), and `user` / `password` / `socketDir` / `sslmode` /
    * `sslrootcert` (plus pgjdbc's `ssl=true`, mapped to `require`) from
    * either the query string or `props` (props win, matching JDBC's
    * Properties precedence). A `socketDir` routes the connection over the
    * unix socket in that directory instead of TCP — the libpq `host=/path`
    * convention, which plain pgjdbc lacks. */
  def fromJdbcUrl(url: String, props: Map[String, String] = Map.empty): PgWireCopySessionFactory = {
    val prefix = "jdbc:postgresql://"
    require(url.startsWith(prefix), s"--copy-transport wire requires a jdbc:postgresql:// target, got $url")
    val rest = url.stripPrefix(prefix)
    val (hostPortDb, query) = rest.indexOf('?') match {
      case -1 => (rest, "")
      case i  => (rest.take(i), rest.drop(i + 1))
    }
    val qs: Map[String, String] = query.split('&').filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
        case _           => None
      }
    }.toMap
    val params = qs ++ props // props override the query string
    val (hostPort, db) = hostPortDb.indexOf('/') match {
      case -1 => (hostPortDb, "")
      case i  => (hostPortDb.take(i), hostPortDb.drop(i + 1))
    }
    // IPv6 literals: bracketed `[::1]:5432` strips the brackets and only a
    // trailing `:NNNN` AFTER the bracket is a port; a bare multi-colon host
    // (`::1`) is all host — lastIndexOf(':') would misread it as host '::'
    // port 1 (round-10 advice).
    val (host, port) =
      if (hostPort.startsWith("[")) {
        val close = hostPort.indexOf(']')
        require(close > 0, s"unterminated IPv6 literal in $url")
        val h = hostPort.substring(1, close)
        val tail = hostPort.drop(close + 1)
        if (tail.startsWith(":")) (h, tail.drop(1).toInt)
        else { require(tail.isEmpty, s"garbage after IPv6 literal in $url"); (h, 5432) }
      } else if (hostPort.count(_ == ':') > 1) (hostPort, 5432)
      else hostPort.lastIndexOf(':') match {
        case -1 => (hostPort, 5432)
        case i  => (hostPort.take(i), hostPort.drop(i + 1).toInt)
      }
    val user = params.getOrElse("user",
      throw new IllegalArgumentException(s"no user in $url (add ?user=… or pass it via props)"))
    val sslMode = params.get("sslmode")
      .orElse(params.get("ssl").filter(_.equalsIgnoreCase("true")).map(_ => "require"))
      .getOrElse("prefer")
    new PgWireCopySessionFactory(
      host = params.getOrElse("socketDir", if (host.isEmpty) "localhost" else host),
      port = port,
      database = if (db.isEmpty) user else db,
      user = user,
      password = params.get("password"),
      sslMode = sslMode,
      sslRootCert = params.get("sslrootcert"),
      // pgjdbc's names and defaults: connectTimeout 10 s (0 = infinite),
      // socketTimeout off — libpq's connect_timeout accepted as an alias
      connectTimeoutSecs = params.get("connectTimeout")
        .orElse(params.get("connect_timeout")).map(_.toInt).getOrElse(10),
      socketTimeoutSecs = params.get("socketTimeout").map(_.toInt).getOrElse(0))
  }
}

/** Byte transport under the v3 protocol: unix-socket channel, plain TCP
  * stream, or TLS stream — picked by [[PgWireSession]] after the
  * SSLRequest preamble. */
private[transfer] trait PgWire {
  def write(bytes: Array[Byte], off: Int, len: Int): Unit
  def readFully(n: Int): ByteBuffer
  def close(): Unit
}

private[transfer] final class ChannelWire(ch: SocketChannel) extends PgWire {
  def write(bytes: Array[Byte], off: Int, len: Int): Unit = {
    val buf = ByteBuffer.wrap(bytes, off, len)
    while (buf.hasRemaining) ch.write(buf)
  }
  def readFully(n: Int): ByteBuffer = {
    val buf = ByteBuffer.allocate(n)
    while (buf.hasRemaining)
      if (ch.read(buf) < 0) throw new IOException("connection closed by server mid-message")
    buf.flip()
    buf
  }
  def close(): Unit = ch.close()
}

private[transfer] final class StreamWire(sock: java.net.Socket) extends PgWire {
  private val in = new java.io.BufferedInputStream(sock.getInputStream, 64 * 1024)
  private val out = new java.io.BufferedOutputStream(sock.getOutputStream, 64 * 1024)
  def write(bytes: Array[Byte], off: Int, len: Int): Unit = { out.write(bytes, off, len); out.flush() }
  def readFully(n: Int): ByteBuffer = {
    val a = in.readNBytes(n)
    if (a.length < n) throw new IOException("connection closed by server mid-message")
    ByteBuffer.wrap(a)
  }
  def close(): Unit = sock.close()
}

/** SCRAM-SHA-256 client primitives (RFC 5802 mechanics, RFC 7677 hash) —
  * pure functions over JDK `javax.crypto`, no dependencies, shared with the
  * scripted-backend spec so both sides compute from the same math.
  *
  * PostgreSQL specifics baked in: the SASL username is empty (`n=,`) because
  * the server takes the user from the StartupMessage; channel binding is
  * declined with the `n,,` GS2 header (base64 `biws`), which a non-SSL
  * socket is always allowed to do. Password normalization: the password's
  * UTF-8 bytes are used as-is (exact for ASCII passwords; a password that
  * NEEDS SASLprep mapping — non-ASCII spaces etc. — may require the jdbc
  * transport's full saslprep).
  */
private[transfer] object Scram {
  import java.util.Base64
  import javax.crypto.{Mac, SecretKeyFactory}
  import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}

  def hmac(key: Array[Byte], data: String): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data.getBytes(UTF_8))
  }

  def sha256(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)

  /** Hi(password, salt, i) = PBKDF2-HMAC-SHA-256 (RFC 5802 §2.2). */
  def hi(password: String, salt: Array[Byte], iterations: Int): Array[Byte] =
    SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(new PBEKeySpec(password.toCharArray, salt, iterations, 256))
      .getEncoded

  /** 24-char base64 nonce (no ',' in the base64 alphabet, so attr-safe). */
  def nonce(): String = {
    val b = new Array[Byte](18)
    new java.security.SecureRandom().nextBytes(b)
    Base64.getEncoder.encodeToString(b)
  }

  /** `k1=v1,k2=v2` attr list → map. Base64/nonce/int values never contain
    * ',' so a plain split is exact. */
  def parseAttrs(msg: String): Map[Char, String] =
    msg.split(",").iterator.filter(p => p.length >= 2 && p.charAt(1) == '=')
      .map(p => p.charAt(0) -> p.drop(2)).toMap

  final case class ClientFinal(message: String, serverSignature: Array[Byte])

  /** Compute client-final-message and the expected ServerSignature from the
    * password, the client-first-message-bare, the server-first-message, and
    * the full (client+server) nonce. `cbB64` is the c= attribute — the
    * base64 of the GS2 header plus any channel-binding data ("biws" =
    * base64("n,,"), the no-channel-binding default; SCRAM-SHA-256-PLUS
    * passes base64("p=tls-server-end-point,," ++ certificate hash), which
    * the server RECOMPUTES from its own certificate — a MITM terminating
    * TLS with a different cert breaks the proof). */
  def clientFinal(password: String, clientFirstBare: String,
                  serverFirst: String, fullNonce: String,
                  cbB64: String = "biws"): ClientFinal = {
    val attrs = parseAttrs(serverFirst)
    val salt = Base64.getDecoder.decode(attrs.getOrElse('s',
      throw new IOException(s"SCRAM server-first lacks s= salt: $serverFirst")))
    val iter = attrs.getOrElse('i',
      throw new IOException(s"SCRAM server-first lacks i= iterations: $serverFirst")).toInt
    val salted = hi(password, salt, iter)
    val clientKey = hmac(salted, "Client Key")
    val withoutProof = s"c=$cbB64,r=$fullNonce"
    val authMessage = s"$clientFirstBare,$serverFirst,$withoutProof"
    val clientSig = hmac(sha256(clientKey), authMessage)
    val proof = clientKey.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
    ClientFinal(
      s"$withoutProof,p=${Base64.getEncoder.encodeToString(proof)}",
      hmac(hmac(salted, "Server Key"), authMessage))
  }

  /** RFC 5929 tls-server-end-point channel-binding data: a hash of the
    * server certificate's DER bytes, using the certificate's own signature
    * hash (MD5/SHA-1 upgraded to SHA-256, as the RFC requires). */
  def endpointHash(cert: java.security.cert.Certificate): Array[Byte] = {
    val sigAlg = cert match {
      case x: java.security.cert.X509Certificate => x.getSigAlgName.toUpperCase
      case _ => ""
    }
    val alg =
      if (sigAlg.contains("SHA384")) "SHA-384"
      else if (sigAlg.contains("SHA512")) "SHA-512"
      else "SHA-256"
    java.security.MessageDigest.getInstance(alg).digest(cert.getEncoded)
  }
}

/** One v3-protocol connection. Blocking I/O over [[PgWire]]; every backend
  * message is `type:int8  length:int32(includes itself)  payload`.
  *
  * TCP connections run the SSLRequest preamble per `sslMode` (see
  * [[PgWireCopySessionFactory.SslModes]]): the 8-byte magic, one 'S'/'N'
  * response byte, then either a TLS handshake over the same socket or the
  * plaintext StartupMessage. Unix-socket connections skip it, as libpq
  * does. */
private[transfer] final class PgWireSession(
    host: String, port: Int, database: String, user: String,
    password: Option[String],
    sslMode: String = "prefer",
    sslRootCert: Option[String] = None,
    connectTimeoutSecs: Int = 10,
    socketTimeoutSecs: Int = 0)
  extends CopySession {

  private def tcpConnect(): java.net.Socket = {
    val sock = new java.net.Socket()
    sock.setTcpNoDelay(true)
    // pgjdbc parity: bounded connect (a black-holed host fails in
    // connectTimeout seconds, not never); socketTimeout bounds each READ —
    // off by default because a large COPY's CommandComplete legitimately
    // arrives long after the last send
    if (socketTimeoutSecs > 0) sock.setSoTimeout(socketTimeoutSecs * 1000)
    sock.connect(new InetSocketAddress(host, port), connectTimeoutSecs * 1000)
    sock
  }

  /** The TLS server certificate of the active connection, when any —
    * SCRAM-SHA-256-PLUS channel binding hashes it (declared before `wire`:
    * wrapTls runs during that initializer). */
  private var tlsPeerCert: Option[java.security.cert.Certificate] = None

  /** The authentication mechanism the startup negotiated (introspected by
    * the integration spec to PROVE channel binding was exercised). */
  private[transfer] var authMechanism: Option[String] = None

  private var wire: PgWire =
    if (host.startsWith("/")) { // unix socket dir, libpq naming: <dir>/.s.PGSQL.<port>
      val c = SocketChannel.open(StandardProtocolFamily.UNIX)
      c.connect(UnixDomainSocketAddress.of(s"$host/.s.PGSQL.$port"))
      new ChannelWire(c)
    } else sslMode match {
      // `allow` starts PLAINTEXT and upgrades only if the server rejects
      // the unencrypted connection (see the startup retry below) — libpq's
      // ordering, the mirror image of `prefer`
      case "disable" | "allow" => new StreamWire(tcpConnect())
      case _                   => negotiateTls()
    }

  /** SSLRequest preamble + TLS wrap on a fresh TCP connection. Under
    * `prefer`, ANY TLS failure — the server answering 'N' or a failed
    * handshake — falls back to a fresh plaintext connection, exactly as
    * libpq retries without SSL. */
  private def negotiateTls(): PgWire = {
    val sock = tcpConnect()
    try {
      val out = sock.getOutputStream
      out.write(ByteBuffer.allocate(8).putInt(8).putInt(80877103).array()) // SSLRequest
      out.flush()
      sock.getInputStream.read() match {
        case 'S' => new StreamWire(wrapTls(sock))
        case 'N' =>
          if (sslMode == "prefer") new StreamWire(sock) // same socket: startup follows 'N'
          else throw new IOException(
            s"server refused SSL and sslmode=$sslMode requires it")
        case -1 => throw new IOException("connection closed during SSL negotiation")
        case other => throw new IOException(
          s"unexpected SSLRequest response '${other.toChar}'")
      }
    } catch {
      // libpq's prefer ladder falls back on ANY SSL-phase failure, not just
      // handshake errors: a server that closes the socket right after
      // SSLRequest surfaces as a plain IOException (read() == -1 above), and
      // must retry plaintext the same way an SSLException does. The guard
      // keeps require/verify-* modes rethrowing.
      case (_: javax.net.ssl.SSLException | _: java.io.IOException)
          if sslMode == "prefer" =>
        try sock.close() catch { case _: Throwable => () }
        new StreamWire(tcpConnect()) // fresh plaintext connection, no preamble
      case e: Throwable =>
        try sock.close() catch { case _: Throwable => () }
        throw e
    }
  }

  /** TLS-required variant for the `allow` upgrade retry: the server already
    * rejected plaintext, so an 'N' here surfaces the ORIGINAL rejection. */
  private def connectTlsOrElse(original: Throwable): PgWire = {
    val sock = tcpConnect()
    try {
      sock.getOutputStream.write(
        ByteBuffer.allocate(8).putInt(8).putInt(80877103).array())
      sock.getOutputStream.flush()
      sock.getInputStream.read() match {
        case 'S' => new StreamWire(wrapTls(sock))
        case _   => throw original
      }
    } catch {
      case t: Throwable =>
        try sock.close() catch { case _: Throwable => () }
        throw t
    }
  }

  /** TLS-wrap per libpq semantics: `require` encrypts without certificate
    * verification (libpq's documented behavior for that mode — the
    * trust-all manager below is NOT a shortcut, it IS the mode);
    * `verify-ca` verifies the chain against `sslrootcert`; `verify-full`
    * additionally matches the hostname. */
  private def wrapTls(sock: java.net.Socket): java.net.Socket = {
    import javax.net.ssl._
    import java.security.KeyStore
    import java.security.cert.{CertificateFactory, X509Certificate}
    val trustManagers: Array[TrustManager] = sslMode match {
      // libpq verifies the chain only under verify-ca/verify-full;
      // allow/prefer/require encrypt WITHOUT certificate verification
      case "verify-ca" | "verify-full" =>
        val pem = sslRootCert.getOrElse(throw new IOException(
          s"sslmode=$sslMode needs sslrootcert=<path to the CA certificate>"))
        val fis = new java.io.FileInputStream(pem)
        val certs = try {
          import scala.jdk.CollectionConverters._
          CertificateFactory.getInstance("X.509").generateCertificates(fis).asScala.toSeq
        } finally fis.close()
        if (certs.isEmpty) throw new IOException(s"no certificates in $pem")
        val ks = KeyStore.getInstance(KeyStore.getDefaultType)
        ks.load(null, null)
        certs.zipWithIndex.foreach { case (c, i) => ks.setCertificateEntry(s"root$i", c) }
        val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
        tmf.init(ks)
        tmf.getTrustManagers
      case _ => // allow / prefer / require: encrypt-only (the trust-all
        // manager is NOT a shortcut — it IS these modes' documented
        // libpq semantics; verification is what verify-ca/-full add)
        Array(new X509TrustManager {
          def checkClientTrusted(c: Array[X509Certificate], a: String): Unit = ()
          def checkServerTrusted(c: Array[X509Certificate], a: String): Unit = ()
          def getAcceptedIssuers: Array[X509Certificate] = Array.empty
        })
    }
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, trustManagers, null)
    val ssl = ctx.getSocketFactory
      .createSocket(sock, host, port, true).asInstanceOf[SSLSocket]
    if (sslMode == "verify-full") {
      val params = ssl.getSSLParameters
      params.setEndpointIdentificationAlgorithm("HTTPS") // RFC 6125 hostname check
      ssl.setSSLParameters(params)
    }
    ssl.startHandshake()
    tlsPeerCert = ssl.getSession.getPeerCertificates.headOption
    ssl
  }

  // ---- low-level framing -------------------------------------------------

  /** Write a heap buffer's filled bytes `[0, position)` straight from its
    * backing array. */
  private def writeFully(buf: ByteBuffer): Unit = wire.write(buf.array(), 0, buf.position())

  private def readFully(n: Int): ByteBuffer = wire.readFully(n)

  /** Read one backend message: (type byte, payload). */
  private def readMessage(): (Byte, ByteBuffer) = {
    val head = readFully(5)
    val tpe = head.get()
    val len = head.getInt() - 4 // length includes itself, excludes the type byte
    if (len < 0 || len > (1 << 30)) throw new IOException(s"implausible message length $len (type ${tpe.toChar})")
    (tpe, readFully(len))
  }

  private def cstring(buf: ByteBuffer): String = {
    val sb = new java.lang.StringBuilder
    var b = buf.get()
    val bytes = scala.collection.mutable.ArrayBuffer.empty[Byte]
    while (b != 0) { bytes += b; b = buf.get() }
    sb.append(new String(bytes.toArray, UTF_8)).toString
  }

  private def parseError(payload: ByteBuffer): PgWireException = {
    var severity = "ERROR"; var state = "XX000"; var message = "unknown error"
    var code = payload.get()
    while (code != 0) {
      val value = cstring(payload)
      code match {
        case 'S' => severity = value
        case 'C' => state = value
        case 'M' => message = value
        case _   => () // detail/hint/position — not needed for classification
      }
      code = payload.get()
    }
    new PgWireException(severity, state, message)
  }

  /** Frontend message with a 1-byte type tag. */
  private def send(tpe: Char, payload: Array[Byte]): Unit = {
    writeFully(ByteBuffer.allocate(5 + payload.length)
      .put(tpe.toByte).putInt(4 + payload.length).put(payload))
  }

  // ---- startup handshake -------------------------------------------------

  locally {
    try startup()
    catch {
      case e: PgWireException if sslMode == "allow" && !host.startsWith("/") =>
        // libpq's `allow`: the plaintext attempt was rejected by the server
        // (e.g. an hostssl-only pg_hba) — retry the whole connection over
        // TLS; if the server refuses SSL too, the ORIGINAL rejection is
        // the error that matters
        try wire.close() catch { case _: Throwable => () }
        wire = connectTlsOrElse(e)
        try startup()
        catch { case t: Throwable => try wire.close() catch { case _: Throwable => () }; throw t }
      case e: Throwable =>
        try wire.close() catch { case _: Throwable => () }
        throw e
    }
  }

  private def startup(): Unit = {
    val params = Seq("user" -> user, "database" -> database, "client_encoding" -> "UTF8")
    val body = params.flatMap { case (k, v) =>
      k.getBytes(UTF_8) ++ Array[Byte](0) ++ v.getBytes(UTF_8) ++ Array[Byte](0)
    }.toArray ++ Array[Byte](0)
    val buf = ByteBuffer.allocate(8 + body.length)
    buf.putInt(8 + body.length).putInt(196608).put(body) // protocol 3.0
    writeFully(buf)
    def requirePassword(): String = password.getOrElse(throw new IOException(
      s"server requires a password for $user and none was provided"))
    def rest(p: ByteBuffer): String = {
      val a = new Array[Byte](p.remaining()); p.get(a); new String(a, UTF_8)
    }
    // SCRAM exchange state, alive only between the SASL messages of one
    // handshake (client-first bare + nonce feed the proof; the expected
    // ServerSignature is checked when AuthenticationSASLFinal arrives,
    // and AuthenticationOk is only honored once that check has run)
    var scramFirstBare: String = null
    var scramNonce: String = null
    var scramServerSig: Array[Byte] = null
    var scramVerified = false
    var scramGs2: String = null
    var scramCbData: Array[Byte] = Array.emptyByteArray
    var ready = false
    while (!ready) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'R' => // Authentication*
          payload.getInt() match {
            case 0 => // AuthenticationOk
              // A started SCRAM exchange MUST have reached a VERIFIED
              // SASLFinal first: an impostor that harvested the client
              // proof could otherwise skip the v= message it cannot forge
              // and wave the session through — the exact MITM the server
              // signature exists to stop (libpq rejects this too).
              if (scramFirstBare != null && !scramVerified)
                throw new IOException("server sent AuthenticationOk before " +
                  "completing the SCRAM exchange (no verified server signature) " +
                  "— refusing to proceed (possible MITM)")
            case 3 => // cleartext password
              send('p', requirePassword().getBytes(UTF_8) ++ Array[Byte](0))
            case 5 => // md5: md5(md5(password + user) + salt), hex, "md5" prefix
              val pw = requirePassword()
              val salt = new Array[Byte](4); payload.get(salt)
              def md5hex(b: Array[Byte]): String =
                java.security.MessageDigest.getInstance("MD5").digest(b)
                  .map("%02x".format(_)).mkString
              val inner = md5hex(pw.getBytes(UTF_8) ++ user.getBytes(UTF_8))
              val outer = "md5" + md5hex(inner.getBytes(UTF_8) ++ salt)
              send('p', outer.getBytes(UTF_8) ++ Array[Byte](0))
            case 10 => // AuthenticationSASL: NUL-terminated mechanism list
              val mechs = scala.collection.mutable.ArrayBuffer.empty[String]
              while (payload.remaining() > 1) mechs += cstring(payload)
              // Channel binding (RFC 5802 gs2 flags): over TLS, prefer
              // SCRAM-SHA-256-PLUS — the proof then covers a hash of the
              // server's certificate (RFC 5929 tls-server-end-point), so a
              // MITM terminating TLS with its own cert breaks authentication
              // even holding a stolen password. Over TLS with PLUS absent,
              // send the 'y' flag: a server that DID advertise PLUS (i.e. a
              // MITM stripped it from the list) must reject 'y' — downgrade
              // detection. Plaintext connections send 'n'.
              val (mech, gs2, cbData) =
                if (mechs.contains("SCRAM-SHA-256-PLUS") && tlsPeerCert.isDefined)
                  ("SCRAM-SHA-256-PLUS", "p=tls-server-end-point,,",
                    Scram.endpointHash(tlsPeerCert.get))
                else if (mechs.contains("SCRAM-SHA-256"))
                  ("SCRAM-SHA-256",
                    if (tlsPeerCert.isDefined) "y,," else "n,,",
                    Array.emptyByteArray)
                else throw new IOException(
                  s"server offers SASL mechanisms [${mechs.mkString(", ")}]; " +
                    "only SCRAM-SHA-256[-PLUS] is implemented")
              requirePassword()
              authMechanism = Some(mech)
              scramGs2 = gs2
              scramCbData = cbData
              scramNonce = Scram.nonce()
              scramFirstBare = s"n=,r=$scramNonce" // PG reads the user from StartupMessage
              val initial = (gs2 + scramFirstBare).getBytes(UTF_8)
              send('p', mech.getBytes(UTF_8) ++ Array[Byte](0) ++
                ByteBuffer.allocate(4).putInt(initial.length).array() ++ initial)
            case 11 => // AuthenticationSASLContinue: server-first-message
              if (scramFirstBare == null)
                throw new IOException("SASLContinue before SASL mechanism negotiation")
              val serverFirst = rest(payload)
              val fullNonce = Scram.parseAttrs(serverFirst).getOrElse('r',
                throw new IOException(s"SCRAM server-first lacks r= nonce: $serverFirst"))
              if (!fullNonce.startsWith(scramNonce)) throw new IOException(
                "SCRAM server nonce does not extend the client nonce (possible MITM); aborting")
              val cbB64 = java.util.Base64.getEncoder.encodeToString(
                scramGs2.getBytes(UTF_8) ++ scramCbData)
              val cf = Scram.clientFinal(requirePassword(), scramFirstBare, serverFirst,
                fullNonce, cbB64)
              scramServerSig = cf.serverSignature
              send('p', cf.message.getBytes(UTF_8))
            case 12 => // AuthenticationSASLFinal: v=<base64 ServerSignature>
              if (scramServerSig == null)
                throw new IOException("SASLFinal before the SCRAM client-final message")
              val fin = rest(payload)
              val v = Scram.parseAttrs(fin).getOrElse('v',
                throw new IOException(s"SCRAM server-final lacks v= signature: $fin"))
              if (!java.security.MessageDigest.isEqual(
                    java.util.Base64.getDecoder.decode(v), scramServerSig))
                throw new IOException("SCRAM server signature mismatch — the server could not " +
                  "prove it knows the password (possible MITM); aborting")
              scramVerified = true
            case mech => throw new IOException(
              s"unsupported authentication mechanism $mech " +
                "(trust/cleartext/md5/SCRAM-SHA-256 are implemented)")
          }
        case 'S' | 'K' | 'N' => () // ParameterStatus / BackendKeyData / Notice
        case 'Z'             => ready = true // ReadyForQuery
        case 'E'             => throw parseError(payload)
        case other => throw new IOException(s"unexpected message '${other.toChar}' during startup")
      }
    }
  }

  // ---- COPY FROM STDIN ---------------------------------------------------

  /** Drain backend messages until ReadyForQuery, remembering the first error
    * and the CommandComplete tag; used both on success and failure so the
    * connection always returns to a known state for the next chunk. */
  private def drainToReady(): (Option[PgWireException], Option[String]) = {
    var err: Option[PgWireException] = None
    var complete: Option[String] = None
    var ready = false
    while (!ready) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'C' => complete = Some(cstring(payload)) // CommandComplete: "COPY <n>"
        case 'E' => if (err.isEmpty) err = Some(parseError(payload))
        case 'Z' => ready = true
        case _   => () // notices, parameter changes
      }
    }
    (err, complete)
  }

  def copyIn(sql: String, from: java.io.Reader): Long = {
    send('Q', sql.getBytes(UTF_8) ++ Array[Byte](0))
    // expect CopyInResponse ('G'); an error here (missing table, bad column
    // list) arrives as ErrorResponse followed by ReadyForQuery
    var inCopy = false
    while (!inCopy) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'G' => inCopy = true // CopyInResponse: format+column formats, irrelevant for CSV text
        // a real server may interleave asynchronous ParameterStatus ('S') /
        // NotificationResponse ('A') / Notice ('N') before CopyInResponse —
        // tolerate them exactly as startup() does (round-10 advice)
        case 'N' | 'S' | 'A' => ()
        case 'E' =>
          val e = parseError(payload)
          drainToReady()
          throw e
        case other => throw new IOException(s"expected CopyInResponse, got '${other.toChar}'")
      }
    }
    // stream the reader as CopyData chunks — bounded memory: one 64 KiB char
    // buffer, encoded per chunk (the reader yields complete CSV lines, but
    // COPY imposes no alignment so splitting anywhere is fine). One
    // alignment DOES matter: each chunk is UTF-8-encoded independently, so
    // a surrogate PAIR (non-BMP char, e.g. an emoji in document text) must
    // never straddle two chunks — an unpaired surrogate encodes as '?'
    // silently (round-10 advice). If the last char read is a high
    // surrogate, hold it back and prepend it to the next read.
    val chars = new Array[Char](64 * 1024)
    // One CopyData frame, reused: each chunk's chars encode straight into
    // the bytes after its 5-byte header, which is then written in place.
    // UTF-8 needs at most 3 bytes per char (a surrogate pair is 4 bytes for
    // 2 chars), and an unpaired surrogate becomes '?' as String.getBytes
    // makes it.
    val frame = ByteBuffer.allocate(5 + 3 * chars.length)
    val utf8 = UTF_8.newEncoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    def sendData(n: Int): Unit = {
      frame.clear().position(5)
      utf8.reset().encode(CharBuffer.wrap(chars, 0, n), frame, true)
      utf8.flush(frame)
      frame.put(0, 'd'.toByte).putInt(1, frame.position() - 1)
      writeFully(frame)
    }
    try {
      var held = 0 // 0 or 1 high-surrogate chars carried at chars(0)
      var n = from.read(chars, held, chars.length - held)
      while (n >= 0) {
        var avail = held + n
        held = 0
        if (avail > 0 && Character.isHighSurrogate(chars(avail - 1))) {
          avail -= 1
          held = 1
        }
        if (avail > 0) sendData(avail)
        if (held == 1) chars(0) = chars(avail)
        n = from.read(chars, held, chars.length - held)
      }
      // EOF with a lone trailing high surrogate: malformed input — encode it
      // anyway ('?') rather than silently dropping a char the reader produced
      if (held == 1) sendData(1)
    } catch {
      case e: Throwable => // local failure: tell the server, restore protocol state
        // best-effort — if the connection itself died, the ORIGINAL cause
        // must surface, not the secondary send/drain failure
        try {
          send('f', ("graft reader failed: " + e.getMessage).getBytes(UTF_8) ++ Array[Byte](0))
          drainToReady()
        } catch { case _: Throwable => () }
        throw e
    }
    send('c', Array.emptyByteArray) // CopyDone
    drainToReady() match {
      case (Some(err), _) => throw err
      case (None, Some(tag)) if tag.startsWith("COPY ") => tag.stripPrefix("COPY ").trim.toLong
      case (None, tag) => throw new IOException(s"COPY finished without a COPY tag (got $tag)")
    }
  }

  def close(): Unit = {
    try send('X', Array.emptyByteArray) // Terminate
    catch { case _: Throwable => () }
    wire.close()
  }
}
