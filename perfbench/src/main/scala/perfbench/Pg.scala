package perfbench

import java.io.File

import scala.sys.process._

/** A throwaway PostgreSQL cluster under the run's work directory, reached
  * over TCP on 127.0.0.1 only (no unix socket, so the path length of the
  * work directory does not matter).
  *
  * The server refuses to run as root. When the benchmark runs as root, the
  * server runs in a user namespace that maps root to an unprivileged id
  * (`unshare --user`), so it can still read and write the work directory.
  *
  * Flush policy: a benchmark cluster that is thrown away after the run, so
  * `fsync`, `synchronous_commit` and `full_page_writes` are off. The COPY
  * path, WAL writing and the backends' parsing are still fully exercised.
  */
object Pg {
  val FlushPolicy: Seq[(String, String)] = Seq(
    "fsync" -> "off", "synchronous_commit" -> "off", "full_page_writes" -> "off")
}

final class Pg(base: File, binDir: String = "/usr/local/bin") {
  private val dataDir = new File(base, "data")
  private val logFile = new File(base, "pg.log")
  val port: Int = {
    val ss = new java.net.ServerSocket(0)
    try ss.getLocalPort finally ss.close()
  }

  private val asServer: Seq[String] =
    if (Seq("id", "-u").!!.trim == "0") {
      val id = scala.util.Try(Seq("id", "-u", "postgres").!!.trim).getOrElse("65534")
      Seq("unshare", "--user", s"--map-user=$id", s"--map-group=$id")
    } else Nil

  private def run(cmd: Seq[String]): Unit = {
    val err = new StringBuilder
    val code = Process(asServer ++ cmd, base).!(ProcessLogger(_ => (), l => err.append(l).append('\n')))
    require(code == 0, s"${cmd.head} failed ($code): $err")
  }

  def start(): Unit = {
    base.mkdirs()
    run(Seq(s"$binDir/initdb", "-D", dataDir.getPath, "-A", "trust", "-U", "postgres",
      "-E", "UTF8", "--locale=C", "--no-sync"))
    val opts = (Seq("listen_addresses" -> "127.0.0.1", "port" -> port.toString,
      "unix_socket_directories" -> "''", "timezone" -> "UTC", "max_connections" -> "20") ++
      Pg.FlushPolicy).map { case (k, v) => s"-c $k=$v" }.mkString(" ")
    run(Seq(s"$binDir/pg_ctl", "-D", dataDir.getPath, "-o", opts, "-w", "-t", "60",
      "-l", logFile.getPath, "start"))
  }

  /** Fast shutdown; waits until the postmaster has exited. */
  def stop(): Unit = if (new File(dataDir, "postmaster.pid").exists) {
    run(Seq(s"$binDir/pg_ctl", "-D", dataDir.getPath, "-m", "fast", "-w", "-t", "60", "stop"))
  }

  def postmasterPid: Long = {
    val src = scala.io.Source.fromFile(new File(dataDir, "postmaster.pid"))
    try src.getLines().next().trim.toLong finally src.close()
  }

  /** CPU seconds of the server: the postmaster, its live children and the
    * children it has already reaped (exited backends). */
  def cpuSeconds(): Double = {
    val hz = 100.0 // USER_HZ on Linux
    def stat(pid: Long): Option[Array[String]] = scala.util.Try {
      val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"/proc/$pid/stat")))
      s.substring(s.lastIndexOf(')') + 2).split(' ')
    }.toOption
    // fields after the command name start at field 3 (state): utime is 14
    def ticks(f: Array[String], from: Int, to: Int): Double =
      (from to to).map(i => f(i - 3).toDouble).sum
    val pm = postmasterPid
    val own = stat(pm).map(f => ticks(f, 14, 17)).getOrElse(0.0)
    val kids = ProcessHandle.of(pm).map[Seq[Long]](h => {
      import scala.jdk.StreamConverters._
      h.children().toScala(Seq).map(_.pid())
    }).orElse(Nil)
    (own + kids.flatMap(stat).map(f => ticks(f, 14, 15)).sum) / hz
  }

  /** Run SQL through psql; returns the unaligned, tuples-only output. */
  def psql(sql: String): String = {
    val out = new StringBuilder
    val err = new StringBuilder
    val in = new java.io.ByteArrayInputStream(sql.getBytes("UTF-8"))
    val code = (Process(Seq("psql", "-X", "-q", "-h", "127.0.0.1", "-p", port.toString,
      "-U", "postgres", "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-A", "-t", "-f", "-"), base) #< in)
      .!(ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    require(code == 0, s"psql failed ($code): $err")
    out.toString
  }
}
