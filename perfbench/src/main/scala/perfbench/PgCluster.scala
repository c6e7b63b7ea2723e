package perfbench

import java.nio.file.{Files, Path}

import scala.sys.process._

import graft.sinks.{PgMerge, PgWireClient}

/** A private PostgreSQL cluster for one benchmark run: `initdb` into a
  * directory under the run's work directory, started on a free
  * loopback port with Unix sockets off. The server runs as the
  * `postgres` account; when the benchmark runs as root it enters a user
  * namespace that maps that account's uid onto the caller, so the data
  * directory stays inside the checkout.
  *
  * Flush policy: fsync, synchronous_commit and full_page_writes keep
  * their defaults (on). Autovacuum is off, so background work lands only
  * in the untimed `VACUUM`/`CHECKPOINT` between cycles.
  * `pg_stat_statements` is preloaded only when `statements` is set (the
  * traced run). */
final class PgCluster(dir: Path, statements: Boolean) extends AutoCloseable {
  val port: Int = PgCluster.freePort()
  private val data = dir.resolve("data")
  private val log = dir.resolve("server.log")

  private def cmd(bin: String, args: String*): Seq[String] =
    PgCluster.asPostgres ++ Seq(PgCluster.bin(bin)) ++ args

  def start(): Unit = {
    Files.createDirectories(dir)
    val initLog = new StringBuilder
    val rc = cmd("initdb", "-D", data.toString, "-U", "postgres",
      "--auth=trust", "-N", "-E", "UTF8", "--locale=C")
      .!(ProcessLogger(l => initLog ++= l + "\n", l => initLog ++= l + "\n"))
    require(rc == 0, s"initdb failed ($rc): $initLog")
    val opts = Seq(s"-p $port", "-c listen_addresses=127.0.0.1",
      "-c unix_socket_directories=''", "-c autovacuum=off",
      "-c max_connections=20") ++
      (if (statements) Seq("-c shared_preload_libraries=pg_stat_statements",
        "-c pg_stat_statements.track=all") else Nil)
    val rc2 = cmd("pg_ctl", "-D", data.toString, "-l", log.toString, "-w",
      "-o", opts.mkString(" "), "start").!(ProcessLogger(_ => (), _ => ()))
    require(rc2 == 0, s"pg_ctl start failed ($rc2): " +
      (if (Files.exists(log)) Files.readString(log) else ""))
    if (statements) withClient(_.exec("CREATE EXTENSION pg_stat_statements"))
    withClient(createTable)
  }

  def withClient[A](f: PgWireClient => A): A = {
    val c = new PgWireClient("127.0.0.1", port, "postgres", "postgres")
    try f(c) finally c.close()
  }

  def client(): PgWireClient = new PgWireClient("127.0.0.1", port, "postgres", "postgres")

  /** The product table, as the reference's schema declares it. */
  def createTable(c: PgWireClient): Unit = {
    c.exec(s"DROP TABLE IF EXISTS ${PgMerge.table}")
    c.exec(
      s"""CREATE TABLE ${PgMerge.table} (
         |  external_source TEXT, path TEXT, filename TEXT,
         |  mime_type TEXT, created TIMESTAMPTZ, modified TIMESTAMPTZ,
         |  size BIGINT, deleted TIMESTAMPTZ,
         |  CONSTRAINT ${PgMerge.constraint}
         |    UNIQUE (external_source, path, filename))""".stripMargin)
  }

  def close(): Unit = {
    if (Files.exists(data.resolve("postmaster.pid")))
      cmd("pg_ctl", "-D", data.toString, "-m", "fast", "-w", "stop")
        .!(ProcessLogger(_ => (), _ => ()))
    ()
  }
}

object PgCluster {
  lazy val binDir: Option[String] =
    try Some(Seq("pg_config", "--bindir").!!.trim).filter(_.nonEmpty)
    catch { case _: Exception => None }

  def bin(name: String): String =
    binDir.map(d => s"$d/$name").filter(p => Files.isExecutable(java.nio.file.Paths.get(p)))
      .getOrElse(name)

  /** Command prefix that runs a server binary as the `postgres` account. */
  lazy val asPostgres: Seq[String] =
    if (Seq("id", "-u").!!.trim != "0") Nil
    else Seq("unshare", "--user", s"--map-user=${Seq("id", "-u", "postgres").!!.trim}",
      s"--map-group=${Seq("id", "-g", "postgres").!!.trim}")

  /** A free loopback port, never the shared server's. */
  def freePort(): Int = {
    var p = 0
    while (p == 0 || p == 54329) {
      val s = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
      p = s.getLocalPort
      s.close()
    }
    p
  }
}
