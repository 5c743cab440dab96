package graft

import java.nio.file.{Files, Paths}

import scala.sys.process._

/** Scratch live-PostgreSQL cluster for tests and probes: initdb'd into
  * a temp dir, unix-socket only, trust auth. postgres refuses to run
  * as root, so when the JVM is root the server runs as `nobody` via
  * runuser (the data dir is chowned over); clients (psql/pg_dump and
  * the engine) connect as user `graft` over the socket. Extracted from
  * PgLiveSpec (r20) so scale probes can drive the same real server.
  */
private[graft] case class PgTestCluster(dir: String, sock: String) {
  def psql(db: String, sql: String): String =
    Seq("/usr/bin/psql", "-h", sock, "-U", "graft", "-d", db, "-t", "-A",
      "-v", "ON_ERROR_STOP=1", "-c", sql).!!.trim

  /** Stop the server and delete its directory (data, socket, log):
    * each cluster holds about 1.2 GB. Safe to call twice.
    */
  def stop(bin: String): Unit = {
    val stop = Seq(s"$bin/pg_ctl", "-D", s"$dir/data", "-m", "immediate", "stop")
    val full =
      if (System.getProperty("user.name") == "root")
        Seq("/usr/sbin/runuser", "-u", "nobody", "--") ++ stop
      else stop
    Process(full).!(ProcessLogger(_ => (), _ => ()))
    PgTestCluster.deleteTree(Paths.get(dir))
  }
}

private[graft] object PgTestCluster {

  val DefaultBin = "/usr/lib/postgresql/15/bin"

  def haveToolchain(bin: String = DefaultBin): Boolean =
    Files.exists(Paths.get(s"$bin/initdb")) &&
      Files.exists(Paths.get("/usr/sbin/runuser")) &&
      Files.exists(Paths.get("/usr/bin/psql"))

  /** Some(cluster) when the toolchain exists and the server starts;
    * None otherwise (callers assume()/skip).
    */
  def maybe(bin: String = DefaultBin): Option[PgTestCluster] =
    if (!haveToolchain(bin)) None
    else try Some(start(bin)) catch { case _: Throwable => None }

  def start(bin: String): PgTestCluster = {
    val dir = Files.createTempDirectory("graft-pglive-")
    val asRoot = System.getProperty("user.name") == "root"
    def run(cmd: Seq[String]): Unit = {
      val full = if (asRoot) Seq("/usr/sbin/runuser", "-u", "nobody", "--") ++ cmd else cmd
      val code = Process(full).!(ProcessLogger(_ => (), _ => ()))
      require(code == 0, s"${cmd.head} failed ($code)")
    }
    val sock = dir.resolve("sock")
    val cluster = PgTestCluster(dir.toString, sock.toString)
    try {
      Files.createDirectories(sock)
      if (asRoot) {
        Seq("chown", "-R", "nobody:nogroup", dir.toString).!!
        ()
      }
      run(Seq(s"$bin/initdb", "-D", s"$dir/data", "-A", "trust", "-U", "graft"))
      run(Seq(s"$bin/pg_ctl", "-D", s"$dir/data", "-w",
        "-o", s"-c listen_addresses='' -c unix_socket_directories=$sock",
        "-l", s"$dir/log", "start"))
    } catch {
      case e: Throwable => cluster.stop(bin); throw e
    }
    sys.addShutdownHook { cluster.stop(bin) }
    cluster
  }

  /** Delete `root` and everything under it; a missing `root` is a no-op. */
  private def deleteTree(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}
