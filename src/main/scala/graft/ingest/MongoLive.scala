package graft.ingest

import java.io.InputStream

/** Live MongoDB source/destination — the reference's connector legs:
  * the source spawns `mongodump --uri … --db … --archive` and parses
  * its stdout (`replibyte/src/source/mongodb.rs:66-101`); the
  * destination pipes archive bytes into `mongorestore --nsFrom/--nsTo
  * --archive` on stdin (`replibyte/src/destination/mongodb.rs:31-52`).
  * Archive parsing/serialization is [[MongoArchive]]'s job; this
  * object owns ONLY the process plumbing, so the entire byte-level
  * surface stays the one implementation the specs pin.
  *
  * `cmd` overrides the tool invocation (first element the binary,
  * rest leading args): tests stub it with scripts, deployments whose
  * tools live outside PATH point at them. A missing binary surfaces
  * as the spawn's own IOException — loud, like the reference's
  * `binary_exists` check.
  *
  * Scale note: a mongodump archive is one sequential pipe from one
  * process — the same inherent bound the reference has. [[dumpToStream]]
  * spools that pipe straight to storage (O(copy buffer) driver memory)
  * for [[MongoArchive.readDistributed]] to decode on the executors —
  * the live-source leg then never holds a collection in driver memory.
  * The in-memory [[dump]] stays for bounded archives (the reference's
  * whole-archive semantics); bulk data belongs in
  * [[MongoArchive.writeTables]]'s distributed path once it is INSIDE
  * the engine.
  */
object MongoLive {

  /** mongodump argument vector (reference source/mongodb.rs:38-45). */
  def dumpArgs(uri: String, db: String): Seq[String] =
    Seq("--uri", uri, "--db", db, "--archive")

  /** mongorestore argument vector (reference destination/mongodb.rs:
    * 33-40); nsFrom/nsTo scope the restore to the target database.
    * `wipe` adds `--drop` (drop each collection before restoring) —
    * the engine-wide idempotent-restore convention the JDBC leg's
    * truncate-overwrite implements; without it a re-run doubles every
    * document (rowToDoc emits no _id, so mongorestore can't upsert).
    */
  def restoreArgs(uri: String, db: String, wipe: Boolean = false): Seq[String] =
    Seq("--uri", uri, s"--nsFrom=$db.*", s"--nsTo=$db.*") ++
      (if (wipe) Seq("--drop") else Nil) ++ Seq("--archive")

  /** Dump a live database to a parsed [[MongoArchive.Archive]]. */
  def dump(uri: String, db: String,
           cmd: Seq[String] = Seq("mongodump")): MongoArchive.Archive =
    MongoArchive.read(run(cmd ++ dumpArgs(uri, db), _ => ()))

  /** Dump a live database, streaming the tool's stdout into `out`:
    * O(copy buffer) driver memory regardless of archive size. The
    * caller owns the sink; `dump create` and `source schema` hand it a
    * [[Spool]] for [[MongoArchive.readDistributed]] to decode on the
    * executors.
    */
  def dumpToStream(uri: String, db: String, out: java.io.OutputStream,
                   cmd: Seq[String] = Seq("mongodump")): Unit = {
    runTo(cmd ++ dumpArgs(uri, db), _ => (), out)
    ()
  }

  /** Restore into a live database via mongorestore, STREAMING the
    * archive into the tool's stdin: `write` (typically
    * `MongoArchive.writeTables(_, db, tables)`) produces bytes
    * chunk-by-chunk straight into the pipe, so the driver never holds
    * the whole archive — the same O(one partition chunk) bound the
    * distributed writer has.
    */
  def restore(uri: String, db: String, write: java.io.OutputStream => Unit,
              wipe: Boolean, cmd: Seq[String]): Unit = {
    run(cmd ++ restoreArgs(uri, db, wipe), write)
    ()
  }

  /** Buffered-bytes convenience overload (tests, small archives). */
  def restore(uri: String, db: String, archive: Array[Byte],
              cmd: Seq[String] = Seq("mongorestore"), wipe: Boolean = false): Unit =
    restore(uri, db, (o: java.io.OutputStream) => o.write(archive), wipe, cmd)

  /** Spawn `argv`, feed stdin via `writeStdin`, return stdout bytes;
    * non-zero exit → IllegalStateException carrying stderr. stderr
    * drains on its own thread — a chatty tool filling the stderr pipe
    * while the caller reads stdout (or writes stdin) would otherwise
    * deadlock both processes. A failure INSIDE writeStdin (e.g. a
    * Spark job feeding the pipe) kills the process — leaving it alive
    * would hang the stdout read forever — and rethrows after reaping.
    */
  private[ingest] def run(argv: Seq[String],
                          writeStdin: java.io.OutputStream => Unit,
                          env: Map[String, String] = Map.empty): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    runTo(argv, writeStdin, buf, env)
    buf.toByteArray
  }

  /** [[run]] with stdout streamed to `stdout` instead of buffered —
    * the spool path's O(copy buffer) variant. `env` entries are ADDED
    * to the inherited environment (PGPASSWORD for the psql/pg_dump
    * legs, reference source/postgres.rs:93-98 passes the password the
    * same way — env, never argv, where `ps` would show it).
    */
  private[ingest] def runTo(argv: Seq[String],
                            writeStdin: java.io.OutputStream => Unit,
                            stdout: java.io.OutputStream,
                            env: Map[String, String] = Map.empty): Unit = {
    import scala.jdk.CollectionConverters._
    val pb = new ProcessBuilder(argv.asJava)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val errBuf = new java.io.ByteArrayOutputStream()
    val drain = new Thread(() => copy(p.getErrorStream, errBuf))
    drain.setDaemon(true)
    drain.start()
    @volatile var writeFailure: Option[Throwable] = None
    val writer = new Thread(() => {
      try { writeStdin(p.getOutputStream); p.getOutputStream.close() }
      catch {
        case e: java.io.IOException =>
          // Usually the tool exited early (broken pipe) and the exit
          // code decides — but an IOException can also originate in the
          // byte-PRODUCING side while the tool is healthy. Either way,
          // stdin must not stay open: a healthy tool would block on it
          // forever and run() would hang in the stdout copy. Record the
          // failure too; it is only surfaced when the exit code doesn't
          // already explain the run (ADVICE r15).
          writeFailure = Some(e)
          try p.getOutputStream.close() catch { case _: java.io.IOException => () }
        case t: Throwable =>
          writeFailure = Some(t)
          p.destroy()
      }
    })
    writer.setDaemon(true)
    writer.start()
    copy(p.getInputStream, stdout)
    val exit = p.waitFor()
    drain.join(10000)
    writer.join(10000)
    // An IOException with a non-zero exit is (almost always) the broken
    // pipe of a tool that died — let the exit-code branch report the
    // tool's own stderr instead of masking it with "producing stdin
    // failed". Every other failure, and an IOException the exit code
    // does NOT explain (tool exited 0 while stdin died mid-write),
    // surfaces loudly.
    writeFailure.filter {
      case _: java.io.IOException => exit == 0
      case _ => true
    }.foreach(t => throw new IllegalStateException(
      s"producing ${argv.head} stdin failed", t))
    if (exit != 0)
      throw new IllegalStateException(
        s"${argv.head} exited $exit: ${new String(errBuf.toByteArray, java.nio.charset.StandardCharsets.UTF_8).trim}")
  }

  private def copy(in: InputStream, out: java.io.OutputStream): Unit = {
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
  }
}
