package graft.ingest

import java.io.OutputStream
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.collection.mutable.ArrayBuffer
import scala.util.Using

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The one owner of every spool: the copy of a source's UNMASKED bytes
  * between the tool or pipe that writes them (pg_dump, mysqldump,
  * mongodump, a dump piped on stdin, a stored archive decoded for
  * restore) and the executors that parse them. It alone decides:
  *
  *   - placement: executors must open the spool, so on a local master
  *     it is an owner-only (0700) directory from
  *     [[GraftSession.scratchDir]], whose shutdown hook also removes a
  *     spool that a crash kept from its delete; on a cluster, where a
  *     driver-local path would be a per-task FileNotFoundException, it
  *     is a directory under `<datastore>/.spool/`, which executors
  *     already reach; with no datastore it fails fast.
  *   - parts: every part is created owner-only (0600). [[chunked]]
  *     rolls statement-boundary parts ([[ChunkedSpool]]), so the parse
  *     runs one task per part; [[file]] writes one file.
  *   - deletion: a spool whose fill fails is deleted at once; every
  *     other one belongs to the innermost open [[scoped]] and is
  *     deleted when it ends, however it ends. Frames read a spool
  *     lazily, so it must outlive the last action over them. A failed
  *     delete warns loudly instead of failing a command that already
  *     finished. Outside a scope (the graft.Bench and Verify query
  *     entries, whose frames are read after the entry returns) a local
  *     spool is left to the scratch root's shutdown hook, and a cluster
  *     spool is refused: nothing would delete it.
  */
object Spool {

  private val OwnerOnly = PosixFilePermissions.asFileAttribute(
    PosixFilePermissions.fromString("rw-------"))

  private final class Taken(val dir: Path, val fs: FileSystem)

  private val current = new ThreadLocal[ArrayBuffer[Taken]]

  /** Run `body` in a new scope; delete every spool taken inside it,
    * newest first, however `body` ends.
    */
  def scoped[A](body: => A): A = {
    val outer = current.get
    val taken = ArrayBuffer[Taken]()
    current.set(taken)
    try body
    finally {
      current.set(outer)
      taken.reverseIterator.foreach(delete)
    }
  }

  /** Spool `fill`'s bytes as statement-boundary `part-%05d.sql` parts
    * of about `chunkBytes` each and return the spool directory. `pg` is
    * the dump's string-literal dialect, None to detect it from the
    * stream's own header.
    */
  def chunked(spark: SparkSession, storeRoot: Option[String], tag: String,
              pg: Option[Boolean], chunkBytes: Int)(fill: OutputStream => Unit): String =
    take(spark, storeRoot, tag) { open =>
      ChunkedSpool.write(i => open(f"part-$i%05d.sql"), pg, chunkBytes)(fill)
      ()
    }.toString

  /** Spool `fill`'s bytes as one file and return its path. */
  def file(spark: SparkSession, storeRoot: Option[String], tag: String)(
      fill: OutputStream => Unit): String =
    new Path(take(spark, storeRoot, tag)(open => Using.resource(open(tag))(fill)), tag).toString

  /** Place a new spool directory, fill it through `write`, which opens
    * owner-only parts by name, and take it into the current scope.
    */
  private def take(spark: SparkSession, storeRoot: Option[String], tag: String)(
      write: (String => OutputStream) => Unit): Path = {
    val taken = Option(current.get)
    val local = spark.sparkContext.isLocal
    if (taken.isEmpty && !local)
      throw new IllegalStateException(s"Spool($tag) outside Spool.scoped on a cluster")
    val dir =
      if (local) new Path(GraftSession.scratchDir(s"spool-$tag-").toString)
      else storeRoot
        .map(root => new Path(new Path(root, ".spool"), s"graft-$tag-${java.util.UUID.randomUUID()}"))
        .getOrElse(throw new IllegalStateException(
          s"live $tag source on a non-local master needs a datastore to spool " +
            "under: executors cannot open a driver-local temp file"))
    val spool = new Taken(dir, dir.getFileSystem(spark.sparkContext.hadoopConfiguration))
    def open(name: String): OutputStream =
      if (local) Files.newOutputStream(Files.createFile(Paths.get(dir.toString, name), OwnerOnly))
      else FileSystem.create(spool.fs, new Path(dir, name), new FsPermission("600"))
    try write(open)
    catch { case e: Throwable => delete(spool); throw e } // a partial UNMASKED spool
    taken.foreach(_ += spool)
    dir
  }

  private def delete(spool: Taken): Unit =
    try { spool.fs.delete(spool.dir, true); () }
    catch {
      case e: Throwable => Console.err.println(
        s"WARNING: failed to delete spool ${spool.dir} — it holds UNMASKED " +
          s"pre-transform data; remove it manually (${e.getClass.getSimpleName}: ${e.getMessage})")
    }
}
