package graft.store

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.model.{DumpMeta, IndexFile}

/** X3/X4 + A4: the datastore index catalog (`metadata.json`) and its
  * retention/migration operations.
  *
  * Reference: `IndexFile` read/write (`replibyte/src/datastore/mod.rs:
  * 120-176`), `keep_last`/`older_than` deletes (`mod.rs:41-117`),
  * versioned migrations (`migration/mod.rs:48-105`).
  *
  * Uses the Hadoop FS API so the same code addresses `file://`,
  * `s3a://`, `gs://` — the catalog is tiny driver-side JSON; the data
  * parts are written by executors (Datastore).
  */
class Catalog(rootUri: String, hadoopConf: Configuration) {

  val CurrentVersion = "0.1.0"
  private val indexPath = new Path(rootUri, "metadata.json")
  private def fs: FileSystem = indexPath.getFileSystem(hadoopConf)

  private val mapper = new ObjectMapper()
  mapper.registerModule(DefaultScalaModule)
  mapper.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def read(): IndexFile = {
    if (!fs.exists(indexPath)) IndexFile(CurrentVersion, Nil)
    else {
      val in: java.io.InputStream = fs.open(indexPath)
      try migrate(mapper.readValue(in, classOf[IndexFile]))
      finally in.close()
    }
  }

  def write(index: IndexFile): Unit = {
    val out = fs.create(indexPath, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(index))
    finally out.close()
  }

  /** X4: versioned catalog migrations — applied on read, persisted on
    * the next write. Rename-style migrations (the reference's
    * `rename_backups_to_dumps`) happen via jackson field tolerance +
    * the version bump.
    */
  def migrate(index: IndexFile): IndexFile = {
    // pre-r18 catalogs predate DumpMeta.format — jackson leaves the
    // absent Option field null; normalize to None (= statement dump)
    val dumps = index.dumps.map(d =>
      if (d.format == null) d.copy(format = None) else d)
    val v = if (index.v == null || index.v < CurrentVersion) CurrentVersion else index.v
    IndexFile(v, dumps)
  }

  def register(dump: DumpMeta): IndexFile = {
    val idx = read()
    val updated = idx.copy(dumps = idx.dumps.filterNot(_.directoryName == dump.directoryName) :+ dump)
    write(updated)
    updated
  }

  /** A4: newest-first dump listing (`commands/dump.rs:37-65`). */
  def list(): Seq[DumpMeta] = read().dumps.sortBy(-_.createdAt)

  def latest(): Option[DumpMeta] = read().findLatest

  def byName(name: String): Option[DumpMeta] = read().findByName(name)

  def delete(name: String): Unit = {
    val idx = read()
    fs.delete(new Path(rootUri, name), true)
    write(idx.copy(dumps = idx.dumps.filterNot(_.directoryName == name)))
  }

  /** Keep the N most recent dumps, delete the rest
    * (`datastore/mod.rs:102-117`). A negative N is refused: `drop`
    * would keep the whole list, deleting every dump.
    */
  def keepLast(n: Int): Seq[String] = {
    require(n >= 0, s"keepLast needs n >= 0, got $n")
    val doomed = list().drop(n).map(_.directoryName)
    doomed.foreach(delete)
    doomed
  }

  /** Delete dumps older than the threshold (epoch millis)
    * (`datastore/mod.rs:82-100`).
    */
  def deleteOlderThan(thresholdMillis: Long): Seq[String] = {
    val doomed = read().dumps.filter(_.createdAt < thresholdMillis).map(_.directoryName)
    doomed.foreach(delete)
    doomed
  }
}
