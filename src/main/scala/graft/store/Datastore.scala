package graft.store

import java.io.ByteArrayOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import graft.ingest.DumpReader
import graft.model.{DumpMeta, Statement}

/** D6/D7: the chunked dump datastore.
  *
  * Reference behavior (`tasks/full_dump.rs:72-110`, `datastore/
  * local_disk.rs:111-210`, `s3.rs:213-352`): buffer statements into
  * ≤`chunkBytes` chunks, compress → encrypt, write each as
  * `<dump>/<part>.dump`, maintain `metadata.json`.
  *
  * Spark-first: each partition writes its own part files through the
  * Hadoop FS API (local/s3a/gs) — the producer/consumer threads + 100 MB
  * buffer + depth-1 channel of the reference ARE Spark's executor
  * parallelism here, and "one in-flight chunk per writer" becomes one
  * open stream per task. Sizes come back via `collect` of per-part
  * *metadata* (a few longs per part — never data).
  */
class Datastore(rootUri: String, spark: SparkSession) {

  private val catalog = new Catalog(rootUri, spark.sparkContext.hadoopConfiguration)

  /** Write a statement dump, replacing any dump of the same name;
    * returns the registered catalog entry.
    */
  def write(
      dumpName: String,
      statements: Dataset[String],
      compressed: Boolean = true,
      encryptionKey: Option[String] = None,
      chunkBytes: Int = 100 * 1024 * 1024): DumpMeta = {
    import spark.implicits._
    catalog.delete(dumpName)
    val confSer = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val root = rootUri
    val partsMeta: Seq[(String, Long, Long)] = statements
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val fs = new Path(root).getFileSystem(confSer.value)
        val written = Seq.newBuilder[(String, Long, Long)]
        var chunkIdx = 0
        val buf = new ByteArrayOutputStream(64 * 1024)
        def flush(): Unit = if (buf.size() > 0) {
          val raw = buf.toByteArray
          val encoded = Codecs.encode(raw, compressed, encryptionKey)
          val partName = f"$pid%05d-$chunkIdx%05d.dump"
          val p = new Path(new Path(root, dumpName), partName)
          val out = fs.create(p, true)
          try out.write(encoded) finally out.close()
          written += ((partName, encoded.length.toLong, Crc64.of(raw)))
          chunkIdx += 1
          buf.reset()
        }
        it.foreach { stmt =>
          val bytes = (stmt + "\n").getBytes("UTF-8")
          if (buf.size() > 0 && buf.size() + bytes.length > chunkBytes) flush()
          buf.write(bytes)
        }
        flush()
        written.result().iterator
      }
      .collect().toSeq // part names + sizes + checksums only
    val meta = DumpMeta(
      directoryName = dumpName,
      size = partsMeta.map(_._2).sum,
      createdAt = System.currentTimeMillis(),
      compressed = compressed,
      encrypted = encryptionKey.isDefined)
    catalog.register(meta)
    meta
  }

  /** Read a dump back as statement text, in dump order (parts in
    * [[Datastore.partOrder]], matching the reference's
    * part-enumeration order, `local_disk.rs:183-207`).
    */
  def read(
      dumpName: String,
      encryptionKey: Option[String] = None): Dataset[String] = {
    import spark.implicits._
    statements(dumpName, encryptionKey).map(_.sql)
  }

  /** Parse a stored statement dump: each part is decoded
    * (decrypted, decompressed) and split once, partitions in dump
    * order. Every engine-written dump is pg-semantics, so the
    * dialect is forced for the headerless parts too.
    */
  def statements(
      dumpName: String,
      encryptionKey: Option[String] = None): Dataset[Statement] = {
    val compressed = dumpMeta(dumpName).compressed
    DumpReader.readFiles(spark, parts(dumpName),
      bytes => Codecs.decode(bytes, compressed, encryptionKey), pgStrings = Some(true))
  }

  private def dumpMeta(dumpName: String): DumpMeta = catalog.byName(dumpName)
    .getOrElse(throw new IllegalArgumentException(s"dump not found in catalog: $dumpName"))

  /** A dump's `.dump` part files in [[Datastore.partOrder]]. */
  private def parts(dumpName: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val dir = new Path(rootUri, dumpName)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".dump"))
      .sortBy(st => Datastore.partOrder(st.getPath.getName))
  }

  /** Write a BINARY dump artifact, chunked at `chunkBytes` with each
    * chunk independently compressed/encrypted — the same part layout
    * the statement path uses, but the payload is an opaque byte
    * stream. The Mongo source stores its TRANSFORMED mongodump archive
    * this way (the reference pipes the transformed archive into its
    * datastore, `tasks/full_dump.rs` + `source/mongodb.rs`): BSON
    * types — dates, Decimal128, BinData, nested documents — survive
    * byte-exactly, where re-synthesizing SQL statements would degrade
    * them to text. Document ENCODING is distributed
    * (`MongoArchive.writeTables` feeds this from executor-encoded
    * chunks); the byte stream itself is one archive, hence
    * driver-framed — the reference's own bound on this path. Replaces
    * any dump of the same name, as [[write]] does.
    */
  def writeBlob(
      dumpName: String,
      write: java.io.OutputStream => Unit,
      format: String,
      compressed: Boolean = true,
      encryptionKey: Option[String] = None,
      chunkBytes: Int = 100 * 1024 * 1024): DumpMeta = {
    catalog.delete(dumpName)
    val fs = new Path(rootUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var chunkIdx = 0
    var total = 0L
    val buf = new ByteArrayOutputStream(64 * 1024)
    def flushChunk(): Unit = if (buf.size() > 0) {
      val encoded = Codecs.encode(buf.toByteArray, compressed, encryptionKey)
      val p = new Path(new Path(rootUri, dumpName), f"00000-$chunkIdx%05d.dump")
      val out = fs.create(p, true)
      try out.write(encoded) finally out.close()
      total += encoded.length.toLong
      chunkIdx += 1
      buf.reset()
    }
    val chunking = new java.io.OutputStream {
      override def write(b: Int): Unit = {
        buf.write(b)
        if (buf.size() >= chunkBytes) flushChunk()
      }
      override def write(bs: Array[Byte], off: Int, len: Int): Unit = {
        var o = off
        var l = len
        while (l > 0) {
          val n = math.min(l, chunkBytes - buf.size())
          buf.write(bs, o, n)
          o += n
          l -= n
          if (buf.size() >= chunkBytes) flushChunk()
        }
      }
    }
    write(chunking)
    flushChunk()
    val meta = DumpMeta(
      directoryName = dumpName,
      size = total,
      createdAt = System.currentTimeMillis(),
      compressed = compressed,
      encrypted = encryptionKey.isDefined,
      format = Some(format))
    catalog.register(meta)
    meta
  }

  /** Stream a blob dump's raw payload into `out`, parts in write order
    * (the write side numbers them `<partition>-<chunk>.dump`).
    * Ordering parses the NUMERIC indexes out of the name rather than
    * sorting lexicographically, so a blob with >10^pad chunks — or a
    * pre-r19 dump whose chunk index was padded narrower — still
    * reassembles in sequence ('…-1000.dump' must follow '…-999.dump').
    * Driver-side, O(one chunk) memory — the consumer is a tool pipe or
    * a spool file.
    */
  def readBlobTo(
      dumpName: String,
      out: java.io.OutputStream,
      encryptionKey: Option[String] = None): Unit = {
    val compressed = dumpMeta(dumpName).compressed
    val fs = new Path(rootUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    parts(dumpName).foreach { st =>
      val in = fs.open(st.getPath)
      val bytes = try in.readAllBytes() finally in.close()
      out.write(Codecs.decode(bytes, compressed, encryptionKey))
    }
    out.flush()
  }

  def catalogOps: Catalog = catalog
}

object Datastore {
  /** Reassembly order of a `<partition>-<chunk>.dump` part name: the
    * parsed numeric (partition, chunk) pair. Unparseable names sort
    * after all parseable ones, by name — never silently interleaved.
    */
  private[graft] def partOrder(name: String): (Long, Long, String) = {
    val stem = name.stripSuffix(".dump")
    val dash = stem.indexOf('-')
    if (dash > 0) {
      try return (stem.substring(0, dash).toLong, stem.substring(dash + 1).toLong, "")
      catch { case _: NumberFormatException => () }
    }
    (Long.MaxValue, Long.MaxValue, name)
  }
}
