package graft.ingest

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, FilterInputStream, FilterOutputStream, InputStream, OutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** WARC (Web ARChive, ISO 28500 / WARC-1.0) container ingest — the
  * format web crawls actually arrive in (Common Crawl, Heritrix,
  * wget --warc). Completes the crawl-to-corpus story the C4/CCNet
  * operators implement: `.warc.gz` in → (url, date, mime, payload)
  * frame → `TextAnalysis.stripHtml` → the curation chain.
  *
  * Wire layout (public spec, iipc/warc-specifications):
  *
  *   one record = `WARC/1.0\r\n` · header lines (`Name: value\r\n`,
  *   continuation lines start with SP/HT) · `\r\n` · exactly
  *   `Content-Length` block bytes · `\r\n\r\n` trailer.
  *
  *   `.warc.gz` = one gzip MEMBER per record, members concatenated —
  *   the layout crawlers emit so readers can reseek record boundaries.
  *   `java.util.zip.GZIPInputStream` consumes concatenated members
  *   transparently, so one stream yields the whole file.
  *
  *   A `response` record's block is a full HTTP/1.1 response message:
  *   status line · headers · `\r\n\r\n` · body.
  *
  * Scale posture: same edge-format doctrine as the mongodump archive
  * codec ([[MongoArchive]]) but WITHOUT its one-bytestream limitation —
  * a crawl is many `.warc.gz` files (Common Crawl segments ~1 GB each;
  * 100 TB ≈ 10⁵ files), so the reader parallelizes per FILE: the
  * driver lists paths, each task opens its own Hadoop FS stream and
  * decodes records one at a time — O(one record) task memory, never a
  * whole-archive buffer, no driver-side byte traffic. Record payloads
  * (web pages) are single-document-sized by construction. Splitting
  * WITHIN a file (resync on the gzip magic at an arbitrary offset) is
  * possible but unnecessary at that file count; per-file tasks already
  * exceed any cluster's core count.
  */
object Warc {

  /** One parsed WARC record: envelope headers + raw block bytes. */
  final case class WarcRecord(
      file: String,
      recordIdx: Long,
      warcType: String,
      url: String,
      date: String,
      recordId: String,
      contentType: String,
      contentLength: Long,
      payload: Array[Byte])

  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("record_idx", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("date", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Read a file/dir/glob of `.warc` / `.warc.gz` into a DataFrame,
    * one task per file (see scale posture above). `record_idx` is the
    * record's ordinal within its file — with `file` it forms a stable
    * identity for provenance joins.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    // directory listings include non-record files (`_SUCCESS` markers,
    // checksums) — only `.warc(.gz)` members get a task; if the filter
    // leaves nothing the caller named a specific file, take it as-is
    val all = DumpReader.rankedFiles(spark, path).map(_.getPath.toString)
    val warcs = all.filter(f => f.endsWith(".warc") || f.endsWith(".warc.gz"))
    val files = if (warcs.nonEmpty) warcs else all
    val confSer = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val rdd = spark.sparkContext
      .parallelize(files, math.max(files.size, 1))
      .flatMap { f =>
        val p = new Path(f)
        val fs = p.getFileSystem(confSer.value)
        val raw: InputStream =
          new EofAwareStream(new BufferedInputStream(fs.open(p), 1 << 16))
        val in: InputStream =
          if (f.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16) else raw
        // the iterator closes `in` at EOF/parse failure, but a consumer
        // that stops early (limit, take) never drains it — the task
        // hook guarantees the FS stream and inflater release either way
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          try in.close() catch { case _: Throwable => } }
        records(in, f).map(r => Row(
          r.file, r.recordIdx, r.warcType, r.url, r.date, r.recordId,
          r.contentType, r.contentLength, r.payload))
      }
    spark.createDataFrame(rdd, schema)
  }

  /** available()-honest wrapper. `GZIPInputStream` decides whether
    * another concatenated gzip member follows PARTLY on
    * `in.available() > 0`, and several Hadoop FS streams legally
    * return 0 mid-stream — a member trailer landing exactly on the
    * buffer edge would then read as clean EOF and silently drop every
    * remaining record in the file. Report 1 until true EOF; at true
    * EOF the JDK's next-member header probe fails and is treated as
    * end-of-stream, so the lie is safe.
    */
  private final class EofAwareStream(in: InputStream) extends FilterInputStream(in) {
    private var eof = false
    override def read(): Int = {
      val b = super.read(); if (b < 0) eof = true; b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n < 0) eof = true; n
    }
    override def available(): Int = if (eof) 0 else 1
  }

  /** close-shield: lets a per-record `GZIPOutputStream` be close()d —
    * releasing its native Deflater immediately instead of leaking one
    * 64 KB zlib buffer per record until GC — without closing the
    * shared part-file stream underneath.
    */
  private final class CloseShield(out: OutputStream) extends FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def close(): Unit = flush()
  }

  /** Stream records off an open (already-decompressed) stream. The
    * iterator owns the stream and closes it at EOF or parse failure —
    * callers in `flatMap` never see it.
    */
  private[ingest] def records(in: InputStream, file: String): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = _
      private var idx = 0L
      private var done = false
      advance()

      private def advance(): Unit = {
        nextRec = null
        if (done) return
        try {
          val version = readLine(in) match {
            case null => done = true; in.close(); return
            case v => v
          }
          require(version.startsWith("WARC/"),
            s"$file: record $idx: expected WARC/x.y version line, got '${version.take(40)}'")
          val headers = readHeaders(in, file, idx)
          def h(name: String): String = headers.getOrElse(name.toLowerCase, null)
          val len = Option(h("Content-Length")).map(_.trim.toLong).getOrElse(
            throw new IllegalArgumentException(s"$file: record $idx: missing Content-Length"))
          require(len >= 0 && len <= Int.MaxValue.toLong,
            s"$file: record $idx: unsupported Content-Length $len")
          val payload = readExactly(in, len.toInt, file, idx)
          // record trailer: CRLF CRLF
          consumeCrlf(in, file, idx); consumeCrlf(in, file, idx)
          nextRec = WarcRecord(file, idx, Option(h("WARC-Type")).getOrElse(""),
            stripAngles(h("WARC-Target-URI")), h("WARC-Date"),
            stripAngles(h("WARC-Record-ID")), h("Content-Type"), len, payload)
          idx += 1
        } catch {
          case e: Throwable =>
            try in.close() catch { case _: Throwable => }
            done = true
            throw e
        }
      }

      def hasNext: Boolean = nextRec != null
      def next(): WarcRecord = {
        val r = nextRec
        if (r == null) throw new NoSuchElementException
        advance()
        r
      }
    }

  // WARC 1.0 allowed <uri> bracketing on URI-valued headers (dropped in
  // 1.1); normalize both spellings to the bare URI
  private def stripAngles(s: String): String =
    if (s != null && s.length >= 2 && s.head == '<' && s.last == '>')
      s.substring(1, s.length - 1)
    else s

  /** Read one CRLF-terminated header/version line as ISO-8859-1 (the
    * octet-transparent charset for header bytes); null at clean EOF.
    */
  private def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    if (b < 0) throw new EOFException("stream ended mid-line")
    val arr = buf.toByteArray
    val n = if (arr.nonEmpty && arr(arr.length - 1) == '\r') arr.length - 1 else arr.length
    new String(arr, 0, n, "ISO-8859-1")
  }

  /** Header lines until the blank separator; keys lower-cased,
    * continuation lines (leading SP/HT) folded onto the prior value.
    */
  private def readHeaders(in: InputStream, file: String, idx: Long): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    var last: String = null
    var line = readLine(in)
    while (line != null && line.nonEmpty) {
      if (line.head == ' ' || line.head == '\t') {
        require(last != null, s"$file: record $idx: continuation line with no header")
        m(last) = m(last) + " " + line.trim
      } else {
        val i = line.indexOf(':')
        require(i > 0, s"$file: record $idx: malformed header line '${line.take(40)}'")
        last = line.substring(0, i).trim.toLowerCase
        m(last) = line.substring(i + 1).trim
      }
      line = readLine(in)
    }
    require(line != null, s"$file: record $idx: EOF inside headers")
    m.toMap
  }

  private def readExactly(in: InputStream, n: Int, file: String, idx: Long): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(buf, off, n - off)
      if (k < 0) throw new EOFException(
        s"$file: record $idx: truncated block — need $n bytes, got $off")
      off += k
    }
    buf
  }

  private def consumeCrlf(in: InputStream, file: String, idx: Long): Unit = {
    val a = in.read(); val b = in.read()
    require(a == '\r' && b == '\n',
      s"$file: record $idx: missing CRLF record trailer (got $a,$b)")
  }

  // ---- HTTP message split (response records) ----

  /** Split an HTTP/1.1 response block into (statusCode, headers map
    * lower-cased, body bytes). Returns status −1 when the payload is
    * not an HTTP message (callers filter).
    */
  def httpParts(payload: Array[Byte]): (Int, Map[String, String], Array[Byte]) = {
    val sep = indexOfCrlfCrlf(payload)
    if (sep < 0) return (-1, Map.empty, payload)
    val head = new String(payload, 0, sep, "ISO-8859-1")
    val lines = head.split("\r\n")
    if (lines.isEmpty || !lines(0).startsWith("HTTP/")) return (-1, Map.empty, payload)
    val status = lines(0).split(" ") match {
      case parts if parts.length >= 2 && parts(1).forall(_.isDigit) => parts(1).toInt
      case _ => -1
    }
    val headers = lines.drop(1).flatMap { l =>
      val i = l.indexOf(':')
      if (i > 0) Some(l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim) else None
    }.toMap
    val body = java.util.Arrays.copyOfRange(payload, sep + 4, payload.length)
    (status, headers, body)
  }

  private def indexOfCrlfCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** The crawl-side ingest projection in one call: response records →
    * (file, record_idx, url, date, http_status, mime, body). `mime` is
    * the media type alone (parameters like `; charset=` dropped) —
    * what a corpus filter keys on.
    */
  def responses(spark: SparkSession, path: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("record_idx", LongType, nullable = false),
      StructField("url", StringType, nullable = true),
      StructField("date", StringType, nullable = true),
      StructField("http_status", IntegerType, nullable = false),
      StructField("mime", StringType, nullable = true),
      StructField("body", BinaryType, nullable = false)))
    read(spark, path)
      .where(col("warc_type") === "response")
      .mapPartitions { rows =>
        rows.map { r =>
          val (status, headers, body) = httpParts(r.getAs[Array[Byte]]("payload"))
          val mime = headers.get("content-type")
            .map(ct => ct.split(";")(0).trim.toLowerCase).orNull
          Row(r.getAs[String]("file"), r.getAs[Long]("record_idx"),
            r.getAs[String]("url"), r.getAs[String]("date"), status, mime, body)
        }
      }(Encoders.row(outSchema))
  }

  // ---- writer (synthetic-crawl harness + interchange sink) ----

  /** Write a frame of (url, date, html) as `.warc.gz` response records
    * under `outDir`, one gzip-member-per-record file per partition
    * (exactly the crawler layout the reader parallelizes over), plus a
    * `_SUCCESS` marker for artifact-cache completeness. Executor-side
    * streams, O(one record) memory; file names are partition-indexed
    * so a rerun overwrites deterministically.
    */
  def writeResponses(df: DataFrame, outDir: String): Unit = {
    val spark = df.sparkSession
    val confSer = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val root = new Path(outDir)
    val fsDriver = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a rerun with FEWER partitions must not leave stale part files a
    // later read() would glob — clear the directory, then write
    fsDriver.delete(root, true)
    fsDriver.mkdirs(root)
    df.select(col("url").cast("string"), col("date").cast("string"),
        col("html").cast("string"))
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.hasNext) {
          val p = new Path(root, f"part-$pid%05d.warc.gz")
          val fs = p.getFileSystem(confSer.value)
          val out = fs.create(p, true)
          var i = 0L
          try it.foreach { r =>
            val body = r.getString(2).getBytes("UTF-8")
            val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
              s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1")
            val block = http ++ body
            val rec = new ByteArrayOutputStream(block.length + 256)
            rec.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: ${r.getString(0)}\r\nWARC-Date: ${r.getString(1)}\r\n" +
              s"WARC-Record-ID: <urn:graft:$pid:$i>\r\n" +
              s"Content-Type: application/http;msgtype=response\r\n" +
              s"Content-Length: ${block.length}\r\n\r\n").getBytes("ISO-8859-1"))
            rec.write(block)
            rec.write("\r\n\r\n".getBytes("ISO-8859-1"))
            // one gzip member per record; close() flushes the member
            // trailer AND ends the Deflater (the shield keeps the
            // shared part stream open for the next member)
            val gz = new GZIPOutputStream(new CloseShield(out), 1 << 16)
            gz.write(rec.toByteArray)
            gz.close()
            i += 1
          } finally out.close()
        }
        Iterator.empty
      }.count()
    fsDriver.create(new Path(root, "_SUCCESS"), true).close()
  }

  /** WARC → documents frame: the standard crawl entry point for the
    * corpus pipeline (`input_format: warc`). One row per HTTP-200
    * text/html response; `doc_id` defaults to a 63-bit hash of the
    * FULL URL — stable across reruns, and collision-safe across hosts
    * (a trailing-path-digit rule would conflate `a.com/123` with
    * `b.com/123`, silently merging distinct pages in every id-keyed
    * stage downstream). `urlDigitIds = true` opts into the
    * trailing-integer convention for synthetic fixtures whose URLs
    * encode the id (guarded to ≤ 18 digits — longer would cast null).
    */
  def documents(spark: SparkSession, path: String,
                idCol: String = "doc_id", textCol: String = "text",
                urlDigitIds: Boolean = false): DataFrame = {
    val resp = responses(spark, path)
      .where(col("http_status") === 200 && col("mime") === "text/html")
    val hashId = abs(xxhash64(col("url")))
    val trailing = regexp_extract(col("url"), "/(\\d+)$", 1)
    val id = if (urlDigitIds)
      when(trailing =!= "" && length(trailing) <= 18, trailing.cast("long"))
        .otherwise(hashId)
    else hashId
    resp.select(id.as(idCol),
      col("url"),
      graft.ops.TextAnalysis.stripHtml(decode(col("body"), "UTF-8")).as(textCol))
  }
}
