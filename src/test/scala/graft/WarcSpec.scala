package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ingest.Warc

/** WARC container ingest: the writer→reader roundtrip over real
  * `.warc.gz` bytes, the record grammar edge cases (continuation
  * headers, `<uri>` bracketing, truncation), the HTTP split, and the
  * crawl→corpus-pipeline wiring (`input_format: warc`).
  */
class WarcSpec extends SparkSpec {

  import spark.implicits._

  private def writeCrawl(nDocs: Int, parts: Int): String = {
    val dir = tempDir("graft-warc-").toString
    val df = spark.range(nDocs).select(
      concat(lit("http://crawl.example/doc/"), col("id").cast("string")).as("url"),
      lit("2026-01-01T00:00:00Z").as("date"),
      concat(lit("<html><head><title>T"), col("id").cast("string"),
        lit("</title></head><body><p>body "), col("id").cast("string"),
        lit("</p></body></html>")).as("html"))
      .repartition(parts)
    Warc.writeResponses(df, dir)
    dir
  }

  test("warc: writeResponses → read roundtrips every record with its envelope") {
    val dir = writeCrawl(20, 3)
    val rows = Warc.read(spark, dir).collect()
    assert(rows.length == 20)
    val r0 = rows.sortBy(_.getAs[String]("url")).head
    assert(r0.getAs[String]("warc_type") == "response")
    assert(r0.getAs[String]("url") == "http://crawl.example/doc/0")
    assert(r0.getAs[String]("date") == "2026-01-01T00:00:00Z")
    assert(r0.getAs[String]("record_id").startsWith("urn:graft:"),
      "angle brackets must be stripped from WARC-Record-ID")
    assert(r0.getAs[String]("content_type") == "application/http;msgtype=response")
    val payload = r0.getAs[Array[Byte]]("payload")
    assert(r0.getAs[Long]("content_length") == payload.length.toLong)
    assert(new String(payload, "ISO-8859-1").startsWith("HTTP/1.1 200 OK\r\n"))
  }

  test("warc: one gzip member per record — members concatenate and resync") {
    val dir = writeCrawl(5, 1)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz")).head
    val bytes = Files.readAllBytes(f.toPath)
    // count gzip member magics (1f 8b 08): one per record
    var magics = 0
    for (i <- 0 until bytes.length - 2)
      if ((bytes(i) & 0xff) == 0x1f && (bytes(i + 1) & 0xff) == 0x8b && bytes(i + 2) == 8)
        magics += 1
    assert(magics == 5, s"expected 5 gzip members, found $magics")
    assert(Warc.read(spark, dir).count() == 5)
  }

  test("warc: reader parallelizes per file") {
    val dir = writeCrawl(12, 4)
    val df = Warc.read(spark, dir)
    assert(df.rdd.getNumPartitions == 4,
      "per-file task layout: one partition per .warc.gz")
  }

  test("warc: plain .warc grammar — continuation headers, <uri> brackets, CRLF trailers") {
    val body = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nhi"
    val block = body.getBytes("ISO-8859-1")
    val rec = "WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Target-URI: <http://a.example/x>\r\n" +
      "WARC-Date: 2026-02-03T04:05:06Z\r\n" +
      "X-Long-Header: first\r\n\tfolded tail\r\n" +
      "WARC-Record-ID: <urn:test:1>\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n"
    val dir = tempDir("graft-warc-plain-").toString
    val out = new java.io.FileOutputStream(s"$dir/a.warc")
    out.write(rec.getBytes("ISO-8859-1")); out.write(block)
    out.write("\r\n\r\n".getBytes("ISO-8859-1")); out.close()
    val rows = Warc.read(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("url") == "http://a.example/x")
    assert(rows(0).getAs[String]("record_id") == "urn:test:1")
    val (status, headers, got) = Warc.httpParts(rows(0).getAs[Array[Byte]]("payload"))
    assert(status == 200 && headers("content-type") == "text/plain")
    assert(new String(got, "UTF-8") == "hi")
  }

  test("warc: truncated block and bad version line fail with a parse message") {
    val dir = tempDir("graft-warc-bad-").toString
    Files.write(java.nio.file.Paths.get(s"$dir/t.warc"),
      ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 9999\r\n\r\nshort"
        ).getBytes("ISO-8859-1"))
    val e = intercept[org.apache.spark.SparkException] {
      Warc.read(spark, dir).count()
    }
    assert(e.getMessage.contains("truncated") || e.getCause != null)
    val dir2 = tempDir("graft-warc-bad2-").toString
    Files.write(java.nio.file.Paths.get(s"$dir2/t.warc"),
      "NOPE/1.0\r\n\r\n".getBytes("ISO-8859-1"))
    val e2 = intercept[org.apache.spark.SparkException] {
      Warc.read(spark, dir2).count()
    }
    assert(e2.getMessage.contains("WARC/") || e2.getCause != null)
  }

  test("warc: httpParts returns -1 for a non-HTTP payload") {
    val (status, headers, body) = Warc.httpParts("just bytes".getBytes("UTF-8"))
    assert(status == -1 && headers.isEmpty)
    assert(new String(body, "UTF-8") == "just bytes")
  }

  test("warc: documents() hashes URLs to collision-safe ids, digit mode for fixtures") {
    val dir = writeCrawl(6, 2)
    // default: 63-bit URL-hash ids — distinct per URL, never conflating
    // same-path pages across hosts the way trailing digits would
    val hashed = Warc.documents(spark, dir).collect()
    assert(hashed.length == 6)
    assert(hashed.map(_.getAs[Long]("doc_id")).distinct.length == 6)
    assert(hashed.forall(_.getAs[Long]("doc_id") >= 0L))
    // opt-in digit mode: the synthetic-crawl convention
    val docs = Warc.documents(spark, dir, urlDigitIds = true).orderBy("doc_id").collect()
    assert(docs.map(_.getAs[Long]("doc_id")).toSeq == (0L until 6L).toSeq)
    assert(docs(3).getAs[String]("text").contains("body 3"))
    assert(!docs(3).getAs[String]("text").contains("<"), "tags must be stripped")
  }

  test("cli: corpus run ingests a .warc.gz crawl via input_format: warc") {
    val crawl = writeCrawl(30, 2)
    val outDir = tempDir("graft-warc-corpus-").toString + "/out"
    val conf = tempDir("graft-warc-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $crawl
         |input_format: warc
         |output_dir: $outDir
         |stages:
         |  - kind: dedup_exact
         |  - kind: chunk
         |    window: 8
         |    stride: 8
         |""".stripMargin.getBytes("UTF-8"))
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "run", conf), spark, printed += _) == 0)
    val result = spark.read.parquet(outDir)
    assert(result.count() > 0, "warc-fed corpus pipeline produced no chunks")
    assert(result.select("doc_id").distinct().count() == 30)
  }
}
