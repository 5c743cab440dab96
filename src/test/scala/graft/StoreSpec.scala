package graft

import java.nio.file.Files

import graft.model.DumpMeta
import graft.store.{Catalog, Codecs, Crc64, Datastore}

class StoreSpec extends SparkSpec {
  import spark.implicits._

  test("codecs: zlib roundtrip (reference datastore/mod.rs:232-261)") {
    val data = ("INSERT INTO t VALUES (1);\n" * 1000).getBytes("UTF-8")
    val compressed = Codecs.compress(data)
    assert(compressed.length < data.length / 5)
    assert(Codecs.decompress(compressed).toSeq == data.toSeq)
  }

  test("codecs: AES-GCM roundtrip, key padding, tamper detection") {
    val data = "secret dump content".getBytes("UTF-8")
    for (key <- Seq("short", "exactly-32-bytes-key-abcdefghij!", "a-key-that-is-much-longer-than-32-bytes-xyz")) {
      val ct = Codecs.encrypt(data, key)
      assert(Codecs.decrypt(ct, key).toSeq == data.toSeq)
      // random nonce → two encryptions differ (the reference's fixed
      // nonce would make these equal — deliberately fixed here)
      assert(Codecs.encrypt(data, key).toSeq != ct.toSeq)
      val tampered = ct.clone(); tampered(tampered.length - 1) = (tampered.last ^ 1).toByte
      intercept[Exception](Codecs.decrypt(tampered, key))
    }
    assert(Codecs.normalizeKey("short").length == 32)
  }

  test("codecs: compose encode/decode") {
    val data = "x".*(10000).getBytes("UTF-8")
    val enc = Codecs.encode(data, compressed = true, Some("k"))
    assert(Codecs.decode(enc, compressed = true, Some("k")).toSeq == data.toSeq)
  }

  test("crc64: ECMA check value") {
    // standard CRC-64/XZ check: crc64("123456789") = 0x995DC9BBDF1939FA
    assert(Crc64.of("123456789".getBytes("US-ASCII")) == 0x995DC9BBDF1939FAL)
    // incremental chaining == one-shot (the pre/post inversions cancel
    // across update calls — the property the streaming writer's
    // running fold relies on)
    val (a, b) = ("12345".getBytes, "6789".getBytes)
    assert(Crc64.update(Crc64.update(0L, a), b) == Crc64.of("123456789".getBytes))
  }

  test("crc64 combine: crc(A++B) from per-chunk CRCs alone (distributed-writer fold)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val a = Array.fill(rnd.nextInt(2000))(rnd.nextInt().toByte)
      val b = Array.fill(rnd.nextInt(2000))(rnd.nextInt().toByte)
      assert(Crc64.combine(Crc64.of(a), Crc64.of(b), b.length.toLong) == Crc64.of(a ++ b))
    }
    // edges: empty chunks on either side, and a multi-chunk fold
    val x = "chunk-one".getBytes; val e = Array.empty[Byte]
    assert(Crc64.combine(Crc64.of(x), Crc64.of(e), 0L) == Crc64.of(x))
    assert(Crc64.combine(Crc64.of(e), Crc64.of(x), x.length.toLong) == Crc64.of(x))
    val parts = Seq("a".getBytes, "bb".getBytes, "ccc".getBytes, "dddd".getBytes)
    val folded = parts.map(p => (Crc64.of(p), p.length.toLong))
      .foldLeft(0L) { case (acc, (c, l)) => Crc64.combine(acc, c, l) }
    assert(folded == Crc64.of(parts.reduce(_ ++ _)))
  }

  test("catalog: register/list/latest/keepLast/olderThan") {
    val dir = tempDir("graft-catalog").toString
    val cat = new Catalog(s"file://$dir", spark.sparkContext.hadoopConfiguration)
    cat.register(DumpMeta("dump-1", 100, 1000L, compressed = true, encrypted = false))
    cat.register(DumpMeta("dump-2", 200, 2000L, compressed = true, encrypted = false))
    cat.register(DumpMeta("dump-3", 300, 3000L, compressed = true, encrypted = false))
    assert(cat.list().map(_.directoryName) == Seq("dump-3", "dump-2", "dump-1"))
    assert(cat.latest().map(_.directoryName).contains("dump-3"))
    assert(cat.byName("dump-2").exists(_.size == 200))
    assert(cat.keepLast(2) == Seq("dump-1"))
    assert(cat.list().map(_.directoryName) == Seq("dump-3", "dump-2"))
    assert(cat.deleteOlderThan(2500L) == Seq("dump-2"))
    assert(cat.list().map(_.directoryName) == Seq("dump-3"))
    // re-read from disk: persisted state matches
    val cat2 = new Catalog(s"file://$dir", spark.sparkContext.hadoopConfiguration)
    assert(cat2.list().map(_.directoryName) == Seq("dump-3"))
  }

  test("datastore: chunked compressed+encrypted write/read roundtrip") {
    val dir = tempDir("graft-store").toString
    val store = new Datastore(s"file://$dir", spark)
    val statements = (1 to 500).map(i =>
      s"INSERT INTO public.t (id, s) VALUES ($i, 'multi\nline ; text $i');").toDS()
    store.write("dump-a", statements, compressed = true,
      encryptionKey = Some("passphrase"), chunkBytes = 4 * 1024)
    val meta = store.catalogOps.byName("dump-a").get
    assert(meta.compressed && meta.encrypted && meta.size > 0)
    // multiple chunk files were produced (4 KB chunks, ~25 KB of data)
    val parts = new java.io.File(s"$dir/dump-a").listFiles().filter(_.getName.endsWith(".dump"))
    assert(parts.length > 1)
    val back = store.read("dump-a", Some("passphrase")).collect().toSet
    assert(back.size == 500)
    assert(back.exists(_.contains("multi\nline ; text 42")))
    // wrong key fails
    intercept[Exception](store.read("dump-a", Some("wrong")).collect())
  }

  test("datastore: re-creating a dump under an existing name restores only the new rows") {
    val dir = tempDir("graft-store-recreate").toString
    val store = new Datastore(s"file://$dir", spark)
    val old = (1 to 40).map(i => s"INSERT INTO public.t (id) VALUES ($i);").toDS().repartition(4)
    store.write("d", old, compressed = false)
    assert(store.read("d").count() == 40)
    // one partition writes one part: the old dump's other three parts
    // must not survive next to it
    store.write("d", Seq("INSERT INTO public.t (id) VALUES (99);").toDS(), compressed = false)
    assert(store.read("d").collect().toSeq == Seq("INSERT INTO public.t (id) VALUES (99);"))
    assert(store.catalogOps.list().count(_.directoryName == "d") == 1)
    // the blob path re-creates the same way: 3 chunks, then 1
    store.writeBlob("b", o => o.write(Array.fill[Byte](30)(1)), format = "mongo-archive",
      compressed = false, chunkBytes = 10)
    store.writeBlob("b", o => o.write(Array.fill[Byte](5)(2)), format = "mongo-archive",
      compressed = false, chunkBytes = 10)
    val bos = new java.io.ByteArrayOutputStream()
    store.readBlobTo("b", bos)
    assert(bos.toByteArray.toSeq == Seq.fill[Byte](5)(2))
  }
  test("blob dumps: chunked write/read round-trips bytes exactly (compressed + encrypted), catalog carries the format") {
    val dir = tempDir("graft-blob-").toString
    val ds = new Datastore(dir, spark)
    // 2.5 chunks of deterministic pseudo-random bytes
    val rnd = new java.util.Random(42)
    val payload = new Array[Byte](2500)
    rnd.nextBytes(payload)
    ds.writeBlob("blob-1", o => { o.write(payload) }, format = "mongo-archive",
      compressed = true, encryptionKey = Some("blob-key"), chunkBytes = 1000)
    // three parts on disk, none holding the plaintext
    val parts = new java.io.File(s"$dir/blob-1").listFiles()
      .filter(_.getName.endsWith(".dump")).sortBy(_.getName)
    assert(parts.length == 3, parts.map(_.getName).toSeq)
    val meta = ds.catalogOps.byName("blob-1").get
    assert(meta.format.contains("mongo-archive") && meta.encrypted && meta.compressed)
    val bos = new java.io.ByteArrayOutputStream()
    ds.readBlobTo("blob-1", bos, Some("blob-key"))
    assert(bos.toByteArray.toSeq == payload.toSeq)
    // wrong key fails loudly, never returns garbage
    intercept[Exception] {
      ds.readBlobTo("blob-1", new java.io.ByteArrayOutputStream(), Some("wrong-key"))
    }
  }

  test("blob parts: reassembly is NUMERIC chunk order, so the 1000th chunk follows the 999th (ADVICE r18)") {
    // unit: mixed pad widths (a pre-r19 dump used %03d) and an
    // unparseable name all order correctly — lexicographic sorting put
    // '…-1000.dump' BEFORE '…-999.dump' and interleaved the payload
    val names = Seq("00000-1000.dump", "00000-999.dump", "00000-00002.dump",
      "00001-00000.dump", "00000-00000.dump", "junk.dump")
    assert(names.sortBy(Datastore.partOrder) == Seq(
      "00000-00000.dump", "00000-00002.dump", "00000-999.dump",
      "00000-1000.dump", "00001-00000.dump", "junk.dump"))

    // e2e: a blob spanning >1000 chunks round-trips byte-exactly
    val dir = tempDir("graft-blob-many-").toString
    val ds = new Datastore(dir, spark)
    val rnd = new java.util.Random(7)
    val payload = new Array[Byte](1100 * 8)
    rnd.nextBytes(payload)
    ds.writeBlob("blob-many", o => o.write(payload), format = "mongo-archive",
      compressed = false, chunkBytes = 8)
    val parts = new java.io.File(s"$dir/blob-many").listFiles()
      .count(_.getName.endsWith(".dump"))
    assert(parts == 1100, s"expected 1100 chunk parts, got $parts")
    val bos = new java.io.ByteArrayOutputStream()
    ds.readBlobTo("blob-many", bos)
    assert(java.util.Arrays.equals(bos.toByteArray, payload))
  }

  test("catalog migration: a pre-r18 metadata.json without the format field reads as a statement dump") {
    val dir = tempDir("graft-oldcat-").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/metadata.json"),
      """{"v":"0.1.0","dumps":[{"directoryName":"old-dump","size":10,
        |"createdAt":1700000000000,"compressed":true,"encrypted":false}]}""".stripMargin)
    val cat = new Catalog(dir, spark.sparkContext.hadoopConfiguration)
    val meta = cat.byName("old-dump").get
    assert(meta.format == None, meta)
    // register round-trips the normalized entry without corrupting it
    cat.register(meta.copy(size = 11))
    assert(cat.byName("old-dump").get.size == 11)
    assert(cat.byName("old-dump").get.format == None)
  }

  test("statement-dump read order: numeric under legacy narrow pads, immune to escapedStringLiterals (ADVICE r19)") {
    import spark.implicits._
    val dir = tempDir("graft-store-ord").toString
    val store = new Datastore(s"file://$dir", spark)
    // one partition, one statement per chunk → parts 0..29 in dump order
    val statements = (0 until 30).map(i =>
      s"INSERT INTO public.o (i) VALUES ($i);").toDS().coalesce(1)
    store.write("dump-ord", statements, compressed = false, chunkBytes = 1)
    val d = new java.io.File(s"$dir/dump-ord")
    val parts = d.listFiles().filter(_.getName.endsWith(".dump"))
    assert(parts.length == 30, s"expected 30 one-statement parts, got ${parts.length}")
    // rename to a pre-r19 NARROW chunk pad: lexicographic path order
    // now reads 0,1,10,11,…,2,20,… — only numeric ordering survives
    parts.foreach { f =>
      val m = "\\d+-0*(\\d+)\\.dump".r.findFirstMatchIn(f.getName).get
      assert(f.renameTo(new java.io.File(d, s"00000-${m.group(1)}.dump")))
    }
    // escapedStringLiterals must not change what the ordering regex
    // means — the pattern never passes through the SQL parser
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try {
      val back = store.read("dump-ord").collect().toSeq
      assert(back == (0 until 30).map(i => s"INSERT INTO public.o (i) VALUES ($i);"),
        s"order degraded: ${back.take(5)}…")
    } finally spark.conf.unset("spark.sql.parser.escapedStringLiterals")
  }
}
