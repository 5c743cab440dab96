package graft

import java.nio.ByteBuffer

import org.apache.spark.sql.types._

import graft.ingest.Bson._
import graft.ingest.{Bson, MongoArchive}
import graft.store.Crc64

class MongoArchiveSpec extends SparkSpec {
  import spark.implicits._

  test("BSON encode matches the spec byte layout for {a: 1}") {
    // bsonspec.org: int32 size LE, 0x10 'a'\0 int32(1), trailing 0x00
    val bytes = Bson.encode(BDoc("a" -> BInt32(1)))
    assert(bytes.toSeq == Seq[Byte](0x0c, 0, 0, 0, 0x10, 'a'.toByte, 0, 1, 0, 0, 0, 0))
  }

  test("BSON encode matches the spec byte layout for {s: \"hi\"}") {
    // string: int32 len-with-NUL, bytes, NUL
    val bytes = Bson.encode(BDoc("s" -> BStr("hi")))
    assert(bytes.toSeq == Seq[Byte](
      0x0f, 0, 0, 0, 0x02, 's'.toByte, 0, 3, 0, 0, 0, 'h'.toByte, 'i'.toByte, 0, 0))
  }

  test("BSON roundtrips every supported element type") {
    val doc = BDoc(
      "d" -> BDouble(3.25),
      "s" -> BStr("héllo"),
      "doc" -> BDoc("inner" -> BInt64(7L)),
      "arr" -> BArr(Vector(BInt32(1), BStr("two"), BNull)),
      "bin" -> BBin(0x00, Array[Byte](1, 2, 3)),
      "oid" -> BObjectId(Array.tabulate(12)(_.toByte)),
      "b" -> BBool(true),
      "ts" -> BTimestamp(123456789L),
      "dt" -> BDateTime(1700000000000L),
      "nul" -> BNull,
      "i32" -> BInt32(-42),
      "i64" -> BInt64(Long.MinValue + 1),
      "dec" -> BDecimal128.fromBigDecimal(new java.math.BigDecimal("-123.456")))
    val back = Bson.decode(Bson.encode(doc))
    // Array[Byte] equality is reference-based; compare re-encodings
    assert(Bson.encode(back).toSeq == Bson.encode(doc).toSeq)
    assert(back.getStr("s").contains("héllo"))
    assert(back.getLong("i64").contains(Long.MinValue + 1))
  }

  test("Decimal128: BID bit layout, BigDecimal bridge, specials survive byte-exactly") {
    // known vector: 1 with exponent 0 → biased exponent 6176 in bits
    // 62-49 of the high quad, coefficient 1 in the low quad
    val one = BDecimal128.fromBigDecimal(java.math.BigDecimal.ONE)
    assert(one.high == 0x3040000000000000L && one.low == 1L)
    // scale is significant and survives: 1.10 ≠ 1.1 in decimal128
    for (s <- Seq("0", "-0.00", "1.10", "-123.456", "9999999999999999999999999999999999",
                  "-0.000000000000000000000000000001", "2E+10")) {
      val d = new java.math.BigDecimal(s)
      val rt = BDecimal128.fromBigDecimal(d).toBigDecimal.get
      assert(rt == d && rt.scale == d.scale, s"drift for $s: got $rt")
    }
    // 35+ significant digits: loud, not rounded
    intercept[IllegalArgumentException] {
      BDecimal128.fromBigDecimal(new java.math.BigDecimal("99999999999999999999999999999999999"))
    }
    // wide-but-trailing-zero coefficients shed zeros instead of failing
    val big = BDecimal128.fromBigDecimal(new java.math.BigDecimal("1" + "0" * 36))
    assert(big.toBigDecimal.get.compareTo(new java.math.BigDecimal("1E+36")) == 0)
    // NaN / ±Infinity: no decimal value, raw bits roundtrip the codec
    val nan = BDecimal128(0x7c00000000000000L, 0L)
    val negInf = BDecimal128(0xf800000000000000L, 0L)
    assert(nan.isNaN && nan.toBigDecimal.isEmpty && nan.render == "NaN")
    assert(negInf.isInfinite && negInf.isNegative && negInf.render == "-Infinity")
    for (v <- Seq(nan, negInf)) {
      val back = Bson.decode(Bson.encode(BDoc("d" -> v))).get("d").get
      assert(back == v, s"special value drifted: $back != $v")
    }
  }

  test("BSON decode rejects unknown element types and size lies") {
    val unknown = Array[Byte](0x0b, 0, 0, 0, 0x7f, 'x', 0, 1, 0, 0, 0)
    intercept[IllegalArgumentException](Bson.decode(unknown))
    val sizeLie = Bson.encode(BDoc("a" -> BInt32(1)))
    sizeLie(0) = (sizeLie(0) + 4).toByte
    intercept[IllegalArgumentException](Bson.decode(ByteBuffer.wrap(sizeLie ++ Array[Byte](0, 0, 0, 0))))
  }

  test("property: BSON roundtrips generated documents (nested, unicode, extremes)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val name: Gen[String] = Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.oneOf('é', '中', '€', ' ', '.', '$'))).map(_.mkString)
    def leaf: Gen[BVal] = Gen.oneOf(
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(BInt64),
      Gen.chooseNum(Int.MinValue, Int.MaxValue).map(BInt32),
      Gen.double.map(BDouble),
      name.map(BStr), Gen.oneOf(true, false).map(BBool),
      Gen.const(BNull),
      Gen.zip(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue), Gen.chooseNum(-20, 30))
        .map { case (u, s) => BDecimal128.fromBigDecimal(java.math.BigDecimal.valueOf(u, s)) },
      Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(bs => BBin(0x00, bs.toArray)))
    def value(depth: Int): Gen[BVal] =
      if (depth <= 0) leaf
      else Gen.frequency(
        6 -> leaf,
        1 -> Gen.listOfN(3, value(depth - 1)).map(vs => BArr(vs.toVector)),
        1 -> Gen.listOfN(3, Gen.zip(name, value(depth - 1))).map(fs => BDoc(fs.toVector)))
    val doc: Gen[BDoc] =
      Gen.listOfN(5, Gen.zip(name, value(2))).map(fs => BDoc(fs.toVector))
    val p = Gen.Parameters.default
    (0 until 200).flatMap(i => doc.apply(p, Seed(i.toLong))).foreach { d =>
      val enc = Bson.encode(d)
      val back = Bson.decode(enc)
      assert(Bson.encode(back).toSeq == enc.toSeq, s"roundtrip drift for $d")
    }
  }

  test("archive write → read → write is byte-exact and CRC-verified") {
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.0)).toDF("id", "name", "score")
    val archive = MongoArchive.fromTables("testdb", Seq("things" -> df))
    val bytes = MongoArchive.write(archive)
    // magic bytes of the public mongodump archive format
    assert((bytes(0) & 0xff) == 0x6d && (bytes(1) & 0xff) == 0xe2 &&
      (bytes(2) & 0xff) == 0x99 && (bytes(3) & 0xff) == 0x81)
    val back = MongoArchive.read(bytes)
    assert(back.header.toolVersion == "graft")
    assert(back.collections("testdb.things").size == 2)
    assert(MongoArchive.write(back).toSeq == bytes.toSeq)
  }

  test("DecimalType columns roundtrip the archive as native Decimal128") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("amount", DecimalType(38, 18))))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, new java.math.BigDecimal("1234.500000000000000000")),
      org.apache.spark.sql.Row(2L, new java.math.BigDecimal("-0.000000000000000001")),
      org.apache.spark.sql.Row(3L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val archive = MongoArchive.fromTables("db", Seq("money" -> df))
    // on the wire: element type 0x13, not a string
    val doc = archive.collections("db.money").head
    assert(doc.get("amount").exists(_.isInstanceOf[BDecimal128]))
    val back = MongoArchive.restore(
      spark, MongoArchive.read(MongoArchive.write(archive)), Map("db.money" -> schema))("db.money")
    assert(back.schema("amount").dataType == DecimalType(38, 18))
    val got = back.orderBy($"id").collect()
    assert(got(0).getDecimal(1).compareTo(new java.math.BigDecimal("1234.5")) == 0)
    assert(got(1).getDecimal(1).compareTo(new java.math.BigDecimal("-1E-18")) == 0)
    assert(got(2).isNullAt(1))
    // inference derives (p, s) from the values: widest here is
    // 1234.5…(scale 18) → 4 integer digits + 18 fractional
    val inferred = MongoArchive.inferSchema(archive.collections("db.money"))
    assert(inferred("amount").dataType == DecimalType(22, 18))
  }

  test("schema-free restore survives high-scale, high-precision, NaN, and mixed decimals") {
    def dec(s: String) = BDecimal128.fromBigDecimal(new java.math.BigDecimal(s))
    // scale 19 (> the old fixed 18), 37 integer digits (> 20), a NaN,
    // and an int64 sharing a decimal field — each used to throw or
    // overflow under the fixed DecimalType(38, 18) inference
    val deep = Vector(
      BDoc("id" -> BInt64(1), "v" -> dec("0.1234567890123456789")),
      BDoc("id" -> BInt64(2), "v" -> dec("-0.0000000000000000001")))
    val wide = Vector(BDoc("id" -> BInt64(1), "v" -> dec("1" + "0" * 36)))
    val mixed = Vector(
      BDoc("id" -> BInt64(1), "v" -> dec("12.50")),
      BDoc("id" -> BInt64(2), "v" -> BInt64(7L)))
    val withNaN = Vector(
      BDoc("id" -> BInt64(1), "v" -> dec("1.5")),
      BDoc("id" -> BInt64(2), "v" -> BDecimal128(0x7c00000000000000L, 0L))) // NaN
    def roundtrip(docs: Vector[BDoc]) = {
      val archive = MongoArchive.Archive(
        MongoArchive.Header(1, "0.1", "n/a", "t"),
        Seq(MongoArchive.CollectionMeta("db", "c", "{}", 0, "collection")),
        Map("db.c" -> docs), Map.empty)
      MongoArchive.restore(spark, MongoArchive.read(MongoArchive.write(archive)))("db.c")
    }
    val d = roundtrip(deep)
    assert(d.schema("v").dataType == DecimalType(20, 19))
    assert(d.orderBy($"id").collect()(0).getDecimal(1).compareTo(
      new java.math.BigDecimal("0.1234567890123456789")) == 0)
    val w = roundtrip(wide)
    assert(w.schema("v").dataType == DecimalType(37, 0))
    assert(w.collect()(0).getDecimal(1).compareTo(new java.math.BigDecimal("1E+36")) == 0)
    val m = roundtrip(mixed)
    assert(m.schema("v").dataType == DecimalType(22, 2)) // 20 int digits + scale 2
    assert(m.orderBy($"id").collect()(1).getDecimal(1).compareTo(
      new java.math.BigDecimal("7")) == 0)
    // NaN has no decimal value → the field widens to string, restore
    // completes instead of throwing mid-collection
    val n = roundtrip(withNaN)
    assert(n.schema("v").dataType == StringType)
    assert(n.orderBy($"id").collect()(1).getString(1) == "NaN")
  }

  test("property: schema-free restore preserves arbitrary Decimal128 values") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // long coefficients (≤ 19 sig digits, inside decimal128's 34) across
    // a wide exponent range — the shapes that broke fixed-(38,18)
    // inference: scale > 18, huge integer parts, negative scales
    val decGen = Gen.zip(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue), Gen.chooseNum(-25, 30))
      .map { case (u, s) => java.math.BigDecimal.valueOf(u, s) }
    val p = Gen.Parameters.default
    val values = (0 until 120).flatMap(i => decGen.apply(p, Seed(9000L + i)))
    val docs = values.zipWithIndex.map { case (bd, i) =>
      BDoc("id" -> BInt64(i.toLong), "v" -> BDecimal128.fromBigDecimal(bd))
    }.toVector
    val archive = MongoArchive.Archive(
      MongoArchive.Header(1, "0.1", "n/a", "t"),
      Seq(MongoArchive.CollectionMeta("db", "c", "{}", 0, "collection")),
      Map("db.c" -> docs), Map.empty)
    val back = MongoArchive.restore(spark, MongoArchive.read(MongoArchive.write(archive)))("db.c")
    val vt = back.schema("v").dataType
    val got = back.orderBy($"id").collect().map { r =>
      vt match {
        case _: DecimalType => r.getDecimal(1)
        // merged (p, s) wider than decimal can hold widens to string —
        // the rendering must still parse back to the same value
        case StringType => new java.math.BigDecimal(r.getString(1))
        case other => fail(s"unexpected inferred type $other")
      }
    }
    values.zip(got).foreach { case (exp, act) =>
      assert(act.compareTo(exp) == 0, s"decimal drift: wrote $exp, restored $act")
    }
  }

  test("streaming writeTables is byte-identical to the materialized write path") {
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.0)).toDF("id", "name", "score")
      .orderBy($"id").repartition(3) // multiple partitions through toLocalIterator
      .orderBy($"id")
    val tables = Seq("things" -> df, "empty" -> df.filter($"id" < 0L))
    val materialized = MongoArchive.write(MongoArchive.fromTables("testdb", tables))
    val bos = new java.io.ByteArrayOutputStream()
    val crcs = MongoArchive.writeTables(bos, "testdb", tables)
    assert(bos.toByteArray.toSeq == materialized.toSeq)
    // the running-fold CRC must equal the declared CRC the reader verifies
    val back = MongoArchive.read(bos.toByteArray)
    assert(crcs == back.crcs)
    assert(back.collections("testdb.things").size == 2)
    assert(back.collections.getOrElse("testdb.empty", Vector.empty).isEmpty)
  }

  test("distributed writeTables: multi-partition collection is byte-identical, CRC verified") {
    // a collection genuinely larger than one partition: every partition
    // contributes a non-empty executor-encoded chunk, so the driver's
    // Crc64.combine fold crosses real chunk boundaries (the r14 scale
    // item: encode on executors, driver merges framing + CRC only)
    import org.apache.spark.sql.functions.{concat, lit}
    val big = spark.range(0, 1000)
      .select($"id", concat(lit("doc-"), $"id").as("name"), ($"id" % 7).as("grp"))
      .repartition(7)
    assert(big.rdd.getNumPartitions == 7)
    val tables = Seq("bulk" -> big)
    val bos = new java.io.ByteArrayOutputStream()
    val crcs = MongoArchive.writeTables(bos, "testdb", tables)
    // byte-exact vs the single-threaded in-memory path on the SAME row
    // order (fromTables iterates the same partition order)
    val materialized = MongoArchive.write(MongoArchive.fromTables("testdb", tables))
    assert(bos.toByteArray.toSeq == materialized.toSeq,
      "distributed encode diverged from the driver-encoded bytes")
    // the combined CRC must equal what the verifying reader recomputes
    val back = MongoArchive.read(bos.toByteArray)
    assert(crcs == back.crcs)
    assert(back.collections("testdb.bulk").size == 1000)
  }

  test("distributed read: multi-partition, multi-slice roundtrip matches the source") {
    // the r16 read analog of the distributed writer: a 7-partition
    // collection written to a FILE, sliced at a tiny maxSliceBytes so
    // the scan genuinely cuts many doc-aligned slices, decoded on
    // executors, CRC-verified via the per-slice combine fold
    import org.apache.spark.sql.functions.{concat, lit}
    val big = spark.range(0, 1000)
      .select($"id", concat(lit("doc-"), $"id").as("name"), ($"id" % 7).as("grp"))
      .repartition(7)
    val small = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val path = tempFile("graft-dist-read", ".bin")
    val fos = new java.io.FileOutputStream(path.toFile)
    try MongoArchive.writeTables(fos, "testdb", Seq("bulk" -> big, "tiny" -> small))
    finally fos.close()

    val idx = MongoArchive.scanFile(path.toString, maxSliceBytes = 4096)
    assert(idx.metas.map(_.prefix) == Seq("testdb.bulk", "testdb.tiny"))
    val bulkSlices = idx.slices.filter(_.prefix == "testdb.bulk")
    assert(bulkSlices.size > 5, s"expected many slices, got ${bulkSlices.size}")
    // slices are doc-aligned and contiguous per collection body
    assert(bulkSlices.sortBy(_.seq).sliding(2).forall {
      case Seq(a, b) => a.offset + a.length == b.offset
      case _ => true
    })

    val frames = MongoArchive.readDistributed(spark, path.toString,
      schemas = Map("testdb.bulk" -> big.schema, "testdb.tiny" -> small.schema),
      maxSliceBytes = 4096)
    val back = frames("testdb.bulk")
    assert(back.rdd.getNumPartitions == bulkSlices.size)
    assert(back.orderBy($"id").collect().toSeq == big.orderBy($"id").collect().toSeq)
    assert(frames("testdb.tiny").orderBy($"k").collect().toSeq ==
      small.orderBy($"k").collect().toSeq)
    java.nio.file.Files.delete(path)
  }

  test("distributed read: corrupted body fails the combined CRC loudly") {
    val df = spark.range(0, 200).select($"id", ($"id" * 3).as("x"))
    val path = tempFile("graft-dist-crc", ".bin")
    val fos = new java.io.FileOutputStream(path.toFile)
    try MongoArchive.writeTables(fos, "db", Seq("c" -> df))
    finally fos.close()
    // flip one byte inside a body document (not the framing): the scan
    // still succeeds, the distributed CRC fold must not
    val idx = MongoArchive.scanFile(path.toString, maxSliceBytes = 1024)
    val victim = idx.slices.head
    val raf = new java.io.RandomAccessFile(path.toFile, "rw")
    try {
      val at = victim.offset + victim.length / 2
      raf.seek(at); val b = raf.read(); raf.seek(at); raf.write(b ^ 0x01)
    } finally raf.close()
    val e = intercept[IllegalArgumentException] {
      MongoArchive.readDistributed(spark, path.toString,
        schemas = Map("db.c" -> df.schema), maxSliceBytes = 1024)
    }
    assert(e.getMessage.contains("CRC mismatch"))
    java.nio.file.Files.delete(path)
  }

  test("distributed read: sliced schema inference matches single-pass inferSchema") {
    // heterogeneous docs spread across slices: a field that is all-null
    // in early docs and typed later must still infer its type (raw
    // per-slice schemas merged BEFORE null-field finalization)
    import org.apache.spark.sql.functions.when
    val df = spark.range(0, 300)
      .select($"id",
        when($"id" >= 200, $"id" * 1.5).as("lateDouble"),
        when($"id" < 100, concatWs($"id")).as("earlyString"))
      .repartition(5)
    val path = tempFile("graft-dist-infer", ".bin")
    val fos = new java.io.FileOutputStream(path.toFile)
    try MongoArchive.writeTables(fos, "db", Seq("c" -> df))
    finally fos.close()
    val bytes = java.nio.file.Files.readAllBytes(path)
    val singlePass = MongoArchive.inferSchema(
      MongoArchive.read(bytes).collections("db.c"))
    val distributed = MongoArchive.readDistributed(spark, path.toString,
      maxSliceBytes = 2048)("db.c").schema
    assert(distributed == singlePass,
      s"distributed ${distributed.treeString} vs single-pass ${singlePass.treeString}")
    java.nio.file.Files.delete(path)
  }

  private def concatWs(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.concat(org.apache.spark.sql.functions.lit("s"), c)

  test("distributed read: interleaved data blocks decode in block order") {
    // same concurrent_collections>1 shape as the in-memory test below,
    // but through scan → slices → executor decode: slices from BOTH
    // blocks must keep their cross-block order (seq) so the CRC fold
    // and the row order match the sequential reader
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x6d, 0xe2.toByte, 0x99.toByte, 0x81.toByte))
    out.write(Bson.encode(BDoc("concurrent_collections" -> BInt32(2),
      "version" -> BStr("0.1"), "server_version" -> BStr("n/a"), "tool_version" -> BStr("t"))))
    out.write(Bson.encode(BDoc("db" -> BStr("db"), "collection" -> BStr("c"),
      "metadata" -> BStr("{}"), "size" -> BInt32(0), "type" -> BStr("collection"))))
    val sep = Array[Byte](-1, -1, -1, -1)
    out.write(sep)
    def ns(eof: Boolean, crc: Long) = Bson.encode(BDoc(
      "db" -> BStr("db"), "collection" -> BStr("c"), "EOF" -> BBool(eof), "CRC" -> BInt64(crc)))
    val d1 = BDoc("i" -> BInt32(1))
    val d2 = BDoc("i" -> BInt32(2))
    val crc = Crc64.of(Bson.encode(d1) ++ Bson.encode(d2))
    out.write(ns(eof = false, 0)); out.write(Bson.encode(d1)); out.write(sep)
    out.write(ns(eof = false, 0)); out.write(Bson.encode(d2)); out.write(sep)
    out.write(ns(eof = true, crc)); out.write(sep)
    val path = tempFile("graft-dist-interleave", ".bin")
    java.nio.file.Files.write(path, out.toByteArray)
    val idx = MongoArchive.scanFile(path.toString, maxSliceBytes = 1)
    // one slice per (tiny) block, ordered across blocks
    assert(idx.slices.map(s => (s.prefix, s.seq)) == Seq(("db.c", 0), ("db.c", 1)))
    val back = MongoArchive.readDistributed(spark, path.toString, maxSliceBytes = 1)("db.c")
    assert(back.select($"i").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    java.nio.file.Files.delete(path)
  }

  test("archive read concatenates interleaved data blocks for one namespace") {
    // mongodump with concurrent_collections > 1 interleaves blocks;
    // hand-assemble: header, 1 metadata, then TWO data blocks for db.c
    // followed by its EOF namespace
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x6d, 0xe2.toByte, 0x99.toByte, 0x81.toByte))
    out.write(Bson.encode(BDoc("concurrent_collections" -> BInt32(2),
      "version" -> BStr("0.1"), "server_version" -> BStr("n/a"), "tool_version" -> BStr("t"))))
    out.write(Bson.encode(BDoc("db" -> BStr("db"), "collection" -> BStr("c"),
      "metadata" -> BStr("{}"), "size" -> BInt32(0), "type" -> BStr("collection"))))
    val sep = Array[Byte](-1, -1, -1, -1)
    out.write(sep)
    def ns(eof: Boolean, crc: Long) = Bson.encode(BDoc(
      "db" -> BStr("db"), "collection" -> BStr("c"), "EOF" -> BBool(eof), "CRC" -> BInt64(crc)))
    val d1 = BDoc("i" -> BInt32(1))
    val d2 = BDoc("i" -> BInt32(2))
    val crc = Crc64.of(Bson.encode(d1) ++ Bson.encode(d2))
    out.write(ns(eof = false, 0)); out.write(Bson.encode(d1)); out.write(sep)
    out.write(ns(eof = false, 0)); out.write(Bson.encode(d2)); out.write(sep)
    out.write(ns(eof = true, crc)); out.write(sep)
    val archive = MongoArchive.read(out.toByteArray)
    assert(archive.collections("db.c").map(_.getInt("i").get) == Vector(1, 2))
  }

  test("archive read fails loudly when truncated at a block boundary") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val two = MongoArchive.fromTables("db", Seq("c1" -> df, "c2" -> df))
    val bytes = MongoArchive.write(two)
    // cut cleanly after c1's blocks: find c2's first namespace doc and
    // truncate there — metadata still declares two collections
    val c2marker = Bson.encode(Bson.BDoc(
      "db" -> BStr("db"), "collection" -> BStr("c2"),
      "EOF" -> BBool(false), "CRC" -> BInt64(0L)))
    val cut = bytes.indexOfSlice(c2marker)
    assert(cut > 0)
    val err = intercept[IllegalArgumentException](MongoArchive.read(bytes.take(cut)))
    assert(err.getMessage.contains("truncated archive"))
  }

  test("archive read fails loudly on a corrupted document body") {
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    val bytes = MongoArchive.write(MongoArchive.fromTables("testdb", Seq("t" -> df)))
    // flip a byte inside the first body document ('alpha' string content):
    // the declared CRC no longer matches the body
    val idx = bytes.indexOfSlice("alpha".getBytes("UTF-8"))
    assert(idx > 0)
    val tampered = bytes.clone()
    tampered(idx) = 'X'.toByte
    val err = intercept[IllegalArgumentException](MongoArchive.read(tampered))
    assert(err.getMessage.contains("CRC mismatch"))
  }

  test("archive declared CRC equals CRC64-ECMA of the body bytes") {
    val df = Seq((7L, "x")).toDF("id", "name")
    val archive = MongoArchive.fromTables("db", Seq("c" -> df))
    val bodyBytes = archive.collections("db.c").flatMap(d => Bson.encode(d).toSeq).toArray
    assert(archive.crcs("db.c") == Crc64.of(bodyBytes))
  }

  test("inferSchema: field order, widening, nesting, and schema-free restore") {
    val docs = Vector(
      BDoc("id" -> BInt64(1), "score" -> BInt32(5), "tag" -> BStr("a"),
        "meta" -> BDoc("x" -> BInt64(1))),
      BDoc("id" -> BInt64(2), "score" -> BDouble(2.5), "extra" -> BBool(true),
        "meta" -> BDoc("y" -> BStr("z"))),
      BDoc("id" -> BInt64(3), "tag" -> BNull))
    val schema = MongoArchive.inferSchema(docs)
    assert(schema.fieldNames.toSeq == Seq("id", "score", "tag", "meta", "extra"))
    assert(schema("id").dataType.typeName == "long")
    assert(schema("score").dataType.typeName == "double") // long+double widens
    assert(schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSet == Set("x", "y"))
    // schema-free restore end-to-end
    val archive = MongoArchive.Archive(
      MongoArchive.Header(1, "0.1", "n/a", "t"),
      Seq(MongoArchive.CollectionMeta("db", "c", "{}", 0, "collection")),
      Map("db.c" -> docs), Map.empty)
    val back = MongoArchive.restore(spark,
      MongoArchive.read(MongoArchive.write(archive)))("db.c")
    assert(back.count() == 3)
    assert(back.filter($"score".isNull).count() == 1)
    assert(back.select($"meta.x".as("mx")).filter($"mx".isNotNull).count() == 1)
  }

  test("restore reproduces the source frame under its schema, nulls intact") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("flag", BooleanType)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "a", 0.5, true),
      org.apache.spark.sql.Row(2L, null, null, false))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val archive = MongoArchive.fromTables("db", Seq("t" -> df))
    val back = MongoArchive.restore(
      spark, MongoArchive.read(MongoArchive.write(archive)), Map("db.t" -> schema))("db.t")
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }
}
