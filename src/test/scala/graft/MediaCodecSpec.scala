package graft

import org.apache.spark.sql.functions._

import graft.ops.{MediaCodec, Multimodal, NetpbmWavCodec}

/** The REAL pure-JVM media codec: Netpbm P5/P6 images and RIFF/WAVE
  * PCM audio are pure byte formats — these tests decode, resize and
  * demux genuine payloads (not stub arithmetic) and pin the exact
  * integer semantics the DuckDB oracles mirror.
  */
class MediaCodecSpec extends SparkSpec {

  import spark.implicits._

  private def codec = new NetpbmWavCodec()

  private def p5(w: Int, h: Int, pixels: Array[Int]): Array[Byte] =
    (s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++ pixels.map(_.toByte)).toArray

  test("netpbm: P5 decode recovers dims, mean luminance and histogram") {
    val pixels = Array(0, 31, 32, 255) // bins 0, 0, 1, 7
    val (w, h, f) = codec.decode(p5(4, 1, pixels), "image/x-portable-graymap")
    assert(w == 4 && h == 1)
    assert(f(0) == (0 + 31 + 32 + 255).toDouble / 4.0)
    assert(f.drop(1).toSeq == Seq(2.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0))
  }

  test("netpbm: header grammar — comments and mixed whitespace parse") {
    val bytes = "P5 # binary graymap\n# a comment line\n 3\t1 #dims\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30)
    val (w, h, f) = codec.decode(bytes, null)
    assert(w == 3 && h == 1 && f(0) == 20.0)
  }

  test("netpbm: P6 luminance is the floored RGB mean; resize maps nearest-neighbor") {
    // 2×1 RGB: left pixel (10,20,31) -> lum 20 (floor 61/3), right (90,90,90) -> 90
    val rgb = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 31, 90, 90, 90)
    val (w, h, f) = codec.decode(rgb, null)
    assert(w == 2 && h == 1 && f(0) == (20 + 90).toDouble / 2.0)
    // upscale 2×1 -> 4×2: srcX = floor(x·2/4) = [0,0,1,1], rows duplicate
    val up = codec.resize(rgb, null, 4, 2)
    val (w2, h2, f2) = codec.decode(up, null)
    assert(w2 == 4 && h2 == 2)
    assert(f2(0) == (20 + 20 + 90 + 90) * 2 / 8.0)
  }

  test("netpbm: concatenated images demux as frames, each standalone") {
    val stream = p5(2, 1, Array(10, 20)) ++ p5(3, 1, Array(30, 40, 50))
    val fs = codec.frames(stream, null).toSeq
    assert(fs.length == 2)
    assert(codec.decode(fs(0), null)._1 == 2)
    val (w, _, f) = codec.decode(fs(1), null)
    assert(w == 3 && f(0) == 40.0)
  }

  test("wav: PCM-16 stereo decode — samples/channel, channels, exact stats") {
    // stereo, interleaved: L,R pairs; one sign flip in the interleaved stream
    val samples = Array(1000, -2000, 3000, -1000)
    val bytes = NetpbmWavCodec.wavOf(samples, sampleRate = 44100, channels = 2)
    val (perCh, ch, f) = codec.decode(bytes, "audio/wav")
    assert(perCh == 2 && ch == 2)
    assert(f(0) == (1000 - 2000 + 3000 - 1000).toDouble / 4.0)
    assert(f(1) == (1000 + 2000 + 3000 + 1000).toDouble / 4.0)
    assert(f(2) == 3.0) // every adjacent interleaved pair flips sign
    assert(f(3) == 44100.0)
  }

  test("wav: raw-sample path returns exact PCM; images refuse it") {
    val samples = Array(1000, -2000, 3000, -1000)
    val bytes = NetpbmWavCodec.wavOf(samples, sampleRate = 44100, channels = 2)
    val (ch, s) = codec.samples(bytes, "audio/wav")
    assert(ch == 2 && s.toSeq == samples.toSeq)
    intercept[IllegalArgumentException] {
      codec.samples(p5(2, 1, Array(1, 2)), null)
    }
  }

  test("spark: audio fingerprint is volume-invariant relative energy; identical payloads collide") {
    // two docs with the same text → identical WAV payloads → Hamming 0;
    // a third with different text diverges
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi upsilon tau")).toDF("doc_id", "text")
    val media = Multimodal.packWav(docs, col("doc_id"), col("text"))
    val mk: () => MediaCodec = () => new NetpbmWavCodec()
    val fp = Multimodal.audioFingerprint(media, codec = mk)
      .select($"media_id", $"ph_hi", $"ph_lo").as[(Long, Long, Long)]
      .collect().map { case (id, hi, lo) => id -> ((hi, lo)) }.toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    val pairs = Multimodal.phashPairs(
        Multimodal.audioFingerprint(media, codec = mk), maxDistance = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("wav: chunk walker skips unknown chunks and honors odd-size padding") {
    // hand-build: RIFF [ junk(3 bytes + pad) | fmt | data ]
    val base = NetpbmWavCodec.wavOf(Array(5, -5), sampleRate = 8000)
    val fmtAndData = java.util.Arrays.copyOfRange(base, 12, base.length)
    val junk = "junk".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 1, 2, 3, 0) // declared len 3, padded to 4
    val bb = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4 + junk.length + fmtAndData.length)
    val bytes = "RIFF".getBytes("US-ASCII") ++ bb.array() ++
      "WAVE".getBytes("US-ASCII") ++ junk ++ fmtAndData
    val (perCh, ch, f) = codec.decode(bytes, null)
    assert(perCh == 2 && ch == 1 && f(2) == 1.0)
  }

  test("wav: 8-bit unsigned PCM decodes offset-128") {
    // encode via resize path: build 8-bit container by hand
    val header = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    header.putInt(0x46464952).putInt(36 + 3).putInt(0x45564157)
      .putInt(0x20746d66).putInt(16).putShort(1).putShort(1).putInt(8000)
      .putInt(8000).putShort(1).putShort(8)
      .putInt(0x61746164).putInt(3)
    val bytes = header.array() ++ Array[Byte](0, 128.toByte, 255.toByte)
    val (n, ch, f) = codec.decode(bytes, null)
    assert(n == 3 && ch == 1)
    assert(f(0) == (-128 + 0 + 127).toDouble / 3.0)
  }

  test("wav: resize resamples nearest-neighbor and frames window the stream") {
    val samples = Array.tabulate(100)(i => if (i < 50) -100 else 100)
    val bytes = NetpbmWavCodec.wavOf(samples, sampleRate = 8000)
    val down = codec.resize(bytes, null, 10, 1)
    val (n, _, f) = codec.decode(down, null)
    assert(n == 10 && f(2) == 1.0) // one crossing survives the decimation
    val fs = new NetpbmWavCodec(frameSamples = 30).frames(bytes, null).toSeq
    assert(fs.length == 4) // 30+30+30+10
    assert(codec.decode(fs(3), null)._1 == 10)
  }

  test("codec: unrecognized payloads raise instead of fabricating output") {
    val e = intercept[IllegalArgumentException] {
      codec.decode("GIF89a....".getBytes("US-ASCII"), "image/gif")
    }
    assert(e.getMessage.contains("unrecognized payload"))
  }

  test("spark: packPnm payloads are real P5 images the codec decodes to text-byte stats") {
    val docs = Tables.documents(spark, sfDir).limit(25)
    val media = Multimodal.packPnm(docs, col("doc_id"), col("text"))
    val mk: () => MediaCodec = () => new NetpbmWavCodec()
    val decoded = Multimodal.decodeFeatures(media, codec = mk)
      .select($"media_id", $"width", $"height", element_at($"feature", 1).as("mean"))
      .as[(Long, Int, Int, Double)].collect()
        .map { case (id, w, h, m) => id -> (w, h, m) }.toMap
    val expect = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    assert(decoded.size == 25)
    expect.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val (w, h, m) = decoded(id)
      assert(w == bytes.length && h == 1)
      assert(m == bytes.map(_ & 0xff).map(_.toLong).sum.toDouble / bytes.length.toDouble)
    }
  }

  test("spark: packWav payloads are real RIFF containers with text-derived samples") {
    val docs = Tables.documents(spark, sfDir).limit(10)
    val media = Multimodal.packWav(docs, col("doc_id"), col("text"))
    val mk: () => MediaCodec = () => new NetpbmWavCodec()
    val decoded = Multimodal.decodeFeatures(media, codec = mk)
      .select($"media_id", $"width", element_at($"feature", 4).as("rate"))
      .as[(Long, Int, Double)].collect()
    val lens = docs.select($"doc_id", length($"text")).as[(Long, Int)].collect().toMap
    assert(decoded.length == 10)
    decoded.foreach { case (id, w, rate) =>
      assert(w == lens(id) && rate == 8000.0)
    }
  }

  test("phash: identical rasters hash identically; a local edit stays near") {
    val codec = new NetpbmWavCodec()
    def pnm(pixels: Array[Int]): Array[Byte] = {
      val header = s"P5\n${pixels.length} 1\n255\n".getBytes("US-ASCII")
      header ++ pixels.map(_.toByte)
    }
    def hash(pixels: Array[Int]): (Long, Long) = {
      val (w, h, lum) = codec.luminances(pnm(pixels), "image/x-portable-graymap")
      assert(w == pixels.length && h == 1)
      var hi = 0L; var lo = 0L
      val s = Array.tabulate(64)(i => lum(((i % 8) * w) / 8).toLong)
      val tot = s.sum
      for (i <- 0 until 32) {
        if (s(i) * 64 > tot) hi |= 1L << (31 - i)
        if (s(i + 32) * 64 > tot) lo |= 1L << (31 - i)
      }
      (hi, lo)
    }
    // a 64×1 image samples pixels 0,8,...,56 (one per grid column, all
    // 8 grid rows identical) — alternate the SAMPLED columns so the
    // threshold has real contrast
    val base = Array.tabulate(64)(i => if ((i / 8) % 2 == 0) 200 else 20)
    val (h1, l1) = hash(base)
    val (h2, l2) = hash(base.clone())
    assert((h1, l1) == (h2, l2), "identical images must hash identically")
    // flip one sampled column from bright to dark: exactly that
    // column's 8 grid cells cross the threshold
    val edited = base.clone(); edited(0) = 20
    val (h3, l3) = hash(edited)
    val dist = java.lang.Long.bitCount(h1 ^ h3) + java.lang.Long.bitCount(l1 ^ l3)
    assert(dist > 0 && dist <= 8, s"local edit moved $dist bits")
  }

  test("phash pairs: duplicate payloads collide at hamming 0; banding finds them") {
    // plant known duplicates: the same 30 texts under two id ranges —
    // the banded join must recover every planted (id, id+10000) pair
    val docs = Tables.documents(spark, sfDir).limit(30)
      .select($"doc_id", $"text")
    val planted = docs.union(docs.select($"doc_id" + 10000, $"text"))
    val media = Multimodal.packPnm(planted, col("doc_id"), col("text"))
    val hashes = Multimodal.perceptualHash(media, codec = () => new NetpbmWavCodec())
    val pairs = Multimodal.phashPairs(hashes, maxDistance = 3)
      .as[(Long, Long, Int)].collect()
    val pairMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    val ids = docs.select($"doc_id").as[Long].collect()
    ids.foreach { id =>
      assert(pairMap.contains((id, id + 10000)),
        s"planted dup pair ($id, ${id + 10000}) missing from phash pairs")
      assert(pairMap((id, id + 10000)) == 0, "identical payloads must be at distance 0")
    }
    assert(pairs.forall(_._3 <= 3))
  }

  test("phash: incremental admission probes the persisted index map-side and matches all-pairs") {
    import org.apache.spark.sql.functions.pmod
    val docs = Tables.documents(spark, sfDir).limit(200).select($"doc_id", $"text")
    val mk: () => MediaCodec = () => new NetpbmWavCodec()
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(10)) === 0)
    val dir = tempDir("graft-phidx-").toString
    Multimodal.buildPhashIndex(Multimodal.perceptualHash(
        Multimodal.packPnm(corpus, col("doc_id"), col("text")), codec = mk))
      .write.mode("overwrite").parquet(dir)
    // checkpoint the batch hashes so the index is the ONLY parquet
    // scan in the plan; pin AQE + auto-broadcast off — the probe's
    // explicit hint must hold on its own (same contract as the text
    // and embedding admission paths)
    val batchHashes = Multimodal.perceptualHash(
      Multimodal.packPnm(batch, col("doc_id"), col("text")), codec = mk).localCheckpoint(true)
    val saved = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pairs = Multimodal.incrementalPhashPairs(spark.read.parquet(dir), batchHashes)
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
      val plan = pairs.queryExecution.executedPlan
      assert(plan.collect { case f: FileSourceScanExec => f }.nonEmpty,
        s"expected the index parquet scan in the plan:\n$plan")
      def scanBelowWithoutJoin(p: SparkPlan): Boolean = p match {
        case _: FileSourceScanExec => true
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec | _: BroadcastHashJoinExec => false
        case other => other.children.exists(scanBelowWithoutJoin)
      }
      val shuffledIndex = plan.collect {
        case s: ShuffleExchangeExec if s.children.exists(scanBelowWithoutJoin) => s
      }
      assert(shuffledIndex.isEmpty, s"probed phash index side still exchanges:\n$plan")
      // parity: exactly the all-pairs verdict restricted to pairs
      // touching the batch (banding is exhaustive at distance ≤ 3)
      val all = Multimodal.phashPairs(Multimodal.perceptualHash(
          Multimodal.packPnm(docs, col("doc_id"), col("text")), codec = mk), maxDistance = 3)
        .as[(Long, Long, Int)].collect()
        .filter(p => p._1 % 10 == 0 || p._2 % 10 == 0).map(p => (p._1, p._2)).toSet
      val got = pairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got == all, s"admission diverged: ${got.diff(all)} / ${all.diff(got)}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", saved._1)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved._2)
    }
  }

  test("phash: wav payloads degrade to rescaled pcm, empty image to zero hash") {
    val codec = new NetpbmWavCodec()
    val (w, ch, lum) = codec.luminances(
      NetpbmWavCodec.wavOf(Array(-32768, 0, 32767), 8000), "audio/wav")
    assert(w == 3 && ch == 1)
    assert(lum.sameElements(Array(0, 128, 255)))
    val empty = "P5\n0 1\n255\n".getBytes("US-ASCII")
    val (we, he, le) = codec.luminances(empty, "image/x-portable-graymap")
    assert(we == 0 && he == 1 && le.isEmpty)
  }
}
