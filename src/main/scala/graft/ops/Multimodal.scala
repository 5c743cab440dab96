package graft.ops

import graft.Pins
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pluggable media codec — the ONE seam between the Spark-side
  * plumbing ([[Multimodal]]'s schemas, batching, partitioning) and the
  * actual byte decoding this container cannot perform (no image/audio
  * libraries installed). A deployment with javax.imageio / ffmpeg
  * bindings implements these three methods and passes a factory to the
  * operators — nothing else changes.
  *
  * Implementations are constructed PER PARTITION from the zero-arg
  * factory the operators take: real codecs hold native or otherwise
  * non-serializable state, so only the factory closure crosses the
  * serialization boundary, and setup cost amortizes over the
  * partition, not per row.
  */
trait MediaCodec {
  /** Decode one payload to (width, height, feature vector). */
  def decode(bytes: Array[Byte], mediaType: String): (Int, Int, Array[Double])

  /** Re-encode one payload at the requested dimensions. */
  def resize(bytes: Array[Byte], mediaType: String, width: Int, height: Int): Array[Byte]

  /** Demux one payload into its frames, in order. */
  def frames(bytes: Array[Byte], mediaType: String): Iterator[Array[Byte]]

  /** Decode one payload to its raw luminance plane (width, height,
    * row-major 0..255 values) — the input perceptual hashing needs
    * actual pixels for, unlike [[decode]]'s summary features.
    */
  def luminances(bytes: Array[Byte], mediaType: String): (Int, Int, Array[Int])

  /** Decode one audio payload to (channels, interleaved PCM samples) —
    * raw samples for acoustic fingerprinting, the audio analog of
    * [[luminances]]. Implementations without an audio path keep the
    * default (unsupported) rather than fabricating samples.
    */
  def samples(bytes: Array[Byte], mediaType: String): (Int, Array[Int]) =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} has no raw-sample audio path")
}

/** The honest environment-block stand-in: deterministic pseudo-outputs
  * derived from the payload bytes (md5 features, truncate/cycle
  * "resize", fixed-width byte windows as "frames"). Keeps every
  * operator testable end to end with the exact batch shape a real
  * codec drops into.
  */
final class StubCodec(frameBytes: Int = 256) extends MediaCodec {
  def decode(bytes: Array[Byte], mediaType: String): (Int, Int, Array[Double]) = {
    val d = MessageDigest.getInstance("MD5").digest(bytes)
    val width = ((d(0) & 0xff) % 64) + 1
    val height = ((d(1) & 0xff) % 64) + 1
    val feature = d.take(8).map(b => (b & 0xff) / 255.0)
    (width, height, feature)
  }

  def resize(bytes: Array[Byte], mediaType: String, width: Int, height: Int): Array[Byte] = {
    val n = math.max(1, width * height / 64)
    Array.tabulate(n)(i => if (bytes.isEmpty) 0.toByte else bytes(i % bytes.length))
  }

  def frames(bytes: Array[Byte], mediaType: String): Iterator[Array[Byte]] = {
    val nFrames = math.max(1, bytes.length / frameBytes)
    (0 until nFrames).iterator.map { f =>
      val from = f * frameBytes
      java.util.Arrays.copyOfRange(bytes, from, math.min(bytes.length, from + frameBytes))
    }
  }

  def luminances(bytes: Array[Byte], mediaType: String): (Int, Int, Array[Int]) = {
    // deterministic fake pixels: the payload bytes cycled into the
    // md5-derived dimensions — same shape a real decode produces
    val (w, h, _) = decode(bytes, mediaType)
    val lum = Array.tabulate(w * h)(i =>
      if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff)
    (w, h, lum)
  }

  override def samples(bytes: Array[Byte], mediaType: String): (Int, Array[Int]) =
    // deterministic fake PCM: payload bytes recentered to 16-bit range
    (1, bytes.map(b => ((b & 0xff) - 128) * 256))
}

/** Multimodal columns: image/audio/video as opaque `binary` cells with
  * typed metadata, processed in executor-side batches.
  *
  * The decode step is delegated to a [[MediaCodec]] (default: the
  * deterministic [[StubCodec]] — this container has no image/audio
  * codecs). Everything around it is the real production shape — binary
  * schema, batch iteration (the JVM analog of a Pandas-UDF batch),
  * per-partition codec construction, and typed output schemas — so a
  * real decoder drops in as one factory argument.
  */
object Multimodal {

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("checksum", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("feature", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Test harness: synthesize a binary media column from text (utf-8
    * bytes) with a media_type tag. At production scale this column comes
    * from parquet binary columns written by the collection pipeline.
    */
  def packText(df: DataFrame, id: Column, text: Column, mediaType: String): DataFrame =
    df.select(
      id.cast("long").as("media_id"),
      encode(text, "UTF-8").as("media"),
      lit(mediaType).as("media_type"))

  /** Test harness, real-image flavor: synthesize a genuine binary
    * Netpbm P5 (grayscale) payload per document whose raster IS the
    * text's bytes (one row of `octet_length(text)` pixels) — pure
    * binary-concat expressions, so the payload construction itself is
    * narrow and code-generated. [[NetpbmWavCodec]] decodes these as the
    * real images they are; the DuckDB oracle mirrors the pixel math
    * straight off the text bytes.
    */
  def packPnm(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(
      id.cast("long").as("media_id"),
      concat(
        encode(concat(lit("P5\n"), octet_length(text).cast("string"), lit(" 1\n255\n")), "UTF-8"),
        encode(text, "UTF-8")).as("media"),
      lit("image/x-portable-graymap").as("media_type"))

  /** Test harness, real-audio flavor: a genuine PCM-16 mono RIFF/WAVE
    * payload per document with samples derived from the text bytes
    * (`min((byte − 96) · 256, 32767)` — lowercase letters land
    * positive, the rest negative, so zero-crossing counts are
    * non-trivial; the clamp keeps bytes ≥ 0xE0 inside PCM-16 instead
    * of wrapping negative in the short cast). Binary
    * container encoding needs byte-level little-endian writes, hence
    * the mapPartitions producer (same executor-batch shape as the
    * decode operators).
    */
  def packWav(df: DataFrame, id: Column, text: Column, sampleRate: Int = 8000): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("media", BinaryType, nullable = false),
      StructField("media_type", StringType, nullable = false)))
    df.select(id.cast("long"), text.cast("string"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getString(1).getBytes("UTF-8")
          val samples = bytes.map(b => math.min(((b & 0xff) - 96) * 256, 32767))
          Row(r.getLong(0), NetpbmWavCodec.wavOf(samples, sampleRate), "audio/wav")
        }
      }(Encoders.row(schema))
  }

  /** Plumbing-level metadata as pure expressions (SQL-mirrorable):
    * byte size + checksum — what a manifest/catalog stage computes
    * without decoding.
    */
  def metadata(media: Column): Seq[Column] = Seq(
    octet_length(media).as("n_bytes"),
    md5(media).as("checksum"))

  /** Batched feature extraction over (media_id, media, media_type) rows.
    * `batchSize` mirrors a Pandas-UDF's arrow batch: the codec is
    * constructed once per partition (from `codec`) and fed fixed-size
    * groups — the shape a real vectorized decoder needs.
    */
  def decodeFeatures(df: DataFrame, batchSize: Int = 128,
                     codec: () => MediaCodec = () => new StubCodec()): DataFrame = {
    val enc = Encoders.row(featureSchema)
    df.select(col("media_id"), col("media"), col("media_type"))
      .mapPartitions { rows =>
        // per-partition codec construction — once, not per row
        val c = codec()
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val mtype = if (r.isNullAt(2)) null else r.getString(2)
            val checksum = md5Hex(bytes)
            val (w, h, feat) = c.decode(bytes, mtype)
            Row(id, mtype, bytes.length.toLong, checksum, w, h, feat.toSeq)
          }
        }
      }(enc)
  }

  private def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  val phashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("ph_hi", LongType, nullable = false),
    StructField("ph_lo", LongType, nullable = false)))

  /** Average-hash (aHash) perceptual fingerprint per image — the
    * classic 64-bit perceptual hash: sample the luminance plane on an
    * 8×8 nearest-neighbor grid, threshold each sample against the grid
    * mean, pack the 64 bits. Entirely integer arithmetic (the mean
    * compare is `s·64 > Σs` — no division, no floats), so the hash is
    * bit-reproducible across engines and platforms. Ships as two
    * 32-bit halves in longs (`ph_hi` = grid cells 0..31 MSB-first,
    * `ph_lo` = cells 32..63) — sign-free in every engine's BIGINT and
    * directly bandable for Hamming bucketing.
    *
    * Same executor-batch shape as [[decodeFeatures]]: per-partition
    * codec, narrow binary→skinny map, no shuffle.
    */
  def perceptualHash(df: DataFrame, batchSize: Int = 128,
                     codec: () => MediaCodec = () => new StubCodec()): DataFrame = {
    val enc = Encoders.row(phashSchema)
    df.select(col("media_id"), col("media"), col("media_type"))
      .mapPartitions { rows =>
        val c = codec()
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val bytes = r.getAs[Array[Byte]](1)
            val mtype = if (r.isNullAt(2)) null else r.getString(2)
            val (w, h, lum) = c.luminances(bytes, mtype)
            var hi = 0L; var lo = 0L
            if (w > 0 && h > 0) {
              val s = new Array[Long](64)
              var tot = 0L
              var i = 0
              while (i < 64) {
                val px = ((i % 8) * w) / 8
                val py = ((i / 8) * h) / 8
                s(i) = lum(py * w + px).toLong
                tot += s(i)
                i += 1
              }
              i = 0
              while (i < 32) {
                if (s(i) * 64 > tot) hi |= 1L << (31 - i)
                if (s(i + 32) * 64 > tot) lo |= 1L << (31 - i)
                i += 1
              }
            }
            Row(r.getLong(0), w, h, hi, lo)
          }
        }
      }(enc)
  }

  private val audioFpSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("ph_hi", LongType, nullable = false),
    StructField("ph_lo", LongType, nullable = false)))

  /** 64-bit acoustic fingerprint over the codec's RAW PCM samples —
    * the audio member of the dedup family (the published shape:
    * energy-profile bits, Haitsma & Kalker 2002 / Chromaprint's
    * simplified ancestor). The interleaved stream is cut into 64
    * contiguous frames (`[i·n/64, (i+1)·n/64)` — the exact integer
    * grid the phash resize uses), per-frame energy is Σ|sample|
    * (exact longs), and bit i is set when frame i's energy exceeds
    * the global mean (`e_i · 64 > Σe` — all-integer, no division, so
    * the hash is bit-reproducible across engines and partitionings).
    *
    * Columns are named `ph_hi`/`ph_lo` deliberately: the Hamming
    * banding machinery ([[phashPairs]], [[buildPhashIndex]],
    * [[incrementalPhashPairs]]) is hash-agnostic — one 64-bit code,
    * four 16-bit bands — so the whole image-dedup lifecycle (bucketed
    * pair join, persisted banded index, map-side incremental
    * admission) applies to audio unchanged.
    *
    * Narrow per-row work (decode + one pass over samples), no shuffle;
    * same per-partition codec construction as [[perceptualHash]].
    */
  def audioFingerprint(df: DataFrame, batchSize: Int = 128,
                       codec: () => MediaCodec = () => new StubCodec()): DataFrame = {
    val enc = Encoders.row(audioFpSchema)
    df.select(col("media_id"), col("media"), col("media_type"))
      .mapPartitions { rows =>
        val c = codec()
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val bytes = r.getAs[Array[Byte]](1)
            val mtype = if (r.isNullAt(2)) null else r.getString(2)
            val (_, s) = c.samples(bytes, mtype)
            val n = s.length
            var hi = 0L; var lo = 0L
            if (n > 0) {
              val e = new Array[Long](64)
              var tot = 0L
              var i = 0
              while (i < 64) {
                var j = (i.toLong * n / 64).toInt
                val end = ((i + 1).toLong * n / 64).toInt
                while (j < end) { e(i) += math.abs(s(j).toLong); j += 1 }
                tot += e(i)
                i += 1
              }
              i = 0
              while (i < 32) {
                if (e(i) * 64 > tot) hi |= 1L << (31 - i)
                if (e(i + 32) * 64 > tot) lo |= 1L << (31 - i)
                i += 1
              }
            }
            Row(r.getLong(0), n, hi, lo)
          }
        }
      }(enc)
  }

  /** Banded phash rows (doc, band, key, ph_hi, ph_lo) — the four
    * 16-bit band keys exploded per image. This is the PERSISTABLE
    * image-dedup index: an ingest job writes it once (parquet), and
    * every later increment probes it instead of re-hashing the corpus
    * (the [[graft.ops.Dedup.buildLshIndex]] lifecycle, pixels edition).
    */
  def buildPhashIndex(hashes: DataFrame, id: String = "media_id"): DataFrame =
    hashes.select(col(id).as("doc"), col("ph_hi"), col("ph_lo"),
        explode(array(
          struct(lit(0).as("band"), shiftrightunsigned(col("ph_hi"), 16).as("key")),
          struct(lit(1).as("band"), (col("ph_hi").bitwiseAND(lit(0xffffL))).as("key")),
          struct(lit(2).as("band"), shiftrightunsigned(col("ph_lo"), 16).as("key")),
          struct(lit(3).as("band"), (col("ph_lo").bitwiseAND(lit(0xffffL))).as("key")))).as("b"))
      .select(col("doc"), col("b.band").as("band"), col("b.key").as("key"),
        col("ph_hi"), col("ph_lo"))

  /** Incremental image admission: every Hamming-≤`maxDistance` pair
    * touching the batch — (batch × corpus) collisions against the
    * PERSISTED banded index plus the batch's internal pairs. The index
    * is probed MAP-SIDE ([[graft.ops.Dedup.probeIndex]]): a broadcast
    * of the batch's band keys restricts the index scan before the
    * join, so admitting a shard never re-shuffles the corpus-sized
    * index — O(batch) steady state, the same contract as the text and
    * embedding admission paths. Because 4-band bucketing is exhaustive
    * for distance ≤ 3, the result is EXACT (hash-oracled, not
    * precision-oracled).
    */
  def incrementalPhashPairs(corpusIndex: DataFrame, batchHashes: DataFrame,
                            id: String = "media_id",
                            maxDistance: Int = 3): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 3,
      s"banding is exhaustive only for maxDistance <= 3, got $maxDistance")
    // r20: pin the batch hash frame itself — it feeds the band build
    // AND the within-batch pair join, and unpinned each consumer re-ran
    // the media decode + hash mapPartitions pass over the batch
    val bh = Pins.checkpoint(batchHashes, "multimodal.batchHashes")
    val batchBands = Pins.checkpoint(buildPhashIndex(bh, id), "multimodal.batchBands")
    val probed = Dedup.probeIndex(
      corpusIndex.select(col("doc"), col("band"), col("key"),
        col("ph_hi"), col("ph_lo")),
      batchBands, Seq("band", "key"))
    val cross = probed.as("l").join(batchBands.as("r"), Seq("band", "key"))
      .filter(col("l.doc") =!= col("r.doc"))
      .withColumn("hamming",
        bit_count(col("l.ph_hi").bitwiseXOR(col("r.ph_hi"))) +
          bit_count(col("l.ph_lo").bitwiseXOR(col("r.ph_lo"))))
      .filter(col("hamming") <= maxDistance)
      .select(least(col("l.doc"), col("r.doc")).as("id_a"),
        greatest(col("l.doc"), col("r.doc")).as("id_b"), col("hamming"))
    val within = phashPairs(bh, id, maxDistance)
    cross.unionByName(within).dropDuplicates("id_a", "id_b")
  }

  /** Near-duplicate image pairs by perceptual-hash Hamming distance —
    * the image-side extension of the text dedup family: band the
    * 64-bit hash into four 16-bit keys, bucket-join on any shared
    * band, verify exact Hamming on the collisions. For
    * `maxDistance ≤ 3` the banding is EXHAUSTIVE by pigeonhole (≤3
    * differing bits cannot touch all 4 bands), so the result equals
    * the all-pairs join — which is what the DuckDB oracle computes.
    * Scale shape: the corpus never cross-joins; candidates are
    * equi-join collisions on skinny (band, key, id, hash) rows, the
    * [[graft.ops.Dedup.simhashPairs]] machinery applied to pixels.
    */
  def phashPairs(hashes: DataFrame, id: String = "media_id",
                 maxDistance: Int = 3): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 3,
      s"banding is exhaustive only for maxDistance <= 3, got $maxDistance")
    // one banding implementation: the pair join buckets with the SAME
    // explode buildPhashIndex persists, so the "exhaustive at ≤ 3"
    // invariant can't drift between the live join and the index it
    // probes
    // r20: pinned — both self-join sides hang off this frame, and the
    // exchange-reuse the repartition was betting on is the same runtime
    // gamble measured NOT firing elsewhere (executed-plan audit); each
    // replay re-ran the media decode + hash pass upstream. Skinny rows
    // (id, band, key, two longs).
    // r21: the media_id-keyed repartition is gone — the join keys on
    // (band, key), so it was a dead full exchange ahead of the pin
    // (ADVICE r20).
    val banded = Pins.checkpoint(buildPhashIndex(
      hashes.select(col(id).as("media_id"), col("ph_hi"), col("ph_lo"))), "multimodal.banded")
    banded.as("l").join(banded.as("r"), Seq("band", "key"))
      .filter(col("l.doc") < col("r.doc"))
      .withColumn("hamming",
        bit_count(col("l.ph_hi").bitwiseXOR(col("r.ph_hi"))) +
          bit_count(col("l.ph_lo").bitwiseXOR(col("r.ph_lo"))))
      .filter(col("hamming") <= maxDistance)
      .select(col("l.doc").as("id_a"), col("r.doc").as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  val resizedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = false),
    StructField("media_type", StringType, nullable = true),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Batched resize — binary→binary map, the second canonical media
    * op shape (same row count, transformed payload). The codec factory
    * supplies the re-encoder; the default [[StubCodec]] truncates/
    * cycles bytes deterministically.
    */
  def resize(df: DataFrame, width: Int, height: Int, batchSize: Int = 128,
             codec: () => MediaCodec = () => new StubCodec()): DataFrame = {
    val enc = Encoders.row(resizedSchema)
    df.select(col("media_id"), col("media"), col("media_type"))
      .mapPartitions { rows =>
        val c = codec()
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val bytes = r.getAs[Array[Byte]](1)
            val mtype = if (r.isNullAt(2)) null else r.getString(2)
            Row(r.getLong(0), c.resize(bytes, mtype, width, height), mtype, width, height)
          }
        }
      }(enc)
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame", BinaryType, nullable = false)))

  /** Frame sampling — the one-to-many media shape (video → every
    * `everyNth` frame as its own row), an executor-side generator like
    * a Pandas-UDF returning more rows than it got. The codec demuxes;
    * the default [[StubCodec]] emits fixed-width byte windows
    * (`frameBytes`) so frame count derives from payload length.
    */
  def frameSample(df: DataFrame, everyNth: Int, frameBytes: Int = 256, batchSize: Int = 128,
                  codec: Option[() => MediaCodec] = None): DataFrame = {
    require(everyNth > 0, "everyNth must be positive")
    // the default wires the operator's frameBytes into the stub — an
    // explicit factory owns its own framing
    val mk: () => MediaCodec = codec.getOrElse(() => new StubCodec(frameBytes))
    val enc = Encoders.row(frameSchema)
    df.select(col("media_id"), col("media"), col("media_type"))
      .mapPartitions { rows =>
        val c = mk()
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val mtype = if (r.isNullAt(2)) null else r.getString(2)
            c.frames(bytes, mtype).zipWithIndex.collect {
              case (frame, f) if f % everyNth == 0 => Row(id, f, frame)
            }
          }
        }
      }(enc)
  }
}
