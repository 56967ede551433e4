package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines (SURVEY §7.2 M4):
  * image/audio/video payloads travel as opaque `binary` columns next
  * to a typed metadata struct, and decode/feature steps run as
  * partition-batched typed transforms.
  *
  * The Spark-side plumbing here — schema, encoders, `mapPartitions`
  * batch shape, partition sizing — is real and tested, and the codec
  * seam now has REAL implementations next to the stubs:
  * [[ImageIoCodec]] (JDK `javax.imageio` — actual PNG/BMP/GIF pixel
  * decode) and [[WavPcmCodec]] (JDK `javax.sound.sampled` — actual
  * WAV/PCM frame decode). The parquet FIXTURES carry text-derived
  * payload bytes, so the oracle-backed queries (q41/q42/q57) run the
  * deterministic [[HistogramCodec]] stub whose features DuckDB can
  * recompute from the bytes; MultimodalSpec drives the real codecs on
  * genuinely encoded images/audio it synthesizes in-test (PNG == BMP
  * content equality — the property no byte-level stub can pass).
  * Batch-iterator semantics are the JVM analog of the Arrow-batched
  * UDF pattern: one codec context per partition, amortized across
  * rows, never per-row setup.
  *
  * 100 TB posture: media rows are large, so the operators below never
  * shuffle payload bytes — features are extracted in place (narrow
  * dependency), and only the small feature/metadata projection ever
  * reaches a join or aggregation.
  */
object Multimodal {

  /** Typed media metadata carried beside the payload. */
  case class MediaMeta(
      mediaType: String, // "image" | "audio" | "video"
      width: Int,
      height: Int,
      sampleRateHz: Int,
      durationMs: Long)

  case class MediaRecord(id: Long, meta: MediaMeta, payload: Array[Byte])

  /** Extracted features: cheap scalars + a fixed-width embedding. */
  case class MediaFeatures(
      id: Long,
      mediaType: String,
      nBytes: Long,
      checksum: Long,
      embedding: Array[Float])

  /** THE codec seam: implement this one trait to plug a real decoder
    * (JNI/javacv/ffmpeg) into the pipeline — everything else
    * (schema, encoders, partition batching, feature queries) is
    * codec-agnostic. Implementations must be deterministic
    * (retry-safe) and Serializable (they ride in task closures). Two
    * independent stub implementations ship so the seam itself is
    * provably load-bearing: MultimodalSpec swaps them and pins that
    * only the embedding changes. */
  trait Codec extends Serializable {
    def name: String
    def embeddingDim: Int
    def decode(payload: Array[Byte]): Array[Float]
  }

  /** Byte-histogram stub codec (the default; q42's oracle recomputes
    * these features from the payload bytes in SQL). */
  object HistogramCodec extends Codec {
    val name = "stub-histogram"
    val embeddingDim: Int = MediaCodec.EmbeddingDim
    def decode(payload: Array[Byte]): Array[Float] =
      MediaCodec.decodeStub(payload)
  }

  /** REAL image codec through the seam — `javax.imageio` ships in
    * every JDK (PNG/BMP/GIF/JPEG), so "this container has no codec
    * library" stops being true for images: the payload is decoded to
    * actual pixels and the embedding is a 4×4 grid of mean luminance
    * (dim 16, matching [[MediaCodec.EmbeddingDim]]), each cell
    * averaged over its pixels in row-major scan order (deterministic
    * IEEE accumulation). Content, not bytes: MultimodalSpec pins that
    * the SAME image encoded as PNG and as BMP produces the SAME
    * embedding — a property no byte-level stub can have — while the
    * stub codecs produce different vectors for the two encodings.
    * Undecodable payloads fail LOUDLY (IllegalArgumentException), the
    * repo's standard posture; a tolerant pipeline screens payloads
    * first, it does not let a codec guess. */
  object ImageIoCodec extends Codec {
    val name = "imageio"
    val embeddingDim: Int = MediaCodec.EmbeddingDim
    def decode(payload: Array[Byte]): Array[Float] = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      require(img != null,
        "ImageIoCodec: payload is not a decodable image " +
          "(ImageIO found no reader for these bytes)")
      val w = img.getWidth; val h = img.getHeight
      val grid = 4 // 4x4 cells = 16 dims
      val sums = new Array[Double](embeddingDim)
      val counts = new Array[Long](embeddingDim)
      var y = 0
      while (y < h) {
        val cy = math.min(y * grid / h, grid - 1)
        var x = 0
        while (x < w) {
          val cx = math.min(x * grid / w, grid - 1)
          val rgb = img.getRGB(x, y)
          val lum = 0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
          val cell = cy * grid + cx
          sums(cell) += lum
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(embeddingDim)(c =>
        if (counts(c) == 0) 0f else (sums(c) / counts(c) / 255.0).toFloat)
    }
  }

  /** REAL audio codec through the same seam — `javax.sound.sampled`
    * (also JDK-built-in) parses the WAV container and hands back PCM
    * frames; the embedding is 16 per-segment RMS amplitudes of the
    * first channel, normalized to [0, 1]. Same loud-failure posture
    * as [[ImageIoCodec]]. */
  object WavPcmCodec extends Codec {
    val name = "wav-pcm"
    val embeddingDim: Int = MediaCodec.EmbeddingDim
    def decode(payload: Array[Byte]): Array[Float] = {
      val in =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch {
          case e: javax.sound.sampled.UnsupportedAudioFileException =>
            throw new IllegalArgumentException(
              "WavPcmCodec: payload is not a decodable audio stream", e)
          // a recognized RIFF header with truncated/corrupt chunks
          // throws IOException — same bad-data class, same loud
          // contract (callers screen on IllegalArgumentException)
          case e: java.io.IOException =>
            throw new IllegalArgumentException(
              "WavPcmCodec: payload is not a decodable audio stream", e)
        }
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16 &&
          fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"WavPcmCodec handles 16-bit signed PCM, got $fmt")
        val bytes = in.readAllBytes()
        val channels = fmt.getChannels
        val frameBytes = 2 * channels
        val nFrames = bytes.length / frameBytes
        val samples = new Array[Double](math.max(nFrames, 0))
        var f = 0
        while (f < nFrames) {
          val o = f * frameBytes // first channel only
          val s =
            if (fmt.isBigEndian)
              ((bytes(o) << 8) | (bytes(o + 1) & 0xff)).toShort
            else ((bytes(o + 1) << 8) | (bytes(o) & 0xff)).toShort
          samples(f) = s.toDouble / 32768.0
          f += 1
        }
        Array.tabulate(embeddingDim) { seg =>
          val from = (seg.toLong * nFrames / embeddingDim).toInt
          val until = ((seg + 1).toLong * nFrames / embeddingDim).toInt
          if (until <= from) 0f
          else {
            var ss = 0.0
            var i = from
            while (i < until) { ss += samples(i) * samples(i); i += 1 }
            math.sqrt(ss / (until - from)).toFloat
          }
        }
      } finally in.close()
    }
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint of an image
    * payload — the content-addressed key image dedup shuffles on, the
    * way text dedup shuffles on a digest ([[Dedup]]). Decode through
    * the same JDK `ImageIO` seam as [[ImageIoCodec]], downsample to an
    * 8×8 grid of mean luminances (row-major cells, each cell averaged
    * over its pixels in scan order — deterministic IEEE
    * accumulation), then bit i is set iff cell i's luminance is >= the
    * 64-cell mean (cells summed in cell order). Re-encodes of the
    * same pixels (PNG vs BMP) therefore hash identically, and
    * near-identical images land within small Hamming distance — the
    * standard aHash property.
    *
    * Scale shape: one bounded-size Long per image; grouping by it is
    * an ordinary digest-keyed shuffle, payloads never move twice.
    * Undecodable payloads fail loudly like every codec here. */
  def averageHash64(payload: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null,
      "averageHash64: payload is not a decodable image " +
        "(ImageIO found no reader for these bytes)")
    val w = img.getWidth; val h = img.getHeight
    val grid = 8
    val sums = new Array[Double](grid * grid)
    val counts = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val cy = math.min(y * grid / h, grid - 1)
      var x = 0
      while (x < w) {
        val cx = math.min(x * grid / w, grid - 1)
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        val cell = cy * grid + cx
        sums(cell) += lum
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    val lums = Array.tabulate(grid * grid)(c =>
      if (counts(c) == 0) 0.0 else sums(c) / counts(c))
    var tot = 0.0
    var i = 0
    while (i < lums.length) { tot += lums(i); i += 1 }
    val mean = tot / lums.length
    var hash = 0L
    i = 0
    while (i < lums.length) {
      if (lums(i) >= mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** 64-bit audio fingerprint — the audio twin of [[averageHash64]]:
    * decode through the production [[WavPcmCodec]] (16 per-segment
    * RMS amplitudes off real PCM frames), quantize each RMS to 4
    * bits (floor(rms·512), clamped to 15 — full scale for speech-
    * level signals), pack little-segment-first into one Long.
    * Byte-identical audio fingerprints identically regardless of
    * container framing; small amplitude jitter moves at most the
    * low quantization bits — the robustness/selectivity tradeoff
    * every acoustic fingerprint makes. Dedup = group by the Long,
    * the digest-keyed shuffle discipline; payloads never move. */
  def audioFingerprint64(payload: Array[Byte]): Long = {
    val rms = WavPcmCodec.decode(payload)
    require(rms.length == MediaCodec.EmbeddingDim,
      s"expected ${MediaCodec.EmbeddingDim} segments, got ${rms.length}")
    var fp = 0L
    var i = 0
    while (i < rms.length) {
      val q = math.min(15L, math.floor(rms(i).toDouble * 512.0).toLong)
      fp |= (q & 0xfL) << (4 * i)
      i += 1
    }
    fp
  }

  /** Deterministic fakes for the non-decode stamps + the default stub
    * decode ([[HistogramCodec]] delegates here). */
  object MediaCodec {
    val EmbeddingDim = 16

    /** STUB decode: "decodes" a payload into a byte-histogram-derived
      * embedding — deterministic, schema-true, obviously not a real
      * codec. */
    def decodeStub(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](EmbeddingDim)
      var i = 0
      while (i < payload.length) {
        hist((payload(i) & 0xff) % EmbeddingDim) += 1f
        i += 1
      }
      val n = math.max(payload.length, 1).toFloat
      hist.map(_ / n)
    }

    /** CRC-ish rolling checksum (polynomial 31 hash over bytes) —
      * the integrity stamp a real pipeline would compute at ingest. */
    def checksum(payload: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < payload.length) { h = 31 * h + (payload(i) & 0xff); i += 1 }
      h
    }

    /** STUB frame sampler: n evenly spaced frame timestamps (ms). A
      * real implementation seeks the container; offsets are identical. */
    def sampleFrameOffsets(durationMs: Long, n: Int): Seq[Long] =
      if (n <= 0 || durationMs <= 0) Seq.empty
      else (0 until n).map(i => i * durationMs / n)
  }

  /** Decode + feature-extract, batched per partition: the codec
    * "context" (real impl: decoder/JNI handle) is created once per
    * partition and reused — the batch shape that matters when each
    * decode carries JNI/model-load cost. `codec` is the seam; the
    * default is the histogram stub. */
  def extractFeatures(
      media: Dataset[MediaRecord],
      codec: Codec = HistogramCodec): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec context goes here (real impl: decoder init)
      it.map { rec =>
        MediaFeatures(
          id = rec.id,
          mediaType = rec.meta.mediaType,
          nBytes = rec.payload.length.toLong,
          checksum = MediaCodec.checksum(rec.payload),
          embedding = codec.decode(rec.payload))
      }
    }
  }

  /** Video → sampled frame rows (id, frameIdx, offsetMs): the fan-out
    * step before per-frame feature extraction. flatMap = narrow, so
    * a 100 TB video table fans out without any shuffle. */
  def sampleFrames(
      media: Dataset[MediaRecord], framesPerVideo: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.meta.mediaType == "video")
      .flatMap { rec =>
        MediaCodec.sampleFrameOffsets(rec.meta.durationMs, framesPerVideo)
          .zipWithIndex
          .map { case (off, i) => (rec.id, i, off) }
      }
      .toDF("id", "frame_idx", "offset_ms")
  }

  /** Fixture adapter: manufacture a deterministic media table from the
    * `documents` fixture (payload = UTF-8 bytes of the text; metadata
    * derived from doc fields). Lets every multimodal code path run and
    * be oracle-checked without binary fixtures. */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("id"),
      struct(
        // deterministic 3-way type split by id
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("mediaType"),
        (col("doc_id") % 640 + 1).cast("int").as("width"),
        (col("doc_id") % 480 + 1).cast("int").as("height"),
        lit(16000).as("sampleRateHz"),
        (col("n_chars") * 10).cast("long").as("durationMs")).as("meta"),
      encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
  }
}
