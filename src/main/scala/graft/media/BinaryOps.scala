package graft.media

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.{Corpus, Det}

/** Multimodal columns: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, processed by a pooled per-executor
  * codec inside `mapPartitions` (same pool pattern as the OCR stage).
  *
  * This container ships no media libraries, so the DECODE step is a
  * clearly-marked deterministic stub (`StubCodec`) — a pure function of
  * the payload bytes — while everything Spark-side is real and tested:
  * the asset schema, the binary column plumbing, per-partition batch
  * shape, pooled-codec lifecycle, and the derived feature columns. A
  * production build swaps `StubCodec` for a JNI/ffmpeg/PIL-equivalent
  * behind the same `MediaCodec` trait.
  */
object BinaryOps {

  /** One media asset row: (media_ref, mime, content: binary). */
  final case class Asset(media_ref: String, mime: String, content: Array[Byte])

  final case class Decoded(
      media_ref: String, mime: String, n_bytes: Int,
      width: Int, height: Int, n_frames: Int, ok: Boolean)

  final case class Frame(media_ref: String, frame_idx: Int,
      feature: Array[Float])

  trait MediaCodec extends Serializable {
    def decode(mime: String, bytes: Array[Byte]): Decoded
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte]
    def frameFeature(bytes: Array[Byte], frameIdx: Int, dim: Int): Array[Float]
    /** Decode one frame to a w x h row-major grayscale raster (0-255)
      * — the perceptual-hash input (dHash wants 9 x 8).
      */
    def grayFrame(bytes: Array[Byte], frameIdx: Int, w: Int, h: Int): Array[Int]
  }

  /** STUB: deterministic fake decode — metadata and features are pure
    * functions of the payload bytes. Replace with a real codec in
    * production; the Spark plumbing does not change.
    */
  object StubCodec extends MediaCodec {
    private def h(bytes: Array[Byte], salt: Int): Long = {
      var acc = 1125899906842597L ^ salt
      var i = 0
      while (i < bytes.length) { acc = acc * 31 + bytes(i); i += 1 }
      acc & 0x7fffffffL
    }
    override def decode(mime: String, bytes: Array[Byte]): Decoded = Decoded(
      "", mime, bytes.length,
      (320 + h(bytes, 1) % 1600).toInt, (240 + h(bytes, 2) % 1200).toInt,
      if (mime.startsWith("video/")) (1 + h(bytes, 3) % 120).toInt else 1,
      ok = bytes.nonEmpty)
    override def resize(bytes: Array[Byte], w: Int, h0: Int): Array[Byte] = {
      // stub resample: nearest-neighbor over the byte stream, with the
      // target length snapped DOWN to a multiple of the 72-pixel
      // perceptual raster when it fits — the stub analog of "resizing
      // preserves image content": a snapped downscale reproduces
      // grayFrame's sample grid exactly, so the perceptual hash of a
      // resized copy matches the original (DHashSpec pins it). Sizes
      // below 72 are sub-perceptual thumbnails (documented loss).
      val n0 = math.max(8, math.min(bytes.length, (w.toLong * h0 / 256).toInt))
      val n = if (n0 >= 72) (n0 / 72) * 72 else n0
      if (bytes.isEmpty) new Array[Byte](n)
      else Array.tabulate(n)(i => bytes(((i.toLong * bytes.length) / n).toInt))
    }
    override def frameFeature(bytes: Array[Byte], frameIdx: Int, dim: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        ((h(bytes, 100 + frameIdx * 131 + d) % 2000) - 1000) / 1000.0f)
    override def grayFrame(bytes: Array[Byte], frameIdx: Int, w: Int,
        h0: Int): Array[Int] = {
      // nearest-neighbor sample of the byte stream onto the w*h raster
      // (unsigned view); video frames shift the sample origin so frames
      // differ. Pure function of (bytes, frameIdx) — the Python mirror
      // replicates it digit-for-digit (gen_media_expected.py).
      val n = w * h0
      val len = bytes.length
      if (len == 0) new Array[Int](n)
      else Array.tabulate(n) { p =>
        val idx = ((p.toLong * len) / n).toInt
        bytes((idx + frameIdx * 7) % len) & 0xff
      }
    }
  }

  object CodecPool {
    @volatile private var factory: () => MediaCodec = () => StubCodec
    @transient lazy val codec: MediaCodec = factory()
    def install(f: () => MediaCodec): Unit = { factory = f }
  }

  /** Deterministic synthetic assets table for the corpus' media refs
    * (the sandbox has no binary fixtures; payload bytes are a pure
    * function of the ref, so regenerating is byte-identical).
    */
  def assetsFor(docs: Dataset[graft.schema.DocRow]): Dataset[Asset] = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => d.spans.filter(_.kind == "media").map { s =>
      val (i, k, _) = Corpus.parseMediaRef(s.media_ref)
      val mime = Seq("image/png", "image/jpeg", "video/mp4", "audio/wav")(
        (Det.h(i, k, "mime") % 4).toInt)
      val n = 64 + (Det.h(i, k, "len") % 192).toInt
      val bytes = Array.tabulate(n)(j => (Det.h(i, k, j, "b") % 256).toByte)
      Asset(s.media_ref, mime, bytes)
    })
  }

  /** Decode metadata per asset (pooled codec, batched per partition). */
  def decodeAll(assets: Dataset[Asset]): Dataset[Decoded] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val codec = CodecPool.codec
      it.map(a => codec.decode(a.mime, a.content).copy(media_ref = a.media_ref))
    }
  }

  /** Resize image assets to a bounding box (stubbed decode, real plumbing). */
  def resizeImages(assets: Dataset[Asset], maxSide: Int): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val codec = CodecPool.codec
      it.map { a =>
        if (a.mime.startsWith("image/"))
          a.copy(content = codec.resize(a.content, maxSide, maxSide))
        else a
      }
    }
  }

  /** Sample up to `maxFrames` evenly-spaced frames per video and emit a
    * feature vector per frame — the row-explosion shape a video
    * feature-extraction pipeline has at scale (per-frame rows hash
    * evenly across the cluster).
    */
  def sampleFrames(assets: Dataset[Asset], maxFrames: Int = 4,
      dim: Int = 16): Dataset[Frame] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val codec = CodecPool.codec
      it.flatMap { a =>
        val d = codec.decode(a.mime, a.content)
        val n = math.min(maxFrames, d.n_frames)
        val step = math.max(1, d.n_frames / math.max(1, n))
        (0 until n).iterator.map { j =>
          Frame(a.media_ref, j * step, codec.frameFeature(a.content, j * step, dim))
        }
      }
    }
  }

  final case class GrayFrame(media_ref: String, frame_idx: Int,
      gray: Array[Int])

  /** Sample up to `maxFrames` evenly-spaced frames per asset as 9x8
    * grayscale rasters (pooled codec) — the perceptual-hash input.
    */
  def sampleGrayFrames(assets: Dataset[Asset],
      maxFrames: Int = 4): Dataset[GrayFrame] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val codec = CodecPool.codec
      it.flatMap { a =>
        val d = codec.decode(a.mime, a.content)
        val n = math.min(maxFrames, d.n_frames)
        val step = math.max(1, d.n_frames / math.max(1, n))
        (0 until n).iterator.map { j =>
          GrayFrame(a.media_ref, j * step,
            codec.grayFrame(a.content, j * step, 9, 8))
        }
      }
    }
  }

  /** Perceptual-hash media near-dup: dHash64 over codec-decoded 9x8
    * grayscale frames, banded-Hamming self-join
    * ([[graft.analysis.TextOps.bandedHammingPairs]] — the simhash
    * machinery on a "media_ref#frame_idx" key, same pigeonhole recall
    * guarantee and hot-bucket salt). The standard first-line image
    * dedup: catches re-encoded (low-bit pixel noise) and resized
    * copies a byte-equality check misses, because gradient SIGNS
    * survive those edits — with the stub codec, snapped resizes are
    * exactly hash-preserving and byte noise costs a few bits
    * (BinaryOpsSpec pins both; only frame 0 is resize-exact, so video
    * re-dedup at other frames is approximate). Defaults: 8 bands of 8
    * bits, maxHamming 7 (recall 1.0 under the pigeonhole bound).
    */
  def dhashDupPairs(assets: Dataset[Asset], maxFrames: Int = 4,
      bands: Int = 8, maxHamming: Int = 7, maxBucket: Int = 4096,
      staging: Option[String] = None): DataFrame = {
    val hashes = sampleGrayFrames(assets, maxFrames).toDF()
      .select(concat(col("media_ref"), lit("#"), col("frame_idx")).as("id"),
        DHash64.of(col("gray")).as("sh"))
    graft.analysis.TextOps.bandedHammingPairs(hashes, col("id"), col("sh"),
      bands, maxHamming, maxBucket, staging,
      stagingName = "dhash_base")
  }

  /** Multimodal near-dup: frame features feed the SAME sign-LSH
    * bucketed cosine self-join the text-embedding path uses — including
    * its hot-bucket bound (VectorOps.cosineDupPairs). Mirrored or
    * re-hosted media decode to identical payload bytes, so their frame
    * features are identical and every copy is caught with certainty;
    * near-copies (re-encodes) land by cosine once a real codec supplies
    * real features. Frame identity is "media_ref#frame_idx".
    */
  def frameDupPairs(assets: Dataset[Asset], minCos: Double = 0.999,
      maxFrames: Int = 4, dim: Int = 16,
      maxBucket: Int = 4096): DataFrame = {
    val frames = sampleFrames(assets, maxFrames, dim).toDF()
      .select(concat(col("media_ref"), lit("#"), col("frame_idx")).as("vec_id"),
        col("feature").as("embedding"))
    graft.analysis.VectorOps.cosineDupPairs(frames, minCos,
      maxBucket = maxBucket)
  }

  /** Full demo: corpus -> assets -> decode + frame features, joined. */
  def mediaPipeline(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    // barrier: the decode and the frame sampling both read the assets
    val assets = graft.analysis.Staging.materialize(
      assetsFor(Corpus.generate(spark, nDocs)).toDF(), None, "media_assets").as[Asset]
    val meta = decodeAll(assets).toDF()
    val frames = sampleFrames(assets).toDF()
      .groupBy("media_ref").agg(count(lit(1)).as("n_sampled_frames"))
    meta.join(frames, Seq("media_ref"), "left")
      .withColumn("n_sampled_frames", coalesce(col("n_sampled_frames"), lit(0L)))
  }
}
