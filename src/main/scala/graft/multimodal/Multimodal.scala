package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline: image/audio/video as
  * opaque `binary` columns with typed metadata, plus decode / feature /
  * resize / frame-sample operators.
  *
  * The Spark-side plumbing — schema, partition-preserving `mapPartitions`
  * (the Scala analog of `mapInPandas`: one iterator per batch, no per-row
  * serialization points), deterministic batch shapes — is real, and so is
  * the codec: [[ImageCodec]] decodes PNG/JPEG/BMP/GIF through the JDK's
  * `javax.imageio.ImageIO` (zero external dependencies) and encodes
  * grayscale PNG for round-trip tests and fixtures.
  */
object Multimodal {

  /** One media object: payload + typed metadata (never decode to read
    * metadata — it is first-class columnar data, filterable/prunable at the
    * parquet scan). */
  case class MediaRecord(
      mediaId: Long,
      kind: String, // "image" | "audio" | "video"
      bytes: Array[Byte],
      width: Int,
      height: Int,
      channels: Int,
      sampleRate: Int, // audio/video only; 0 otherwise
      nFrames: Int) // video only; 1 for image

  case class DecodedImage(
      mediaId: Long,
      width: Int,
      height: Int,
      pixels: Array[Float]) // row-major grayscale

  case class ImageFeatures(
      mediaId: Long,
      meanPixel: Double,
      maxPixel: Double,
      nonZeroRatio: Double)

  /** ================= REAL CODEC =================
    * JDK-only image codec. Decode accepts any format the JVM's registered
    * `ImageIO` readers handle (PNG, JPEG, BMP, GIF, WBMP out of the box);
    * grayscale conversion is defined as: single-band rasters read their
    * band directly (no colorspace round-trip — `getRGB` on TYPE_BYTE_GRAY
    * applies a gamma-like transform that would corrupt values), multi-band
    * images use ITU-R BT.601 luma (0.299 R + 0.587 G + 0.114 B). Encode
    * writes 8-bit grayscale PNG (lossless), so encode∘decode is identity
    * for pixel values in [0, 255]. */
  object ImageCodec {

    // Round 21 (guide §1.2 "per-task work"): ImageIO's default stream cache
    // spools EVERY encode and decode through a temp FILE on disk
    // (FileCache{Input,Output}Stream) — for the 64-byte thumbnails this codec
    // moves, that is two file creations per round trip and ~7× the wall
    // (measured: 15k round trips 4.46 s → 0.60 s with the memory cache,
    // BENCH_NOTES "Retired probes"). Output bytes are identical; this only
    // changes WHERE ImageIO buffers. Set once at class init — executors
    // initialize the object at first task use.
    javax.imageio.ImageIO.setUseCache(false)

    /** Encode row-major grayscale floats (clamped to [0,255]) as PNG. */
    def encodePng(pixels: Array[Float], width: Int, height: Int): Array[Byte] = {
      require(pixels.length == width * height,
        s"pixel count ${pixels.length} != $width x $height")
      val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val v = pixels(y * width + x)
          raster.setSample(x, y, 0, math.max(0, math.min(255, math.round(v))))
          x += 1
        }
        y += 1
      }
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** Decode image bytes to (width, height, row-major grayscale floats).
      * Dimensions come from the decoded stream, never from caller metadata.
      * Throws `IllegalArgumentException` on undecodable bytes — both when
      * no registered reader matches AND when a matched reader fails on a
      * corrupt stream (ImageIO surfaces that as IOException; callers get
      * one loud, documented failure type either way). */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
      val img =
        try ImageIO.read(new ByteArrayInputStream(bytes))
        catch {
          case e: java.io.IOException =>
            throw new IllegalArgumentException(s"corrupt image stream: ${e.getMessage}", e)
        }
      require(img != null, "undecodable image bytes (no ImageIO reader matched)")
      val w = img.getWidth
      val h = img.getHeight
      val out = new Array[Float](w * h)
      if (img.getRaster.getNumBands == 1) {
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            out(y * w + x) = raster.getSample(x, y, 0).toFloat
            x += 1
          }
          y += 1
        }
      } else {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff
            val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            out(y * w + x) = (0.299f * r + 0.587f * g + 0.114f * b)
            x += 1
          }
          y += 1
        }
      }
      (w, h, out)
    }
  }

  /** Decode stage: partition-preserving, batch-shaped like mapInPandas —
    * one closure invocation per partition iterator, pipelined. Emitted
    * dimensions are the *decoded* ones (the payload is the truth; metadata
    * columns are planning hints). */
  def decodeImages(media: Dataset[MediaRecord]): Dataset[DecodedImage] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "image").as[MediaRecord]
      .mapPartitions { it =>
        it.map { m =>
          val (w, h, px) = ImageCodec.decode(m.bytes)
          DecodedImage(m.mediaId, w, h, px)
        }
      }
  }

  /** Feature extraction over decoded pixels. */
  def imageFeatures(decoded: Dataset[DecodedImage]): Dataset[ImageFeatures] = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { it =>
      it.map { d =>
        val n = d.pixels.length
        var sum = 0.0; var mx = Float.MinValue; var nz = 0
        var i = 0
        while (i < n) {
          val v = d.pixels(i)
          sum += v; if (v > mx) mx = v; if (v != 0f) nz += 1
          i += 1
        }
        ImageFeatures(d.mediaId, if (n == 0) 0.0 else sum / n, mx.toDouble,
          if (n == 0) 0.0 else nz.toDouble / n)
      }
    }
  }

  /** Nearest-neighbor resize — pure array math on the decoded form. */
  def resize(decoded: Dataset[DecodedImage], newW: Int, newH: Int): Dataset[DecodedImage] = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions { it =>
      it.map { d =>
        val out = new Array[Float](newW * newH)
        var y = 0
        while (y < newH) {
          val sy = math.min(d.height - 1, y * d.height / newH)
          var x = 0
          while (x < newW) {
            val sx = math.min(d.width - 1, x * d.width / newW)
            out(y * newW + x) = d.pixels(sy * d.width + sx)
            x += 1
          }
          y += 1
        }
        DecodedImage(d.mediaId, newW, newH, out)
      }
    }
  }

  /** Frame sampling for video payloads: every k-th frame index, metadata
    * only (decode happens downstream per selected frame). Zero-frame
    * payloads are dropped, not errors — `sequence(0, -1)` would throw. */
  def sampleFrames(media: DataFrame, everyK: Int): DataFrame =
    media.filter(col("kind") === "video" && col("nFrames") > 0)
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("nFrames") - 1, lit(everyK))))
}
