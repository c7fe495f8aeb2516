package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: images / audio / video travel as opaque
  * `binary` columns with typed metadata, and per-item compute (decode,
  * resize, frame-sample, feature-extract) runs as partition-local batch
  * functions so codecs initialize once per task, not once per row.
  *
  * The actual codec calls are STUBBED (no image/audio libraries in this
  * container) behind [[Codecs]] with deterministic fakes — the Spark-side
  * contract (schemas, partitioning, batch shape) is real and tested, and a
  * production deployment swaps [[Codecs]] for real implementations.
  */
object Multimodal {

  case class Asset(asset_id: Long, media_type: String, content: Array[Byte],
      width: Option[Int], height: Option[Int], duration_ms: Option[Long])
  case class ImageFeature(asset_id: Long, width: Int, height: Int,
      feature: Array[Float])
  case class Frame(asset_id: Long, frame_idx: Int, content: Array[Byte])

  /** STUB codec layer. Deterministic fakes: byte statistics stand in for
    * decoded pixels so tests are reproducible. Swap for javax.imageio /
    * ffmpeg bindings in production. */
  object Codecs {
    /** Fake decode: (width, height) from metadata, 8-dim feature = byte
      * histogram moments. Deterministic in `content`. */
    def imageFeature(content: Array[Byte], width: Int, height: Int): Array[Float] = {
      val f = new Array[Float](8)
      if (content != null && content.nonEmpty) {
        var i = 0
        while (i < content.length) {
          f(content(i) & 0x7) += 1.0f
          i += 1
        }
        var j = 0
        while (j < 8) { f(j) /= content.length; j += 1 }
      }
      f
    }

    /** Fake resize: real implementations re-encode; the fake truncates /
      * pads to a deterministic target byte size. */
    def resize(content: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
      val target = math.max(1, targetW * targetH / 64)
      java.util.Arrays.copyOf(content, target)
    }

    /** Fake frame sampling: slice the byte stream into `n` chunks. */
    def sampleFrames(content: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (content == null || content.isEmpty) return Nil
      val stride = math.max(1, content.length / n)
      (0 until math.min(n, content.length)).map { i =>
        java.util.Arrays.copyOfRange(content, i * stride,
          math.min(content.length, i * stride + stride))
      }
    }
  }

  /** Feature extraction over an asset table: partition-local batches, one
    * codec context per partition (the `mapPartitions` boundary), output
    * columnar-friendly fixed-width vectors. */
  def extractImageFeatures(assets: Dataset[Asset]): Dataset[ImageFeature] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition codec init would go here
      it.filter(_.media_type == "image").map { a =>
        val w = a.width.getOrElse(0)
        val h = a.height.getOrElse(0)
        ImageFeature(a.asset_id, w, h, Codecs.imageFeature(a.content, w, h))
      }
    }
  }

  /** Batch resize for image rows: content re-encoded to the target
    * geometry (stub codec), metadata updated in the same pass. */
  def resizeImages(assets: Dataset[Asset], targetW: Int, targetH: Int): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        if (a.media_type == "image" && a.content != null)
          a.copy(content = Codecs.resize(a.content, targetW, targetH),
            width = Some(targetW), height = Some(targetH))
        else a
      }
    }
  }

  /** Frame sampling for video rows: one row per sampled frame. */
  def sampleVideoFrames(assets: Dataset[Asset], framesPerVideo: Int): Dataset[Frame] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.filter(_.media_type == "video").flatMap { a =>
        Codecs.sampleFrames(a.content, framesPerVideo).zipWithIndex.map {
          case (bytes, i) => Frame(a.asset_id, i, bytes)
        }
      }
    }
  }

  /** Average-hash code over a decoded feature histogram (the aHash
    * family every image-dedup pipeline starts from: bit i set iff cell i
    * exceeds the mean). Computed from [[extractImageFeatures]] output
    * plus the content byte length: the stub feature stores exact ratios,
    * so `round(ratio·len)` recovers the integer cell count and the
    * bit test `count·cells > len` is all-integer — engine-reproducible.
    *
    * The stub histogram has 8 cells → an 8-bit code, so buckets are
    * COARSE (fine for plumbing tests); a production phash is 64-bit with
    * sparse buckets, and pairs then flow through the standard
    * explode→bucket→pair candidate discipline of the text dedup family. */
  def aHashCode(feature: Column, byteLen: Column, cells: Int = 8): Column =
    (0 until cells).map { i =>
      when(round(element_at(feature, i + 1).cast("double") * byteLen)
        .cast("long") * cells > byteLen, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Deterministic synthetic asset table (for tests and the correctness
    * gate): content bytes derived from the documents table so no RNG is
    * involved. */
  def syntheticAssets(spark: SparkSession, docs: DataFrame): Dataset[Asset] = {
    import spark.implicits._
    docs.select(
        col("doc_id").as("asset_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("content"),
        (pmod(col("doc_id"), lit(64)) + 16).cast("int").as("width"),
        (pmod(col("doc_id"), lit(48)) + 16).cast("int").as("height"),
        (col("n_chars") * 10).as("duration_ms"))
      .as[Asset]
  }
}
