package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` with typed
  * metadata. The Spark-side plumbing — schema, partitioning, batch shape,
  * frame fan-out and the join back to the docs — is real; the per-object
  * feature is a deterministic stub (a byte fold plus fake dims, see
  * [[decodeStub]]). No media is decoded: the extraction contract only
  * needs every `media_ref` to pass through in document order.
  *
  * Scale notes: media bytes never pass through a shuffle — features are
  * computed in the scan stage (`mapPartitions` directly over the source
  * partitions) and only the small feature vectors flow downstream.
  */
object MediaJob {

  /** media table schema: one row per media object. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_ref", StringType, nullable = false),
    StructField("doc_id", StringType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  final case class MediaFeature(
      media_ref: String,
      doc_id: String,
      media_type: String,
      byte_len: Long,
      // image: width/height/channels; audio: sample-rate/samples; video: frames
      dim1: Int, dim2: Int, dim3: Int,
      feature: Array[Float])

  /** Per-record cap on frame-sampling fan-out. A frame count is untrusted
    * per-record metadata (a crafted record can carry 2^31-1 frames);
    * without a bound, one such record explodes into ~350M rows inside a
    * single task. */
  private[graft] val maxSampledFrames: Int = 4096

  /** ============================ STUB ================================
    * Deterministic fake decode: a 64-bit polynomial (FNV-ish) fold of the
    * bytes gives the 16-dim feature (8-bit slices of the fold scaled to
    * [-0.5, 0.5)); the dims are faked from the same fold — 64..1087 for
    * dim1/dim2 and 3 channels (image), 1 channel (audio) or 24 frames
    * (video) for dim3. Total on any input: null bytes fold as empty, and
    * every dim is non-negative.
    * ================================================================== */
  def decodeStub(mediaType: String, bytes: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val b = if (bytes == null) Array.empty[Byte] else bytes
    var h = 1125899906842597L // deterministic FNV-ish fold of the bytes
    var i = 0
    while (i < b.length) { h = 31 * h + b(i); i += 1 }
    val feat = Array.tabulate(16) { k =>
      (((h >> (k * 3)) & 0xffL).toFloat / 255.0f) - 0.5f
    }
    val dim1 = 64 + (math.abs(h) % 1024).toInt
    val dim2 = 64 + (math.abs(h >> 10) % 1024).toInt
    val dim3 = mediaType match {
      case "image" => 3
      case "audio" => 1
      case _       => 24 // fake frame count
    }
    (dim1, dim2, dim3, feat)
  }

  /** Batched feature extraction: the Scala-native analogue of a pandas-UDF
    * `mapInPandas` stage — one partition = one batch, media bytes consumed
    * in the scan stage so they never shuffle. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    media
      .select(col("media_ref"), col("doc_id"), col("media_type"), col("bytes"))
      .as[(String, String, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (ref, docId, mType, bytes) =>
          val (d1, d2, d3, feat) = decodeStub(mType, bytes)
          MediaFeature(ref, docId, mType,
            if (bytes == null) 0L else bytes.length.toLong, d1, d2, d3, feat)
        }
      }
  }

  final case class ResizedMedia(
      media_ref: String, doc_id: String, media_type: String,
      src_w: Int, src_h: Int, out_w: Int, out_h: Int, thumb: Array[Float])

  /** ============================ STUB ================================
    * Deterministic fake resize: real code would decode and resample pixels;
    * the fake computes the aspect-preserving output geometry (the part that
    * IS real logic) and folds the 16-dim feature down to a 4-dim "thumb" by
    * mean-pooling — stable, testable, swap-in point for a real scaler.
    * ================================================================== */
  def resizeStub(feature: Array[Float]): Array[Float] =
    Array.tabulate(4)(k => (feature(4 * k) + feature(4 * k + 1) +
      feature(4 * k + 2) + feature(4 * k + 3)) / 4.0f)

  /** Aspect-preserving fit into a target box (never upscales) — this
    * geometry is real; only the pixel work is stubbed. */
  def fitWithin(srcW: Int, srcH: Int, maxW: Int, maxH: Int): (Int, Int) = {
    val scale = math.min(1.0, math.min(maxW.toDouble / srcW, maxH.toDouble / srcH))
    (math.max(1, math.round(srcW * scale).toInt),
      math.max(1, math.round(srcH * scale).toInt))
  }

  /** Distributed resize over image features: per-row geometry + stub
    * resample, no shuffle (pure map over the feature table). */
  def resizeImages(spark: SparkSession, features: Dataset[MediaFeature],
                   maxW: Int = 256, maxH: Int = 256): Dataset[ResizedMedia] = {
    import spark.implicits._
    features.filter(_.media_type == "image").map { f =>
      val (w, h) = fitWithin(f.dim1, f.dim2, maxW, maxH)
      ResizedMedia(f.media_ref, f.doc_id, f.media_type,
        f.dim1, f.dim2, w, h, resizeStub(f.feature))
    }
  }

  final case class SampledFrame(
      media_ref: String, doc_id: String, frame_idx: Int, frame_feature: Array[Float])

  /** Frame sampling over video media: every `everyNth` frame of the
    * feature's frame count becomes one row. The frame fan-out is a per-row
    * sequence explode (frames never shuffle as pixels — only the per-frame
    * feature rows flow on). */
  def sampleFrames(spark: SparkSession, features: Dataset[MediaFeature],
                   everyNth: Int = 6): Dataset[SampledFrame] = {
    import spark.implicits._
    features.filter(_.media_type == "video").flatMap { f =>
      // dim3 is untrusted per-record metadata: bound the per-record
      // explode (see maxSampledFrames)
      (0 until math.min(f.dim3, everyNth * maxSampledFrames) by everyNth)
        .map { idx =>
          // STUB frame feature: the media feature rotated by the frame index
          val rot = Array.tabulate(f.feature.length)(k =>
            f.feature((k + idx) % f.feature.length))
          SampledFrame(f.media_ref, f.doc_id, idx, rot)
        }
    }
  }

  /** Join media features back to the docs that reference them — broadcast
    * when the feature side is small, else a plain equi-join on doc_id. */
  def joinFeaturesToDocs(docs: DataFrame, features: Dataset[MediaFeature]): DataFrame = {
    val f = features.toDF()
    docs.select(col("doc_id"), explode(col("spans")).as("span"))
      .filter(col("span.kind") === "media")
      .select(col("doc_id"), col("span.media_ref").as("media_ref"))
      .join(f, Seq("media_ref", "doc_id"), "left")
  }

  /** Deterministic synthetic media table derived from a docs table's media
    * spans (bytes faked from the ref string — STUB input for tests/bench). */
  def synthesizeFromDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), explode(col("spans")).as("span"))
      .filter(col("span.kind") === "media")
      .select(
        col("span.media_ref").as("media_ref"),
        col("doc_id"),
        element_at(split(col("span.media_ref"), "/"), -1).cast("int").mod(3) // 0,1,2
          .cast("string").as("mt"),
        encode(repeat(col("span.media_ref"), 32), "UTF-8").as("bytes"))
      .withColumn("media_type",
        when(col("mt") === "0", "image")
          .when(col("mt") === "1", "audio").otherwise("video"))
      .withColumn("meta", map(lit("src"), col("media_ref")))
      .drop("mt")
  }
}
