package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.geom.SmartResize

/** Multimodal asset handling for a training-data pipeline: image/audio/video
  * as opaque BINARY columns with typed metadata, plus the per-asset
  * transforms (decode → feature-extract → resize → frame-sample).
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic stand-in ([[StubCodec]]) — it derives pixel
  * dimensions / durations / features from the bytes alone, reproducibly.
  * Everything around it — the schema, the binary column plumbing, the
  * per-partition batch shape, the geometry math (real `smart_resize`), the
  * partitioning story — is real and tested. Swapping StubCodec for a JNI
  * codec changes no plan shape.
  *
  * Scale shape: assets are processed in one narrow mapPartitions pass
  * (bytes never shuffle); derived metadata/features are the only columns
  * that move downstream.
  */
object MultimodalOps {

  /** Typed asset row: media bytes + source metadata. */
  final case class Asset(asset_id: Long, media_type: String, bytes: Array[Byte])

  /** Decoded metadata + features (decode output schema). */
  final case class DecodedAsset(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int,            // images/video: native dims (stub-derived)
      height: Int,
      duration_ms: Long,     // audio/video; 0 for images
      resized_width: Int,    // model-input dims via REAL smart_resize
      resized_height: Int,
      frame_offsets_ms: Seq[Long], // video: sampled frame positions
      feature: Seq[Float])   // fixed-dim content embedding (stub)

  /** DETERMINISTIC STAND-IN for media decoding (no codecs in container).
    * Dimensions/durations/features are pure functions of the bytes via
    * FNV-1a — stable across runs/partitionings, which is exactly what the
    * tests pin down. A real deployment replaces only this object.
    */
  object StubCodec {
    def hash(bytes: Array[Byte], seed: Long): Long = {
      var h = 0xcbf29ce484222325L ^ seed
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xffL)
        h *= 0x100000001b3L
        i += 1
      }
      h
    }

    def dims(bytes: Array[Byte]): (Int, Int) = {
      val h = hash(bytes, 1)
      val w = 320 + java.lang.Long.remainderUnsigned(h, 3520L).toInt // 320..3839
      val hh = 240 + java.lang.Long.remainderUnsigned(h >>> 17, 1920L).toInt
      (w, hh)
    }

    def durationMs(bytes: Array[Byte]): Long =
      1000L + java.lang.Long.remainderUnsigned(hash(bytes, 2), 599000L) // 1s..10min

    def feature(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        out(i) = (hash(bytes, 100 + i).toDouble / Long.MaxValue).toFloat
        i += 1
      }
      out
    }
  }

  val FeatureDim = 16
  val FrameEveryMs = 10000L // video frame sampling stride

  /** The decode/feature/resize/frame-sample pass: one object stage, codec
    * state per partition (the Q2 idiom), bytes dropped from the output.
    */
  def decodeAssets(assets: Dataset[Asset]): Dataset[DecodedAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition: a real codec would init native contexts here, once
      it.map { a =>
        val isImage = a.media_type == "image"
        val isVideo = a.media_type == "video"
        val (w, h) = if (isImage || isVideo) StubCodec.dims(a.bytes) else (0, 0)
        val dur = if (isImage) 0L else StubCodec.durationMs(a.bytes)
        val (rh, rw) =
          if (w > 0) SmartResize.smartResize(h, w) // REAL geometry path
          else (0, 0)
        val frames: Seq[Long] =
          if (isVideo) 0L.until(dur, FrameEveryMs) else Nil
        DecodedAsset(a.asset_id, a.media_type, a.bytes.length.toLong, w, h,
          dur, rw, rh, frames, StubCodec.feature(a.bytes, FeatureDim).toSeq)
      }
    }
  }

  /** Build a deterministic asset table from the documents corpus (bytes =
    * UTF-8 of text; media type round-robins image/audio/video) — the test
    * and driver-query input, since no binary table ships in testdata.
    */
  def assetsFromDocuments(docs: DataFrame): Dataset[Asset] = {
    import docs.sparkSession.implicits._
    docs.select(
      col("doc_id").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("bytes"))
      .as[Asset]
  }

  /** Oracle-able projection: everything DuckDB can recompute from the same
    * documents table (byte length, digest, media type).
    */
  def assetManifest(docs: DataFrame): DataFrame =
    assetsFromDocuments(docs).toDF()
      .select(col("asset_id"), col("media_type"),
        length(col("bytes")).as("n_bytes"), md5(col("bytes")).as("content_md5"))
      .orderBy(col("asset_id"))

  /** Rows-only driver query: full decode outputs (stub-derived, not
    * SQL-replicable) with frame counts + feature norm as scalars.
    */
  def decodedSummary(docs: DataFrame): DataFrame = {
    val dec = decodeAssets(assetsFromDocuments(docs)).toDF()
    dec.select(col("asset_id"), col("media_type"), col("n_bytes"),
        col("width"), col("height"), col("duration_ms"),
        col("resized_width"), col("resized_height"),
        size(col("frame_offsets_ms")).as("n_frames"),
        aggregate(col("feature"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double")).as("feature_sq_norm"))
      .orderBy(col("asset_id"))
  }
}
