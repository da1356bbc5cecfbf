package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal columns (builder brief): image/audio/video as opaque
  * `binary` columns with typed metadata structs.
  *
  * Round 3: the image AND audio paths are REAL — header-parse
  * metadata ([[ImageCodec.sniff]] for PNG/JPEG/GIF/BMP,
  * [[AudioCodec.sniff]] for RIFF/WAVE, both codegen'd expressions)
  * plus full pixel decode/resize via `javax.imageio` and full PCM
  * sample decode, all JDK-only. What remains stubbed (and says so):
  * video frame extraction and COMPRESSED audio (MP3/AAC/Vorbis),
  * whose codecs genuinely are not in the JDK; their plumbing (schema,
  * explode shape, batch signature) is the tested contract a
  * javacv/JNI kernel drops into. Round 4 pins that contract as a
  * first-class hook: [[ExternalDecoder]] (factory-per-partition
  * lifecycle, JDK fallback composition, schema parity — proven with
  * fake MP3/H.264 decoders in ExternalDecoderSpec).
  */
object Multimodal {

  /** Typed metadata carried beside the opaque payload. */
  val MetaSchema = "struct<format:string,width:int,height:int,n_frames:int,sample_rate:int>"

  /** REAL image metadata: header-only parse (PNG IHDR / JPEG SOF / GIF
    * / BMP) via the codegen'd [[ImageCodec.imageMeta]] expression —
    * reads a few header bytes, never inflates pixels, so a metadata
    * scan over a 100 TB media table does no decode work. Null
    * format/width/height for non-image payloads; n_frames/sample_rate
    * are the still-image constants (a video/audio prober fills them).
    */
  def decodeImage(bytes: Column): Column = {
    val m = ImageCodec.imageMeta(bytes)
    struct(
      m.getField("format").as("format"),
      m.getField("width").as("width"),
      m.getField("height").as("height"),
      when(m.isNotNull, lit(1)).as("n_frames"),
      when(m.isNotNull, lit(0)).as("sample_rate"))
  }

  /** REAL resize: decode → bilinear scale → re-encode PNG, through the
    * batched plumbing (one codec context per batch). Non-image rows
    * pass their payload through unchanged. Output schema: idCol,
    * resized binary, full [[MetaSchema]]-shaped meta.
    */
  def resizeImages(df: DataFrame, idCol: String, bytesCol: String,
                   w: Int, h: Int): DataFrame = {
    import df.sparkSession.implicits._
    // plain per-row map: the resize kernel has no per-batch setup to
    // amortize (decodeBatched's batch boundary exists as the pluggable
    // codec contract; adding one here would be dead machinery)
    df.select(col(idCol).cast("string"), col(bytesCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, ImageCodec.resizeTo(bytes, w, h).getOrElse(bytes))
      })
      .toDF(idCol, "resized")
      .withColumn("meta", decodeImage(col("resized")))
  }

  /** Generic frame sampling for payloads with no parseable container:
    * pick every k-th 1KiB chunk index — the explode shape a frame
    * sampler produces. For MJPEG-in-AVI the REAL sampler is
    * [[sampleVideoFrames]]; inter-frame codecs (H.264…) are not in the
    * JDK and keep this fallback shape.
    */
  def sampleFrames(bytes: Column, everyK: Int): Column = {
    val nFrames = greatest(floor(octet_length(bytes) / 1024).cast("int"), lit(1))
    filter(sequence(lit(0), nFrames - 1), i => pmod(i, lit(everyK)) === 0)
  }

  /** REAL video frame sampling (round 3, MJPEG-in-AVI via
    * [[VideoCodec]]): one output row per sampled frame carrying the
    * frame's raw JPEG bytes — (id, frame_idx, frame). Runs in
    * mapPartitions so the container walk happens once per payload;
    * each emitted frame then rides the image path ([[ImageCodec]])
    * for real per-frame decode. Non-video payloads emit no rows.
    */
  def sampleVideoFrames(df: DataFrame, idCol: String, bytesCol: String,
                        everyK: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("string"), col(bytesCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          VideoCodec.sampleFrames(bytes, everyK).zipWithIndex.map {
            case (f, i) => (id, i * everyK, f)
          }
        }
      }
      .toDF(idCol, "frame_idx", "frame")
  }

  /** Framewise audio features through the same mapPartitions plumbing:
    * one input payload fans out to one row per frame — (id, frame_idx,
    * n, Σv², zero-crossings) from [[AudioCodec.frameFeatures]]. The
    * flatMap shape matches [[sampleVideoFrames]]; non-decodable
    * payloads contribute zero rows (filter, not poison).
    */
  def audioFrames(df: DataFrame, idCol: String, bytesCol: String,
                  frameLen: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("string"), col(bytesCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          AudioCodec.frameFeatures(bytes, frameLen).getOrElse(IndexedSeq.empty)
            .map { case (fi, n, sumSq, zc) => (id, fi, n, sumSq, zc) }
        }
      }
      .toDF(idCol, "frame_idx", "n", "sum_sq", "zc")
  }

  /** Batched decode plumbing — the Scala analogue of mapInPandas: rows
    * stream through mapPartitions in bounded batches so the codec can
    * amortize per-batch init while memory stays bounded by
    * batchSize × payload, never the partition. The default kernel is
    * the REAL image decode ([[imageFeatureBatch]]); any decoder with
    * the same signature (audio, video, an embedding model) drops in
    * with zero plan changes.
    */
  def decodeBatched(df: DataFrame, idCol: String, bytesCol: String,
                    batchSize: Int = 64,
                    decodeBatch: Seq[(String, Array[Byte])] => Seq[Array[Float]] =
                      imageFeatureBatch): DataFrame = {
    import df.sparkSession.implicits._
    // ids travel as strings: the pipeline's doc_id convention is sha256
    // hex — a long cast would null them and crash the tuple encoder
    df.select(col(idCol).cast("string"), col(bytesCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val feats = decodeBatch(batch)
          batch.iterator.zip(feats.iterator).map { case ((id, _), f) => (id, f) }
        }
      }
      .toDF(idCol, "features")
  }

  /** REAL batch kernel: full ImageIO pixel decode per payload →
    * [width, height, mean pixel value, 1.0]; non-image payloads fall
    * back to deterministic byte statistics tagged 0.0 in the last slot
    * (shape-compatible, so mixed media batches don't fork the plan).
    */
  def imageFeatureBatch(batch: Seq[(String, Array[Byte])]): Seq[Array[Float]] =
    batch.map { case (_, bytes) =>
      ImageCodec.decodeStats(bytes) match {
        case Some((w, h, avg)) => Array(w.toFloat, h.toFloat, avg.toFloat, 1f)
        case None => byteStats(bytes) :+ 0f
      }
    }

  /** REAL audio batch kernel (round 3): full PCM sample decode per
    * payload → [n_samples, peak, mean_abs, 1.0]; non-WAV payloads fall
    * back to byte statistics tagged 0.0 (same contract as
    * [[imageFeatureBatch]]).
    */
  def audioFeatureBatch(batch: Seq[(String, Array[Byte])]): Seq[Array[Float]] =
    batch.map { case (_, bytes) =>
      AudioCodec.decodeStats(bytes) match {
        case Some((n, peak, meanAbs)) =>
          Array(n.toFloat, peak.toFloat, meanAbs.toFloat, 1f)
        case None => byteStats(bytes) :+ 0f
      }
    }

  private def byteStats(bytes: Array[Byte]): Array[Float] = {
    val n = math.max(1, if (bytes == null) 0 else bytes.length)
    var sum = 0L; var mx = 0; var i = 0
    val len = if (bytes == null) 0 else bytes.length
    while (i < len) { val v = bytes(i) & 0xff; sum += v; if (v > mx) mx = v; i += 1 }
    Array(n.toFloat, (sum.toDouble / n).toFloat, mx.toFloat)
  }

  /** Size-aware layout: media tables must spread payload BYTES evenly so
    * a few huge blobs don't skew tasks (100 TB guidance: target
    * `spark.sql.files.maxPartitionBytes`-sized groups).
    *
    * The size bucket alone is the wrong partition key — nearly all rows
    * share bucket 0, so hashing it CONCENTRATES similar-sized blobs
    * instead of spreading them. A payload-hash salt inside each size
    * class makes bytes-per-partition uniform in expectation: small
    * blobs scatter, and each over-target blob lands alone wherever its
    * salt sends it.
    */
  def repartitionBySize(df: DataFrame, bytesCol: String, targetPartitionBytes: Long,
                        saltBuckets: Int = 64): DataFrame =
    df.withColumn("__b",
        floor(octet_length(col(bytesCol)) / lit(targetPartitionBytes.toDouble)).cast("int"))
      .withColumn("__salt", pmod(xxhash64(col(bytesCol)), lit(saltBuckets)))
      .repartition(col("__b"), col("__salt"))
      .drop("__b", "__salt")
}
