package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (builder prompt): image/audio/video payloads
  * are opaque `binary` columns with typed metadata; decode / feature-extract
  * run as batched per-partition kernels (the Scala analogue of
  * `mapInPandas` — one iterator of batches per partition, not a per-row
  * UDF).
  *
  * IMAGE decode is REAL: the JDK's `javax.imageio` ships PNG/JPEG/BMP/GIF
  * codecs in every JRE, so width/height/band-count/luma-histogram come from
  * actual pixel data, and `thumbnail` is a real resample→PNG re-encode.
  * Payloads that are not a supported image format (sniffed by magic bytes)
  * fall back to `decodeStub` — audio/video codecs genuinely don't ship in
  * this container, and the single-schema contract (metadata + fixed-dim
  * feature vector) is the part a 100-TB pipeline depends on. */
object MultimodalOps {

  /** typed output of the decode kernel */
  final case class MediaMeta(
      doc_id: Long,
      byte_len: Int,
      format: String, // "png"/"jpeg"/"bmp"/"gif" or "raw" (stub path)
      width: Int,
      height: Int,
      bands: Int,
      checksum: Long,
      features: Array[Float])

  val FeatureDim = 8

  /** FNV-1a 64 over the payload — same content key on both paths. */
  def fnv(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xFFL)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** magic-byte sniff of the JDK-decodable formats. */
  def sniffFormat(b: Array[Byte]): Option[String] =
    if (b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      Some("png")
    else if (b.length >= 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) Some("jpeg")
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') Some("bmp")
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')
      Some("gif")
    else None

  /** REAL image decode (javax.imageio): true dimensions, raster band count,
    * and an [[FeatureDim]]-bin luminance histogram as the feature vector. */
  def decodeImage(docId: Long, bytes: Array[Byte], format: String): MediaMeta = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) return decodeStub(docId, bytes) // sniffed but corrupt
    val w = img.getWidth
    val h = img.getHeight
    val hist = new Array[Float](FeatureDim)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000
        hist(luma * FeatureDim / 256) += 1f
        x += 1
      }
      y += 1
    }
    MediaMeta(docId, bytes.length, format, w, h,
      img.getRaster.getNumBands, fnv(bytes), hist)
  }

  /** deterministic fallback for non-image payloads: byte length, pseudo
    * dims from the content hash, FNV checksum, byte-histogram features. */
  def decodeStub(docId: Long, bytes: Array[Byte]): MediaMeta = {
    val h = fnv(bytes)
    val hist = new Array[Float](FeatureDim)
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xFF) % FeatureDim) += 1f
      i += 1
    }
    val w = 64 + (math.abs(h) % 1024).toInt
    val ht = 64 + (math.abs(h >> 10) % 1024).toInt
    MediaMeta(docId, bytes.length, "raw", w, ht, 0, h, hist)
  }

  /** decode as a partition-batched kernel over (doc_id, payload BINARY):
    * mapPartitions keeps the per-partition batch shape of mapInPandas;
    * format routing happens inside the partition iterator. */
  def decode(df: DataFrame): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition setup (a real codec context would init here)
        it.map { case (id, bytes) =>
          if (bytes == null)
            MediaMeta(id, -1, "null", 0, 0, 0, 0L, new Array[Float](FeatureDim))
          else sniffFormat(bytes) match {
            case Some(fmt) => decodeImage(id, bytes, fmt)
            case None => decodeStub(id, bytes)
          }
        }
      }
  }

  /** REAL resize: decode → aspect-preserving smooth scale so
    * max(w,h) == maxDim → PNG re-encode. Returns None for non-images. */
  def thumbnail(bytes: Array[Byte], maxDim: Int): Option[Array[Byte]] = {
    if (sniffFormat(bytes).isEmpty) return None
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) return None
    val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
    val (tw, th) = (math.max(1, math.round(img.getWidth * scale).toInt),
      math.max(1, math.round(img.getHeight * scale).toInt))
    val out = new java.awt.image.BufferedImage(tw, th,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, tw, th, null)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    Some(bos.toByteArray)
  }

  /** thumbnail as a partition-batched column kernel:
    * (doc_id, payload) → (doc_id, thumb BINARY nullable). */
  def thumbnails(df: DataFrame, maxDim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, if (bytes == null) None else thumbnail(bytes, maxDim))
      })
      .toDF("doc_id", "thumb")
  }

  /** "frame-sample": pick every k-th byte window as a frame digest —
    * demonstrates the explode-to-frames shape (video → frame rows). */
  def frameSample(df: DataFrame, stride: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (bytes == null) Iterator.empty
        else bytes.grouped(stride).zipWithIndex.map { case (frame, idx) =>
          (id, idx, frame.length, frame.map(_ & 0xFF).sum.toLong)
        }
      }
      .toDF("doc_id", "frame_idx", "frame_len", "frame_sum")
  }
}
