package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus the decode / feature-extract /
  * resize / frame-sample operator shapes a training-data pipeline needs.
  *
  * IMAGES are decoded for real by [[ImageIoDecoder]] — `javax.imageio`
  * (PNG/JPEG/GIF/BMP) and `java.awt.Graphics2D` ship with every JDK, no
  * external jars. [[AutoDecoder]] sniffs the magic bytes and routes
  * image content there per row.
  *
  * AUDIO (RIFF/WAV PCM) is decoded for real by [[WavDecoder]] —
  * `javax.sound.sampled` also ships with every JDK.
  *
  * ====== STUB BOUNDARY (video + compressed audio only) ======
  * The JDK has no video or compressed-audio codecs and this container
  * has no media libraries, so those byte-level decodes are a STUB:
  * [[StubDecoder]] produces deterministic fake pixels/frames from the
  * content hash. The Spark-side plumbing — schema, batch iteration via
  * `mapPartitions`, size-bucketed repartitioning, feature-vector
  * shape — is real and tested for every modality; swap [[Decoder]] for
  * an FFmpeg JNI/FFI implementation in production.
  *
  * Scale notes: media blobs skew partition sizes badly (a 4 GB video
  * next to 10 kB thumbnails), so [[repartitionBySize]] salts rows into
  * byte-balanced partitions before per-row CPU-heavy decode; decode
  * runs once per partition iterator (amortized codec init, the same
  * batch shape `mapInPandas` gives Python pipelines).
  */
object Multimodal {

  case class MediaMeta(mimeType: String, width: Int, height: Int, durationMs: Long)
  case class MediaRow(id: Long, content: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(id: Long, embedding: Array[Float], frames: Int)

  /** Pluggable byte decoder — production swaps in a real codec. */
  trait Decoder extends Serializable {
    def decodeMeta(content: Array[Byte]): MediaMeta
    def extractFeatures(content: Array[Byte], dim: Int): Array[Float]
    def sampleFrames(content: Array[Byte], everyMs: Long): Seq[Array[Byte]]
    def resize(content: Array[Byte], width: Int, height: Int): Array[Byte]
  }

  /** Deterministic fake decoder (STUB — see object doc): every output is
    * a pure function of the content bytes via md5, so tests and re-runs
    * are stable. */
  object StubDecoder extends Decoder {
    private def h(content: Array[Byte], salt: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(salt.toByte)
      val d = md.digest(content)
      java.nio.ByteBuffer.wrap(d, 0, 8).getLong & Long.MaxValue
    }
    def decodeMeta(content: Array[Byte]): MediaMeta =
      MediaMeta("application/x-stub", (h(content, 1) % 1280).toInt,
        (h(content, 2) % 720).toInt, h(content, 3) % 600000)
    def extractFeatures(content: Array[Byte], dim: Int): Array[Float] =
      Array.tabulate(dim)(i => ((h(content, 16 + i) % 2000003).toFloat / 1000001.5f) - 1f)
    def sampleFrames(content: Array[Byte], everyMs: Long): Seq[Array[Byte]] = {
      val n = math.max(1, (decodeMeta(content).durationMs / math.max(1, everyMs)).toInt)
      (0 until math.min(n, 32)).map(i => java.security.MessageDigest
        .getInstance("MD5").digest(content ++ Array(i.toByte)))
    }
    def resize(content: Array[Byte], width: Int, height: Int): Array[Byte] = {
      // stub: a deterministic (w*h/64)-byte payload derived from the
      // content — size scales with the target like a real thumbnail
      val out = new Array[Byte](math.max(16, width * height / 64))
      var i = 0
      while (i < out.length) {
        out(i) = (h(content, 32 + i / 16) >> (8 * (i % 8)) & 0xff).toByte
        i += 1
      }
      out
    }
  }

  /** Real image decoder on pure-JDK codecs: `javax.imageio` decode
    * (PNG/JPEG/GIF/BMP/WBMP), `Graphics2D` bilinear resize (re-encoded
    * PNG — lossless, so resize output is itself decodable), and a
    * luminance-grid feature vector. A still image is its own single
    * "frame". Undecodable bytes throw `IllegalArgumentException` —
    * route mixed-modality columns through [[AutoDecoder]] instead. */
  object ImageIoDecoder extends Decoder {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    // by default ImageIO spills every ImageInputStream to a temp FILE —
    // a large constant cost per tiny in-memory image; decode from heap
    // (shared once-per-JVM switch)
    ImageIoConfig.heapOnly()

    private def read(content: Array[Byte]): BufferedImage = {
      val img = ImageIO.read(new ByteArrayInputStream(content))
      if (img == null)
        throw new IllegalArgumentException("bytes not decodable by javax.imageio")
      img
    }

    private def formatName(content: Array[Byte]): String = {
      val in = ImageIO.createImageInputStream(new ByteArrayInputStream(content))
      try {
        val readers = ImageIO.getImageReaders(in)
        if (readers.hasNext) readers.next().getFormatName.toLowerCase
        else throw new IllegalArgumentException("bytes not decodable by javax.imageio")
      } finally in.close()
    }

    def decodeMeta(content: Array[Byte]): MediaMeta = {
      val img = read(content)
      MediaMeta(s"image/${formatName(content)}", img.getWidth, img.getHeight,
        durationMs = 0L) // still image
    }

    /** Downsampled luminance grid, row-major, scaled to [-1, 1]: the
      * classic no-model image fingerprint (what pHash averages). `dim`
      * cells are sampled at cell centers of a ⌈√dim⌉ grid. */
    def extractFeatures(content: Array[Byte], dim: Int): Array[Float] = {
      val img = read(content)
      val g = math.ceil(math.sqrt(dim.toDouble)).toInt
      Array.tabulate(dim) { i =>
        val x = ((i % g) * img.getWidth + img.getWidth / 2) / g
        val y = ((i / g) * img.getHeight + img.getHeight / 2) / g
        val rgb = img.getRGB(math.min(x, img.getWidth - 1),
          math.min(y, img.getHeight - 1))
        val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        (lum / 127.5 - 1.0).toFloat
      }
    }

    def sampleFrames(content: Array[Byte], everyMs: Long): Seq[Array[Byte]] =
      Seq(content) // a still image has exactly one frame: itself

    def resize(content: Array[Byte], width: Int, height: Int): Array[Byte] = {
      import java.awt.RenderingHints
      val src = read(content)
      val dst = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      val gfx = dst.createGraphics()
      try {
        gfx.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        gfx.drawImage(src, 0, 0, width, height, null)
      } finally gfx.dispose()
      val out = new ByteArrayOutputStream()
      ImageIO.write(dst, "png", out)
      out.toByteArray
    }
  }

  /** Magic-byte router: image content (PNG/JPEG/GIF/BMP signatures) →
    * [[ImageIoDecoder]]; `RIFF....WAVE` → [[WavDecoder]]; everything
    * else (video/compressed audio/unknown) → [[StubDecoder]]. Sniffing
    * is a few byte compares per row — noise next to the decode
    * itself. */
  object AutoDecoder extends Decoder {
    private[multimodal] def isImage(c: Array[Byte]): Boolean =
      c.length >= 8 && (
        (c(0) == 0x89.toByte && c(1) == 'P' && c(2) == 'N' && c(3) == 'G') ||
        (c(0) == 0xff.toByte && c(1) == 0xd8.toByte) || // JPEG SOI
        (c(0) == 'G' && c(1) == 'I' && c(2) == 'F' && c(3) == '8') ||
        (c(0) == 'B' && c(1) == 'M')) // BMP
    private def pick(c: Array[Byte]): Decoder =
      if (isImage(c)) ImageIoDecoder
      else if (WavDecoder.isWav(c)) WavDecoder
      else StubDecoder
    def decodeMeta(content: Array[Byte]): MediaMeta = pick(content).decodeMeta(content)
    def extractFeatures(content: Array[Byte], dim: Int): Array[Float] =
      pick(content).extractFeatures(content, dim)
    def sampleFrames(content: Array[Byte], everyMs: Long): Seq[Array[Byte]] =
      pick(content).sampleFrames(content, everyMs)
    def resize(content: Array[Byte], width: Int, height: Int): Array[Byte] =
      pick(content).resize(content, width, height)
  }

  /** Resize/thumbnail pass: binary → binary at target dimensions, the
    * same partition-amortized batch shape as the other decode steps. */
  def resizeAll(rows: Dataset[MediaRow], width: Int, height: Int,
                decoder: Decoder = StubDecoder): Dataset[(Long, Array[Byte])] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions(_.map(r => (r.id, decoder.resize(r.content, width, height))))
  }

  /** Attach decoded metadata to a binary content column. Runs the
    * decoder once per partition iterator (amortized init). */
  def withMetadata(df: DataFrame, idCol: String, contentCol: String,
                   decoder: Decoder = StubDecoder): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) => MediaRow(id, bytes, decoder.decodeMeta(bytes)) }
      }
  }

  /** Feature extraction: binary → fixed-dim Float embedding, the input
    * shape for `operators.Similarity`. */
  def extractFeatures(rows: Dataset[MediaRow], dim: Int,
                      decoder: Decoder = StubDecoder): Dataset[MediaFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        val frames = decoder.sampleFrames(r.content, 1000L)
        MediaFeatures(r.id, decoder.extractFeatures(r.content, dim), frames.size)
      }
    }
  }

  /** Byte-balanced repartitioning: bucket rows so every partition holds
    * ≈ targetBytes of content, preventing giant-blob stragglers. */
  def repartitionBySize(df: DataFrame, contentCol: String,
                        targetBytes: Long, partitions: Int): DataFrame = {
    val sized = df.withColumn("__bytes", length(col(contentCol)).cast("long"))
    // weight-salted key: large blobs spread over more buckets
    val salted = sized.withColumn("__bucket",
      pmod(hash(col(contentCol)) +
        (col("__bytes") / lit(targetBytes)).cast("int"), lit(partitions)))
    salted.repartition(partitions, col("__bucket"))
      .drop("__bytes", "__bucket")
  }
}
