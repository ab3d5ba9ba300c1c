package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata structs, plus batch decode /
  * feature-extract / resize / frame-sample stages.
  *
  * Decode is REAL for the formats the JDK ships codecs for — images
  * (PNG/JPEG/GIF/BMP, incl. multi-frame GIF) via `javax.imageio`, audio
  * (WAV/AIFF/AU) via `javax.sound.sampled` ([[JvmCodec]]). Payloads are
  * sniffed by magic bytes first (O(1) per row), so at 100 TB only real
  * media pays a codec init; anything else falls through to the
  * deterministic [[FakeCodec]] stub, which doubles as the seam where a
  * deployment plugs heavier codecs (video, model-based embeddings). The
  * Spark side is the same either way: the binary column schema, the typed
  * case-class batch shape, the `mapPartitions` boundary (one codec context
  * per partition, streaming iterator — the Scala analog of `mapInPandas`
  * batching), and the partition sizing (`maxRecordsPerFile` /
  * `files.maxPartitionBytes` keep a partition's worth of payloads in
  * executor memory at 100 TB).
  */
object Multimodal {

  /** A multimodal row: payload + typed metadata. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Decoded metadata batch shape (what a real image decode would yield). */
  final case class DecodedMeta(media_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Int, checksum: Long)

  /** Real JVM-native codecs for the formats the JDK ships decoders for.
    * Every method answers None for payloads that are not that kind of
    * media (magic-byte sniff, then a defensive decode), so the dispatch
    * in [[Codec]] stays cheap on opaque blobs. */
  object JvmCodec {

    private[pipeline] def checksum(payload: Array[Byte]): Long = {
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum = sum * 31 + (payload(i) & 0xff); i += 1 }
      sum
    }

    /** PNG / JPEG / GIF / BMP magic bytes. */
    def sniffImage(p: Array[Byte]): Boolean =
      p.length >= 8 && (
        (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
        (p(0) == 0xff.toByte && p(1) == 0xd8.toByte && p(2) == 0xff.toByte) ||
        (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
        (p(0) == 'B' && p(1) == 'M'))

    /** RIFF/WAVE, AIFF (FORM), AU (.snd) magic bytes. */
    def sniffAudio(p: Array[Byte]): Boolean =
      p.length >= 12 && (
        (p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
          p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') ||
        (p(0) == 'F' && p(1) == 'O' && p(2) == 'R' && p(3) == 'M') ||
        (p(0) == '.' && p(1) == 's' && p(2) == 'n' && p(3) == 'd'))

    /** Image header decode via the reader SPI: (width, height, n_frames,
      * checksum) without materializing pixel data; n_frames counts the
      * images in the container (animated GIF > 1). */
    def decodeImage(p: Array[Byte]): Option[(Int, Int, Int, Long)] =
      if (!sniffImage(p)) None
      else try {
        val in = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(p))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(in)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(in)
              val frames = try r.getNumImages(true) catch { case NonFatal(_) => 1 }
              Some((r.getWidth(0), r.getHeight(0), math.max(frames, 1), checksum(p)))
            } finally r.dispose()
          }
        } finally in.close()
      } catch { case NonFatal(_) => None }

    /** Audio header decode: (channels, sample bits, frame count, checksum)
      * — the (w, h, frames) slots carry the audio analog dimensions. */
    def decodeAudio(p: Array[Byte]): Option[(Int, Int, Int, Long)] =
      if (!sniffAudio(p)) None
      else try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(p))
        try {
          val f = ais.getFormat
          Some((f.getChannels, f.getSampleSizeInBits,
            math.max(ais.getFrameLength.toInt, 0), checksum(p)))
        } finally ais.close()
      } catch { case NonFatal(_) => None }

    /** Frame byte-ranges of an MJPEG stream — the simplest real video
      * container: concatenated baseline JPEGs (the over-the-wire form of
      * motion-JPEG cameras and the payload of MJPEG AVI/HTTP streams).
      * Boundary scan is exact for well-formed streams: inside entropy-coded
      * JPEG data a 0xFF byte is always stuffed (FF 00) or a RST marker
      * (FF D0–D7), so FF D9 occurs ONLY as end-of-image and FF D8 FF only
      * as start-of-image. Returns ≥2 ranges or Nil — a single JPEG belongs
      * to the plain image path, not the container path. */
    def mjpegFrames(p: Array[Byte]): Seq[(Int, Int)] = {
      if (p.length < 4 || p(0) != 0xff.toByte || p(1) != 0xd8.toByte ||
          p(2) != 0xff.toByte) return Nil
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var start = 0
      var i = 2
      while (i + 1 < p.length) {
        if (p(i) == 0xff.toByte && p(i + 1) == 0xd9.toByte) {
          out += ((start, i + 2))
          // next frame must begin immediately with SOI (FF D8 FF)
          if (i + 4 < p.length && p(i + 2) == 0xff.toByte &&
              p(i + 3) == 0xd8.toByte && p(i + 4) == 0xff.toByte) {
            start = i + 2
            i = i + 4
          } else i = p.length // trailing junk or end: stop
        } else i += 1
      }
      if (out.size >= 2) out.toSeq else Nil
    }

    /** MJPEG container decode: (width, height of frame 0, frame count,
      * checksum). None unless the payload really is ≥2 concatenated JPEGs. */
    def decodeMjpeg(p: Array[Byte]): Option[(Int, Int, Int, Long)] = {
      val frames = mjpegFrames(p)
      if (frames.isEmpty) None
      else {
        val (s, e) = frames.head
        decodeImage(java.util.Arrays.copyOfRange(p, s, e))
          .map { case (w, h, _, _) => (w, h, frames.size, checksum(p)) }
      }
    }

    private def readImage(p: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (!sniffImage(p)) None
      else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))
      catch { case NonFatal(_) => None }

    private def scaled(img: java.awt.image.BufferedImage,
        w: Int, h: Int): java.awt.image.BufferedImage = {
      val out = new java.awt.image.BufferedImage(math.max(w, 1), math.max(h, 1),
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, math.max(w, 1), math.max(h, 1), null)
      } finally g.dispose()
      out
    }

    /** Real bilinear resize, re-encoded as PNG bytes. */
    def resampleImage(p: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] =
      readImage(p).map { img =>
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(scaled(img, outW, outH), "png", bos)
        bos.toByteArray
      }

    /** Frame `idx` of a multi-frame image container decoded to PNG bytes —
      * REAL pixels for the containers the JDK ships a decoder for (animated
      * GIF; any imageio reader reporting >1 image). Frames are the
      * container's raw per-frame rasters — GIF delta frames are NOT
      * composited onto their predecessors: a training-data sampler wants
      * independently decodable payloads, and compositing policy belongs to
      * the consumer. None for non-image payloads, a missing reader, or an
      * out-of-range index. */
    def extractFrame(p: Array[Byte], idx: Int): Option[Array[Byte]] = {
      // MJPEG container first: slice frame idx's JPEG bytes, decode, and
      // re-encode PNG — same per-frame contract as the imageio path below
      val mj = mjpegFrames(p)
      if (mj.nonEmpty) {
        if (idx < 0 || idx >= mj.size) None
        else {
          val (s, e) = mj(idx)
          readImage(java.util.Arrays.copyOfRange(p, s, e)).map { img =>
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            bos.toByteArray
          }
        }
      } else extractImageioFrame(p, idx)
    }

    private def extractImageioFrame(p: Array[Byte], idx: Int): Option[Array[Byte]] =
      if (!sniffImage(p)) None
      else try {
        val in = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(p))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(in)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(in)
              val n = try r.getNumImages(true) catch { case NonFatal(_) => 1 }
              if (idx < 0 || idx >= math.max(n, 1)) None
              else {
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(r.read(idx), "png", bos)
                Some(bos.toByteArray)
              }
            } finally r.dispose()
          }
        } finally in.close()
      } catch { case NonFatal(_) => None }

    /** `dims` luminance means over a dims×1 downscale — a real (if tiny)
      * visual signature in [0,1]; the model-based-embedding seam stays
      * with [[FakeCodec]]. */
    def imageFeatures(p: Array[Byte], dims: Int): Option[Array[Float]] =
      readImage(p).map { img =>
        val strip = scaled(img, dims, 1)
        Array.tabulate(dims) { i =>
          val rgb = strip.getRGB(i, 0)
          val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
          (0.299f * r + 0.587f * g + 0.114f * b) / 255f
        }
      }
  }

  /** Decode dispatch: real JVM codec when the payload IS real media, the
    * deterministic [[FakeCodec]] stub otherwise — one call site per stage,
    * so swapping in heavier codecs (video, model embeddings) touches
    * nothing but this object. */
  object Codec {
    def decode(p: Array[Byte]): (Int, Int, Int, Long) =
      JvmCodec.decodeMjpeg(p) // ≥2-frame container beats the single-image read
        .orElse(JvmCodec.decodeImage(p)).orElse(JvmCodec.decodeAudio(p))
        .getOrElse(FakeCodec.decode(p))

    def resample(p: Array[Byte], outW: Int, outH: Int): Array[Byte] =
      JvmCodec.resampleImage(p, outW, outH)
        .getOrElse(FakeCodec.resample(p, outW, outH))

    def features(p: Array[Byte], dims: Int): Array[Float] =
      JvmCodec.imageFeatures(p, dims).getOrElse(FakeCodec.features(p, dims))
  }

  /** Deterministic stand-in for codecs the JVM does NOT ship (video,
    * model-based embeddings) and for opaque non-media payloads (the test
    * tables' text blobs). A deployment swaps these bodies for native
    * codec calls; the signatures and batching stay. */
  object FakeCodec {
    def decode(payload: Array[Byte]): (Int, Int, Int, Long) = {
      val n = payload.length
      // ??? real video/container codec here — dimensions derived
      // deterministically instead
      (n % 640, (n * 7) % 480, n % 16, JvmCodec.checksum(payload))
    }

    /** ??? real resampler here — the output byte budget (outW·outH) and
      * determinism stand in for the pixel math. */
    def resample(payload: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
      val out = new Array[Byte](math.max(outW * outH, 0))
      if (payload.nonEmpty) {
        var i = 0
        while (i < out.length) { out(i) = payload(i % payload.length); i += 1 }
      }
      out
    }

    /** ??? real feature extractor here — `dims` chunk-mean bytes scaled to
      * [0,1] stand in for the embedding model; output shape and batching
      * are the real contract. */
    def features(payload: Array[Byte], dims: Int): Array[Float] = {
      val out = new Array[Float](dims)
      if (payload.isEmpty) return out
      val chunk = math.max(payload.length / dims, 1)
      var d = 0
      while (d < dims) {
        var s = 0L
        var i = d * chunk
        val end = math.min(payload.length, i + chunk)
        val n = math.max(end - i, 1)
        while (i < end) { s += payload(i) & 0xff; i += 1 }
        out(d) = s.toFloat / n / 255f
        d += 1
      }
      out
    }
  }

  /** Build a media table from the documents table: payload = utf-8 bytes of
    * the text (a deterministic opaque blob), kind keyed off the source. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Batch decode over the binary column: one codec context per partition,
    * streaming per-row — the mapInPandas-equivalent shape. */
  def decodeBatch(media: DataFrame): Dataset[DecodedMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition codec init would go here (expensive native handle)
      rows.map { r =>
        val (w, h, f, cks) = Codec.decode(r.payload)
        DecodedMeta(r.media_id, r.kind, r.payload.length.toLong, w, h, f, cks)
      }
    }
  }

  /** Metadata aggregate per kind — the SQL-expressible cross-check surface
    * (byte lengths are computable from the text column in any engine). */
  def metaByKind(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"), length(col("payload")).as("n_bytes"))
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        max(col("n_bytes")).cast("long").as("max_bytes"))
      .orderBy("kind")

  /** A resized media row: bounded dimensions + the resampled payload. */
  final case class ResizedMedia(media_id: Long, kind: String,
      width: Int, height: Int, payload: Array[Byte])

  /** Resize stage: bound each payload to `maxW`×`maxH` — a REAL bilinear
    * downscale re-encoded as PNG for JDK-decodable images; the documented
    * [[FakeCodec]] seam (output byte budget outW·outH, integer-only
    * dimension math so the oracle replays it) for everything else. */
  def resizeBatch(media: DataFrame, maxW: Int = 224, maxH: Int = 224): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val (w, h, _, _) = Codec.decode(r.payload)
        val (ow, oh) = (math.min(w, maxW), math.min(h, maxH))
        ResizedMedia(r.media_id, r.kind, ow, oh, Codec.resample(r.payload, ow, oh))
      }
    }
  }

  /** Per-media feature vector. `features` feeds the similarity operators
    * directly (brute-force / IVF / PQ all take an `array<float>` column). */
  final case class MediaFeatures(media_id: Long, features: Array[Float])

  /** Feature-extract stage: payload → `dims`-dimensional embedding through
    * the per-partition codec boundary; composition with the ANN surface is
    * spec-proven (media → features → KNN). */
  def featureBatch(media: DataFrame, dims: Int = 8): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map(r => MediaFeatures(r.media_id, Codec.features(r.payload, dims)))
    }
  }

  /** Frame-sample stage: explode a deterministic frame index per video,
    * keeping Spark-side fan-out semantics (one row per sampled frame). */
  def sampleFrames(decoded: Dataset[DecodedMeta], everyNth: Int = 4): DataFrame = {
    decoded.toDF()
      .filter(col("kind") === "video" && col("n_frames") > 0)
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyNth))).as("frame_idx"))
  }

  /** One sampled frame WITH its pixel payload. `decoded=false` marks a
    * frame the JVM could not actually decode (true video — no JDK codec):
    * the payload is EMPTY, never synthetic bytes posing as pixels. */
  final case class SampledFrame(media_id: Long, kind: String, frame_idx: Int,
      width: Int, height: Int, payload: Array[Byte], decoded: Boolean)

  /** Frame sampling WITH payloads: every `everyNth` frame of each
    * multi-frame container, through the same per-partition codec boundary
    * as the other stages. REAL frames (PNG-encoded rasters via
    * [[JvmCodec.extractFrame]]) for the containers this library decodes —
    * animated GIF (the JDK's shipped multi-frame codec) and MJPEG streams
    * (own boundary parse + the JDK JPEG codec, [[JvmCodec.mjpegFrames]]);
    * for other video containers the row keeps the fan-out shape but
    * carries an empty payload and `decoded=false` — an explicit marker at
    * the codec seam where a deployment's codec plugs in, not a silent
    * fake. */
  def sampleFramePayloads(media: DataFrame, everyNth: Int = 4): Dataset[SampledFrame] = {
    require(everyNth > 0)
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val (w, h, nFrames, _) = Codec.decode(r.payload)
        (0 until math.max(nFrames, 0) by everyNth).iterator.map { i =>
          JvmCodec.extractFrame(r.payload, i) match {
            case Some(png) => SampledFrame(r.media_id, r.kind, i, w, h, png, decoded = true)
            case None =>
              SampledFrame(r.media_id, r.kind, i, w, h, Array.emptyByteArray, decoded = false)
          }
        }
      }
    }
  }
}
