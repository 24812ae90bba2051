package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in partition-sized
  * batches.
  *
  * Image payloads are decoded for real with the JDK's built-in
  * `javax.imageio.ImageIO` codecs (PNG/JPEG/GIF/BMP, headless-safe):
  * true dimensions, pixel-luminance features, and an actual pixel
  * rescale in [[resize]]. Audio payloads are decoded for real with the
  * JDK's `javax.sound.sampled` readers (WAV/AIFF/AU): true duration
  * from the header, amplitude-histogram features over 16-bit PCM
  * samples. Video payloads get a real MP4/QuickTime container parse
  * ([[readVideoMeta]]: `moov/mvhd` duration, `tkhd` presentation size —
  * metadata, not frames; no frame codec ships with the JDK). Payloads
  * no parser accepts — including the synthetic test corpus — fall back
  * to [[decodeStub]], a deterministic fake, so every pipeline stays
  * exercisable end-to-end without media fixtures.
  *
  * At scale the payload column stays columnar in parquet (binary),
  * `spark.sql.files.maxPartitionBytes` bounds task memory, and the
  * decode runs once per partition batch — the same shape a Pandas-UDF
  * `mapInPandas` pipeline has in PySpark.
  */
object Multimodal {

  // ImageIO never needs a display, but pin headless mode so executors
  // can't try to initialize a windowing toolkit.
  System.setProperty("java.awt.headless", "true")

  /** Real image decode: JDK ImageIO, or None if no installed codec
    * accepts the payload (wrong magic bytes, truncated file, or a
    * non-image kind). */
  def readImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)))
    catch { case _: Exception => None }

  /** Real audio header decode: JDK `javax.sound.sampled` parses
    * WAV/AIFF/AU containers (no external codec). Returns
    * (channels, sampleRateHz, durationMs), or None when no installed
    * reader accepts the payload (MP3/OGG/… and all synthetic fixtures). */
  def readAudio(payload: Array[Byte])
      : Option[(Int, Int, Int)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val frames = in.getFrameLength
        if (frames >= 0 && fmt.getFrameRate > 0)
          Some((fmt.getChannels, fmt.getSampleRate.toInt,
            (frames * 1000.0 / fmt.getFrameRate).toInt))
        else None
      } finally in.close()
    } catch { case _: Exception => None }

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)

  /** ISO-BMFF box scan over b[from, to): (type, payloadStart, payloadEnd)
    * per well-formed box; stops at the first malformed header. Handles
    * the 64-bit largesize (size==1) and to-end (size==0) forms. */
  private def boxScan(b: Array[Byte], from: Int,
                      to: Int): List[(String, Int, Int)] = {
    val out = List.newBuilder[(String, Int, Int)]
    var o = from
    var bad = false
    while (!bad && o + 8 <= to) {
      var size = be32(b, o)
      val typ = new String(b, o + 4, 4,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      var hdr = 8L
      if (size == 1 && o + 16 <= to) { size = be64(b, o + 8); hdr = 16 }
      else if (size == 0) size = to - o
      if (size < hdr || o + size > to ||
          !typ.forall(c => c >= 0x20 && c < 0x7f)) bad = true
      else {
        out += ((typ, o + hdr.toInt, o + size.toInt))
        o += size.toInt
      }
    }
    out.result()
  }

  /** Real video-container metadata: ISO base-media / MP4 / QuickTime box
    * parse (public spec ISO/IEC 14496-12). Movie duration comes from
    * `moov/mvhd` (duration/timescale, version 0 and 1 layouts);
    * presentation size from the first `moov/trak/tkhd` with nonzero
    * 16.16 fixed-point width/height. Pure byte-walk, JDK-only — this is
    * a METADATA decode (the pipeline's partition/batch shape), not a
    * frame codec. None unless the payload leads with a well-formed box
    * tree containing `moov` — random or synthetic bytes never do. */
  def readVideoMeta(payload: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      val top = boxScan(payload, 0, payload.length)
      for {
        (_, ms, me) <- top.find(_._1 == "moov")
        moov = boxScan(payload, ms, me)
        (_, hs, _) <- moov.find(_._1 == "mvhd")
        v = payload(hs) & 0xff
        timescale = if (v == 1) be32(payload, hs + 20)
                    else be32(payload, hs + 12)
        duration = if (v == 1) be64(payload, hs + 24)
                   else be32(payload, hs + 16)
        if timescale > 0
      } yield {
        val durMs = (duration * 1000 / timescale).toInt
        val wh = moov.filter(_._1 == "trak").flatMap { case (_, ts, te) =>
          boxScan(payload, ts, te).find(_._1 == "tkhd").map {
            case (_, ks, _) =>
              val tv = payload(ks) & 0xff
              val wOff = if (tv == 1) ks + 88 else ks + 76
              ((be32(payload, wOff) >> 16).toInt,
                (be32(payload, wOff + 4) >> 16).toInt)
          }
        }.find(p => p._1 > 0 && p._2 > 0)
        (wh.map(_._1).getOrElse(0), wh.map(_._2).getOrElse(0), durMs)
      }
    } catch { case _: Exception => None }

  /** (width, height, durationMs): real ImageIO decode for images, real
    * WAV/AIFF/AU header decode for audio, real MP4/QuickTime `moov` box
    * parse for video metadata; deterministic stub for payloads no
    * parser accepts (the synthetic test corpus). */
  def decode(kind: String, payload: Array[Byte]): (Int, Int, Int) =
    (kind match {
      case "image" => readImage(payload).map(i =>
        (i.getWidth, i.getHeight, 0))
      case "audio" => readAudio(payload).map { case (_, _, ms) =>
        (0, 0, ms) }
      case "video" => readVideoMeta(payload)
      case _ => None
    }).getOrElse(decodeStub(kind, payload))

  /** STUB decode, for payloads no JDK codec accepts (all audio/video,
    * and non-image synthetic fixtures): derives deterministic
    * pseudo-dimensions from payload bytes so tests can assert exact
    * values end-to-end without media fixtures. */
  def decodeStub(kind: String, payload: Array[Byte]): (Int, Int, Int) = {
    val n = payload.length
    val h = payload.foldLeft(17)((a, b) => a * 31 + b) & 0x7fffffff
    kind match {
      case "image" => (64 + h % 1024, 64 + (h / 1024) % 1024, 0)
      case "audio" => (0, 0, 1000 + h % 600000)
      case "video" => (64 + h % 1920, 64 + (h / 1920) % 1080,
        1000 + (h / 7) % 600000)
      case _ => (0, 0, 0)
    }
  }

  /** Single container parse for the featurize hot path: duration plus
    * the decoded 16-bit PCM samples (empty array for non-PCM16 streams)
    * — one `getAudioInputStream` instead of a header pass + a sample
    * pass. */
  private def readAudioFull(payload: Array[Byte])
      : Option[(Int, Array[Short])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val frames = in.getFrameLength
        if (frames < 0 || fmt.getFrameRate <= 0) None
        else {
          val durMs = (frames * 1000.0 / fmt.getFrameRate).toInt
          val samples =
            if (fmt.getEncoding !=
                  javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
                fmt.getSampleSizeInBits != 16) Array.empty[Short]
            else {
              val bytes = in.readAllBytes()
              val out = new Array[Short](bytes.length / 2)
              var i = 0
              while (i < out.length) {
                val b0 = bytes(2 * i) & 0xff // first byte on the wire
                val b1 = bytes(2 * i + 1) & 0xff
                out(i) = (if (fmt.isBigEndian) (b0 << 8) | b1
                          else (b1 << 8) | b0).toShort
                i += 1
              }
              out
            }
          Some((durMs, samples))
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** All samples of a signed-16-bit PCM stream (any endianness, channels
    * interleaved); empty for non-PCM16 payloads. */
  def readPcm16(payload: Array[Byte]): Array[Short] =
    readAudioFull(payload).map(_._2).getOrElse(Array.empty[Short])

  private val featSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", IntegerType, nullable = false),
    StructField("feature", ArrayType(FloatType), nullable = false)))

  /** Batch decode + feature extraction over (media_id, kind, payload)
    * rows: one pass per partition, no driver collection. The 8-dim
    * feature is a normalized luminance histogram over real pixels when
    * the payload decodes, a byte histogram otherwise. */
  def decodeAndFeaturize(media: DataFrame): DataFrame = {
    val idI = media.columns.indexOf("media_id")
    val kindI = media.columns.indexOf("kind")
    val payI = media.columns.indexOf("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payI)
        val kind = r.getString(kindI)
        val img = if (kind == "image") readImage(payload) else None
        val hist = new Array[Float](8)
        val (w, h, d) = img match {
          case Some(i) =>
            var y = 0
            while (y < i.getHeight) {
              var x = 0
              while (x < i.getWidth) {
                val rgb = i.getRGB(x, y)
                // integer Rec.601 luma, banded into 8 bins
                val lum = (((rgb >> 16) & 0xff) * 299 +
                  ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
                hist(lum / 32) += 1f
                x += 1
              }
              y += 1
            }
            val n = math.max(i.getWidth * i.getHeight, 1).toFloat
            var b = 0
            while (b < 8) { hist(b) /= n; b += 1 }
            (i.getWidth, i.getHeight, 0)
          case None =>
            val audio = if (kind == "audio") readAudioFull(payload) else None
            audio match {
              case Some((durMs, samples)) =>
                // real audio: 8-bin |amplitude| histogram over 16-bit
                // PCM samples (the dominant WAV layout); non-PCM
                // containers fall back to a byte histogram below
                if (samples.length > 0) {
                  samples.foreach(s =>
                    hist(math.min(math.abs(s.toInt), 32767) / 4096) += 1f)
                  val n = samples.length.toFloat
                  var b = 0
                  while (b < 8) { hist(b) /= n; b += 1 }
                } else {
                  payload.foreach(b => hist((b & 0xff) / 32) += 1f)
                  val n = math.max(payload.length, 1).toFloat
                  var b = 0
                  while (b < 8) { hist(b) /= n; b += 1 }
                }
                (0, 0, durMs)
              case None =>
                payload.foreach(b => hist((b & 0xff) / 32) += 1f)
                val n = math.max(payload.length, 1).toFloat
                var b = 0
                while (b < 8) { hist(b) /= n; b += 1 }
                // real MP4/QuickTime metadata when the payload carries a
                // moov box tree; deterministic stub otherwise
                val vid =
                  if (kind == "video") readVideoMeta(payload) else None
                vid.getOrElse(decodeStub(kind, payload))
            }
        }
        Row(r.getLong(idI), kind, payload.length, w, h, d, hist.toSeq)
      }
    }(RowEncoder.encoderFor(featSchema))
  }

  /** Frame sampling stub for video payloads: every `everyMs` ms up to
    * the stub duration — the explode shape (1 video → N frame rows) a
    * real sampler has. */
  def sampleFrames(media: DataFrame, everyMs: Int): DataFrame =
    decodeAndFeaturize(media)
      .filter(col("kind") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0), col("duration_ms"), lit(everyMs)))
          .as("frame_ts_ms"))

  private val resizedSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  private def fitBox(w: Int, h: Int, maxW: Int, maxH: Int): (Int, Int) = {
    val scale = math.min(1.0,
      math.min(maxW.toDouble / math.max(w, 1),
        maxH.toDouble / math.max(h, 1)))
    (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
  }

  /** Aspect-preserving downscale into a (maxW, maxH) box. Decodable
    * images are really rescaled (Graphics2D bilinear) and re-encoded as
    * PNG; everything else keeps the stub contract — deterministic
    * payload whose SIZE scales with the target box. Either way the
    * batch shape is the real one: per-partition pass, binary in /
    * binary out, bounded output size. */
  def resize(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val idI = media.columns.indexOf("media_id")
    val kindI = media.columns.indexOf("kind")
    val payI = media.columns.indexOf("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payI)
        val kind = r.getString(kindI)
        val img = if (kind == "image") readImage(payload) else None
        img match {
          case Some(i) =>
            val (nw, nh) = fitBox(i.getWidth, i.getHeight, maxW, maxH)
            val scaled = new java.awt.image.BufferedImage(nw, nh,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = scaled.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(i, 0, 0, nw, nh, null)
            g.dispose()
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(scaled, "png", baos)
            Row(r.getLong(idI), kind, nw, nh, baos.toByteArray)
          case None =>
            val (w, h, _) = decodeStub(kind, payload)
            val (nw, nh) = fitBox(w, h, maxW, maxH)
            // stub "pixels": payload cycled to the new byte budget (an
            // empty payload yields zero-filled output — no modulo
            // indexing into a zero-length array)
            val out = new Array[Byte](math.max(1, nw * nh / 64))
            if (payload.length > 0) {
              var i = 0
              while (i < out.length) {
                out(i) = payload(i % payload.length); i += 1
              }
            }
            Row(r.getLong(idI), kind, nw, nh, out)
        }
      }
    }(RowEncoder.encoderFor(resizedSchema))
  }
}
