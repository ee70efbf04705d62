package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.Tables

/** Multimodal-column pipeline (SURVEY.md §2.F).
  *
  * Real pipelines carry image/audio/video as opaque `binary` columns
  * with typed metadata, decoded per-batch inside the executors. Here
  * BOTH halves are real:
  *   - payloads are REAL uncompressed formats, synthesized
  *     deterministically from the documents table (no blob store in the
  *     container): binary PGM (P5) images, RIFF/WAVE 8-bit PCM audio,
  *     and a length-prefixed raw-frame video container;
  *   - the decode kernels are REAL format parsers — magic/header
  *     validation, dimension extraction, and a pixel/sample scan — not
  *     hash stand-ins.
  * Compressed-codec support: JPEG is REAL (the JDK's javax.imageio
  * codec behind a magic-sniff branch — see `decodeImage`/`jpegTable`).
  * Audio/video codecs (MP3/AAC, H.264) remain external (JNI libs not
  * in this container) — the decoder interface, the per-partition
  * batching (one decoder init per partition, not per row), and the
  * typed feature schema are exactly what ffmpeg-class libraries plug
  * into.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           checksum: Long, width: Int, height: Int, mean_intensity: Double)

  // --- payload synthesis (real formats, deterministic content) ---

  private def pixels(seed: Array[Byte], n: Int): Array[Byte] = {
    // empty text must still yield a valid payload, not a / by zero
    val s = if (seed.isEmpty) Array[Byte](0) else seed
    Array.tabulate(n)(i => (s(i % s.length) * 31 + i).toByte)
  }

  /** Binary PGM (netpbm P5): ASCII header `P5\n<w> <h>\n255\n` + w·h
    * gray bytes.
    */
  private def synthPgm(docId: Long, seed: Array[Byte]): Array[Byte] = {
    val w = 16 + (docId % 16).toInt
    val h = 16 + ((docId / 16) % 16).toInt
    val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
    header ++ pixels(seed, w * h)
  }

  /** RIFF/WAVE, PCM (format 1), mono, 8 kHz, 8-bit unsigned samples —
    * the canonical 44-byte header + data chunk.
    */
  private def synthWav(docId: Long, seed: Array[Byte]): Array[Byte] = {
    val n = 256 + (docId % 512).toInt
    val bb = ByteBuffer.allocate(44 + n).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000)
      .putShort(1).putShort(8)
    bb.put("data".getBytes("US-ASCII")).putInt(n)
    bb.put(pixels(seed, n))
    bb.array()
  }

  /** Raw-frame video container `GFV0 | u16 n_frames | u16 w | u16 h |
    * n_frames·w·h gray bytes` (big-endian) — the uncompressed analogue
    * of a fourcc'd AVI stream; frame count is IN THE HEADER, which is
    * what makes header-only column parsing (frameSamplePlan) honest.
    */
  private def synthVideo(docId: Long, seed: Array[Byte]): Array[Byte] = {
    val (w, h) = (16, 16)
    val nf = 30 + (docId % 100).toInt
    val bb = ByteBuffer.allocate(10 + nf * w * h).order(ByteOrder.BIG_ENDIAN)
    bb.put("GFV0".getBytes("US-ASCII"))
      .putShort(nf.toShort).putShort(w.toShort).putShort(h.toShort)
    bb.put(pixels(seed, nf * w * h))
    bb.array()
  }

  /** Real JPEG via the JDK's built-in encoder (javax.imageio — no new
    * deps): the deterministic gray pixel plane compressed with the
    * default JFIF writer. The first COMPRESSED codec behind the decoder
    * interface.
    */
  private def synthJpeg(docId: Long, seed: Array[Byte]): Array[Byte] = {
    val w = 16 + (docId % 16).toInt
    val h = 16 + ((docId / 16) % 16).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, pixels(seed, w * h))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  /** The media table: real-format binary payloads, one per document. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (docId, text) =>
        val seed = text.getBytes("UTF-8")
        val kind = docId % 3 match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val payload = kind match {
          case "image" => synthPgm(docId, seed)
          case "audio" => synthWav(docId, seed)
          case _       => synthVideo(docId, seed)
        }
        MediaRow(docId, kind, payload)
      }
  }

  /** JPEG variant of the media table: every image-slot document's gray
    * plane as a REAL compressed JPEG (kind stays "image" — the decoder
    * registry routes by MAGIC, not by table).
    */
  def jpegTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._1 % 3 == 0) // the image slots of mediaTable
      .map { case (docId, text) =>
        MediaRow(docId, "image", synthJpeg(docId, text.getBytes("UTF-8")))
      }
  }

  /** Real PNG via the same JDK codec — the LOSSLESS compressed branch:
    * unlike JPEG, the decoded plane is bit-identical to the source
    * pixels, so the PNG spec asserts mean luma EXACTLY equal to the
    * uncompressed PGM's, not within a lossy tolerance.
    */
  private def synthPng(docId: Long, seed: Array[Byte]): Array[Byte] = {
    val w = 16 + (docId % 16).toInt
    val h = 16 + ((docId / 16) % 16).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, pixels(seed, w * h))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** PNG variant of the media table (same image slots as jpegTable). */
  def pngTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(_._1 % 3 == 0)
      .map { case (docId, text) =>
        MediaRow(docId, "image", synthPng(docId, text.getBytes("UTF-8")))
      }
  }

  // --- decode kernels (real parsers) ---

  /** Image dispatch by MAGIC: JPEG's SOI marker (FF D8) and PNG's
    * signature (89 'PNG') route to the imageio codec, netpbm's "P5" to
    * the PGM parser — the sniff every real media pipeline does before
    * touching a codec (content types lie; magic bytes don't).
    */
  private def decodeImage(p: Array[Byte]): (Int, Int, Double) =
    if (p.length > 2 && (p(0) & 0xff) == 0xFF && (p(1) & 0xff) == 0xD8) decodeImageIo(p)
    else if (p.length > 4 && (p(0) & 0xff) == 0x89 && p(1) == 'P' &&
      p(2) == 'N' && p(3) == 'G') decodeImageIo(p)
    else decodePgm(p)

  /** Decode JPEG/PNG via the JDK codec (javax.imageio — format picked
    * by the codec's own signature scan): dims + mean luma of band 0
    * over the decoded raster.
    */
  private def decodeImageIo(p: Array[Byte]): (Int, Int, Double) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
    require(img != null, "undecodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    var s = 0L; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { s += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    (w, h, s.toDouble / (w.toLong * h) / 255.0)
  }

  /** Parse binary PGM: validate magic, read ASCII dims/maxval, mean
    * gray over the pixel plane.
    */
  private def decodePgm(p: Array[Byte]): (Int, Int, Double) = {
    require(p.length > 2 && p(0) == 'P' && p(1) == '5', "not a P5 PGM")
    var i = 2
    def token(): Int = {
      while (i < p.length && p(i).toChar.isWhitespace) i += 1
      var v = 0
      while (i < p.length && p(i) >= '0' && p(i) <= '9') { v = v * 10 + (p(i) - '0'); i += 1 }
      v
    }
    val w = token(); val h = token(); val maxv = token()
    i += 1 // single whitespace after maxval per spec
    require(w > 0 && h > 0 && maxv > 0 && p.length - i >= w * h, "truncated PGM")
    var s = 0L; var j = i
    while (j < i + w * h) { s += p(j) & 0xff; j += 1 }
    (w, h, s.toDouble / (w.toLong * h) / maxv)
  }

  /** Parse RIFF/WAVE: validate chunk ids + PCM format, mean normalized
    * deviation from the 8-bit midpoint over the data chunk. Returns
    * (n_samples, 1, mean) — audio "width" is its sample count.
    */
  private def decodeWav(p: Array[Byte]): (Int, Int, Double) = {
    val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    def fourcc(at: Int): String = new String(p, at, 4, "US-ASCII")
    require(fourcc(0) == "RIFF" && fourcc(8) == "WAVE", "not a RIFF/WAVE")
    require(fourcc(12) == "fmt " && bb.getShort(20) == 1, "not PCM")
    val bitsPerSample = bb.getShort(34)
    require(fourcc(36) == "data", "missing data chunk")
    val n = bb.getInt(40)
    require(bitsPerSample == 8 && p.length >= 44 + n, "truncated WAV")
    var s = 0L; var j = 44
    while (j < 44 + n) { s += math.abs((p(j) & 0xff) - 128); j += 1 }
    // /128 keeps the mean in [0,1] (|sample−128| reaches 128); an empty
    // data chunk is structurally valid → silence, not NaN
    (n, 1, if (n == 0) 0.0 else s.toDouble / n / 128.0)
  }

  case class AudioFeatures(media_id: Long, n_samples: Long, sample_rate: Long,
                           duration_s: Double, rms: Double, zcr: Double, peak: Double)

  /** REAL audio DSP over the PCM data chunk (F5): the standard
    * first-stage audio features every speech/music pipeline extracts —
    * RMS energy, zero-crossing rate (the cheap voicing/noisiness
    * signal), peak amplitude, and wall-clock duration from the
    * header's sample rate. Samples are normalized to [−1, 1] from the
    * 8-bit midpoint; ZCR counts strict sign flips over adjacent
    * samples (zero counts as non-negative), divided by n−1.
    *
    * Unlike the compressed codecs (MP3/AAC — declared external), PCM
    * needs no codec: this is a complete, real decode path with zero
    * dependencies, same as the PGM/PNG image branches.
    */
  private[graft] def audioDsp(mediaId: Long, p: Array[Byte]): AudioFeatures = {
    val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    def fourcc(at: Int): String = new String(p, at, 4, "US-ASCII")
    require(fourcc(0) == "RIFF" && fourcc(8) == "WAVE", "not a RIFF/WAVE")
    require(fourcc(12) == "fmt " && bb.getShort(20) == 1, "not PCM")
    val sampleRate = bb.getInt(24)
    require(bb.getShort(34) == 8, "only 8-bit PCM")
    require(fourcc(36) == "data", "missing data chunk")
    val n = bb.getInt(40)
    require(p.length >= 44 + n, "truncated WAV")
    var sumSq = 0.0; var peak = 0.0; var flips = 0L
    var prevPos = true; var j = 44
    while (j < 44 + n) {
      val x = ((p(j) & 0xff) - 128) / 128.0
      sumSq += x * x
      val ax = math.abs(x); if (ax > peak) peak = ax
      val pos = x >= 0
      if (j > 44 && pos != prevPos) flips += 1
      prevPos = pos
      j += 1
    }
    AudioFeatures(mediaId, n.toLong, sampleRate.toLong,
      if (sampleRate == 0) 0.0 else n.toDouble / sampleRate,
      if (n == 0) 0.0 else math.sqrt(sumSq / n),
      if (n <= 1) 0.0 else flips.toDouble / (n - 1),
      peak)
  }

  /** F5: the audio-feature extraction over the media table's audio
    * slice — one typed map partition, same batching contract as F1.
    */
  def audioFeaturesOf(spark: SparkSession,
                      media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.filter(_.kind == "audio")
      .mapPartitions(_.map(r => audioDsp(r.media_id, r.payload)))
  }

  def audioFeatures(spark: SparkSession, dir: String): Dataset[AudioFeatures] =
    audioFeaturesOf(spark, mediaTable(spark, dir))

  /** Parse the GFV0 container: validate magic, read frame geometry,
    * mean gray over ALL frames.
    */
  private def decodeVideo(p: Array[Byte]): (Int, Int, Double) = {
    val bb = ByteBuffer.wrap(p).order(ByteOrder.BIG_ENDIAN)
    require(new String(p, 0, 4, "US-ASCII") == "GFV0", "not a GFV0 stream")
    val nf = bb.getShort(4) & 0xffff
    val w = bb.getShort(6) & 0xffff
    val h = bb.getShort(8) & 0xffff
    require(p.length >= 10 + nf * w * h, "truncated GFV0")
    var s = 0L; var j = 10
    while (j < 10 + nf * w * h) { s += p(j) & 0xff; j += 1 }
    (w, h, s.toDouble / (nf.toLong * w * h) / 255.0)
  }

  /** F1: binary → typed feature extraction via mapPartitions (decoder
    * dispatch initialized once per partition; rows stream through in
    * one pass). The parsers above are the "codec"; a compressed-format
    * build swaps them for JNI calls behind the same (Int, Int, Double)
    * interface.
    */
  def features(spark: SparkSession, dir: String): Dataset[MediaFeatures] =
    featuresOf(spark, mediaTable(spark, dir))

  /** F1b: the same registry over the JPEG table — the magic sniff
    * routes these to the imageio codec.
    */
  def jpegFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] =
    featuresOf(spark, jpegTable(spark, dir))

  /** F4b: the registry over the PNG table — lossless compressed branch. */
  def pngFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] =
    featuresOf(spark, pngTable(spark, dir))

  private def featuresOf(spark: SparkSession,
                         media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init happens HERE (once), not per row
      val decode: (String, Array[Byte]) => (Int, Int, Double) = {
        case ("image", p) => decodeImage(p) // magic sniff: JPEG vs PGM
        case ("audio", p) => decodeWav(p)
        case (_, p)       => decodeVideo(p)
      }
      rows.map { r =>
        val (w, h, mean) = decode(r.kind, r.payload)
        var c = 0L
        var i = 0
        while (i < r.payload.length) { c = (c * 131 + r.payload(i)) & 0xffffffffL; i += 1 }
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, c, w, h,
          math.rint(mean * 10000) / 10000)
      }
    }
  }

  /** F3: resize plan for image rows — aspect-preserving fit into a
    * target box, computed from the decoded dimensions. Pure column math
    * over the feature table; emits the (scale, out_w, out_h) every
    * image pipeline needs before batching into a model.
    */
  def resizePlan(spark: SparkSession, dir: String,
                 targetW: Int = 224, targetH: Int = 224): DataFrame = {
    features(spark, dir).toDF()
      .filter(col("kind") === "image")
      .withColumn("scale", round(
        least(lit(targetW.toDouble) / col("width"), lit(targetH.toDouble) / col("height")), 4))
      .withColumn("out_w", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", floor(col("height") * col("scale")).cast("int"))
      .select("media_id", "width", "height", "scale", "out_w", "out_h")
      .orderBy("media_id")
  }

  /** F2: frame-index sampling plan for video rows — every `stride`th
    * frame up to the REAL frame count, parsed from the GFV0 header with
    * column functions only (bytes 5–6, big-endian u16): header-only
    * metadata extraction, no frame decode, fully codegen.
    */
  def frameSamplePlan(spark: SparkSession, dir: String, stride: Int = 10): DataFrame =
    mediaTable(spark, dir).toDF()
      .filter(col("kind") === "video")
      .withColumn("n_frames",
        expr("CAST(conv(hex(substring(payload, 5, 2)), 16, 10) AS INT)"))
      .select(col("media_id"), col("n_frames"),
        posexplode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .withColumnRenamed("pos", "sample_idx")
      .withColumnRenamed("col", "frame_idx")
      .orderBy("media_id", "sample_idx")
}
