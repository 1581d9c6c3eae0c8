package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One multimodal asset: opaque bytes + typed metadata. */
case class MediaRow(
    doc_id: Long,
    modality: String,     // image | audio | video
    bytes: Array[Byte],
    n_bytes: Long)

/** Decoded media features (quarantine rows carry −1 dimensions). */
case class MediaFeatures(
    doc_id: Long,
    modality: String,
    width: Int,
    height: Int,
    duration_ms: Long,
    features: Array[Float])

/**
 * Multimodal-column plumbing for the training-data pipeline: media as opaque
 * `binary` columns with typed metadata, decode / feature-extract staged as
 * batched partition-level transforms.
 *
 * All three modalities are REAL codecs for container-less formats parseable
 * on a bare JVM: 24-bpp BMP ([[encodeBmp]]/[[parseBmp]]), PCM-16 RIFF/WAVE
 * ([[encodeWav]]/[[parseWav]]), and YUV4MPEG2 video
 * ([[encodeY4m]]/[[parseY4m]] — round-4) —
 * the corpus synthesizer emits genuine format bytes and the decode stage
 * parses them (header validation included), so the whole decode path is
 * exercised end-to-end (q25's oracle recomputes the expected
 * dimensions/durations from the generation parameters). Bytes no codec
 * accepts are flagged as quarantine rows (width/height/duration −1). The
 * surrounding plumbing — binary schema, `mapPartitions` batching
 * (amortizing per-batch codec/model init exactly like a Pandas-UDF batch
 * would), partition-by-modality routing, feature schema — is shared by all
 * three and tested.
 */
object Multimodal {

  // ---- real codecs (pure JVM) ---------------------------------------------

  /** Minimal 24-bpp BMP encoder (BITMAPINFOHEADER, bottom-up rows, 4-byte
   *  row padding) — real, openable format bytes. */
  def encodeBmp(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) & ~3
    val dataLen = rowBytes * h
    val bb = java.nio.ByteBuffer.allocate(54 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
      .putInt(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataLen).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1
    while (y >= 0) { // bottom-up
      var x = 0
      while (x < w) {
        val v = pix(x, y)
        bb.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte).put(((v >> 16) & 0xff).toByte)
        x += 1
      }
      var p = w * 3
      while (p < rowBytes) { bb.put(0.toByte); p += 1 }
      y -= 1
    }
    bb.array()
  }

  /** Parse a BMP: (width, height) after validating magic + header. */
  def parseBmp(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Some((bb.getInt(18), bb.getInt(22)))
  }

  /** Minimal PCM-16 mono RIFF/WAVE encoder — real format bytes. */
  def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** Parse a PCM-16 mono WAV: (sampleRate, nSamples) after validating the
   *  RIFF/WAVE/fmt/data chunks. */
  def parseWav(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(b, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE" || tag(12) != "fmt " || tag(36) != "data") return None
    val rate = bb.getInt(24)
    val dataLen = bb.getInt(40)
    Some((rate, dataLen / 2))
  }

  /** Minimal YUV4MPEG2 (.y4m) encoder — the container-less video format:
   *  one ASCII header line, then `FRAME\n` + raw planar YUV per frame.
   *  `C444` sampling (one byte per component per pixel, no even-dimension
   *  constraint): frame payload = 3·w·h bytes. Real, playable format bytes
   *  (mpv/ffmpeg open them). */
  def encodeY4m(w: Int, h: Int, fpsNum: Int, fpsDen: Int,
                frames: Array[Array[Byte]]): Array[Byte] = {
    require(frames.forall(_.length == 3 * w * h), "C444 frame = 3*w*h bytes")
    val header = s"YUV4MPEG2 W$w H$h F$fpsNum:$fpsDen Ip A1:1 C444\n"
      .getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val out = java.nio.ByteBuffer.allocate(
      header.length + frames.map(f => marker.length + f.length).sum)
    out.put(header)
    frames.foreach { f => out.put(marker); out.put(f) }
    out.array()
  }

  /** Parse a y4m stream: `(width, height, fpsNum, fpsDen, nFrames)` after
   *  validating the magic, the W/H/F tags, the colourspace (C444 or C420
   *  family), every FRAME marker, and exact payload termination. */
  def parseY4m(b: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    val nl = b.indexOf('\n'.toByte)
    if (nl < 0) return None
    val header = new String(b, 0, nl, "US-ASCII")
    val toks = header.split(' ')
    if (toks.isEmpty || toks(0) != "YUV4MPEG2") return None
    var w = -1; var h = -1; var num = -1; var den = -1
    var cspace = "C420jpeg" // y4m default when the C tag is absent
    try toks.drop(1).foreach { t =>
      if (t.nonEmpty) t.charAt(0) match {
        case 'W' => w = t.substring(1).toInt
        case 'H' => h = t.substring(1).toInt
        case 'F' =>
          val Array(n, d) = t.substring(1).split(':'); num = n.toInt; den = d.toInt
        case 'C' => cspace = t
        case _ => () // Ip, A1:1, X… metadata: irrelevant to geometry
      }
    } catch { case _: RuntimeException => return None }
    if (w <= 0 || h <= 0 || num <= 0 || den <= 0) return None
    val frameLen =
      if (cspace.startsWith("C444")) 3 * w * h
      else if (cspace.startsWith("C420") && w % 2 == 0 && h % 2 == 0) w * h * 3 / 2
      else return None
    val marker = "FRAME".getBytes("US-ASCII")
    var pos = nl + 1
    var nFrames = 0
    while (pos < b.length) {
      if (pos + marker.length > b.length ||
          !marker.indices.forall(i => b(pos + i) == marker(i))) return None
      // the y4m spec requires frame params to START WITH A SPACE: the byte
      // after FRAME must be '\n' (no params) or ' ' — 'FRAMEX…' is malformed,
      // not a parameter list (round-4 ADVICE: lenient scan accepted it)
      if (pos + marker.length < b.length) {
        val next = b(pos + marker.length)
        if (next != '\n'.toByte && next != ' '.toByte) return None
      }
      var eol = pos + marker.length // frame-level params run to the newline
      while (eol < b.length && b(eol) != '\n'.toByte) eol += 1
      if (eol >= b.length || eol + 1 + frameLen > b.length) return None
      pos = eol + 1 + frameLen
      nFrames += 1
    }
    if (nFrames == 0) None else Some((w, h, num, den, nFrames))
  }

  /** Quarantine row for bytes no codec accepts: width/height/duration all
   *  −1, empty features — a real pipeline routes these to a quarantine sink
   *  rather than inventing fake dimensions from raw bytes. */
  private def quarantined(row: MediaRow): MediaFeatures =
    MediaFeatures(row.doc_id, row.modality, -1, -1, -1L, Array.fill(8)(0.0f))

  /** Synthesize a media table with REAL format bytes, deterministically from
   *  the documents table: images are genuine BMPs sized by doc_id, audio is
   *  genuine PCM-16 WAV sampled from the text bytes, video is genuine
   *  YUV4MPEG2 with geometry/frame count from doc_id and planes from the
   *  text bytes. */
  def realMediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text0) =>
        val text = if (text0 == null) "" else text0
        val modality = (id % 3) match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
        val bytes = modality match {
          case "image" =>
            val w = (id % 31 + 1).toInt
            val h = (id % 23 + 1).toInt
            encodeBmp(w, h, (x, y) =>
              if (text.isEmpty) 0
              else text.charAt(((x * 7 + y * 13 + id) % text.length).toInt).toInt & 0xffffff)
          case "audio" =>
            val n = math.min(text.length, 4000)
            val samples = new Array[Short](n)
            var i = 0
            while (i < n) { samples(i) = (((text.charAt(i) & 0xff) - 128) << 8).toShort; i += 1 }
            encodeWav(samples, 8000)
          case _ =>
            // genuine y4m: geometry + frame count from doc_id, planes from text
            val w = (id % 17 + 1).toInt
            val h = (id % 13 + 1).toInt
            val nf = (id % 5 + 1).toInt
            val frames = Array.tabulate(nf) { f =>
              val fb = new Array[Byte](3 * w * h)
              var i = 0
              while (i < fb.length) {
                fb(i) =
                  if (text.isEmpty) 0
                  else (text.charAt(((i * 7L + f * 13L + id) % text.length).toInt) & 0xff).toByte
                i += 1
              }
              fb
            }
            encodeY4m(w, h, 25, 1, frames)
        }
        MediaRow(id, modality, bytes, bytes.length.toLong)
      }
  }

  /** Decode dispatch: REAL parse for all three modalities (BMP / WAV / y4m);
   *  unparseable bytes become quarantine rows (width = −1 — a real pipeline
   *  routes them to a quarantine sink). */
  def decode(row: MediaRow): MediaFeatures = row.modality match {
    case "image" => parseBmp(row.bytes) match {
      case Some((w, h)) =>
        val features = new Array[Float](8)
        var i = 54
        while (i < row.bytes.length) { features(i % 8) += (row.bytes(i) & 0xff) / 255.0f; i += 1 }
        MediaFeatures(row.doc_id, row.modality, w, h, 0L, features)
      case None => quarantined(row)
    }
    case "audio" => parseWav(row.bytes) match {
      case Some((rate, n)) =>
        val features = new Array[Float](8)
        var i = 44
        while (i < row.bytes.length) { features(i % 8) += (row.bytes(i) & 0xff) / 255.0f; i += 1 }
        MediaFeatures(row.doc_id, row.modality, 0, 0, n.toLong * 1000L / rate, features)
      case None => quarantined(row)
    }
    case _ => parseY4m(row.bytes) match {
      case Some((w, h, num, den, nFrames)) =>
        val features = new Array[Float](8)
        val start = row.bytes.indexOf('\n'.toByte) + 1
        var i = start
        while (i < row.bytes.length) { features(i % 8) += (row.bytes(i) & 0xff) / 255.0f; i += 1 }
        MediaFeatures(row.doc_id, row.modality, w, h,
          nFrames.toLong * 1000L * den / num, features)
      case None => quarantined(row)
    }
  }

  /**
   * Batched feature extraction: one "decoder" per partition (the expensive
   * init a real codec/model would need), rows streamed through it. Partition
   * by modality first so each task hosts one decoder kind — the shape a
   * mixed-modality corpus needs at scale.
   */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media
      .repartition(col("modality"))
      .mapPartitions { rows =>
        // per-partition init happens here (codec handles, model weights, …)
        rows.map(decode)
      }
  }

  /** Metadata projection (oracle-checkable): byte counts + leading-byte
   *  pseudo-dimensions straight from expressions — the cheap catalog-stats
   *  path that never decodes (q19's declared metadata contract). */
  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("modality"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("width"),
        ascii(substring(col("text"), 2, 1)).cast("long").as("height"))
}
