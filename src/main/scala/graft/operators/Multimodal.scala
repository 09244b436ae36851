package graft.operators

import java.awt.image.BufferedImage
import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.ImageIO
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/** Multimodal columns: opaque binary payloads + typed metadata
  * (reference: converter.py:44 MarkItDown ingest of pdf/image/audio —
  * re-expressed as binary columns with a decode stage).
  *
  * Decode is REAL for every format the JDK itself ships a codec for:
  * PNG/JPEG/GIF/BMP/TIFF via `javax.imageio` (java.desktop module,
  * headless-safe) and WAV/PCM via a RIFF chunk parse — [[decode]],
  * [[resize]] (actual pixel resampling + PNG re-encode),
  * [[contentFeatures]] (per-channel means + luma, PCM RMS) and
  * [[frameSample]] (true multi-frame extraction for animated GIF). The
  * container formats get a REAL metadata-level parse with no codec:
  * [[parseMp3]] walks every MPEG frame header (exact VBR frame
  * counts / duration / rate / channels), [[parseWebp]] reads
  * dimensions from all three container layouts (VP8L/VP8X/VP8),
  * [[parseMp4]] walks ISO-BMFF boxes (mp4/m4a/mov: movie duration,
  * video dims, audio channels/rate), [[parseOgg]] walks Ogg pages
  * (Vorbis/Opus id headers + last-granule duration) and [[parseFlac]]
  * reads STREAMINFO. Every parser returns the one [[Decoded]] record
  * that [[decode]] emits as its `meta` struct and
  * [[Convert.mediaToText]] formats. Their SAMPLE data (pixels,
  * compressed audio/video frames) stays undecoded — that's the codec
  * itself, the one thing a pure JVM with no codec library genuinely
  * cannot do; unrecognized or corrupt payloads keep their row with a
  * NULL `meta`. Every stage is one mapPartitions pass ([[mapRows]]),
  * so swapping a JNI/ONNX decoder in changes no plan shape.
  */
object Multimodal {

  /** Real-decode metadata: one struct covers both modalities (images
    * leave the audio fields 0 and vice versa; undecodable payloads get
    * a NULL struct, never a dropped row).
    */
  val DecodedSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)
  ))

  /** One [[DecodedSchema]] row: what every parser returns. */
  private[operators] final case class Decoded(
      format: String, width: Int = 0, height: Int = 0, nFrames: Int = 0,
      channels: Int = 0, sampleRate: Int = 0, durationMs: Long = 0L)

  /** Magic-byte sniff — which codec family to hand the payload to. */
  private[operators] def sniff(b: Array[Byte]): String =
    if (b == null || b.length < 12) "unknown"
    else if (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b(0) == 0xff.toByte && b(1) == 0xd8.toByte) "jpeg"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') "wav"
    else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') "webp"
    else if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') "mp3" // ID3v2-tagged
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0 &&
      ((b(1) >> 1) & 3) == 1) "mp3" // bare frame sync, layer III
    else if (b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p') "mp4" // ISO-BMFF (m4a/mp4/mov)
    else if (b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S') "ogg"
    else if ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
      (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42)) "tiff" // JDK codec since 9
    else if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') "flac"
    else "unknown"

  // Unsigned byte readers over (bytes, offset); 32-bit sizes come back
  // as non-negative Longs, so a hostile 0xFFFFFFF8 stays positive.
  private def le16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le24(b: Array[Byte], i: Int): Int = le16(b, i) | ((b(i + 2) & 0xff) << 16)
  private def le32(b: Array[Byte], i: Int): Long = le16(b, i).toLong | (le16(b, i + 2).toLong << 16)
  private def le64(b: Array[Byte], i: Int): Long = le32(b, i) | (le32(b, i + 4) << 32)
  private def be16(b: Array[Byte], i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Long = (be16(b, i).toLong << 16) | be16(b, i + 2)
  private def be64(b: Array[Byte], i: Int): Long = (be32(b, i) << 32) | be32(b, i + 4)
  private def ascii(b: Array[Byte], i: Int, n: Int): String = new String(b, i, n, "US-ASCII")

  /** The RIFF chunk walk WAV and WebP share: (fourcc, body offset,
    * declared size) per chunk. The word-aligned advance runs in Long
    * over the unsigned size, clamped to the buffer — strictly
    * increasing, so a corrupt/hostile chunk size terminates the walk;
    * it can never stall it or step backwards.
    */
  private def riffChunks(b: Array[Byte]): Iterator[(String, Int, Long)] =
    Iterator.iterate(12) { pos =>
      val size = le32(b, pos + 4)
      math.min(pos.toLong + 8L + size + (size & 1L), b.length.toLong).toInt
    }.takeWhile(_ + 8 <= b.length).map(pos => (ascii(b, pos, 4), pos + 8, le32(b, pos + 4)))

  /** A WAV's fmt and data chunks (PCM or IEEE-float only): channels,
    * sample rate, bits per sample, data offset and data length.
    */
  private def wavChunks(b: Array[Byte]): Option[(Int, Int, Int, Int, Long)] = {
    if (sniff(b) != "wav") return None
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
    var data = (-1, -1L)                    // (offset, length)
    val chunks = riffChunks(b)
    while (chunks.hasNext && (fmt.isEmpty || data._2 < 0)) {
      val (id, p, size) = chunks.next()
      if (id == "fmt " && p + 16 <= b.length) {
        val audioFormat = le16(b, p)
        if (audioFormat != 1 && audioFormat != 3) return None
        fmt = Some((le16(b, p + 2), le32(b, p + 4).toInt, le16(b, p + 14)))
      } else if (id == "data") data = (p, math.min(size, b.length - p.toLong))
    }
    fmt.collect { case (ch, rate, bits) if data._2 >= 0 && ch > 0 && bits > 0 =>
      (ch, rate, bits, data._1, data._2)
    }
  }

  /** WAV facts from the RIFF fmt/data chunks. */
  private[operators] def parseWav(b: Array[Byte]): Option[Decoded] =
    wavChunks(b).map { case (ch, rate, bits, _, len) =>
      val n = len / (ch * bits / 8)
      Decoded("wav", nFrames = n.toInt, channels = ch, sampleRate = rate,
        durationMs = if (rate == 0) 0L else n * 1000L / rate)
    }

  // Layer III bitrate rows (kbps, index 1-14; 0 = free-format and
  // 15 = bad are rejected) and sample-rate rows by MPEG version.
  private val Mp3BitrateV1 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3BitrateV2 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val Mp3RateV1 = Array(44100, 48000, 32000)
  private val Mp3RateV2 = Array(22050, 24000, 16000)
  private val Mp3RateV25 = Array(11025, 12000, 8000)

  /** Parsed MPEG-audio facts from a per-frame header walk (the same
    * metadata-level REAL parse class as the WAV RIFF walk: no codec,
    * every frame header is read, so VBR files get exact frame counts
    * and durations — not a first-frame-bitrate guess).
    */
  private[operators] def parseMp3(b: Array[Byte]): Option[Decoded] = {
    if (b == null || b.length < 4) return None
    // skip an ID3v2 tag: 10-byte header, syncsafe 28-bit size
    var pos =
      if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
        10 + ((b(6) & 0x7f) << 21 | (b(7) & 0x7f) << 14 | (b(8) & 0x7f) << 7 | (b(9) & 0x7f))
      else 0
    if (pos < 0) return None // hostile syncsafe bytes can't go negative, belt and braces
    // tolerate padding between the tag and the first frame sync
    while (pos + 4 <= b.length &&
      !((b(pos) & 0xff) == 0xff && (b(pos + 1) & 0xe0) == 0xe0)) pos += 1
    var frames = 0
    var samplesNum = 0L // Σ samplesPerFrame, divided by rate at the end
    var channels = 0
    var rate = 0
    var ok = true
    while (ok && pos + 4 <= b.length) {
      val h0 = b(pos) & 0xff; val h1 = b(pos + 1) & 0xff
      val h2 = b(pos + 2) & 0xff; val h3 = b(pos + 3) & 0xff
      if (h0 != 0xff || (h1 & 0xe0) != 0xe0) ok = false
      else {
        val version = (h1 >> 3) & 3 // 0=MPEG2.5, 2=MPEG2, 3=MPEG1 (1=reserved)
        val layer = (h1 >> 1) & 3   // 1 = Layer III
        val brIdx = (h2 >> 4) & 0xf
        val srIdx = (h2 >> 2) & 3
        val padding = (h2 >> 1) & 1
        if (version == 1 || layer != 1 || brIdx == 0 || brIdx == 15 || srIdx == 3) ok = false
        else {
          val bitrate = (if (version == 3) Mp3BitrateV1 else Mp3BitrateV2)(brIdx) * 1000
          val sr = (version match {
            case 3 => Mp3RateV1
            case 2 => Mp3RateV2
            case _ => Mp3RateV25
          })(srIdx)
          if (frames == 0) {
            rate = sr
            channels = if (((h3 >> 6) & 3) == 3) 1 else 2
          } else if (sr != rate) ok = false // mid-stream rate switch: stop the walk
          if (ok) {
            // L3: 1152 samples/frame (MPEG1), 576 (MPEG2/2.5)
            val samples = if (version == 3) 1152 else 576
            val frameLen = samples / 8 * bitrate / sr + padding
            if (frameLen <= 4) ok = false // degenerate header: never stall
            else {
              frames += 1
              samplesNum += samples
              pos += frameLen
            }
          }
        }
      }
    }
    if (frames == 0 || rate == 0) None
    else Some(Decoded("mp3", nFrames = frames, channels = channels, sampleRate = rate,
      durationMs = samplesNum * 1000L / rate))
  }

  /** WebP dimensions from the container headers — REAL for all three
    * chunk layouts (VP8L lossless 14-bit dims, VP8X extended 24-bit
    * canvas, VP8 lossy frame tag); pixel decode stays honestly stubbed
    * (no JDK codec). Walks [[riffChunks]], like [[parseWav]].
    */
  private[operators] def parseWebp(b: Array[Byte]): Option[Decoded] =
    if (sniff(b) != "webp") None
    else riffChunks(b).collectFirst {
      case ("VP8L", p, _) if p + 5 <= b.length && (b(p) & 0xff) == 0x2f =>
        // 0x2F signature, then 14-bit (w-1), 14-bit (h-1) little-endian
        val bits = le32(b, p + 1)
        (1 + (bits & 0x3fff).toInt, 1 + ((bits >> 14) & 0x3fff).toInt)
      case ("VP8X", p, _) if p + 10 <= b.length => (1 + le24(b, p + 4), 1 + le24(b, p + 7))
      case ("VP8 ", p, _) if p + 10 <= b.length &&
        (b(p + 3) & 0xff) == 0x9d && (b(p + 4) & 0xff) == 0x01 && (b(p + 5) & 0xff) == 0x2a =>
        // 3-byte frame tag, 3-byte start code, then 14-bit dims
        (le16(b, p + 6) & 0x3fff, le16(b, p + 8) & 0x3fff)
    }.map { case (w, h) => Decoded("webp", w, h, nFrames = 1) }

  /** Container facts from an ISO-BMFF (mp4/m4a/mov) box walk — the
    * same metadata-level REAL parse class as the RIFF/MPEG walks:
    * movie duration from `mvhd`, video dimensions from the first
    * visual `stsd` sample entry, audio channels/sample-rate from the
    * first `mp4a` entry. Box sizes are read as unsigned with clamped
    * monotonic advance (size 1 = 64-bit largesize honored, size 0 =
    * to-end-of-enclosing), so hostile lengths terminate the walk.
    * Sample DATA (mdat) is never touched — codec decode stays stubbed.
    */
  private[operators] def parseMp4(b: Array[Byte]): Option[Decoded] = {
    if (sniff(b) != "mp4") return None
    var width = 0; var height = 0; var channels = 0; var rate = 0
    var durationMs = -1L

    // walk the children of [start, end); returns nothing — findings
    // land in the vars above (first-wins per fact)
    def walk(start: Long, end: Long, depth: Int): Unit = {
      if (depth > 8) return // corrupt self-nesting guard
      var pos = start
      while (pos + 8 <= end) {
        val size0 = be32(b, pos.toInt)
        val tpe = ascii(b, pos.toInt + 4, 4)
        var header = 8L
        val size =
          if (size0 == 1L && pos + 16 <= end) { header = 16L; be64(b, pos.toInt + 8) }
          else if (size0 == 0L) end - pos // last box: runs to enclosing end
          else size0
        if (size < header) return // hostile/corrupt: terminate
        val bodyStart = pos + header
        val bodyEnd = math.min(pos + size, end)
        tpe match {
          case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
            walk(bodyStart, bodyEnd, depth + 1)
          case "mvhd" if durationMs < 0 && bodyStart + 4 <= bodyEnd =>
            val v = b(bodyStart.toInt) & 0xff
            val (tsOff, dur) =
              if (v == 1 && bodyStart + 32 <= bodyEnd)
                (bodyStart + 20, be64(b, bodyStart.toInt + 24))
              else if (v == 0 && bodyStart + 20 <= bodyEnd)
                (bodyStart + 12, be32(b, bodyStart.toInt + 16))
              else (-1L, 0L)
            if (tsOff >= 0) {
              val timescale = be32(b, tsOff.toInt)
              if (timescale > 0) durationMs = dur * 1000L / timescale
            }
          case "stsd" if bodyStart + 16 <= bodyEnd =>
            // ver/flags(4) entry_count(4), then the first sample entry:
            // size(4) format(4) reserved(6) data_ref_index(2)
            val e = bodyStart + 8
            val fmt = ascii(b, e.toInt + 4, 4)
            fmt match {
              case "mp4a" | "alac" | "ac-3" if channels == 0 && e + 36 <= bodyEnd =>
                channels = be16(b, e.toInt + 24)
                rate = be32(b, e.toInt + 32).toInt >>> 16 // 16.16 fixed
              case "avc1" | "hvc1" | "hev1" | "mp4v" | "vp09" | "av01"
                if width == 0 && e + 36 <= bodyEnd =>
                width = be16(b, e.toInt + 32)
                height = be16(b, e.toInt + 34)
              case _ => ()
            }
          case _ => ()
        }
        // monotonic clamped advance (size >= header > 0)
        pos = math.min(pos + size, end)
      }
    }
    try walk(0L, b.length.toLong, 0) catch { case _: Exception => return None }
    if (durationMs < 0 && width == 0 && channels == 0) None
    else Some(Decoded("mp4", width, height, 0, channels, rate, math.max(durationMs, 0L)))
  }

  /** FLAC facts from the STREAMINFO metadata block (the first block
    * after the `fLaC` magic, by spec): sample rate (20 bits),
    * channels (3 bits + 1) and total samples (36 bits) sit at fixed
    * bit offsets — a pure header read, no frame decode.
    */
  private[operators] def parseFlac(b: Array[Byte]): Option[Decoded] = {
    if (sniff(b) != "flac") return None
    var pos = 4
    while (pos + 4 <= b.length) {
      val hdr = b(pos) & 0xff
      val tpe = hdr & 0x7f
      val len = ((b(pos + 1) & 0xff) << 16) | be16(b, pos + 2)
      val body = pos + 4
      if (tpe == 0) { // STREAMINFO
        if (body + 18 > b.length || len < 34) return None
        val rate = ((b(body + 10) & 0xff) << 12) | ((b(body + 11) & 0xff) << 4) |
          ((b(body + 12) & 0xff) >> 4)
        val channels = (((b(body + 12) & 0xff) >> 1) & 7) + 1
        val totalSamples = ((b(body + 13) & 0x0f).toLong << 32) | be32(b, body + 14)
        return if (rate <= 0) None
        else Some(Decoded("flac", channels = channels, sampleRate = rate,
          durationMs = totalSamples * 1000L / rate))
      }
      if ((hdr & 0x80) != 0) return None // last block and no STREAMINFO seen
      pos = body + len // len >= 0 by construction; advance is monotonic
    }
    None
  }

  /** Stream facts from an Ogg page walk: channels and sample rate
    * from the first packet's identification header (Vorbis `vorbis`
    * or Opus `OpusHead`), duration from the LAST page's granule
    * position (PCM samples at the stream rate for Vorbis; 48 kHz
    * minus pre-skip for Opus, per RFC 7845). Every page header is
    * read (capture pattern checked, lacing table summed) — compressed
    * packet payloads are never decoded.
    */
  private[operators] def parseOgg(b: Array[Byte]): Option[Decoded] = {
    if (sniff(b) != "ogg") return None
    var codec = ""; var channels = 0; var rate = 0; var preSkip = 0
    var lastGranule = -1L
    var pos = 0
    var first = true
    while (pos + 27 <= b.length &&
      b(pos) == 'O' && b(pos + 1) == 'g' && b(pos + 2) == 'g' && b(pos + 3) == 'S') {
      val granule = le64(b, pos + 6)
      val nSegs = b(pos + 26) & 0xff
      if (pos + 27 + nSegs > b.length) return None // truncated lacing table
      var bodyLen = 0
      var i = 0
      while (i < nSegs) { bodyLen += b(pos + 27 + i) & 0xff; i += 1 }
      val body = pos + 27 + nSegs
      if (first && body + 8 <= b.length) {
        if (b(body) == 1 && ascii(b, body + 1, 6) == "vorbis" &&
          body + 16 <= b.length) {
          codec = "vorbis"
          channels = b(body + 11) & 0xff
          rate = le32(b, body + 12).toInt
        } else if (ascii(b, body, 8) == "OpusHead" &&
          body + 14 <= b.length) {
          codec = "opus"
          channels = b(body + 9) & 0xff
          preSkip = le16(b, body + 10)
          rate = 48000 // Opus granules are always at 48 kHz (RFC 7845 §4)
        }
        first = false
      }
      if (granule >= 0) lastGranule = math.max(lastGranule, granule)
      val next = pos.toLong + 27L + nSegs + bodyLen
      if (next <= pos) return None // hostile zero-advance
      pos = math.min(next, b.length.toLong).toInt
    }
    if (codec.isEmpty || rate <= 0) None
    else {
      val samples = math.max(0L, lastGranule - (if (codec == "opus") preSkip.toLong else 0L))
      Some(Decoded(s"ogg/$codec", channels = channels, sampleRate = rate,
        durationMs = samples * 1000L / rate))
    }
  }

  /** The one decode: sniff, then that format's parser (the JDK codec
    * for images, with every frame counted for GIF and TIFF).
    */
  private[operators] def parse(b: Array[Byte]): Option[Decoded] = sniff(b) match {
    case "wav"  => parseWav(b)
    case "mp3"  => parseMp3(b)
    case "webp" => parseWebp(b)
    case "mp4"  => parseMp4(b)
    case "ogg"  => parseOgg(b)
    case "flac" => parseFlac(b)
    case f @ ("png" | "jpeg" | "gif" | "bmp" | "tiff") =>
      withReader(b) { rd =>
        val img = rd.read(0)
        val frames = if (f == "gif" || f == "tiff") math.max(rd.getNumImages(true), 1) else 1
        Decoded(f, img.getWidth, img.getHeight, frames, img.getColorModel.getNumComponents)
      }
    case _ => None
  }

  /** Cheap, fully-expression-based features over a binary column —
    * byte length, digest, and the deterministic fake decode dims.
    */
  def features(df: DataFrame, binCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(binCol)).cast("long").as("n_bytes"),
      md5(col(binCol)).as("digest"),
      (length(col(binCol)).cast("long") % 640).as("fake_w"),
      (length(col(binCol)).cast("long") % 480).as("fake_h")
    )

  /** The one mapPartitions body under every stage below: each output
    * row is the input row — or only its `key` column — followed by one
    * value per `added` field, and `f` gives zero or more such value
    * lists per input row. One codec-session init per partition (the
    * ImageIO headless/cache settings: no temp-file spill per decode).
    */
  private def mapRows(df: DataFrame, key: Option[String], added: StructField*)(
      f: Row => IterableOnce[Seq[Any]]): DataFrame = {
    val kept = key.fold[Seq[Int]](df.schema.indices)(k => Seq(df.schema.fieldIndex(k)))
    val outSchema = StructType(kept.map(df.schema.fields(_)) ++ added)
    df.mapPartitions { rows =>
      System.setProperty("java.awt.headless", "true")
      ImageIO.setUseCache(false)
      rows.flatMap(r => f(r).iterator.map(extra => Row.fromSeq(kept.map(r.get) ++ extra)))
    }(RowEncoder.encoderFor(outSchema)).toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }

  /** The synth stages: doc id → one `content` payload appended to the row. */
  private def synth(df: DataFrame, idCol: String)(payload: Long => Array[Byte]): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    mapRows(df, None, StructField("content", BinaryType, nullable = false)) { r =>
      Some(Seq(payload(r.getLong(idIdx))))
    }
  }

  /** A RIFF container of `form` with the given chunks (the synth
    * bodies are all even-sized, so no pad bytes).
    */
  private def riff(form: String, chunks: (String, Array[Byte])*): Array[Byte] = {
    val size = 4 + chunks.map(8 + _._2.length).sum
    val bb = ByteBuffer.allocate(8 + size).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(size).put(form.getBytes("US-ASCII"))
    chunks.foreach { case (id, body) => bb.put(id.getBytes("US-ASCII")).putInt(body.length).put(body) }
    bb.array()
  }

  private def png(img: java.awt.image.RenderedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The still image (first frame) of a PNG/JPEG/GIF/BMP payload. */
  private def readImage(b: Array[Byte]): Option[BufferedImage] =
    if (Set("png", "jpeg", "gif", "bmp")(sniff(b))) Option(ImageIO.read(new java.io.ByteArrayInputStream(b)))
    else None

  /** `f` over the ImageIO reader that claims `b` (None when none
    * does); reader and stream are released on return.
    */
  private def withReader[A](b: Array[Byte])(f: javax.imageio.ImageReader => A): Option[A] = {
    val in = ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(b))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val rd = readers.next()
        try { rd.setInput(in); Some(f(rd)) } finally rd.dispose()
      }
    } finally in.close()
  }

  /** Per-channel (r, g, b) pixel means over [x0, x1) × [y0, y1)
    * clipped to the image; zeros for an empty window.
    */
  private def meanRgb(img: BufferedImage, x0: Int, x1: Int, y0: Int, y1: Int): Array[Double] = {
    var sr = 0L; var sg = 0L; var sb = 0L; var n = 0L
    var y = y0
    while (y < y1 && y < img.getHeight) {
      var x = x0
      while (x < x1 && x < img.getWidth) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        n += 1; x += 1
      }
      y += 1
    }
    if (n == 0) Array(0.0, 0.0, 0.0) else Array(sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
  }

  /** Deterministic WAV synthesis for the oracle-verified REAL-decode
    * path: doc id → a mono 16-bit PCM clip (8 kHz,
    * nFrames = 100 + id % 400, constant amplitude (id % 100) · 300).
    * Constant-amplitude PCM has closed-form decoded facts — frame
    * count, duration, and an EXACT RMS of amp/32768 (a·a and √ are
    * exact in IEEE for these integers, /2¹⁵ is a power-of-two scale)
    * — so a SQL twin can hash-verify the full RIFF encode → parse →
    * feature pipeline end to end.
    */
  def synthWav(df: DataFrame, idCol: String, sampleRate: Int = 8000): DataFrame =
    synth(df, idCol) { id =>
      val amp = ((id % 100) * 300).toShort
      val fmt = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
        .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      val pcm = ByteBuffer.allocate(2 * (100 + id % 400).toInt).order(ByteOrder.LITTLE_ENDIAN)
      while (pcm.hasRemaining) pcm.putShort(amp)
      riff("WAVE", "fmt " -> fmt.array(), "data" -> pcm.array())
    }

  /** Deterministic MP3 synthesis — [[synthWav]]'s compressed-audio
    * sibling: doc id → a VBR MPEG1 Layer III stream (44100 Hz,
    * nFrames = 5 + id % 40, mono iff id even, ID3v2 tag with
    * id % 50 padding bytes on every third doc). The per-FRAME bitrate
    * index cycles 9..13, so a parser that guessed length from the
    * first frame's bitrate would desync — hash-verifying that
    * [[parseMp3]] genuinely walks every header. Sample data is zeros
    * (the metadata walk never touches it); the decoded facts —
    * channels, rate, frame count, duration — have closed forms for
    * the SQL twin.
    */
  def synthMp3(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol) { id =>
      val out = new java.io.ByteArrayOutputStream()
      if (id % 3 == 0) {
        val pad = (id % 50).toInt
        out.write(Array[Byte]('I', 'D', '3', 4, 0, 0,
          ((pad >> 21) & 0x7f).toByte, ((pad >> 14) & 0x7f).toByte,
          ((pad >> 7) & 0x7f).toByte, (pad & 0x7f).toByte))
        out.write(new Array[Byte](pad))
      }
      for (i <- 0 until (5 + id % 40).toInt) {
        val brIdx = 9 + ((id + i) % 5).toInt // V1 L3: 160..320 kbps
        val f = new Array[Byte](1152 / 8 * Mp3BitrateV1(brIdx) * 1000 / 44100)
        f(0) = 0xFF.toByte; f(1) = 0xFB.toByte
        f(2) = (brIdx << 4).toByte // srIdx=0 (44100), no padding
        f(3) = if (id % 2 == 0) 0xC0.toByte else 0x00 // mono iff id even
        out.write(f)
      }
      out.toByteArray
    }

  /** Deterministic lossless-WebP synthesis: doc id → a VP8L container
    * whose header declares width 16 + id % 100, height 9 + id % 50
    * (the bitstream body is padding — [[parseWebp]] is a header-only
    * parser and the twin checks exactly the header facts).
    */
  def synthWebp(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol) { id =>
      val bits = (15 + id % 100).toInt | ((8 + id % 50).toInt << 14) // (w-1) | (h-1) << 14
      riff("WEBP", "VP8L" -> Array(0x2f, bits & 0xff, (bits >> 8) & 0xff,
        (bits >> 16) & 0xff, (bits >> 24) & 0xff, 0, 0, 0).map(_.toByte))
    }

  /** Deterministic PNG synthesis — [[synthWav]]'s image sibling: doc
    * id → a solid-color RGB PNG (width 4 + id % 16, height 3 + id % 8,
    * color ((id·3) % 256, (id·7) % 256, (id·11) % 256)). PNG is
    * lossless, so the decoded facts — dimensions, channel count, and
    * per-channel pixel means (exactly the constant color) — have
    * closed forms a SQL twin can recompute, hash-verifying the real
    * ImageIO decode + feature pipeline end to end.
    */
  def synthPng(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol) { id =>
      val (w, h) = ((4 + id % 16).toInt, (3 + id % 8).toInt)
      val rgb = (((id * 3) % 256).toInt << 16) | (((id * 7) % 256).toInt << 8) | ((id * 11) % 256).toInt
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, w, h, Array.fill(w * h)(rgb), 0, w)
      png(img)
    }

  /** Deterministic projection-matrix entry for [[imageEmbed]] — shared
    * with the oracle twin, which inlines the per-channel coefficient
    * sums as literals (the fixed-random-projection analog of
    * OnnxFixture.embTable).
    */
  def projCoef(k: Int, f: Int): Int = ((k * 31 + f * 17) % 7) - 3

  /** REAL image EMBEDDING for cross-modal dedup / similarity: decode,
    * split into a grid×grid patch layout, per-patch per-channel pixel
    * means (the classic patchify step every vision encoder starts
    * with), project the grid²·3 features through the fixed seeded
    * integer matrix [[projCoef]], L2-normalize. The output plugs
    * straight into the vector stack (knn/IVF/LSH all take
    * Array[Double]). Swapping [[projCoef]] for a learned projection —
    * or the patch means for a real vision tower — changes only this
    * function; the mapPartitions batch shape and the downstream index
    * machinery stay put. Undecodable payloads embed to NULL (the
    * never-kill-the-stage contract).
    */
  def imageEmbed(
      df: DataFrame,
      binCol: String,
      idCol: String,
      grid: Int = 2,
      dims: Int = 8
  ): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    mapRows(df, Some(idCol), StructField("embedding", ArrayType(DoubleType, false), nullable = true)) { r =>
      val emb = try readImage(r.getAs[Array[Byte]](binIdx)).map { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        // partition [0,w) into grid ranges; every pixel lands in
        // exactly one patch, uneven tails included
        val feats = (for (gy <- 0 until grid; gx <- 0 until grid) yield {
          val (x0, y0) = (gx * w / grid, gy * h / grid)
          meanRgb(img, x0, math.max((gx + 1) * w / grid, x0 + 1), y0, math.max((gy + 1) * h / grid, y0 + 1))
        }).flatten
        val raw = Array.tabulate(dims)(k =>
          feats.indices.foldLeft(0.0)((acc, f) => acc + projCoef(k, f) * feats(f)))
        val norm = math.sqrt(raw.foldLeft(0.0)((ss, x) => ss + x * x))
        (if (norm > 0) raw.map(_ / norm) else raw).toSeq
      }.orNull catch { case _: Exception => null }
      Some(Seq(emb))
    }
  }

  /** REAL decode over the JDK-codec and container formats: adds a
    * nullable [[DecodedSchema]] `meta` struct from [[parse]];
    * unrecognized, undecodable or truncated payloads yield meta = NULL
    * with the row retained — a corrupt object in a 100 TB crawl must
    * never kill the stage.
    */
  def decode(df: DataFrame, binCol: String): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    mapRows(df, None, StructField("meta", DecodedSchema, nullable = true)) { r =>
      Some(Seq(try parse(r.getAs[Array[Byte]](binIdx)).map(Row.fromTuple).orNull
        catch { case _: Exception => null }))
    }
  }

  /** REAL aspect-preserving resize: decode, area-average resample so no
    * side exceeds `maxSide`, re-encode as PNG. Adds `resized` (binary,
    * null when the payload isn't a decodable image) and
    * `resized_w`/`resized_h`. Already-small images pass through
    * re-encoded at original size (uniform output format for the
    * downstream embedder).
    */
  def resize(df: DataFrame, binCol: String, maxSide: Int): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    mapRows(df, None,
      StructField("resized", BinaryType, nullable = true),
      StructField("resized_w", IntegerType, nullable = true),
      StructField("resized_h", IntegerType, nullable = true)) { r =>
      val resized = try readImage(r.getAs[Array[Byte]](binIdx)).map { img =>
        val longSide = math.max(img.getWidth, img.getHeight)
        val scale = if (longSide > maxSide) maxSide.toDouble / longSide else 1.0
        val (w, h) = (math.max(1, math.ceil(img.getWidth * scale).toInt),
          math.max(1, math.ceil(img.getHeight * scale).toInt))
        val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img.getScaledInstance(w, h, java.awt.Image.SCALE_AREA_AVERAGING), 0, 0, null)
        finally g.dispose()
        Seq(png(out), w, h)
      } catch { case _: Exception => None }
      Some(resized.getOrElse(Seq(null, null, null)))
    }
  }

  /** REAL content features for the dedup/quality stages: per-channel
    * pixel means + luma for images; RMS amplitude (normalized to
    * [0, 1]) for 16-bit PCM WAV audio. NULLs for undecodable payloads.
    */
  def contentFeatures(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    mapRows(df, Some(idCol), Seq("modality" -> StringType, "mean_r" -> DoubleType,
      "mean_g" -> DoubleType, "mean_b" -> DoubleType, "luma" -> DoubleType, "rms" -> DoubleType)
      .map { case (n, t) => StructField(n, t, nullable = true) }: _*) { r =>
      val bytes = r.getAs[Array[Byte]](binIdx)
      val none: Seq[Any] = Seq.fill(6)(null)
      Some(sniff(bytes) match {
        case "wav" =>
          val rms = try wavChunks(bytes) match {
            case Some((ch, _, 16, start, len)) if len / (2 * ch) > 0 =>
              // RMS over every sample, normalized by 32768
              val n = (len / (2 * ch) * ch).toInt
              var ss = 0.0; var i = 0
              while (i < n && start + 2 * i + 1 < bytes.length) {
                val s = le16(bytes, start + 2 * i).toShort
                ss += s.toDouble * s; i += 1
              }
              math.sqrt(ss / math.max(i, 1)) / 32768.0
            case _ => null
          } catch { case _: Exception => null }
          Seq("audio", null, null, null, null, rms)
        case _ =>
          try readImage(bytes).fold(none) { img =>
            val Array(mr, mg, mb) = meanRgb(img, 0, img.getWidth, 0, img.getHeight)
            Seq("image", mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb, null)
          } catch { case _: Exception => none }
      })
    }
  }

  /** REAL frame sampling: animated GIFs yield every `everyN`-th frame
    * as its own row with the frame rendered to PNG bytes (downstream
    * embedders see per-frame payloads); single-frame images yield
    * frame 0. Non-image payloads yield no frames. Frame composition
    * honors GIF partial-frame updates by compositing onto the running
    * canvas.
    */
  def frameSample(df: DataFrame, binCol: String, everyN: Int): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    mapRows(df, None,
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_png", BinaryType, nullable = false)) { r =>
      val bytes = r.getAs[Array[Byte]](binIdx)
      val frames: Seq[(Int, Array[Byte])] = try sniff(bytes) match {
        case "gif" => withReader(bytes)(gifFrames(_, everyN)).getOrElse(Seq.empty)
        case _ => readImage(bytes).map(img => 0 -> png(img)).toSeq
      } catch { case _: Exception => Seq.empty }
      frames.map { case (i, p) => Seq(i, p) }
    }
  }

  /** Every `everyN`-th frame of an animated GIF, composited onto the
    * running logical-screen canvas and rendered to PNG.
    */
  private def gifFrames(rd: javax.imageio.ImageReader, everyN: Int): Seq[(Int, Array[Byte])] = {
    def attrs(tree: org.w3c.dom.Node, tag: String, names: String*): Option[Seq[Int]] = {
      val ds = tree.asInstanceOf[org.w3c.dom.Element].getElementsByTagName(tag)
      if (ds.getLength == 0) None
      else Some(names.map(ds.item(0).asInstanceOf[org.w3c.dom.Element].getAttribute(_).toInt))
    }
    // GIF partial-frame updates carry per-frame left/top offsets in the
    // ImageDescriptor; compositing them at (0,0) would place partial
    // frames wrong
    def frameOffset(i: Int): (Int, Int) =
      try attrs(rd.getImageMetadata(i).getAsTree("javax_imageio_gif_image_1.0"),
        "ImageDescriptor", "imageLeftPosition", "imageTopPosition")
        .fold((0, 0)) { case Seq(x, y) => (x, y) }
      catch { case _: Exception => (0, 0) }
    // canvas = the logical screen, not frame 0's bounds
    val screen: Option[(Int, Int)] =
      try attrs(rd.getStreamMetadata.getAsTree("javax_imageio_gif_stream_1.0"),
        "LogicalScreenDescriptor", "logicalScreenWidth", "logicalScreenHeight")
        .collect { case Seq(w, h) if w > 0 && h > 0 => (w, h) }
      catch { case _: Exception => None }
    var canvas: BufferedImage = null
    (0 until math.max(rd.getNumImages(true), 1)).flatMap { i =>
      val frame = rd.read(i)
      val (ox, oy) = frameOffset(i)
      if (canvas == null) {
        val (cw, ch) = screen.getOrElse((frame.getWidth + ox, frame.getHeight + oy))
        canvas = new BufferedImage(math.max(cw, frame.getWidth + ox),
          math.max(ch, frame.getHeight + oy), BufferedImage.TYPE_INT_RGB)
      }
      val g = canvas.createGraphics()
      try g.drawImage(frame, ox, oy, null) finally g.dispose()
      if (i % everyN == 0) Some(i -> png(canvas)) else None
    }
  }
}
