package graft

import graft.operators.{Convert, Multimodal}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Real-decode multimodal path: JDK-codec images (PNG/BMP/animated GIF)
  * and RIFF/PCM WAV, generated in-test so the expected facts are known
  * exactly; corrupt payloads must survive as NULL-meta rows.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def bmp(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  private def animatedGif(frames: Seq[Int], w: Int = 10, h: Int = 8): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = javax.imageio.ImageIO.createImageOutputStream(bos)
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    wr.setOutput(out)
    wr.prepareWriteSequence(null)
    frames.foreach { rgb =>
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    wr.endWriteSequence(); wr.dispose(); out.close()
    bos.toByteArray
  }

  /** 16-bit PCM mono WAV: constant amplitude `amp` for `nFrames` samples. */
  private def wav(nFrames: Int, sampleRate: Int, amp: Short): Array[Byte] = {
    val dataLen = nFrames * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until nFrames).foreach(_ => bb.putShort(amp))
    bb.array()
  }

  private def table = Seq(
    (1L, png(20, 10, 0xFF0000)),         // pure red
    (2L, bmp(7, 5)),
    (3L, animatedGif(Seq(0x000000, 0xFFFFFF, 0x808080))),
    (4L, wav(8000, 16000, 16384)),       // 0.5s at 16kHz, amp = 2^14
    (5L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)) // garbage
  ).toDF("id", "content")

  test("decode: real dims/channels/frames for JDK-codec formats, NULL meta for garbage") {
    val out = Multimodal.decode(table, "content")
      .select("id", "meta.*").collect()
      .map(r => r.getLong(0) -> r).toMap
    // garbage row: meta struct fields come back null-expanded
    val metas = Multimodal.decode(table, "content")
      .select(col("id"), col("meta")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(metas(5L).isEmpty, "garbage payload must decode to NULL meta, row retained")
    assert(metas.size == 5)
    val p = out(1L)
    assert(p.getString(1) == "png" && p.getInt(2) == 20 && p.getInt(3) == 10 &&
      p.getInt(4) == 1 && p.getInt(5) == 3, p.toString)
    val b = out(2L)
    assert(b.getString(1) == "bmp" && b.getInt(2) == 7 && b.getInt(3) == 5)
    val g = out(3L)
    assert(g.getString(1) == "gif" && g.getInt(4) == 3, s"3 gif frames: $g")
    val w = out(4L)
    assert(w.getString(1) == "wav" && w.getInt(4) == 8000 &&
      w.getInt(5) == 1 && w.getInt(6) == 16000 && w.getLong(7) == 500L, w.toString)
  }

  test("resize: pixels actually resampled, aspect preserved, output re-decodable") {
    val out = Multimodal.resize(table, "content", maxSide = 8)
      .select("id", "resized", "resized_w", "resized_h").collect()
      .map(r => r.getLong(0) -> r).toMap
    val p = out(1L) // 20x10 -> 8x4
    assert(p.getInt(2) == 8 && p.getInt(3) == 4, p.toString)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(p.getAs[Array[Byte]](1)))
    assert(back.getWidth == 8 && back.getHeight == 4)
    // pure-red input stays pure red through area-average resampling
    assert((back.getRGB(4, 2) & 0xFFFFFF) == 0xFF0000)
    val small = out(2L) // 7x5 already inside maxSide: passthrough size
    assert(small.getInt(2) == 7 && small.getInt(3) == 5)
    assert(out(4L).get(1) == null && out(5L).get(1) == null,
      "non-image payloads resize to NULL")
  }

  test("contentFeatures: channel means for images, exact RMS for constant PCM") {
    val out = Multimodal.contentFeatures(table, "content", "id")
      .collect().map(r => r.getLong(0) -> r).toMap
    val red = out(1L)
    assert(red.getString(1) == "image")
    assert(math.abs(red.getDouble(2) - 255.0) < 1e-9 && math.abs(red.getDouble(3)) < 1e-9)
    assert(math.abs(red.getDouble(5) - 0.299 * 255) < 1e-9) // luma of pure red
    val audio = out(4L)
    assert(audio.getString(1) == "audio")
    assert(math.abs(audio.getDouble(6) - 16384.0 / 32768.0) < 1e-12,
      s"constant-amplitude RMS must be exact: ${audio.getDouble(6)}")
    assert(out(5L).get(1) == null)
  }

  test("frameSample: every animated-gif frame extracted as decodable PNG bytes") {
    val out = Multimodal.frameSample(table.filter(col("id") === 3L), "content", everyN = 1)
      .select("frame_idx", "frame_png").collect()
      .sortBy(_.getInt(0))
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    val pixels = out.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
      img.getRGB(3, 3) & 0xFFFFFF
    }
    assert(pixels.toSeq == Seq(0x000000, 0xFFFFFF, 0x808080),
      s"frames must round-trip their content: ${pixels.map(_.toHexString).toSeq}")
    // sampling stride: every 2nd frame of 3 -> indices 0, 2
    val strided = Multimodal.frameSample(table.filter(col("id") === 3L), "content", everyN = 2)
      .select("frame_idx").as[Int].collect().sorted
    assert(strided.toSeq == Seq(0, 2))
    // single-frame image -> exactly frame 0; garbage/audio -> no frames
    val single = Multimodal.frameSample(table, "content", everyN = 1)
      .groupBy("id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(single(1L) == 1 && single(2L) == 1 && single(3L) == 3)
    assert(!single.contains(4L) && !single.contains(5L))
  }

  /** Animated GIF whose second frame is a 2×2 white PARTIAL update at
    * image-descriptor offset (6, 4) on a 10×8 black screen.
    */
  private def offsetGif(): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = javax.imageio.ImageIO.createImageOutputStream(bos)
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    wr.setOutput(out)
    wr.prepareWriteSequence(null)
    val f0 = new java.awt.image.BufferedImage(10, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    wr.writeToSequence(new javax.imageio.IIOImage(f0, null, null), null)
    val f1 = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 2) f1.setRGB(x, y, 0xFFFFFF)
    val md = wr.getDefaultImageMetadata(
      javax.imageio.ImageTypeSpecifier.createFromRenderedImage(f1), null)
    val fmt = "javax_imageio_gif_image_1.0"
    val root = md.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
    val d = root.getElementsByTagName("ImageDescriptor").item(0)
      .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
    d.setAttribute("imageLeftPosition", "6")
    d.setAttribute("imageTopPosition", "4")
    md.setFromTree(fmt, root)
    wr.writeToSequence(new javax.imageio.IIOImage(f1, null, md), null)
    wr.endWriteSequence(); wr.dispose(); out.close()
    bos.toByteArray
  }

  test("frameSample composites GIF partial-frame updates at their descriptor offsets") {
    val df = Seq((1L, offsetGif())).toDF("id", "content")
    val out = Multimodal.frameSample(df, "content", everyN = 1)
      .select("frame_idx", "frame_png").collect().sortBy(_.getInt(0))
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1))
    val composed = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1).getAs[Array[Byte]](1)))
    // canvas keeps the logical screen, the patch lands at (6,4)..(8,6)
    assert(composed.getWidth == 10 && composed.getHeight == 8,
      s"canvas ${composed.getWidth}x${composed.getHeight} != logical screen 10x8")
    assert((composed.getRGB(7, 5) & 0xFFFFFF) == 0xFFFFFF, "patch pixel must be white")
    assert((composed.getRGB(0, 0) & 0xFFFFFF) == 0x000000, "outside the patch stays black")
    assert((composed.getRGB(1, 1) & 0xFFFFFF) == 0x000000,
      "a (0,0)-composited patch would have painted here")
  }

  test("imageEmbed: patch-sensitive, unit-norm, null for undecodable payloads") {
    import graft.operators.Multimodal
    def halves(left: Int, right: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, if (x < 4) left else right)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val df = Seq(
      (1L, halves(0xFF0000, 0x0000FF)),  // red|blue
      (2L, halves(0x0000FF, 0xFF0000)),  // blue|red — same GLOBAL mean
      (3L, "not an image".getBytes("UTF-8"))
    ).toDF("id", "content")
    val out = Multimodal.imageEmbed(df, "content", "id")
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(out(3L).isEmpty, "garbage must embed to NULL, not kill the stage")
    val (a, b) = (out(1L).get, out(2L).get)
    assert(a.length == 8 && b.length == 8)
    // identical global means, different patch layout → different vectors:
    // the embedding genuinely sees spatial structure, not just the mean
    assert(a != b, "patch layout must matter")
    for (v <- Seq(a, b)) {
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"unit norm expected, got $n")
    }
  }

  test("hostile RIFF chunk sizes terminate the walk: decode survives with NULL meta") {
    // chunk declares size 0xFFFFFFF8 (negative as int32, 0-advance under
    // the old signed arithmetic); the walk must clamp and exit
    def riff(junkSize: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + 8 + 16)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(28).put("WAVE".getBytes("US-ASCII"))
      bb.put("JUNK".getBytes("US-ASCII")).putInt(junkSize)
      bb.array()
    }
    val hostile = Seq(
      (1L, riff(0xFFFFFFF8)),          // stall case under signed advance
      (2L, riff(Int.MinValue)),        // negative-pos case
      (3L, riff(7))                    // size past the buffer
    ).toDF("id", "content")
    val metas = Multimodal.decode(hostile, "content")
      .select("id", "meta").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(metas.size == 3 && metas.values.forall(_ == null),
      s"hostile WAVs must yield NULL meta, got $metas")
    val feats = Multimodal.contentFeatures(hostile, "content", "id")
      .select("id", "rms").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(feats.size == 3 && feats.values.forall(_ == null))
  }

  // Hand-built MPEG1 Layer III frames: 128 kbps, 44100 Hz, header
  // 0xFF 0xFB 0x90 then mode byte; frameLen = 144*128000/44100 = 417.
  private def mp3Frames(n: Int, mono: Boolean, id3: Boolean, pad: Int = 0): Array[Byte] = {
    val frameLen = 417
    val mode: Byte = if (mono) 0xC0.toByte else 0x00
    val out = new java.io.ByteArrayOutputStream()
    if (id3) {
      // ID3v2 header: 10 bytes, syncsafe size = pad (tag body of `pad` zeros)
      out.write(Array[Byte]('I', 'D', '3', 4, 0, 0,
        ((pad >> 21) & 0x7f).toByte, ((pad >> 14) & 0x7f).toByte,
        ((pad >> 7) & 0x7f).toByte, (pad & 0x7f).toByte))
      out.write(new Array[Byte](pad))
    }
    (0 until n).foreach { _ =>
      val f = new Array[Byte](frameLen)
      f(0) = 0xFF.toByte; f(1) = 0xFB.toByte; f(2) = 0x90.toByte; f(3) = mode
      out.write(f)
    }
    out.toByteArray
  }

  /** The facts line [[Convert.mediaToText]] prints for a decoded meta. */
  private def factsLine(m: Row): String = m.getString(0) match {
    case "webp" => s"[image webp: ${m.getInt(1)}x${m.getInt(2)}]"
    case "mp3" =>
      s"[audio mp3: ${m.getInt(4)} ch, ${m.getInt(5)} Hz, ${m.getLong(6)} ms, ${m.getInt(3)} frames]"
    case "mp4" =>
      s"[media mp4: ${m.getLong(6)} ms" +
        (if (m.getInt(1) > 0) s", video ${m.getInt(1)}x${m.getInt(2)}" else "") +
        (if (m.getInt(4) > 0) s", audio ${m.getInt(4)} ch ${m.getInt(5)} Hz" else "") + "]"
    case ogg => s"[audio $ogg: ${m.getInt(4)} ch, ${m.getInt(5)} Hz, ${m.getLong(6)} ms]"
  }

  /** Both readers of the parsed record agree: [[Convert.mediaToText]]
    * prints exactly decode's facts, and no text where meta is NULL.
    */
  private def assertTextAgrees(payloads: Seq[(Long, Array[Byte])], metas: Map[Long, Option[Row]]): Unit =
    for ((id, bytes) <- payloads)
      assert(Convert.mediaToText("f", bytes).map(_.linesIterator.toSeq(1)) == metas(id).map(factsLine),
        s"mediaToText disagrees with decode for id $id: ${metas(id)}")

  private def webpChunk(fourcc: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + payload.length + (payload.length & 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + payload.length)
      .put("WEBP".getBytes("US-ASCII"))
    bb.put(fourcc.getBytes("US-ASCII")).putInt(payload.length).put(payload)
    bb.array()
  }

  test("mp3: exact frame count, duration, rate and channels from the header walk") {
    // 38 frames * 1152 samples / 44100 Hz = 0.99265... s -> 992 ms
    val payloads = Seq(
      (1L, mp3Frames(38, mono = true, id3 = false)),
      (2L, mp3Frames(38, mono = false, id3 = true, pad = 100)), // tagged + padding
      (3L, "ID3garbagewithnoframes".getBytes("US-ASCII"))
    )
    val out = Multimodal.decode(payloads.toDF("id", "content"), "content")
      .select(col("id"), col("meta")).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[org.apache.spark.sql.Row](1))).toMap
    val m1 = out(1L).get
    assert(m1.getString(0) == "mp3" && m1.getInt(3) == 38 &&
      m1.getInt(4) == 1 && m1.getInt(5) == 44100 &&
      m1.getLong(6) == 38L * 1152 * 1000 / 44100, m1.toString)
    val m2 = out(2L).get
    assert(m2.getInt(3) == 38 && m2.getInt(4) == 2, m2.toString)
    assert(out(3L).isEmpty, "tag with no frames must yield NULL meta")
    assertTextAgrees(payloads, out)
  }

  // --- ISO-BMFF fixture builders: size-prefixed boxes, big-endian ---
  private def box(tpe: String, body: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + body.length)
    bb.putInt(8 + body.length).put(tpe.getBytes("US-ASCII")).put(body)
    bb.array()
  }
  private def be(i: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(i).array()
  private def be16b(i: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(2).putShort(i.toShort).array()

  private def mvhd(timescale: Int, duration: Int): Array[Byte] =
    box("mvhd", Array[Byte](0, 0, 0, 0) ++ be(0) ++ be(0) ++ be(timescale) ++ be(duration)
      ++ new Array[Byte](80))

  private def stsdAudio(ch: Int, rate: Int): Array[Byte] = {
    val entry = java.nio.ByteBuffer.allocate(36)
    entry.putInt(36).put("mp4a".getBytes("US-ASCII"))
      .put(new Array[Byte](6)).putShort(1)          // reserved + data_ref_index
      .put(new Array[Byte](8))                      // audio reserved
      .putShort(ch.toShort).putShort(16)            // channels, samplesize
      .putInt(0).putInt(rate << 16)                 // reserved, 16.16 rate
    box("stsd", Array[Byte](0, 0, 0, 0) ++ be(1) ++ entry.array())
  }
  private def stsdVideo(w: Int, h: Int): Array[Byte] = {
    val entry = java.nio.ByteBuffer.allocate(40)
    entry.putInt(40).put("avc1".getBytes("US-ASCII"))
      .put(new Array[Byte](6)).putShort(1)          // reserved + data_ref_index
      .put(new Array[Byte](16))                     // video pre_defined/reserved
      .putShort(w.toShort).putShort(h.toShort)
    box("stsd", Array[Byte](0, 0, 0, 0) ++ be(1) ++ entry.array())
  }
  private def trak(stsd: Array[Byte]): Array[Byte] =
    box("trak", box("mdia", box("minf", box("stbl", stsd))))
  private def mp4File(traks: Array[Byte]*): Array[Byte] =
    box("ftyp", "isom0000".getBytes("US-ASCII")) ++
      box("moov", mvhd(1000, 2500) ++ traks.flatten.toArray) ++
      box("mdat", new Array[Byte](16))

  // --- Ogg fixture builders ---
  private def oggPage(granule: Long, body: Array[Byte], seq: Int): Array[Byte] = {
    val nSegs = (body.length / 255) + 1
    val bb = java.nio.ByteBuffer.allocate(27 + nSegs + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("OggS".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
      .putLong(granule).putInt(1).putInt(seq).putInt(0).put(nSegs.toByte)
    var rest = body.length
    (0 until nSegs).foreach { _ =>
      bb.put(math.min(rest, 255).toByte); rest -= math.min(rest, 255)
    }
    bb.put(body).array()
  }
  private def vorbisId(ch: Int, rate: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).put("vorbis".getBytes("US-ASCII")).putInt(0)
      .put(ch.toByte).putInt(rate).array()
  }
  private def opusHead(ch: Int, preSkip: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(19).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("OpusHead".getBytes("US-ASCII")).put(1.toByte).put(ch.toByte)
      .putShort(preSkip.toShort).putInt(48000).putShort(0).put(0.toByte).array()
  }

  test("mp4/m4a: duration, audio channels/rate and video dims from the box walk") {
    val m4a = mp4File(trak(stsdAudio(2, 44100)))
    val vid = mp4File(trak(stsdVideo(1280, 720)), trak(stsdAudio(1, 48000)))
    val hostile = box("ftyp", "isom0000".getBytes("US-ASCII")) ++
      Array[Byte](0, 0, 0, 1, 'm', 'o', 'o', 'v') // size=1 but no largesize
    val payloads = Seq((1L, m4a), (2L, vid), (3L, hostile))
    val out = Multimodal.decode(payloads.toDF("id", "content"), "content")
      .select(col("id"), col("meta")).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[org.apache.spark.sql.Row](1))).toMap
    val a = out(1L).get
    assert(a.getString(0) == "mp4" && a.getInt(4) == 2 && a.getInt(5) == 44100 &&
      a.getLong(6) == 2500L, a.toString) // 2500/1000 timescale units = 2500 ms
    val v = out(2L).get
    assert(v.getInt(1) == 1280 && v.getInt(2) == 720 &&
      v.getInt(4) == 1 && v.getInt(5) == 48000 && v.getLong(6) == 2500L, v.toString)
    assert(out(3L).isEmpty, "hostile largesize must yield NULL meta")
    assertTextAgrees(payloads, out)
  }

  test("ogg: vorbis and opus id headers + last-granule duration from the page walk") {
    // vorbis: id page granule 0, then a data page at granule 44100 -> 1000 ms
    val vorb = oggPage(0L, vorbisId(2, 44100), 0) ++
      oggPage(44100L, new Array[Byte](10), 1)
    // opus: pre-skip 312, last granule 48312 -> (48312-312)/48000 = 1000 ms
    val opus = oggPage(0L, opusHead(1, 312), 0) ++
      oggPage(48312L, new Array[Byte](10), 1)
    val garbage = "OggSbutnotreallyapagewalkable".getBytes("US-ASCII")
    val payloads = Seq((1L, vorb), (2L, opus), (3L, garbage))
    val out = Multimodal.decode(payloads.toDF("id", "content"), "content")
      .select(col("id"), col("meta")).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[org.apache.spark.sql.Row](1))).toMap
    val v = out(1L).get
    assert(v.getString(0) == "ogg/vorbis" && v.getInt(4) == 2 &&
      v.getInt(5) == 44100 && v.getLong(6) == 1000L, v.toString)
    val o = out(2L).get
    assert(o.getString(0) == "ogg/opus" && o.getInt(4) == 1 &&
      o.getInt(5) == 48000 && o.getLong(6) == 1000L, o.toString)
    assert(out(3L).isEmpty, "truncated page must yield NULL meta")
    assertTextAgrees(payloads, out)
  }

  test("tiff decodes through the JDK codec; flac STREAMINFO walk gives exact facts") {
    // real TIFF via ImageIO encode (the JDK ships the codec since 9)
    val img = new java.awt.image.BufferedImage(13, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val tout = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "tiff", tout), "JDK must encode tiff")
    val tiff = tout.toByteArray
    // FLAC: magic + one last-flagged STREAMINFO block; 44100 Hz,
    // 2 ch, 22050 samples -> 500 ms
    val si = new Array[Byte](34)
    val rate = 44100; val ch = 2; val samples = 22050L
    si(10) = ((rate >> 12) & 0xff).toByte
    si(11) = ((rate >> 4) & 0xff).toByte
    si(12) = (((rate & 0xf) << 4) | ((ch - 1) << 1)).toByte
    si(13) = ((samples >> 32) & 0x0f).toByte
    si(14) = ((samples >> 24) & 0xff).toByte
    si(15) = ((samples >> 16) & 0xff).toByte
    si(16) = ((samples >> 8) & 0xff).toByte
    si(17) = (samples & 0xff).toByte
    val flac = "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ si
    val rows = Seq((1L, tiff), (2L, flac)).toDF("id", "content")
    val out = Multimodal.decode(rows, "content")
      .select(col("id"), col("meta")).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row](1)).toMap
    val t = out(1L)
    assert(t.getString(0) == "tiff" && t.getInt(1) == 13 && t.getInt(2) == 7, t.toString)
    val f = out(2L)
    assert(f.getString(0) == "flac" && f.getInt(4) == 2 &&
      f.getInt(5) == 44100 && f.getLong(6) == 500L, f.toString)
  }

  test("parser fuzz: random and truncated payloads never throw, hang or kill rows") {
    val rnd = new scala.util.Random(991)
    val magics = Seq[Array[Byte]](
      "ID3".getBytes("US-ASCII"),
      Array(0xFF, 0xFB).map(_.toByte),
      "RIFFxxxxWAVE".getBytes("US-ASCII"),
      "RIFFxxxxWEBP".getBytes("US-ASCII"),
      "xxxxftyp".getBytes("US-ASCII"),
      "OggS".getBytes("US-ASCII"),
      "fLaC".getBytes("US-ASCII"),
      Array[Byte]('I', 'I', 42, 0),
      Array[Byte]('M', 'M', 0, 42))
    val rows = (0 until 300).map { i =>
      val magic = magics(i % magics.length)
      val tail = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(tail)
      (i.toLong, magic ++ tail)
    }.toDF("id", "content")
    // the decode must complete (no hang on hostile sizes), keep every
    // row, and each non-null meta must carry sane values
    val out = Multimodal.decode(rows, "content")
      .select(col("id"), col("meta")).collect()
    assert(out.length == 300, "every row retained")
    out.foreach { r =>
      Option(r.getAs[org.apache.spark.sql.Row](1)).foreach { m =>
        assert(m.getInt(1) >= 0 && m.getInt(2) >= 0, s"negative dims: $m")
        assert(m.getInt(4) >= 0 && m.getInt(5) >= 0 && m.getLong(6) >= 0L,
          s"negative audio facts: $m")
      }
    }
  }

  test("webp: dimensions parsed from VP8L, VP8X and VP8 layouts; pixels stay stubbed") {
    // VP8L: sig 0x2F, then (w-1)=639, (h-1)=359 packed 14+14 bits LE
    val bits = 639 | (359 << 14)
    val vp8l = webpChunk("VP8L", Array(0x2F, bits & 0xff, (bits >> 8) & 0xff,
      (bits >> 16) & 0xff, (bits >> 24) & 0xff).map(_.toByte))
    // VP8X: 4 feature/reserved bytes, then (w-1),(h-1) as 24-bit LE
    val vp8x = webpChunk("VP8X", Array[Int](0, 0, 0, 0,
      0x7F, 0x01, 0x00, /* w-1 = 383 */ 0xDF, 0x00, 0x00 /* h-1 = 223 */).map(_.toByte))
    // VP8 lossy: 3-byte frame tag, start code 9D 01 2A, 16-bit w, h
    val vp8 = webpChunk("VP8 ", Array[Int](0, 0, 0, 0x9D, 0x01, 0x2A,
      320 & 0xff, 320 >> 8, 240 & 0xff, 240 >> 8).map(_.toByte))
    val payloads = Seq((1L, vp8l), (2L, vp8x), (3L, vp8))
    val out = Multimodal.decode(payloads.toDF("id", "content"), "content")
      .select(col("id"), col("meta")).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row](1)).toMap
    assert(out(1L).getString(0) == "webp" && out(1L).getInt(1) == 640 && out(1L).getInt(2) == 360)
    assert(out(2L).getInt(1) == 384 && out(2L).getInt(2) == 224)
    assert(out(3L).getInt(1) == 320 && out(3L).getInt(2) == 240)
    assertTextAgrees(payloads, out.map { case (id, m) => id -> Option(m) })
  }
}
