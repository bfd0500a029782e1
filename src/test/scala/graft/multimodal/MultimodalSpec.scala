package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  /** `e` and its cause chain: a task's exception reaches the driver
    * wrapped in the job's SparkException. */
  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("real PNG decode: ImageIO reports true dimensions and exact pixel stats") {
    import spark.implicits._
    // 3x2 image with known luminances 10,20,30 / 40,50,60
    val bytes = Multimodal.encodePng(3, 2, (x, y) => 10 + x * 10 + y * 30)
    // a genuine PNG signature, not a stub hash
    assert((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P'.toByte)
    val f = Multimodal.decodeImage(Multimodal.MediaRow(7L, bytes, "image/png"))
    assert(f.width == 3 && f.height == 2, s"true dims expected, got ${f.width}x${f.height}")
    assert(f.feature(0) == 35.0f, s"mean lum: ${f.feature(0)}")   // (10+..+60)/6
    assert(f.feature(1) == 10.0f && f.feature(2) == 60.0f)        // min / max
    assert(f.feature(4) == 20.0f && f.feature(5) == 50.0f)        // top / bottom half
    assert(f.byte_len == bytes.length.toLong && f.feature.length == 8)
    // the distributed path decodes the same bytes through the per-partition codec
    val viaSpark = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRow(7L, bytes, "image/png")).toDS())
      .collect().head
    assert(viaSpark.width == 3 && viaSpark.feature.toSeq == f.feature.toSeq)
    assert(viaSpark.byte_len == bytes.length.toLong && viaSpark.feature.length == 8)
    // corrupt payloads fail loudly, not as garbage stats
    val e = intercept[Exception] {
      Multimodal.decodeImage(Multimodal.MediaRow(8L, Array[Byte](1, 2, 3), "image/png"))
    }
    assert(e.getMessage.contains("not a decodable"))
  }

  test("extractFeatures fails on a mime with no JDK image reader, naming the media_id") {
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow(3L, "hello world".getBytes("UTF-8"), "text/plain")).toDS()
    val e = intercept[Exception](Multimodal.extractFeatures(media).collect())
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("media_id 3: no JDK ImageIO reader for text/plain")), e)
  }

  test("pngMediaFromDocuments dims/pixels follow the closed form the oracle uses") {
    import spark.implicits._
    val docs = Seq((0L, "a"), (5L, "b"), (17L, "c")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(
      Multimodal.pngMediaFromDocuments(spark, docs)).collect().sortBy(_.media_id)
    feats.foreach { f =>
      val did = f.media_id
      assert(f.width == (4 + did % 13).toInt && f.height == (3 + did % 7).toInt)
      val vs = for (y <- 0 until f.height; x <- 0 until f.width)
        yield ((x * 31 + y * 17 + did) % 256).toDouble
      assert(f.feature(0) == (vs.sum / vs.size).toFloat,
        s"doc $did mean ${f.feature(0)} vs ${(vs.sum / vs.size).toFloat}")
    }
  }

  test("real WAV decode: javax.sound reports true format and exact amplitude stats") {
    // 100 frames of a known integer ramp: every stat is hand-computable
    val samples = Array.tabulate(100)(i => ((i * 37) % 2001 - 1000).toShort)
    val wav = Multimodal.encodeWav(100, 8000f, samples(_))
    val f = Multimodal.decodeAudio(Multimodal.MediaRow(7L, wav, "audio/wav"))
    assert(f.sample_rate == 8000 && f.n_channels == 1 && f.n_frames == 100L)
    val exp = samples.map(_.toDouble)
    val rms = math.sqrt(exp.map(v => v * v).sum / 100.0)
    val meanAbs = exp.map(math.abs).sum / 100.0
    // PCM16 is lossless and the sums are integer-exact — equality, not
    // tolerance
    assert(f.feature(0) == rms.toFloat, s"rms ${f.feature(0)} vs $rms")
    assert(f.feature(1) == meanAbs.toFloat)
    assert(f.feature(2) == exp.map(math.abs).max.toFloat)
    // garbage bytes fail loudly, not as silent zeros
    intercept[IllegalArgumentException](
      Multimodal.decodeAudio(Multimodal.MediaRow(8L, Array[Byte](1, 2, 3), "audio/wav")))
  }

  test("wavMediaFromDocuments frames/samples follow the closed form the oracle uses") {
    import spark.implicits._
    val docs = Seq((5L, "x"), (13L, "y")).toDF("doc_id", "text")
    val feats = Multimodal.extractAudioFeatures(
      Multimodal.wavMediaFromDocuments(spark, docs)).collect()
      .map(f => f.media_id -> f).toMap
    Seq(5L, 13L).foreach { did =>
      val n = (400 + did % 800).toInt
      val s = Array.tabulate(n)(i => ((i.toLong * 37 + did * 11) % 2001 - 1000).toDouble)
      val f = feats(did)
      assert(f.n_frames == n.toLong)
      assert(f.feature(0) == math.sqrt(s.map(v => v * v).sum / n).toFloat)
      assert(f.feature(1) == (s.map(math.abs).sum / n).toFloat)
    }
  }

  test("real AIFF decode: big-endian container round-trips the exact samples") {
    // same decodeAudio path as WAV; the byte order flips to big-endian
    // via fmt.isBigEndian — a wrong-endian read would scramble every stat
    val samples = Array.tabulate(90)(i => ((i * 53) % 1777 - 888).toShort)
    val aiff = Multimodal.encodeAiff(90, 11025f, samples(_))
    // IFF magic: FORM....AIFF
    assert(new String(aiff.slice(0, 4), "US-ASCII") == "FORM")
    assert(new String(aiff.slice(8, 12), "US-ASCII") == "AIFF")
    val f = Multimodal.decodeAudio(Multimodal.MediaRow(9L, aiff, "audio/aiff"))
    assert(f.sample_rate == 11025 && f.n_channels == 1 && f.n_frames == 90L)
    val exp = samples.map(_.toDouble)
    assert(f.feature(0) == math.sqrt(exp.map(v => v * v).sum / 90.0).toFloat)
    assert(f.feature(1) == (exp.map(math.abs).sum / 90.0).toFloat)
    assert(f.feature(2) == exp.map(math.abs).max.toFloat)
    // truncated container fails loudly, not as silent zeros
    intercept[IllegalArgumentException](
      Multimodal.decodeAudio(Multimodal.MediaRow(10L, aiff.take(20), "audio/aiff")))
  }

  test("aiffMediaFromDocuments frames/samples follow the closed form the oracle uses") {
    import spark.implicits._
    val docs = Seq((5L, "x"), (13L, "y")).toDF("doc_id", "text")
    val feats = Multimodal.extractAudioFeatures(
      Multimodal.aiffMediaFromDocuments(spark, docs)).collect()
      .map(f => f.media_id -> f).toMap
    Seq(5L, 13L).foreach { did =>
      val n = (300 + did % 700).toInt
      val s = Array.tabulate(n)(i => ((i.toLong * 53 + did * 17) % 1777 - 888).toDouble)
      val f = feats(did)
      assert(f.n_frames == n.toLong && f.sample_rate == 11025)
      assert(f.feature(0) == math.sqrt(s.map(v => v * v).sum / n).toFloat)
      assert(f.feature(1) == (s.map(math.abs).sum / n).toFloat)
    }
  }

  test("real float32 WAV: IEEE-float container round-trips the exact samples") {
    // WAVE_FORMAT_IEEE_FLOAT (format tag 3) through WaveFloatFileReader:
    // integer-valued float samples are exact, so every stat matches the
    // driver recount bit-for-bit
    val samples = Array.tabulate(77)(i => ((i * 29) % 1601 - 800).toFloat)
    val wav = Multimodal.encodeWavFloat(77, 16000f, samples(_))
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val f = Multimodal.decodeAudioF32(Multimodal.MediaRow(9L, wav, "audio/wav-f32"))
    assert(f.sample_rate == 16000 && f.n_channels == 1 && f.n_frames == 77L)
    val exp = samples.map(_.toDouble)
    assert(f.feature(0) == math.sqrt(exp.map(v => v * v).sum / 77.0).toFloat)
    assert(f.feature(1) == (exp.map(math.abs).sum / 77.0).toFloat)
    assert(f.feature(2) == exp.map(math.abs).max.toFloat)
    // a PCM16 container through the float path fails loudly (contract
    // mismatch), as does a truncated float container
    val pcm16 = Multimodal.encodeWav(50, 8000f, i => (i * 7).toShort)
    intercept[IllegalArgumentException](
      Multimodal.decodeAudioF32(Multimodal.MediaRow(10L, pcm16, "audio/wav")))
    intercept[IllegalArgumentException](
      Multimodal.decodeAudioF32(Multimodal.MediaRow(11L, wav.take(16), "audio/wav-f32")))
    // and a float container through the PCM16 path fails loudly too
    intercept[IllegalArgumentException](
      Multimodal.decodeAudio(Multimodal.MediaRow(12L, wav, "audio/wav-f32")))
  }

  test("real bilinear resize: corner-aligned samples, exact blends, aspect, pass-through") {
    // 3x3 → maxSide 2: ow=oh=2, qx=qy=1, sx = 2·ox — every output pixel
    // samples a source CORNER exactly (fx=fy=0), no blending
    val img3 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodePng(3, 3, (x, y) => 10 * (y * 3 + x))))
    val r3 = Multimodal.resizeImage(img3, 2)
    assert(r3.getWidth == 2 && r3.getHeight == 2)
    def gray(img: java.awt.image.BufferedImage, x: Int, y: Int): Int =
      img.getRGB(x, y) & 0xFF
    assert(gray(r3, 0, 0) == 0 && gray(r3, 1, 0) == 20)
    assert(gray(r3, 0, 1) == 60 && gray(r3, 1, 1) == 80)
    // 5x1 → maxSide 4: ow=4, qx=3, sx = ox·4/3 — ox=1 lands at 4/3:
    // blend of src[1]=10 and src[2]=20 with weights 2/3,1/3 → floor(40/3)=13
    val img5 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodePng(5, 1, (x, _) => 10 * x)))
    val r5 = Multimodal.resizeImage(img5, 4)
    assert(r5.getWidth == 4 && r5.getHeight == 1)
    assert(gray(r5, 0, 0) == 0 && gray(r5, 1, 0) == 13 &&
      gray(r5, 2, 0) == 26 && gray(r5, 3, 0) == 40)
    // aspect preservation: 16x8 → maxSide 4 gives 4x2
    val img16 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodePng(16, 8, (x, y) => (x + y) % 256)))
    val r16 = Multimodal.resizeImage(img16, 4)
    assert(r16.getWidth == 4 && r16.getHeight == 2)
    // pass-through: an image already inside maxSide is returned unresized
    assert(Multimodal.resizeImage(img3, 8) eq img3)
  }

  test("real animated-GIF decode: frames round-trip pixel-exact, sampling keeps every k-th") {
    // 4 frames of 3x5 (height ≥ 5: the measured JDK GIF codec floor),
    // frame f pixel (x,y) = 10 + 10x + 30y + f — the gray-ramp palette
    // makes the indexed container lossless
    val pix = (f: Int) => (x: Int, y: Int) => 10 + x * 10 + y * 30 + f
    val gif = Multimodal.encodeGif(3, 5, (0 until 4).map(pix))
    // genuine GIF signature
    assert(new String(gif.slice(0, 6), "US-ASCII").startsWith("GIF8"))
    val all = Multimodal.decodeGifFrames(gif, 7L)
    assert(all.length == 4)
    all.zipWithIndex.foreach { case (fr, i) =>
      assert(fr.width == 3 && fr.height == 5 && fr.frame_idx == i)
      // mean = 10 + avg(10x) + avg(30y) = 10 + 10 + 60; min at (0,0); max at (2,4)
      assert(fr.feature(0) == (80.0 + i).toFloat, s"frame $i mean ${fr.feature(0)}")
      assert(fr.feature(1) == (10 + i).toFloat && fr.feature(2) == (150 + i).toFloat)
    }
    val sampled = Multimodal.decodeGifFrames(gif, 7L, sampleEvery = 2)
    assert(sampled.map(_.frame_idx) == Vector(0, 2))
    // the sub-floor height the JDK codec corrupts is rejected loudly
    assert(intercept[IllegalArgumentException](
      Multimodal.encodeGif(3, 2, Seq((_, _) => 0))).getMessage.contains("height"))
    // garbage fails loudly with the media id
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeGifFrames("not a gif".getBytes, 99L))
    assert(e.getMessage.contains("99"))
  }

  test("real AVI frame decode: DIB frames round-trip pixel-exact, sampling keeps every k-th") {
    // 2 frames of 3x2 with known luminances: frame f pixel (x,y) = base + f
    val pix = (f: Int) => (x: Int, y: Int) => 10 + x * 10 + y * 30 + f
    val avi = Multimodal.encodeAvi(3, 2, fps = 10, mjpeg = false,
      frames = (0 until 4).map(f => Multimodal.dibFrame(3, 2, pix(f))))
    // genuine RIFF/AVI signature
    assert(new String(avi.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    val all = Multimodal.decodeAviFrames(avi, 7L)
    assert(all.length == 4)
    all.zipWithIndex.foreach { case (fr, i) =>
      assert(fr.width == 3 && fr.height == 2 && fr.frame_idx == i)
      assert(fr.feature(0) == (35.0 + i).toFloat, s"frame $i mean ${fr.feature(0)}")
      assert(fr.feature(1) == (10 + i).toFloat && fr.feature(2) == (60 + i).toFloat)
    }
    // sampling: every 2nd frame keeps original indices 0 and 2
    val sampled = Multimodal.decodeAviFrames(avi, 7L, sampleEvery = 2)
    assert(sampled.map(_.frame_idx) == Vector(0, 2))
    // garbage bytes fail loudly with the media id
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeAviFrames(Array[Byte](1, 2, 3, 4), 9L))
    assert(e.getMessage.contains("media_id 9"))
    // an unsupported codec fourcc fails loudly, never decodes garbage
    val h264 = avi.clone()
    val strhAt = avi.indexOfSlice("strh".getBytes("US-ASCII"))
    System.arraycopy("H264".getBytes("US-ASCII"), 0, h264, strhAt + 12, 4)
    val strfAt = avi.indexOfSlice("strf".getBytes("US-ASCII"))
    System.arraycopy("H264".getBytes("US-ASCII"), 0, h264, strfAt + 8 + 16, 4)
    val e2 = intercept[IllegalArgumentException](Multimodal.decodeAviFrames(h264, 3L))
    assert(e2.getMessage.contains("unsupported AVI codec"))
  }

  test("MJPEG-in-AVI decodes through ImageIO identically to the bare JPEG") {
    // JPEG is lossy, so no closed-form pixel oracle — instead assert the
    // AVI demux path hands ImageIO exactly the embedded codestream: stats
    // from the container equal stats from decoding the JPEG directly
    val codec = new Multimodal.ImageCodec
    val jpegs = (0 until 3).map { f =>
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16) {
        val v = (x * 13 + y * 29 + f * 41) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      codec.write(img, "image/jpeg")
    }
    val avi = Multimodal.encodeAvi(16, 12, fps = 10, mjpeg = true, frames = jpegs)
    val frames = Multimodal.decodeAviFrames(avi, 5L)
    assert(frames.length == 3)
    frames.zipWithIndex.foreach { case (fr, i) =>
      assert(fr.width == 16 && fr.height == 12)
      val direct = Multimodal.decodeImage(
        Multimodal.MediaRow(5L, jpegs(i), "image/jpeg"))
      assert(fr.feature.toSeq == direct.feature.toSeq,
        s"frame $i: container decode diverged from direct JPEG decode")
    }
  }

  test("aviMediaFromDocuments frames/pixels follow the closed form the oracle uses") {
    import spark.implicits._
    val docs = Seq((0L, "a"), (6L, "b"), (29L, "c")).toDF("doc_id", "text")
    val frames = Multimodal.extractVideoFrames(
      Multimodal.aviMediaFromDocuments(spark, docs), sampleEvery = 2)
      .collect().groupBy(_.media_id)
    Seq(0L, 6L, 29L).foreach { did =>
      val (w, h, nf) = ((4 + did % 13).toInt, (3 + did % 7).toInt, (2 + did % 5).toInt)
      val kept = frames(did).sortBy(_.frame_idx)
      assert(kept.map(_.frame_idx).toSeq == (0 until nf by 2).toSeq)
      kept.foreach { fr =>
        assert(fr.width == w && fr.height == h)
        val vs = for (y <- 0 until h; x <- 0 until w)
          yield ((x * 31 + y * 17 + fr.frame_idx * 23 + did) % 256).toDouble
        assert(fr.feature(0) == (vs.sum / vs.size).toFloat,
          s"doc $did frame ${fr.frame_idx} mean ${fr.feature(0)}")
        assert(fr.feature(1) == vs.min.toFloat && fr.feature(2) == vs.max.toFloat)
      }
    }
  }

  test("real MP4 box parse: encode→parse round trip is exact, byte layout is ISO-BMFF") {
    val bytes = Multimodal.encodeMp4(42L, width = 320, height = 240,
      durationTicks = 3000L, timescale = 600L, mdatLen = 50)
    // genuine container signature: size(4) + 'ftyp' + major brand 'isom'
    assert(new String(bytes.slice(4, 8), "US-ASCII") == "ftyp")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "isom")
    val m = Multimodal.parseMp4(bytes, 42L)
    assert(m.brand == "isom" && m.timescale == 600L)
    assert(m.duration_ms == 5000L)  // 3000 ticks / 600 ticks-per-s
    assert(m.width == 320 && m.height == 240)
    assert(m.mdat_bytes == 50L && m.byte_len == bytes.length.toLong)
    // ftyp + moov + mvhd + trak + tkhd + mdat
    assert(m.n_boxes == 6, s"box walk found ${m.n_boxes} boxes")
  }

  test("MP4 parse reads version-1 mvhd/tkhd layouts (64-bit times)") {
    // hand-built v1 boxes: the encoder emits v0, so v1 offsets (u64
    // creation/modification/duration) are covered here
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + body.length)
      b.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      b.array()
    }
    val mvhd1 = {
      val b = java.nio.ByteBuffer.allocate(112) // v1 body: 100 + 3×4 extra
      b.putInt(0x01000000)              // version 1
        .putLong(0L).putLong(0L)        // creation/modification (u64)
        .putInt(90000)                  // timescale
        .putLong(180000L)               // duration (u64) = 2 s
      b.array()
    }
    val tkhd1 = {
      val b = java.nio.ByteBuffer.allocate(96) // v1 body: 84 + 3×4 extra
      b.putInt(0x01000007).putLong(0L).putLong(0L).putInt(1).putInt(0)
        .putLong(180000L).putLong(0L)
        .putShort(0).putShort(0).putShort(0).putShort(0)
      b.position(b.position() + 36)     // matrix
      b.putInt(1920 << 16).putInt(1080 << 16)
      b.array()
    }
    val clip = box("moov", box("mvhd", mvhd1) ++ box("trak", box("tkhd", tkhd1)))
    val m = Multimodal.parseMp4(clip, 7L)
    assert(m.timescale == 90000L && m.duration_ms == 2000L)
    assert(m.width == 1920 && m.height == 1080)
  }

  test("corrupt MP4 fails loudly with the media id, never propagates zeros") {
    val good = Multimodal.encodeMp4(1L, 64, 48, 600L, 600L, 10)
    // truncated mid-box: header claims more bytes than remain
    val truncated = good.take(good.length - 4)
    val e1 = intercept[IllegalArgumentException](Multimodal.parseMp4(truncated, 9L))
    assert(e1.getMessage.contains("media_id 9"))
    // structurally valid boxes but no moov/mvhd → not playable
    val noMoov = good.take(24) // just the ftyp box
    val e2 = intercept[IllegalArgumentException](Multimodal.parseMp4(noMoov, 11L))
    assert(e2.getMessage.contains("mvhd"))
  }

  test("mp4MediaFromDocuments metadata follows the closed form the oracle uses") {
    import spark.implicits._
    val docs = Seq((0L, "a"), (7L, "b"), (123L, "c")).toDF("doc_id", "text")
    val metas = Multimodal.extractVideoMeta(
      Multimodal.mp4MediaFromDocuments(spark, docs))
      .collect().sortBy(_.media_id)
    metas.foreach { m =>
      val id = m.media_id
      assert(m.brand == "isom" && m.mime == "video/mp4")
      assert(m.duration_ms == 1000L * (5 + id % 120))
      assert(m.width == 16 * (4 + id % 60) && m.height == 16 * (3 + id % 40))
      assert(m.mdat_bytes == 100 + id % 900)
      assert(m.byte_len == 348 + id % 900)
    }
  }

  test("resamplePcm: exact fixed-point interpolation, floor toward -inf") {
    // 4/3 downsample of a ramp: positions 0, 4/3, 8/3 → 0, 3+(6−3)/3, 6+2(9−6)/3
    assert(Multimodal.resamplePcm(Array[Short](0, 3, 6, 9), 4, 3).toSeq
      === Seq(0, 4, 8))
    // identity ratio returns the input verbatim
    assert(Multimodal.resamplePcm(Array[Short](5, -7, 9), 1, 1).toSeq
      === Seq(5, -7, 9))
    // negative weighted sums floor toward −∞ (−8/3 → −3), matching SQL FLOOR
    assert(Multimodal.resamplePcm(Array[Short](-1, -2, -4, -8), 4, 3).toSeq
      === Seq(-1, -3, Math.floorDiv(-4 * 1 + -8 * 2, 3)))
    // single sample: one output, no interpolation partner needed
    assert(Multimodal.resamplePcm(Array[Short](123), 4, 3).toSeq === Seq(123))
  }

  test("resampleAudio end-to-end: real WAV decode matches a driver recompute") {
    import spark.implicits._
    val docs = Seq(7L, 123L, 800L).toDF("doc_id")
    val media = Multimodal.wavMediaFromDocuments(spark, docs)
    val got = Multimodal.resampleAudio(media, num = 4, den = 3)
      .collect().map(r => r.media_id -> r).toMap
    for (did <- Seq(7L, 123L, 800L)) {
      val n = (400 + did % 800).toInt
      val src = Array.tabulate(n)(i =>
        (((i.toLong * 37 + did * 11) % 2001) - 1000).toShort)
      val out = Multimodal.resamplePcm(src, 4, 3)
      val r = got(did)
      assert(r.sample_rate_out === 6000)
      assert(r.n_in === n.toLong && r.n_out === out.length.toLong)
      assert(r.sum_out === out.map(_.toLong).sum)
      assert(r.sum_abs_out === out.map(v => math.abs(v.toLong)).sum)
      assert(r.peak_out === out.map(v => math.abs(v.toLong)).max)
    }
  }

  test("resampleAudio rejects a float32 WAV with the media_id (PCM16 contract)") {
    import spark.implicits._
    val f32 = Multimodal.encodeWavFloat(64, 16000f, i => (i * 5 - 100).toFloat)
    val media = Seq(Multimodal.MediaRow(21L, f32, "audio/wav-f32")).toDS()
    val e = intercept[Exception](Multimodal.resampleAudio(media, num = 4, den = 3).collect())
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("media_id 21: expected mono PCM16")), e)
  }

  test("resampleTo: identity at source dims, exact upscale blends") {
    def gray(img: java.awt.image.BufferedImage, x: Int, y: Int): Int =
      img.getRGB(x, y) & 0xFF
    // identity: 8x8 source through an 8x8 resample is pixel-for-pixel
    val img8 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodePng(8, 8, (x, y) => (x * 7 + y * 13) % 256)))
    val id = Multimodal.resampleTo(img8, 8, 8)
    for (y <- 0 until 8; x <- 0 until 8)
      assert(gray(id, x, y) == gray(img8, x, y), s"identity at ($x,$y)")
    // upscale 2x1 → 5x1: qx=4, sx = ox/4 — blend weights are exact
    // quarters of src {0, 100}: 0, 25, 50, 75, 100
    val img2 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodePng(2, 1, (x, _) => 100 * x)))
    val up = Multimodal.resampleTo(img2, 5, 1)
    assert((0 until 5).map(gray(up, _, 0)) == Seq(0, 25, 50, 75, 100))
  }

  test("pHash: flat images hash to 0, a gradient sets only horizontal bits") {
    import spark.implicits._
    def phashOf(w: Int, h: Int, f: (Int, Int) => Int) = {
      val media = Seq(Multimodal.MediaRow(0L,
        Multimodal.encodePng(w, h, f), "image/png")).toDS()
      Multimodal.phashSummaries(media).collect().head
    }
    // constant image: every non-DC DCT coefficient is exactly 0 → median
    // 0, no strict exceedance → hash 0, and DC = 64·c·2²⁸
    val flat = phashOf(6, 4, (_, _) => 77)
    assert(flat.phash === 0L && flat.n_ones === 0L)
    assert(flat.dc === 64L * 77L * 16384L * 16384L)
    // horizontal ramp: separable p = g(x) ⇒ every coefficient with v ≠ 0
    // vanishes (column factor sums cosine over a constant), so only bits
    // at u*4 (v = 0) can set; DECREASING so the surviving odd-u
    // coefficients are positive (above the all-zero median)
    val ramp = phashOf(8, 8, (x, _) => 210 - x * 30)
    assert(ramp.n_ones > 0L, "a ramp is not flat")
    val allowed = Set(4, 8, 12).map(1L << _).sum
    assert((ramp.phash & ~allowed) === 0L,
      s"vertical-frequency bits must be clear: ${ramp.phash.toBinaryString}")
  }

  test("pHash on real data: 15-bit range, popcount consistency, ≤7 ones") {
    val rows = graft.SparkEntry.queries("q_image_phash")(
      spark, graft.TestData.Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getLong(2)
      assert((h & 1L) === 0L && h < (1L << 16), s"bit 0 is DC, 15-bit: $r")
      assert(java.lang.Long.bitCount(h).toLong === r.getLong(3))
      assert(r.getLong(3) <= 7L,
        s"strictly-above-median of 15 values is at most 7: $r")
    }
  }

  test("TIFF round-trip: JDK writer/reader is lossless pixel-for-pixel") {
    val codec = new Multimodal.ImageCodec
    val img = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 7) {
      val v = (x * 29 + y * 19 + 3) % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bytes = codec.write(img, "image/tiff")
    assert(bytes.length > 0)
    val back = codec.read(bytes, "image/tiff", 0L)
    assert(back.getWidth === 7 && back.getHeight === 5)
    for (y <- 0 until 5; x <- 0 until 7)
      assert((back.getRGB(x, y) & 0xFFFFFF) === (img.getRGB(x, y) & 0xFFFFFF),
        s"pixel ($x,$y)")
  }

  test("q_multimodal_tiff: decoded dims and luminance match the pixel formula") {
    val rows = graft.SparkEntry.queries("q_multimodal_tiff")(
      spark, graft.TestData.Sf0001).collect()
    assert(rows.length === 500)
    rows.take(20).foreach { r =>
      val did = r.getLong(0)
      assert(r.getString(1) === "image/tiff")
      assert(r.getLong(2) === 5 + did % 11 && r.getLong(3) === 4 + did % 9)
      val w = (5 + did % 11).toInt; val h = (4 + did % 9).toInt
      val vals = for (y <- 0 until h; x <- 0 until w)
        yield ((x * 29 + y * 19 + did * 3) % 256).toDouble
      assert(r.getLong(5) === vals.min.toLong && r.getLong(6) === vals.max.toLong)
    }
  }
}
