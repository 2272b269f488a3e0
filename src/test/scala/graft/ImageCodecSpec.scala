package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Ground-truth tests for the real media paths — `javax.imageio`
  * images, the engine's PCM WAV reader, and the pure-JVM MPEG-audio
  * frame-header walk: decoded values must match an independent replay of
  * the same bytes, and everything else must stay on the deterministic
  * stub, whose contract is pinned here so its output can never be
  * mistaken for a real decode. */
class ImageCodecSpec extends AnyFunSuite {

  test("JPEG/EXIF: both TIFF byte orders, offset-stored Make, inline " +
      "SHORT/LONG values, SOF dims, exact byte length") {
    for (le <- Seq(true, false)) {
      val b = Multimodal.syntheticExifJpeg("cam_3", orientation = 6,
        iso = 400, width = 123, height = 77, littleEndian = le)
      assert(b.length == 113) // the q261 oracle's pinned constant
      val m = Multimodal.parseJpegExif(b).get
      assert(m.endian == (if (le) "II" else "MM"))
      assert(m.make == "cam_3" && m.orientation == 6 && m.iso == 400)
      assert(m.pixX == 123L && m.width == 123 && m.height == 77)
    }
  }

  test("WebP: VP8 sync + 14-bit dims, VP8L packed dims, RIFF size " +
      "accounting; corrupt sync/size/magic drop") {
    val lossy = Multimodal.syntheticWebp(321, 239, lossless = false, 7)
    val m1 = Multimodal.parseWebp(lossy).get
    assert(m1.codec == "VP8" && m1.width == 321 && m1.height == 239)
    assert(m1.riffSize + 8 == lossy.length)
    val ll = Multimodal.syntheticWebp(16, 8, lossless = true, 9)
    val m2 = Multimodal.parseWebp(ll).get
    assert(m2.codec == "VP8L" && m2.width == 16 && m2.height == 8)
    // corrupt the VP8 sync code
    val bad = lossy.clone(); bad(24) = 0x77.toByte
    assert(Multimodal.parseWebp(bad).isEmpty)
    // RIFF size that disagrees with the actual byte count
    val short = lossy.dropRight(1)
    assert(Multimodal.parseWebp(short).isEmpty)
    assert(Multimodal.parseWebp("RIFFnope".getBytes).isEmpty)
  }

  test("JPEG/EXIF rejections: bad magic, truncation mid-segment, and a " +
      "JPEG without APP1 or SOF drop instead of throwing") {
    assert(Multimodal.parseJpegExif("not a jpeg".getBytes).isEmpty)
    val good = Multimodal.syntheticExifJpeg("cam_0", 1, 100, 16, 8,
      littleEndian = true)
    for (cut <- Seq(1, 3, 20, 60, good.length - 3))
      assert(Multimodal.parseJpegExif(good.take(cut)).isEmpty
        || cut >= good.length - 3) // EOI truncation may still parse
    // SOI+EOI only: no Exif, no frame header
    assert(Multimodal.parseJpegExif(
      Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
    // flip one byte inside the TIFF magic: the APP1 is skipped
    val broken = good.clone()
    broken(12) = 'X'.toByte
    assert(Multimodal.parseJpegExif(broken).isEmpty)
  }

  test("GIF block walk: dims, frames, NETSCAPE loop, GCT, byte length") {
    val g = Multimodal.syntheticGif(width = 17, height = 9, nFrames = 3,
      loopCount = 5, gct = true)
    val Some(m) = Multimodal.parseGif(g)
    assert(m.width == 17 && m.height == 9 && m.nFrames == 3)
    assert(m.loopCount == 5 && m.gctEntries == 2)
    assert(g.length == 13 + 6 + 19 + 14 * 3 + 1)
    // no NETSCAPE extension, no GCT → loop −1, 0 entries
    val plain = Multimodal.syntheticGif(4, 4, 1, loopCount = -1,
      gct = false)
    val Some(p) = Multimodal.parseGif(plain)
    assert(p.loopCount == -1 && p.gctEntries == 0 && p.nFrames == 1)
    assert(plain.length == 13 + 14 + 1)
  }

  test("GIF rejections: bad magic, truncation, missing trailer drop") {
    val g = Multimodal.syntheticGif(8, 8, 2, 3, gct = true)
    // bad signature
    val bad = g.clone(); bad(0) = 'J'.toByte
    assert(Multimodal.parseGif(bad).isEmpty)
    // truncated mid-frame: the walk must not fabricate a result
    assert(Multimodal.parseGif(
      java.util.Arrays.copyOf(g, g.length - 3)).isEmpty)
    // trailer byte replaced by garbage → unknown block → reject
    val noTrail = g.clone(); noTrail(g.length - 1) = 0x7f
    assert(Multimodal.parseGif(noTrail).isEmpty)
    // prose bytes are not a GIF
    assert(Multimodal.parseGif("hello world".getBytes("UTF-8")).isEmpty)
  }

  test("MP3 CBR: frame count, rate, duration, bitrate, exact byte walk") {
    val mp3 = Multimodal.syntheticMp3(nFrames = 50, sri = 0, kbpsIdx = 9)
    val Some(m) = Multimodal.parseMp3(mp3)
    assert(m.n_frames == 50 && m.sample_rate == 44100 && m.channels == 1)
    assert(m.kbps_mean == 128.0)
    assert(m.duration_ms == 50 * 1152 * 1000.0 / 44100)
    // frame length replay: 144·128000/44100 = 417 (+1 on odd frames)
    assert(mp3.length == 50 * 417 + 25)
  }

  test("MP3: ID3v2 tag skips by its syncsafe length; trailing bytes and " +
      "truncation stop the walk cleanly") {
    val tagged = Multimodal.syntheticMp3(12, sri = 1, kbpsIdx = 14,
      tagLen = 777)
    val Some(m) = Multimodal.parseMp3(tagged)
    assert(m.n_frames == 12 && m.sample_rate == 48000)
    assert(m.kbps_mean == 320.0)
    // trailing garbage (an ID3v1 TAG block) must not add frames
    val trailed = tagged ++ ("TAG" + "x" * 125).getBytes("UTF-8")
    assert(Multimodal.parseMp3(trailed).contains(m))
    // a truncated final frame is not counted
    val cut = java.util.Arrays.copyOf(tagged, tagged.length - 10)
    assert(Multimodal.parseMp3(cut).map(_.n_frames).contains(11L))
  }

  test("MP3 VBR: mean bitrate averages the per-frame rates") {
    // hand-spliced two-frame stream: 128 kbps then 160 kbps at 44100
    val out = new java.io.ByteArrayOutputStream()
    for ((idx, len) <- Seq((9, 417), (10, 522))) {
      out.write(0xff); out.write(0xfb)
      out.write((idx << 4) | (0 << 2)); out.write(0xc0)
      (4 until len).foreach(i => out.write(i & 0xff))
    }
    val Some(m) = Multimodal.parseMp3(out.toByteArray)
    assert(m.n_frames == 2 && m.kbps_mean == 144.0)
  }

  test("MP3 MPEG-2: half sample rate, 576 samples per frame") {
    // MPEG-2 Layer III @ 22050 Hz, bitrate index 8 = 64 kbps:
    // frame length = 72·64000/22050 = 208 bytes
    val out = new java.io.ByteArrayOutputStream()
    for (_ <- 0 until 3) {
      out.write(0xff); out.write(0xf3)
      out.write((8 << 4) | (0 << 2)); out.write(0xc0)
      (4 until 208).foreach(i => out.write(i & 0xff))
    }
    val Some(m) = Multimodal.parseMp3(out.toByteArray)
    assert(m.n_frames == 3 && m.sample_rate == 22050)
    assert(m.kbps_mean == 64.0)
    assert(m.duration_ms == 3 * 576 * 1000.0 / 22050)
  }

  test("MP3 rejections: prose bytes, a lone frame, free-format bitrate") {
    assert(Multimodal.parseMp3(
      "definitely not mpeg audio data".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.parseMp3(Multimodal.syntheticMp3(1, 0, 9)).isEmpty)
    val free = Array(0xff, 0xfb, 0x00, 0xc0, 0, 0, 0, 0).map(_.toByte)
    assert(Multimodal.parseMp3(free).isEmpty)
  }

  test("ID3v2: text frames decode in all four encodings, NULs trim, " +
      "corrupt frames stop cleanly, the MP3 walk coexists") {
    val tag = Multimodal.syntheticId3(Seq(
      "TIT2" -> "A Title", "TPE1" -> "Someone", "TXXX" -> "extra"))
    val tags = Multimodal.parseId3(tag)
    assert(tags == Map("TIT2" -> "A Title", "TPE1" -> "Someone",
      "TXXX" -> "extra"))
    // hand-built v2.3 frame (plain big-endian size) with UTF-16 text
    val text16 = "\ufeffTitre".getBytes("UTF-16BE")
    // encoding 1 expects a BOM; build: 'TIT2' size flags enc payload
    val body = new java.io.ByteArrayOutputStream()
    body.write("TIT2".getBytes("ISO-8859-1"))
    val sz = text16.length + 1
    body.write(sz >> 24); body.write((sz >> 16) & 0xff)
    body.write((sz >> 8) & 0xff); body.write(sz & 0xff)
    body.write(0); body.write(0); body.write(1)
    body.write(text16, 0, text16.length)
    val fb = body.toByteArray
    val v23 = new java.io.ByteArrayOutputStream()
    v23.write('I'); v23.write('D'); v23.write('3')
    v23.write(3); v23.write(0); v23.write(0)
    v23.write((fb.length >> 21) & 0x7f); v23.write((fb.length >> 14) & 0x7f)
    v23.write((fb.length >> 7) & 0x7f); v23.write(fb.length & 0x7f)
    v23.write(fb, 0, fb.length)
    assert(Multimodal.parseId3(v23.toByteArray) == Map("TIT2" -> "Titre"))
    // NUL-terminated values trim at the first NUL
    val nulTag = Multimodal.syntheticId3(Seq("TALB" -> "Album\u0000junk"))
    assert(Multimodal.parseId3(nulTag) == Map("TALB" -> "Album"))
    // no tag / prose bytes → empty; corrupt frame id ends the walk
    assert(Multimodal.parseId3("no tag here at all!!".getBytes).isEmpty)
    val corrupt = tag.clone()
    corrupt(10) = 'x'.toByte // lowercase id byte: invalid frame id
    assert(Multimodal.parseId3(corrupt).isEmpty)
    // tag + frames: BOTH walks see their half
    val full = tag ++ Multimodal.syntheticMp3(6, 0, 9)
    assert(Multimodal.parseId3(full).size == 3)
    assert(Multimodal.parseMp3(full).map(_.n_frames).contains(6L))
  }

  test("decode() audio lane: WAV first, MP3 header fallback, stub last") {
    val mp3 = Multimodal.syntheticMp3(nFrames = 8, sri = 2, kbpsIdx = 5)
    val f = Multimodal.decode(Multimodal.MediaRow(3L, "audio", mp3))
    assert(f.width == 32000 && f.height == 1 && f.n_frames == 8)
    assert(f.brightness == 64.0) // mean bitrate rides brightness
    // an MP3 payload under media_type video routes to the stub
    val v = Multimodal.decode(Multimodal.MediaRow(3L, "video", mp3))
    assert(v == Multimodal.decodeStub(Multimodal.MediaRow(3L, "video", mp3)))
  }

  test("video stub contract: the documented byte formulas, pinned") {
    // the ONLY remaining non-real decode is compressed video (the JDK
    // has no codec): its outputs are these exact pure functions of the
    // payload bytes — anything else coming out of the video lane means
    // the stub was silently swapped or broken, and any future real
    // codec must consciously delete this pin
    val payload = (0 until 1000).map(i => (i * 7 & 0xff).toByte).toArray
    val f = Multimodal.decode(Multimodal.MediaRow(11L, "video", payload))
    val n = payload.length
    assert(f.n_bytes == n)
    assert(f.width == n % 640 + 16)
    assert(f.height == (n * 7) % 480 + 16)
    assert(f.n_frames == n % 8 + 1)
    assert(f.brightness ==
      payload.map(b => (b & 0xff).toLong).sum.toDouble / n)
  }

  test("solid-gray PNG decodes to exact dimensions and brightness") {
    for ((w, h, g) <- Seq((1, 1, 0), (8, 31, 255), (24, 9, 128),
        (17, 17, 37))) {
      val png = Multimodal.syntheticPng(w, h, g)
      val Some((dw, dh, bright)) = Multimodal.decodeImage(png)
      assert((dw, dh) == (w, h))
      assert(bright == g.toDouble, s"w=$w h=$h g=$g got $bright")
    }
  }

  test("gradient PNG brightness matches an independent pixel-sum replay") {
    val w = 13; val h = 7
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var expected = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 19) % 256; val g = (y * 43) % 256
      val b = (x + y) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      expected += r + g + b
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val Some((dw, dh, bright)) = Multimodal.decodeImage(out.toByteArray)
    assert((dw, dh) == (w, h))
    assert(bright == expected.toDouble / (3.0 * w * h))
  }

  test("JPEG decodes with exact dimensions and near-fill brightness") {
    val img = new java.awt.image.BufferedImage(20, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 20)
      img.setRGB(x, y, (200 << 16) | (200 << 8) | 200)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val Some((dw, dh, bright)) = Multimodal.decodeImage(out.toByteArray)
    assert((dw, dh) == (20, 12))
    // JPEG is lossy: dimensions are exact, the solid fill only near
    assert(math.abs(bright - 200.0) < 3.0, s"got $bright")
  }

  test("bilinear resize: exact target dims; solid fill survives exactly; " +
      "gradient brightness stays in range") {
    val png = Multimodal.syntheticPng(24, 16, 77)
    val Some(small) = Multimodal.resizeImage(png, 8, 8)
    val Some((w, h, bright)) = Multimodal.decodeImage(small)
    assert((w, h) == (8, 8))
    assert(bright == 77.0)
    // upscale too
    val Some(big) = Multimodal.resizeImage(png, 40, 40)
    val Some((bw, bh, bb)) = Multimodal.decodeImage(big)
    assert((bw, bh) == (40, 40) && bb == 77.0)
    // non-image input refuses
    assert(Multimodal.resizeImage("text".getBytes, 8, 8).isEmpty)
  }

  test("WAV round trip: constant-fill PCM decodes to exact frame count, " +
      "rate, channels, sum of squares") {
    val wav = Multimodal.syntheticWav(nFrames = 250, sampleRateHz = 8000,
      value = 300)
    val Some((frames, rate, ch, sumSq)) = Multimodal.decodeWav(wav)
    assert(frames == 250L && rate == 8000 && ch == 1)
    assert(sumSq == 250L * 300 * 300)
    // negative fill squares positive; zero-fill sums to zero
    val neg = Multimodal.syntheticWav(100, 12000, -1024)
    assert(Multimodal.decodeWav(neg).get._4 == 100L * 1024 * 1024)
    assert(Multimodal.decodeWav(
      Multimodal.syntheticWav(100, 12000, 0)).get._4 == 0L)
    // non-WAV bytes refuse; decode() routes audio through the real path
    assert(Multimodal.decodeWav("RIFFnope".getBytes).isEmpty)
    val f = Multimodal.decode(Multimodal.MediaRow(5L, "audio", wav))
    assert(f.width == 8000 && f.height == 1 && f.n_frames == 250
      && f.brightness == 300.0)
  }

  test("non-image bytes fall back to the stub; media_type routes") {
    val text = "not an image at all, just prose bytes".getBytes("UTF-8")
    assert(Multimodal.decodeImage(text).isEmpty)
    val viaDecode = Multimodal.decode(
      Multimodal.MediaRow(7L, "image", text))
    assert(viaDecode == Multimodal.decodeStub(
      Multimodal.MediaRow(7L, "image", text)))
    // a real PNG under a non-image media_type stays on the stub — the
    // envelope type, not the bytes, routes the codec
    val png = Multimodal.syntheticPng(4, 4, 9)
    val audio = Multimodal.decode(Multimodal.MediaRow(8L, "audio", png))
    assert(audio == Multimodal.decodeStub(
      Multimodal.MediaRow(8L, "audio", png)))
  }

  test("dHash is content-level: re-encodings collide, bytes do not") {
    // predicted constants: solid → no adjacent difference → 0; 9×8
    // horizontal gradient → strictly increasing columns → all 64 bits
    assert(Multimodal.dHash64(Multimodal.syntheticPng(9, 8, 77))
      .contains(0L))
    assert(Multimodal.dHash64(Multimodal.syntheticPng(32, 16, 200))
      .contains(0L))
    val grad = Multimodal.syntheticGradientPng(9, 8)
    assert(Multimodal.dHash64(grad).contains(-1L))
    // SAME pixels, DIFFERENT container: decode the gradient and
    // re-encode as BMP — payload bytes (and so md5/q84 block hashes)
    // differ, the perceptual hash does not
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(grad))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", out)
    val bmp = out.toByteArray
    assert(!java.util.Arrays.equals(grad, bmp))
    assert(Multimodal.dHash64(bmp) == Multimodal.dHash64(grad))
    // undecodable payloads return None, never throw
    assert(Multimodal.dHash64("not pixels".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.dHash64(null).isEmpty)
  }
}
