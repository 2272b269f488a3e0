package graft.operators

/** REAL video decode: RIFF/AVI container parse (public Microsoft
  * VFW format) with genuinely-decoded frame PIXELS — the "video frame
  * pixels remain the stub" slice of the media gap, closed for the two
  * codecs a JVM CAN decode:
  *
  *  - `DIB ` streams (`00db` chunks, BI_RGB 24-bit bottom-up rows):
  *    lossless raw pixels → the brightness of every frame replays
  *    EXACTLY in a SQL oracle;
  *  - `MJPG` streams (`00dc` chunks, one baseline JPEG per frame):
  *    decoded through the JDK's own ImageIO — real DCT pixel decode;
  *    dimensions/frame counts are oracle-exact, pixel values are
  *    codec-defined and spec-gated (JPEG is lossy).
  *
  * The container is read and written through [[Riff]]: every untrusted
  * chunk size is bounds-checked against the enclosing list before any
  * allocation; truncated containers reject, unknown chunks skip.
  */
object Avi {

  final case class AviMeta(width: Int, height: Int, fpsNum: Int,
      fpsDen: Int, nFrames: Int, handler: String)

  /** Parse an AVI payload: (meta, per-frame chunk bytes in stream
    * order). None on non-AVI / truncated / oversized-chunk input. */
  def parse(payload: Array[Byte])
      : Option[(AviMeta, Vector[Array[Byte]])] = {
    if (!Riff.isForm(payload, "AVI ")) return None
    import Riff.{fourcc, u32}
    var width = 0; var height = 0; var fpsNum = 0; var fpsDen = 0
    var nFrames = 0; var handler = ""
    val frames = Vector.newBuilder[Array[Byte]]
    // walk(from, until): the chunk sequence inside [from, until), in
    // file order, LIST bodies depth first
    def walk(from: Int, until: Int): Boolean =
      Riff.chunks(payload, from, until).exists(_.forall { c =>
        c.id match {
          // the list type occupies the first 4 body bytes
          case "LIST" => c.size >= 4 && walk(c.body + 4, c.end)
          case "avih" => c.size >= 56 && {
            nFrames = u32(payload, c.body + 16).toInt
            width = u32(payload, c.body + 32).toInt
            height = u32(payload, c.body + 36).toInt
            true
          }
          case "strh" => c.size >= 48 && {
            if (fourcc(payload, c.body) == "vids") {
              handler = fourcc(payload, c.body + 4)
              fpsDen = u32(payload, c.body + 20).toInt // dwScale
              fpsNum = u32(payload, c.body + 24).toInt // dwRate
            }
            true
          }
          case id if id.take(2) == "00" &&
              // single-video-stream subset: only stream 00's frame
              // chunks count (a second stream's 'NN'db/dc would
              // otherwise mis-attribute toward avih's cross-stream
              // total and trip the count check)
              (id.substring(2) == "db" || id.substring(2) == "dc") =>
            frames += payload.slice(c.body, c.end)
            true
          case _ => true // strf/idx1/JUNK/… skipped
        }
      })
    if (!walk(12, payload.length)) return None
    if (width <= 0 || height <= 0 || nFrames < 0) return None
    val fs = frames.result()
    if (fs.length != nFrames) return None // header/stream mismatch
    Some((AviMeta(width, height, fpsNum, fpsDen, nFrames, handler), fs))
  }

  /** Exact mean brightness of a BI_RGB 24-bit bottom-up DIB frame —
    * Σ(r+g+b) / (3·w·h), the [[Multimodal.decodeImage]] convention.
    * None when the frame size does not match the geometry. */
  def dibBrightness(frame: Array[Byte], w: Int, h: Int)
      : Option[Double] = {
    val rowBytes = (w * 3 + 3) & ~3
    if (frame.length != rowBytes * h) return None
    var s = 0L
    var y = 0
    while (y < h) {
      var x = 0
      val row = y * rowBytes
      while (x < w) {
        s += (frame(row + 3 * x) & 0xff) +
          (frame(row + 3 * x + 1) & 0xff) +
          (frame(row + 3 * x + 2) & 0xff)
        x += 1
      }
      y += 1
    }
    Some(s.toDouble / (3.0 * w * h))
  }

  /** Decode an MJPG frame's dimensions + mean brightness through
    * ImageIO (real JPEG DCT decode). None on undecodable bytes. */
  def mjpegFrame(frame: Array[Byte]): Option[(Int, Int, Double)] = {
    val img =
      try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(frame))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return None
    var s = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        s += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        x += 1
      }
      y += 1
    }
    Some((img.getWidth, img.getHeight,
      s.toDouble / (3.0 * img.getWidth * img.getHeight)))
  }

  // ---- container writer (fixtures) ------------------------------------

  /** Assemble a minimal single-video-stream AVI around pre-encoded
    * frame chunks (`dib = true` → `00db`, else `00dc`). */
  def write(frames: Seq[Array[Byte]], w: Int, h: Int, fpsNum: Int,
      fpsDen: Int, handler: String, dib: Boolean): Array[Byte] = {
    // avih
    val avih = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.putInt(if (fpsNum > 0) (1000000L * fpsDen / fpsNum).toInt
      else 0)                      // dwMicroSecPerFrame
    avih.putInt(0).putInt(0).putInt(0)
    avih.putInt(frames.length)     // dwTotalFrames
    avih.putInt(0)
    avih.putInt(1)                 // dwStreams
    avih.putInt(0)
    avih.putInt(w).putInt(h)
    avih.putInt(0).putInt(0).putInt(0).putInt(0)
    // strh
    val strh = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    "vids".foreach(c => strh.put(c.toByte))
    handler.foreach(c => strh.put(c.toByte))
    strh.putInt(0).putShort(0).putShort(0).putInt(0)
    strh.putInt(fpsDen)            // dwScale
    strh.putInt(fpsNum)            // dwRate
    strh.putInt(0)
    strh.putInt(frames.length)     // dwLength
    strh.putInt(0).putInt(-1).putInt(0)
    strh.putShort(0).putShort(0).putShort(w.toShort)
      .putShort(h.toShort)
    // strf (BITMAPINFOHEADER)
    val rowBytes = (w * 3 + 3) & ~3
    val strf = java.nio.ByteBuffer.allocate(40)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    if (dib) strf.putInt(0) // BI_RGB
    else "MJPG".foreach(c => strf.put(c.toByte))
    strf.putInt(rowBytes * h).putInt(0).putInt(0).putInt(0).putInt(0)
    // assemble: RIFF( hdrl(avih, strl(strh, strf)), movi(frames...) )
    val fid = if (dib) "00db" else "00dc"
    Riff.write("AVI ", Seq(
      Riff.list("hdrl", Seq("avih" -> avih.array(),
        Riff.list("strl", Seq("strh" -> strh.array(),
          "strf" -> strf.array())))),
      Riff.list("movi", frames.map(fid -> _))))
  }

  /** Solid-fill 24-bit bottom-up DIB frame (rows padded to 4 bytes). */
  def solidDib(w: Int, h: Int, gray: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) & ~3
    val f = new Array[Byte](rowBytes * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w * 3) { f(y * rowBytes + x) = gray.toByte; x += 1 }
      y += 1
    }
    f
  }

  /** Solid-fill JPEG frame via ImageIO (the MJPG fixture). */
  def solidJpeg(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }
}
