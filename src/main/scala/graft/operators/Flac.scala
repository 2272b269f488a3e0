package graft.operators

/** REAL pure-JVM FLAC codec (public format: RFC 9639 / xiph.org FLAC
  * format spec) — the first genuinely-decoded COMPRESSED audio path
  * beside the WAV/PCM one (round-8 verdict "What's missing #1": the JDK
  * ships no FLAC codec, but FLAC is lossless and fully public, so a
  * subset decoder gives an EXACT oracle — decoded PCM must equal the
  * WAV twin's bit-for-bit, and integer sum-of-squares replays in SQL).
  *
  * Decoder coverage (the full fixed-blocksize subset a real encoder
  * emits): STREAMINFO + skipped metadata blocks, frame headers with all
  * block-size/sample-rate/sample-size codes, UTF-8 frame numbers,
  * CRC-8 header and CRC-16 frame checks (corrupt/truncated frames
  * reject the stream), subframe types CONSTANT / VERBATIM / FIXED
  * (orders 0–4) / LPC (any order), wasted bits, Rice residual methods
  * 00 (4-bit) and 01 (5-bit) with any partition order incl. escape
  * codes, and stereo decorrelation (independent, left/side, right/side,
  * mid/side). A frame header's channel count, and its sample rate and
  * sample size when it states them, must agree with STREAMINFO.
  * STREAMINFO itself has no CRC, and its MD5 (which this encoder leaves
  * unset) is not checked: frames with rate code 0 take STREAMINFO's
  * 20-bit sample rate as is, so a flipped bit there decodes the right
  * PCM at a wrong rate.
  *
  * The encoder (fixture generator) writes mono 16-bit streams with
  * FIXED-order-2 subframes and Rice partition order 0 — enough to
  * exercise the decoder's unary/Rice/UTF-8/CRC paths with real
  * compression (a constant-fill fixture would collapse to CONSTANT
  * subframes and test nothing).
  *
  * Like the reference's media handling, payloads travel as opaque
  * binary columns and decode INSIDE partitions (seqApply discipline,
  * reference R/Methods.R seqApply); nothing here touches the driver.
  */
object Flac {

  /** Decoded stream: PCM is channel-interleaved, one Int per sample. */
  final case class FlacStream(sampleRate: Int, channels: Int,
      bitsPerSample: Int, totalSamples: Long, pcm: Array[Int]) {
    /** Exact Σ sample² — the SQL-replayable audio energy term (the
      * [[Multimodal.decodeWav]] contract, over the same PCM). */
    def sumSq: Long = {
      var s = 0L; var i = 0
      while (i < pcm.length) { s += pcm(i).toLong * pcm(i); i += 1 }
      s
    }
  }

  // ---- CRCs (FLAC spec: CRC-8 poly x⁸+x²+x+1 = 0x07 init 0;
  // CRC-16 poly x¹⁶+x¹⁵+x²+1 = 0x8005 init 0) --------------------------
  private val crc8Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i
      var k = 0
      while (k < 8) { c = if ((c & 0x80) != 0) (c << 1) ^ 0x07 else c << 1; k += 1 }
      t(i) = c & 0xff; i += 1
    }
    t
  }
  private val crc16Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 8
      var k = 0
      while (k < 8) { c = if ((c & 0x8000) != 0) (c << 1) ^ 0x8005 else c << 1; k += 1 }
      t(i) = c & 0xffff; i += 1
    }
    t
  }
  private def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var c = 0; var i = from
    while (i < until) { c = crc8Table((c ^ bytes(i)) & 0xff); i += 1 }
    c
  }
  private def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var c = 0; var i = from
    while (i < until) {
      c = ((c << 8) ^ crc16Table(((c >> 8) ^ (bytes(i) & 0xff)) & 0xff)) & 0xffff
      i += 1
    }
    c
  }

  /** A unary code: the count of 0 bits before the next 1 bit. */
  private def readUnary(r: Bits.Reader): Int = {
    var q = 0
    while (r.readBits(1) == 0L) {
      q += 1
      if (q > (1 << 24)) throw Corrupt // runaway unary = corrupt
    }
    q
  }

  private object Corrupt extends RuntimeException("corrupt") {
    override def fillInStackTrace(): Throwable = this
  }

  // ---- UTF-8-style frame-number coding (spec §9.1.5, up to 36 bits) --
  private def writeUtf8Num(w: Bits.Writer, n: Long): Unit = {
    if (n < 0x80) w.writeBits(n, 8)
    else {
      // k-byte sequences carry bits(k) payload bits (k = 2..7)
      val bits = Array(0, 7, 11, 16, 21, 26, 31, 36)
      var bytesNeeded = 2
      while (n >= (1L << bits(bytesNeeded))) bytesNeeded += 1
      val headBits = bits(bytesNeeded) - 6 * (bytesNeeded - 1)
      // leading byte: bytesNeeded one-bits, a zero, then the head bits
      w.writeBits((0xffL >>> (8 - bytesNeeded)), bytesNeeded)
      w.writeBits(0L, 1)
      w.writeBits(n >>> (6 * (bytesNeeded - 1)), headBits)
      var i = bytesNeeded - 2
      while (i >= 0) {
        w.writeBits(0x2L, 2)
        w.writeBits((n >>> (6 * i)) & 0x3f, 6)
        i -= 1
      }
    }
  }
  private def readUtf8Num(r: Bits.Reader): Long = {
    val b0 = r.readBits(8).toInt
    if ((b0 & 0x80) == 0) return b0.toLong
    var nBytes = 0
    var mask = 0x80
    while (nBytes < 8 && (b0 & mask) != 0) { nBytes += 1; mask >>= 1 }
    if (nBytes < 2 || nBytes > 7) throw Corrupt
    var v = (b0 & (0xff >>> (nBytes + 1))).toLong
    var i = 1
    while (i < nBytes) {
      val c = r.readBits(8).toInt
      if ((c & 0xc0) != 0x80) throw Corrupt
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    v
  }

  // =====================================================================
  // Encoder (16-bit mono/stereo; FIXED order-2 and LPC order-1
  // subframes + Rice partition order 0; stereo frames rotate through
  // independent, left/side, and mid/side decorrelation so every decode
  // of a stereo fixture exercises all three reconstruction paths)
  // =====================================================================

  /** Encode 16-bit PCM (channel-interleaved for `channels` = 2) as a
    * real FLAC stream. `blockSize` frames per FLAC frame (16–65535).
    * Every third frame codes its subframes as order-1 LPC (coefficient
    * 1, shift 0 — numerically FIXED-1 but through the LPC wire format),
    * the rest as FIXED order 2; stereo frames additionally rotate the
    * channel assignment (independent → left/side → mid/side). */
  def encode(samples: Array[Int], sampleRateHz: Int,
      blockSize: Int = 256, channels: Int = 1): Array[Byte] = {
    require(channels == 1 || channels == 2, s"channels $channels")
    require(samples.length % channels == 0, "ragged interleave")
    require(blockSize >= 16 && blockSize <= 65535, s"blockSize $blockSize")
    require(sampleRateHz > 0 && sampleRateHz < (1 << 20), "sample rate")
    samples.foreach(s => require(s >= -32768 && s <= 32767,
      s"sample $s out of 16-bit range"))
    val total = samples.length / channels
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    // STREAMINFO (last-metadata flag set, type 0, length 34)
    val si = new Bits.Writer
    si.writeBits(1L, 1); si.writeBits(0L, 7); si.writeBits(34L, 24)
    si.writeBits(blockSize.toLong, 16) // min block size
    si.writeBits(blockSize.toLong, 16) // max block size
    si.writeBits(0L, 24) // min frame size unknown
    si.writeBits(0L, 24) // max frame size unknown
    si.writeBits(sampleRateHz.toLong, 20)
    si.writeBits((channels - 1).toLong, 3)
    si.writeBits(15L, 5) // bits per sample - 1
    si.writeBits(total.toLong, 36)
    (0 until 16).foreach(_ => si.writeBits(0L, 8)) // MD5 unset
    out.write(si.toBytes)
    var frameNo = 0L
    var off = 0
    while (off < total) {
      val n = math.min(blockSize, total - off)
      out.write(encodeFrame(samples, off, n, frameNo, channels))
      off += n
      frameNo += 1
    }
    out.toByteArray
  }

  private def encodeFrame(samples: Array[Int], off: Int, n: Int,
      frameNo: Long, channels: Int): Array[Byte] = {
    val useLpc = n > 1 && frameNo % 3 == 2
    // stereo mode rotation; mono stays assignment 0
    val chanAsn =
      if (channels == 1) 0x0
      else (frameNo % 3) match {
        case 0 => 0x1 // two independent channels
        case 1 => 0x8 // left/side
        case _ => 0xa // mid/side
      }
    val w = new Bits.Writer
    w.writeBits(0x3ffeL, 14) // sync
    w.writeBits(0L, 1)       // reserved
    w.writeBits(0L, 1)       // fixed-blocksize strategy
    w.writeBits(0x7L, 4)     // block size: 16-bit (n-1) at header end
    w.writeBits(0x0L, 4)     // sample rate: from STREAMINFO
    w.writeBits(chanAsn.toLong, 4)
    w.writeBits(0x4L, 3)     // sample size: 16 bit
    w.writeBits(0L, 1)       // reserved
    writeUtf8Num(w, frameNo)
    w.writeBits((n - 1).toLong, 16)
    val headNoCrc = w.toBytes // byte-aligned here by construction
    val h8 = crc8(headNoCrc, 0, headNoCrc.length)
    val w2 = new Bits.Writer
    headNoCrc.foreach(b => w2.writeBits((b & 0xff).toLong, 8))
    w2.writeBits(h8.toLong, 8)
    // channel data (decorrelated for the stereo assignments)
    val chans: Seq[(Array[Int], Int)] =
      if (channels == 1) {
        val m = new Array[Int](n)
        var i = 0
        while (i < n) { m(i) = samples(off + i); i += 1 }
        Seq((m, 16))
      } else {
        val l = new Array[Int](n)
        val r = new Array[Int](n)
        var i = 0
        while (i < n) {
          l(i) = samples(2 * (off + i))
          r(i) = samples(2 * (off + i) + 1)
          i += 1
        }
        chanAsn match {
          case 0x1 => Seq((l, 16), (r, 16))
          case 0x8 => // left/side: side = l - r, 17 bit
            val s = new Array[Int](n)
            i = 0; while (i < n) { s(i) = l(i) - r(i); i += 1 }
            Seq((l, 16), (s, 17))
          case _ => // mid/side: mid = (l + r) >> 1 (floor), side = l - r
            val m = new Array[Int](n)
            val s = new Array[Int](n)
            i = 0
            while (i < n) {
              m(i) = (l(i) + r(i)) >> 1; s(i) = l(i) - r(i); i += 1
            }
            Seq((m, 16), (s, 17))
        }
      }
    chans.foreach { case (data, bps) =>
      writeSubframe(w2, data, bps, useLpc)
    }
    val body = w2.toBytes // alignByte pads subframe tail to the byte edge
    val c16 = crc16(body, 0, body.length)
    val outw = new java.io.ByteArrayOutputStream()
    outw.write(body, 0, body.length)
    outw.write((c16 >> 8) & 0xff); outw.write(c16 & 0xff)
    outw.toByteArray
  }

  private def writeSubframe(w2: Bits.Writer, data: Array[Int], bps: Int,
      useLpc: Boolean): Unit = {
    val n = data.length
    val mask = (1L << bps) - 1
    if (useLpc && n > 1) {
      // LPC order 1, coefficient 1, shift 0: prediction = previous
      // sample — numerically FIXED order 1, but through the LPC wire
      // format (precision/shift/coef fields + the Σcoef·hist >> shift
      // reconstruction), so fixtures exercise the decoder's LPC path
      w2.writeBits(0L, 1)        // zero pad
      w2.writeBits(32L, 6)       // LPC, order (32 | (order-1)) = 32
      w2.writeBits(0L, 1)        // no wasted bits
      w2.writeBits(data(0).toLong & mask, bps) // warmup
      w2.writeBits(3L, 4)        // qlp precision - 1 (= 4 bits)
      w2.writeBits(0L, 5)        // shift 0
      w2.writeBits(1L, 4)        // coefficient +1 (4-bit signed)
      val res = new Array[Int](n - 1)
      var i = 1
      while (i < n) { res(i - 1) = data(i) - data(i - 1); i += 1 }
      writeRice(w2, res)
    } else {
      val order = if (n > 2) 2 else 0
      w2.writeBits(0L, 1)                      // zero pad
      w2.writeBits((0x08 + order).toLong, 6)   // FIXED subframe type
      w2.writeBits(0L, 1)                      // no wasted bits
      var i = 0
      while (i < order) { // warmup, bps bits each (signed)
        w2.writeBits(data(i).toLong & mask, bps)
        i += 1
      }
      val res = new Array[Int](n - order)
      i = order
      while (i < n) {
        res(i - order) =
          if (order == 2) data(i) - 2 * data(i - 1) + data(i - 2)
          else data(i)
        i += 1
      }
      writeRice(w2, res)
    }
  }

  /** Rice method 00 (4-bit params), partition order 0, one parameter:
    * smallest k minimizing the coded size (cap 14 — 15 is escape). */
  private def writeRice(w2: Bits.Writer, res: Array[Int]): Unit = {
    var bestK = 0
    var bestBits = Long.MaxValue
    var k = 0
    while (k <= 14) {
      var bits = 0L
      var j = 0
      while (j < res.length) {
        val u = zigzag(res(j))
        bits += (u >>> k) + 1 + k
        j += 1
      }
      if (bits < bestBits) { bestBits = bits; bestK = k }
      k += 1
    }
    w2.writeBits(0L, 2)            // residual method 00
    w2.writeBits(0L, 4)            // partition order 0
    w2.writeBits(bestK.toLong, 4)  // rice parameter
    var i = 0
    while (i < res.length) {
      val u = zigzag(res(i))
      val q = (u >>> bestK).toInt
      if (q > (1 << 20)) throw new IllegalStateException("rice blowup")
      var r = q
      while (r >= 32) { w2.writeBits(0L, 32); r -= 32 }
      w2.writeBits(1L, r + 1)
      w2.writeBits(u & ((1L << bestK) - 1), bestK)
      i += 1
    }
  }

  private def zigzag(r: Int): Long = {
    val l = r.toLong
    ((l << 1) ^ (l >> 63)) & 0xffffffffL
  }

  // =====================================================================
  // Decoder (full fixed-blocksize subset, CRC-verified)
  // =====================================================================

  /** Decode a FLAC stream. None when the payload is not FLAC or any
    * frame is truncated / fails its CRC (the reject-don't-guess
    * contract of the fMP4 parser: untrusted bytes never produce
    * half-decoded rows). */
  def decode(payload: Array[Byte]): Option[FlacStream] = {
    if (payload == null || payload.length < 42) return None
    if (!(payload(0) == 'f' && payload(1) == 'L' && payload(2) == 'a'
        && payload(3) == 'C')) return None
    try {
      var pos = 4
      // metadata blocks; STREAMINFO must be first
      var last = false
      var sampleRate = 0
      var channels = 0
      var bps = 0
      var total = 0L
      var first = true
      while (!last) {
        if (pos + 4 > payload.length) return None
        val hdr = ((payload(pos) & 0xff) << 24) |
          ((payload(pos + 1) & 0xff) << 16) |
          ((payload(pos + 2) & 0xff) << 8) | (payload(pos + 3) & 0xff)
        last = (hdr & 0x80000000) != 0
        val btype = (hdr >>> 24) & 0x7f
        val blen = hdr & 0xffffff
        if (pos + 4 + blen > payload.length) return None
        if (first) {
          if (btype != 0 || blen != 34) return None
          val r = new Bits.Reader(payload, pos + 4, pos + 4 + blen)
          r.readBits(16); r.readBits(16) // min/max block size
          r.readBits(24); r.readBits(24) // min/max frame size
          sampleRate = r.readBits(20).toInt
          channels = r.readBits(3).toInt + 1
          bps = r.readBits(5).toInt + 1
          total = r.readBits(36)
          first = false
        }
        pos += 4 + blen
      }
      if (sampleRate == 0 || channels < 1 || channels > 8) return None
      val pcm = new java.util.ArrayList[Array[Int]]()
      var got = 0L
      while (pos < payload.length && (total == 0L || got < total)) {
        val (frame, next) =
          decodeFrame(payload, pos, sampleRate, channels, bps)
        pcm.add(frame)
        got += frame.length / channels
        pos = next
      }
      if (total != 0L && got != total) return None
      // reject-don't-guess both ways: truncation rejects above, and
      // trailing unconsumed bytes after the last frame reject here
      if (total != 0L && pos < payload.length) return None
      var size = 0
      pcm.forEach(a => size += a.length)
      val all = new Array[Int](size)
      var o = 0
      pcm.forEach { a =>
        System.arraycopy(a, 0, all, o, a.length); o += a.length
      }
      Some(FlacStream(sampleRate, channels, bps, got, all))
    } catch {
      case Bits.Truncated | Corrupt => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** Sample rates of the frame-header rate codes 1–11 (index 0 unused). */
  private val FrameRates = Array(0, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000)

  /** One frame at byte `start`; returns (interleaved PCM, next byte). */
  private def decodeFrame(bytes: Array[Byte], start: Int,
      siRate: Int, siChannels: Int, siBps: Int): (Array[Int], Int) = {
    val r = new Bits.Reader(bytes, start, bytes.length)
    if (r.readBits(14) != 0x3ffeL) throw Corrupt
    if (r.readBits(1) != 0L) throw Corrupt
    val variableBlk = r.readBits(1) == 1L
    val bsCode = r.readBits(4).toInt
    val srCode = r.readBits(4).toInt
    val chanAsn = r.readBits(4).toInt
    val ssCode = r.readBits(3).toInt
    if (r.readBits(1) != 0L) throw Corrupt
    readUtf8Num(r) // frame/sample number (not needed for PCM recovery)
    val blockSize = bsCode match {
      case 0 => throw Corrupt
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => r.readBits(8).toInt + 1
      case 7 => r.readBits(16).toInt + 1
      case c => 256 << (c - 8)
    }
    // a frame that states its rate, channel count or sample size must
    // agree with STREAMINFO; a rate or size code of 0 defers to it
    val rate = srCode match {
      case 0 => siRate
      case c if c <= 11 => FrameRates(c)
      case 12 => r.readBits(8).toInt * 1000
      case 13 => r.readBits(16).toInt
      case 14 => r.readBits(16).toInt * 10
      case _ => throw Corrupt
    }
    if (rate != siRate) throw Corrupt
    val channels = chanAsn match {
      case c if c <= 7 => c + 1
      case 8 | 9 | 10 => 2
      case _ => throw Corrupt
    }
    if (channels != siChannels) throw Corrupt
    val bps = ssCode match {
      case 0 => siBps
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => throw Corrupt
    }
    if (bps != siBps) throw Corrupt
    // header CRC-8 covers sync..just-before-crc byte (reader is byte-
    // aligned here: 32 fixed bits + whole UTF-8 bytes + whole-bit
    // block-size/rate fields)
    if (!r.bitAligned) throw Corrupt
    val crcPos = r.bytePos
    if (crc8(bytes, start, crcPos) != r.readBits(8).toInt) throw Corrupt
    val chans = new Array[Array[Int]](channels)
    var ch = 0
    while (ch < channels) {
      val chBps = chanAsn match {
        case 8 => if (ch == 1) bps + 1 else bps  // left/side
        case 9 => if (ch == 0) bps + 1 else bps  // side/right
        case 10 => if (ch == 1) bps + 1 else bps // mid/side
        case _ => bps
      }
      chans(ch) = decodeSubframe(r, blockSize, chBps)
      ch += 1
    }
    r.alignByte()
    if (crc16(bytes, start, r.bytePos) != r.readInt(16)) throw Corrupt
    val end = r.bytePos
    // stereo decorrelation
    chanAsn match {
      case 8 => // left/side: right = left - side
        var i = 0
        while (i < blockSize) { chans(1)(i) = chans(0)(i) - chans(1)(i); i += 1 }
      case 9 => // side/right: left = right + side (channel 0 was side)
        var i = 0
        while (i < blockSize) {
          chans(0)(i) = chans(1)(i) + chans(0)(i)
          i += 1
        }
      case 10 => // mid/side
        var i = 0
        while (i < blockSize) {
          val s = chans(1)(i)
          val m = (chans(0)(i) << 1) | (s & 1)
          chans(0)(i) = (m + s) >> 1
          chans(1)(i) = (m - s) >> 1
          i += 1
        }
      case _ => ()
    }
    val outPcm = new Array[Int](blockSize * channels)
    var i = 0
    while (i < blockSize) {
      var c = 0
      while (c < channels) {
        outPcm(i * channels + c) = chans(c)(i)
        c += 1
      }
      i += 1
    }
    // variable-blocksize streams differ only in frame-number semantics
    val _ = variableBlk
    (outPcm, end)
  }

  private def decodeSubframe(r: Bits.Reader, n: Int, bps: Int): Array[Int] = {
    if (r.readBits(1) != 0L) throw Corrupt
    val stype = r.readBits(6).toInt
    val wastedFlag = r.readBits(1) == 1L
    val wasted = if (wastedFlag) readUnary(r) + 1 else 0
    val effBps = bps - wasted
    val out = new Array[Int](n)
    stype match {
      case 0 => // CONSTANT
        val v = signExtend(r.readBits(effBps), effBps)
        java.util.Arrays.fill(out, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < n) { out(i) = signExtend(r.readBits(effBps), effBps); i += 1 }
      case t if t >= 8 && t <= 12 => // FIXED order 0..4
        val order = t - 8
        var i = 0
        while (i < order) { out(i) = signExtend(r.readBits(effBps), effBps); i += 1 }
        val res = readResiduals(r, n, order)
        i = order
        while (i < n) {
          val p = order match {
            case 0 => 0L
            case 1 => out(i - 1).toLong
            case 2 => 2L * out(i - 1) - out(i - 2)
            case 3 => 3L * out(i - 1) - 3L * out(i - 2) + out(i - 3)
            case 4 => 4L * out(i - 1) - 6L * out(i - 2) +
              4L * out(i - 3) - out(i - 4)
          }
          out(i) = (p + res(i - order)).toInt
          i += 1
        }
      case t if t >= 32 => // LPC order (t & 31) + 1
        val order = (t & 31) + 1
        var i = 0
        while (i < order) { out(i) = signExtend(r.readBits(effBps), effBps); i += 1 }
        val prec = r.readBits(4).toInt + 1
        if (prec == 16) throw Corrupt // 0b1111 is invalid per spec
        val shift = signExtend(r.readBits(5), 5)
        if (shift < 0) throw Corrupt
        val coefs = new Array[Int](order)
        i = 0
        while (i < order) { coefs(i) = signExtend(r.readBits(prec), prec); i += 1 }
        val res = readResiduals(r, n, order)
        i = order
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * out(i - 1 - j); j += 1 }
          out(i) = ((acc >> shift) + res(i - order)).toInt
          i += 1
        }
      case _ => throw Corrupt
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { out(i) = out(i) << wasted; i += 1 }
    }
    out
  }

  private def readResiduals(r: Bits.Reader, blockSize: Int,
      predOrder: Int): Array[Int] = {
    val method = r.readBits(2).toInt
    if (method > 1) throw Corrupt
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val partOrder = r.readBits(4).toInt
    val nParts = 1 << partOrder
    if (blockSize % nParts != 0) throw Corrupt
    val res = new Array[Int](blockSize - predOrder)
    var idx = 0
    var p = 0
    while (p < nParts) {
      val cnt = (blockSize >> partOrder) - (if (p == 0) predOrder else 0)
      if (cnt < 0) throw Corrupt
      val param = r.readBits(paramBits).toInt
      if (param == escape) {
        val raw = r.readBits(5).toInt
        var i = 0
        while (i < cnt) {
          res(idx) = if (raw == 0) 0 else signExtend(r.readBits(raw), raw)
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < cnt) {
          val q = readUnary(r).toLong
          val u = (q << param) | r.readBits(param)
          res(idx) = ((u >>> 1) ^ -(u & 1L)).toInt // un-zigzag
          idx += 1; i += 1
        }
      }
      p += 1
    }
    res
  }

  private def signExtend(v: Long, bits: Int): Int = {
    if (bits == 0) return 0
    val shifted = v << (64 - bits)
    (shifted >> (64 - bits)).toInt
  }

  // =====================================================================
  // Fixture waveform (shared with the WAV twin and the SQL oracle)
  // =====================================================================

  /** The deterministic fixture waveform: sample i of doc `id` is the
    * triangle wave `|((id·31 + 13·i) mod 8190) − 4095| − 2048` —
    * piecewise linear, so FIXED-order-2 residuals are ZERO between the
    * two kinks per period and ±26 at them (real Rice codes, real
    * compression), and a SQL oracle replays Σ sample² from (id, n)
    * alone via the same closed form. */
  def fixtureSample(id: Long, i: Long): Int =
    (math.abs(java.lang.Math.floorMod(id * 31 + 13L * i, 8190L) - 4095L)
      - 2048L).toInt

  def fixtureWaveform(id: Long, n: Int): Array[Int] = {
    val a = new Array[Int](n)
    var i = 0
    while (i < n) { a(i) = fixtureSample(id, i.toLong); i += 1 }
    a
  }

  /** Stereo fixture: left = waveform(id), right = waveform(id + 7),
    * interleaved — two phase-shifted triangles, so the side channel
    * (L − R) is small and the decorrelated modes genuinely help. */
  def fixtureWaveformStereo(id: Long, n: Int): Array[Int] = {
    val a = new Array[Int](2 * n)
    var i = 0
    while (i < n) {
      a(2 * i) = fixtureSample(id, i.toLong)
      a(2 * i + 1) = fixtureSample(id + 7, i.toLong)
      i += 1
    }
    a
  }
}
