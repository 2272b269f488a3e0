package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, MpegAudio}

/** MPEG-1 Layer I decode: requantization pinned against an independent
  * two's-complement formulation over EVERY code of every width, the
  * bit walk pinned against a hand-placed golden frame, CRC/truncation/
  * forbidden-field rejection, stereo layout, and router wiring. */
class MpegAudioSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("scalefactor table is 2·2^(-i/3) with exact halving structure") {
    assert(MpegAudio.ScaleFactors.length == 63)
    assert(MpegAudio.ScaleFactors(0) == 2.0)
    assert(MpegAudio.ScaleFactors(3) == 1.0)
    assert(MpegAudio.ScaleFactors(6) == 0.5)
    for (i <- 0 until 60)
      assert(MpegAudio.ScaleFactors(i + 3) == MpegAudio.ScaleFactors(i) / 2,
        s"halving at $i")
    for (i <- 0 until 63)
      assert(math.abs(MpegAudio.ScaleFactors(i) -
        2.0 * math.pow(2.0, -i / 3.0)) < 1e-12, s"closed form at $i")
  }

  test("dequant matches the independent two's-complement formulation " +
      "on every code of every width nb=2..15") {
    for (nb <- 2 to 15; code <- 0 until (1 << nb)) {
      val sf = MpegAudio.ScaleFactors((code + nb) % 63)
      // independent formulation: invert the MSB, read as a signed
      // nb-bit two's-complement integer v, s''' = v / 2^(nb-1)
      val v = ((code ^ (1 << (nb - 1))) << (32 - nb)) >> (32 - nb)
      val half = (1L << (nb - 1)).toDouble
      val s3 = v.toDouble / half
      val c = (1L << nb).toDouble / ((1L << nb) - 1).toDouble
      val expect = sf * ((s3 + 1.0 / half) * c)
      assert(MpegAudio.dequant(code, nb, sf) == expect,
        s"nb=$nb code=$code")
    }
    // mid-tread anchors: the 011…1 pattern is exactly zero; the legal
    // extremes are symmetric and inside (−1, 1) before scaling
    for (nb <- 2 to 15) {
      assert(MpegAudio.dequant((1 << (nb - 1)) - 1, nb, 1.0) == 0.0)
      val lo = MpegAudio.dequant(0, nb, 1.0)
      val hi = MpegAudio.dequant((1 << nb) - 2, nb, 1.0)
      assert(lo == -hi && hi > 0 && hi < 1, s"nb=$nb lo=$lo hi=$hi")
    }
  }

  // hand-placed golden frame: 224 kbps / 32 kHz mono, ONLY subband 0
  // allocated (alloc nibble 5 ⇒ nb = 6), scalefactor index 3 (= 1.0),
  // the 12 codes are s+20 — every bit position written out by hand
  private def goldenFrame: Array[Byte] = {
    val f = new Array[Byte](336)
    f(0) = 0xff.toByte; f(1) = 0xff.toByte // MPEG-1, Layer I, no CRC
    f(2) = ((7 << 4) | (2 << 2)).toByte    // 224 kbps, 32 kHz
    f(3) = 0xc0.toByte                     // mono
    // allocation: sb0 = 0101, sb1..31 = 0000 → bytes 0x50, 0x00 ×15
    f(4) = 0x50.toByte
    // scalefactor for sb0: 000011 — then 12 six-bit codes back to back
    // starting at bit offset 4*8+128+6 = 166. Pack bits explicitly:
    var bitPos = 32 + 128 // after header + allocation
    def putBits(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        val bit = (v >> k) & 1
        val idx = 4 + (bitPos - 32) / 8 // bytes after the header
        val sh = 7 - (bitPos - 32) % 8
        if (bit == 1) f(idx) = (f(idx) | (1 << sh)).toByte
        bitPos += 1; k -= 1
      }
    }
    // re-place the allocation via putBits to keep ONE writer… no:
    // allocation was placed by hand above (f(4) = 0x50); putBits
    // starts after it, which is the point of the golden test.
    putBits(3, 6)
    for (s <- 0 until 12) putBits(s + 20, 6)
    f
  }

  test("golden frame: hand-placed bits decode to the closed-form " +
      "dequantized samples") {
    val payload = goldenFrame ++ goldenFrame
    val d = MpegAudio.decodeMp1(payload)
    assert(d.isDefined, "golden stream must decode")
    val dec = d.get
    assert(dec.sampleRate == 32000 && dec.channels == 1 &&
      dec.frames.size == 2)
    for (fr <- dec.frames) {
      assert(fr.alloc(0)(0) == 5)
      assert((1 until 32).forall(fr.alloc(0)(_) == 0))
      assert(fr.sfIdx(0)(0) == 3)
      for (s <- 0 until 12)
        assert(fr.samples(0)(0)(s) ==
          MpegAudio.dequant(s + 20, 6, MpegAudio.ScaleFactors(3)),
          s"sample $s")
      assert((1 until 32).forall(fr.samples(0)(_).isEmpty))
    }
  }

  test("synthetic fixture decodes; CRC-protected variant decodes to " +
      "identical samples; a flipped allocation bit breaks the CRC") {
    val plain = MpegAudio.decodeMp1(MpegAudio.syntheticMp1(42L, 4))
    val crcd = MpegAudio.decodeMp1(
      MpegAudio.syntheticMp1(42L, 4, withCrc = true))
    assert(plain.isDefined && crcd.isDefined)
    val (a, b) = (plain.get, crcd.get)
    assert(a.frames.size == 4 && b.frames.size == 4)
    for (fr <- 0 until 4; sb <- 0 until 32) {
      assert(a.frames(fr).alloc(0)(sb) == b.frames(fr).alloc(0)(sb))
      assert(a.frames(fr).samples(0)(sb).toSeq ==
        b.frames(fr).samples(0)(sb).toSeq)
    }
    val corrupt = MpegAudio.syntheticMp1(42L, 4, withCrc = true)
    corrupt(6) = (corrupt(6) ^ 0x10).toByte // an allocation bit
    assert(MpegAudio.decodeMp1(corrupt).isEmpty,
      "CRC must catch the allocation bit-flip")
  }

  test("rejection: truncation, trailing garbage, forbidden fields, " +
      "Layer III payloads, single frame") {
    val ok = MpegAudio.syntheticMp1(7L, 3)
    assert(MpegAudio.decodeMp1(ok).isDefined)
    assert(MpegAudio.decodeMp1(ok.dropRight(1)).isEmpty, "truncated")
    assert(MpegAudio.decodeMp1(ok :+ 0x00.toByte).isEmpty, "trailing")
    val badAlloc = ok.clone()
    badAlloc(4) = 0xff.toByte // alloc nibble 15 (forbidden)
    assert(MpegAudio.decodeMp1(badAlloc).isEmpty, "alloc=15")
    assert(MpegAudio.decodeMp1(
      Multimodal.syntheticMp3(5, 2, 9)).isEmpty, "Layer III")
    assert(MpegAudio.decodeMp1(ok.take(336)).isEmpty, "single frame")
  }

  test("stereo frame: sb-major/channel-minor layout, per-channel " +
      "allocation and samples") {
    // hand-build one stereo (mode 00) frame at 448 kbps / 32 kHz
    // (= 672 bytes): ch0 sb0 alloc 5 (nb 6), ch1 sb0 alloc 2 (nb 3),
    // everything else silent
    val f = new Array[Byte](672)
    f(0) = 0xff.toByte; f(1) = 0xff.toByte
    f(2) = ((14 << 4) | (2 << 2)).toByte // 448 kbps, 32 kHz
    f(3) = 0x00.toByte                   // stereo
    var bitPos = 0
    def putBits(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        val idx = 4 + bitPos / 8; val sh = 7 - bitPos % 8
        if (((v >> k) & 1) == 1) f(idx) = (f(idx) | (1 << sh)).toByte
        bitPos += 1; k -= 1
      }
    }
    putBits(5, 4); putBits(2, 4)          // sb0: ch0, ch1
    for (_ <- 1 until 32) { putBits(0, 4); putBits(0, 4) }
    putBits(0, 6); putBits(6, 6)          // scalefactors ch0, ch1
    for (s <- 0 until 12) {
      putBits(s + 1, 6)                   // ch0 code (nb 6)
      putBits(s % 3, 3)                   // ch1 code (nb 3, legal 0..6)
    }
    val d = MpegAudio.decodeMp1(f ++ f)
    assert(d.isDefined, "stereo stream must decode")
    val dec = d.get
    assert(dec.channels == 2)
    val fr = dec.frames.head
    assert(fr.alloc(0)(0) == 5 && fr.alloc(1)(0) == 2)
    for (s <- 0 until 12) {
      assert(fr.samples(0)(0)(s) ==
        MpegAudio.dequant(s + 1, 6, MpegAudio.ScaleFactors(0)))
      assert(fr.samples(1)(0)(s) ==
        MpegAudio.dequant(s % 3, 3, MpegAudio.ScaleFactors(6)))
    }
  }

  test("Layer I JOINT stereo: shared allocation + sample code above " +
      "the intensity bound, per-channel scalefactors") {
    // 448 kbps / 32 kHz joint stereo, mode_ext 0 ⇒ bound = 4: sb0
    // (< bound) ch0 alloc 5 (nb 6), ch1 silent; sb5 (≥ bound) ONE
    // alloc 2 (nb 3) + ONE code per sample, per-channel scalefactors
    val f = new Array[Byte](672)
    f(0) = 0xff.toByte; f(1) = 0xff.toByte
    f(2) = ((14 << 4) | (2 << 2)).toByte
    f(3) = 0x40.toByte                   // joint stereo, mode_ext 0
    var bitPos = 0
    def putBits(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        val idx = 4 + bitPos / 8; val sh = 7 - bitPos % 8
        if (((v >> k) & 1) == 1) f(idx) = (f(idx) | (1 << sh)).toByte
        bitPos += 1; k -= 1
      }
    }
    putBits(5, 4); putBits(0, 4)          // sb0 ch0, ch1 (< bound)
    for (_ <- 1 until 4) { putBits(0, 4); putBits(0, 4) } // sb1-3
    putBits(0, 4)                         // sb4 (shared, once)
    putBits(2, 4)                         // sb5 (shared, once)
    for (_ <- 6 until 32) putBits(0, 4)   // sb6-31 (shared, once)
    putBits(0, 6)                         // sf sb0 ch0
    putBits(6, 6); putBits(9, 6)          // sf sb5 ch0, ch1
    for (s <- 0 until 12) {
      putBits(s + 1, 6)                   // sb0 ch0
      putBits(s % 6, 3)                   // sb5 SHARED code
    }
    val d = MpegAudio.decodeMp1(f ++ f)
    assert(d.isDefined, "joint-stereo Layer I stream must decode")
    val dec = d.get
    assert(dec.channels == 2)
    val fr = dec.frames.head
    assert(fr.alloc(0)(0) == 5 && fr.alloc(1)(0) == 0)
    assert(fr.alloc(0)(5) == 2 && fr.alloc(1)(5) == 2,
      "shared allocation must copy to both channels")
    assert(fr.sfIdx(0)(5) == 6 && fr.sfIdx(1)(5) == 9)
    for (s <- 0 until 12) {
      assert(fr.samples(0)(0)(s) ==
        MpegAudio.dequant(s + 1, 6, MpegAudio.ScaleFactors(0)))
      assert(fr.samples(0)(5)(s) ==
        MpegAudio.dequant(s % 6, 3, MpegAudio.ScaleFactors(6)))
      assert(fr.samples(1)(5)(s) ==
        MpegAudio.dequant(s % 6, 3, MpegAudio.ScaleFactors(9)),
        "same shared code, channel 1's own scalefactor")
    }
    assert(fr.samples(1)(0).isEmpty, "sb0 ch1 is silent")
  }

  test("Layer II: the closed-form C/D reproduce every PUBLISHED " +
      "Table 3-B.4 row") {
    // (nlevels, C, D) as printed in ISO/IEC 11172-3 Table 3-B.4
    val published = Seq(
      (3, 1.33333333333, 0.50000000000),
      (5, 1.60000000000, 0.50000000000),
      (7, 1.14285714286, 0.25000000000),
      (9, 1.77777777778, 0.50000000000),
      (15, 1.06666666667, 0.12500000000),
      (31, 1.03225806452, 0.06250000000),
      (63, 1.01587301587, 0.03125000000),
      (127, 1.00787401575, 0.01562500000),
      (255, 1.00392156863, 0.00781250000),
      (511, 1.00195694716, 0.00390625000),
      (1023, 1.00097751711, 0.00195312500),
      (2047, 1.00048851979, 0.00097656250),
      (4095, 1.00024420024, 0.00048828125),
      (8191, 1.00012208522, 0.00024414063),
      (16383, 1.00006103888, 0.00012207031),
      (32767, 1.00003051851, 0.00006103516),
      (65535, 1.00001525902, 0.00003051758))
    for ((n, cPub, dPub) <- published) {
      val nb = n match {
        case 3 => 2; case 5 => 3; case 9 => 4
        case _ => java.lang.Integer.numberOfTrailingZeros(n + 1)
      }
      val c = (1L << nb).toDouble / n.toDouble
      val d = ((1L << nb) - n + 1).toDouble / (1L << nb).toDouble
      assert(math.abs(c - cPub) < 5e-12, s"C at $n levels")
      assert(math.abs(d - dPub) < 5e-12, s"D at $n levels")
      // dequant2 uses exactly these: pin one sample through it
      assert(MpegAudio.dequant2(0, n, 1.0) ==
        1.0 * (((0.0 / (1L << (nb - 1)).toDouble - 1.0) + d) * c))
    }
  }

  // hand-placed golden Layer II frame: 192 kbps / 48 kHz mono (Table
  // 3-B.2a, 576 bytes), ONLY subband 0 allocated with allocation 1
  // (= the GROUPED 3-step class: one 5-bit codeword per granule),
  // scfsi 2 (one scalefactor for all three parts), sf index 3 (= 1.0),
  // granule g's codeword = g — so degrouping must recover
  // (g%3, (g/3)%3, g/9)
  private def goldenMp2Frame: Array[Byte] = {
    val f = new Array[Byte](576)
    f(0) = 0xff.toByte; f(1) = 0xfd.toByte // MPEG-1, Layer II, no CRC
    f(2) = ((10 << 4) | (1 << 2)).toByte   // 192 kbps, 48 kHz
    f(3) = 0xc0.toByte                     // mono
    var bitPos = 0
    def putBits(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        val idx = 4 + bitPos / 8; val sh = 7 - bitPos % 8
        if (((v >> k) & 1) == 1) f(idx) = (f(idx) | (1 << sh)).toByte
        bitPos += 1; k -= 1
      }
    }
    putBits(1, 4)                          // sb0: allocation 1
    for (_ <- 1 until 11) putBits(0, 4)    // sb1-10
    for (_ <- 11 until 23) putBits(0, 3)   // sb11-22
    for (_ <- 23 until 27) putBits(0, 2)   // sb23-26
    putBits(2, 2)                          // scfsi = 2
    putBits(3, 6)                          // scalefactor index 3
    for (g <- 0 until 12) putBits(g, 5)    // grouped codewords
    f
  }

  test("Layer II golden frame: allocation-class walk, scfsi sharing, " +
      "and degrouping recover the closed-form samples") {
    val d = MpegAudio.decodeMp2(goldenMp2Frame ++ goldenMp2Frame)
    assert(d.isDefined, "golden Layer II stream must decode")
    val dec = d.get
    assert(dec.sampleRate == 48000 && dec.channels == 1 &&
      dec.sblimit == 27 && dec.frames.size == 2)
    for (fr <- dec.frames) {
      assert(fr.alloc(0)(0) == 1)
      assert((1 until 27).forall(fr.alloc(0)(_) == 0))
      assert(fr.scfsi(0)(0) == 2)
      assert(fr.sfIdx(0)(0).toSeq == Seq(3, 3, 3))
      assert(fr.sfTransmitted == 1)
      for (g <- 0 until 12; k <- 0 until 3) {
        val v = Seq(g % 3, (g / 3) % 3, g / 9)(k)
        assert(fr.samples(0)(0)(g * 3 + k) ==
          MpegAudio.dequant2(v, 3, MpegAudio.ScaleFactors(3)),
          s"granule $g sample $k")
      }
      assert((1 until 27).forall(fr.samples(0)(_).isEmpty))
    }
  }

  test("Layer II fixture: CRC variant decodes identically; a flipped " +
      "allocation bit breaks the CRC; rejections") {
    val plain = MpegAudio.decodeMp2(MpegAudio.syntheticMp2(42L, 4))
    val crcd = MpegAudio.decodeMp2(
      MpegAudio.syntheticMp2(42L, 4, withCrc = true))
    assert(plain.isDefined && crcd.isDefined)
    val (a, b) = (plain.get, crcd.get)
    assert(a.frames.size == 4 && b.frames.size == 4)
    for (fr <- 0 until 4; sb <- 0 until a.sblimit) {
      assert(a.frames(fr).alloc(0)(sb) == b.frames(fr).alloc(0)(sb))
      assert(a.frames(fr).samples(0)(sb).toSeq ==
        b.frames(fr).samples(0)(sb).toSeq)
    }
    val corrupt = MpegAudio.syntheticMp2(42L, 4, withCrc = true)
    corrupt(7) = (corrupt(7) ^ 0x10).toByte // an allocation bit
    assert(MpegAudio.decodeMp2(corrupt).isEmpty,
      "CRC must catch the allocation bit-flip")
    val ok = MpegAudio.syntheticMp2(7L, 3)
    assert(MpegAudio.decodeMp2(ok).isDefined)
    assert(MpegAudio.decodeMp2(ok.dropRight(1)).isEmpty, "truncated")
    assert(MpegAudio.decodeMp2(ok :+ 0x00.toByte).isEmpty, "trailing")
    assert(MpegAudio.decodeMp2(ok.take(576)).isEmpty, "single frame")
    // cross-layer: Layer I and Layer III payloads must not half-decode
    assert(MpegAudio.decodeMp2(MpegAudio.syntheticMp1(7L, 3)).isEmpty)
    assert(MpegAudio.decodeMp2(
      Multimodal.syntheticMp3(5, 2, 9)).isEmpty)
    assert(MpegAudio.decodeMp1(ok).isEmpty,
      "Layer II must not decode on the Layer I path")
  }

  test("Layer II: both fixture classes hit their allocation table " +
      "(3-B.2a at 48 kHz/192, 3-B.2b at 32 kHz/160) and all scfsi " +
      "modes and grouped+ungrouped classes occur") {
    val even = MpegAudio.decodeMp2(MpegAudio.syntheticMp2(4L, 3)).get
    val odd = MpegAudio.decodeMp2(MpegAudio.syntheticMp2(5L, 3)).get
    assert(even.sampleRate == 48000 && even.sblimit == 27)
    assert(odd.sampleRate == 32000 && odd.sblimit == 30)
    for (d <- Seq(even, odd)) {
      val scfsis = d.frames.flatMap(f =>
        (0 until d.sblimit).filter(f.alloc(0)(_) != 0)
          .map(f.scfsi(0)(_))).toSet
      assert(scfsis == Set(0, 1, 2, 3), s"scfsi coverage: $scfsis")
      assert(d.frames.exists(_.groupedCells > 0), "grouped classes")
      assert(d.frames.exists(f => f.groupedCells < 12 *
        (0 until d.sblimit).count(f.alloc(0)(_) != 0)), "ungrouped too")
    }
  }

  test("Layer II stereo frame: sb-major/channel-minor allocation, " +
      "per-channel scfsi/scalefactors/samples") {
    // hand-build one stereo (mode 00) frame at 384 kbps / 48 kHz
    // (= 1152 bytes, Table 3-B.2a at 192 kbps/ch): ch0 sb0 alloc 1
    // (grouped 3-step), ch1 sb0 alloc 2 (7-step, 3-bit codes),
    // everything else silent; scfsi 2 / 0, sf 3 / (0, 6, 12)
    val f = new Array[Byte](1152)
    f(0) = 0xff.toByte; f(1) = 0xfd.toByte
    f(2) = ((14 << 4) | (1 << 2)).toByte // 384 kbps, 48 kHz
    f(3) = 0x00.toByte                   // stereo
    var bitPos = 0
    def putBits(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        val idx = 4 + bitPos / 8; val sh = 7 - bitPos % 8
        if (((v >> k) & 1) == 1) f(idx) = (f(idx) | (1 << sh)).toByte
        bitPos += 1; k -= 1
      }
    }
    putBits(1, 4); putBits(2, 4)          // sb0: ch0 alloc 1, ch1 alloc 2
    for (_ <- 1 until 3) { putBits(0, 4); putBits(0, 4) }
    for (_ <- 3 until 11) { putBits(0, 4); putBits(0, 4) }
    for (_ <- 11 until 23) { putBits(0, 3); putBits(0, 3) }
    for (_ <- 23 until 27) { putBits(0, 2); putBits(0, 2) }
    putBits(2, 2); putBits(0, 2)          // scfsi ch0=2, ch1=0
    putBits(3, 6)                         // ch0: one sf (idx 3)
    putBits(0, 6); putBits(6, 6); putBits(12, 6) // ch1: three sfs
    for (g <- 0 until 12) {
      putBits(g % 27, 5)                  // ch0 grouped codeword
      for (k <- 0 until 3) putBits((g + k) % 7, 3) // ch1 codes (≤6)
    }
    val d = MpegAudio.decodeMp2(f ++ f)
    assert(d.isDefined, "stereo Layer II stream must decode")
    val dec = d.get
    assert(dec.channels == 2 && dec.sblimit == 27)
    val fr = dec.frames.head
    assert(fr.alloc(0)(0) == 1 && fr.alloc(1)(0) == 2)
    assert(fr.sfIdx(0)(0).toSeq == Seq(3, 3, 3))
    assert(fr.sfIdx(1)(0).toSeq == Seq(0, 6, 12))
    for (g <- 0 until 12; k <- 0 until 3) {
      val cw = g % 27
      val v0 = Seq(cw % 3, (cw / 3) % 3, cw / 9)(k)
      assert(fr.samples(0)(0)(g * 3 + k) ==
        MpegAudio.dequant2(v0, 3, MpegAudio.ScaleFactors(3)))
      val sfC1 = MpegAudio.ScaleFactors(Seq(0, 6, 12)(g / 4))
      assert(fr.samples(1)(0)(g * 3 + k) ==
        MpegAudio.dequant2((g + k) % 7, 7, sfC1))
    }
  }

  test("Layer II JOINT stereo: shared allocation + sample codes above " +
      "the intensity bound, per-channel scalefactors") {
    // 384 kbps / 48 kHz joint stereo, mode_ext 0 ⇒ bound = 4:
    // sb0 (< bound) ch0 alloc 1 (grouped 3-step), ch1 silent;
    // sb5 (≥ bound) ONE alloc 2 (grouped 5-step) + ONE codeword per
    // granule, requantized per channel with that channel's sf
    val f = new Array[Byte](1152)
    f(0) = 0xff.toByte; f(1) = 0xfd.toByte
    f(2) = ((14 << 4) | (1 << 2)).toByte
    f(3) = 0x40.toByte                   // joint stereo, mode_ext 0
    var bitPos = 0
    def putBits(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        val idx = 4 + bitPos / 8; val sh = 7 - bitPos % 8
        if (((v >> k) & 1) == 1) f(idx) = (f(idx) | (1 << sh)).toByte
        bitPos += 1; k -= 1
      }
    }
    putBits(1, 4); putBits(0, 4)          // sb0: ch0, ch1 (< bound)
    for (_ <- 1 until 4) { putBits(0, 4); putBits(0, 4) } // sb1-3
    putBits(0, 4)                         // sb4 (shared, once)
    putBits(2, 4)                         // sb5 (shared, once)
    for (_ <- 6 until 11) putBits(0, 4)   // sb6-10
    for (_ <- 11 until 23) putBits(0, 3)  // sb11-22
    for (_ <- 23 until 27) putBits(0, 2)  // sb23-26
    putBits(2, 2)                         // scfsi sb0 ch0
    putBits(2, 2); putBits(2, 2)          // scfsi sb5 ch0, ch1
    putBits(3, 6)                         // sf sb0 ch0
    putBits(10, 6); putBits(20, 6)        // sf sb5 ch0, ch1
    for (g <- 0 until 12) {
      putBits(g % 27, 5)                  // sb0 ch0 grouped (3-step)
      putBits((g * 3) % 125, 7)           // sb5 SHARED grouped (5-step)
    }
    val d = MpegAudio.decodeMp2(f ++ f)
    assert(d.isDefined, "joint-stereo Layer II stream must decode")
    val dec = d.get
    assert(dec.channels == 2 && dec.sblimit == 27)
    val fr = dec.frames.head
    assert(fr.alloc(0)(0) == 1 && fr.alloc(1)(0) == 0)
    assert(fr.alloc(0)(5) == 2 && fr.alloc(1)(5) == 2,
      "shared allocation must copy to both channels")
    assert(fr.sfIdx(0)(5).toSeq == Seq(10, 10, 10))
    assert(fr.sfIdx(1)(5).toSeq == Seq(20, 20, 20))
    for (g <- 0 until 12; k <- 0 until 3) {
      val cw = (g * 3) % 125
      val v = Seq(cw % 5, (cw / 5) % 5, cw / 25)(k)
      assert(fr.samples(0)(5)(g * 3 + k) ==
        MpegAudio.dequant2(v, 5, MpegAudio.ScaleFactors(10)))
      assert(fr.samples(1)(5)(g * 3 + k) ==
        MpegAudio.dequant2(v, 5, MpegAudio.ScaleFactors(20)),
        "same shared values, channel 1's own scalefactor")
      val cw0 = g % 27
      val v0 = Seq(cw0 % 3, (cw0 / 3) % 3, cw0 / 9)(k)
      assert(fr.samples(0)(0)(g * 3 + k) ==
        MpegAudio.dequant2(v0, 3, MpegAudio.ScaleFactors(3)))
    }
    assert(fr.samples(1)(0).isEmpty, "sb0 ch1 is silent")
  }

  test("router: a Layer II payload gets REAL spectral features " +
      "(1152 samples/frame), not the header walk") {
    val mp2 = Multimodal.MediaRow(3L, "audio", MpegAudio.syntheticMp2(3L, 4))
    val feat = Multimodal.decode(mp2)
    assert(feat.width == 32000 && feat.height == 1)
    assert(feat.n_frames == 4 * 1152)
    val d = MpegAudio.decodeMp2(mp2.payload).get
    var n = 0L; var ss = 0.0
    d.frames.foreach(_.samples.foreach(_.foreach { xs =>
      xs.foreach { x => ss += x * x; n += 1 }
    }))
    assert(feat.brightness == math.sqrt(ss / n))
  }

  test("router: a Layer I payload gets REAL spectral features, not the " +
      "stub; Layer III still routes to the header walk") {
    val mp1 = Multimodal.MediaRow(1L, "audio", MpegAudio.syntheticMp1(1L, 3))
    val feat = Multimodal.decode(mp1)
    assert(feat.width == 32000 && feat.height == 1)
    assert(feat.n_frames == 3 * 384)
    // brightness = subband RMS — recompute from the decoded samples
    val d = MpegAudio.decodeMp1(mp1.payload).get
    var n = 0L; var ss = 0.0
    d.frames.foreach(_.samples.foreach(_.foreach { xs =>
      xs.foreach { x => ss += x * x; n += 1 }
    }))
    assert(feat.brightness == math.sqrt(ss / n))
    val mp3 = Multimodal.MediaRow(2L, "audio",
      Multimodal.syntheticMp3(5, 2, 9))
    val f3 = Multimodal.decode(mp3)
    assert(f3.n_frames == 5 && f3.width == 32000, "Layer III metadata lane")
  }

  /** Two valid mono Layer I headers (32 kHz, 224 kbps: 336-byte frames)
    * with every other byte 0xEE: each frame's allocation asks for more
    * sample bits than the frame holds. */
  private val overrunMp1: Array[Byte] = {
    val p = Array.fill[Byte](672)(0xee.toByte)
    for (off <- Seq(0, 336))
      Seq(0xff, 0xff, 0x78, 0xc0).zipWithIndex.foreach { case (v, i) =>
        p(off + i) = v.toByte
      }
    p
  }

  test("a Layer I frame whose bits run past its end is rejected, and " +
      "the router still returns a row for it") {
    assert(MpegAudio.decodeMp1(overrunMp1).isEmpty)
    assert(MpegAudio.decodeMp1(overrunMp1.take(336) ++
      MpegAudio.syntheticMp1(7, 3)).isEmpty, "bits read into the next frame")
    // the router falls through to the header walk: 2 frames at 224 kbps
    val f = Multimodal.decode(Multimodal.MediaRow(9L, "audio", overrunMp1))
    assert(f.width == 32000 && f.height == 1 && f.n_frames == 2 &&
      f.brightness == 224.0)
  }

  test("decodeAll completes over a table holding the overrunning " +
      "Layer I payload and a clean one") {
    import spark.implicits._
    val rows = Seq(Multimodal.MediaRow(1L, "audio", overrunMp1),
      Multimodal.MediaRow(2L, "audio", MpegAudio.syntheticMp1(2L, 3)))
    val got = Multimodal.decodeAll(spark.createDataset(rows)).collect()
      .sortBy(_.doc_id)
    assert(got.map(_.doc_id).toSeq == Seq(1L, 2L))
    assert(got(1).n_frames == 3 * 384 && got(1).width == 32000)
  }
}
