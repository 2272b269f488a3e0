package graft.operators

/** REAL lossy-audio codec #2: IMA/DVI ADPCM (public spec — the IMA
  * Digital Audio Focus Group algorithm; WAV format tag 0x11). Unlike
  * µ-law's per-byte closed form, ADPCM is a SEQUENTIAL predictive
  * quantizer — yet every step is integer arithmetic over a published
  * 89-entry step table, so a SQL engine can replay the whole state
  * machine with a recursive CTE and the oracle stays EXACT even for a
  * stateful decode.
  *
  * Container: standard IMA-in-WAV mono blocks — each `blockAlign`
  * bytes: a 4-byte header (int16 predictor seeded with the RAW input
  * sample at the block start + current step index + reserved byte),
  * then 2 nibbles/byte, low nibble first. Predictor clamps to int16,
  * index to [0, 88]. Truncated/malformed payloads reject.
  */
object ImaAdpcm {

  val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)

  val IndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  private def clampPred(v: Int): Int =
    if (v > 32767) 32767 else if (v < -32768) -32768 else v
  private def clampIdx(v: Int): Int =
    if (v < 0) 0 else if (v > 88) 88 else v

  /** One decode step: (pred, idx, nibble) → (pred', idx'). */
  def step(pred: Int, idx: Int, nib: Int): (Int, Int) = {
    val s = StepTable(idx)
    var diff = s >> 3
    if ((nib & 4) != 0) diff += s
    if ((nib & 2) != 0) diff += s >> 1
    if ((nib & 1) != 0) diff += s >> 2
    val p = clampPred(if ((nib & 8) != 0) pred - diff else pred + diff)
    (p, clampIdx(idx + IndexTable(nib & 7)))
  }

  /** One encode step: quantize `x` against (pred, idx) → nibble;
    * reconstruction = [[step]] of that nibble (encoder and decoder
    * share the state trajectory by construction). */
  def quantize(x: Int, pred: Int, idx: Int): Int = {
    val s = StepTable(idx)
    var diff = x - pred
    var nib = 0
    if (diff < 0) { nib = 8; diff = -diff }
    if (diff >= s) { nib |= 4; diff -= s }
    if (diff >= (s >> 1)) { nib |= 2; diff -= s >> 1 }
    if (diff >= (s >> 2)) nib |= 1
    nib
  }

  /** Encode 16-bit mono PCM into IMA-WAV blocks of `blockAlign`
    * bytes: header predictor = the RAW sample at the block start
    * (drift checkpoint), index carried. */
  def encode(samples: Array[Int], sampleRateHz: Int,
      blockAlign: Int = 68): Array[Byte] = {
    require(blockAlign >= 8 && blockAlign % 4 == 0, s"align $blockAlign")
    require(samples.nonEmpty, "empty input")
    samples.foreach(s => require(s >= -32768 && s <= 32767, s"$s"))
    val spb = (blockAlign - 4) * 2 + 1 // samples per block
    val nBlocks = (samples.length + spb - 1) / spb
    val data = new java.io.ByteArrayOutputStream()
    var idx = 0
    var si = 0
    var b = 0
    while (b < nBlocks) {
      val x0 = samples(si)
      data.write(x0 & 0xff); data.write((x0 >> 8) & 0xff)
      data.write(idx); data.write(0)
      var pred = x0
      si += 1
      var k = 0
      val nNib = (blockAlign - 4) * 2
      var byte = 0
      while (k < nNib) {
        val nib =
          if (si < samples.length && k < nNib) {
            val n0 = quantize(samples(si), pred, idx)
            val (p2, i2) = step(pred, idx, n0)
            pred = p2; idx = i2; si += 1
            n0
          } else 0 // pad nibbles past the end of input
        if (k % 2 == 0) byte = nib & 0xf
        else { byte |= (nib & 0xf) << 4; data.write(byte) }
        k += 1
      }
      b += 1
    }
    // fmt tag 0x11 with cbSize = 2: samplesPerBlock
    Riff.write("WAVE", Seq(
      "fmt " -> Riff.waveFmt(0x11, 1, sampleRateHz,
        sampleRateHz.toLong * blockAlign / spb, blockAlign, 4,
        Some(Seq(spb))),
      "fact" -> Riff.le32(samples.length),
      "data" -> data.toByteArray))
  }

  final case class AdpcmStream(nFrames: Long, sampleRate: Int,
      sumSq: Long, pcm: Array[Int])

  /** Decode an IMA-ADPCM WAV (tag 0x11, mono). The `fact` chunk's
    * sample count truncates trailing pad nibbles. None on anything
    * else (PCM, truncation, bad block geometry). */
  def decode(payload: Array[Byte]): Option[AdpcmStream] = {
    val cs = Riff.read(payload, "WAVE") match {
      case Some(cs) => cs
      case None => return None
    }
    import Riff.{s16, u16, u32, u8}
    var ok = false
    var rate = 0
    var blockAlign = 0
    var spb = 0
    var total = -1L
    val pcmB = Array.newBuilder[Int]
    var emitted = 0L
    var sawData = false
    val it = cs.iterator
    while (it.hasNext) {
      val c = it.next()
      val body = c.body
      c.id match {
        case "fmt " =>
          if (c.size < 20) return None
          ok = u16(payload, body) == 0x11 && u16(payload, body + 2) == 1 &&
            u16(payload, body + 14) == 4
          rate = u32(payload, body + 4).toInt
          blockAlign = u16(payload, body + 12)
          spb = u16(payload, body + 18)
          if (ok && (blockAlign < 8 ||
              spb != (blockAlign - 4) * 2 + 1)) return None
        case "fact" =>
          if (c.size < 4) return None
          total = u32(payload, body)
        case "data" =>
          if (!ok || blockAlign == 0) return None
          if (c.size % blockAlign != 0) return None
          sawData = true
          var bp = body
          while (bp < c.end) {
            var pred = s16(payload, bp)
            var idx = u16(payload, bp + 2) & 0xff
            if (idx > 88) return None
            if (total < 0 || emitted < total) {
              pcmB += pred; emitted += 1
            }
            var k = 0
            val nNib = (blockAlign - 4) * 2
            while (k < nNib) {
              val byte = u8(payload, bp + 4 + k / 2)
              val nib = if (k % 2 == 0) byte & 0xf else (byte >> 4) & 0xf
              val (p2, i2) = step(pred, idx, nib)
              pred = p2; idx = i2
              if (total < 0 || emitted < total) {
                pcmB += pred; emitted += 1
              }
              k += 1
            }
            bp += blockAlign
          }
        case _ => ()
      }
    }
    if (!ok || !sawData || rate <= 0) return None
    val pcm = pcmB.result()
    if (total >= 0 && pcm.length.toLong != total) return None
    var ss = 0L
    pcm.foreach(v => ss += v.toLong * v)
    Some(AdpcmStream(pcm.length.toLong, rate, ss, pcm))
  }
}
