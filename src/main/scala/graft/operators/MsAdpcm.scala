package graft.operators

/** REAL lossy-audio codec #3: Microsoft ADPCM (WAV format tag 0x02 —
  * the published algorithm from the Windows multimedia standards
  * update; 7-entry predictor-coefficient table + 16-entry delta
  * adaptation table). Like IMA ([[ImaAdpcm]]) it is a SEQUENTIAL
  * predictive quantizer over pure integer arithmetic, so a DuckDB
  * recursive CTE replays the entire encoder/decoder state trajectory
  * and the oracle stays EXACT.
  *
  * Per published spec, mono block layout (`blockAlign` bytes):
  * 1-byte predictor index (0–6) + int16 initial delta + int16 sample1
  * (the LATER header sample) + int16 sample2 (the EARLIER one — output
  * first), then 2 nibbles/byte, HIGH nibble first (the opposite order
  * of IMA). Decode per nibble (signed, [−8, 7]):
  *
  *   pred  = (s1·coef1 + s2·coef2) >> 8          (arithmetic shift)
  *   out   = clamp16(pred + nib·delta)
  *   s2←s1; s1←out
  *   delta = max(16, (AdaptationTable[nib & 15]·delta) >> 8)
  *
  * Truncated, non-tag-2, bad-geometry, or out-of-range-predictor
  * payloads reject (the container discipline of [[G711]]/[[ImaAdpcm]]).
  */
object MsAdpcm {

  /** Published MS-ADPCM coefficient pairs (ADPCMCOEFSET ×7). */
  val Coef1: Array[Int] = Array(256, 512, 0, 192, 240, 460, 392)
  val Coef2: Array[Int] = Array(0, -256, 0, 64, 0, -208, -232)

  /** Published delta-adaptation table, indexed by the UNSIGNED nibble. */
  val AdaptationTable: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)

  private def clamp16(v: Int): Int =
    if (v > 32767) 32767 else if (v < -32768) -32768 else v

  /** One decode step: (s1, s2, delta, signed nibble) →
    * (out = new s1, new delta); caller shifts s2 ← s1. */
  def step(s1: Int, s2: Int, delta: Int, nib: Int, coefIdx: Int)
      : (Int, Int) = {
    val pred = (s1 * Coef1(coefIdx) + s2 * Coef2(coefIdx)) >> 8
    val out = clamp16(pred + nib * delta)
    val d2 = (AdaptationTable(nib & 0xf) * delta) >> 8
    (out, if (d2 < 16) 16 else d2)
  }

  /** One encode step: quantize `x` against the predictor →
    * signed nibble in [−8, 7] (truncating division — the decoder
    * replays the reconstruction, so encoder choice only fixes the
    * trajectory; this form is SQL-replayable). */
  def quantize(x: Int, s1: Int, s2: Int, delta: Int, coefIdx: Int): Int = {
    val pred = (s1 * Coef1(coefIdx) + s2 * Coef2(coefIdx)) >> 8
    val q = (x - pred) / delta // Scala Int division truncates toward 0
    if (q > 7) 7 else if (q < -8) -8 else q
  }

  /** Encode 16-bit mono PCM into MS-ADPCM blocks (coefficient set
    * `coefIdx`, per-block initial delta 16). Header samples are the
    * two RAW samples at the block start. */
  def encode(samples: Array[Int], sampleRateHz: Int,
      blockAlign: Int = 70, coefIdx: Int = 3): Array[Byte] = {
    require(blockAlign >= 8, s"align $blockAlign")
    require(coefIdx >= 0 && coefIdx < 7, s"coef $coefIdx")
    require(samples.nonEmpty, "empty input")
    samples.foreach(s => require(s >= -32768 && s <= 32767, s"$s"))
    val spb = (blockAlign - 7) * 2 + 2
    val nBlocks = (samples.length + spb - 1) / spb
    val data = new java.io.ByteArrayOutputStream()
    var si = 0
    var b = 0
    while (b < nBlocks) {
      val s2 = samples(si)
      val s1 = if (si + 1 < samples.length) samples(si + 1) else 0
      si += 2
      data.write(coefIdx)
      data.write(16 & 0xff); data.write((16 >> 8) & 0xff)
      data.write(s1 & 0xff); data.write((s1 >> 8) & 0xff)
      data.write(s2 & 0xff); data.write((s2 >> 8) & 0xff)
      var cs1 = s1; var cs2 = s2; var delta = 16
      var k = 0
      val nNib = (blockAlign - 7) * 2
      var byte = 0
      while (k < nNib) {
        val nib =
          if (si < samples.length) {
            val n0 = quantize(samples(si), cs1, cs2, delta, coefIdx)
            val (out, d2) = step(cs1, cs2, delta, n0, coefIdx)
            cs2 = cs1; cs1 = out; delta = d2; si += 1
            n0
          } else 0 // pad past end of input
        if (k % 2 == 0) byte = (nib & 0xf) << 4 // HIGH nibble first
        else { byte |= nib & 0xf; data.write(byte) }
        k += 1
      }
      b += 1
    }
    // fmt tag 0x02 with cbSize = 32: samplesPerBlock, wNumCoef = 7 and
    // the published coefficient pairs
    val coefs = (0 until 7).flatMap(c => Seq(Coef1(c), Coef2(c)))
    Riff.write("WAVE", Seq(
      "fmt " -> Riff.waveFmt(0x02, 1, sampleRateHz,
        sampleRateHz.toLong * blockAlign / spb, blockAlign, 4,
        Some(Seq(spb, 7) ++ coefs)),
      "fact" -> Riff.le32(samples.length),
      "data" -> data.toByteArray))
  }

  final case class MsAdpcmStream(nFrames: Long, sampleRate: Int,
      sumSq: Long, pcm: Array[Int])

  /** Decode an MS-ADPCM WAV (tag 0x02, mono). The `fact` count trims
    * trailing pad nibbles. None on anything else. */
  def decode(payload: Array[Byte]): Option[MsAdpcmStream] = {
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
          if (c.size < 22) return None
          ok = u16(payload, body) == 0x02 && u16(payload, body + 2) == 1 &&
            u16(payload, body + 14) == 4
          rate = u32(payload, body + 4).toInt
          blockAlign = u16(payload, body + 12)
          spb = u16(payload, body + 18)
          if (ok && (blockAlign < 8 ||
              spb != (blockAlign - 7) * 2 + 2)) return None
        case "fact" =>
          if (c.size < 4) return None
          total = u32(payload, body)
        case "data" =>
          if (!ok || blockAlign == 0) return None
          if (c.size % blockAlign != 0) return None
          sawData = true
          var bp = body
          while (bp < c.end) {
            val coefIdx = u8(payload, bp)
            if (coefIdx > 6) return None
            var delta = s16(payload, bp + 1)
            if (delta < 16) return None
            var s1 = s16(payload, bp + 3)
            var s2 = s16(payload, bp + 5)
            if (total < 0 || emitted < total) { pcmB += s2; emitted += 1 }
            if (total < 0 || emitted < total) { pcmB += s1; emitted += 1 }
            var k = 0
            val nNib = (blockAlign - 7) * 2
            while (k < nNib) {
              val byte = u8(payload, bp + 7 + k / 2)
              val un = if (k % 2 == 0) (byte >> 4) & 0xf else byte & 0xf
              val nib = if (un >= 8) un - 16 else un
              val (out, d2) = step(s1, s2, delta, nib, coefIdx)
              s2 = s1; s1 = out; delta = d2
              if (total < 0 || emitted < total) {
                pcmB += out; emitted += 1
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
    Some(MsAdpcmStream(pcm.length.toLong, rate, ss, pcm))
  }
}
