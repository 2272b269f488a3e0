package graft.operators

/** REAL lossy-audio decode: ITU-T G.711 µ-law (the PSTN/telephony
  * codec; public spec, a pure integer expansion) — unlike the DCT
  * codecs the JDK lacks, µ-law's decode is a closed-form per-byte
  * formula, so a SQL oracle replays the EXPANDED waveform exactly:
  *
  *   x = ~b & 0xff;  e = (x >> 4) & 7;  m = x & 15
  *   mag = ((m·8 + 132) << e) − 132;   sample = sign(x) ? −mag : mag
  *
  * Payloads travel as real RIFF/WAVE containers with wFormatTag = 7
  * (WAVE_FORMAT_MULAW, 8 bits/sample), read and written through
  * [[Riff]] (truncated or non-µ-law payloads reject).
  */
object G711 {

  /** µ-law byte (0–255) → 16-bit linear sample. */
  def ulawToLinear(b: Int): Int = {
    val x = ~b & 0xff
    val e = (x >> 4) & 7
    val m = x & 15
    val mag = (((m << 3) + 0x84) << e) - 0x84
    if ((x & 0x80) != 0) -mag else mag
  }

  /** Parsed µ-law stream: frame count, rate, channels, exact integer
    * Σ expanded-sample² (the SQL-replayable energy term). */
  final case class UlawStream(nFrames: Long, sampleRate: Int,
      channels: Int, sumSq: Long)

  /** Decode a RIFF/WAVE µ-law (format tag 7, 8-bit) payload. None on
    * anything else — truncation, non-RIFF, PCM/other codecs. */
  def decodeUlawWav(payload: Array[Byte]): Option[UlawStream] =
    decode8(payload, 7, ulawToLinear, keepPcm = false).map(_._1)

  /** Decoded µ-law PCM samples (interleaved) — the waveform-consumer
    * lane ([[decodeUlawWav]] keeps only the Σs² census). Same
    * container contract: None on truncation/non-µ-law. */
  def decodeUlawPcm(payload: Array[Byte]): Option[(Array[Int], Int, Int)] =
    decode8(payload, 7, ulawToLinear, keepPcm = true).map { case (u, pcm) =>
      (pcm, u.sampleRate, u.channels)
    }

  /** The one G.711 walk: a WAVE payload whose `fmt ` has format tag
    * `tag` at 8 bits, each `data` byte expanded by `expand` (and kept,
    * in file order, when `keepPcm`). A `data` chunk before a matching
    * `fmt ` rejects. */
  private def decode8(payload: Array[Byte], tag: Int, expand: Int => Int,
      keepPcm: Boolean): Option[(UlawStream, Array[Int])] = {
    val cs = Riff.read(payload, "WAVE") match {
      case Some(cs) => cs
      case None => return None
    }
    import Riff.{u16, u32, u8}
    var rate = 0
    var channels = 0
    var ok = false
    var sumSq = 0L
    var n = 0L
    var sawData = false
    val pcm = Array.newBuilder[Int]
    val it = cs.iterator
    while (it.hasNext) {
      val c = it.next()
      c.id match {
        case "fmt " =>
          if (c.size < 16) return None
          channels = u16(payload, c.body + 2)
          rate = u32(payload, c.body + 4).toInt
          ok = u16(payload, c.body) == tag &&
            u16(payload, c.body + 14) == 8 && channels >= 1
        case "data" =>
          if (!ok) return None // fmt must precede data and match the tag
          sawData = true
          var i = c.body
          while (i < c.end) {
            val s = expand(u8(payload, i))
            sumSq += s.toLong * s
            if (keepPcm) pcm += s
            i += 1
          }
          n += c.size
        case _ => () // skip LIST/fact/etc.
      }
    }
    if (ok && sawData && rate > 0)
      Some((UlawStream(n / channels, rate, channels, sumSq), pcm.result()))
    else None
  }

  // ---- A-law (the µ-law sibling: ITU-T G.711 §3, WAVE_FORMAT_ALAW
  // tag 6) — same per-byte closed form family, sign convention
  // INVERTED vs µ-law (a set sign bit is POSITIVE) and a 0x55 toggle
  // instead of full complement:
  //
  //   x = b ^ 0x55;  e = (x >> 4) & 7;  m = x & 15
  //   mag = e == 0 ? m·16 + 8 : (m·16 + 264) << (e − 1)
  //   sample = (x & 0x80) ? mag : −mag
  // --------------------------------------------------------------------

  /** A-law byte (0–255) → 13-bit-magnitude linear sample. */
  def alawToLinear(b: Int): Int = {
    val x = b ^ 0x55
    val e = (x >> 4) & 7
    val m = x & 15
    val mag =
      if (e == 0) (m << 4) + 8
      else ((m << 4) + 0x108) << (e - 1)
    if ((x & 0x80) != 0) mag else -mag
  }

  /** Decode a RIFF/WAVE A-law (format tag 6, 8-bit) payload — the
    * [[decodeUlawWav]] walk with the tag-6 expansion. None on
    * truncation, non-RIFF, or any other codec. */
  def decodeAlawWav(payload: Array[Byte]): Option[UlawStream] =
    decode8(payload, 6, alawToLinear, keepPcm = false).map(_._1)

  // ---- the ENCODE direction (16-bit linear → G.711 byte): the
  // telephony-export surface. Both are the published CCITT quantizers
  // on 16-bit input (the 13/14-bit reference forms ×8/×4); each is the
  // exact inverse of its decoder on code levels — encode(decode(b))
  // == b for every byte (µ-law modulo the two-zeros 0x7F/0xFF alias),
  // spec-pinned. --------------------------------------------------------

  /** 16-bit linear → µ-law byte (CCITT G.711 §2 encoder; BIAS 0x84,
    * CLIP 32635). */
  def linearToUlaw(x0: Int): Int = {
    var x = x0
    val sign = if (x < 0) { x = -x; 0x80 } else 0
    if (x > 32635) x = 32635
    x += 0x84
    var e = 7
    var mask = 0x4000
    while (e > 0 && (x & mask) == 0) { e -= 1; mask >>= 1 }
    val mant = (x >> (e + 3)) & 0x0f
    ~(sign | (e << 4) | mant) & 0xff
  }

  /** 16-bit linear → A-law byte — EXACTLY the ITU reference C
    * (Sun/CCITT g711.c `linear2alaw`): reduce to 13-bit uniform
    * (x >> 3), negatives via one's complement (−p − 1, so −16 joins
    * the LOWER cell — the G.711 sign-magnitude convention), 13-bit
    * segment table, mantissa shift max(1, seg). Inverts
    * [[alawToLinear]] on ALL 256 code levels (spec-pinned). NOTE the
    * JDK's AlawCodec deviates on negatives (it biases −x−8 in 16-bit
    * arithmetic), so the JDK pin covers positives only. */
  def linearToAlaw(x0: Int): Int = {
    var p = x0 >> 3
    val mask = if (p >= 0) 0xd5 else { p = -p - 1; 0x55 }
    val seg =
      if (p <= 0x1f) 0 else if (p <= 0x3f) 1 else if (p <= 0x7f) 2
      else if (p <= 0xff) 3 else if (p <= 0x1ff) 4
      else if (p <= 0x3ff) 5 else if (p <= 0x7ff) 6 else 7
    val mant = (p >> (if (seg < 2) 1 else seg)) & 0x0f
    ((seg << 4) | mant) ^ mask
  }

  /** Fixture: a real A-law WAV, byte stream `(id·17 + i·11) mod 256`. */
  def syntheticAlawWav(id: Long, nFrames: Int,
      sampleRateHz: Int): Array[Byte] =
    syntheticWav8(6, nFrames, sampleRateHz)(i => id * 17 + i * 11L)

  /** Fixture: a real µ-law WAV whose byte stream is the closed form
    * `(id·13 + i·7) mod 256` — every expanded sample replays in SQL
    * through the µ-law formula. */
  def syntheticUlawWav(id: Long, nFrames: Int,
      sampleRateHz: Int): Array[Byte] =
    syntheticWav8(7, nFrames, sampleRateHz)(i => id * 13 + i * 7L)

  /** Mono 8-bit WAVE of format `tag` whose byte i is `byte(i) mod 256`;
    * the `fmt ` carries cbSize = 0, as G.711 format chunks do. */
  private def syntheticWav8(tag: Int, nFrames: Int, sampleRateHz: Int)(
      byte: Int => Long): Array[Byte] =
    Riff.write("WAVE", Seq(
      "fmt " -> Riff.waveFmt(tag, 1, sampleRateHz, sampleRateHz, 1, 8,
        Some(Nil)),
      "data" -> Array.tabulate(nFrames)(i => (byte(i) % 256).toByte)))
}
