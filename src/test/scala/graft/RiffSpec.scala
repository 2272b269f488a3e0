package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Avi, Flac, G711, ImaAdpcm, MsAdpcm, Multimodal}

/** Pins the RIFF containers of the WAVE, AVI and WebP codecs: the md5
  * of every writer's output for fixed arguments, and a digest of every
  * decoder's result over a seeded corruption corpus built from those
  * payloads. The corpus holds every truncation, every chunk-size field
  * pushed past its container's end and past the file's end, and the
  * layouts a codec must keep deciding the same way: `data` before
  * `fmt `, `fact` after `data`, two `data` chunks, an odd chunk with
  * its pad byte cut, trailing bytes shorter than a chunk header and,
  * for AVI, a `LIST` shorter than its 4-byte type. The spec uses only
  * the codecs' public functions, so it checks any container code
  * behind them. MJPG frames are fixed byte strings, not encoder output,
  * so the pins do not depend on the JDK's JPEG writer. The JDK's own
  * WAV reader (`javax.sound.sampled`) is the reference for every clean
  * 16-bit PCM payload the engine writes.
  */
class RiffSpec extends AnyFunSuite {

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private def md5(s: String): String = md5(s.getBytes("UTF-8"))

  private def mjpgFrame(seed: Int, n: Int): Array[Byte] =
    Array(0xff.toByte, 0xd8.toByte) ++
      Array.tabulate(n - 2)(i => ((seed * 31 + i * 7) % 251).toByte)

  private val payloads: Seq[(String, Array[Byte])] = Seq(
    "ulaw" -> G711.syntheticUlawWav(5, 37, 8000),
    "ulaw_even" -> G711.syntheticUlawWav(6, 40, 11025),
    "alaw" -> G711.syntheticAlawWav(5, 36, 8000),
    "alaw_odd" -> G711.syntheticAlawWav(9, 41, 16000),
    "ima_align8" ->
      ImaAdpcm.encode(Flac.fixtureWaveform(3, 50), 8000, blockAlign = 8),
    "ima_align68" ->
      ImaAdpcm.encode(Flac.fixtureWaveform(4, 300), 8000, blockAlign = 68),
    "ms_coef3" -> MsAdpcm.encode(Flac.fixtureWaveform(5, 130), 8000,
      blockAlign = 70, coefIdx = 3),
    "ms_coef5_odd" -> MsAdpcm.encode(Flac.fixtureWaveform(6, 70), 8000,
      blockAlign = 21, coefIdx = 5),
    "pcm8_odd" -> Multimodal.syntheticPcmWav(7, 21, 8, 8000),
    "pcm8_even" -> Multimodal.syntheticPcmWav(7, 22, 8, 8000),
    "pcm16_odd" -> Multimodal.syntheticPcmWav(8, 21, 16, 22050),
    "pcm16_even" -> Multimodal.syntheticPcmWav(8, 22, 16, 22050),
    "pcm24_odd" -> Multimodal.syntheticPcmWav(9, 21, 24, 44100),
    "pcm24_even" -> Multimodal.syntheticPcmWav(9, 22, 24, 44100),
    "avi_dib" -> Avi.write(Seq(Avi.solidDib(5, 3, 40), Avi.solidDib(5, 3, 200),
      Avi.solidDib(5, 3, 7)), 5, 3, 25, 1, "DIB ", dib = true),
    "avi_mjpg" -> Avi.write(Seq(mjpgFrame(1, 37), mjpgFrame(2, 40)),
      8, 8, 30000, 1001, "MJPG", dib = false),
    "webp_vp8" -> Multimodal.syntheticWebp(100, 50, lossless = false, 7),
    "webp_vp8l" -> Multimodal.syntheticWebp(333, 17, lossless = true, 9))

  /** The 16-bit PCM WAV writers whose bytes oracle tables store. */
  private val wavWriters: Seq[(String, Array[Byte])] = Seq(
    "wav_pos" -> Multimodal.syntheticWav(250, 8000, 300),
    "wav_neg" -> Multimodal.syntheticWav(101, 12000, -1024),
    "wav_zero" -> Multimodal.syntheticWav(37, 16000, 0),
    "wavSeg_3" -> Multimodal.syntheticWavSeg(3, 6),
    "wavSeg_13" -> Multimodal.syntheticWavSeg(13, 7),
    "transcode_21" -> Multimodal.transcodeFlacToWav(
      Flac.encode(Flac.fixtureWaveform(21, 333), 8000)).get,
    "transcode_3" -> Multimodal.transcodeFlacToWav(
      Flac.encode(Flac.fixtureWaveform(3, 700), 12000, 128)).get)

  /** md5 of each writer's output at the commit before the RIFF code was
    * shared (the `wav*`/`transcode*` writers: before they moved from
    * `javax.sound.sampled.AudioSystem.write` to [[graft.operators.Riff]]);
    * the shared writer must reproduce every byte. */
  private val writerMd5 = Map(
    "ulaw" -> "c7498e64aae767e7873f1bcbf791c395",
    "ulaw_even" -> "3e9e4cfba5bed90b8859cc42cf029594",
    "alaw" -> "679dc75fb1ae9882ec02fed51a0f67a2",
    "alaw_odd" -> "cc379a47791c7b328f8b89b3924dfebc",
    "ima_align8" -> "81c3b4b9f7eaaeac7937608cc05c7681",
    "ima_align68" -> "d736f347430273f084f8b468b7b99c0a",
    "ms_coef3" -> "26dc321872e8b6b1866e4e1c6dc97a1f",
    "ms_coef5_odd" -> "6819929010dd54df882af208532f9056",
    "pcm8_odd" -> "cef5d9623fe48892801305026381f81b",
    "pcm8_even" -> "93b940a887b2b19141ec3f04122c43ef",
    "pcm16_odd" -> "33ba085f5cb79e428958a62a067dffd4",
    "pcm16_even" -> "63c8b59182300d0b1d910e0d5997fe8c",
    "pcm24_odd" -> "557fed1d11f8d1b0cd76e39a937461df",
    "pcm24_even" -> "cc86926d63d2c3ea0df8afebef4924a6",
    "avi_dib" -> "b7b781aec3c0c6ef4a876c209e62b664",
    "avi_mjpg" -> "bc1fcc14520807c81f45ecf722a46321",
    "webp_vp8" -> "488125bc340e565fd3e87a5384a41f02",
    "webp_vp8l" -> "20632703cc6bd9fff9cc294e554cd605",
    "wav_pos" -> "cc56346ebc7f4d66efbeecbbf165531a",
    "wav_neg" -> "af8e32e6d5cf636de0f4d1e3e147d53d",
    "wav_zero" -> "837b923858c5a8c40a177db95210e7f6",
    "wavSeg_3" -> "8985fa1e2705496f416071e3e156dd51",
    "wavSeg_13" -> "cfd6469592261119fff9ec7d62c24cd8",
    "transcode_21" -> "7821c5e2467e848acc414f9947ea6dcf",
    "transcode_3" -> "ce5ede46d70912669144e9081e688a9f")

  /** md5 of every hand-rolled decoder's rendered result over each
    * payload's corruption corpus, recorded at the same commit (the
    * pcm16 digests, which until then also held [[wavDecoders]]'
    * results, at the commit before the WAV readers were merged). */
  private val corpusMd5 = Map(
    "ulaw" -> "cd800c1789f7b6df664dcc9f547ac261",
    "ulaw_even" -> "2269fbfa1f29b1c2ffb3a8b815c12b8f",
    "alaw" -> "bcf71a7c485b7a142e55c1e6009bb9e0",
    "alaw_odd" -> "71ab773b0f26acae136ae4739267ec51",
    "ima_align8" -> "e15c229ae17b7067ce8614e8d8c15e8e",
    "ima_align68" -> "b92b045af30a82311e9b8ef814115e23",
    "ms_coef3" -> "01200ea1db7a20d8500d9b2b29c400f8",
    "ms_coef5_odd" -> "954b32f9a127aa89c0642e35ae2a1e54",
    "pcm8_odd" -> "80e03ae500df09f1d37abd475d19c43d",
    "pcm8_even" -> "208099cdc1d115e19969f7173ccd0e5a",
    "pcm16_odd" -> "aa1afed6413e3af673eb6447bd747441",
    "pcm16_even" -> "fee089ac173cf51f5484170e0eb2bd70",
    "pcm24_odd" -> "d698b8ed47f7a85ddd4496fc2c4a7162",
    "pcm24_even" -> "b27e4cd9ed603c1e779f8a4ee043a7aa",
    "avi_dib" -> "abed8a99930413efa84e440ca7e2dd58",
    "avi_mjpg" -> "fb806e6969da59c957a64aa1197b0118",
    "webp_vp8" -> "3c3d01eca558565ebe5b4bd9f0dea47d",
    "webp_vp8l" -> "b72e091aa240d2a2ada721ce27bfad38")

  private def ints(a: Array[Int]): String = a.mkString(",")

  /** Every hand-rolled RIFF decoder, its result rendered by value
    * (arrays by content). */
  private val decoders: Seq[(String, Array[Byte] => String)] = Seq(
    "ulaw" -> (p => G711.decodeUlawWav(p).toString),
    "ulawPcm" -> (p => G711.decodeUlawPcm(p)
      .map { case (s, r, c) => s"${ints(s)}|$r|$c" }.toString),
    "alaw" -> (p => G711.decodeAlawWav(p).toString),
    "ima" -> (p => ImaAdpcm.decode(p).map(d =>
      s"${d.nFrames}|${d.sampleRate}|${d.sumSq}|${ints(d.pcm)}").toString),
    "ms" -> (p => MsAdpcm.decode(p).map(d =>
      s"${d.nFrames}|${d.sampleRate}|${d.sumSq}|${ints(d.pcm)}").toString),
    "pcm" -> (p => Multimodal.decodePcmWav(p).toString),
    "avi" -> (p => Avi.parse(p).map { case (m, fs) =>
      s"$m|${fs.map(md5).mkString(",")}" }.toString),
    "webp" -> (p => Multimodal.parseWebp(p).toString))

  /** The 16-bit PCM decoders of the media router and the VAD windows. */
  private val wavDecoders: Seq[(String, Array[Byte] => String)] = Seq(
    "wav" -> (p => Multimodal.decodeWav(p).toString),
    "wavWindows" -> (p => Multimodal.decodeWavWindows(p, 7).toString))

  /** md5 of [[wavDecoders]]' rendered results over the corruption corpus
    * of each 16-bit payload, recorded when both moved from the JDK's
    * reader to the engine's one PCM WAV reader. */
  private val wavCorpusMd5 = Map(
    "pcm16_odd" -> "30a3dcb27b1cb5209353cd44d36a013b",
    "pcm16_even" -> "6d60b487c0dd9178a5ab52f4ccc8ea4a",
    "wav_pos" -> "ede881ec0a4c3836d278aa5b7d20d79d",
    "wav_neg" -> "998e5a58f1037be84cd807d9077eba3a",
    "wav_zero" -> "9faa67b315ca90e83a30148bd31af183",
    "wavSeg_3" -> "b42946266126a221c512c46e00fba08c",
    "wavSeg_13" -> "ea7b3156eae6b5c2cd182dab292b4dd3",
    "transcode_21" -> "56e5e52d86bc3780a6bc58aeadfbd7db",
    "transcode_3" -> "63e65c3df09a8f58e80bd52a01a09279")

  /** The JDK's WAV reader: (frames, rate, channels, 16-bit samples in
    * file order); None when it rejects the payload or reads another
    * sample size. */
  private def jdkPcm16(p: Array[Byte])
      : Option[(Long, Int, Int, Array[Int])] = {
    val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(p))
    catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => return None
      case _: java.io.IOException => return None
    }
    try {
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16) return None
      val bb = java.nio.ByteBuffer.wrap(in.readAllBytes()).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val s = Array.fill(bb.remaining / 2)(bb.getShort.toInt)
      Some((s.length.toLong / fmt.getChannels, fmt.getSampleRate.toInt,
        fmt.getChannels, s))
    } finally in.close()
  }

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  private def putLe32(b: Array[Byte], i: Int, v: Long): Array[Byte] = {
    val c = b.clone()
    for (k <- 0 until 4) c(i + k) = ((v >> (8 * k)) & 0xff).toByte
    c
  }

  /** Header offset, enclosing end and nesting depth of every chunk of a
    * well-formed payload, LIST children included. */
  private def headers(p: Array[Byte]): Seq[(Int, Int, Int)] = {
    def go(from: Int, until: Int, depth: Int): Seq[(Int, Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int, Int)]
      var pos = from
      while (pos + 8 <= until) {
        val sz = le32(p, pos + 4).toInt
        out += ((pos, until, depth))
        if (new String(p, pos, 4, "ISO-8859-1") == "LIST")
          out ++= go(pos + 12, pos + 8 + sz, depth + 1)
        pos += 8 + sz + (sz & 1)
      }
      out.result()
    }
    go(12, p.length, 0)
  }

  /** Top-level chunks of a well-formed payload as (id, body). */
  private def topChunks(p: Array[Byte]): Seq[(String, Array[Byte])] =
    headers(p).filter(_._3 == 0).map { case (pos, _, _) =>
      val sz = le32(p, pos + 4).toInt
      new String(p, pos, 4, "ISO-8859-1") -> p.slice(pos + 8, pos + 8 + sz)
    }

  private def bytes(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  /** A RIFF envelope around `chunks`, each padded to even unless
    * `unpaddedLast`; the declared size is the body length. */
  private def envelope(form: Array[Byte], chunks: Seq[(String, Array[Byte])],
      unpaddedLast: Boolean = false): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    body.write(form)
    chunks.zipWithIndex.foreach { case ((id, b), i) =>
      body.write(bytes(id))
      body.write(putLe32(new Array[Byte](4), 0, b.length.toLong))
      body.write(b)
      if ((b.length & 1) == 1 && !(unpaddedLast && i == chunks.length - 1))
        body.write(0)
    }
    val b = body.toByteArray
    bytes("RIFF") ++ putLe32(new Array[Byte](4), 0, b.length.toLong) ++ b
  }

  /** The corruption corpus of one clean payload, in a fixed order. */
  private def corpus(p: Array[Byte]): Seq[(String, Array[Byte])] = {
    val cuts = (0 until p.length).map(k => s"cut$k" -> p.take(k))
    val sizes = headers(p).flatMap { case (pos, end, _) =>
      Seq(
        s"size$pos+container" -> putLe32(p, pos + 4, end - pos - 8 + 1L),
        s"size$pos+file" -> putLe32(p, pos + 4, p.length - pos - 8 + 1L),
        s"size$pos+max" -> putLe32(p, pos + 4, 0xffffffffL))
    } ++ Seq(
      "riffSize-1" -> putLe32(p, 4, le32(p, 4) - 1),
      "riffSize+1" -> putLe32(p, 4, le32(p, 4) + 1))
    val form = p.slice(8, 12)
    val cs = topChunks(p)
    val (data, rest) = cs.partition(_._1 == "data")
    val fact = "fact" -> putLe32(new Array[Byte](4), 0, 1000L)
    val junk3 = "JUNK" -> Array[Byte](1, 2, 3)
    val layouts = Seq(
      "dataFirst" -> envelope(form, data ++ rest),
      "factAfterData" -> envelope(form,
        rest.filter(_._1 != "fact") ++ data ++ cs.filter(_._1 == "fact")),
      "extraFactAfterData" -> envelope(form, cs :+ fact),
      "twoData" -> envelope(form, cs ++ data),
      "dataTwiceSplit" -> envelope(form, rest ++ data.flatMap { case (id, b) =>
        val h = (b.length / 2) & ~1
        Seq(id -> b.take(h), id -> b.drop(h))
      }),
      "oddJunkInside" -> envelope(form, junk3 +: cs),
      "oddJunkPadCut" -> envelope(form, cs :+ junk3, unpaddedLast = true),
      "shortList" -> envelope(form, cs :+ ("LIST" -> Array[Byte](1, 2))),
      "emptyList" -> envelope(form, ("LIST" -> bytes("INFO")) +: cs),
      "rewritten" -> envelope(form, cs)) ++
      (1 to 7).map(k => s"trail$k" -> (p ++ bytes("data1234").take(k)))
    Seq("clean" -> p) ++ cuts ++ sizes ++ layouts
  }

  private def render(p: Array[Byte],
      ds: Seq[(String, Array[Byte] => String)]): String =
    corpus(p).map { case (label, c) =>
      label + ":" + ds.map { case (d, f) => s"$d=${f(c)}" }.mkString(";")
    }.mkString("\n")

  private val pcm16 = payloads.filter(_._1.startsWith("pcm16"))

  for ((name, p) <- payloads ++ wavWriters)
    test(s"$name: writer output is byte-identical") {
      assert(md5(p) == writerMd5(name), s"$name writer md5")
    }

  for ((name, p) <- payloads)
    test(s"$name: decoders' corpus results are unchanged") {
      assert(md5(render(p, decoders)) == corpusMd5(name), s"$name corpus md5")
    }

  for ((name, p) <- pcm16 ++ wavWriters)
    test(s"$name: 16-bit WAV decoders' corpus results are pinned") {
      assert(md5(render(p, wavDecoders)) == wavCorpusMd5(name),
        s"$name wav corpus md5")
    }

  test("a truncated payload decodes to the clean result or to None") {
    for ((name, p) <- payloads ++ wavWriters;
        (d, f) <- decoders ++ wavDecoders) {
      val clean = f(p)
      for (k <- 0 until p.length) {
        val r = f(p.take(k))
        assert(r == clean || r == "None", s"$name cut at $k by $d: $r")
      }
    }
  }

  test("every clean payload decodes through its own decoder") {
    val own = Map("ulaw" -> "ulaw", "alaw" -> "alaw", "ima" -> "ima",
      "ms" -> "ms", "pcm" -> "pcm", "avi" -> "avi", "webp" -> "webp")
    for ((name, p) <- payloads) {
      val d = own(name.takeWhile(_.isLetter))
      assert(decoders.toMap.apply(d)(p) != "None", s"$name by $d")
    }
  }

  test("every clean 16-bit payload the engine writes decodes as the " +
      "JDK reads it") {
    def sq(s: Array[Int]): Long = s.map(v => v.toLong * v).sum
    for ((name, p) <- pcm16 ++ wavWriters) {
      val Some((frames, rate, ch, s)) = jdkPcm16(p)
      assert(Multimodal.decodeWav(p) == Some((frames, rate, ch, sq(s))),
        name)
      for (w <- Seq(7, 160)) {
        val wins = s.grouped(w * ch).zipWithIndex
          .map { case (g, i) => (i, sq(g)) }.toSeq
        assert(Multimodal.decodeWavWindows(p, w) == Some(wins), s"$name/$w")
      }
    }
  }
}
