package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder brief): image/audio/video travel as
  * opaque `BINARY` payloads with typed metadata; decode / feature-extract /
  * resize / frame-sample run per partition over iterator batches — the
  * Scala analog of a vectorized (Arrow-batched) UDF, and the reference's
  * block apply (`seqBlockApply`, /root/reference/R/Methods.R:690-769).
  *
  * IMAGES decode for real: [[decode]] sniffs the payload magic and runs
  * PNG/JPEG/GIF/BMP through `javax.imageio` (JDK-only — no external
  * codec libraries exist in this container) for true width/height and
  * mean-luminance brightness. AUDIO decodes for real twice over: WAV/PCM
  * through the [[Riff]] chunk walk (waveform RMS), and compressed MPEG
  * audio (MP3 family) through [[parseMp3]] — a pure-JVM frame-header
  * walk yielding true frame count / sample rate / channels / duration /
  * mean bitrate (payload-bit decode would need a codec the JDK lacks).
  * VIDEO stays on the deterministic stub — its contract is PINNED in
  * `MultimodalSpec` ("video stub contract…"): every derived value is a
  * documented pure function of the payload bytes, so stub output can
  * never silently be mistaken for a real decode, and tests plus the
  * DuckDB oracles in [[graft.queries.MultimodalQ]] verify the full
  * pipeline shape with exact expected values. Swapping the stub for a
  * real codec changes no plumbing.
  */
object Multimodal {

  // ImageIO's default scratch cache writes temp FILES per decode — pure
  // overhead for in-memory byte-array payloads on an executor hot path.
  javax.imageio.ImageIO.setUseCache(false)

  /** One media row: payload + envelope metadata. */
  final case class MediaRow(doc_id: Long, media_type: String,
      payload: Array[Byte])

  /** Decoded/feature-extracted record (fake codec output). */
  final case class MediaFeature(doc_id: Long, media_type: String,
      n_bytes: Int, width: Int, height: Int, n_frames: Int,
      brightness: Double)

  /** The deterministic stand-in for a real decoder: "dimensions" from the
    * byte length, "brightness" = mean byte value. A real implementation
    * would decode `payload` here — signature and batch shape unchanged. */
  def decodeStub(r: MediaRow): MediaFeature = {
    val n = r.payload.length
    var s = 0L
    var i = 0
    while (i < n) { s += r.payload(i) & 0xff; i += 1 }
    MediaFeature(r.doc_id, r.media_type, n,
      width = n % 640 + 16, height = (n * 7) % 480 + 16,
      n_frames = n % 8 + 1,
      brightness = if (n > 0) s.toDouble / n else 0.0)
  }

  /** True image decode via `javax.imageio`: (width, height, brightness)
    * where brightness = mean over pixels of (R+G+B)/3 on the 0–255 scale
    * (one exact integer sum, one IEEE division — for a solid-gray image
    * the result is the fill value exactly, which is what lets a SQL
    * oracle replay it). None when the payload is not a decodable image —
    * the magic sniff keeps arbitrary non-image bytes away from the
    * ImageIO reader plugins entirely. */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Double)] = {
    if (payload == null || payload.length < 12) return None
    def b(i: Int): Int = payload(i) & 0xff
    val isPng = b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'
    val isJpg = b(0) == 0xff && b(1) == 0xd8 && b(2) == 0xff
    val isGif = b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'
    val isBmp = b(0) == 'B' && b(1) == 'M'
    // TIFF: little-endian "II*\0" or big-endian "MM\0*" (the JDK ships
    // a TIFF plugin since 9; round-10 legacy-image lane)
    val isTif = (b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
      (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42)
    if (!(isPng || isJpg || isGif || isBmp || isTif)) return None
    // NonFatal, not just IOException: the JDK ImageIO plugins throw
    // unchecked exceptions (IndexOutOfBounds/NegativeArraySize/...) on
    // corrupt headers that pass the magic sniff — one bad payload must
    // fall back to the stub, never kill the import task
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var s = 0L
      var i = 0
      while (i < px.length) {
        val p = px(i)
        s += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        i += 1
      }
      Some((w, h, s.toDouble / (3.0 * w * h)))
    }
  }

  /** The per-row codec: real ImageIO decode for image payloads (a decoded
    * still contributes one frame), real WAV decode for audio payloads
    * (width/height carry sample-rate/channels; brightness carries RMS),
    * real pure-JVM FLAC decode for compressed-lossless audio
    * ([[Flac.decode]] — same feature mapping as WAV), REAL MPEG-1
    * Layer I AND Layer II subband decode for lossy audio
    * ([[MpegAudio.decodeMp1]]/[[MpegAudio.decodeMp2]]; brightness
    * carries spectral RMS), the MP3 frame-header walk for Layer III
    * (metadata only), deterministic stub for everything else (Layer
    * III waveforms and video codecs need Huffman tables / codecs not
    * available in the JDK). */
  def decode(r: MediaRow): MediaFeature = r.media_type match {
    case "image" =>
      decodeImage(r.payload) match {
        case Some((w, h, bright)) =>
          MediaFeature(r.doc_id, r.media_type, r.payload.length,
            width = w, height = h, n_frames = 1, brightness = bright)
        case None => decodeStub(r)
      }
    case "audio" =>
      decodeWav(r.payload) match {
        case Some((frames, rate, ch, sumSq)) =>
          MediaFeature(r.doc_id, r.media_type, r.payload.length,
            width = rate, height = ch,
            n_frames = math.min(frames, Int.MaxValue.toLong).toInt,
            brightness =
              if (frames == 0) 0.0
              else math.sqrt(sumSq.toDouble / (frames.toDouble * ch)))
        case None => Flac.decode(r.payload) match {
          // compressed-LOSSLESS lane: genuinely decoded PCM, the same
          // feature mapping as WAV
          case Some(d) =>
            MediaFeature(r.doc_id, r.media_type, r.payload.length,
              width = d.sampleRate, height = d.channels,
              n_frames =
                math.min(d.totalSamples, Int.MaxValue.toLong).toInt,
              brightness =
                if (d.totalSamples == 0) 0.0
                else math.sqrt(d.sumSq.toDouble /
                  (d.totalSamples.toDouble * d.channels)))
          case None => MpegAudio.decodeMp1(r.payload) match {
            // compressed-LOSSY lane, REALLY decoded (MPEG-1 Layer I):
            // brightness carries the subband-domain RMS of the
            // dequantized spectral samples — genuine signal energy,
            // not a header statistic (PCM resynthesis needs the
            // Table 3-B.3 window; see MpegAudio's scaladoc)
            case Some(d) =>
              MediaFeature(r.doc_id, r.media_type, r.payload.length,
                width = d.sampleRate, height = d.channels,
                n_frames = math.min(d.frames.size.toLong * 384,
                  Int.MaxValue.toLong).toInt,
                brightness = MpegAudio.subbandRms(d.frames.map(_.samples)))
            case None => MpegAudio.decodeMp2(r.payload) match {
              // Layer II, REALLY decoded too (allocation classes +
              // scfsi + grouped codewords; 3-B.4 via its closed form)
              case Some(d) =>
                MediaFeature(r.doc_id, r.media_type, r.payload.length,
                  width = d.sampleRate, height = d.channels,
                  n_frames = math.min(d.frames.size.toLong * 1152,
                    Int.MaxValue.toLong).toInt,
                  brightness =
                    MpegAudio.subbandRms(d.frames.map(_.samples)))
              case None => parseMp3(r.payload) match {
                // Layer III: real header metadata, no waveform —
                // brightness carries the mean bitrate (kbps), the only
                // energy-like scalar a header walk can produce (Layer
                // III payload decode needs the Huffman tables,
                // unavailable offline)
                case Some(m) =>
                  MediaFeature(r.doc_id, r.media_type, r.payload.length,
                    width = m.sample_rate, height = m.channels,
                    n_frames =
                      math.min(m.n_frames, Int.MaxValue.toLong).toInt,
                    brightness = m.kbps_mean)
                case None => decodeStub(r)
              }
            }
          }
        }
      }
    case _ => decodeStub(r)
  }

  /** Decoded WAV record for the typed audio path. `sum_sq` is the exact
    * integer Σ sample² (what a SQL oracle replays); `rms` is the derived
    * root-mean-square. */
  final case class AudioFeature(doc_id: Long, n_frames: Long,
      sample_rate: Int, channels: Int, sum_sq: Long, rms: Double)

  /** Partition-batched REAL audio decode: 16-bit PCM WAV payloads
    * through [[decodeWav]]; rows whose payload is not one are dropped
    * (the caller filters media_type upstream). */
  def decodeAudioAll(media: Dataset[MediaRow]): Dataset[AudioFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeWav(r.payload).map { case (frames, rate, ch, sumSq) =>
        AudioFeature(r.doc_id, frames, rate, ch, sumSq,
          if (frames == 0) 0.0
          else math.sqrt(sumSq.toDouble / (frames.toDouble * ch)))
      }
    })
  }

  /** Real-audio table: one synthetic constant-fill PCM WAV per document,
    * frame count / rate / fill derived from `doc_id` so the decoded
    * values replay in SQL. */
  def syntheticWavTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "audio", syntheticWav(
          nFrames = (id % 400 + 100).toInt,
          sampleRateHz = (8000 + (id % 3) * 4000).toInt,
          value = (id * 31 % 2048 - 1024).toShort))
      })
  }

  /** MIXED-codec bucket: one payload per document, format by doc_id%5
    * — PCM WAV / FLAC / MPEG-1 Layer I / Layer II / Layer III — so ONE
    * [[decodeAll]] pass exercises the whole audio router (real decode
    * through the first four lanes, header walk on the fifth) with
    * every metadata field a closed form of doc_id. */
  def syntheticMixedAudioTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val payload = (id % 5) match {
          case 0 => syntheticWav(
            nFrames = (id % 400 + 100).toInt,
            sampleRateHz = (8000 + (id % 3) * 4000).toInt,
            value = (id * 31 % 2048 - 1024).toShort)
          case 1 =>
            val n = (id % 300 + 200).toInt
            Flac.encode(Flac.fixtureWaveform(id, n),
              sampleRateHz = (8000 + (id % 3) * 4000).toInt,
              blockSize = 128)
          case 2 => MpegAudio.syntheticMp1(id, (id % 8 + 3).toInt)
          case 3 => MpegAudio.syntheticMp2(id, (id % 6 + 2).toInt)
          case _ => syntheticMp3((id % 7 + 2).toInt, 2, 9)
        }
        MediaRow(id, "audio", payload)
      })
  }

  /** Real image RESIZE via JDK Graphics2D (bilinear): decode, scale to
    * `(outW, outH)`, re-encode as PNG. Returns None for non-image
    * payloads (same magic sniff as [[decodeImage]]). The resize verb of
    * the multimodal brief, dependency-free: a solid-fill image resizes
    * to the same fill, so the downstream decode is still exactly
    * oracle-replayable. */
  def resizeImage(payload: Array[Byte], outW: Int, outH: Int)
      : Option[Array[Byte]] = {
    require(outW > 0 && outH > 0, "resize dimensions must be positive")
    // ONE decode: the magic sniff rejects non-images cheaply and the
    // null check covers undecodable ones — a validity pre-decode would
    // double the per-row cost and scan every pixel for nothing
    if (payload == null || payload.length < 12) return None
    def b(i: Int): Int = payload(i) & 0xff
    val sniffed =
      (b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b(0) == 0xff && b(1) == 0xd8 && b(2) == 0xff) ||
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
      (b(0) == 'B' && b(1) == 'M')
    if (!sniffed) return None
    val src =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (src == null) return None
    val dst = new java.awt.image.BufferedImage(outW, outH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, outW, outH, null)
    } finally g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(dst, "png", out)
    Some(out.toByteArray)
  }

  /** 16-bit PCM WAV decode through [[pcmWav]]: (n_frames,
    * sample_rate_hz, channels, sum of squared sample values). The
    * integer sum-of-squares travels instead of an RMS double so a SQL
    * oracle replays it EXACTLY; rms = sqrt(sum_sq / (frames·channels)) is
    * one derived division away. None when the payload is not a whole
    * 16-bit PCM WAV (compressed and other-depth payloads fall through the
    * media router to their own lanes). */
  def decodeWav(payload: Array[Byte]): Option[(Long, Int, Int, Long)] =
    pcmWav(payload).filter(_.bits == 16).map(w =>
      (w.frames, w.rate, w.channels, sumSq(w.samples)))

  /** Deterministic 16-bit PCM mono WAV with every sample at `value` —
    * the fixture generator for the real audio path (constant fill makes
    * sum-of-squares = n·value², knowable in advance). */
  def syntheticWav(nFrames: Int, sampleRateHz: Int, value: Short)
      : Array[Byte] =
    monoPcmWav(nFrames, sampleRateHz, 16)(_ => value)

  /** Per-WINDOW integer energy from a 16-bit PCM WAV decode: window w =
    * frames [w·windowFrames, (w+1)·windowFrames), value = Σ s² over
    * every sample (all channels) in the window — the exact-integer
    * feature a VAD/segmentation pass thresholds. A trailing partial
    * window is emitted with the frames it has. None exactly when
    * [[decodeWav]] is None. */
  def decodeWavWindows(payload: Array[Byte], windowFrames: Int)
      : Option[Seq[(Int, Long)]] =
    pcmWav(payload).filter(_.bits == 16).map(w =>
      windowEnergy(w.samples, w.channels, windowFrames)
        .map { case (win, _, e) => (win, e) })

  /** Deterministic segmented-speech WAV fixture: `nWins` windows of
    * 160 mono frames; window w is "speech" iff (w + docId) mod 4 < 2,
    * filled with the constant sample (docId mod 7 + 1)·800 (so its
    * energy is exactly 160·v²), silence windows are all-zero. */
  def syntheticWavSeg(docId: Long, nWins: Int): Array[Byte] = {
    val v = ((docId % 7 + 1) * 800).toInt
    monoPcmWav(nWins * 160, 16000, 16)(i =>
      if ((i / 160 + docId) % 4 < 2) v else 0)
  }

  /** Typed per-window energy record. */
  final case class WavWindowRow(doc_id: Long, win: Int, sum_sq: Long)

  /** Speech-pattern audio fixture table: nWins = id%12+6. */
  def syntheticWavSegTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "audio", syntheticWavSeg(id, (id % 12 + 6).toInt))
      })
  }

  /** Partition-batched per-window energy extraction (160-frame
    * windows — 10 ms at 16 kHz, the standard VAD frame). */
  def decodeWavWindowsAll(media: Dataset[MediaRow])
      : Dataset[WavWindowRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeWavWindows(r.payload, 160).toSeq.flatten
        .map { case (w, e) => WavWindowRow(r.doc_id, w, e) }
    })
  }

  /** Real-FLAC table: one compressed (FIXED-order-2 + Rice) stream per
    * document over the deterministic triangle waveform
    * ([[Flac.fixtureSample]]); frame count and rate are formulas of
    * `doc_id` so a SQL oracle replays the decoded PCM energy exactly —
    * the lossless-codec twin of [[syntheticWavTable]]. */
  def syntheticFlacTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (id % 300 + 200).toInt
        MediaRow(id, "audio",
          Flac.encode(Flac.fixtureWaveform(id, n),
            sampleRateHz = (8000 + (id % 3) * 4000).toInt,
            blockSize = 128))
      })
  }

  /** Stereo twin of [[syntheticFlacTable]]: interleaved L/R triangle
    * pair, frames rotating through independent / left-side / mid-side
    * channel assignments — every decode exercises all three stereo
    * reconstruction paths against the closed-form oracle. */
  def syntheticFlacStereoTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (id % 250 + 150).toInt
        MediaRow(id, "audio",
          Flac.encode(Flac.fixtureWaveformStereo(id, n),
            sampleRateHz = 16000, blockSize = 64, channels = 2))
      })
  }

  /** Partition-batched REAL FLAC decode — the [[decodeAudioAll]]
    * contract over the compressed path: non-FLAC / corrupt payloads
    * drop (reject-don't-guess). `n_bytes` is the compressed payload
    * size, so the compression ratio is queryable downstream. */
  final case class FlacFeature(doc_id: Long, n_frames: Long,
      sample_rate: Int, channels: Int, sum_sq: Long, rms: Double,
      n_bytes: Int)
  def decodeFlacAll(media: Dataset[MediaRow]): Dataset[FlacFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      Flac.decode(r.payload).map { d =>
        FlacFeature(r.doc_id, d.totalSamples, d.sampleRate, d.channels,
          d.sumSq,
          if (d.totalSamples == 0) 0.0
          else math.sqrt(d.sumSq.toDouble /
            (d.totalSamples.toDouble * d.channels)),
          r.payload.length)
      }
    })
  }

  /** Per-window energy over DECODED FLAC PCM — the VAD windowing verb
    * on the compressed lane ([[decodeWavWindows]]'s contract; the last
    * partial window keeps its frames). */
  final case class FlacWindowRow(doc_id: Long, win: Int, n_frames: Int,
      sum_sq: Long)
  def decodeFlacWindowsAll(media: Dataset[MediaRow],
      windowFrames: Int = 160): Dataset[FlacWindowRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      Flac.decode(r.payload).toSeq.flatMap { d =>
        windowEnergy(d.pcm, d.channels, windowFrames).map {
          case (w, n, e) => FlacWindowRow(r.doc_id, w, n, e)
        }
      }
    })
  }

  /** Σs² per window of `windowFrames` frames over channel-interleaved
    * `pcm`: (window, frames, Σs²) in order, a trailing partial window
    * keeping the frames it has. */
  private def windowEnergy(pcm: Array[Int], channels: Int,
      windowFrames: Int): Seq[(Int, Int, Long)] =
    pcm.grouped(windowFrames * channels).zipWithIndex.map { case (w, i) =>
      (i, w.length / channels, sumSq(w))
    }.toSeq

  /** REAL transcode: FLAC → RIFF/PCM WAV bytes (decode through
    * [[Flac.decode]], re-encode through [[monoPcmWav]]) — the
    * decode→re-encode verb of a media pipeline. None when the payload
    * is not valid mono FLAC. */
  def transcodeFlacToWav(payload: Array[Byte]): Option[Array[Byte]] =
    Flac.decode(payload).filter(_.channels == 1).map(d =>
      monoPcmWav(d.pcm.length, d.sampleRate, 16)(d.pcm))

  // ---- G.711 µ-law + AVI lanes (round 9): REAL lossy-audio expansion
  // and REAL video-frame pixels — see [[G711]] and [[Avi]] -------------

  final case class UlawFeature(doc_id: Long, n_frames: Long,
      sample_rate: Int, sum_sq: Long, rms: Double)

  /** Real-µ-law table: one RIFF/WAVE format-7 stream per document,
    * byte stream a closed form of (doc_id, i). */
  def syntheticUlawTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "audio",
          G711.syntheticUlawWav(id, (id % 350 + 150).toInt, 8000))
      })
  }

  /** Partition-batched REAL µ-law decode (non-µ-law payloads drop). */
  def decodeUlawAll(media: Dataset[MediaRow]): Dataset[UlawFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      G711.decodeUlawWav(r.payload).map { u =>
        UlawFeature(r.doc_id, u.nFrames, u.sampleRate, u.sumSq,
          if (u.nFrames == 0) 0.0
          else math.sqrt(u.sumSq.toDouble /
            (u.nFrames.toDouble * u.channels)))
      }
    })
  }

  /** Real-A-law table: RIFF/WAVE format-6 streams, byte stream a
    * closed form of (doc_id, i) — the µ-law twin (tag 6 vs 7). */
  def syntheticAlawTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "audio",
          G711.syntheticAlawWav(id, (id % 330 + 140).toInt, 8000))
      })
  }

  /** Partition-batched REAL A-law decode (non-A-law payloads drop). */
  def decodeAlawAll(media: Dataset[MediaRow]): Dataset[UlawFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      G711.decodeAlawWav(r.payload).map { u =>
        UlawFeature(r.doc_id, u.nFrames, u.sampleRate, u.sumSq,
          if (u.nFrames == 0) 0.0
          else math.sqrt(u.sumSq.toDouble /
            (u.nFrames.toDouble * u.channels)))
      }
    })
  }

  final case class LegacyImageRow(doc_id: Long, fmt: String, width: Int,
      height: Int, brightness: Double)

  /** Solid-fill gray image encoded by the NAMED ImageIO writer (gif /
    * tiff / bmp / png) — lossless formats round-trip the exact fill. */
  def solidImageBytes(w: Int, h: Int, v: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(v, v, v))
    g.fillRect(0, 0, w, h)
    g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  /** Legacy-image table: GIF / TIFF / BMP by doc_id mod 3 — the
    * formats a scraped corpus actually carries next to PNG/JPEG. */
  def syntheticLegacyImageTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val fmt = (id % 3) match {
          case 0 => "gif"
          case 1 => "tiff"
          case _ => "bmp"
        }
        val w = ((id % 5) * 8 + 16).toInt
        val h = ((id % 4) * 8 + 12).toInt
        val v = ((id * 29) % 256).toInt
        MediaRow(id, "image", solidImageBytes(w, h, v, fmt))
      })
  }

  /** Partition-batched REAL legacy-image decode through the extended
    * ImageIO sniff (GIF/TIFF/BMP all lossless ⇒ exact brightness). */
  def decodeLegacyImagesAll(media: Dataset[MediaRow])
      : Dataset[LegacyImageRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeImage(r.payload).map { case (w, h, bright) =>
        val fmt = (r.doc_id % 3) match {
          case 0 => "gif"
          case 1 => "tiff"
          case _ => "bmp"
        }
        LegacyImageRow(r.doc_id, fmt, w, h, bright)
      }
    })
  }

  final case class GzipRow(doc_id: Long, n_members: Int, orig_len: Long,
      text_md5: String)

  /** Gzip round-trip census over the documents table: each text is
    * compressed as a REAL (multi-member, doc_id-dependent) gzip stream
    * and decoded back through [[Gzip.decode]]'s verified member walk —
    * the ".gz corpus shard" ingestion path. Emits the inflated byte
    * count and md5 (both SQL-replayable from `text`); a decode
    * defect would hash-mismatch the oracle. Partition-local. */
  def gzipRoundTripCensus(spark: SparkSession, dir: String)
      : Dataset[GzipRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val payload =
          if (id % 3 == 0) Gzip.gzipConcat(Seq(bytes))
          else Gzip.gzipConcat(
            Seq(bytes.take(bytes.length / 2), bytes.drop(bytes.length / 2)))
        Gzip.decode(payload).map { st =>
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(st.data).map("%02x".format(_)).mkString
          GzipRow(id, st.nMembers, st.totalBytes, md5)
        }
      })
  }

  final case class ArchiveRow(doc_id: Long, n_members: Int,
      txt_len: Long, meta_len: Long, txt_md5: String)

  /** TAR / ZIP shard round-trip census: each document becomes a real
    * two-member archive (`doc.txt` = the text, `meta.json` a doc_id
    * formula) written by the corresponding REAL writer and read back
    * through the verified walk ([[Archives.tarRead]] checksum-gated /
    * [[Archives.zipRead]] central-directory + CRC32-gated). Emitted
    * lengths and md5 replay from `text`. Partition-local. */
  def archiveRoundTripCensus(spark: SparkSession, dir: String,
      zip: Boolean): Dataset[ArchiveRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val members = Seq(
          "doc.txt" -> text.getBytes("UTF-8"),
          "meta.json" -> s"""{"id":$id}""".getBytes("UTF-8"))
        val payload =
          if (zip) Archives.zipWrite(members) else Archives.tarWrite(members)
        val read =
          if (zip) Archives.zipRead(payload) else Archives.tarRead(payload)
        read.map { ms =>
          val byName = ms.toMap
          val txt = byName("doc.txt")
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(txt).map("%02x".format(_)).mkString
          ArchiveRow(id, ms.size, txt.length.toLong,
            byName("meta.json").length.toLong, md5)
        }
      })
  }

  /** `.tgz` census — the two verified walks COMPOSED: gzip member
    * walk ([[Gzip.decode]], CRC32/ISIZE-gated) feeding the ustar walk
    * ([[Archives.tarRead]], checksum-gated). A defect in either layer
    * rejects the shard. */
  def tgzRoundTripCensus(spark: SparkSession, dir: String)
      : Dataset[ArchiveRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val members = Seq(
          "doc.txt" -> text.getBytes("UTF-8"),
          "meta.json" -> s"""{"id":$id}""".getBytes("UTF-8"))
        val payload = Gzip.gzipMember(Archives.tarWrite(members))
        for {
          gz <- Gzip.decode(payload)
          ms <- Archives.tarRead(gz.data)
        } yield {
          val byName = ms.toMap
          val txt = byName("doc.txt")
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(txt).map("%02x".format(_)).mkString
          ArchiveRow(id, ms.size, txt.length.toLong,
            byName("meta.json").length.toLong, md5)
        }
      })
  }

  final case class MemberRow(doc_id: Long, name: String, n_bytes: Long,
      member_md5: String)

  /** Sniff-routed verified archive-member walk over BINARY shards —
    * the one ingestion verb a mixed-format corpus bucket needs: gzip
    * magic (1f 8b) routes through the CRC32/ISIZE-verified member walk
    * and then the ustar walk (`.tgz`), `PK` through the zip
    * central-directory + CRC32 path, anything else is probed as
    * checksum-gated ustar. A shard that fails ANY verification layer
    * emits nothing (the corrupt-shard-drops contract); member bytes
    * never leave the partition — only (name, length, md5) rows do.
    * Stateless partition map ⇒ identical under structured streaming
    * (StreamingSpec-gated). */
  def archiveMembersAll(media: Dataset[MediaRow]): Dataset[MemberRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val p = r.payload
      val members: Option[Seq[(String, Array[Byte])]] =
        if (p.length >= 2 && (p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x8b)
          Gzip.decode(p).flatMap(gz => Archives.tarRead(gz.data))
        else if (p.length >= 2 && p(0) == 'P'.toByte && p(1) == 'K'.toByte)
          Archives.zipRead(p)
        else Archives.tarRead(p)
      members.toSeq.flatten.map { case (nm, bytes) =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
        MemberRow(r.doc_id, nm, bytes.length.toLong, md5)
      }
    })
  }

  /** Mixed-format shard table: per document a two-member archive
    * (doc.txt = the text, meta.json a doc_id formula) in the format
    * doc_id % 3 picks — tar / zip / tgz — so ONE [[archiveMembersAll]]
    * pass exercises all three verified walks. */
  def syntheticArchiveShardTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val members = Seq(
          "doc.txt" -> text.getBytes("UTF-8"),
          "meta.json" -> s"""{"id":$id}""".getBytes("UTF-8"))
        val payload = (id % 3) match {
          case 0 => Archives.tarWrite(members)
          case 1 => Archives.zipWrite(members)
          case _ => Gzip.gzipMember(Archives.tarWrite(members))
        }
        MediaRow(id, "archive", payload)
      }
  }

  final case class G711EncRow(doc_id: Long, n: Int, sum_sq_q: Long,
      abs_err: Long)

  /** G.711 ENCODE census — the telephony-export direction: quantize
    * the fixture waveform through [[G711.linearToUlaw]]/
    * [[G711.linearToAlaw]], decode back, and report the exact
    * quantized energy and total quantization error (both BIGINT ⇒
    * SQL-replayable). Partition-local, zero shuffles. */
  def g711EncodeCensus(spark: SparkSession, dir: String, alaw: Boolean)
      : Dataset[G711EncRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (id % 300 + 150).toInt
        val x = Flac.fixtureWaveform(id, n)
        var ssq = 0L
        var err = 0L
        x.foreach { v =>
          val b = if (alaw) G711.linearToAlaw(v) else G711.linearToUlaw(v)
          val xq = if (alaw) G711.alawToLinear(b) else G711.ulawToLinear(b)
          ssq += xq.toLong * xq
          err += math.abs(v.toLong - xq)
        }
        G711EncRow(id, n, ssq, err)
      })
  }

  final case class PcmDepthRow(doc_id: Long, bits: Int, n_frames: Long,
      sample_rate: Int, sum_sq: Long)

  /** Multi-depth PCM WAV decode through [[pcmWav]]: (n_frames,
    * sample_rate_hz, bits, Σs²). Σs² at NATIVE depth stays BIGINT-exact.
    * None on truncation / non-PCM / other depths. */
  def decodePcmWav(payload: Array[Byte])
      : Option[(Long, Int, Int, Long)] =
    pcmWav(payload).map(w => (w.frames, w.rate, w.bits, sumSq(w.samples)))

  /** A format-tag-1 PCM WAV: the last `fmt `'s rate, channels and bits,
    * and the samples of every `data` chunk, channel-interleaved in file
    * order. */
  private final case class PcmWav(rate: Int, channels: Int, bits: Int,
      samples: Array[Int]) {
    def frames: Long = samples.length / channels
  }

  /** The one PCM WAV reader, over the [[Riff]] chunk walk: format tag 1
    * at 8/16/24 bits; 8-bit is UNSIGNED (s = b − 128, the WAV
    * convention), 16/24-bit signed little-endian. None on truncation, a
    * `data` before any `fmt `, a `data` holding a partial frame, another
    * tag or depth, no `data`, or rate 0. */
  private def pcmWav(payload: Array[Byte]): Option[PcmWav] = {
    val cs = Riff.read(payload, "WAVE") match {
      case Some(cs) => cs
      case None => return None
    }
    import Riff.{s16, u16, u32, u8}
    var ok = false
    var rate = 0
    var channels = 0
    var bits = 0
    val samples = Array.newBuilder[Int]
    var sawData = false
    val it = cs.iterator
    while (it.hasNext) {
      val c = it.next()
      c.id match {
        case "fmt " =>
          if (c.size < 16) return None
          channels = u16(payload, c.body + 2)
          rate = u32(payload, c.body + 4).toInt
          bits = u16(payload, c.body + 14)
          ok = u16(payload, c.body) == 1 && channels >= 1 &&
            (bits == 8 || bits == 16 || bits == 24)
        case "data" =>
          if (!ok) return None
          sawData = true
          val bytesPer = bits / 8
          if (c.size % (bytesPer * channels) != 0) return None
          var i = c.body
          while (i < c.end) {
            samples += (bits match {
              case 8 => u8(payload, i) - 128
              case 16 => s16(payload, i)
              case _ => u16(payload, i) | (payload(i + 2) << 16)
            })
            i += bytesPer
          }
        case _ => ()
      }
    }
    if (ok && sawData && rate > 0)
      Some(PcmWav(rate, channels, bits, samples.result()))
    else None
  }

  private def sumSq(s: Array[Int]): Long = {
    var t = 0L
    var i = 0
    while (i < s.length) { t += s(i).toLong * s(i); i += 1 }
    t
  }

  /** The one PCM WAV writer: a mono format-tag-1 WAV of `nFrames`
    * samples at `bits` ∈ {8, 16, 24}, sample i the low `bits` of
    * `sample(i)`, little-endian, behind the canonical 44-byte header
    * (`RIFF`, a 16-byte `fmt `, `data`) — the bytes the JDK's
    * `AudioSystem.write` emits for the same 16-bit PCM. */
  private def monoPcmWav(nFrames: Int, rate: Int, bits: Int)(
      sample: Int => Int): Array[Byte] = {
    val bytesPer = bits / 8
    val data = new Array[Byte](nFrames * bytesPer)
    var i = 0
    while (i < nFrames) {
      val s = sample(i)
      var k = 0
      while (k < bytesPer) {
        data(i * bytesPer + k) = (s >> (8 * k)).toByte
        k += 1
      }
      i += 1
    }
    Riff.write("WAVE", Seq(
      "fmt " -> Riff.waveFmt(1, 1, rate, rate.toLong * bytesPer, bytesPer,
        bits),
      "data" -> data))
  }

  /** Fixture: a mono PCM WAV at `bits` ∈ {8, 16, 24} with closed-form
    * samples (8-bit: (id·7 + i·3) mod 256 unsigned; 16-bit the FLAC
    * fixture triangle; 24-bit (id·131 + i·977) mod 10⁶ − 5·10⁵). */
  def syntheticPcmWav(id: Long, nFrames: Int, bits: Int,
      sampleRateHz: Int): Array[Byte] = {
    require(bits == 8 || bits == 16 || bits == 24, s"bits $bits")
    monoPcmWav(nFrames, sampleRateHz, bits)(i => bits match {
      case 8 => ((id * 7 + i * 3L) % 256).toInt
      case 16 => Flac.fixtureSample(id, i.toLong)
      case _ => ((id * 131 + i * 977L) % 1000000L - 500000L).toInt
    })
  }

  /** Per-document multi-depth PCM table: bits cycle 8/16/24 by
    * doc_id mod 3. */
  def syntheticPcmDepthTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val bits = (id % 3) match {
          case 0 => 8
          case 1 => 16
          case _ => 24
        }
        MediaRow(id, "audio",
          syntheticPcmWav(id, (id % 200 + 100).toInt, bits, 16000))
      })
  }

  /** Partition-batched multi-depth PCM decode. */
  def decodePcmDepthAll(media: Dataset[MediaRow]): Dataset[PcmDepthRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodePcmWav(r.payload).map { case (nf, rate, bits, ssq) =>
        PcmDepthRow(r.doc_id, bits, nf, rate, ssq)
      }
    })
  }

  final case class AudioFpRow(doc_id: Long, n_win: Int, fp: Long)

  /** Acoustic fingerprint over the DECODED µ-law waveform (the audio-
    * dedup primitive — the chromaprint idea reduced to its exact
    * core): window the PCM into `win`-sample frames, take each
    * frame's EXACT energy Σs² (BIGINT), and hash the energy-delta
    * SIGN sequence (bit k = energy[k+1] > energy[k], k < 63) into one
    * BIGINT fingerprint. Integer-exact end to end ⇒ SQL-replayable;
    * robust to global gain in spirit (sign of deltas), deterministic
    * by construction. Partition-local decode, zero shuffles. */
  def ulawFingerprintAll(media: Dataset[MediaRow], win: Int)
      : Dataset[AudioFpRow] = {
    require(win >= 1, s"window $win")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      G711.decodeUlawPcm(r.payload).map { case (pcm, _, _) =>
        val nWin = pcm.length / win // trailing partial window dropped
        val e = new Array[Long](nWin)
        var k = 0
        while (k < nWin) {
          var s = 0L
          var i = k * win
          val end = i + win
          while (i < end) { s += pcm(i).toLong * pcm(i); i += 1 }
          e(k) = s
          k += 1
        }
        var fp = 0L
        var b = 0
        while (b < nWin - 1 && b < 63) {
          if (e(b + 1) > e(b)) fp |= 1L << b
          b += 1
        }
        AudioFpRow(r.doc_id, nWin, fp)
      }
    })
  }

  final case class AdpcmFeature(doc_id: Long, n_frames: Long,
      sample_rate: Int, sum_sq: Long, rms: Double)

  /** MS-ADPCM table: the triangle waveform through the REAL MS
    * sequential quantizer ([[MsAdpcm.encode]], blockAlign 70,
    * coefficient set 3 — both prediction taps live). */
  def syntheticMsAdpcmTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (id % 240 + 130).toInt
        MediaRow(id, "audio", MsAdpcm.encode(
          Flac.fixtureWaveform(id, n), 8000, blockAlign = 70,
          coefIdx = 3))
      })
  }

  /** Partition-batched REAL MS-ADPCM decode (reject-don't-guess). */
  def decodeMsAdpcmAll(media: Dataset[MediaRow]): Dataset[AdpcmFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      MsAdpcm.decode(r.payload).map { a =>
        AdpcmFeature(r.doc_id, a.nFrames, a.sampleRate, a.sumSq,
          if (a.nFrames == 0) 0.0
          else math.sqrt(a.sumSq.toDouble / a.nFrames.toDouble))
      }
    })
  }

  /** IMA-ADPCM table: the triangle waveform through the REAL
    * sequential quantizer ([[ImaAdpcm.encode]], blockAlign 68). */
  def syntheticAdpcmTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (id % 260 + 120).toInt
        MediaRow(id, "audio", ImaAdpcm.encode(
          Flac.fixtureWaveform(id, n), 8000, blockAlign = 68))
      })
  }

  /** Partition-batched REAL IMA-ADPCM decode (reject-don't-guess). */
  def decodeAdpcmAll(media: Dataset[MediaRow]): Dataset[AdpcmFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      ImaAdpcm.decode(r.payload).map { a =>
        AdpcmFeature(r.doc_id, a.nFrames, a.sampleRate, a.sumSq,
          if (a.nFrames == 0) 0.0
          else math.sqrt(a.sumSq.toDouble / a.nFrames.toDouble))
      }
    })
  }

  /** Uncompressed-DIB AVI table: per document, `id%12+4` solid-fill
    * frames whose gray, geometry, and fps are doc_id formulas. */
  def syntheticAviTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = ((id % 6) * 4 + 16).toInt
        val h = ((id % 5) * 4 + 12).toInt
        val nf = (id % 12 + 4).toInt
        val frames = (0 until nf).map(f =>
          Avi.solidDib(w, h, ((id * 37 + f * 11) % 256).toInt))
        MediaRow(id, "video", Avi.write(frames, w, h,
          fpsNum = ((id % 3) + 1).toInt * 10, fpsDen = 1,
          handler = "DIB ", dib = true))
      })
  }

  final case class AviFrameRow(doc_id: Long, frame_idx: Int,
      width: Int, height: Int, fps_num: Int, n_frames: Int,
      brightness: Double)

  /** REAL per-frame pixel decode over DIB AVI payloads — one row per
    * frame with its exact mean brightness; undecodable payloads or
    * geometry-mismatched frames drop. */
  def decodeAviFramesAll(media: Dataset[MediaRow])
      : Dataset[AviFrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      Avi.parse(r.payload).toSeq.flatMap { case (m, frames) =>
        frames.iterator.zipWithIndex.flatMap { case (f, i) =>
          Avi.dibBrightness(f, m.width, m.height).map(b =>
            AviFrameRow(r.doc_id, i, m.width, m.height, m.fpsNum,
              m.nFrames, b))
        }
      }
    })
  }

  /** Motion-JPEG AVI table (real ImageIO-encoded JPEG frames). */
  def syntheticMjpegTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = ((id % 4) * 8 + 16).toInt
        val h = ((id % 3) * 8 + 16).toInt
        val nf = (id % 6 + 2).toInt
        val frames = (0 until nf).map(f =>
          Avi.solidJpeg(w, h, ((id * 53 + f * 17) % 256).toInt))
        MediaRow(id, "video", Avi.write(frames, w, h,
          fpsNum = 24, fpsDen = 1, handler = "MJPG", dib = false))
      })
  }

  final case class MjpegMetaRow(doc_id: Long, n_frames: Int,
      n_decoded: Int, width: Int, height: Int, fps_num: Int)

  /** MJPEG decode census: every frame runs through ImageIO's REAL
    * JPEG decoder; the row carries the container frame count, how
    * many frames actually decoded, and the decoded dimensions of the
    * first frame (JPEG preserves geometry exactly; pixel values are
    * lossy and spec-gated, so the oracle surface here is the exact
    * part). */
  def decodeMjpegAll(media: Dataset[MediaRow]): Dataset[MjpegMetaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      Avi.parse(r.payload).map { case (m, frames) =>
        val decoded = frames.flatMap(Avi.mjpegFrame)
        val (w, h) = decoded.headOption.map(d => (d._1, d._2))
          .getOrElse((0, 0))
        MjpegMetaRow(r.doc_id, m.nFrames, decoded.length, w, h,
          m.fpsNum)
      }
    })
  }

  // --- MPEG-audio (MP3 family) metadata: a real pure-JVM frame-header
  // walk. The JDK has no MP3 payload decoder, but the frame HEADER
  // layout is public (ISO/IEC 11172-3 §2.4.1.3 for MPEG-1, 13818-3 for
  // MPEG-2, plus the de-facto MPEG-2.5 extension): 4 bytes carrying
  // version/layer/bitrate/sample-rate/padding/channel-mode, and a frame
  // length computable from them — so frame count, duration, channel
  // layout, and (VBR-aware) mean bitrate come out of a linear byte walk
  // with no codec. This is the metadata a 100 TB multimodal pipeline
  // actually filters/shards on; waveform features still need a real
  // codec and stay on the documented stub. ---------------------------

  /** Parsed MPEG-audio stream metadata (header walk only — no payload
    * decode): `kbps_mean` averages the per-frame bitrate, so CBR
    * streams report their nominal rate exactly and VBR the true mean;
    * `duration_ms` = frames·samples-per-frame/rate. */
  final case class Mp3Meta(n_frames: Long, sample_rate: Int,
      channels: Int, kbps_mean: Double, duration_ms: Double)

  /** Walk the MPEG-audio frames of `payload` ([[MpegAudio.walk]]): None
    * unless ≥ 2 chained valid frames of one consistent (version, layer,
    * sample-rate, channel-mode) start at byte 0 (after an optional ID3v2
    * tag, which is skipped by its syncsafe length) — chaining each frame
    * to the next by its COMPUTED length makes a false positive on
    * arbitrary bytes vanishingly unlikely, which is what lets [[decode]]
    * probe every audio payload safely. Wherever the walk stops is
    * accepted: at trailing non-frame bytes (e.g. an ID3v1 `TAG` block)
    * or a truncated final frame. Free-format (bitrate index 0) and
    * reserved codes end the walk. */
  def parseMp3(payload: Array[Byte]): Option[Mp3Meta] = {
    if (payload == null || payload.length < 4) return None
    val from = if (hasId3(payload)) 10 + syncsafe(payload, 6) else 0
    val fs = MpegAudio.walk(payload, from).frames
    if (fs.size < 2) None
    else {
      val f = fs.head
      val n = fs.size.toLong
      Some(Mp3Meta(n, f.rate, f.channels,
        fs.map(_.kbps.toLong).sum.toDouble / n,
        n * f.samples * 1000.0 / f.rate))
    }
  }

  /** True when `p` opens with an ID3v2 tag header. */
  private def hasId3(p: Array[Byte]): Boolean =
    p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3'

  /** The 28-bit ID3v2 syncsafe integer at `i`: four 7-bit bytes, high
    * byte first. */
  private def syncsafe(b: Array[Byte], i: Int): Int =
    ((b(i) & 0x7f) << 21) | ((b(i + 1) & 0x7f) << 14) |
      ((b(i + 2) & 0x7f) << 7) | (b(i + 3) & 0x7f)

  private def putSyncsafe(out: java.io.ByteArrayOutputStream, n: Int): Unit =
    Seq(21, 14, 7, 0).foreach(sh => out.write((n >> sh) & 0x7f))

  /** An ID3v2.4 tag header announcing `size` bytes of frames. */
  private def putId3Header(out: java.io.ByteArrayOutputStream,
      size: Int): Unit = {
    out.write('I'); out.write('D'); out.write('3')
    out.write(4); out.write(0); out.write(0)
    putSyncsafe(out, size)
  }

  /** ID3v2 text-frame extraction — the tag metadata (title / artist /
    * album / …) an audio pipeline shards and filters on, parsed from
    * the same public layout [[parseMp3]] skips over: "ID3", version,
    * syncsafe tag length, then frames of (4-byte id, size — syncsafe in
    * v2.4, plain big-endian in ≤v2.3 — 2 flag bytes, payload). Text
    * frames (`T…`) carry an encoding byte then the value; ISO-8859-1
    * (0), UTF-16 with BOM (1), UTF-16BE (2) and UTF-8 (3) all decode.
    * Returns frame-id → text for every text frame, trimmed at the
    * first NUL (multi-value tags keep the first value); empty map when
    * no ID3v2 tag leads the payload. A corrupt frame header ends the
    * walk cleanly — never an exception. */
  def parseId3(payload: Array[Byte]): Map[String, String] = {
    if (payload == null || !hasId3(payload)) return Map.empty
    def b(i: Int): Int = payload(i) & 0xff
    val major = b(3)
    val tagEnd = math.min(payload.length, 10 + syncsafe(payload, 6))
    var off = 10
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var stop = false
    while (!stop && off + 10 <= tagEnd) {
      val id = new String(payload, off, 4, "ISO-8859-1")
      if (!id.forall(c => c.isUpper || c.isDigit)) stop = true
      else {
        val size =
          if (major >= 4) syncsafe(payload, off + 4)
          else (b(off + 4) << 24) | (b(off + 5) << 16) |
            (b(off + 6) << 8) | b(off + 7)
        if (size <= 0 || off + 10 + size > tagEnd) stop = true
        else {
          if (id.startsWith("T") && size >= 1) {
            val enc = b(off + 10)
            val body = java.util.Arrays.copyOfRange(
              payload, off + 11, off + 10 + size)
            val text = enc match {
              case 0 => new String(body, "ISO-8859-1")
              case 1 => new String(body, "UTF-16")
              case 2 => new String(body, "UTF-16BE")
              case 3 => new String(body, "UTF-8")
              case _ => ""
            }
            val cut = text.indexOf('\u0000')
            out(id) = if (cut >= 0) text.substring(0, cut) else text
          }
          off += 10 + size
        }
      }
    }
    out.toMap
  }

  /** Deterministic ID3v2.4 tag with UTF-8 text frames — the fixture
    * generator for [[parseId3]]; returns the complete tag bytes
    * (header + frames, no padding). Prepend to [[syntheticMp3]] audio
    * or use standalone. */
  def syntheticId3(frames: Seq[(String, String)]): Array[Byte] = {
    require(frames.forall(_._1.length == 4), "frame ids are 4 chars")
    val body = new java.io.ByteArrayOutputStream()
    for ((id, text) <- frames) {
      val payload = text.getBytes("UTF-8")
      val size = payload.length + 1
      body.write(id.getBytes("ISO-8859-1"))
      putSyncsafe(body, size)
      body.write(0); body.write(0)
      body.write(3) // UTF-8
      body.write(payload, 0, payload.length)
    }
    val frameBytes = body.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    putId3Header(out, frameBytes.length)
    out.write(frameBytes)
    out.toByteArray
  }

  /** Typed tag-metadata record for the partition-batched path. */
  final case class Id3Feature(doc_id: Long, title: String, artist: String,
      album: String, n_frames_tag: Int)

  /** Partition-batched ID3 tag extraction: the standard TIT2 / TPE1 /
    * TALB text frames plus the total text-frame count; rows with no
    * leading ID3v2 tag are dropped (the caller filters media_type
    * upstream). */
  def decodeId3All(media: Dataset[MediaRow]): Dataset[Id3Feature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val tags = parseId3(r.payload)
      if (tags.isEmpty) None
      else Some(Id3Feature(r.doc_id,
        tags.getOrElse("TIT2", ""), tags.getOrElse("TPE1", ""),
        tags.getOrElse("TALB", ""), tags.size))
    })
  }

  /** Deterministic MPEG-1 Layer III CBR stream: `nFrames` frames at
    * sample-rate index `sri` (44100/48000/32000) and bitrate index
    * `kbpsIdx` (1–14 of the Layer III table), odd frames padded, mono,
    * behind a `tagLen`-byte ID3v2 tag — every header field and the
    * total byte length are knowable in advance (payload bits are a
    * deterministic fill; a header walk never reads them). */
  def syntheticMp3(nFrames: Int, sri: Int, kbpsIdx: Int,
      tagLen: Int = 0): Array[Byte] = {
    require(sri >= 0 && sri < 3 && kbpsIdx >= 1 && kbpsIdx <= 14)
    require(tagLen >= 0 && tagLen < (1 << 21) - 1)
    val out = new java.io.ByteArrayOutputStream()
    if (tagLen > 0) {
      putId3Header(out, tagLen)
      var i = 0
      while (i < tagLen) { out.write(i * 37 & 0xff); i += 1 }
    }
    var f = 0
    while (f < nFrames) {
      val hdr = MpegAudio.header(3, crc = false, kbpsIdx, sri, f % 2,
        mode = 3)
      val len = MpegAudio.frameAt(hdr, 0).get.len
      out.write(hdr)
      var i = 4
      while (i < len) { out.write((f * 131 + i * 17) & 0xff); i += 1 }
      f += 1
    }
    out.toByteArray
  }

  /** Typed MP3-metadata record for the partition-batched path. */
  final case class Mp3Feature(doc_id: Long, n_frames: Long,
      sample_rate: Int, channels: Int, kbps_mean: Double,
      duration_ms: Double, n_bytes: Int)

  /** Partition-batched MP3 metadata extraction: rows whose payload is
    * not a parseable MPEG-audio stream are dropped (the caller filters
    * media_type upstream) — the [[decodeAudioAll]] sibling for the
    * compressed-audio lane. */
  def decodeMp3All(media: Dataset[MediaRow]): Dataset[Mp3Feature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseMp3(r.payload).map(m => Mp3Feature(r.doc_id, m.n_frames,
        m.sample_rate, m.channels, m.kbps_mean, m.duration_ms,
        r.payload.length))
    })
  }

  /** Compressed-audio fixture table: one synthetic MPEG-1 Layer III
    * stream per document, frame count / rate / bitrate / ID3 tag length
    * all formulas of `doc_id` so every parsed value (and the total byte
    * length, padding included) replays in SQL. */
  def syntheticMp3Table(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "audio", syntheticMp3(
          nFrames = (id % 200 + 40).toInt,
          sri = (id % 3).toInt,
          kbpsIdx = (id % 14 + 1).toInt,
          tagLen = (id % 64).toInt))
      })
  }

  /** Tagged compressed-audio fixture table: a real ID3v2.4 tag (title /
    * artist / album formulas of `doc_id`) in front of a real MPEG
    * stream — both walks ([[parseId3]], [[parseMp3]]) replay in SQL. */
  def syntheticTaggedMp3Table(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val tag = syntheticId3(Seq(
          "TIT2" -> s"title_$id",
          "TPE1" -> s"artist_${id % 7}",
          "TALB" -> s"album_${id % 13}"))
        MediaRow(id, "audio",
          tag ++ syntheticMp3((id % 20 + 5).toInt, (id % 3).toInt, 9))
      })
  }

  // ------------------------------------------------------------------
  // ISO base-media (MP4) metadata — the video-container counterpart of
  // the MP3 frame-header walk: a real box parser over the public ISO
  // 14496-12 layout (ftyp/moov/mvhd/trak/tkhd/mdia/mdhd/hdlr), pure
  // JVM, no codec needed — container metadata (duration, timescale,
  // track handlers, pixel dimensions) is what a video corpus shards
  // and filters on long before any frame is decoded.
  // ------------------------------------------------------------------

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)
  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "ISO-8859-1")

  /** Parsed MP4 container metadata. */
  final case class Mp4Meta(durationMs: Double, timescale: Long,
      nTracks: Int, handlers: String, width: Int, height: Int)

  /** Walk the top-level and moov-level boxes of an ISO-BMFF file.
    * Handles 32-bit sizes, 64-bit `largesize` (size == 1) and
    * to-end-of-file (size == 0) boxes, and both version-0 and
    * version-1 mvhd/mdhd layouts. Returns None when no valid moov/mvhd
    * is present (NOT an MP4 — the caller drops the row). */
  /** Generic ISO-BMFF child-box walk over [from, to): (fourcc,
    * body-offset, box-end) triples; stops at the first malformed box. */
  private def boxChildren(b: Array[Byte], from: Long, to: Long)
      : Seq[(String, Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long)]
    var o = from
    while (o + 8 <= to) {
      val sz0 = be32(b, o.toInt)
      val typ = fourcc(b, o.toInt + 4)
      val (bodyOff, sz) =
        if (sz0 == 1 && o + 16 <= to) (o + 16, be64(b, o.toInt + 8))
        else if (sz0 == 0) (o + 8, to - o)
        else (o + 8, sz0)
      if (sz < 8 || o + sz > to) return out.toSeq // malformed tail
      out += ((typ, bodyOff, o + sz))
      o += sz
    }
    out.toSeq
  }

  def parseMp4(b: Array[Byte]): Option[Mp4Meta] = {
    try {
      def children(from: Long, to: Long): Seq[(String, Long, Long)] =
        boxChildren(b, from, to)
      val top = children(0L, b.length.toLong)
      val moov = top.find(_._1 == "moov").getOrElse(return None)
      val mc = children(moov._2, moov._3)
      val mvhd = mc.find(_._1 == "mvhd").getOrElse(return None)
      val v = b(mvhd._2.toInt) & 0xff
      val (ts, dur) =
        if (v == 1) (be32(b, mvhd._2.toInt + 20), be64(b, mvhd._2.toInt + 24))
        else (be32(b, mvhd._2.toInt + 12), be32(b, mvhd._2.toInt + 16))
      if (ts == 0) return None
      val traks = mc.filter(_._1 == "trak")
      var w = 0; var h = 0
      val handlers = traks.flatMap { t =>
        val tc = children(t._2, t._3)
        tc.find(_._1 == "tkhd").foreach { tk =>
          val tv = b(tk._2.toInt) & 0xff
          val base = if (tv == 1) tk._2 + 92 else tk._2 + 76
          if (base + 8 <= tk._3) {
            val wf = (be32(b, base.toInt) >> 16).toInt
            val hf = (be32(b, base.toInt + 4) >> 16).toInt
            if (wf > w) w = wf
            if (hf > h) h = hf
          }
        }
        tc.find(_._1 == "mdia").flatMap { md =>
          children(md._2, md._3).find(_._1 == "hdlr")
            .map(hd => fourcc(b, hd._2.toInt + 8))
        }
      }
      Some(Mp4Meta(dur * 1000.0 / ts, ts, traks.length,
        handlers.mkString(","), w, h))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One media sample (video frame / audio packet) resolved from the
    * ISO-BMFF sample tables: 0-based index, absolute file offset, byte
    * size, decode timestamp in media-timescale units. */
  final case class Mp4Sample(handler: String, idx: Int, offset: Long,
      size: Long, pts: Long, timescale: Long)

  /** Resolve per-sample (offset, size, pts) rows from a track's sample
    * tables — stts (decode deltas), stsz (sizes, uniform or
    * per-sample), stsc (samples-per-chunk runs), stco/co64 (32/64-bit
    * chunk offsets) — the ISO 14496-12 §8.5-8.7 grammar, PLUS the
    * fragmented-MP4 grammar streaming corpora actually ship (§8.8):
    * moov/mvex/trex per-track defaults, then moof → traf → tfhd
    * (base-data-offset / per-fragment defaults) + tfdt (decode-time
    * rebase) + trun (per-sample sizes/durations, signed data offset),
    * samples numbered and timed CONTINUOUSLY across fragments. This is
    * the codec-free frame index: REAL frame-level sharding/sampling of
    * a video corpus needs exactly these offsets and timestamps, never
    * a pixel decode.
    *
    * Robustness contract: tracks without sample tables (metadata-only
    * traks, or fMP4 traks whose samples live in fragments) contribute
    * no moov-resolved samples but never reject the file; a table whose
    * DECLARED counts are INCONSISTENT (stsz count ≠ stts total, an
    * stsc run pointing past the chunk list, a sample mapped beyond the
    * last chunk, a trun/traf referencing an unknown track, a declared
    * entry count that overruns its enclosing box's bytes) rejects the
    * whole file — a truncated table must never yield silently-wrong
    * offsets, and count fields read from untrusted bytes are validated
    * against the enclosing box's byte length BEFORE any allocation (a
    * 16-byte corrupt box claiming 2^31 entries must reject, not OOM
    * the executor). */
  def parseMp4Frames(b: Array[Byte]): Seq[Mp4Sample] = {
    try {
      parseMp4Frames0(b)
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Per-moov-track header info + resolved static (moov-table) samples. */
  private final case class TrackCtx(trackId: Long, handler: String,
    timescale: Long, samples: Seq[Mp4Sample])

  private def parseMp4Frames0(b: Array[Byte]): Seq[Mp4Sample] = {
    def bad(): Nothing = throw new BadTableWrap
    val top = boxChildren(b, 0L, b.length.toLong)
    val moov = top.find(_._1 == "moov").getOrElse(return Nil)
    val mc = boxChildren(b, moov._2, moov._3)
    // mvex/trex → per-track (default_sample_duration, default_sample_size)
    val trex: Map[Long, (Long, Long)] = mc.find(_._1 == "mvex")
      .map(mv => boxChildren(b, mv._2, mv._3).filter(_._1 == "trex").map {
        tx =>
          if (tx._3 - tx._2 < 24) bad()
          val o = tx._2.toInt
          be32(b, o + 4) -> (be32(b, o + 12), be32(b, o + 16))
      }.toMap).getOrElse(Map.empty)
    // one TrackCtx per trak that carries an mdia; a trak missing it is
    // SKIPPED (a stub/metadata trak must not reject a file whose other
    // traks are valid). A missing tkhd gets a synthetic NEGATIVE track
    // id — its static tables still resolve, but no traf (which carries
    // a positive u32 id) can reference it.
    val tracks = boxChildren(b, moov._2, moov._3).filter(_._1 == "trak")
      .zipWithIndex.flatMap { case (t, ti) =>
        val tc = boxChildren(b, t._2, t._3)
        tc.find(_._1 == "mdia").map { mdia =>
          val trackId = tc.find(_._1 == "tkhd").map { tk =>
            val tv = b(tk._2.toInt) & 0xff
            if (tv == 1) be32(b, tk._2.toInt + 20)
            else be32(b, tk._2.toInt + 12)
          }.getOrElse(-(ti + 1L))
          val mdc = boxChildren(b, mdia._2, mdia._3)
          val handler = mdc.find(_._1 == "hdlr")
            .map(hd => fourcc(b, hd._2.toInt + 8)).getOrElse("")
          val timescale = mdc.find(_._1 == "mdhd").map { md =>
            val v = b(md._2.toInt) & 0xff
            if (v == 1) be32(b, md._2.toInt + 20)
            else be32(b, md._2.toInt + 12)
          }.getOrElse(0L)
          val stbl = mdc.find(_._1 == "minf")
            .map(mi => boxChildren(b, mi._2, mi._3))
            .flatMap(_.find(_._1 == "stbl"))
            .map(st => boxChildren(b, st._2, st._3))
            .getOrElse(Nil)
          TrackCtx(trackId, handler, timescale,
            staticSamples(b, stbl, handler, timescale, bad _))
        }
      }
    val byId = tracks.map(t => t.trackId -> t).toMap
    if (byId.size != tracks.size) bad() // duplicate track ids
    val staticRows = tracks.flatMap(_.samples)
    // fragment walk: per-track running (next sample index, decode time)
    val nextIdx = scala.collection.mutable.Map[Long, Int]() ++
      tracks.map(t => t.trackId -> t.samples.length)
    val nextPts = scala.collection.mutable.Map[Long, Long]() ++
      tracks.map(t => t.trackId ->
        t.samples.lastOption.map(s => s.pts).getOrElse(0L))
    val fragRows = scala.collection.mutable.ArrayBuffer.empty[Mp4Sample]
    // top-level walk again, tracking each box's START (boxChildren
    // returns body offsets; moof-relative addressing needs the start)
    var o = 0L
    while (o + 8 <= b.length) {
      val sz0 = be32(b, o.toInt)
      val typ = fourcc(b, o.toInt + 4)
      val sz =
        if (sz0 == 1 && o + 16 <= b.length) be64(b, o.toInt + 8)
        else if (sz0 == 0) b.length - o
        else sz0
      if (sz < 8 || o + sz > b.length) {
        // a truncated MOOF must reject the file (its samples are
        // unresolvable); a short non-fragment tail keeps the old
        // stop-at-malformed tolerance
        if (typ == "moof") bad()
        return staticRows ++ fragRows.toSeq
      }
      if (typ == "moof") {
        val bodyOff = if (sz0 == 1) o + 16 else o + 8
        walkMoof(b, o, bodyOff, o + sz, byId, trex, nextIdx, nextPts,
          fragRows, bad _)
      }
      o += sz
    }
    staticRows ++ fragRows.toSeq
  }

  /** Signals an inconsistent/truncated sample table: thrown through
    * [[parseMp4Frames0]] and converted to whole-file rejection (Nil) by
    * [[parseMp4Frames]]'s NonFatal handler. */
  private final class BadTableWrap extends RuntimeException

  /** Static (moov sample-table) samples for one track; `Nil` when any
    * of stts/stsz/stsc/stco is absent (table-less track). Declared
    * counts are bounds-checked against their boxes before allocation. */
  private def staticSamples(b: Array[Byte],
      stbl: Seq[(String, Long, Long)], handler: String, timescale: Long,
      bad: () => Nothing): Seq[Mp4Sample] = {
    def bx(typ: String) = stbl.find(_._1 == typ)
    (for {
      stts <- bx("stts"); stsz <- bx("stsz"); stsc <- bx("stsc")
      co <- bx("stco").orElse(bx("co64"))
    } yield {
      val co64 = co._1 == "co64"
      // stts → per-sample decode deltas; BOTH the run count and the
      // total sample count are validated before any allocation
      val nTts = be32(b, stts._2.toInt + 4)
      if (8L + 8L * nTts > stts._3 - stts._2) bad()
      // stsz header first: its declared sample count bounds the stts
      // expansion (Σ run counts must equal it, so cap the fill)
      val uniform = be32(b, stsz._2.toInt + 4)
      val nSamples64 = be32(b, stsz._2.toInt + 8)
      if (uniform == 0 && 12L + 4L * nSamples64 > stsz._3 - stsz._2) bad()
      if (nSamples64 > Int.MaxValue) bad()
      val nSamples = nSamples64.toInt
      val deltas = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i < nTts) {
        val o = stts._2.toInt + 8 + 8 * i
        val cnt = be32(b, o)
        if (cnt < 0 || deltas.length + cnt > nSamples) bad()
        var j = 0L
        while (j < cnt) { deltas += be32(b, o + 4); j += 1 }
        i += 1
      }
      if (nSamples != deltas.length) bad()
      val sizes =
        if (uniform != 0) Seq.fill(nSamples)(uniform)
        else (0 until nSamples)
          .map(i => be32(b, stsz._2.toInt + 12 + 4 * i))
      // stco/co64 → chunk offsets
      val entry = if (co64) 8L else 4L
      val nChunks64 = be32(b, co._2.toInt + 4)
      if (8L + entry * nChunks64 > co._3 - co._2) bad()
      val nChunks = nChunks64.toInt
      val chunkOff = (0 until nChunks).map { i =>
        if (co64) be64(b, co._2.toInt + 8 + 8 * i)
        else be32(b, co._2.toInt + 8 + 4 * i)
      }
      // stsc runs → samples-per-chunk for each chunk 1..nChunks
      val nScs64 = be32(b, stsc._2.toInt + 4)
      if (8L + 12L * nScs64 > stsc._3 - stsc._2) bad()
      val nScs = nScs64.toInt
      val runs = (0 until nScs).map { i =>
        val o = stsc._2.toInt + 8 + 12 * i
        (be32(b, o).toInt, be32(b, o + 4).toInt) // (first_chunk, spc)
      }
      if (runs.exists(_._1 > nChunks) ||
          runs.headOption.exists(_._1 != 1)) bad()
      val spcByChunk = (1 to nChunks).map { c =>
        runs.takeWhile(_._1 <= c).lastOption.map(_._2).getOrElse(0)
      }
      val pts = deltas.scanLeft(0L)(_ + _)
      val out = scala.collection.mutable.ArrayBuffer.empty[Mp4Sample]
      var s = 0
      var chunk = 0
      while (s < nSamples && chunk < nChunks) {
        var within = 0L
        var inChunk = 0
        while (s < nSamples && inChunk < spcByChunk(chunk)) {
          out += Mp4Sample(handler, s, chunkOff(chunk) + within,
            sizes(s), pts(s), timescale)
          within += sizes(s); s += 1; inChunk += 1
        }
        chunk += 1
      }
      if (s != nSamples) bad() // table ran out of chunks
      out.toSeq
    }).getOrElse(Nil)
  }

  /** One moof: every traf's truns resolved against tfhd/trex defaults.
    * Sample offsets are base-relative (tfhd base-data-offset when
    * present, else the moof's first byte — the default-base-is-moof
    * rule, also the fallback when neither flag is set); decode time
    * rebases at tfdt and otherwise accumulates across fragments. */
  private def walkMoof(b: Array[Byte], moofStart: Long, bodyOff: Long,
      boxEnd: Long, byId: Map[Long, TrackCtx],
      trex: Map[Long, (Long, Long)],
      nextIdx: scala.collection.mutable.Map[Long, Int],
      nextPts: scala.collection.mutable.Map[Long, Long],
      out: scala.collection.mutable.ArrayBuffer[Mp4Sample],
      bad: () => Nothing): Unit = {
    for (traf <- boxChildren(b, bodyOff, boxEnd).filter(_._1 == "traf")) {
      val tc = boxChildren(b, traf._2, traf._3)
      val tfhd = tc.find(_._1 == "tfhd").getOrElse(bad())
      if (tfhd._3 - tfhd._2 < 8) bad()
      val tfFlags = be32(b, tfhd._2.toInt) & 0xffffffL
      val trackId = be32(b, tfhd._2.toInt + 4)
      val track = byId.getOrElse(trackId, bad())
      var p = tfhd._2 + 8
      def take(n: Long): Long = {
        val v = p; p += n; if (p > tfhd._3) bad(); v
      }
      val baseOff =
        if ((tfFlags & 0x01) != 0) be64(b, take(8).toInt)
        else moofStart
      if ((tfFlags & 0x02) != 0) take(4) // sample_description_index
      val defDur =
        if ((tfFlags & 0x08) != 0) Some(be32(b, take(4).toInt))
        else trex.get(trackId).map(_._1)
      val defSize =
        if ((tfFlags & 0x10) != 0) Some(be32(b, take(4).toInt))
        else trex.get(trackId).map(_._2)
      if ((tfFlags & 0x20) != 0) take(4) // default_sample_flags
      for (tfdt <- tc.find(_._1 == "tfdt")) {
        val v = b(tfdt._2.toInt) & 0xff
        if (tfdt._3 - tfdt._2 < (if (v == 1) 12 else 8)) bad()
        nextPts(trackId) =
          if (v == 1) be64(b, tfdt._2.toInt + 4)
          else be32(b, tfdt._2.toInt + 4)
      }
      // truns in file order; a trun without a data offset continues
      // after the previous trun's last byte
      var cursor = baseOff
      var cursorSet = false
      for (trun <- tc.filter(_._1 == "trun")) {
        if (trun._3 - trun._2 < 8) bad()
        val trFlags = be32(b, trun._2.toInt) & 0xffffffL
        val n64 = be32(b, trun._2.toInt + 4)
        var q = trun._2 + 8
        def takeT(n: Long): Long = {
          val v = q; q += n; if (q > trun._3) bad(); v
        }
        if ((trFlags & 0x01) != 0) {
          // SIGNED 32-bit offset relative to base
          cursor = baseOff + be32(b, takeT(4).toInt).toInt
          cursorSet = true
        } else if (!cursorSet) cursor = baseOff
        if ((trFlags & 0x04) != 0) takeT(4) // first_sample_flags
        val perSample =
          (if ((trFlags & 0x100) != 0) 4 else 0) +
          (if ((trFlags & 0x200) != 0) 4 else 0) +
          (if ((trFlags & 0x400) != 0) 4 else 0) +
          (if ((trFlags & 0x800) != 0) 4 else 0)
        // bounds-check the declared sample count BEFORE materializing
        if (n64 < 0 || (q - trun._2) + perSample.toLong * n64 >
            trun._3 - trun._2) bad()
        val n = n64.toInt
        var i = 0
        while (i < n) {
          val dur =
            if ((trFlags & 0x100) != 0) be32(b, takeT(4).toInt)
            else defDur.getOrElse(bad())
          val size =
            if ((trFlags & 0x200) != 0) be32(b, takeT(4).toInt)
            else defSize.getOrElse(bad())
          if ((trFlags & 0x400) != 0) takeT(4) // sample_flags
          if ((trFlags & 0x800) != 0) takeT(4) // composition offset
          val idx = nextIdx(trackId)
          out += Mp4Sample(track.handler, idx, cursor, size,
            nextPts(trackId), track.timescale)
          nextIdx(trackId) = idx + 1
          nextPts(trackId) = nextPts(trackId) + dur
          cursor += size
          cursorSet = true
          i += 1
        }
      }
    }
  }

  private def u32bytes(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def u64bytes(v: Long): Array[Byte] =
    u32bytes(v >>> 32) ++ u32bytes(v & 0xffffffffL)

  private def box(typ: String, body: Array[Byte]): Array[Byte] =
    u32bytes(body.length + 8L) ++ typ.getBytes("ISO-8859-1") ++ body

  /** Deterministic minimal MP4: ftyp + moov(mvhd + a `vide` and a
    * `soun` trak) + mdat. `mvhdV1` exercises the 64-bit mvhd layout;
    * movie timescale is 1000 so duration units are milliseconds.
    * Every parsed value and the total byte length are formulas of the
    * inputs.
    *
    * With `frames > 0` the `vide` trak additionally carries real
    * sample tables — minf/stbl with stts (one run, delta 3000 at media
    * timescale 90000), stsc (one chunk holding every sample), stsz
    * (uniform `frameSizeBase` when `uniformSize`, else per-sample
    * `frameSizeBase + i`), and stco or (`co64`) a 64-bit co64 at
    * `chunkOffset` — so [[parseMp4Frames]] resolves frame i at offset
    * `chunkOffset + Σ_{j<i} size_j`, pts `3000·i`. Defaults keep the
    * no-frames byte layout identical to earlier rounds' fixtures. */
  def syntheticMp4(durMs: Long, width: Int, height: Int,
      mdatLen: Int, mvhdV1: Boolean = false, frames: Int = 0,
      frameSizeBase: Int = 0, co64: Boolean = false,
      uniformSize: Boolean = false, chunkOffset: Long = 4096L,
      syncEvery: Int = 0): Array[Byte] = {
    val ftyp = box("ftyp", "isom".getBytes("ISO-8859-1") ++
      u32bytes(0x200) ++ "isom".getBytes("ISO-8859-1"))
    val mvhdBody: Array[Byte] =
      if (mvhdV1)
        Array[Byte](1, 0, 0, 0) ++ u32bytes(0) ++ u32bytes(0) ++
          u32bytes(0) ++ u32bytes(0) ++ u32bytes(1000) ++
          u32bytes(0) ++ u32bytes(durMs) ++
          mvhdTail
      else
        Array[Byte](0, 0, 0, 0) ++ u32bytes(0) ++ u32bytes(0) ++
          u32bytes(1000) ++ u32bytes(durMs) ++ mvhdTail
    def trak(handler: String, mediaTs: Long, trackId: Long,
        w: Int, hgt: Int, stbl: Array[Byte] = Array.emptyByteArray)
        : Array[Byte] = {
      val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++
        u32bytes(0) ++ u32bytes(0) ++ u32bytes(trackId) ++ u32bytes(0) ++
        u32bytes(durMs) ++ new Array[Byte](8) ++
        new Array[Byte](8) ++ identityMatrix ++
        u32bytes(w.toLong << 16) ++ u32bytes(hgt.toLong << 16))
      val mdhd = box("mdhd", Array[Byte](0, 0, 0, 0) ++
        u32bytes(0) ++ u32bytes(0) ++ u32bytes(mediaTs) ++
        u32bytes(durMs * mediaTs / 1000) ++
        Array[Byte](0x55.toByte, 0xc4.toByte, 0, 0))
      val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0) ++ u32bytes(0) ++
        handler.getBytes("ISO-8859-1") ++ new Array[Byte](12) ++
        Array[Byte](0))
      val minf = if (stbl.isEmpty) Array.emptyByteArray
        else box("minf", box("stbl", stbl))
      box("trak", tkhd ++ box("mdia", mdhd ++ hdlr ++ minf))
    }
    val videStbl: Array[Byte] =
      if (frames <= 0) Array.emptyByteArray
      else {
        val stts = box("stts", u32bytes(0) ++ u32bytes(1) ++
          u32bytes(frames) ++ u32bytes(3000))
        val stsc = box("stsc", u32bytes(0) ++ u32bytes(1) ++
          u32bytes(1) ++ u32bytes(frames) ++ u32bytes(1))
        val stsz =
          if (uniformSize)
            box("stsz", u32bytes(0) ++ u32bytes(frameSizeBase) ++
              u32bytes(frames))
          else
            box("stsz", u32bytes(0) ++ u32bytes(0) ++ u32bytes(frames) ++
              (0 until frames).flatMap(i =>
                u32bytes(frameSizeBase + i)).toArray)
        val co =
          if (co64) box("co64", u32bytes(0) ++ u32bytes(1) ++
            u64bytes(chunkOffset))
          else box("stco", u32bytes(0) ++ u32bytes(1) ++
            u32bytes(chunkOffset))
        // stss: every syncEvery-th sample is a sync sample (1-based
        // sample numbers per ISO 14496-12 §8.6.2); absent when 0 —
        // the spec's "no stss ⇒ every sample is sync" case
        val stss =
          if (syncEvery <= 0) Array.emptyByteArray
          else box("stss", u32bytes(0) ++
            u32bytes((frames + syncEvery - 1).toLong / syncEvery) ++
            (0 until frames by syncEvery).flatMap(i =>
              u32bytes(i + 1L)).toArray)
        stts ++ stsc ++ stsz ++ co ++ stss
      }
    val moov = box("moov", mvhdBody0(mvhdBody) ++
      trak("vide", 90000L, 1, width, height, videStbl) ++
      trak("soun", 48000L, 2, 0, 0))
    val mdat = box("mdat",
      Array.tabulate[Byte](mdatLen)(i => ((i * 41) & 0xff).toByte))
    ftyp ++ moov ++ mdat
  }

  private def mvhdBody0(body: Array[Byte]): Array[Byte] = box("mvhd", body)
  // rate 1.0, volume 1.0, reserved, unity matrix, predefined, next id
  private val mvhdTail: Array[Byte] =
    u32bytes(0x00010000L) ++ Array[Byte](1, 0, 0, 0) ++
      new Array[Byte](8) ++ identityMatrix ++ new Array[Byte](24) ++
      u32bytes(3)
  private lazy val identityMatrix: Array[Byte] =
    u32bytes(0x00010000L) ++ new Array[Byte](12) ++
      u32bytes(0x00010000L) ++ new Array[Byte](12) ++
      u32bytes(0x40000000L)

  /** Typed MP4-metadata record for the partition-batched path. */
  final case class Mp4Feature(doc_id: Long, duration_ms: Double,
      timescale: Long, n_tracks: Int, handlers: String,
      width: Int, height: Int, n_bytes: Int)

  /** Partition-batched MP4 container-metadata extraction; rows whose
    * payload is not a parseable ISO-BMFF container are dropped. */
  def decodeMp4All(media: Dataset[MediaRow]): Dataset[Mp4Feature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseMp4(r.payload).map(m => Mp4Feature(r.doc_id, m.durationMs,
        m.timescale, m.nTracks, m.handlers, m.width, m.height,
        r.payload.length))
    })
  }

  /** Video-container fixture table: one synthetic MP4 per document,
    * duration / dimensions / mdat length / mvhd version all formulas of
    * `doc_id` so every parsed value (and the total byte length) replays
    * in SQL. */
  def syntheticMp4Table(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "video", syntheticMp4(
          durMs = id % 30000 + 1000,
          width = ((id % 8) + 1).toInt * 160,
          height = ((id % 6) + 1).toInt * 90,
          mdatLen = (id % 50).toInt,
          mvhdV1 = id % 2 == 0))
      })
  }

  /** Typed per-frame record for the sample-table path. */
  final case class Mp4FrameRow(doc_id: Long, handler: String,
      frame_idx: Int, offset: Long, size: Long, pts: Long,
      timescale: Long)

  /** Partition-batched frame-index extraction over [[parseMp4Frames]]:
    * one output row per resolved media sample; unparseable or
    * table-less containers contribute nothing. */
  def decodeMp4FramesAll(media: Dataset[MediaRow])
      : Dataset[Mp4FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseMp4Frames(r.payload).map(s => Mp4FrameRow(r.doc_id,
        s.handler, s.idx, s.offset, s.size, s.pts, s.timescale))
    })
  }

  /** SYNC-SAMPLE (keyframe) table of the first `vide` trak carrying an
    * stss box (ISO 14496-12 §8.6.2): 0-based frame indices of the sync
    * samples. `None` = no stss box, which the spec defines as EVERY
    * sample being sync; `Some(Nil)` never occurs (an empty stss
    * declares zero sync samples — returned as Some(empty) faithfully).
    * The declared entry count is validated against the box's byte
    * length BEFORE allocation (the untrusted-count rule), and any
    * non-positive sample number rejects the table as malformed. */
  def parseMp4SyncIdx(b: Array[Byte]): Option[Seq[Long]] = {
    try {
      val top = boxChildren(b, 0L, b.length.toLong)
      val moov = top.find(_._1 == "moov").getOrElse(return None)
      val stssBoxes = for {
        t <- boxChildren(b, moov._2, moov._3).filter(_._1 == "trak")
        tc = boxChildren(b, t._2, t._3)
        mdia <- tc.find(_._1 == "mdia").toSeq
        mdc = boxChildren(b, mdia._2, mdia._3)
        if mdc.find(_._1 == "hdlr")
          .exists(hd => fourcc(b, hd._2.toInt + 8) == "vide")
        mi <- mdc.find(_._1 == "minf").toSeq
        st <- boxChildren(b, mi._2, mi._3).find(_._1 == "stbl").toSeq
        ss <- boxChildren(b, st._2, st._3).find(_._1 == "stss").toSeq
      } yield ss
      stssBoxes.headOption.map { ss =>
        val cnt = be32(b, ss._2.toInt + 4)
        if (8L + 4L * cnt > ss._3 - ss._2) return None // malformed
        (0L until cnt).map { i =>
          val n = be32(b, ss._2.toInt + 8 + 4 * i.toInt)
          if (n < 1) return None
          n - 1
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One keyframe row: a 0-based sync-sample frame index. */
  final case class Mp4SyncRow(doc_id: Long, frame_idx: Long)

  /** Partition-batched sync-sample extraction: one row per declared
    * keyframe; files WITHOUT an stss box contribute nothing here (the
    * caller treats their every frame as sync, per the spec). */
  def decodeMp4SyncAll(media: Dataset[MediaRow]): Dataset[Mp4SyncRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseMp4SyncIdx(r.payload).toSeq.flatten
        .map(i => Mp4SyncRow(r.doc_id, i))
    })
  }

  /** [[syntheticMp4FrameTable]] plus an stss box declaring every
    * (id%3+1)-th sample a keyframe — the GOP-structure fixture. */
  def syntheticMp4KeyframeTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "video", syntheticMp4(
          durMs = id % 30000 + 1000,
          width = ((id % 8) + 1).toInt * 160,
          height = ((id % 6) + 1).toInt * 90,
          mdatLen = (id % 50).toInt,
          mvhdV1 = id % 2 == 0,
          frames = (id % 7 + 2).toInt,
          frameSizeBase = ((id % 10) + 1).toInt * 100,
          co64 = id % 3 == 0,
          uniformSize = id % 5 == 0,
          chunkOffset = 4096L + id % 101,
          syncEvery = (id % 3 + 1).toInt))
      })
  }

  /** Frame-indexed video fixture table: synthetic MP4s whose `vide`
    * trak carries REAL stts/stsc/stsz/stco sample tables, every
    * parameter a `doc_id` formula — frames = id%7+2, per-frame size
    * base (id%10+1)·100, 64-bit co64 on id%3=0, uniform-stsz mode on
    * id%5=0, chunk base 4096+id%101 — so the resolved (offset, size,
    * pts) of every frame replays in SQL. */
  def syntheticMp4FrameTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "video", syntheticMp4(
          durMs = id % 30000 + 1000,
          width = ((id % 8) + 1).toInt * 160,
          height = ((id % 6) + 1).toInt * 90,
          mdatLen = (id % 50).toInt,
          mvhdV1 = id % 2 == 0,
          frames = (id % 7 + 2).toInt,
          frameSizeBase = ((id % 10) + 1).toInt * 100,
          co64 = id % 3 == 0,
          uniformSize = id % 5 == 0,
          chunkOffset = 4096L + id % 101))
      })
  }

  /** Per-stream decode context for SEGMENTED fMP4 ingestion (the
    * DASH/HLS delivery shape: one INIT segment (ftyp+moov, no
    * samples), then media segments of moof+mdat each): immutable
    * track headers + trex defaults from the init segment, plus the
    * running per-track (next sample index, next decode time) that
    * samples continue across segments. */
  final case class Mp4StreamCtx(
      tracks: Map[Long, (String, Long)],
      trex: Map[Long, (Long, Long)],
      nextIdx: Map[Long, Int],
      nextPts: Map[Long, Long])

  /** Context from an INIT segment (ftyp + moov with mvex/trex, no
    * sample tables). None when no moov/tracks parse. */
  def parseMp4Init(b: Array[Byte]): Option[Mp4StreamCtx] = {
    try {
      val top = boxChildren(b, 0L, b.length.toLong)
      val moov = top.find(_._1 == "moov").getOrElse(return None)
      val mc = boxChildren(b, moov._2, moov._3)
      val trex: Map[Long, (Long, Long)] = mc.find(_._1 == "mvex")
        .map(mv => boxChildren(b, mv._2, mv._3).filter(_._1 == "trex")
          .flatMap { tx =>
            if (tx._3 - tx._2 < 24) None
            else {
              val o = tx._2.toInt
              Some(be32(b, o + 4) -> (be32(b, o + 12), be32(b, o + 16)))
            }
          }.toMap).getOrElse(Map.empty)
      val tracks = mc.filter(_._1 == "trak").flatMap { t =>
        val tc = boxChildren(b, t._2, t._3)
        for {
          tk <- tc.find(_._1 == "tkhd")
          mdia <- tc.find(_._1 == "mdia")
        } yield {
          val tv = b(tk._2.toInt) & 0xff
          val trackId =
            if (tv == 1) be32(b, tk._2.toInt + 20)
            else be32(b, tk._2.toInt + 12)
          val mdc = boxChildren(b, mdia._2, mdia._3)
          val handler = mdc.find(_._1 == "hdlr")
            .map(hd => fourcc(b, hd._2.toInt + 8)).getOrElse("")
          val timescale = mdc.find(_._1 == "mdhd").map { md =>
            val v = b(md._2.toInt) & 0xff
            if (v == 1) be32(b, md._2.toInt + 20)
            else be32(b, md._2.toInt + 12)
          }.getOrElse(0L)
          trackId -> (handler, timescale)
        }
      }.toMap
      if (tracks.isEmpty) None
      else Some(Mp4StreamCtx(tracks, trex,
        tracks.map { case (id, _) => id -> 0 },
        tracks.map { case (id, _) => id -> 0L }))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Resolve ONE media segment (moof+mdat, possibly several pairs)
    * against a stream context: emitted offsets are SEGMENT-relative
    * (default-base-is-moof addressing — the caller adds its byte
    * position of the segment for stream-global offsets); returns the
    * advanced context. A malformed/truncated segment returns (Nil,
    * ctx unchanged) — later segments still decode (their tfdt rebases
    * time; sample numbering skips what the bad segment carried). */
  def parseMp4Segment(ctx: Mp4StreamCtx, b: Array[Byte])
      : (Seq[Mp4Sample], Mp4StreamCtx) = {
    try {
      def bad(): Nothing = throw new BadTableWrap
      val byId = ctx.tracks.map { case (id, (h, ts)) =>
        id -> TrackCtx(id, h, ts, Nil)
      }
      val nextIdx = scala.collection.mutable.Map[Long, Int]() ++
        ctx.nextIdx
      val nextPts = scala.collection.mutable.Map[Long, Long]() ++
        ctx.nextPts
      val out = scala.collection.mutable.ArrayBuffer.empty[Mp4Sample]
      var o = 0L
      while (o + 8 <= b.length) {
        val sz0 = be32(b, o.toInt)
        val typ = fourcc(b, o.toInt + 4)
        val sz =
          if (sz0 == 1 && o + 16 <= b.length) be64(b, o.toInt + 8)
          else if (sz0 == 0) b.length - o
          else sz0
        if (sz < 8 || o + sz > b.length) {
          if (typ == "moof") bad()
          o = b.length
        } else {
          if (typ == "moof") {
            val bodyOff = if (sz0 == 1) o + 16 else o + 8
            walkMoof(b, o, bodyOff, o + sz, byId, ctx.trex, nextIdx,
              nextPts, out, bad _)
          }
          o += sz
        }
      }
      (out.toSeq, ctx.copy(nextIdx = nextIdx.toMap,
        nextPts = nextPts.toMap))
    } catch {
      case scala.util.control.NonFatal(_) => (Nil, ctx)
    }
  }

  /** One DASH-style segment row: seq 0 = init, seq f+1 = fragment f. */
  final case class Mp4SegmentRow(doc_id: Long, seq: Int,
      payload: Array[Byte])

  /** Segment fixture table: the SAME bytes as [[syntheticFmp4Table]]'s
    * files, carved at the init/fragment boundaries (init = ftyp+moov =
    * 349 B; fragment f = (88+8K)-byte moof + (8 + K·SB + K(K−1)/2)-
    * byte mdat), so the reassembled frame index replays q299's
    * closed-form oracle verbatim. */
  def syntheticFmp4SegmentTable(spark: SparkSession, dir: String)
      : Dataset[Mp4SegmentRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val f = (id % 4 + 1).toInt
        val k = (id % 3 + 1).toInt
        val sb = ((id % 10) + 1).toInt * 64
        val whole = syntheticFmp4(f, k, sb, durMs = id % 30000 + 1000)
        val fragLen = (88 + 8 * k) + 8 + k * sb + k * (k - 1) / 2
        val init = whole.take(349)
        Iterator.single(Mp4SegmentRow(id, 0, init)) ++
          (0 until f).iterator.map { i =>
            Mp4SegmentRow(id, i + 1,
              whole.slice(349 + i * fragLen, 349 + (i + 1) * fragLen))
          }
      })
  }

  /** Batch segment-table frame index: per stream, init → context,
    * media segments in `seq` order through [[parseMp4Segment]], each
    * segment's relative offsets rebased by the cumulative byte length
    * of everything before it — so the result equals the whole-file
    * [[parseMp4Frames]] on the concatenation. Grouped mapGroups: one
    * doc_id shuffle, per-group state is one context + a byte counter
    * (segments per stream are container-bounded, never corpus-sized). */
  def segmentFrameIndex(segs: Dataset[Mp4SegmentRow])
      : Dataset[Mp4FrameRow] = {
    import segs.sparkSession.implicits._
    segs.groupByKey(_.doc_id).flatMapGroups { (id, it) =>
      val ordered = it.toSeq.sortBy(_.seq)
      ordered.headOption.filter(_.seq == 0)
        .flatMap(h => parseMp4Init(h.payload).map(h -> _)) match {
        case None => Iterator.empty
        case Some((init, ctx0)) =>
          var ctx = ctx0
          var bytes = init.payload.length.toLong
          val out = scala.collection.mutable.ArrayBuffer
            .empty[Mp4FrameRow]
          for (seg <- ordered.drop(1)) {
            val (samples, ctx2) = parseMp4Segment(ctx, seg.payload)
            out ++= samples.map(s => Mp4FrameRow(id, s.handler, s.idx,
              bytes + s.offset, s.size, s.pts, s.timescale))
            ctx = ctx2
            bytes += seg.payload.length
          }
          out.iterator
      }
    }
  }

  /** Per-stream ingestion state for [[segmentFrameIndexStream]]. */
  final case class Mp4SegState(ctx: Option[Mp4StreamCtx], bytes: Long,
      nextSeq: Int)

  /** STREAMING segment-table frame index — the continuously-ingesting
    * twin of [[segmentFrameIndex]] (`flatMapGroupsWithState` keyed by
    * stream): per-stream state carries the init-segment context, the
    * cumulative byte position, and the next expected `seq`; segments
    * are processed in seq order within each micro-batch and must
    * arrive seq-ordered ACROSS batches (the DASH delivery contract);
    * a segment that skips ahead, repeats, or precedes its init is
    * dropped. Emits the same rows the batch index emits on in-order
    * delivery (`FragmentedMp4Spec` pins stream == batch). */
  def segmentFrameIndexStream(segs: Dataset[Mp4SegmentRow])
      : Dataset[Mp4FrameRow] = {
    import segs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    segs.groupByKey(_.doc_id).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (id: Long, it: Iterator[Mp4SegmentRow],
          state: org.apache.spark.sql.streaming.GroupState[Mp4SegState])
          =>
        var st = state.getOption.getOrElse(Mp4SegState(None, 0L, 0))
        val out = scala.collection.mutable.ArrayBuffer.empty[Mp4FrameRow]
        for (seg <- it.toSeq.sortBy(_.seq)) {
          if (seg.seq == 0 && st.nextSeq == 0) {
            parseMp4Init(seg.payload).foreach { c =>
              st = Mp4SegState(Some(c), seg.payload.length.toLong, 1)
            }
          } else if (st.ctx.nonEmpty && seg.seq == st.nextSeq) {
            val (samples, ctx2) = parseMp4Segment(st.ctx.get,
              seg.payload)
            out ++= samples.map(s => Mp4FrameRow(id, s.handler, s.idx,
              st.bytes + s.offset, s.size, s.pts, s.timescale))
            st = Mp4SegState(Some(ctx2),
              st.bytes + seg.payload.length, st.nextSeq + 1)
          } // else: gap / duplicate / pre-init media segment → dropped
        }
        state.update(st)
        out.iterator
    }
  }

  /** Deterministic minimal FRAGMENTED MP4 (ISO 14496-12 §8.8 — the
    * layout streaming-media corpora actually ship): ftyp + moov(mvhd +
    * one `vide` trak with NO sample tables + a `soun` stub trak +
    * mvex/trex) + `fragments` × [moof(mfhd + traf(tfhd + tfdt(v1) +
    * trun)) + mdat].
    *
    * Default mode carries per-sample sizes and durations in the trun
    * (flags 0x301): sample i of fragment f has size `sizeBase + i`,
    * duration 3000 at media timescale 90000, decode time 3000·(f·K+i)
    * (tfdt rebases each fragment), and byte offset
    * moofStart(f) + moofSize + 8 + i·sizeBase + i(i−1)/2 with
    * moofSize = 88 + 8K — every position a closed-form formula of the
    * inputs, so the frame index replays in SQL.
    *
    * `tfhdDefaults = true` instead puts duration/size defaults in the
    * tfhd (flags 0x020018, uniform `sizeBase`) with a sizes-free trun
    * (flags 0x1) — the defaults-resolution path; `trexOnly = true`
    * strips those too so resolution falls through to the mvex/trex
    * defaults (duration 3000, size `sizeBase`). */
  def syntheticFmp4(fragments: Int, samplesPerFrag: Int, sizeBase: Int,
      durMs: Long = 2000L, tfhdDefaults: Boolean = false,
      trexOnly: Boolean = false): Array[Byte] = {
    val k = samplesPerFrag
    val ftyp = box("ftyp", "isom".getBytes("ISO-8859-1") ++
      u32bytes(0x200) ++ "isom".getBytes("ISO-8859-1"))
    val mvhdBody: Array[Byte] =
      Array[Byte](0, 0, 0, 0) ++ u32bytes(0) ++ u32bytes(0) ++
        u32bytes(1000) ++ u32bytes(durMs) ++ mvhdTail
    def trak(handler: String, mediaTs: Long, trackId: Long): Array[Byte] = {
      val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++
        u32bytes(0) ++ u32bytes(0) ++ u32bytes(trackId) ++ u32bytes(0) ++
        u32bytes(durMs) ++ new Array[Byte](8) ++
        new Array[Byte](8) ++ identityMatrix ++
        u32bytes(640L << 16) ++ u32bytes(360L << 16))
      val mdhd = box("mdhd", Array[Byte](0, 0, 0, 0) ++
        u32bytes(0) ++ u32bytes(0) ++ u32bytes(mediaTs) ++
        u32bytes(durMs * mediaTs / 1000) ++
        Array[Byte](0x55.toByte, 0xc4.toByte, 0, 0))
      val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0) ++ u32bytes(0) ++
        handler.getBytes("ISO-8859-1") ++ new Array[Byte](12) ++
        Array[Byte](0))
      box("trak", tkhd ++ box("mdia", mdhd ++ hdlr))
    }
    val trex = box("trex", Array[Byte](0, 0, 0, 0) ++ u32bytes(1) ++
      u32bytes(1) ++ u32bytes(3000) ++ u32bytes(sizeBase) ++ u32bytes(0))
    val moov = box("moov", mvhdBody0(mvhdBody) ++
      trak("vide", 90000L, 1) ++ box("mvex", trex))
    val frags = (0 until fragments).flatMap { f =>
      val mfhd = box("mfhd", u32bytes(0) ++ u32bytes(f + 1L))
      val tfhd =
        if (trexOnly)
          box("tfhd", Array[Byte](0, 0x02, 0, 0) ++ u32bytes(1))
        else if (tfhdDefaults)
          // default-base-is-moof + default duration + default size
          box("tfhd", Array[Byte](0, 0x02, 0, 0x18) ++ u32bytes(1) ++
            u32bytes(3000) ++ u32bytes(sizeBase))
        else box("tfhd", Array[Byte](0, 0x02, 0, 0) ++ u32bytes(1))
      val tfdt = box("tfdt", Array[Byte](1, 0, 0, 0) ++
        u64bytes(3000L * k * f))
      val perSample = !tfhdDefaults && !trexOnly
      val trunFlags: Array[Byte] =
        if (perSample) Array[Byte](0, 0, 0x03, 0x01)
        else Array[Byte](0, 0, 0, 0x01)
      val trunBody = trunFlags ++ u32bytes(k) ++
        u32bytes(0) /* data_offset patched below */ ++
        (if (perSample)
          (0 until k).flatMap(i =>
            u32bytes(3000) ++ u32bytes(sizeBase + i)).toArray
        else Array.emptyByteArray)
      val trun = box("trun", trunBody)
      val traf = box("traf", tfhd ++ tfdt ++ trun)
      val moof = box("moof", mfhd ++ traf)
      // patch trun data_offset: samples start right after the moof's
      // sibling mdat header → moofSize + 8, moof-relative
      val doPos = moof.length - 4 * (if (perSample) 2 * k else 0) - 4
      System.arraycopy(u32bytes(moof.length + 8L), 0, moof, doPos, 4)
      val mdatBody =
        if (perSample) k * sizeBase + k * (k - 1) / 2
        else k * sizeBase
      moof ++ box("mdat",
        Array.tabulate[Byte](mdatBody)(i => ((i * 37) & 0xff).toByte))
    }
    ftyp ++ moov ++ frags
  }

  /** Fragmented-video fixture table: one synthetic fMP4 per document
    * with fragments = id%4+1, samples/fragment = id%3+1, size base
    * (id%10+1)·64 — all per-sample trun mode, so every resolved
    * (offset, size, pts) is the closed-form formula in
    * [[syntheticFmp4]]'s scaladoc and replays in SQL. */
  def syntheticFmp4Table(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "video", syntheticFmp4(
          fragments = (id % 4 + 1).toInt,
          samplesPerFrag = (id % 3 + 1).toInt,
          sizeBase = ((id % 10) + 1).toInt * 64,
          durMs = id % 30000 + 1000))
      })
  }

  // --- SubRip (SRT) caption parsing — the text half of video-text
  // training pairs: cue index, start/end milliseconds, cue text. ---------

  /** One parsed SRT cue. */
  final case class SrtCue(idx: Int, startMs: Long, endMs: Long,
      text: String)

  private val SrtTime =
    """(\d{2}):(\d{2}):(\d{2})[,.](\d{3})\s*-->\s*(\d{2}):(\d{2}):(\d{2})[,.](\d{3})""".r

  /** Parse a SubRip stream: blank-line-separated cue blocks of
    * [numeric index, HH:MM:SS,mmm --> HH:MM:SS,mmm, text lines…].
    * Tolerant of CRLF and blank-line runs; a block whose first two
    * lines don't parse is SKIPPED (subtitle files in the wild carry
    * BOM junk and stray blocks — a bad cue must not drop the file's
    * good cues); cues with end <= start are skipped too. */
  def parseSrt(s: String): Seq[SrtCue] = {
    val blocks = s.replace("\r\n", "\n").replace("\r", "\n")
      .split("\n{2,}").toSeq
    blocks.flatMap { b =>
      val lines = b.split("\n").dropWhile(_.trim.isEmpty)
      if (lines.length < 2) None
      else {
        val idx = scala.util.Try(
          lines(0).trim.stripPrefix("\uFEFF").toInt).toOption
        val tm = SrtTime.findFirstMatchIn(lines(1))
        (idx, tm) match {
          case (Some(i), Some(m)) =>
            def ms(h: String, mi: String, se: String, mm: String) =
              h.toLong * 3600000L + mi.toLong * 60000L +
                se.toLong * 1000L + mm.toLong
            val st = ms(m.group(1), m.group(2), m.group(3), m.group(4))
            val en = ms(m.group(5), m.group(6), m.group(7), m.group(8))
            if (en <= st) None
            else Some(SrtCue(i, st, en,
              lines.drop(2).mkString("\n").trim))
          case _ => None
        }
      }
    }
  }

  /** Deterministic synthetic SRT: `k` cues; cue i (0-based) has index
    * i+1, start 1000·i + phase, duration 500 + 100·(i mod 3) ms, text
    * "cue<docId>_<i>" — every field a formula, so parsed cues replay
    * in SQL. */
  def syntheticSrt(docId: Long, k: Int, phaseMs: Long): String = {
    def t(ms: Long) = f"${ms / 3600000}%02d:${ms / 60000 % 60}%02d:" +
      f"${ms / 1000 % 60}%02d,${ms % 1000}%03d"
    (0 until k).map { i =>
      val st = 1000L * i + phaseMs
      val en = st + 500 + 100 * (i % 3)
      s"${i + 1}\n${t(st)} --> ${t(en)}\ncue${docId}_$i"
    }.mkString("\n\n") + "\n"
  }

  /** Typed parsed-cue record. */
  final case class SrtCueRow(doc_id: Long, cue_idx: Int,
      start_ms: Long, end_ms: Long, cue_text: String)

  /** Caption fixture table: one synthetic SRT per document — cues =
    * id%5+2, phase (id%7)·100 ms. */
  def syntheticSrtTable(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        id -> syntheticSrt(id, (id % 5 + 2).toInt, (id % 7) * 100L)
      })
  }

  /** OVERLAPPING-cue SRT: cue i starts at 400·i and runs 300 +
    * 400·(i mod 3) ms, so every i≡1 cue overlaps its successor and
    * every i≡2 cue spans TWO successors — the interval-union merge
    * cases a coverage metric must handle. Every field a formula. */
  def syntheticSrtOverlap(docId: Long, k: Int): String = {
    def t(ms: Long) = f"${ms / 3600000}%02d:${ms / 60000 % 60}%02d:" +
      f"${ms / 1000 % 60}%02d,${ms % 1000}%03d"
    (0 until k).map { i =>
      val st = 400L * i
      val en = st + 300 + 400 * (i % 3)
      s"${i + 1}\n${t(st)} --> ${t(en)}\ncue${docId}_$i"
    }.mkString("\n\n") + "\n"
  }

  /** Overlapping-caption fixture table: cues = id%6+2. */
  def syntheticSrtOverlapTable(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        id -> syntheticSrtOverlap(id, (id % 6 + 2).toInt)
      })
  }

  /** Partition-batched SRT cue extraction. */
  def decodeSrtAll(subs: org.apache.spark.sql.Dataset[(Long, String)])
      : org.apache.spark.sql.Dataset[SrtCueRow] = {
    import subs.sparkSession.implicits._
    subs.mapPartitions(_.flatMap { case (id, s) =>
      parseSrt(s).map(c => SrtCueRow(id, c.idx, c.startMs, c.endMs,
        c.text))
    })
  }

  // --- GIF container metadata (pure-JVM block walk; no frame decode —
  // the 87a/89a block grammar is enough for dims / frame count / loop
  // count, the triage metadata an image-dedup pipeline wants before
  // paying for a real decode). -----------------------------------------

  final case class GifMeta(width: Int, height: Int, nFrames: Int,
      loopCount: Int, gctEntries: Int)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  /** Walk a GIF87a/GIF89a stream: logical screen descriptor, global
    * color table, extension blocks (reading the NETSCAPE 2.0 loop
    * count), image descriptors with their local color tables and LZW
    * sub-blocks. Returns None on a bad signature or malformed block
    * structure (the caller drops the row); loopCount is −1 when no
    * NETSCAPE application extension is present. */
  def parseGif(b: Array[Byte]): Option[GifMeta] = {
    try {
      if (b.length < 13) return None
      val sig = new String(b, 0, 6, "ISO-8859-1")
      if (sig != "GIF89a" && sig != "GIF87a") return None
      val width = le16(b, 6)
      val height = le16(b, 8)
      val packed = b(10) & 0xff
      val gctEntries = if ((packed & 0x80) != 0) 1 << ((packed & 7) + 1)
        else 0
      var o = 13 + 3 * gctEntries
      var frames = 0
      var loop = -1
      // generic data-sub-block walk; returns the offset past the
      // 0-length terminator, or -1 on truncation
      def skipSubBlocks(from: Int): Int = {
        var p = from
        while (p < b.length && (b(p) & 0xff) != 0) p += 1 + (b(p) & 0xff)
        if (p >= b.length) -1 else p + 1
      }
      while (o < b.length && (b(o) & 0xff) != 0x3b) {
        (b(o) & 0xff) match {
          case 0x21 => // extension: label, then sub-blocks
            if (o + 2 > b.length) return None
            val label = b(o + 1) & 0xff
            if (label == 0xff && o + 13 <= b.length &&
                (b(o + 2) & 0xff) == 11 &&
                new String(b, o + 3, 11, "ISO-8859-1") == "NETSCAPE2.0" &&
                o + 18 <= b.length && (b(o + 14) & 0xff) >= 3 &&
                (b(o + 15) & 0xff) == 1)
              loop = le16(b, o + 16)
            o = skipSubBlocks(o + 2)
            if (o < 0) return None
          case 0x2c => // image descriptor
            if (o + 10 > b.length) return None
            frames += 1
            val ip = b(o + 9) & 0xff
            val lct = if ((ip & 0x80) != 0) 3 * (1 << ((ip & 7) + 1))
              else 0
            val lzwStart = o + 10 + lct + 1 // + LZW min-code-size byte
            if (lzwStart > b.length) return None
            o = skipSubBlocks(lzwStart)
            if (o < 0) return None
          case _ => return None // unknown top-level block: malformed
        }
      }
      if (o >= b.length) return None // ran off the end before trailer
      Some(GifMeta(width, height, frames, loop, gctEntries))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic minimal GIF89a: logical screen + optional 2-entry
    * global color table + optional NETSCAPE loop extension + `nFrames`
    * single-sub-block frames. Every parsed value and the total byte
    * length are formulas of the inputs (each frame contributes a fixed
    * 14 bytes: 10 descriptor + LZW min-code-size + one 1-byte
    * sub-block + terminator). */
  def syntheticGif(width: Int, height: Int, nFrames: Int,
      loopCount: Int, gct: Boolean): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    out ++= "GIF89a".getBytes("ISO-8859-1")
    out += (width & 0xff).toByte += ((width >> 8) & 0xff).toByte
    out += (height & 0xff).toByte += ((height >> 8) & 0xff).toByte
    out += (if (gct) 0x80 else 0x00).toByte // GCT flag, size bits 0 ⇒ 2
    out += 0 += 0 // background index, aspect
    if (gct) out ++= Array[Byte](0, 0, 0, -1, -1, -1) // black, white
    if (loopCount >= 0) {
      out ++= Array[Byte](0x21, 0xff.toByte, 11)
      out ++= "NETSCAPE2.0".getBytes("ISO-8859-1")
      out ++= Array[Byte](3, 1,
        (loopCount & 0xff).toByte, ((loopCount >> 8) & 0xff).toByte, 0)
    }
    var f = 0
    while (f < nFrames) {
      out += 0x2c
      out ++= Array[Byte](0, 0, 0, 0) // left, top
      out += (width & 0xff).toByte += ((width >> 8) & 0xff).toByte
      out += (height & 0xff).toByte += ((height >> 8) & 0xff).toByte
      out += 0 // no local color table
      out += 2 // LZW min code size
      out += 1 += 0x4c // one 1-byte data sub-block
      out += 0 // sub-block terminator
      f += 1
    }
    out += 0x3b
    out.toArray
  }

  /** Typed GIF-metadata record for the partition-batched path. */
  final case class GifFeature(doc_id: Long, width: Int, height: Int,
      n_frames: Int, loop_count: Int, gct_entries: Int, n_bytes: Int)

  /** Partition-batched GIF container-metadata extraction; rows whose
    * payload is not a parseable GIF are dropped. */
  def decodeGifAll(media: Dataset[MediaRow]): Dataset[GifFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseGif(r.payload).map(m => GifFeature(r.doc_id, m.width,
        m.height, m.nFrames, m.loopCount, m.gctEntries,
        r.payload.length))
    })
  }

  /** Animated-image fixture table: one synthetic GIF per document,
    * every field a formula of `doc_id` so the parsed values and byte
    * length replay in SQL. */
  def syntheticGifTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "image", syntheticGif(
          width = (id % 32 + 4).toInt,
          height = ((id * 7) % 32 + 4).toInt,
          nFrames = (id % 4 + 1).toInt,
          loopCount = if (id % 3 == 0) (id % 7).toInt else -1,
          gct = id % 2 == 0))
      })
  }

  /** Deterministic solid-gray PNG: the smallest payload whose decoded
    * (width, height, brightness) are knowable in advance — the fixture
    * generator for the real-codec path. */
  def syntheticPng(width: Int, height: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // PNG chunk-level metadata — the image counterpart of the ID3/MP4
  // walks: real PNG chunk grammar (8-byte signature; length / type /
  // data / CRC32-over-type+data per chunk, ISO 15948) with tEXt
  // keyword\0value records. Provenance tags ride images through a
  // corpus exactly this way, and reading them needs no pixel decode.
  // ------------------------------------------------------------------

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue
  }

  /** Insert tEXt chunks (keyword → value, Latin-1) right after IHDR of
    * a valid PNG — real CRCs, so any standard reader keeps accepting
    * the file. */
  def pngWithText(png: Array[Byte], texts: Seq[(String, String)])
      : Array[Byte] = {
    require(png.length > 33, "not a PNG")
    val out = new java.io.ByteArrayOutputStream()
    val ihdrEnd = 8 + 8 + 13 + 4 // signature + IHDR chunk
    out.write(png, 0, ihdrEnd)
    for ((k, v) <- texts) {
      val data = k.getBytes("ISO-8859-1") ++ Array[Byte](0) ++
        v.getBytes("ISO-8859-1")
      val typeAndData = "tEXt".getBytes("ISO-8859-1") ++ data
      out.write(u32bytes(data.length.toLong), 0, 4)
      out.write(typeAndData, 0, typeAndData.length)
      out.write(u32bytes(crc32(typeAndData, 0, typeAndData.length)), 0, 4)
    }
    out.write(png, ihdrEnd, png.length - ihdrEnd)
    out.toByteArray
  }

  /** Parsed PNG chunk-level metadata. */
  final case class PngMeta(width: Int, height: Int, bitDepth: Int,
      colorType: Int, nChunks: Int, texts: Map[String, String])

  /** Walk the PNG chunk stream: IHDR geometry + every CRC-valid tEXt
    * record (a corrupted CRC drops that record, not the file). Returns
    * None when the signature or IHDR is absent/malformed. */
  def parsePngMeta(b: Array[Byte]): Option[PngMeta] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    if (b.length < 33 || !sig.indices.forall(i => b(i) == sig(i)))
      return None
    try {
      var o = 8
      var meta: Option[(Int, Int, Int, Int)] = None
      var n = 0
      val texts = scala.collection.mutable.LinkedHashMap.empty[String, String]
      while (o + 12 <= b.length) {
        val len = be32(b, o).toInt
        val typ = fourcc(b, o + 4)
        if (len < 0 || o + 12 + len > b.length) return meta.map {
          case (w, h, d, c) => PngMeta(w, h, d, c, n, texts.toMap)
        }
        if (typ == "IHDR" && len == 13)
          meta = Some((be32(b, o + 8).toInt, be32(b, o + 12).toInt,
            b(o + 16) & 0xff, b(o + 17) & 0xff))
        else if (typ == "tEXt" &&
            crc32(b, o + 4, 4 + len) == be32(b, o + 8 + len)) {
          val data = new String(b, o + 8, len, "ISO-8859-1")
          val cut = data.indexOf('\u0000')
          if (cut > 0) texts(data.substring(0, cut)) =
            data.substring(cut + 1)
        }
        n += 1
        o += 12 + len
      }
      meta.map { case (w, h, d, c) => PngMeta(w, h, d, c, n, texts.toMap) }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Typed PNG-metadata record for the partition-batched path. */
  final case class PngTextFeature(doc_id: Long, width: Int, height: Int,
      bit_depth: Int, color_type: Int, title: String, source: String,
      n_text: Int)

  /** Partition-batched PNG chunk-metadata extraction; rows that are not
    * PNGs are dropped. */
  def decodePngMetaAll(media: Dataset[MediaRow]): Dataset[PngTextFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      parsePngMeta(r.payload).map(m => PngTextFeature(r.doc_id, m.width,
        m.height, m.bitDepth, m.colorType,
        m.texts.getOrElse("Title", ""), m.texts.getOrElse("Source", ""),
        m.texts.size))
    })
  }

  /** Provenance-tagged image fixture table: real ImageIO PNGs with two
    * CRC-correct tEXt records whose values are formulas of `doc_id`. */
  def syntheticTaggedPngTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "image", pngWithText(
          syntheticPng((id % 24 + 8).toInt, ((id * 3) % 24 + 8).toInt,
            ((id * 37) % 256).toInt),
          Seq("Title" -> s"t_$id", "Source" -> s"s_${id % 11}")))
      })
  }

  /** Horizontal-gradient PNG: pixel luminance = x·255/(w−1) (integer
    * division), constant down each column — the dHash-predictable
    * counterpart of [[syntheticPng]]'s solid fill (strictly increasing
    * left-to-right ⇒ every dHash bit set). */
  def syntheticGradientPng(width: Int, height: Int): Array[Byte] = {
    require(width >= 2, "gradient needs width >= 2")
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val l = x * 255 / (width - 1)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** 64-bit difference hash (dHash, the standard perceptual image
    * fingerprint): decode via `javax.imageio`, resample to 9×8 through
    * the same bilinear Graphics2D path as [[resizeImage]], integer ITU
    * luma (299R+587G+114B)/1000, bit (y·8+x) set iff
    * lum(x,y) < lum(x+1,y). CONTENT-level: two encodings of the same
    * pixels (PNG vs BMP, different compressors) hash identically even
    * though their payload bytes — and so md5/block hashes (q84) —
    * differ. None for undecodable payloads. */
  def dHash64(payload: Array[Byte]): Option[Long] = {
    if (payload == null || payload.length < 12) return None
    val src =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (src == null) return None
    val dst = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, 9, 8, null)
    } finally g.dispose()
    def lum(x: Int, y: Int): Int = {
      val c = dst.getRGB(x, y)
      (299 * ((c >> 16) & 0xff) + 587 * ((c >> 8) & 0xff) +
        114 * (c & 0xff)) / 1000
    }
    var h = 0L
    var bit = 0
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (lum(x, y) < lum(x + 1, y)) h |= 1L << bit
        bit += 1
        x += 1
      }
      y += 1
    }
    Some(h)
  }

  /** Real-image table: one synthetic PNG per document, dimensions and
    * fill derived from `doc_id` so the decoded values replay in SQL
    * without touching the (encoder-dependent) payload bytes. Narrow
    * per-partition generation — the encode never shuffles. */
  def syntheticImageTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "image", syntheticPng(
          width = (id % 24 + 8).toInt,
          height = (id * 3 % 24 + 8).toInt,
          gray = (id * 37 % 256).toInt))
      })
  }

  /** Media table synthesized from `documents` (no binary fixtures ship with
    * the testdata): payload = utf-8 bytes of the text, media_type cycles
    * through image/audio/video. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Partition-batched decode: one iterator pass per partition (the
    * mapInPandas/Arrow-batch shape in Scala terms). Narrow — no shuffle.
    * Real ImageIO decode for images, stub for the rest ([[decode]]). */
  def decodeAll(media: Dataset[MediaRow]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decode))
  }

  /** Uniform frame sampling over video rows: each video explodes into
    * `nFrames` (slot, timestamp, frame number) rows — the fan-out shape
    * a frame-extraction stage consumes (the decode itself is the
    * documented sandbox stub). Expects `duration_ms` and `fps` columns
    * (typed metadata travels WITH the binary column, so sampling plans
    * never touch the payload bytes); all arithmetic is integer division
    * — exactly replayable by any engine. Narrow explode, no shuffle. */
  def sampleFrames(media: DataFrame, nFrames: Int = 4): DataFrame =
    media.filter(col("media_type") === "video")
      .select(col("doc_id"), col("duration_ms"), col("fps"),
        explode(sequence(lit(0), lit(nFrames - 1))).as("frame_slot"))
      .withColumn("frame_slot", col("frame_slot").cast("long"))
      .withColumn("ts_ms", expr(s"(frame_slot * duration_ms) div $nFrames"))
      .withColumn("frame_no", expr("(ts_ms * fps) div 1000"))

  /** Binary near-duplicate candidates WITHOUT decoding — the media
    * analog of MinHash banding: the payload splits into `blockLen`-byte
    * aligned content blocks, each md5-hashed, and two payloads pair iff
    * they share any (block index, hash) — catching re-uploads that
    * differ only past some offset (truncated tail, appended metadata).
    * Returns (doc_a, doc_b, shared_blocks, sim) with
    * sim = shared / max(block counts) — 1.0 ⇒ byte-identical.
    * One shuffle on the (index, hash) key; at pathological skew (a
    * corpus-wide shared prefix) the same per-bucket cap as the text
    * LSH join applies — not needed for content-addressed blocks, whose
    * buckets are near-dup groups by construction. */
  def blockNearDup(media: DataFrame, blockLen: Int = 64): DataFrame = {
    val n = media.select(col("doc_id"), col("payload"))
      .withColumn("__nb",
        ceil(length(col("payload")).cast("double") / blockLen)
          .cast("long"))
      .filter(col("__nb") > 0)
    val chunks = n
      .select(col("doc_id"), col("__nb"), col("payload"),
        explode(sequence(lit(0L), col("__nb") - 1)).as("__i"))
      .select(col("doc_id"), col("__nb"), col("__i"),
        md5(expr(s"substring(payload, __i * $blockLen + 1, $blockLen)"))
          .as("__h"))
    chunks.as("a").join(chunks.as("b"),
        col("a.__i") === col("b.__i") && col("a.__h") === col("b.__h") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_blocks"),
        max(col("a.__nb")).as("__na"), max(col("b.__nb")).as("__nb2"))
      .select(col("doc_a"), col("doc_b"), col("shared_blocks"),
        (col("shared_blocks").cast("double") /
          greatest(col("__na"), col("__nb2"))).as("sim"))
  }

  // ---- JPEG / EXIF ---------------------------------------------------

  /** Parsed JPEG EXIF + frame metadata. */
  final case class ExifMeta(endian: String, make: String,
      orientation: Int, iso: Int, pixX: Long, width: Int, height: Int)

  /** Walk a JPEG's marker segments: the APP1 Exif payload parses as a
    * real TIFF structure — either byte order (`II`/`MM`), IFD0 entry
    * scan, values stored inline (≤ 4 bytes) OR at a data offset (the
    * ASCII Make string), and the 0x8769 pointer into the Exif sub-IFD
    * — plus the SOF0/SOF2 frame header for the coded dimensions.
    * Returns None without an Exif APP1 or a frame header. JPEG marker
    * grammar per ITU-T T.81 §B; TIFF per the TIFF 6.0 and Exif 2.3
    * public specs. */
  def parseJpegExif(b: Array[Byte]): Option[ExifMeta] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    try {
      var o = 2
      var exif: Option[(String, String, Int, Int, Long)] = None
      var dims: Option[(Int, Int)] = None
      while (o + 4 <= b.length && (b(o) & 0xff) == 0xff) {
        val marker = b(o + 1) & 0xff
        if (marker == 0xd9) o = b.length // EOI
        else {
          val len = ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
          if (marker == 0xe1 && len >= 16 &&
              new String(b, o + 4, 6, "ISO-8859-1") == "Exif  ")
            exif = parseTiffExif(b, o + 10, len - 8)
          else if (marker == 0xc0 || marker == 0xc2) {
            val h = ((b(o + 5) & 0xff) << 8) | (b(o + 6) & 0xff)
            val w = ((b(o + 7) & 0xff) << 8) | (b(o + 8) & 0xff)
            dims = Some((w, h))
          }
          o += 2 + len
        }
      }
      for ((endian, make, orient, iso, pixX) <- exif; (w, h) <- dims)
        yield ExifMeta(endian, make, orient, iso, pixX, w, h)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** TIFF walk inside the Exif APP1 (`t0` = TIFF-header offset into the
    * byte array, `tLen` = its byte length; all TIFF offsets are
    * relative to `t0`). */
  private def parseTiffExif(b: Array[Byte], t0: Int, tLen: Int)
      : Option[(String, String, Int, Int, Long)] = {
    val endian = new String(b, t0, 2, "ISO-8859-1")
    if (endian != "II" && endian != "MM") return None
    val le = endian == "II"
    def u16(o: Int): Int =
      if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    def u32(o: Int): Long =
      if (le) (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    if (u16(t0 + 2) != 42) return None
    var make = ""
    var orient = 0
    var iso = 0
    var pixX = 0L
    // (tag, type, count, value-or-offset) 12-byte entries; a value
    // wider than 4 bytes lives at its offset in the data area
    def walkIfd(ifdOff: Long, sub: Boolean): Unit = {
      val base = t0 + ifdOff.toInt
      if (base + 2 > t0 + tLen) return
      val n = u16(base)
      for (i <- 0 until n) {
        val e = base + 2 + 12 * i
        val tag = u16(e)
        val typ = u16(e + 2)
        val cnt = u32(e + 4)
        if (!sub && tag == 0x010f && typ == 2) { // Make, ASCII
          val size = cnt.toInt
          val vo = if (size <= 4) e + 8 else t0 + u32(e + 8).toInt
          val raw = new String(b, vo, size, "ISO-8859-1")
          make = raw.takeWhile(_ != ' ')
        } else if (!sub && tag == 0x0112 && typ == 3)
          orient = u16(e + 8)
        else if (!sub && tag == 0x8769 && typ == 4)
          walkIfd(u32(e + 8), sub = true)
        else if (sub && tag == 0x8827 && typ == 3)
          iso = u16(e + 8)
        else if (sub && tag == 0xa002 && (typ == 4 || typ == 3))
          pixX = if (typ == 4) u32(e + 8) else u16(e + 8).toLong
      }
    }
    walkIfd(u32(t0 + 4), sub = false)
    Some((endian, make, orient, iso, pixX))
  }

  /** Minimal-but-real Exif JPEG: SOI, an APP1 whose TIFF body carries
    * IFD0 (Make at a DATA OFFSET — the > 4-byte ASCII case —
    * Orientation inline, the 0x8769 sub-IFD pointer), the Exif sub-IFD
    * (ISO, PixelXDimension), a SOF0 frame header with the coded
    * dimensions, and EOI. `littleEndian` exercises both TIFF byte
    * orders through one writer. */
  def syntheticExifJpeg(make: String, orientation: Int, iso: Int,
      width: Int, height: Int, littleEndian: Boolean): Array[Byte] = {
    val makeBytes = (make + " ").getBytes("ISO-8859-1")
    val le = littleEndian
    val tiff = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (le) { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff) }
      else { tiff.write((v >> 8) & 0xff); tiff.write(v & 0xff) }
    def w32(v: Long): Unit =
      if (le) { tiff.write((v & 0xff).toInt)
        tiff.write(((v >> 8) & 0xff).toInt)
        tiff.write(((v >> 16) & 0xff).toInt)
        tiff.write(((v >> 24) & 0xff).toInt) }
      else { tiff.write(((v >> 24) & 0xff).toInt)
        tiff.write(((v >> 16) & 0xff).toInt)
        tiff.write(((v >> 8) & 0xff).toInt)
        tiff.write((v & 0xff).toInt) }
    // layout (offsets relative to TIFF start): header 8, IFD0 at 8
    // (2 + 3·12 + 4 = 42 bytes), sub-IFD at 50 (2 + 2·12 + 4 = 30),
    // Make data at 80
    val ifd0 = 8L; val subIfd = 50L; val makeOff = 80L
    tiff.write(if (le) 'I' else 'M'); tiff.write(if (le) 'I' else 'M')
    w16(42); w32(ifd0)
    w16(3) // IFD0: 3 entries, ascending tag order per TIFF 6.0
    w16(0x010f); w16(2); w32(makeBytes.length.toLong); w32(makeOff)
    w16(0x0112); w16(3); w32(1L); w16(orientation); w16(0)
    w16(0x8769); w16(4); w32(1L); w32(subIfd)
    w32(0L) // next IFD
    w16(2) // Exif sub-IFD
    w16(0x8827); w16(3); w32(1L); w16(iso); w16(0)
    w16(0xa002); w16(4); w32(1L); w32(width.toLong)
    w32(0L)
    tiff.write(makeBytes)
    val t = tiff.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    out.write(0xff); out.write(0xe1) // APP1
    val app1Len = 2 + 6 + t.length
    out.write((app1Len >> 8) & 0xff); out.write(app1Len & 0xff)
    out.write("Exif  ".getBytes("ISO-8859-1"))
    out.write(t)
    out.write(0xff); out.write(0xc0) // SOF0, 1 component
    out.write(0); out.write(11); out.write(8)
    out.write((height >> 8) & 0xff); out.write(height & 0xff)
    out.write((width >> 8) & 0xff); out.write(width & 0xff)
    out.write(1); out.write(1); out.write(0x11); out.write(0)
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  // ---- WebP (RIFF container, VP8 lossy / VP8L lossless headers) ------

  /** Parsed WebP metadata: codec ("VP8" lossy / "VP8L" lossless),
    * coded dimensions, and the RIFF-declared payload size. */
  final case class WebpMeta(codec: String, width: Int, height: Int,
      riffSize: Long)

  /** Walk the RIFF/WEBP layout per the public container spec: "RIFF"
    * + u32le size + "WEBP", then a "VP8 " chunk (3-byte frame tag +
    * the 9D 01 2A sync code + 14-bit LE dimensions) or a "VP8L" chunk
    * (0x2F signature + two 14-bit minus-one dimensions packed LE).
    * Returns None on any magic/sync/size violation. */
  def parseWebp(b: Array[Byte]): Option[WebpMeta] = {
    if (b.length < 30 || !Riff.isForm(b, "WEBP")) return None
    val riffSize = Riff.u32(b, 4)
    if (riffSize + 8 != b.length) return None
    try Riff.fourcc(b, 12) match {
      case "VP8 " =>
        // 20..22 frame tag; 23..25 sync
        if ((b(23) & 0xff) != 0x9d || (b(24) & 0xff) != 0x01 ||
            (b(25) & 0xff) != 0x2a) return None
        val w = ((b(26) & 0xff) | ((b(27) & 0xff) << 8)) & 0x3fff
        val h = ((b(28) & 0xff) | ((b(29) & 0xff) << 8)) & 0x3fff
        Some(WebpMeta("VP8", w, h, riffSize))
      case "VP8L" =>
        if ((b(20) & 0xff) != 0x2f) return None
        val bits = Riff.u32(b, 21)
        val w = (bits & 0x3fff).toInt + 1
        val h = ((bits >> 14) & 0x3fff).toInt + 1
        Some(WebpMeta("VP8L", w, h, riffSize))
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Minimal-but-real WebP bytes for [[parseWebp]]: correct RIFF
    * accounting and either a VP8 key-frame header (sync code + 14-bit
    * dims) or a VP8L signature + packed dims; the "payload" after the
    * header is deterministic filler so byte lengths are id formulas. */
  def syntheticWebp(width: Int, height: Int, lossless: Boolean,
      fill: Int): Array[Byte] = {
    val payload = new java.io.ByteArrayOutputStream()
    if (lossless) {
      payload.write(0x2f)
      val bits = ((width - 1) & 0x3fff).toLong |
        (((height - 1) & 0x3fff).toLong << 14)
      payload.write((bits & 0xff).toInt)
      payload.write(((bits >> 8) & 0xff).toInt)
      payload.write(((bits >> 16) & 0xff).toInt)
      payload.write(((bits >> 24) & 0xff).toInt)
      for (_ <- 0 until 11) payload.write(fill)
    } else {
      payload.write(0x10); payload.write(0); payload.write(0) // frame tag
      payload.write(0x9d); payload.write(0x01); payload.write(0x2a)
      payload.write(width & 0xff); payload.write((width >> 8) & 0x3f)
      payload.write(height & 0xff); payload.write((height >> 8) & 0x3f)
      for (_ <- 0 until 6) payload.write(fill)
    }
    Riff.write("WEBP",
      Seq((if (lossless) "VP8L" else "VP8 ") -> payload.toByteArray))
  }

  /** Typed WebP record for the partition-batched path. */
  final case class WebpFeature(doc_id: Long, codec: String, width: Int,
    height: Int, riff_size: Long, n_bytes: Int)

  /** Partition-batched WebP metadata extraction; non-WebP rows drop. */
  def decodeWebpAll(media: Dataset[MediaRow]): Dataset[WebpFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseWebp(r.payload).map(m => WebpFeature(r.doc_id, m.codec,
        m.width, m.height, m.riffSize, r.payload.length))
    })
  }

  /** WebP fixture table: codec alternates by id, dims are id formulas. */
  def syntheticWebpTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "image", syntheticWebp(
          (id % 320 + 16).toInt, ((id * 3) % 240 + 8).toInt,
          lossless = id % 2 == 1, fill = (id % 251).toInt))
      })
  }

  /** Typed EXIF record for the partition-batched path. */
  final case class ExifFeature(doc_id: Long, endian: String, make: String,
      orientation: Int, iso: Int, pix_x: Long, width: Int, height: Int,
      n_bytes: Int)

  /** Partition-batched JPEG EXIF extraction; non-JPEG rows drop. */
  def decodeExifAll(media: Dataset[MediaRow]): Dataset[ExifFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseJpegExif(r.payload).map(m => ExifFeature(r.doc_id, m.endian,
        m.make, m.orientation, m.iso, m.pixX, m.width, m.height,
        r.payload.length))
    })
  }

  /** Camera-provenance JPEG fixture table: every field a `doc_id`
    * formula (the oracle predicts them), byte order alternating by id
    * so both TIFF endiannesses flow through the parser. */
  def syntheticExifTable(spark: SparkSession, dir: String)
      : Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, "image", syntheticExifJpeg(
          s"cam_${id % 7}", (id % 8 + 1).toInt,
          ((id % 5) * 100 + 100).toInt, (id % 640 + 16).toInt,
          ((id * 3) % 480 + 8).toInt, littleEndian = id % 2 == 0))
      })
  }
}
