package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Round-8 gates: the fragmented-MP4 (moof/traf/trun) frame index —
  * closed-form offsets, defaults resolution through tfhd and trex,
  * tfdt decode-time rebase, truncated-moof rejection, and the
  * count-bounds hardening (a corrupt box declaring 2^31 entries must
  * reject instantly, not allocate). */
class FragmentedMp4Spec extends AnyFunSuite {

  private def u32(v: Long) = Array(((v >> 24) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    (v & 0xff).toByte)

  test("fMP4: per-sample trun sizes/durations resolve to the " +
      "closed-form offsets, continuous idx/pts across fragments") {
    for (f <- Seq(1, 3); k <- Seq(1, 3); sb <- Seq(64, 500)) {
      val b = Multimodal.syntheticFmp4(f, k, sb)
      val fr = Multimodal.parseMp4Frames(b)
      assert(fr.length == f * k, s"f=$f k=$k")
      val moofSize = 88 + 8 * k
      val mdatBody = k * sb + k * (k - 1) / 2
      for (r <- fr) {
        val g = r.idx; val ff = g / k; val i = g % k
        assert(r.offset == 349L + ff.toLong * (moofSize + 8 + mdatBody)
          + moofSize + 8 + i.toLong * sb + i.toLong * (i - 1) / 2,
          s"offset f=$f k=$k sb=$sb idx=$g")
        assert(r.size == sb + i)
        assert(r.pts == 3000L * g) // tfdt rebase + per-sample durations
        assert(r.timescale == 90000L && r.handler == "vide")
      }
    }
  }

  test("fMP4: defaults resolution — tfhd default size/duration, and " +
      "trex fallback when the tfhd carries none") {
    for (trexOnly <- Seq(false, true)) {
      val b = Multimodal.syntheticFmp4(2, 3, 100,
        tfhdDefaults = !trexOnly, trexOnly = trexOnly)
      val fr = Multimodal.parseMp4Frames(b)
      assert(fr.length == 6)
      assert(fr.forall(_.size == 100L), s"trexOnly=$trexOnly")
      assert(fr.map(_.pts) == Seq(0L, 3000L, 6000L, 9000L, 12000L,
        15000L))
      // uniform sizes → samples are contiguous within each fragment
      val byFrag = fr.grouped(3).toSeq
      for (frag <- byFrag; w <- frag.sliding(2) if w.length == 2)
        assert(w(1).offset == w(0).offset + 100)
    }
  }

  test("fMP4: one moof with TWO trafs (two tracks) and a second trun " +
      "WITHOUT a data offset chaining after the first") {
    // hand-build: moov with vide(id 1)+soun(id 2) header-only traks +
    // per-track trex defaults, one moof carrying a traf per track; the
    // vide traf has two truns — the second omits the data offset, so
    // its samples must start right after the first trun's last byte
    def box(t: String, body: Array[Byte]) =
      u32(body.length + 8L) ++ t.getBytes("ISO-8859-1") ++ body
    def trak(handler: String, ts: Long, id: Long) = {
      val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ u32(0) ++
        u32(0) ++ u32(id) ++ u32(0) ++ u32(1000) ++
        new Array[Byte](16) ++ new Array[Byte](36) ++ u32(0) ++ u32(0))
      val mdhd = box("mdhd", Array[Byte](0, 0, 0, 0) ++ u32(0) ++
        u32(0) ++ u32(ts) ++ u32(0) ++
        Array[Byte](0x55.toByte, 0xc4.toByte, 0, 0))
      val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0) ++ u32(0) ++
        handler.getBytes("ISO-8859-1") ++ new Array[Byte](12) ++
        Array[Byte](0))
      box("trak", tkhd ++ box("mdia", mdhd ++ hdlr))
    }
    def trex(id: Long, dur: Long, size: Long) = box("trex",
      Array[Byte](0, 0, 0, 0) ++ u32(id) ++ u32(1) ++ u32(dur) ++
        u32(size) ++ u32(0))
    val moov = box("moov",
      box("mvhd", Array[Byte](0, 0, 0, 0) ++ u32(0) ++ u32(0) ++
        u32(1000) ++ u32(1000) ++ new Array[Byte](80)) ++
      trak("vide", 90000L, 1) ++ trak("soun", 48000L, 2) ++
      box("mvex", trex(1, 3000, 100) ++ trex(2, 1024, 50)))
    val ftyp = box("ftyp", "isom".getBytes("ISO-8859-1") ++ u32(0))
    // vide traf: trun1 (2 samples, data_offset present) + trun2
    // (1 sample, NO data offset → chains to offset+200)
    val tfhd1 = box("tfhd", Array[Byte](0, 0x02, 0, 0) ++ u32(1))
    val trun1 = box("trun", Array[Byte](0, 0, 0, 1) ++ u32(2) ++
      u32(0) /* patched */)
    val trun2 = box("trun", Array[Byte](0, 0, 0, 0) ++ u32(1))
    // soun traf: 2 samples on trex defaults, own data offset
    val tfhd2 = box("tfhd", Array[Byte](0, 0x02, 0, 0) ++ u32(2))
    val trun3 = box("trun", Array[Byte](0, 0, 0, 1) ++ u32(2) ++
      u32(0) /* patched */)
    val traf1 = box("traf", tfhd1 ++ trun1 ++ trun2)
    val traf2 = box("traf", tfhd2 ++ trun3)
    val mfhd = box("mfhd", u32(0) ++ u32(1))
    val moof = box("moof", mfhd ++ traf1 ++ traf2)
    // data layout in mdat: vide s0 s1 s2 (3×100) then soun s0 s1 (2×50)
    val off1 = moof.length + 8          // vide trun1 start
    val off2 = moof.length + 8 + 300    // soun trun3 start
    // patch the two data offsets (4 bytes after flags+count in each
    // patched trun body)
    def patchAt(b: Array[Byte], trunOrdinal: Int, v: Long): Unit = {
      var seen = 0; var o = 0
      while (o + 8 <= b.length) {
        if (new String(b, o + 4, 4, "ISO-8859-1") == "trun") {
          seen += 1
          if (seen == trunOrdinal) {
            u32(v).zipWithIndex.foreach { case (x, j) =>
              b(o + 16 + j) = x }
            return
          }
        }
        o += 1
      }
      fail(s"trun $trunOrdinal not found")
    }
    patchAt(moof, 1, off1)
    patchAt(moof, 3, off2)
    val mdat = box("mdat", new Array[Byte](400))
    val file = ftyp ++ moov ++ moof ++ mdat
    val fr = Multimodal.parseMp4Frames(file)
    val vide = fr.filter(_.handler == "vide")
    val soun = fr.filter(_.handler == "soun")
    val base = (ftyp.length + moov.length).toLong
    assert(vide.map(_.idx) == Seq(0, 1, 2))
    // trun1 samples at offset, offset+100; trun2's sample CHAINS to
    // offset+200 with no data offset of its own
    assert(vide.map(_.offset) == Seq(base + off1, base + off1 + 100,
      base + off1 + 200))
    assert(vide.map(_.size) == Seq(100L, 100L, 100L))
    assert(vide.map(_.pts) == Seq(0L, 3000L, 6000L))
    assert(soun.map(_.idx) == Seq(0, 1))
    assert(soun.map(_.offset) == Seq(base + off2, base + off2 + 50))
    assert(soun.map(_.pts) == Seq(0L, 1024L))
    assert(soun.forall(_.timescale == 48000L))
  }

  test("fMP4: truncated moof REJECTS the whole file; moov-only " +
      "prefix of the same file still parses as zero frames") {
    val full = Multimodal.syntheticFmp4(2, 2, 64)
    // chop into the second moof: remove its whole 137-byte mdat
    // (8 + 2·64 + 1) plus half the 104-byte moof, so the moof's
    // declared size overruns EOF
    val trunc = full.take(full.length - 137 - 52)
    assert(Multimodal.parseMp4Frames(trunc).isEmpty)
    // cutting cleanly BEFORE the first moof leaves a valid table-less
    // moov file: zero frames, no rejection throw
    val headerOnly = full.take(349)
    assert(Multimodal.parseMp4Frames(headerOnly).isEmpty)
  }

  test("fMP4: corrupt trun sample count (2^31−1 in a tiny box) " +
      "rejects without allocating") {
    val full = Multimodal.syntheticFmp4(2, 2, 64)
    val c = full.clone()
    var o = 0; var patched = false
    while (o + 8 <= c.length && !patched) {
      if (new String(c, o + 4, 4, "ISO-8859-1") == "trun") {
        u32(0x7fffffffL).zipWithIndex.foreach { case (v, j) =>
          c(o + 12 + j) = v }
        patched = true
      }
      o += 1
    }
    assert(patched)
    val t0 = System.nanoTime()
    assert(Multimodal.parseMp4Frames(c).isEmpty)
    assert((System.nanoTime() - t0) / 1e6 < 1000.0, "must fail fast")
  }

  test("moov-table bounds hardening: stts/stsz/stco declared counts " +
      "that overrun their boxes reject instead of allocating") {
    val good = Multimodal.syntheticMp4(durMs = 1000, width = 160,
      height = 90, mdatLen = 0, frames = 4, frameSizeBase = 100)
    def patchedCount(typ: String): Array[Byte] = {
      val c = good.clone()
      var o = 0; var done = false
      while (o + 8 <= c.length && !done) {
        if (new String(c, o + 4, 4, "ISO-8859-1") == typ) {
          // entry/sample count field: stts at body+4, stsz at body+8,
          // stco at body+4 (body starts at o+8)
          val fieldOff = if (typ == "stsz") o + 8 + 8 else o + 8 + 4
          u32(0x40000000L).zipWithIndex.foreach { case (v, j) =>
            c(fieldOff + j) = v }
          done = true
        }
        o += 1
      }
      assert(done, s"$typ not found")
      c
    }
    for (typ <- Seq("stts", "stsz", "stco")) {
      val t0 = System.nanoTime()
      assert(Multimodal.parseMp4Frames(patchedCount(typ)).isEmpty,
        s"$typ must reject")
      assert((System.nanoTime() - t0) / 1e6 < 1000.0,
        s"$typ must fail fast")
    }
  }

  test("decodeWavWindows: per-window Σs² round-trips the segmented " +
      "fixture exactly; trailing partial window kept; non-WAV None") {
    for (id <- Seq(0L, 3L, 6L, 13L)) {
      val nW = (id % 12 + 6).toInt
      val got = Multimodal.decodeWavWindows(
        Multimodal.syntheticWavSeg(id, nW), 160).get
      assert(got.length == nW, s"id=$id")
      val v = (id % 7 + 1) * 800
      for ((w, e) <- got)
        assert(e == (if ((w + id) % 4 < 2) 160L * v * v else 0L),
          s"id=$id w=$w")
    }
    // trailing partial window: 100 extra frames after 2 full windows
    val tail = Multimodal.decodeWavWindows(
      Multimodal.syntheticWav(420, 16000, 5), 160).get
    assert(tail.map(_._1) == Seq(0, 1, 2))
    assert(tail.map(_._2) == Seq(160L * 25, 160L * 25, 100L * 25))
    assert(Multimodal.decodeWavWindows("nope".getBytes, 160).isEmpty)
  }

  test("parseSrt: round-trips the formula fixture, tolerates CRLF/" +
      "BOM/blank-line runs, skips bad blocks and inverted cues") {
    val srt = Multimodal.syntheticSrt(42L, 4, 300L)
    val cues = Multimodal.parseSrt(srt)
    assert(cues.map(_.idx) == Seq(1, 2, 3, 4))
    assert(cues.map(_.startMs) == Seq(300L, 1300L, 2300L, 3300L))
    assert(cues.map(_.endMs) == Seq(800L, 1900L, 3000L, 3800L))
    assert(cues.map(_.text) == (0 until 4).map(i => s"cue42_$i"))
    // CRLF + BOM + triple blank lines + a junk block + inverted cue
    val messy = "﻿1\r\n00:00:01,000 --> 00:00:02,000\r\nhello\r\n" +
      "world\r\n\r\n\r\n\r\nnot-a-number\r\ngarbage\r\n\r\n" +
      "2\r\n00:01:00,500 --> 00:01:00,100\r\ninverted\r\n\r\n" +
      "3\r\n01:02:03.250 --> 01:02:04,000\r\ndot-millis\r\n"
    val got = Multimodal.parseSrt(messy)
    assert(got.map(_.idx) == Seq(1, 3))
    assert(got.head.text == "hello\nworld")
    assert(got(1).startMs == 3723250L && got(1).endMs == 3724000L)
  }

  test("clumpLite fingerprint width: nSamples = 27 (the exact Long " +
      "boundary, max fp = 5^27 − 1 < 2^63) works; 28 is refused") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    def vdf(n: Int) = Seq(
      (1L, "c1", 10L, Seq.tabulate(n)(i =>
        java.lang.Long.valueOf((i % 3).toLong))),
      (2L, "c1", 20L, Seq.tabulate(n)(i =>
        java.lang.Long.valueOf(((i + 1) % 3).toLong)))
    ).toDF("vid", "chrom", "pos", "d")
    val ok = graft.operators.PopGen.clumpLite(vdf(27), 100L, 0.5, 27)
      .collect()
    assert(ok.length == 2)
    val e = intercept[IllegalArgumentException] {
      graft.operators.PopGen.clumpLite(vdf(28), 100L, 0.5, 28)
    }
    assert(e.getMessage.contains("27"))
  }

  test("streaming fMP4 frame-index == batch on the same fragmented " +
      "containers (stream==batch parity for the moof/traf resolver)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val rows = (1L to 30L).map { id =>
      Multimodal.MediaRow(id, "video", Multimodal.syntheticFmp4(
        fragments = (id % 4 + 1).toInt,
        samplesPerFrag = (id % 3 + 1).toInt,
        sizeBase = ((id % 5) + 1).toInt * 64,
        tfhdDefaults = id % 7 == 0, trexOnly = id % 11 == 0))
    }
    val mem = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodeMp4FramesAll(mem.toDS())
      .writeStream.format("memory").queryName("fmp4_frames_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows.take(10))
      q.processAllAvailable()
      mem.addData(rows.drop(10))
      q.processAllAvailable()
      val streamed = spark.table("fmp4_frames_stream")
      val batch = Multimodal.decodeMp4FramesAll(rows.toDS()).toDF()
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming SEGMENTED fMP4 ingestion == batch segment index == " +
      "whole-file parseMp4Frames (stateful context across batches)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    // 3 streams, different fragment/sample geometry
    val segRows = (1L to 3L).flatMap { id =>
      val f = (id % 4 + 1).toInt; val k = (id % 3 + 1).toInt
      val sb = ((id % 5) + 1).toInt * 64
      val whole = Multimodal.syntheticFmp4(f, k, sb)
      val fragLen = (88 + 8 * k) + 8 + k * sb + k * (k - 1) / 2
      val segs = Multimodal.Mp4SegmentRow(id, 0, whole.take(349)) +:
        (0 until f).map(i => Multimodal.Mp4SegmentRow(id, i + 1,
          whole.slice(349 + i * fragLen, 349 + (i + 1) * fragLen)))
      segs.map(s => (s, whole))
    }
    val mem = MemoryStream[Multimodal.Mp4SegmentRow](spark)
    val q = Multimodal.segmentFrameIndexStream(mem.toDS())
      .writeStream.format("memory").queryName("fmp4_seg_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // init + first fragment in batch 1, the rest in batch 2 — the
      // per-stream context must survive the batch boundary
      val (b1, b2) = segRows.map(_._1).partition(_.seq <= 1)
      mem.addData(b1)
      q.processAllAvailable()
      mem.addData(b2)
      q.processAllAvailable()
      val streamed = spark.table("fmp4_seg_stream")
      val batch = Multimodal.segmentFrameIndex(
        segRows.map(_._1).toDS()).toDF()
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
      // and both equal the whole-file resolver on the concatenation
      val whole = segRows.groupBy(_._1.doc_id).toSeq.flatMap {
        case (id, rows) =>
          Multimodal.parseMp4Frames(rows.head._2).map(s =>
            Multimodal.Mp4FrameRow(id, s.handler, s.idx, s.offset,
              s.size, s.pts, s.timescale))
      }.toDS().toDF()
      assert(batch.exceptAll(whole).count() == 0 &&
        whole.exceptAll(batch).count() == 0)
    } finally q.stop()
  }

  test("a stub trak (no mdia) is SKIPPED, not a whole-file rejection") {
    // syntheticMp4 already carries a table-less `soun` trak; add a
    // fully structure-less stub trak inside moov and assert the vide
    // frames still resolve
    def box(t: String, body: Array[Byte]) =
      u32(body.length + 8L) ++ t.getBytes("ISO-8859-1") ++ body
    val good = Multimodal.syntheticMp4(durMs = 1000, width = 160,
      height = 90, mdatLen = 0, frames = 3, frameSizeBase = 100,
      chunkOffset = 4096L)
    val nFrames = Multimodal.parseMp4Frames(good).length
    assert(nFrames == 3)
    // splice a stub trak at the END of moov's body
    val moovIdx = good.toSeq.indexOfSlice("moov".getBytes("ISO-8859-1")
      .toSeq)
    val moovStart = moovIdx - 4
    val moovSize = ((good(moovStart) & 0xffL) << 24) |
      ((good(moovStart + 1) & 0xffL) << 16) |
      ((good(moovStart + 2) & 0xffL) << 8) | (good(moovStart + 3) & 0xffL)
    val stub = box("trak", Array[Byte](0, 0, 0, 8) ++
      "free".getBytes("ISO-8859-1"))
    val out = good.take(moovStart) ++
      u32(moovSize + stub.length) ++
      good.slice(moovStart + 4, (moovStart + moovSize).toInt) ++
      stub ++ good.drop((moovStart + moovSize).toInt)
    val fr = Multimodal.parseMp4Frames(out)
    assert(fr.length == 3, "stub trak must not reject the file")
  }
}
