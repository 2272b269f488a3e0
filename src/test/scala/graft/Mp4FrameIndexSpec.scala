package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Round-7 gates: the MP4 sample-table frame index (expansion rules,
  * 32/64-bit chunk tables, rejection of inconsistent tables), the
  * q274 ≥Cap-token exact-repeat case the array_position sentinel bug
  * silently dropped (two identical docs in the doc_id % 5 = 0 sample),
  * and the q279 sub-4-token-document guard (descending-sequence slice
  * throw when the n >= G filter doesn't push below the Generate). */
class Mp4FrameIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def q(name: String) =
    graft.queries.TextDedup.queries.find(_.name == name).get

  private def writeDocs(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("r7docs").toString
    docs.toDF("doc_id", "text").coalesce(1).write
      .mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---- MP4 frame index -------------------------------------------------

  test("parseMp4Frames resolves per-sample (offset, size, pts) from " +
      "stsz/stco/stts/stsc — per-sample sizes, 32-bit chunk table") {
    val b = Multimodal.syntheticMp4(durMs = 2000, width = 320,
      height = 180, mdatLen = 10, frames = 4, frameSizeBase = 100,
      chunkOffset = 5000L)
    val fr = Multimodal.parseMp4Frames(b)
    assert(fr.map(_.handler).distinct == Seq("vide")) // soun has no stbl
    assert(fr.map(_.idx) == Seq(0, 1, 2, 3))
    assert(fr.map(_.size) == Seq(100L, 101L, 102L, 103L))
    assert(fr.map(_.offset) == Seq(5000L, 5100L, 5201L, 5303L))
    assert(fr.map(_.pts) == Seq(0L, 3000L, 6000L, 9000L))
    assert(fr.forall(_.timescale == 90000L))
  }

  test("parseMp4Frames: uniform stsz + 64-bit co64 offsets past 2^32") {
    val base = 0x1_2345_6789L // needs the 64-bit table
    val b = Multimodal.syntheticMp4(durMs = 1000, width = 160,
      height = 90, mdatLen = 0, frames = 3, frameSizeBase = 250,
      co64 = true, uniformSize = true, chunkOffset = base)
    val fr = Multimodal.parseMp4Frames(b)
    assert(fr.map(_.size) == Seq(250L, 250L, 250L))
    assert(fr.map(_.offset) == Seq(base, base + 250, base + 500))
  }

  test("parseMp4Frames expands multi-run stts and multi-chunk stsc") {
    // hand-build a stbl: 2 stts runs (2×10, 3×20), 2 chunks
    // (stsc: first_chunk 1 → 2 samples, first_chunk 2 → 3 samples),
    // per-sample sizes 5,6,7,8,9, chunks at 100 and 1000
    def u32(v: Long) = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      (v & 0xff).toByte)
    def box(t: String, body: Array[Byte]) =
      u32(body.length + 8L) ++ t.getBytes("ISO-8859-1") ++ body
    val stts = box("stts", u32(0) ++ u32(2) ++
      u32(2) ++ u32(10) ++ u32(3) ++ u32(20))
    val stsc = box("stsc", u32(0) ++ u32(2) ++
      u32(1) ++ u32(2) ++ u32(1) ++ u32(2) ++ u32(3) ++ u32(1))
    val stsz = box("stsz", u32(0) ++ u32(0) ++ u32(5) ++
      (5 to 9).flatMap(u32(_)).toArray)
    val stco = box("stco", u32(0) ++ u32(2) ++ u32(100) ++ u32(1000))
    val mdhd = box("mdhd", Array[Byte](0, 0, 0, 0) ++ u32(0) ++ u32(0) ++
      u32(90000) ++ u32(0) ++ Array[Byte](0x55.toByte, 0xc4.toByte, 0, 0))
    val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0) ++ u32(0) ++
      "vide".getBytes("ISO-8859-1") ++ new Array[Byte](12) ++
      Array[Byte](0))
    val trak = box("trak", box("mdia", mdhd ++ hdlr ++
      box("minf", box("stbl", stts ++ stsc ++ stsz ++ stco))))
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ u32(0) ++ u32(0) ++
      u32(1000) ++ u32(1000) ++ new Array[Byte](80))
    val file = box("ftyp", "isom".getBytes("ISO-8859-1") ++ u32(0)) ++
      box("moov", mvhd ++ trak)
    val fr = Multimodal.parseMp4Frames(file)
    assert(fr.map(_.offset) == Seq(100L, 105L, 1000L, 1007L, 1015L))
    assert(fr.map(_.pts) == Seq(0L, 10L, 20L, 40L, 60L))
    assert(fr.map(_.size) == Seq(5L, 6L, 7L, 8L, 9L))
  }

  test("parseMp4Frames REJECTS inconsistent tables (never silently-" +
      "wrong offsets): stsz/stts count mismatch, stsc past the chunk " +
      "list, samples beyond the last chunk, truncated container") {
    val good = Multimodal.syntheticMp4(durMs = 1000, width = 160,
      height = 90, mdatLen = 0, frames = 4, frameSizeBase = 100)
    assert(Multimodal.parseMp4Frames(good).nonEmpty)
    def patched(find: Array[Byte], repl: Array[Byte]): Array[Byte] = {
      val idx = good.toSeq.indexOfSlice(find.toSeq)
      assert(idx >= 0, "pattern not found")
      val out = good.clone()
      repl.zipWithIndex.foreach { case (v, j) => out(idx + j) = v }
      out
    }
    def u32(v: Long) = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      (v & 0xff).toByte)
    // stts says 5 samples but stsz says 4 → reject
    val sttsRun = "stts".getBytes("ISO-8859-1") ++ u32(0) ++ u32(1) ++
      u32(4)
    val badCount = patched(sttsRun,
      "stts".getBytes("ISO-8859-1") ++ u32(0) ++ u32(1) ++ u32(5))
    assert(Multimodal.parseMp4Frames(badCount).isEmpty)
    // stsc's only run starts at chunk 2 but stco has 1 chunk → reject
    val stscRun = "stsc".getBytes("ISO-8859-1") ++ u32(0) ++ u32(1) ++
      u32(1)
    val badChunk = patched(stscRun,
      "stsc".getBytes("ISO-8859-1") ++ u32(0) ++ u32(1) ++ u32(2))
    assert(Multimodal.parseMp4Frames(badChunk).isEmpty)
    // samples-per-chunk 2 with one chunk leaves samples unmapped → reject
    val stscSpc = "stsc".getBytes("ISO-8859-1") ++ u32(0) ++ u32(1) ++
      u32(1) ++ u32(4)
    val badSpc = patched(stscSpc,
      "stsc".getBytes("ISO-8859-1") ++ u32(0) ++ u32(1) ++
        u32(1) ++ u32(2))
    assert(Multimodal.parseMp4Frames(badSpc).isEmpty)
    // truncation mid-moov → no frames, no throw
    assert(Multimodal.parseMp4Frames(good.take(60)).isEmpty)
    assert(Multimodal.parseMp4Frames(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("streaming MP4 frame-index == batch on the same containers " +
      "(stream==batch parity for the sample-table resolver)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    val rows = (1L to 40L).map { id =>
      Multimodal.MediaRow(id, "video", Multimodal.syntheticMp4(
        durMs = id % 9000 + 1000, width = 160, height = 90,
        mdatLen = (id % 7).toInt, frames = (id % 5 + 2).toInt,
        frameSizeBase = ((id % 4) + 1).toInt * 50,
        co64 = id % 3 == 0, uniformSize = id % 5 == 0,
        chunkOffset = 2048L + id))
    }
    val mem = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodeMp4FramesAll(mem.toDS())
      .writeStream.format("memory").queryName("mp4_frames_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows.take(15))
      q.processAllAvailable()
      mem.addData(rows.drop(15))
      q.processAllAvailable()
      val streamed = spark.table("mp4_frames_stream")
      val batch = Multimodal.decodeMp4FramesAll(
        rows.toDS()).toDF()
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  // ---- integer-token PageRank -----------------------------------------

  test("pageRankInt == independent in-memory token replay (dangling " +
      "node, multi-in-degree, 3 rounds)") {
    import spark.implicits._
    // 1→2, 2→3, 3→1, 4→1, 1→5; node 5 is dangling
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (1L, 5L))
    val iters = 3
    val scale = 1000000L
    val got = graft.operators.Graphs
      .pageRankInt(edges.toDF("src", "dst"), iters, scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: plain Scala maps, same integer formula
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = nodes.size.toLong
    val base = 15L * scale / 100L
    var mass = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val dangle = nodes.filter(v => !out.contains(v)).map(mass).sum
      val inflow = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        mass(u) / out(u)
      }.sum).toMap
      mass = nodes.map(v => v ->
        (base + 85L * (inflow.getOrElse(v, 0L) + dangle / n) / 100L))
        .toMap
    }
    assert(got == mass, s"$got vs $mass")
  }

  test("EHH decay on the real CEU fixture: every core's EHH is " +
      "monotone non-increasing in the extension, bounded in [0,1], " +
      "and counts all 2S haplotypes") {
    val v = graft.sources.Vcf
      .read(spark, Fixtures.path("CEU_Exon.vcf.gz"))
      .select(col("pos").cast("long").as("vid"), col("chrom"),
        col("pos").cast("long").as("pos"), col("geno"))
    val nS = 90 // CEU_Exon sample count
    val r = graft.operators.PopGen
      .ehhDecay(v, nSamples = nS, coreEvery = 50L, maxExt = 8,
        exts = Seq(1, 2, 4, 8))
      .collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Long]("n_haps") == 2L * nS))
    assert(r.forall { x =>
      val e = x.getAs[Double]("ehh"); e >= 0.0 && e <= 1.0
    })
    // monotone: a longer extension refines the haplotype partition,
    // so sum n_g(n_g-1) can only drop
    val byCore = r.groupBy(x => (x.getAs[String]("chrom"),
      x.getAs[Long]("core_rank")))
    for ((_, rows) <- byCore) {
      val seq = rows.sortBy(_.getAs[Long]("ext"))
        .map(_.getAs[Long]("ehh_num"))
      assert(seq.zip(seq.tail).forall { case (a, b) => b <= a },
        s"non-monotone EHH: ${seq.mkString(",")}")
    }
  }

  // ---- q274 full-Cap exact repeat (the array_position sentinel) -------

  test("q274 keeps full-Cap-token exact repeats: two identical docs in " +
      "the %5 sample must surface lcp = Cap, not vanish at lcp = -1") {
    val forty = (1 to 40).map(i => s"w$i").mkString(" ")
    val dir = writeDocs(Seq(
      (5L, forty), (10L, forty),          // identical, both in sample
      (15L, "alpha beta gamma delta"),    // unrelated sampled doc
      (7L, forty)))                       // identical but NOT sampled
    val rows = q("q274_longest_repeat").fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val top = rows.minBy(_.getAs[Long]("rank"))
    assert(top.getAs[Long]("lcp") == graft.operators.SuffixArray.Cap,
      s"top lcp: ${top.getAs[Long]("lcp")}")
    // the repeat is between docs 5 and 10 (7 is filtered out)
    val pairDocs = Set(top.getAs[Long]("da"), top.getAs[Long]("db"))
    assert(pairDocs == Set(5L, 10L))
  }

  // ---- q279 sub-G-token documents --------------------------------------

  test("q279 survives documents shorter than the gram width and " +
      "counts them only in the denominator") {
    val dir = writeDocs(Seq(
      (1L, "a b c d e a b c d e"), // fully covered (two repeated 4-grams)
      (2L, "x y"),                 // 2 tokens: would throw unguarded
      (3L, "p q r s t")))          // unique 4-grams
    val r = q("q279_duplication_mass").fn(spark, dir).collect().head
    assert(r.getAs[Long]("n_tokens") == 17L)
    assert(r.getAs[Long]("n_covered") == 10L)
    assert(math.abs(r.getAs[Double]("dup_frac") - 10.0 / 17.0) < 1e-12)
  }

  // ---- q280 cross-doc 50-token spans via the cap-64 suffix array ------

  test("q280 finds cross-document 50-token spans and excludes " +
      "same-doc-only repeats") {
    val span = (1 to 60).map(i => s"t$i").mkString(" ")
    val selfRep = ((1 to 30).map(i => s"s$i") ++ (1 to 30).map(i => s"s$i"))
      .mkString(" ") // 60 tokens, internal 30-token repeat only
    val dir = writeDocs(Seq(
      (1L, span + " one"), (2L, span + " two"), // shared 60-token prefix
      (3L, selfRep),
      (4L, (1 to 55).map(i => s"u$i").mkString(" "))))
    val rows = q("q280_sa_substring_dedup").fn(spark, dir).collect()
    assert(rows.nonEmpty)
    // docs 1,2 share 60 tokens ⇒ 11 distinct cross-doc 50-gram spans
    assert(rows.head.getAs[Long]("n_spans") == 11L)
    assert(rows.head.getAs[Long]("n_occurrences") == 22L)
    assert(rows.forall(_.getAs[Long]("n_docs") >= 2L))
  }
}
