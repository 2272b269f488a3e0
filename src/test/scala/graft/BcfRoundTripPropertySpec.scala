package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Vcf
import graft.sources.bcf.{Bcf, Bgzf}

/** Metamorphic BCF codec fuzz: random ragged variants rendered to VCF
  * text, converted through the BCF typed-record writer, must read back
  * equal to the direct VCF parse — `Bcf.read ∘ writeFromVcf == Vcf.read`.
  * The BCF value encodings are corner-rich (int width selection by
  * magnitude, end-of-vector padding for ragged per-sample vectors,
  * missing sentinels per type); the CEU fixture never exercises most
  * magnitudes, so this generates them. */
class BcfRoundTripPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def draw[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val N_SAMPLES = 3

  // one VCF body line; magnitudes span the int8/int16/int32 BCF widths
  private val lineGen: Gen[Int => String] = for {
    chrom <- Gen.oneOf("1", "2", "X")
    id <- Gen.option(Gen.choose(1, 999).map(n => s"rs$n"))
    nAlt <- Gen.choose(1, 3)
    qual <- Gen.option(Gen.oneOf("0", "10.5", "3.25", "99"))
    filter <- Gen.option(Gen.oneOf("PASS", "q10"))
    ns <- Gen.option(Gen.oneOf(1, 120, 4000, 70000, 3000000))
    gts <- Gen.listOfN(N_SAMPLES, for {
      p <- Gen.choose(1, 3)
      alleles <- Gen.listOfN(p, Gen.frequency(
        (5, Gen.choose(0, nAlt).map(_.toString)),
        (2, Gen.const("."))))
      sep <- Gen.oneOf("/", "|")
    } yield alleles.mkString(if (p > 1) sep else ""))
    dps <- Gen.listOfN(N_SAMPLES, Gen.frequency(
      (2, Gen.oneOf(1, 100, 200, 30000, 2000000).map(_.toString)),
      (1, Gen.const("."))))
    ads <- Gen.listOfN(N_SAMPLES, Gen.frequency(
      (3, Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.frequency(
        (4, Gen.oneOf(0, 99, 500, 100000).map(_.toString)),
        (1, Gen.const(".")))).map(_.mkString(",")))),
      (1, Gen.const("."))))
  } yield (pos: Int) => {
    val alts = Seq("C", "T", "G").take(nAlt).mkString(",")
    val info = ns.map(v => s"NS=$v").getOrElse(".")
    val cells = gts.indices.map(i => s"${gts(i)}:${dps(i)}:${ads(i)}")
    (Seq(chrom, (1000 + pos).toString, id.getOrElse("."), "A", alts,
      qual.getOrElse("."), filter.getOrElse("."), info, "GT:DP:AD") ++
      cells).mkString("\t")
  }

  private val header = {
    val info = Seq(Vcf.FieldSpec("NS", "1", "Integer"))
    val fmt = Seq(Vcf.FieldSpec("GT", "1", "String"),
      Vcf.FieldSpec("DP", "1", "Integer"),
      Vcf.FieldSpec("AD", ".", "Integer"))
    // FILTER strings must be header-declared for the BCF dictionary
    // (htslib-compatible strictness)
    val header0 = Vcf.formatHeader(info, fmt, Seq("S1", "S2", "S3"))
    header0.init ++
      Seq("""##FILTER=<ID=q10,Description="">""") :+ header0.last
  }

  private def body(n: Int, seed: Long): Seq[String] =
    (1 to n).map(i => draw(lineGen, seed + i)(i))

  private def writeVcf(path: String, lines: Seq[String]): String = {
    Files.write(Paths.get(path),
      (header ++ lines).mkString("\n").getBytes("UTF-8"))
    path
  }

  private def bcfOf(dir: String, name: String, lines: Seq[String]): String = {
    val bcf = s"$dir/$name.bcf"
    Bcf.writeFromVcf(writeVcf(s"$dir/$name.vcf", lines), bcf)
    bcf
  }

  test("vcf -> bcf -> read equals the direct parse on random variants") {
    val dir = Files.createTempDirectory("graft_bcf_fuzz").toString
    for (round <- 1 to 3) {
      val vcfPath = writeVcf(s"$dir/fuzz_$round.vcf",
        body(50, 41000L * round))
      val bcfPath = s"$dir/fuzz_$round.bcf"
      Bcf.writeFromVcf(vcfPath, bcfPath)
      val viaBcf = Bcf.read(spark, bcfPath)
      val direct = Vcf.read(spark, vcfPath)
      assert(viaBcf.count() == 50, s"round=$round")
      assert(viaBcf.schema == direct.schema, s"round=$round")
      val a = viaBcf.collect().map(_.toSeq).toSet
      val b = direct.collect().map(_.toSeq).toSet
      assert((a diff b).isEmpty && (b diff a).isEmpty,
        s"round=$round bcf differs:\n${(a diff b).take(1)}\nvs\n" +
          s"${(b diff a).take(1)}")
    }
  }

  // ---- the vcf source's BCF branch: csi splits, shards, truncation ---------

  test("csi splits equal the whole-file read, with a .csi and without one") {
    val dir = Files.createTempDirectory("graft_bcf_split").toString
    val bcf = bcfOf(dir, "big", body(4000, 52000L))
    val len = Files.size(Paths.get(bcf))
    val firstMember = Bgzf.findBlock(bcf, 1L)
    assert(firstMember * 3 < len, s"want several members: $firstMember/$len")
    val whole = Bcf.read(spark, bcf, splitBytes = Long.MaxValue)
    assert(whole.rdd.getNumPartitions == 1)
    val rows = whole.collect().toSeq
    assert(rows.length == 4000)
    // one row per record, in file order: a dropped or doubled range shows
    def check(splitBytes: Long): Unit = {
      val split = Bcf.read(spark, bcf, splitBytes)
      assert(split.rdd.getNumPartitions > 2, s"splitBytes=$splitBytes")
      val got = split.collect().toSeq
      val same = got == rows // kept out of the assert: no row dump
      assert(same, s"splitBytes=$splitBytes: ${got.length} rows")
    }
    Seq(4096L, firstMember).foreach(check) // the writer's own .csi
    val csi = Paths.get(bcf + ".csi")
    Files.delete(csi)
    check(4096L) // builds the index by one prologue pass ...
    assert(Files.exists(csi), "first read did not persist the built csi")
    check(firstMember) // ... and reads it back
  }

  test("a directory of .bcf shards reads as its single file") {
    val lines = body(600, 53000L)
    val dir = Files.createTempDirectory("graft_bcf_shards").toString
    lines.grouped(200).zipWithIndex.foreach { case (part, i) =>
      bcfOf(dir, f"part-$i%05d", part)
      Files.delete(Paths.get(f"$dir/part-$i%05d.vcf"))
    }
    val whole = bcfOf(Files.createTempDirectory("graft_bcf_whole").toString,
      "whole", lines)
    val shards = Bcf.read(spark, dir)
    assert(shards.rdd.getNumPartitions == 3)
    val same = shards.collect().toSeq == Bcf.read(spark, whole).collect().toSeq
    assert(same)
  }

  test("a truncated bcf raises naming the file; the clean one reads whole") {
    val dir = Files.createTempDirectory("graft_bcf_cut").toString
    val src = bcfOf(dir, "src", body(300, 54000L))
    val raw = {
      val in = new Bgzf.BlockStream(src, 0L)
      try in.readAllBytes() finally in.close()
    }
    def u32(o: Int) = (raw(o) & 0xff) | ((raw(o + 1) & 0xff) << 8) |
      ((raw(o + 2) & 0xff) << 16) | ((raw(o + 3) & 0xff) << 24)
    // record starts in decompressed coordinates, after magic + l_text
    val starts = Iterator.iterate(9 + u32(5))(o => o + 8 + u32(o) + u32(o + 4))
      .takeWhile(_ < raw.length).toSeq
    assert(starts.length == 300)
    def reframed(name: String, bytes: Array[Byte]): String = {
      val p = s"$dir/$name.bcf"
      val w = new Bgzf.Writer(Files.newOutputStream(Paths.get(p)))
      try w.write(bytes) finally w.close()
      p
    }
    val clean = reframed("clean", raw)
    assert(Bcf.read(spark, clean).count() == 300) // also builds clean.bcf.csi
    val k = starts(150)
    val cuts = Seq("prologue" -> (k + 3), "body" -> (k + 8 + u32(k) / 2))
    for ((name, cut) <- cuts) {
      val p = reframed(name, java.util.Arrays.copyOf(raw, cut))
      def failure(): String = {
        val e = intercept[Exception](Bcf.read(spark, p).count())
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString("\n")
      }
      // no index: the index-building pass meets the cut on the driver
      val m1 = failure()
      assert(m1.contains(p) && m1.contains("virtual offset"), s"$name: $m1")
      // the clean file's index: the record decoder meets it in a task
      Files.copy(Paths.get(clean + ".csi"), Paths.get(p + ".csi"))
      val m2 = failure()
      assert(m2.contains(p) && m2.contains("virtual offset"), s"$name: $m2")
    }
  }
}
