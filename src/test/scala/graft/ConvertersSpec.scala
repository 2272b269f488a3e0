package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.SeqArray
import graft.functions.genetics._
import graft.sources.gds.Gds

/** File-level converter chain on the real CEU fixture: the reference's
  * seqVCF2GDS / seqGDS2VCF / seqGDS2BED / seqBED2GDS / seqGDS2SNP entry
  * points now produce actual files; each leg is checked against the
  * in-memory parse it must preserve. */
class ConvertersSpec extends AnyFunSuite {

  private val core = Seq("chrom", "pos", "id", "allele", "geno", "phased")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def dir(): String =
    java.nio.file.Files.createTempDirectory("graft_conv").toString

  test("seqVCF2GDS writes a .gds equal to the VCF parse; seqGDS2VCF inverts") {
    val d = dir()
    SeqArray.seqVCF2GDS(spark, Fixtures.path("CEU_Exon.vcf.gz"), s"$d/ceu.gds")
    val fromGds = SeqArray.openGds(spark, s"$d/ceu.gds")
    val fromVcf = SeqArray.openVcf(spark, Fixtures.path("CEU_Exon.vcf.gz"))
    // every info_*/fmt_* column survives the container round trip too
    val full = core ++ fromVcf.variants.columns
      .filter(c => c.startsWith("info_") || c.startsWith("fmt_"))
    assert(fromGds.variants.columns.toSet.intersect(full.toSet) == full.toSet,
      s"missing columns: ${full.toSet -- fromGds.variants.columns.toSet}")
    val a = fromGds.variants.select(full.map(col): _*)
    val b = fromVcf.variants.select(full.map(col): _*)
    assert(a.count() == 1348)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(fromGds.samples.get.count() == 90)

    // back out to VCF text and re-parse: core fields AND every info_*
    // annotation survive (the export rebuilds ##INFO header lines from
    // the schema and assembles the INFO column from info_* values); the
    // .gz flavor writes real BGZF members that our splittable scan reads
    val infoCols = fromVcf.variants.columns.filter(_.startsWith("info_"))
    assert(infoCols.nonEmpty)
    for (out <- Seq(s"$d/ceu_out.vcf", s"$d/ceu_out.vcf.gz")) {
      SeqArray.seqGDS2VCF(spark, s"$d/ceu.gds", out)
      if (out.endsWith(".gz"))
        assert(graft.sources.bcf.Bgzf.isBgzfFile(out))
      val cols = Seq("chrom", "pos", "allele", "geno", "phased") ++ infoCols
      val reparsed = SeqArray.openVcf(spark, out).variants
      assert(infoCols.forall(reparsed.columns.contains), out)
      val a2 = reparsed.select(cols.map(col): _*)
      val b2 = b.select(cols.map(col): _*)
      assert(a2.exceptAll(b2).count() == 0 &&
        b2.exceptAll(a2).count() == 0, out)
    }
  }

  test("seqGDS2VCF exports FORMAT fields; sample_cells codegen == eval") {
    import spark.implicits._
    import graft.sources.gds.GdsWrite
    // synthetic cohort with DP (int) and DS (float) per-sample matrices
    val nS = 4
    val src = (1 to 40).map { v =>
      val geno = (0 until nS).map(s => Seq[java.lang.Long](
        ((v + s) % 3 - 1) match { case -1 => null; case a => a.toLong },
        (s % 2).toLong))
      val phased = (0 until nS).map(s => (v + s) % 2 == 0)
      val dp = (0 until nS).map(s =>
        if ((v + s) % 5 == 0) null
        else java.lang.Integer.valueOf((v * 3 + s) % 60))
      val ds = (0 until nS).map(s =>
        if ((v + s) % 7 == 0) null
        else java.lang.Float.valueOf(((v + s) % 20) * 0.1f))
      (v.toLong, "c" + (v % 3 + 1), v * 7, geno, phased, dp, ds)
    }.toDF("variant_id", "chrom", "pos", "geno", "phased", "fmt_DP",
      "fmt_DS").withColumn("allele", lit("A,C"))
    val d = dir()
    GdsWrite.write(src, (1 to nS).map("S" + _), s"$d/fmt.gds")
    SeqArray.seqGDS2VCF(spark, s"$d/fmt.gds", s"$d/fmt.vcf")
    val reparsed = SeqArray.openVcf(spark, s"$d/fmt.vcf").variants
    assert(reparsed.columns.contains("fmt_DP") &&
      reparsed.columns.contains("fmt_DS"))
    val cols = Seq("chrom", "pos", "geno", "phased", "fmt_DP", "fmt_DS")
    val a = reparsed.select(cols.map(col): _*)
    val b = src.select(cols.map(col): _*)
    assert(a.count() == 40)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)

    // kernel differential: generated and interpreted paths agree, and
    // the no-fields case matches gtStrings
    import graft.functions.genetics.{gtStrings, sampleCells}
    val probe = src.select(col("variant_id"),
      sampleCells(col("geno"), col("phased"), "\t",
        Seq(col("fmt_DP").cast("array<string>"))).as("cells"),
      sampleCells(col("geno"), col("phased"), "\t", Nil).as("gtonly"),
      gtStrings(col("geno"), col("phased"), "\t").as("gt"))
    val modes = Seq("CODEGEN_ONLY", "NO_CODEGEN").map { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try probe.orderBy("variant_id").collect().map(_.toSeq).toSeq
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(modes(0) == modes(1))
    assert(probe.filter(col("gtonly") =!= col("gt")).count() == 0)
  }

  test("seqGDS2BCF: direct binary export reads back equal to the gds scan") {
    val d = dir()
    SeqArray.seqGDS2BCF(spark, Fixtures.path("CEU_Exon.gds"), s"$d/ceu.bcf")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$d/ceu.bcf.csi")))
    val back = graft.sources.bcf.Bcf.read(spark, s"$d/ceu.bcf")
    val cols = Seq("chrom", "pos", "allele", "geno", "phased") ++
      back.columns.filter(_.startsWith("info_"))
    val orig = Gds.read(spark, Fixtures.path("CEU_Exon.gds"))
    assert(cols.forall(orig.columns.contains),
      cols.filterNot(orig.columns.contains).mkString(","))
    val a = back.select(cols.map(col): _*)
    val b = orig.select(cols.map(col): _*)
    assert(a.count() == 1348)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("seqGDS2BED → seqBED2GDS preserves the REF-dosage fold") {
    val d = dir()
    SeqArray.seqGDS2BED(spark, Fixtures.path("CEU_Exon.gds"), s"$d/ceu")
    SeqArray.seqBED2GDS(spark, s"$d/ceu", s"$d/ceu_back.gds")
    val back = Gds.read(spark, s"$d/ceu_back.gds")
      .select(col("chrom"), col("pos"), col("id"),
        unpack2b(pack2b(col("geno")), lit(90)).as("dos"))
    val orig = Gds.read(spark, Fixtures.path("CEU_Exon.gds"))
      .select(col("chrom"), col("pos"),
        coalesce(col("id"), concat(lit("v"), col("variant_id"))).as("id"),
        unpack2b(pack2b(col("geno")), lit(90)).as("dos"))
    assert(back.count() == 1348)
    assert(back.exceptAll(orig).count() == 0 &&
      orig.exceptAll(back).count() == 0)
  }

  test("seqGDS2SNP → seqSNP2GDS chain lands back in a SeqArray container") {
    val d = dir()
    SeqArray.seqGDS2SNP(spark, Fixtures.path("CEU_Exon.gds"), s"$d/ceu_snp.gds")
    SeqArray.seqSNP2GDS(spark, s"$d/ceu_snp.gds", s"$d/ceu_seq.gds")
    val back = SeqArray.openGds(spark, s"$d/ceu_seq.gds")
    assert(back.variants.count() == 1348)
    assert(back.samples.get.count() == 90)
  }
}
