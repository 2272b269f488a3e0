package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Vcf
import graft.sources.bed.Bed
import graft.sources.gds.{Gds, GdsWrite, SnpGds}

/** Executor-side sharded exports ([[graft.sources.Sharded]]): every
  * container format that is single-file by construction must also export
  * as one-container-per-chromosome-shard written on executors — no
  * driver iterator — and read back with identical rows. CEU (22
  * chromosomes, real ragged data) is the source, so each export
  * genuinely fans out. */
class ShardedExportSpec extends AnyFunSuite {


  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val core = Seq("variant_id", "chrom", "pos", "id", "allele",
    "qual", "filter", "geno", "phased")

  private def ceu = Gds.read(spark, Fixtures.path("CEU_Exon.gds"))
    .select(core.map(col): _*)
  private def samples = Gds.samples(spark, Fixtures.path("CEU_Exon.gds"))
    .orderBy("sample_ordinal").collect().map(_.getString(1)).toSeq

  test("gds: sharded export reads back equal via the directory scan") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shard_gds").toString + "/ceu"
    val metas = GdsWrite.writeSharded(ceu, samples, dir)
    assert(metas.length > 1, "CEU (22 chroms) must produce multiple shards")
    assert(metas.map(_._2).sum == 1348L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/_manifest.json")))
    // the gds source expands the directory to its shard files
    val back = Gds.read(spark, dir).select(core.map(col): _*)
    assert(back.count() == 1348)
    assert(back.exceptAll(ceu).count() == 0 && ceu.exceptAll(back).count() == 0)
    // shards cover disjoint contiguous (chrom, pos) ranges
    val spans = metas.map { case (f, _) =>
      val r = Gds.read(spark, f)
        .agg(min(struct(col("chrom"), col("pos"))).as("lo"),
          max(struct(col("chrom"), col("pos"))).as("hi"))
        .collect()(0)
      (r.getStruct(0).getString(0), r.getStruct(0).getInt(1),
        r.getStruct(1).getString(0), r.getStruct(1).getInt(1))
    }.sortBy(s => (s._1, s._2))
    spans.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._3 < b._1 || (a._3 == b._1 && a._4 <= b._2),
          s"shard spans overlap: $a vs $b")
      case _ =>
    }
  }

  test("bed: sharded triplets union to the single-file export") {
    import graft.functions.genetics.pack2b
    val shaped = ceu.select(col("variant_id"), col("chrom"), col("pos"),
      coalesce(col("id"), concat(lit("v"), col("variant_id"))).as("id"),
      col("allele"), pack2b(col("geno")).as("pg"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shard_bed").toString + "/ceu"
    val metas = Bed.writeSharded(shaped, "variant_id", samples, dir)
    assert(metas.length > 1 && metas.map(_._2).sum == 1348L)
    val parts = metas.map { case (f, _) =>
      Bed.read(spark, f.stripSuffix(".bed"))
    }.reduce(_ unionAll _)
    val single = java.nio.file.Files
      .createTempDirectory("graft_single_bed").toString + "/ceu"
    Bed.write(shaped, "variant_id", samples, single)
    val whole = Bed.read(spark, single)
    val a = parts.select("chrom", "pos", "id", "pg")
    val b = whole.select("chrom", "pos", "id", "pg")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("snp-gds: sharded containers union to the single-file export") {
    val src = ceu.select(col("variant_id"), col("chrom"), col("pos"),
      col("id"), col("allele"), col("geno"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shard_snp").toString + "/ceu"
    val metas = SnpGds.writeSharded(src, samples, dir)
    assert(metas.length > 1 && metas.map(_._2).sum == 1348L)
    val parts = metas.map { case (f, _) => SnpGds.read(spark, f) }
      .reduce(_ unionAll _)
    val single = java.nio.file.Files
      .createTempDirectory("graft_single_snp").toString + "/ceu.gds"
    SnpGds.write(src, samples, single)
    val whole = SnpGds.read(spark, single)
    val cols = Seq("chrom", "pos", "id", "allele", "geno")
    val a = parts.select(cols.map(col): _*)
    val b = whole.select(cols.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("seqVCF2GDS sharded: import lands as a readable shard directory") {
    import graft.api.SeqArray
    val dir = java.nio.file.Files
      .createTempDirectory("graft_v2g_shard").toString + "/ceu"
    val metas = SeqArray.seqVCF2GDSSharded(spark,
      Fixtures.path("CEU_Exon.vcf.gz"), dir)
    assert(metas.length > 1 && metas.map(_._2).sum == 1348L)
    val back = Gds.read(spark, dir)
      .select("chrom", "pos", "allele", "geno", "phased")
    val direct = Vcf.read(spark, Fixtures.path("CEU_Exon.vcf.gz"))
      .select("chrom", "pos", "allele", "geno", "phased")
    assert(back.exceptAll(direct).count() == 0 &&
      direct.exceptAll(back).count() == 0)
  }

  test("bcf: sharded binary parts (+csi each) union to the gds scan") {
    import graft.api.SeqArray
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shard_bcf").toString + "/ceu"
    val metas = SeqArray.seqGDS2BCFSharded(spark,
      Fixtures.path("CEU_Exon.gds"), dir)
    assert(metas.length > 1 && metas.map(_._2).sum == 1348L)
    metas.foreach { case (f, _) =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(f + ".csi")), f)
    }
    // the directory reads back directly as one frame
    val parts = graft.sources.bcf.Bcf.read(spark, dir)
    val cols = Seq("chrom", "pos", "allele", "geno", "phased")
    val a = parts.select(cols.map(col): _*)
    val b = ceu.select(cols.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("vcf: sharded bgzf parts parse back equal to the gds scan") {
    import graft.api.SeqArray
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shard_vcf").toString + "/ceu"
    val metas = SeqArray.seqGDS2VCFSharded(spark,
      Fixtures.path("CEU_Exon.gds"), dir)
    assert(metas.length > 1 && metas.map(_._2).sum == 1348L)
    // the directory reads back directly as one text scan
    val parts = Vcf.read(spark, dir)
    assert(parts.count() == 1348)
    // core fields round-trip (GT-only FORMAT export)
    val a = parts.select("chrom", "pos", "allele", "geno", "phased")
    val b = ceu.select("chrom", "pos", "allele", "geno", "phased")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("seqVCF2GDS of a seqGDS2VCFSharded directory keeps the genotypes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.api.SeqArray
    val dir = java.nio.file.Files.createTempDirectory("graft_vcf_dir").toString
    val rnd = new scala.util.Random(20261019L)
    val samples = Seq("S1", "S2", "S3", "S4")
    val rows = (1 to 80).map { v =>
      Row(v.toLong, s"${1 + (v - 1) / 20}", v * 100, "A,G",
        Seq.fill(4)(Seq.fill(2)(
          if (rnd.nextInt(9) == 0) null else Long.box(rnd.nextInt(2).toLong))),
        Seq.fill(4)(rnd.nextBoolean()))
    }
    val schema = StructType(Seq(
      StructField("variant_id", LongType, nullable = false),
      StructField("chrom", StringType), StructField("pos", IntegerType),
      StructField("allele", StringType),
      StructField("geno", ArrayType(ArrayType(LongType))),
      StructField("phased", ArrayType(BooleanType))))
    GdsWrite.write(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema), samples,
      s"$dir/src.gds")
    val shards = SeqArray.seqGDS2VCFSharded(spark, s"$dir/src.gds",
      s"$dir/vcf")
    assert(shards.length >= 2, shards.toString)
    // the sample ids come from the directory's first shard
    SeqArray.seqVCF2GDS(spark, s"$dir/vcf", s"$dir/back.gds")
    val cols = Seq("chrom", "pos", "allele", "geno", "phased")
    val a = Gds.read(spark, s"$dir/src.gds").select(cols.map(col): _*)
    val b = Gds.read(spark, s"$dir/back.gds").select(cols.map(col): _*)
    assert(b.count() == 80)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(Gds.samples(spark, s"$dir/back.gds").orderBy("sample_ordinal")
      .collect().map(_.getString(1)).toSeq == samples)
  }
}
