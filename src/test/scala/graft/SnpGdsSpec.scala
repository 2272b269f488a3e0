package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.gds.{Gds, SnpGds}

/** SNP-GDS container support: write → read round-trip (codes per
  * FC_SNP2GDS: 2=hom-REF, 1=het normalized (0,1), 0=hom-ALT,
  * 3=missing) and both conversion directions against the CEU fixture. */
class SnpGdsSpec extends AnyFunSuite {


  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(n: String): String = java.nio.file.Files
    .createTempDirectory("graft_snpgds").toString + "/" + n

  test("write → read round-trips normalized biallelic calls") {
    import spark.implicits._
    val df = Seq(
      (10L, "1", 100, "rs10", "A,C", Seq(Seq[java.lang.Long](0L, 0L),
        Seq[java.lang.Long](0L, 1L), Seq[java.lang.Long](1L, 1L))),
      (11L, "2", 200, null.asInstanceOf[String], "G,T",
        Seq(Seq[java.lang.Long](null, null), Seq[java.lang.Long](0L, 0L),
          Seq[java.lang.Long](0L, 1L))))
      .toDF("variant_id", "chrom", "pos", "id", "allele", "geno")
    val p = tmp("rt.gds")
    SnpGds.write(df, Seq("S1", "S2", "S3"), p)
    val back = SnpGds.read(spark, p)
    assert(back.count() == 2)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
  }

  test("major.ref=TRUE swaps minor REF alleles like FC_SNP2GDS_Ref") {
    import spark.implicits._
    // snp 1: A mostly absent (codes 0) → swap; snp 2: A major → keep
    val df = Seq(
      (1L, "1", 100, "rs1", "A,C", Seq(Seq[java.lang.Long](1L, 1L),
        Seq[java.lang.Long](1L, 1L), Seq[java.lang.Long](0L, 1L))),
      (2L, "1", 200, "rs2", "G,T", Seq(Seq[java.lang.Long](0L, 0L),
        Seq[java.lang.Long](0L, 0L), Seq[java.lang.Long](0L, 1L))))
      .toDF("variant_id", "chrom", "pos", "id", "allele", "geno")
    val d = java.nio.file.Files.createTempDirectory("graft_snpgds").toString
    SnpGds.write(df, Seq("S1", "S2", "S3"), s"$d/in.gds")
    SnpGds.toSeqArray(spark, s"$d/in.gds", s"$d/out.gds", majorRef = true)
    val back = Gds.read(spark, s"$d/out.gds")
      .select(col("variant_id"), col("allele"), col("geno"))
      .orderBy("variant_id").collect()
    // snp1 swapped: allele C,A; calls flip (1,1)→(0,0), (0,1) stays
    assert(back(0).getString(1) == "C,A")
    assert(back(0).getSeq[scala.collection.Seq[Any]](2) ==
      Seq(Seq(0L, 0L), Seq(0L, 0L), Seq(0L, 1L)))
    // snp2 untouched
    assert(back(1).getString(1) == "G,T")
    assert(back(1).getSeq[scala.collection.Seq[Any]](2) ==
      Seq(Seq(0L, 0L), Seq(0L, 0L), Seq(0L, 1L)))
  }

  test("dosage SNP-GDS: write, read, and convert to a fmt_DS SeqArray file") {
    import spark.implicits._
    val df = Seq(
      (1L, "1", 100, "rs1", "A,C",
        Seq[java.lang.Float](0.0f, 1.25f, null)),
      (2L, "1", 200, "rs2", "G,T",
        Seq[java.lang.Float](2.0f, null, 0.5f)))
      .toDF("variant_id", "chrom", "pos", "id", "allele", "ds")
    val d = java.nio.file.Files.createTempDirectory("graft_snpgds").toString
    SnpGds.writeDosage(df, Seq("S1", "S2", "S3"), s"$d/dos.gds")

    // read back: ds surfaces instead of geno, NaN → null
    val back = SnpGds.read(spark, s"$d/dos.gds")
    assert(back.columns.contains("ds") && !back.columns.contains("geno"))
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)

    // seqSNP2GDS: becomes a SeqArray container with fmt_DS = 2 - ds
    SnpGds.toSeqArray(spark, s"$d/dos.gds", s"$d/seq.gds")
    val seq = Gds.read(spark, s"$d/seq.gds")
      .select(col("variant_id"), col("fmt_DS")).orderBy("variant_id")
      .collect()
    assert(seq(0).getSeq[Any](1) == Seq(2.0f, 0.75f, null))
    assert(seq(1).getSeq[Any](1) == Seq(0.0f, null, 1.5f))
    // and the existing dosage-only kernels run on it directly
    import graft.functions.genetics.dsAltCount
    val ac = Gds.read(spark, s"$d/seq.gds")
      .select(sum(dsAltCount(col("fmt_DS")))).collect()(0).getDouble(0)
    assert(math.abs(ac - (2.0 + 0.75 + 0.0 + 1.5)) < 1e-6)
  }

  test("seqGDS2SNP → seqSNP2GDS on CEU folds to REF-dosage codes") {
    val snp = tmp("ceu_snp.gds")
    SnpGds.fromSeqArray(spark, Fixtures.path("CEU_Exon.gds"), snp)
    val back = SnpGds.read(spark, snp)
    assert(back.count() == 1348)

    // code invariant: SNP-GDS genotype == pack_2b REF dosage of the
    // original cube (same any-missing fold), checked via unpacked pairs
    import graft.functions.genetics._
    val orig = Gds.read(spark, Fixtures.path("CEU_Exon.gds"))
      .select(col("variant_id"),
        unpack2b(pack2b(col("geno")), lit(90)).as("dos"))
    val folded = back.select(col("variant_id"),
      // read-back pair → REF count (null pair → null)
      transform(col("geno"), sa =>
        when(element_at(sa, 1).isNull, lit(null).cast("int"))
          .otherwise((lit(2) - element_at(sa, 1) - element_at(sa, 2))
            .cast("int"))).as("dos"))
    assert(folded.exceptAll(orig).count() == 0 &&
      orig.exceptAll(folded).count() == 0)

    // full circle back to SeqArray GDS
    val seq = tmp("ceu_back.gds")
    SnpGds.toSeqArray(spark, snp, seq)
    val circ = Gds.read(spark, seq)
      .select(col("variant_id"), col("chrom"), col("pos"), col("geno"))
    assert(circ.count() == 1348)
    // genotypes survive modulo the biallelic/missing fold: compare
    // REF-dosage of the circle against the SNP-GDS codes
    val circDos = Gds.read(spark, seq).select(col("variant_id"),
      unpack2b(pack2b(col("geno")), lit(90)).as("dos"))
    assert(circDos.exceptAll(folded).count() == 0 &&
      folded.exceptAll(circDos).count() == 0)
  }
}
