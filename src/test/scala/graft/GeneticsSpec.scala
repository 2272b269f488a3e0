package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.HofTwins._
import graft.functions.genetics._

/** Hand-computed golden values for the genetics kernels, mirroring the
  * reference's golden-aggregate tests (inst/unitTests/test_func.R:45-90),
  * plus differential tests of the custom codegen expressions against the
  * declarative higher-order-function formulations (in both codegen and
  * interpreted execution), and 1-partition == N-partition equivalence
  * (test_func.R:57). */
class GeneticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // 3 samples, diploid: (0/1), (./1), (0/0); as a local and an
  // RDD-backed frame, so both the interpreted and the generated kernel
  // produce the golden values
  private def genoDfs = FrameModes.frames(spark, Seq(
      (1L, Seq(Seq[java.lang.Long](0L, 1L), Seq[java.lang.Long](null, 1L),
        Seq[java.lang.Long](0L, 0L)), Seq(false, false, true)),
      (2L, Seq(Seq[java.lang.Long](null, null), Seq[java.lang.Long](2L, 1L),
        Seq[java.lang.Long](1L, 1L)), Seq(true, false, false))),
    "vid", "geno", "phased")

  test("allele freq / count / missing golden values") {
    for ((mode, genoDf) <- genoDfs) {
      val r = genoDf.select(col("vid"),
          nCalledAlleles(col("geno")).as("called"),
          alleleCount(col("geno"), lit(0)).as("ac0"),
          alleleFreq(col("geno"), lit(0)).as("af0"),
          missingRate(col("geno")).as("miss"))
        .orderBy("vid").collect()
      assert(r(0).getLong(1) == 5, mode)
      assert(r(0).getLong(2) == 3, mode)
      assert(math.abs(r(0).getDouble(3) - 3.0 / 5) < 1e-12, mode)
      assert(math.abs(r(0).getDouble(4) - 1.0 / 6) < 1e-12, mode)
      assert(r(1).getLong(1) == 4, mode)
      assert(r(1).getLong(2) == 0, mode)
      assert(r(1).getDouble(3) == 0.0, mode)
      assert(math.abs(r(1).getDouble(4) - 2.0 / 6) < 1e-12, mode)
    }
  }

  test("dosage alt with missing → null") {
    for ((mode, genoDf) <- genoDfs) {
      val r = genoDf.select(col("vid"), dosageAlt(col("geno")).as("dos"))
        .orderBy("vid").collect()
      assert(r(0).getSeq[Any](1) == Seq(1L, null, 0L), mode)
      assert(r(1).getSeq[Any](1) == Seq(null, 2L, 2L), mode)
    }
  }

  test("dosage_alt2 counts through partial missingness") {
    // (./1) contributes its known alt; only (./.) is null
    for ((mode, genoDf) <- genoDfs) {
      val r = genoDf.select(col("vid"), dosageAlt2(col("geno")).as("dos"))
        .orderBy("vid").collect()
      assert(r(0).getSeq[Any](1) == Seq(1L, 1L, 0L), mode)
      assert(r(1).getSeq[Any](1) == Seq(null, 2L, 2L), mode)
    }
  }

  test("per-sample missing counts") {
    for ((mode, genoDf) <- genoDfs) {
      val r = genoDf.select(col("vid"), missPerSample(col("geno")).as("mc"))
        .orderBy("vid").collect()
      assert(r(0).getSeq[Int](1) == Seq(0, 1, 0), mode)
      assert(r(1).getSeq[Int](1) == Seq(2, 0, 0), mode)
    }
  }

  test("GT strings honor phase and missing") {
    for ((mode, genoDf) <- genoDfs) {
      val r = genoDf.select(col("vid"),
          gtStrings(col("geno"), col("phased"), ";").as("gts"))
        .orderBy("vid").collect()
      assert(r(0).getString(1) == "0/1;./1;0|0", mode)
      assert(r(1).getString(1) == ".|.;2/1;1/1", mode)
    }
  }

  test("codegen kernels == declarative HOF reference, both execution modes") {
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val v = graft.genomics.SynthGeno.variants(spark, "/root/testdata/sf0.001")
        val diff = v.select(
            nCalledAlleles(col("geno")).as("a1"),
            nCalledAllelesHof(col("geno")).cast("long").as("b1"),
            alleleCount(col("geno"), lit(1)).as("a2"),
            alleleCountHof(col("geno"), lit(1)).cast("long").as("b2"),
            dosageAlt(col("geno")).as("a3"),
            dosageAltHof(col("geno")).cast("array<long>").as("b3"),
            gtStrings(col("geno"), col("phased"), ";").as("a4"),
            gtStringsHof(col("geno"), col("phased"), ";").as("b4"))
          .filter(col("a1") =!= col("b1") || col("a2") =!= col("b2") ||
            !(col("a3") === col("b3")) || col("a4") =!= col("b4"))
          .count()
        assert(diff == 0, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("null sample arrays: stats count a missing call, gt renders dot") {
    for ((mode, df) <- FrameModes.frames(spark, Seq(
        (1L, Seq(Seq[java.lang.Long](0L, 1L), null), Seq(false, false)),
        (2L, null, null)),
        "vid", "geno", "phased")) {
      val rs = df.orderBy("vid").select(
        genoStats(col("geno"), lit(0)).as("st"),
        missPerSample(col("geno")).as("mc"),
        gtStrings(col("geno"), col("phased"), ";").as("gts")).collect()
      val r = rs(0)
      assert(r.getSeq[Long](0) == Seq(2L, 2L, 1L, 1L, 0L), mode)
      assert(r.getSeq[Int](1) == Seq(0, -1), mode)
      assert(r.getString(2) == "0/1;.", mode)
      // a null genotype row stays null through every kernel
      assert((0 until 3).forall(rs(1).isNullAt), mode)
    }
  }

  test("2-bit codec round-trips and packs 4 samples per byte") {
    for ((mode, genoDf) <- genoDfs) {
      val r = genoDf.select(col("vid"),
          unpack2b(pack2b(col("geno")), lit(3)).as("d"),
          octet_length(pack2b(col("geno"))).as("nb"))
        .orderBy("vid").collect()
      // (0/1), (./1), (0/0) → ref dosages 1, null, 2
      assert(r(0).getSeq[Any](1) == Seq(1, null, 2), mode)
      // (./.), (2/1), (1/1) → null, 0, 0
      assert(r(1).getSeq[Any](1) == Seq(null, 0, 0), mode)
      assert(r.forall(_.getInt(2) == 1), mode)
    }
  }

  test("allele string parsing") {
    import spark.implicits._
    val df = Seq(("A,C", 1L), ("TTA,G,C", 2L)).toDF("allele", "vid")
    val r = df.select(numAllele(col("allele")), refAllele(col("allele")),
      altAlleles(col("allele"))).collect()
    assert(r(0).getInt(0) == 2 && r(0).getString(1) == "A" &&
      r(0).getSeq[String](2) == Seq("C"))
    assert(r(1).getInt(0) == 3 && r(1).getString(1) == "TTA" &&
      r(1).getSeq[String](2) == Seq("G", "C"))
  }

  test("serial == parallel partitioning for aggregates") {
    val dir = "/root/testdata/sf0.001"
    val v = graft.genomics.SynthGeno.variants(spark, dir)
    val agg1 = v.coalesce(1).select(sum(nCalledAlleles(col("geno"))),
      sum(alleleCount(col("geno"), lit(0)))).collect()(0)
    val aggN = v.repartition(7).select(sum(nCalledAlleles(col("geno"))),
      sum(alleleCount(col("geno"), lit(0)))).collect()(0)
    assert(agg1 == aggN)
  }

  test("multiallelic split follows the bcftools norm -m- genotype rule") {
    import spark.implicits._
    // nall=3: samples 0/1, 2/2, ./0 — alt 1 sees the 1, alt 2 sees the
    // 2s; other CALLED alleles recode to 0, missing stays missing
    val df = Seq((1L, 3,
        Seq(Seq[java.lang.Long](0L, 1L), Seq[java.lang.Long](2L, 2L),
          Seq[java.lang.Long](null, 0L))))
      .toDF("vid", "nall", "geno")
    val got = graft.operators.SplitMultiallelic(df)
      .orderBy("alt_index")
      .select("alt_index", "nall", "geno")
      .collect()
    def cube(r: org.apache.spark.sql.Row, i: Int): List[List[Any]] =
      r.getSeq[scala.collection.Seq[Any]](i).map(_.toList).toList
    assert(got.length == 2)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got.forall(_.getInt(1) == 2))
    assert(cube(got(0), 2) ==
      List(List(0L, 1L), List(0L, 0L), List(null, 0L)))
    assert(cube(got(1), 2) ==
      List(List(0L, 0L), List(1L, 1L), List(null, 0L)))
    // biallelic passthrough: one record, identical cube
    val bi = Seq((2L, 2, Seq(Seq[java.lang.Long](0L, 1L))))
      .toDF("vid", "nall", "geno")
    val b = graft.operators.SplitMultiallelic(bi)
      .select("alt_index", "nall", "geno").collect()
    assert(b.length == 1 && cube(b(0), 2) == List(List(0L, 1L)))
  }
}
