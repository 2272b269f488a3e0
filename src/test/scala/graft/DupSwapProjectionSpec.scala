package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.genomics.SynthGeno
import graft.operators.PopGen

/** Round-12 optimization twins: the direct-from-hash projections that
  * replaced cube-construction consumers must equal the cube-derived
  * originals bit-for-bit (the restructured queries are additionally
  * oracle-gated; these pin the operator pieces in isolation). */
class DupSwapProjectionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val N = SynthGeno.nSamples

  test("dupAltCounts == alt counts read back out of the variantsDup " +
      "cubes") {
    def altCount(c: String) = (0 until N).flatMap(s0 => Seq(0, 1).map(p =>
      when(element_at(element_at(col(c), s0 + 1), p + 1) > 0, 1L)
        .otherwise(0L))).reduce(_ + _)
    val viaCube = SynthGeno.variantsDup(spark, dir)
      .select(col("chrom"), altCount("geno").as("a1"),
        altCount("geno2").as("a2"))
      .collect().map(_.toString).sorted.toSeq
    val direct = SynthGeno.dupAltCounts(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(direct == viaCube)
    assert(direct.nonEmpty)
  }

  test("sampleSwapScanCodes(dupPackedCodes) == sampleSwapScan over the " +
      "variantsDup cubes") {
    val viaCube = PopGen.sampleSwapScan(
        SynthGeno.variantsDup(spark, dir)
          .select(col("vid"), col("geno"), col("geno2")), N)
      .collect().map(_.toString).sorted.toSeq
    val viaCodes = PopGen.sampleSwapScanCodes(
        SynthGeno.dupPackedCodes(spark, dir), N)
      .collect().map(_.toString).sorted.toSeq
    assert(viaCodes == viaCube)
    assert(viaCodes.size == N)
  }
}
