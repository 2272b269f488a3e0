package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{SeqArray, SeqVarData}
import graft.functions.genetics._
import graft.sources.gds.GdsWrite

/** Cohort-width scans without fixtures: the gds source's genotype-call
  * split floor, the partition bound of a pushed-filter scan, and one
  * GenoStats kernel per row in the AF, missing-rate and filter plans (the
  * planes kernel, GenoStatsRaw, over a gds relation).
  * Containers are written with [[GdsWrite]]. */
class CohortScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `nVar` biallelic diploid variants × `nS` samples, ~5% missing
    * alleles, variant 7 with no called allele; `perChrom` variants per
    * chromosome, positions 100, 200, … restarting on each. */
  private def write(nVar: Int, nS: Int, perChrom: Int): String = {
    val v = col("variant_id")
    def allele(s: Column, j: Int): Column = {
      val h = pmod(xxhash64(v, s, lit(j)), lit(20L))
      when(v === 7 || h === 0, lit(null).cast("long"))
        .when(h < 4, lit(1L)).otherwise(lit(0L))
    }
    val df = spark.range(nVar).toDF("variant_id")
      .select(v,
        (v / perChrom + 1).cast("long").cast("string").as("chrom"),
        ((v % perChrom + 1) * 100).cast("int").as("pos"),
        lit("A,G").as("allele"),
        transform(sequence(lit(0), lit(nS - 1)),
          s => array(allele(s, 0), allele(s, 1))).as("geno"))
      .orderBy(v)
    val out = java.nio.file.Files.createTempDirectory("graft_cohort")
      .toString + s"/c${nS}x$nVar.gds"
    GdsWrite.write(df, (0 until nS).map(i => s"S$i"), out, "ZIP_ra")
    out
  }

  // 1,000 samples: a floor of ⌈131,072 / 2,000⌉ = 66 variants, below
  // 600 / defaultParallelism for up to 8 cores; 12 chromosomes of 50
  private lazy val wide = write(600, 1000, 50)
  private lazy val narrow = write(1000, 8, 1000)

  private def gds(path: String): DataFrame =
    spark.read.format("gds").load(path)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0

  test("a wide container splits into defaultParallelism partitions") {
    val par = spark.sparkContext.defaultParallelism
    assert(par > 1)
    assert(gds(wide).rdd.getNumPartitions == par)
  }

  test("an 8-sample container below 8,192 variants stays one partition") {
    assert(gds(narrow).rdd.getNumPartitions == 1)
  }

  test("every column of the split read equals a one-partition read") {
    val one = spark.read.format("gds").option("splitVariants", "1000000")
      .load(wide)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 600)
    assert(sameRows(gds(wide), one))
  }

  test("a pushed pos range plans no more partitions than the full scan") {
    // pos <= 100 hits the first variant of each chromosome: 12 hits, 50
    // variants apart
    val all = gds(wide)
    val pruned = all.filter(col("pos") <= 100)
    assert(pruned.rdd.getNumPartitions <= all.rdd.getNumPartitions)
    val expect = all.select("variant_id", "pos").collect()
      .filter(_.getInt(1) <= 100).map(_.getLong(0)).toSet
    assert(expect.size == 12)
    assert(pruned.select("variant_id").collect().map(_.getLong(0)).toSet ==
      expect)
  }

  /** Call sites of a kernel in the generated code (the `$` after the
    * name keeps GenoStatsPacked and GenoStatsRaw out of GenoStats). */
  private def calls(kernel: String, df: DataFrame): Int =
    (kernel + "\\$\\.MODULE\\$").r
      .findAllIn(codegenString(df.queryExecution.executedPlan)).size
  private def kernels(df: DataFrame): Int = calls("GenoStats", df)
  private def rawKernels(df: DataFrame): Int = calls("GenoStatsRaw", df)

  /** The relation's rows copied into an RDD-backed frame: no gds relation
    * is left under its `geno`, so GenoStats over it is never rewritten
    * to the planes kernel and serves as the independent oracle. */
  private def copied(path: String): DataFrame = {
    val df = gds(path)
    spark.createDataFrame(df.rdd, df.schema)
  }

  /** The formulation the scans used before: `when`-guarded divisions and
    * an inline filter predicate. */
  private def guardedAf(g: Column): Column = {
    val st = genoStats(g, lit(0))
    val called = element_at(st, 2)
    when(called > 0, element_at(st, 3).cast("double") / called)
  }
  private def guardedMiss(g: Column): Column = {
    val st = genoStats(g, lit(0))
    val total = element_at(st, 1)
    when(total > 0, (total - element_at(st, 2)).cast("double") / total)
  }
  private def inlineCond(df: DataFrame, minMaf: Double,
      maxMissing: Double): DataFrame = {
    val st = genoStats(col("geno"), lit(0))
    val total = element_at(st, 1)
    val called = element_at(st, 2)
    val af = element_at(st, 3).cast("double") / called
    val maf = least(af, lit(1.0) - af)
    val miss = (total - called).cast("double") / total
    df.filter(called > 0 && maf >= minMaf && miss <= maxMissing)
  }

  test("alleleFreq, missing and setFilterCond run one GenoStats kernel") {
    val sv = SeqArray.openGds(spark, wide)
    val af = sv.alleleFreq(0)
    val miss = sv.missing()
    val cond = sv.setFilterCond(minMaf = 0.05, maxMissing = 0.1).variants
    // over a gds relation the one kernel is the planes kernel
    for (df <- Seq(af, miss, cond)) {
      assert(rawKernels(df) == 1)
      assert(kernels(df) == 0)
    }
    // the former formulations, for contrast and as the value oracle, over
    // rows copied out of the relation
    val geno = copied(wide)
    assert(kernels(geno.select(guardedAf(col("geno")))) == 3)
    assert(kernels(inlineCond(geno, 0.05, 0.1)) == 8)

    assert(sameRows(af, geno.select(col("variant_id"),
      guardedAf(col("geno")).as("af"))))
    assert(sameRows(miss, geno.select(col("variant_id"),
      guardedMiss(col("geno")).as("miss"))))
    val kept = cond.select("variant_id")
    assert(sameRows(kept, inlineCond(geno, 0.05, 0.1).select("variant_id")))
    assert(kept.count() > 0 && kept.count() < 600)
    assert(kept.filter(col("variant_id") === 7).isEmpty)
    assert(af.filter(col("variant_id") === 7).head().isNullAt(1))
  }

  test("zero-called and empty genotype rows keep their null results") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(Seq[java.lang.Long](0L, 1L), Seq[java.lang.Long](null, 1L))),
      (2L, Seq(Seq[java.lang.Long](null, null), Seq[java.lang.Long](null, null))),
      (3L, Seq.empty[Seq[java.lang.Long]]),
      (4L, null)
    ).toDF("variant_id", "geno")
    val got = df.select(col("variant_id"),
        alleleFreq(col("geno"), lit(0)), missingRate(col("geno")))
      .collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    assert(got == Map(1L -> (1.0 / 3, 0.25), 2L -> (null, 1.0),
      3L -> (null, null), 4L -> (null, null)))
    assert(sameRows(
      df.select(col("variant_id"), alleleFreq(col("geno"), lit(0)),
        missingRate(col("geno"))),
      df.select(col("variant_id"), guardedAf(col("geno")),
        guardedMiss(col("geno")))))
    // the inline predicate raises DIVIDE_BY_ZERO on this frame under
    // ANSI mode; the bound one drops every row without a called allele
    val cond = SeqVarData(df).setFilterCond().variants
    assert(cond.columns.toSeq == df.columns.toSeq)
    assert(sameRows(cond, df.filter(col("variant_id") === 1)))
  }
}
