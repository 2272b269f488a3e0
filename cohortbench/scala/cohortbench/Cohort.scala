package cohortbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Counter-based RNG: every value is a pure function of (seed, keys), so
  * the generator, the truth tables and any re-derivation agree without
  * sharing state, and partitions can generate in any order. */
object Rng {
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  @inline def h(seed: Long, a: Long): Long = mix(mix(seed) ^ a)
  @inline def h(seed: Long, a: Long, b: Long): Long = mix(h(seed, a) ^ b)
  /** Uniform in [0, 1) from the top 53 bits. */
  @inline def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
}

/** A biallelic diploid cohort: `nVariants` sites over `chroms` (equal
  * contiguous blocks, increasing positions) × `nSamples` samples. A call
  * is missing as a whole (both alleles) with probability ~1%; otherwise
  * each allele is ALT with the site's frequency. */
final case class CohortSpec(seed: Long, nSamples: Int, nVariants: Int,
    chroms: Seq[String] = Seq("20", "21")) {
  def genotypes: Long = nVariants.toLong * nSamples
}

object Cohort {
  /** Missing when the low 16 bits of the call hash fall below this. */
  private val MissBelow = 655 // ≈ 1.0%
  private val Alleles = Array("A,G", "C,T", "G,A", "T,C")
  val PosStep = 100

  def sampleId(s: Int): String = f"HG$s%05d"
  def sampleIds(spec: CohortSpec): Seq[String] =
    (0 until spec.nSamples).map(sampleId)

  def perChrom(spec: CohortSpec): Int =
    (spec.nVariants + spec.chroms.size - 1) / spec.chroms.size
  def chromIndex(spec: CohortSpec, v: Int): Int = v / perChrom(spec)
  def chrom(spec: CohortSpec, v: Int): String = spec.chroms(chromIndex(spec, v))
  /** Strictly increasing within a chromosome: step 100, jitter < 100. */
  def pos(spec: CohortSpec, v: Int): Int = {
    val i = v % perChrom(spec)
    1000 + i * PosStep + (Rng.h(spec.seed, v, -3L) & 63).toInt
  }
  def allele(spec: CohortSpec, v: Int): String =
    Alleles((Rng.h(spec.seed, v, -2L) & 3).toInt)
  /** Skewed toward rare ALT alleles, as in real cohorts. */
  def altFreq(spec: CohortSpec, v: Int): Double = {
    val u = Rng.unit(Rng.h(spec.seed, v, -1L))
    0.002 + 0.996 * u * u
  }

  /** Call of sample `s` at variant `v`: -1 = missing, else bit 0 = first
    * allele is ALT, bit 1 = second allele is ALT. `vh` = Rng.h(seed, v). */
  @inline def call(vh: Long, p: Double, s: Int): Int = {
    val x = Rng.mix(vh ^ (s.toLong * 0x632BE59BD9B4E019L))
    if ((x & 0xFFFF) < MissBelow) -1
    else {
      val lim = (p * (1 << 24)).toLong
      (if (((x >>> 40) & 0xFFFFFF) < lim) 1 else 0) |
        (if (((x >>> 16) & 0xFFFFFF) < lim) 2 else 0)
    }
  }

  /** Per-variant truth: called alleles, REF alleles among them, total
    * allele slots. */
  final case class Truth(called: Array[Long], ref: Array[Long],
      total: Array[Long]) {
    def af(i: Int): java.lang.Double =
      if (called(i) > 0) ref(i).toDouble / called(i) else null
    def miss(i: Int): java.lang.Double =
      if (total(i) > 0) (total(i) - called(i)).toDouble / total(i) else null
  }

  def truth(spec: CohortSpec): Truth = {
    val n = spec.nVariants
    val called = new Array[Long](n)
    val ref = new Array[Long](n)
    val total = Array.fill(n)(2L * spec.nSamples)
    java.util.stream.IntStream.range(0, n).parallel().forEach { v =>
      val vh = Rng.h(spec.seed, v)
      val p = altFreq(spec, v)
      var c = 0L; var r = 0L
      var s = 0
      while (s < spec.nSamples) {
        val g = call(vh, p, s)
        if (g >= 0) {
          c += 2
          r += 2 - Integer.bitCount(g)
        }
        s += 1
      }
      called(v) = c; ref(v) = r
    }
    Truth(called, ref, total)
  }

  val schema: StructType = StructType(Seq(
    StructField("variant_id", LongType, nullable = false),
    StructField("chrom", StringType),
    StructField("pos", IntegerType),
    StructField("allele", StringType),
    StructField("geno", ArrayType(ArrayType(LongType)))))

  private val Ref0: Seq[java.lang.Long] =
    Seq(java.lang.Long.valueOf(0L), java.lang.Long.valueOf(0L))
  private val Missing: Seq[java.lang.Long] = Seq(null, null)

  def row(spec: CohortSpec, v: Int): Row = {
    val vh = Rng.h(spec.seed, v)
    val p = altFreq(spec, v)
    val geno = new Array[Seq[java.lang.Long]](spec.nSamples)
    var s = 0
    while (s < spec.nSamples) {
      val g = call(vh, p, s)
      geno(s) =
        if (g < 0) Missing
        else if (g == 0) Ref0
        else Seq(java.lang.Long.valueOf(g & 1),
          java.lang.Long.valueOf((g >> 1) & 1))
      s += 1
    }
    Row(v.toLong + 1, chrom(spec, v), pos(spec, v), allele(spec, v),
      geno.toSeq)
  }

  /** The cohort as a variants DataFrame, generated on the executors. */
  def frame(spark: SparkSession, spec: CohortSpec): DataFrame = {
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val rdd = spark.sparkContext
      .parallelize(0 until spec.nVariants, parts)
      .map(v => row(spec, v))
    spark.createDataFrame(rdd, schema)
  }
}
