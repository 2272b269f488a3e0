package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded variant frames that reach every node the GDS writer emits:
  * unaligned genotype rows (3 and 5 samples), calls of 1–4 alleles over a
  * container ploidy of 1–3 (so shorter calls pad and longer ones overflow
  * into genotype/extra), 5-allele sites that need two bit-planes, missing
  * alleles, phase bits, and `info_*` Flag / scalar / array and `fmt_*`
  * scalar / ragged / packedreal16 columns with nulls. Every third row's
  * calls mostly carry a different allele count than the frame's base
  * ploidy, so a partition may start on a row whose own ploidy disagrees
  * with the container's. */
object SeededGdsFrames {

  final case class Spec(seed: Long, nS: Int, nVar: Int, ploidy: Int) {
    def samples: Seq[String] = (1 to nS).map("S" + _)
  }

  val schema: StructType = StructType(Seq(
    StructField("variant_id", LongType, nullable = false),
    StructField("chrom", StringType),
    StructField("pos", IntegerType),
    StructField("id", StringType),
    StructField("allele", StringType),
    StructField("qual", FloatType),
    StructField("filter", StringType),
    StructField("geno", ArrayType(ArrayType(LongType))),
    StructField("phased", ArrayType(BooleanType)),
    StructField("info_DB", BooleanType),
    StructField("info_DP", IntegerType),
    StructField("info_LEN", LongType),
    StructField("info_U64", DecimalType(20, 0)),
    StructField("info_GENE", StringType),
    StructField("info_AF", ArrayType(FloatType)),
    StructField("info_TAGS", ArrayType(StringType)),
    StructField("fmt_DP", ArrayType(IntegerType)),
    StructField("fmt_GL", ArrayType(FloatType)),
    StructField("fmt_AD", ArrayType(ArrayType(IntegerType))),
    StructField("fmt_DS", ArrayType(FloatType)),
    StructField("fmt_GP", ArrayType(ArrayType(FloatType)))))

  /** Call lengths of row `v` (1-based) mostly equal this. */
  private def rowPloidy(s: Spec, v: Int): Int =
    if (v % 3 == 2) s.ploidy % 3 + 1 else s.ploidy

  def rows(s: Spec): Seq[Row] = {
    val rnd = new scala.util.Random(s.seed)
    def orNull[T <: AnyRef](v: => T): T =
      if (rnd.nextInt(8) == 0) null.asInstanceOf[T] else v
    def int = java.lang.Integer.valueOf(rnd.nextInt(100))
    def float = java.lang.Float.valueOf(rnd.nextInt(20001) * 0.0001f)
    (1 to s.nVar).map { v =>
      val nAlleles = if (rnd.nextInt(4) == 0) 5 else 2
      val geno = Seq.fill(s.nS) {
        val len =
          if (rnd.nextInt(5) == 0) 1 + rnd.nextInt(4) else rowPloidy(s, v)
        Seq.fill(len)(orNull(java.lang.Long.valueOf(rnd.nextInt(nAlleles))))
      }
      Row(v.toLong, s"c${(v - 1) / 7 % 3}", v * 10 + rnd.nextInt(5),
        orNull(s"rs$v"),
        if (nAlleles == 5) "A,C,G,T,TT" else "A,G",
        orNull(java.lang.Float.valueOf(rnd.nextInt(1000) / 10f)),
        orNull[String](if (rnd.nextBoolean()) "PASS" else "q10"),
        geno,
        Seq.fill(s.nS)(rnd.nextBoolean()),
        orNull(java.lang.Boolean.valueOf(rnd.nextBoolean())),
        orNull(int),
        orNull(java.lang.Long.valueOf(rnd.nextLong())),
        orNull(new java.math.BigDecimal(
          new java.math.BigInteger(64, rnd.self))),
        orNull(s"g${rnd.nextInt(50)}"),
        orNull(Seq.fill(rnd.nextInt(4))(orNull(float))),
        orNull(Seq.fill(rnd.nextInt(3))(orNull(s"t${rnd.nextInt(9)}"))),
        orNull(Seq.fill(s.nS)(orNull(int))),
        orNull(Seq.fill(s.nS)(orNull(float))),
        orNull(Seq.fill(s.nS)(orNull(Seq.fill(rnd.nextInt(4))(orNull(int))))),
        orNull(Seq.fill(s.nS)(orNull(float))),
        orNull(Seq.fill(s.nS)(orNull(Seq.fill(rnd.nextInt(4))(orNull(float))))))
    }
  }

  /** The frame split into `parts` contiguous partitions in row order
    * (empty ones where there are more partitions than rows). */
  def frame(spark: SparkSession, s: Spec, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows(s), parts),
      schema)

  /** The frames the writer tests cover, the zero-variant one last. */
  val specs: Seq[Spec] = Seq(Spec(11L, 3, 40, 2), Spec(12L, 5, 37, 3),
    Spec(13L, 5, 6, 1), Spec(14L, 3, 0, 2))
}
