package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.HofTwins._
import graft.functions.vectorfns._

/** Differential + golden tests for the vector kernels: the custom codegen
  * DotProductLong expression must agree with the built-in higher-order
  * reference implementation (and with hand-computed values), in both
  * codegen and interpreted execution ([[FrameModes]]). */
class VectorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The vectors as a local and an RDD-backed frame: the kernels run
    * interpreted over the first and in generated code over the second. */
  private def vecDfs = FrameModes.frames(spark, Seq(
      (1L, Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (2L, Seq(-1L, 0L, 7L), Seq(2L, 9L, -3L)),
      (3L, Seq.empty[Long], Seq.empty[Long])),
    "id", "a", "b")

  test("int8 codes golden values, bounds, and scale invariance") {
    for ((mode, df) <- FrameModes.frames(spark, Seq(
        (1L, Seq(1000L, -500L, 250L, 0L)),
        (2L, Seq(3L, -3L, 1L)),
        (3L, Seq(0L, 0L, 0L)),           // zero vector stays zero
        (4L, Seq(7L)),                   // max component maps to ±127
        (5L, Seq(-7L))), "id", "qv")) {
      val got = df.select(col("id"), int8Codes(col("qv")).as("c"))
        .orderBy("id").collect()
        .map(_.getSeq[Long](1).toList)
      assert(got(0) == List(127L, -63L, 32L, 0L), mode) // floor(±x*127/1000+.5)
      assert(got(1) == List(127L, -127L, 42L), mode)
      assert(got(2) == List(0L, 0L, 0L), mode)
      assert(got(3) == List(127L) && got(4) == List(-127L), mode)
      // codes are scale-invariant: qv and 1000*qv quantize identically,
      // and every code is in [-127, 127]
      val big = df.filter(col("id") =!= 3)
        .select(col("id"), int8Codes(col("qv")).as("a"),
          int8Codes(transform(col("qv"), x => x * 1000)).as("b"))
      assert(big.filter(col("a") =!= col("b")).count() == 0, mode)
      val bounds = df.select(explode(int8Codes(col("qv"))).as("c"))
        .filter(abs(col("c")) > 127).count()
      assert(bounds == 0, mode)
    }
  }

  test("dot product golden values") {
    for ((mode, vecDf) <- vecDfs) {
      val r = vecDf.select(col("id"), dotLong(col("a"), col("b")).as("d"))
        .orderBy("id").collect()
      assert(r(0).getLong(1) == 4 + 10 + 18, mode)
      assert(r(1).getLong(1) == -2 + 0 - 21, mode)
      assert(r(2).getLong(1) == 0, mode)
    }
  }

  test("custom expression == higher-order reference, codegen and interpreted") {
    for ((mode, vecDf) <- vecDfs) {
      val diff = vecDf.select(
          dotLong(col("a"), col("b")).as("x"),
          dotLongHof(col("a"), col("b")).as("y"))
        .filter(col("x") =!= col("y")).count()
      assert(diff == 0, mode)
    }
  }

  test("srp bucket expression == higher-order reference, both modes") {
    val rows = (1 to 200).map { k =>
      (k.toLong, (0 until 64).map(i => ((k * 31 + i * 7) % 41 - 20).toLong))
    }
    for ((mode, df) <- FrameModes.frames(spark, rows, "id", "qv")) {
      val diff = df.select(
          (0 until 4).map(t =>
            (srpBucket(col("qv"), 16, t) =!=
              srpBucketHof(col("qv"), 16, t)).as(s"d$t")): _*)
        .filter((0 until 4).map(t => col(s"d$t")).reduce(_ || _))
        .count()
      assert(diff == 0, mode)
    }
  }

  test("quantize + cosine are exact and order-independent") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.6f, 0.8f)), (2L, Seq(0.6f, 0.8f)),
      (3L, Seq(-0.8f, 0.6f))).toDF("id", "v")
      .select(col("id"), quantize(col("v"), 10000).as("q"))
      .withColumn("n", dotLong(col("q"), col("q")))
    val r = df.as("a").join(df.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        cosineQ(dotLong(col("a.q"), col("b.q")), col("a.n"), col("b.n"))
          .as("cos"))
      .orderBy(col("a.id"), col("b.id")).collect()
    assert(math.abs(r(0).getDouble(2) - 1.0) < 1e-12)   // identical vectors
    // quantization floors toward -inf, so orthogonality is approximate
    assert(math.abs(r(1).getDouble(2) - 0.0) < 1e-3)
  }

  test("srp bucket is deterministic and within range") {
    for ((mode, in) <- FrameModes.frames(spark, Seq(
        (1L, Seq(5L, -3L, 2L, 9L)), (2L, Seq(5L, -3L, 2L, 9L)),
        (3L, Seq(-5L, 3L, -2L, -9L))), "id", "q")) {
      val r = in.select(col("id"), srpBucket(col("q"), 8).as("bucket"))
        .orderBy("id").collect()
      assert(r(0).getLong(1) == r(1).getLong(1), mode) // same vector, same bucket
      assert(r.forall(x => x.getLong(1) >= 0 && x.getLong(1) < 256), mode)
    }
  }
}
