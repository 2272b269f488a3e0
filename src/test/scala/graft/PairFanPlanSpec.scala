package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PopGen

/** Round-9 operator specs: the generator-based pair fans (the fix for the
  * round-8 verdict's O(S²)-literal plan defect) and their plan-size
  * contract at the guard bound.
  */
class PairFanPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.map(n =>
      n.expressions.map(e => e.collect { case x => x }.size).sum).sum

  test("pairFan enumerates exactly the unordered pairs i < j") {
    import spark.implicits._
    val got = graft.functions.pairs.pairFan(Seq(1).toDF("x"), 4)
      .select("i", "j").collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSet
    assert(got == Set((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)))
  }

  test("pairFanDiag includes the diagonal") {
    import spark.implicits._
    val got = graft.functions.pairs.pairFanDiag(Seq(1).toDF("x"), 3)
      .select("i", "j").collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSet
    assert(got == Set((0, 0), (0, 1), (0, 2), (1, 1), (1, 2), (2, 2)))
  }

  test("gridFan enumerates the full ordered grid with div/mod recovery") {
    import spark.implicits._
    val got = graft.functions.pairs.gridFan(Seq(1).toDF("x"), 2, 3)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == (for (i <- 0L to 1L; j <- 0L to 2L) yield (i, j)).toSet)
  }

  test("sampleSwapScan CONSTRUCTS an O(1)-size plan at the require " +
      "bound (S = 1000) — the S²-literal form would hold 10⁶ children") {
    import spark.implicits._
    val v = Seq((1L, Seq(Seq(0L, 0L)), Seq(Seq(0L, 0L))))
      .toDF("vid", "geno", "geno2")
    val n = exprNodes(PopGen.sampleSwapScan(v, 1000))
    assert(n < 500, s"plan carries $n expression nodes at S = 1000")
  }

  test("ibs / ibdSegments plans stay O(1)-size at S = 1000") {
    // NOT grm: its PAIR FAN is O(1) now too, but its per-variant
    // rationalization (called/alt balanced sums, the intByN per-n
    // denominator dispatch, the lcm grmScale) is O(S) expression
    // terms and an LCM that only exists at cohort-QC widths — the
    // documented "Cohort-width expression trees" budget (SCALE.md);
    // the next test pins grm's fan-only growth at a width that
    // budget supports.
    import spark.implicits._
    val v = Seq((1L, "c1", 5L, Seq(0L))).toDF("vid", "chrom", "pos", "d")
    val b = exprNodes(PopGen.ibs(v.select(col("vid"), col("d")), 1000))
    assert(b < 500, s"ibs plan carries $b expression nodes")
    val s = exprNodes(PopGen.ibdSegments(v, 1000))
    assert(s < 500, s"ibdSegments plan carries $s expression nodes")
  }

  test("grm's pair fan contributes O(1): plan is now ~FLAT in S " +
      "(round-11 kernel sweep), never quadratic") {
    import spark.implicits._
    val v = Seq((1L, Seq(0L))).toDF("vid", "d")
    // widths stay inside grmScale's exact-arithmetic domain (nMax ≤ 22
    // — wider now throws LOUDLY instead of silently wrapping the lcm,
    // CmhKernelSpec pins the boundary)
    val n11 = exprNodes(PopGen.grm(v, 11))
    val n22 = exprNodes(PopGen.grm(v, 22))
    // round 9 killed the S² literal pair fan; round 11 killed the O(S)
    // per-sample unrolls too (calledAltSums kernel + intByN lookup), so
    // doubling S must not grow the plan materially at all
    assert(n22 < n11 + 50,
      s"grm plan grew $n11 -> $n22 on S 11 -> 22 (width-dependent fan?)")
  }
}
