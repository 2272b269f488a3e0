package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PopGen

/** Round-11 plan-size sweep specs: the CMH kernel (the last unrolled
  * per-stratum count tree), the array-literal `intByN` sites, and the
  * posexplode fan conversions — value parity against independent
  * references plus the O(1)-plan-node contract at a 10k-sample width.
  */
class CmhKernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.map(n =>
      n.expressions.map(e => e.collect { case x => x }.size).sum).sum

  test("cmhTest matches a first-principles CMH reference on seeded " +
      "random cohorts under BOTH execution modes") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261116L)
    val S = 24
    val isCase = (0 until S).map(_ => rnd.nextBoolean())
    val strata = Seq(0 until 8, 8 until 17, 17 until S)
    val rows = (0 until 60).map { i =>
      (i.toLong, (0 until S).map(_ =>
        if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(3).toLong)))
    }
    // independent reference: textbook CMH sums over the 2x2xK tables
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val nMax = strata.map(_.length).max
    val uS = (1 to nMax).map(_.toLong).reduce((a, b) => a / gcd(a, b) * b)
    val vS = uS * uS
    def ref(d: Seq[Option[Long]]): (Long, Long) = {
      var u = 0L; var v = 0L
      for (ss <- strata) {
        val called = ss.filter(s => d(s).isDefined)
        val n1 = called.count(isCase(_)).toLong
        val n2 = called.size - n1
        val m1 = called.count(s => d(s).get > 0).toLong
        val m2 = called.size - m1
        val a = called.count(s => isCase(s) && d(s).get > 0).toLong
        val n = n1 + n2
        if (n > 0) u += a * uS - n1 * m1 * (uS / n)
        if (n > 1) v += n1 * n2 * m1 * m2 * (vS / (n * n * (n - 1)))
      }
      (u, v)
    }
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = PopGen.cmhTest(rows.toDF("vid", "d"), isCase, strata)
          .select("vid", "u_scaled", "v_scaled")
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        for ((vid, d) <- rows)
          assert(got(vid) == ref(d), s"vid $vid under $mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("cmhTest rejects overlapping strata and Long-overflow widths") {
    import spark.implicits._
    val v = Seq((1L, Seq(Option(1L)))).toDF("vid", "d")
    intercept[IllegalArgumentException] {
      PopGen.cmhTest(v, Seq(true, false, true),
        Seq(Seq(0, 1), Seq(1, 2)))
    }
    intercept[IllegalArgumentException] {
      PopGen.cmhTest(v, (0 until 60).map(_ % 2 == 0),
        Seq((0 until 30).toSeq, (30 until 60).toSeq))
    }
  }

  test("round-11 swept plans CONSTRUCT at 10k-sample width with O(1) " +
      "expression nodes (cmh, called/alt kernel riders, posexplode fans)") {
    import spark.implicits._
    val S = 10000
    val v = Seq((1L, Seq(Option(1L)))).toDF("vid", "d")
    val vg = Seq((Seq(Seq(Option(0L))), Seq(Seq(Option(0L)))))
      .toDF("geno", "geno2")
    val vp = Seq((1L, "1", 5L, Seq(Option(1L)))).toDF("vid", "chrom", "pos", "d")
    val cmh = exprNodes(PopGen.cmhTest(v,
      (0 until S).map(_ % 2 == 0),
      (0 until S / 20).map(k => (k * 20) until ((k + 1) * 20))))
    assert(cmh < 500, s"cmhTest plan carries $cmh expression nodes")
    val imd = exprNodes(PopGen.imputeMeanDosage(v, S))
    assert(imd < 500, s"imputeMeanDosage plan carries $imd nodes")
    val ir2 = exprNodes(PopGen.imputeRhat2(v, S))
    assert(ir2 < 500, s"imputeRhat2 plan carries $ir2 nodes")
    val ch = exprNodes(PopGen.compoundHet(vp, 1000L, S))
    assert(ch < 500, s"compoundHet plan carries $ch nodes")
    val sl = exprNodes(PopGen.singletonLoad(v, S))
    assert(sl < 500, s"singletonLoad plan carries $sl nodes")
    val dc = exprNodes(PopGen.dupConcordance(vg, S))
    assert(dc < 500, s"dupConcordance plan carries $dc nodes")
    val lp = exprNodes(PopGen.ldPrune(vp, 1000L, 0.8, S))
    assert(lp < 2000, s"ldPrune plan carries $lp nodes")
  }

  test("scale lcm helpers fail LOUDLY past Long width instead of " +
      "silently wrapping into poisoned exact sums") {
    assert(PopGen.grmScale(22) > 0)
    intercept[IllegalArgumentException](PopGen.grmScale(23))
    assert(PopGen.hetScale(20) > 0)
    intercept[IllegalArgumentException](PopGen.hetScale(60))
    assert(PopGen.piScale(42) > 0)
    intercept[IllegalArgumentException](PopGen.piScale(43))
  }

  test("posexplode fan conversions preserve values: compoundHet / " +
      "singletonLoad / dupConcordance against hand-unrolled references") {
    import spark.implicits._
    val d1 = Seq(Some(1L), None, Some(2L), Some(0L), Some(1L))
    val d2 = Seq(Some(0L), Some(1L), None, Some(1L), Some(1L))
    val v = Seq((1L, "1", 10L, d1), (2L, "1", 20L, d2),
      (3L, "1", 2000L, d1)).toDF("vid", "chrom", "pos", "d")
    val ch = PopGen.compoundHet(v, 1000L, 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // window 0 holds d1+d2, window 2 holds d1 again; hand-unrolled:
    // hets in win 0 — s0 (d1), s1 (d2), s3 (d2), s4 (d1 AND d2=2);
    // hets in win 2 — s0, s4 (d1 only)
    assert(ch == Set((0L, "1", 0L, 1L), (1L, "1", 0L, 1L),
      (3L, "1", 0L, 1L), (4L, "1", 0L, 2L),
      (0L, "1", 2L, 1L), (4L, "1", 2L, 1L)))
    val sl = PopGen.singletonLoad(
      Seq((1L, Seq(Some(1L), Some(0L), None)),
        (2L, Seq(Some(0L), Some(2L), Some(0L)))).toDF("vid", "d"), 3)
      .select("i", "n_singleton_het", "n_singleton_hom")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sl == Set((0L, 1L, 0L), (1L, 0L, 1L), (2L, 0L, 0L)))
    val g1 = Seq(Some(Seq(Some(0L), Some(1L))), Some(Seq(Some(1L), Some(1L))))
    val g2 = Seq(Some(Seq(Some(1L), Some(0L))), Some(Seq(Some(1L), Some(0L))))
    val dc = PopGen.dupConcordance(
      Seq((g1, g2)).toDF("geno", "geno2"), 2)
      .select("i", "n_comp", "n_match")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // s0: 0/1 vs 1/0 unordered-match; s1: 1/1 vs 1/0 mismatch
    assert(dc == Set((0L, 1L, 1L), (1L, 1L, 0L)))
  }
}
