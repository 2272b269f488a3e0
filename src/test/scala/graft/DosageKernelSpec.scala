package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.genetics._
import graft.operators.PopGen

/** Round-10 operator specs: the fused dosage-stats kernels (the fix for
  * the round-9 verdict's cohort-width unrolled-reduce class) — value
  * parity against the declarative forms they replaced, and the plan-size
  * contract at a 10k-sample width (where the unrolled trees blew up the
  * analyzer).
  */
class DosageKernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def exprNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.map(n =>
      n.expressions.map(e => e.collect { case x => x }.size).sum).sum

  // d with a null (missing sample), w = case indicators
  private val dFix: Seq[Option[Long]] =
    Seq(Some(0L), Some(1L), None, Some(2L), Some(1L), Some(0L))
  private val wFix: Seq[Long] = Seq(1L, 0L, 1L, 1L, 0L, 1L)
  private val zFix: Seq[Long] = Seq(3L, -1L, 2L, 0L, 5L, -2L)

  private def dDf = {
    import spark.implicits._
    Seq(Tuple1(dFix)).toDF("d")
  }

  test("dosageWeightedStats matches the unrolled per-ordinal sums") {
    val row = dDf.select(dosageWeightedStats(col("d"), wFix).as("st"))
      .head.getSeq[Long](0)
    val called = dFix.zip(wFix).collect { case (Some(x), w) => (x, w) }
    assert(row == Seq[Long](
      called.size,
      called.map(_._1).sum,
      called.map(t => t._1 * t._1).sum,
      called.map(_._2).sum,
      called.map(t => t._1 * t._2).sum,
      called.map(t => t._2 * t._2).sum))
  }

  test("dosageTwoWeightStats matches the unrolled normal-equation sums") {
    val row = dDf
      .select(dosageTwoWeightStats(col("d"), wFix, zFix).as("st"))
      .head.getSeq[Long](0)
    val c = dFix.indices.collect {
      case i if dFix(i).isDefined => (dFix(i).get, wFix(i), zFix(i))
    }
    assert(row == Seq[Long](
      c.size, c.map(_._1).sum, c.map(t => t._1 * t._1).sum,
      c.map(_._2).sum, c.map(t => t._2 * t._1).sum,
      c.map(t => t._2 * t._2).sum,
      c.map(_._3).sum, c.map(t => t._3 * t._1).sum,
      c.map(t => t._3 * t._3).sum, c.map(t => t._2 * t._3).sum))
  }

  test("dosageMaskedSums: null dosage contributes 0 to every mask") {
    val masks = Seq(Seq.fill(6)(1L), wFix, zFix)
    val row = dDf.select(dosageMaskedSums(col("d"), masks).as("ms"))
      .head.getSeq[Long](0)
    val expect = masks.map(m =>
      dFix.zip(m).collect { case (Some(x), w) => x * w }.sum)
    assert(row == expect)
  }

  test("hapAlt (fused) matches the per-slot unrolled semantics") {
    import spark.implicits._
    // sample 0: phased het, 1: unphased, 2: phased with missing allele,
    // 3: phased hom-alt, 4: null call array
    val df = Seq((
      Seq(Seq(Option(0L), Option(1L)), Seq(Option(1L), Option(1L)),
        Seq(Option(0L), Option.empty[Long]), Seq(Option(2L), Option(1L)),
        null.asInstanceOf[Seq[Option[Long]]]),
      Seq(true, false, true, true, true)))
      .toDF("geno", "phased")
    val got = df.select(PopGen.hapAlt(col("geno"), col("phased"), 5))
      .head.getSeq[Any](0)
    assert(got == Seq(0L, 1L, null, null, 0L, null, 1L, 1L, null, null))
  }

  test("trendTest / linRegScore / linRegCovScore / masked-sums plans " +
      "CONSTRUCT at 10k-sample width with O(1) expression nodes — the " +
      "unrolled-reduce class this replaces held ~50k+ terms") {
    import spark.implicits._
    val S = 10000
    val v = Seq((1L, Seq(Option(1L)))).toDF("vid", "d")
    val tt = exprNodes(PopGen.trendTest(v, (0 until S).map(_ % 2 == 1)))
    assert(tt < 500, s"trendTest plan carries $tt expression nodes")
    val lr = exprNodes(PopGen.linRegScore(v, (0 until S).map(_.toLong % 7)))
    assert(lr < 500, s"linRegScore plan carries $lr expression nodes")
    // linRegCovScore's round-11 one-level flatten (every kernel read in
    // ONE select so the kernel-over-cube chain is never re-evaluated
    // per consuming Project level) textually repeats the tiny
    // element_at(kernel) subtree inside the Cramer determinants —
    // a CONSTANT ~760 nodes at ANY cohort width (runtime subexpression
    // elimination shares the single kernel evaluation); the bound
    // guards the O(S) unrolled-reduce class, not the constant
    val lc = exprNodes(PopGen.linRegCovScore(v,
      (0 until S).map(_.toLong % 7), (0 until S).map(_.toLong % 5)))
    assert(lc < 1200, s"linRegCovScore plan carries $lc expression nodes")
    val lcSmall = exprNodes(PopGen.linRegCovScore(v,
      (0 until 10).map(_.toLong % 7), (0 until 10).map(_.toLong % 5)))
    assert(lc == lcSmall,
      s"linRegCovScore plan size must be cohort-width-independent " +
        s"($lcSmall at S=10 vs $lc at S=$S)")
    val ms = exprNodes(v.select(
      dosageMaskedSums(col("d"), Seq.fill(21)((0 until S).map(_.toLong % 2)))
        .as("ms")))
    assert(ms < 500, s"dosageMaskedSums plan carries $ms expression nodes")
    val g = Seq((Seq(Seq(Option(0L))), Seq(true))).toDF("geno", "phased")
    val ha = exprNodes(g.select(
      PopGen.hapAlt(col("geno"), col("phased"), S).as("h")))
    assert(ha < 500, s"hapAlt plan carries $ha expression nodes")
  }

  test("dosage-stats kernels: CODEGEN_ONLY == NO_CODEGEN == reference " +
      "sums on random dosage vectors (differential, seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261016L)
    val rows = (0 until 200).map { i =>
      val n = rnd.nextInt(12) + 1
      val d = Seq.fill(n)(
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(3).toLong))
      (i.toLong, d)
    }
    val w1 = (0 until 12).map(_ => rnd.nextInt(7).toLong - 3)
    val w2 = (0 until 12).map(_ => rnd.nextInt(9).toLong - 4)
    val masks = Seq.fill(4)((0 until 12).map(_ => rnd.nextInt(2).toLong))
    def expect(d: Seq[Option[Long]]): (Seq[Long], Seq[Long], Seq[Long]) = {
      val c = d.indices.filter(i => d(i).isDefined && i < w1.length)
      val x = c.map(d(_).get)
      val a = c.map(w1(_)); val b = c.map(w2(_))
      val ws = Seq[Long](c.size, x.sum, x.map(v => v * v).sum,
        a.sum, a.zip(x).map(t => t._1 * t._2).sum, a.map(v => v * v).sum)
      val tw = Seq[Long](c.size, x.sum, x.map(v => v * v).sum,
        a.sum, a.zip(x).map(t => t._1 * t._2).sum, a.map(v => v * v).sum,
        b.sum, b.zip(x).map(t => t._1 * t._2).sum, b.map(v => v * v).sum,
        a.zip(b).map(t => t._1 * t._2).sum)
      val ms = masks.map(m => d.indices.collect {
        case i if d(i).isDefined && i < m.length => d(i).get * m(i)
      }.sum)
      (ws, tw, ms)
    }
    val df = rows.toDF("vid", "d")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.select(col("vid"),
            dosageWeightedStats(col("d"), w1).as("ws"),
            dosageTwoWeightStats(col("d"), w1, w2).as("tw"),
            dosageMaskedSums(col("d"), masks).as("ms"))
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1),
            r.getSeq[Long](2), r.getSeq[Long](3))).sortBy(_._1)
        for ((vid, ws, tw, ms) <- got) {
          val (ews, etw, ems) = expect(rows(vid.toInt)._2)
          assert(ws == ews, s"$mode vid=$vid weighted")
          assert(tw == etw, s"$mode vid=$vid two-weight")
          assert(ms == ems, s"$mode vid=$vid masked")
        }
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  // ---- gram-free biobank PCA (pcaFromGeno) -------------------------------

  private val pcaS = 8
  private val pcaD: Seq[Seq[Option[Long]]] = Seq.tabulate(40) { v =>
    Seq.tabulate(pcaS) { s =>
      if ((v * 5 + s) % 13 == 0) None
      else Some(((v * 3 + s * s + (v % 4) * s) % 3).toLong)
    }
  }

  test("pcaFromGeno matches the dense mean-imputed GRM eigen (the " +
      "driver-side reference path) on the fixture") {
    import spark.implicits._
    val v = pcaD.zipWithIndex.map { case (d, i) => (i.toLong, d) }
      .toDF("vid", "d")
    val (evG, vecG) = PopGen.pcaFromGeno(v, pcaS, k = 2, iters = 300)
    // dense reference: same matrix, materialized driver-side
    val used = pcaD.filter { d =>
      val called = d.flatten
      called.nonEmpty && called.sum != 0 && called.sum != 2L * called.size
    }
    val g = Array.ofDim[Double](pcaS, pcaS)
    var c = 0.0
    used.foreach { d =>
      val called = d.flatten
      val mean = called.sum.toDouble / called.size
      val p = mean / 2.0
      c += 2.0 * p * (1.0 - p)
      val z = d.map(_.map(_.toDouble - mean).getOrElse(0.0))
      for (i <- 0 until pcaS; j <- 0 until pcaS) g(i)(j) += z(i) * z(j)
    }
    val entries = (for (i <- 0 until pcaS; j <- i until pcaS)
      yield (i, j, g(i)(j) / c)).toDF("i", "j", "grm")
    val (evR, vecR) = PopGen.pcaFromGrm(entries, pcaS, k = 2, iters = 300)
    for (p <- 0 until 2) {
      assert(math.abs(evG(p) - evR(p)) <= 1e-6 * math.max(1.0, evR(p)),
        s"eigenvalue $p: ${evG(p)} vs ${evR(p)}")
      val cos = vecG(p).zip(vecR(p)).map { case (a, b) => a * b }.sum
      assert(math.abs(cos) > 0.9999, s"PC $p cosine $cos")
    }
  }

  test("pcaFromGeno RUNS at 10k samples — S×S never exists, driver " +
      "holds O(S) vectors only") {
    val S = 10000
    val v = spark.range(60).toDF("vid")
      .withColumn("d", transform(sequence(lit(0), lit(S - 1)),
        s => when((col("vid") * 7 + s) % 13 === 0,
            lit(null).cast("long"))
          .otherwise(pmod(col("vid") * 3 + s * s + s, lit(3))
            .cast("long"))))
    val (ev, vecs) = PopGen.pcaFromGeno(v, S, k = 1, iters = 4)
    assert(vecs(0).length == S)
    val norm = math.sqrt(vecs(0).map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9, s"unit norm, got $norm")
    assert(ev(0) > 0.0)
  }

  test("pcaFromGeno at 256 partitions merges partials executor-side — " +
      "the driver receives O(S) longs per mat-vec, not the P×S fan") {
    val S = 10000
    // a task result carrying an S-length Long partial is ≥ 8·S bytes;
    // task-status overhead is KBs — the threshold separates them cleanly
    val bigThreshold = 8L * S
    val big = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null && !e.taskInfo.failed &&
            e.taskMetrics != null &&
            e.taskMetrics.resultSize >= bigThreshold) big.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val v = spark.range(60).repartition(256).toDF("vid")
        .withColumn("d", transform(sequence(lit(0), lit(S - 1)),
          s => when((col("vid") * 7 + s) % 13 === 0,
              lit(null).cast("long"))
            .otherwise(pmod(col("vid") * 3 + s * s + s, lit(3))
              .cast("long"))))
      val (ev, vecs) = PopGen.pcaFromGeno(v, S, k = 1, iters = 2)
      assert(vecs(0).length == S)
      assert(ev(0) > 0.0)
      // listener bus is async: poll until the count stabilizes
      var prev = -1
      var waited = 0
      while (big.get() != prev && waited < 5000) {
        prev = big.get(); Thread.sleep(200); waited += 200
      }
      // 3 mat-vec jobs (2 power + 1 Rayleigh); treeDepth(256) = 3 ⇒ the
      // final driver-side reduce sees ≤ 8 partials per job. The old
      // collect() path shipped ~60 non-empty partials per job (> 100
      // total) — this gate fails on it.
      val got = big.get()
      assert(got > 0, "threshold never tripped — the gate is not measuring")
      assert(got <= 24, s"driver received $got S-length partials (> 8/job)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
