package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, PopGen}
import graft.pipeline.TrainingData

/** Hand-computed goldens for the round-6 additions: f2 doubleton
  * sharing, Garud H soft-sweep statistics, window-indexed LD clumping,
  * duplicate-sample concordance, the ISO-BMFF (MP4) box walk, and the
  * lexical-profile / token-spectrum corpus diagnostics. The sf0.01
  * oracle gate (q181–q188) proves the full formulas against DuckDB;
  * these pin the SEMANTICS on known inputs. */
class OperatorGoldensSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("f2Sharing golden: het-het pairs, hom self-pairs, filters") {
    import spark.implicits._
    val v = Seq(
      // shared doubleton by samples 0,1
      (1L, 2, Seq[java.lang.Long](1L, 1L, 0L, 0L)),
      // private doubleton: hom-alt sample 0
      (2L, 2, Seq[java.lang.Long](2L, 0L, 0L, 0L)),
      // shared by 0,2 — twice
      (3L, 2, Seq[java.lang.Long](1L, 0L, 1L, 0L)),
      (4L, 2, Seq[java.lang.Long](1L, null, 1L, 0L)),
      // excluded: triallelic site
      (5L, 3, Seq[java.lang.Long](1L, 1L, 0L, 0L)),
      // excluded: total alt dosage 3
      (6L, 2, Seq[java.lang.Long](1L, 1L, 1L, 0L))
    ).toDF("vid", "nall", "d")
    val r = PopGen.f2Sharing(v, 4).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(r == Map((0L, 1L) -> 1L, (0L, 0L) -> 1L, (0L, 2L) -> 2L))
  }

  test("garudH golden: hard sweep vs all-distinct window") {
    import spark.implicits._
    // window 0: both variants identical across all 4 haplotype slots
    // window 1: the 4 slots spell 4 distinct haplotypes
    val v = Seq(
      (1L, "c1", 10L, Seq(Seq(0L, 0L), Seq(0L, 0L))),
      (2L, "c1", 20L, Seq(Seq(1L, 1L), Seq(1L, 1L))),
      (3L, "c1", 110L, Seq(Seq(0L, 0L), Seq(1L, 1L))),
      (4L, "c1", 120L, Seq(Seq(0L, 1L), Seq(0L, 1L)))
    ).toDF("vid", "chrom", "pos", "geno")
    val r = PopGen.garudH(v, 100L, nSamples = 2).collect()
      .map(x => (x.getLong(1), x)).toMap
    val sweep = r(0L)
    assert(sweep.getLong(sweep.fieldIndex("n_hap")) == 1L)
    assert(sweep.getDouble(sweep.fieldIndex("h1")) == 1.0)
    assert(sweep.getDouble(sweep.fieldIndex("h2")) == 0.0)
    assert(sweep.getDouble(sweep.fieldIndex("h12")) == 1.0)
    val spread = r(1L)
    assert(spread.getLong(spread.fieldIndex("n_hap")) == 4L)
    assert(spread.getDouble(spread.fieldIndex("h1")) == 0.25)
    assert(spread.getDouble(spread.fieldIndex("h2")) == 3.0 / 16.0)
    assert(spread.getDouble(spread.fieldIndex("h12")) == 0.375)
  }

  test("clumpLite golden: max-mac index, exact r², threshold flag") {
    import spark.implicits._
    val v = Seq(
      (1L, "c1", 10L, Seq[java.lang.Long](0L, 1L, 2L, 0L)), // mac 3
      (2L, "c1", 20L, Seq[java.lang.Long](0L, 1L, 2L, 1L)), // mac 4 → index
      (3L, "c1", 30L, Seq[java.lang.Long](2L, 1L, 0L, 2L))  // mac 3
    ).toDF("vid", "chrom", "pos", "d")
    val r = PopGen.clumpLite(v, 100L, 0.5, 4).collect()
      .map(x => (x.getLong(0), x)).toMap
    assert(r.values.forall(_.getLong(_2(r)("index_vid")) == 2L))
    assert(r(2L).getBoolean(_2(r)("is_index")))
    assert(r(2L).isNullAt(_2(r)("r2")))
    // v1 vs v2: num 8, dx 11, dy 8 → r² = 64/88
    assert(math.abs(r(1L).getDouble(_2(r)("r2")) - 64.0 / 88.0) < 1e-15)
    assert(r(1L).getBoolean(_2(r)("clumped")))
    assert(r(3L).getBoolean(_2(r)("clumped")))
  }
  private def _2(m: Map[Long, org.apache.spark.sql.Row])
      : String => Int = m.head._2.fieldIndex

  test("dupConcordance golden: unordered match, missing not comparable") {
    import spark.implicits._
    val v = Seq(
      (1L, Seq(Seq[java.lang.Long](0L, 1L), Seq[java.lang.Long](1L, 1L)),
        Seq(Seq[java.lang.Long](1L, 0L), Seq[java.lang.Long](0L, 1L))),
      (2L, Seq(Seq[java.lang.Long](0L, 0L), Seq[java.lang.Long](null, 1L)),
        Seq(Seq[java.lang.Long](0L, 0L), Seq[java.lang.Long](1L, 1L)))
    ).toDF("vid", "geno", "geno2")
    val r = PopGen.dupConcordance(v, 2).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    // sample 0: {0,1}≡{0,1} match; {0,0}≡{0,0} match → 2/2
    assert(r(0L) == ((2L, 2L)))
    // sample 1: {1,1} vs {0,1} mismatch; missing in A not comparable
    assert(r(1L) == ((1L, 0L)))
  }

  test("parseMp4 walks both mvhd versions and rejects junk") {
    for (v1 <- Seq(false, true)) {
      val bytes = Multimodal.syntheticMp4(2000L, 320, 180, 10, v1)
      assert(bytes.length == 490 + 10 + (if (v1) 12 else 0))
      val m = Multimodal.parseMp4(bytes).get
      assert(m.durationMs == 2000.0)
      assert(m.timescale == 1000L)
      assert(m.nTracks == 2)
      assert(m.handlers == "vide,soun")
      assert(m.width == 320 && m.height == 180)
    }
    assert(Multimodal.parseMp4("not an mp4 at all".getBytes).isEmpty)
    assert(Multimodal.parseMp4(Array.emptyByteArray).isEmpty)
    // truncated moov: header claims more bytes than exist
    val good = Multimodal.syntheticMp4(1000L, 160, 90, 0)
    assert(Multimodal.parseMp4(good.take(40)).isEmpty)
  }

  test("parsePngMeta: round trip, CRC rejection, non-PNG rejection") {
    val png = Multimodal.pngWithText(
      Multimodal.syntheticPng(12, 9, 100),
      Seq("Title" -> "hello", "Source" -> "s_3"))
    val m = Multimodal.parsePngMeta(png).get
    assert(m.width == 12 && m.height == 9)
    assert(m.bitDepth == 8 && m.colorType == 2)
    assert(m.texts == Map("Title" -> "hello", "Source" -> "s_3"))
    // corrupt ONE byte of the first tEXt value: its CRC fails and only
    // that record is dropped — geometry and the other record survive
    val corrupt = png.clone()
    val idx = {
      // first tEXt data starts after sig(8) + IHDR(25) + len/type(8)
      8 + 25 + 8 + "Title".length + 1
    }
    corrupt(idx) = 'X'.toByte
    val mc = Multimodal.parsePngMeta(corrupt).get
    assert(mc.width == 12 && mc.texts == Map("Source" -> "s_3"))
    assert(Multimodal.parsePngMeta("plainly not a png".getBytes).isEmpty)
  }

  test("lexicalProfile and tokenSpectrum goldens") {
    import spark.implicits._
    val docs = Seq((1L, "x y x", "a"), (2L, "x", "b"))
      .toDF("doc_id", "text", "source")
    val p = TrainingData.lexicalProfile(docs).collect()
      .map(x => (x.getString(0), x)).toMap
    assert(p("a").getLong(p("a").fieldIndex("n_tokens")) == 3L)
    assert(p("a").getLong(p("a").fieldIndex("n_types")) == 2L)
    assert(p("a").getLong(p("a").fieldIndex("n_hapax")) == 1L)
    assert(p("b").getDouble(p("b").fieldIndex("ttr")) == 1.0)
    val sp = TrainingData.tokenSpectrum(docs).collect()
      .map(x => (x.getLong(0), x)).toMap
    // x: tf 3 → octave 1; y: tf 1 → octave 0
    assert(sp(0L).getLong(sp(0L).fieldIndex("n_types")) == 1L)
    assert(sp(0L).getDouble(sp(0L).fieldIndex("share")) == 0.25)
    assert(sp(1L).getLong(sp(1L).fieldIndex("sum_tf")) == 3L)
    assert(sp(1L).getDouble(sp(1L).fieldIndex("share")) == 0.75)
  }

  test("linRegCovScore golden: recovers planted y = 1 + 2g + 3z exactly") {
    import spark.implicits._
    // z varies independently of g, so the design is non-singular; y is
    // integer and EXACTLY linear, so Cramer must return βg=2, βz=3 with
    // no residual — an independent check of the solver, not a replay of
    // its own formula. Sample 4 is missing (complete-case must drop it:
    // its y=999 would otherwise wreck the fit).
    val z = Seq(5L, 9L, 4L, 7L, 6L)
    val g = Seq[java.lang.Long](0L, 1L, 2L, 1L, null)
    val y = g.zip(z).map { case (gi, zi) =>
      if (gi == null) 999L else 1L + 2L * gi + 3L * zi }
    val v = Seq((1L, g)).toDF("vid", "d")
    val r = graft.operators.PopGen.linRegCovScore(v, y, z).collect()(0)
    assert(r.getLong(1) == 4L) // n called
    assert(r.getDouble(3) == 2.0, "beta_g")
    assert(r.getDouble(4) == 3.0, "beta_z")
    // singular design: monomorphic g → NULL betas, not a crash
    val mono = Seq((2L, Seq[java.lang.Long](1L, 1L, 1L, 1L, 1L)))
      .toDF("vid", "d")
    val rm = graft.operators.PopGen.linRegCovScore(mono, y, z).collect()(0)
    assert(rm.getLong(2) == 0L && rm.isNullAt(3) && rm.isNullAt(4))
  }

  test("Spearman.corr == brute-force midrank Pearson on random ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    for (round <- 1 to 3) {
      // heavy ties on purpose: 12 distinct x values, 20 distinct y
      val rows = (1 to 300).map { _ =>
        (rnd.nextInt(12).toLong, rnd.nextInt(20).toLong * 5) }
      def mr2(vs: Seq[Long]): Map[Long, Long] = {
        val grouped = vs.groupBy(identity).view.mapValues(_.size.toLong)
          .toSeq.sortBy(_._1)
        var before = 0L
        grouped.map { case (v, c) =>
          val r = 2 * before + c + 1; before += c; v -> r }.toMap
      }
      val n = rows.size.toLong
      val rx = mr2(rows.map(_._1))
      val ry = mr2(rows.map(_._2))
      val (num, vx, vy) = rows.foldLeft((0L, 0L, 0L)) {
        case ((a, b, c), (x, y)) =>
          val cx = rx(x) - (n + 1); val cy = ry(y) - (n + 1)
          (a + cx * cy, b + cx * cx, c + cy * cy)
      }
      val r = graft.operators.Spearman.corr(
        rows.toDF("x", "y"), "x", "y", 5L, 7L).collect()(0)
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        == ((n, num, vx, vy)), s"round=$round")
      assert(r.getDouble(4) ==
        num.toDouble / (math.sqrt(vx.toDouble) * math.sqrt(vy.toDouble)))
    }
  }

  test("WeightedMedian.exact == brute force on random grouped data") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (round <- 1 to 4) {
      val rows = (1 to 400).map { _ =>
        (s"g${rnd.nextInt(3)}", rnd.nextInt(1000).toLong,
          (rnd.nextInt(9) + 1).toLong)
      }
      // brute force: smallest v with 2·cumWeight(≤v) ≥ total
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val total = rs.map(_._3).sum
        val sorted = rs.sortBy(_._2)
        var cum = 0L
        val med = sorted.find { r => cum += r._3; 2 * cum >= total }.get._2
        g -> ((total, med))
      }
      // bucket width deliberately NOT dividing the value range evenly,
      // and small enough that the median crosses bucket boundaries
      val got = graft.operators.WeightedMedian.exact(
          rows.toDF("g", "v", "w"), Seq("g"), "v", "w", 37L)
        .collect().map(r =>
          r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == want, s"round=$round")
      // quantile generalization: same brute force at rational levels
      val levels = Seq((1, 4), (1, 2), (9, 10), (1, 1))
      val wantQ = (for {
        (g, rs) <- rows.groupBy(_._1)
        (num, den) <- levels
      } yield {
        val total = rs.map(_._3).sum
        val sorted = rs.sortBy(_._2)
        var cum = 0L
        val v = sorted.find { r =>
          cum += r._3; cum * den >= total * num
        }.get._2
        (g, num.toLong, den.toLong) -> v
      }).toMap
      val gotQ = graft.operators.WeightedMedian.exactQuantiles(
          rows.toDF("g", "v", "w"), Seq("g"), "v", "w", 37L, levels)
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(4))
        .toMap
      assert(gotQ == wantQ, s"round=$round quantiles")
    }
  }
}
