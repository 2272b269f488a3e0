package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PopGen

/** Hand-computed golden values for the population-genetics statistics
  * (Hudson Fst, VanRaden GRM, inbreeding F, Cochran–Armitage trend, PRS,
  * MAF-ranked LD pruning) plus the integer-scale divisibility invariants
  * the exact-arithmetic discipline rests on. The sf0.01 oracle gate
  * (q120–q124, q126) proves the full formulas against DuckDB; these
  * goldens pin the SEMANTICS (what the formulas mean on known cubes). */
class PopGenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("grmScale / hetScale divide every per-n denominator") {
    for (nMax <- 1 to 12; n <- 1 to nMax) {
      assert(PopGen.grmScale(nMax) % (4L * n * n) == 0)
      assert(PopGen.hetScale(nMax) % (n.toLong * (2L * n - 1)) == 0)
    }
    assert(PopGen.grmScale(8) == 2822400L)
    assert(PopGen.hetScale(8) == 360360L)
  }

  test("hudsonFst golden: divergent halves give 2/3, monomorphic null") {
    import spark.implicits._
    // A: g1 = {(0,0),(0,1)} p1=0.25; g2 = {(1,1),(1,1)} p2=1 → Fst = 2/3
    // B: all-REF everywhere → between-group heterozygosity 0 → NULL
    val v = Seq(
      (1L, Seq(Seq(0L, 0L), Seq(0L, 1L), Seq(1L, 1L), Seq(1L, 1L))),
      (2L, Seq(Seq(0L, 0L), Seq(0L, 0L), Seq(0L, 0L), Seq(0L, 0L)))
    ).toDF("vid", "geno")
    val r = PopGen.hudsonFst(v, Seq(0, 1), Seq(2, 3))
      .orderBy("vid").collect()
    assert(r(0).getAs[Long]("a1") == 1L && r(0).getAs[Long]("a2") == 4L)
    assert(math.abs(r(0).getAs[Double]("fst") - 2.0 / 3.0) < 1e-15)
    assert(r(1).isNullAt(r(1).fieldIndex("fst")))
  }

  test("grm golden: opposite homozygotes at p=0.5 give ±2") {
    import spark.implicits._
    val v = Seq((1L, Seq[java.lang.Long](0L, 2L)))
      .toDF("vid", "d")
    val r = PopGen.grm(v, 2).orderBy("i", "j").collect()
    assert(r.length == 3)
    val byPair = r.map(x => ((x.getInt(0), x.getInt(1)),
      x.getAs[Double]("grm"))).toMap
    assert(byPair((0, 0)) == 2.0)
    assert(byPair((0, 1)) == -2.0)
    assert(byPair((1, 1)) == 2.0)
  }

  test("inbreedingF golden: the all-het pair scores F = −1/2") {
    import spark.implicits._
    val v = Seq((1L, Seq[java.lang.Long](1L, 1L))).toDF("vid", "d")
    val r = PopGen.inbreedingF(v, 2).orderBy("s").collect()
    assert(r.length == 2)
    for (row <- r) {
      assert(row.getAs[Long]("o_het") == 1L)
      assert(row.getAs[Double]("f") == -0.5)
    }
  }

  test("trendTest golden: perfect association scores χ² = N, flat null") {
    import spark.implicits._
    val v = Seq(
      (1L, Seq[java.lang.Long](0L, 2L, 0L, 2L)),
      (2L, Seq[java.lang.Long](1L, 1L, 1L, 1L))
    ).toDF("vid", "d")
    val r = PopGen.trendTest(v, Seq(false, true, false, true))
      .orderBy("vid").collect()
    assert(r(0).getAs[Double]("chi2") == 4.0)
    assert(r(1).isNullAt(r(1).fieldIndex("chi2")))
  }

  test("prsScore golden: weighted dosage sums over called sites only") {
    import spark.implicits._
    val v = Seq(
      (1L, Seq[java.lang.Long](1L, null), 100L),
      (2L, Seq[java.lang.Long](2L, 1L), -50L)
    ).toDF("vid", "d", "w")
    val r = PopGen.prsScore(v).orderBy("s").collect()
    assert(r(0).getAs[Long]("n_used") == 2L
      && r(0).getAs[Long]("score_num") == 0L)
    assert(r(1).getAs[Long]("n_used") == 1L
      && r(1).getAs[Long]("score_num") == -50L)
  }

  test("ldPrune: one survivor per perfectly-correlated clique, " +
      "isolated variants untouched, and no kept-kept pair above r²") {
    import spark.implicits._
    // A,B identical and C anti-correlated at adjacent positions (r²=1
    // pairwise); equal MAFs ⇒ ties prune the larger vid. D is isolated.
    val a = Seq[java.lang.Long](0L, 1L, 2L, 0L)
    val c = Seq[java.lang.Long](2L, 1L, 0L, 2L)
    val v = Seq(
      (10L, "c1", 1L, a), (20L, "c1", 2L, a), (30L, "c1", 3L, c),
      (40L, "c1", 10000L, a)
    ).toDF("vid", "chrom", "pos", "d")
    val kept = PopGen.ldPrune(v, 200L, 0.5, 4)
    assert(kept.select("vid").as[Long].collect().sorted.toSeq
      == Seq(10L, 40L))
    // invariant: re-running LD over the kept set finds nothing ≥ r²max
    val keptV = v.join(kept.select("vid"), Seq("vid"), "left_semi")
    val residual = graft.operators.LdWindow.r2(keptV, 200L)
      .filter(col("r2") >= 0.5).count()
    assert(residual == 0L)
  }

  test("linRegScore golden: perfect line gives r²=1, flat site null") {
    import spark.implicits._
    // y = (0, 2, 4, 1); d = [0,1,2,null] → called set lies on y = 2x
    val v = Seq(
      (1L, Seq[java.lang.Long](0L, 1L, 2L, null)),
      (2L, Seq[java.lang.Long](1L, 1L, 1L, 1L))
    ).toDF("vid", "d")
    val r = PopGen.linRegScore(v, Seq(0L, 2L, 4L, 1L))
      .orderBy("vid").collect()
    assert(r(0).getAs[Long]("n") == 3L)
    assert(r(0).getAs[Double]("beta") == 2.0)
    assert(r(0).getAs[Double]("r2") == 1.0)
    assert(r(1).isNullAt(r(1).fieldIndex("beta")))
    assert(r(1).isNullAt(r(1).fieldIndex("r2")))
  }

  test("ldPartnerProfile golden: both endpoints count, null r² only in " +
      "the partner total") {
    import spark.implicits._
    val a = Seq[java.lang.Long](0L, 1L, 2L, 0L)
    val flat = Seq[java.lang.Long](1L, 1L, 1L, 1L)
    val v = Seq(
      (10L, "c1", 1L, a), (20L, "c1", 2L, a), (30L, "c1", 3L, flat)
    ).toDF("vid", "chrom", "pos", "d")
    val got = PopGen.ldPartnerProfile(v, 100L).collect()
      .map(r => r.getAs[Long]("vid") ->
        (r.getAs[Long]("n_partners"), r.getAs[Long]("n_ge05"))).toMap
    assert(got(10L) == ((2L, 1L)))
    assert(got(20L) == ((2L, 1L)))
    assert(got(30L) == ((2L, 0L)))
  }

  test("cmhTest golden: perfect stratified association gives χ² = 2, " +
      "monomorphic null") {
    import spark.implicits._
    // strata {0,1} and {2,3}, cases = odd ordinals, carriers = cases
    val v = Seq(
      (1L, Seq[java.lang.Long](0L, 2L, 0L, 2L)),
      (2L, Seq[java.lang.Long](0L, 0L, 0L, 0L))
    ).toDF("vid", "d")
    val r = PopGen.cmhTest(v, Seq(false, true, false, true),
      Seq(Seq(0, 1), Seq(2, 3))).orderBy("vid").collect()
    assert(r(0).getAs[Long]("u_scaled") == 2L
      && r(0).getAs[Long]("v_scaled") == 2L
      && r(0).getAs[Double]("chi2") == 2.0)
    assert(r(1).isNullAt(r(1).fieldIndex("chi2")))
  }

  test("imputeRhat2 golden: over-dispersed 2, all-het 0, monomorphic null") {
    import spark.implicits._
    val v = Seq(
      (1L, Seq[java.lang.Long](0L, 2L, 0L, 2L)),
      (2L, Seq[java.lang.Long](1L, 1L, 1L, 1L)),
      (3L, Seq[java.lang.Long](0L, 0L, 0L, 0L))
    ).toDF("vid", "d")
    val r = PopGen.imputeRhat2(v, 4).orderBy("vid").collect()
    assert(r(0).getAs[Double]("rhat2") == 2.0)
    assert(r(1).getAs[Double]("rhat2") == 0.0)
    assert(r(2).isNullAt(r(2).fieldIndex("rhat2")))
  }

  test("ibdSegments golden: runs split on mismatch, all-missing pairs " +
      "absent") {
    import spark.implicits._
    // pair (0,1): IBS2 pattern T,T,F,T → runs 2+1; samples 2,3 never
    // called → their pairs have no IBS2 row at all
    val v = Seq(
      (1L, "c1", 10L, Seq[java.lang.Long](1L, 1L, null, null)),
      (2L, "c1", 20L, Seq[java.lang.Long](1L, 1L, null, null)),
      (3L, "c1", 30L, Seq[java.lang.Long](0L, 1L, null, null)),
      (4L, "c1", 40L, Seq[java.lang.Long](1L, 1L, null, null))
    ).toDF("vid", "chrom", "pos", "d")
    val got = PopGen.ibdSegments(v, 4).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getAs[Long]("n_ibs2"), r.getAs[Long]("n_runs"),
          r.getAs[Long]("max_run")))).toMap
    assert(got((0, 1)) == ((3L, 2L, 2L)))
    assert(!got.contains((2, 3)) && !got.contains((0, 2)))
  }

  test("dPrimeWindow golden: coupling 1, repulsion −1, equilibrium 0, " +
      "unphased slots excluded") {
    import spark.implicits._
    def g(rows: (Long, Long)*) = rows.map { case (a, b) =>
      Seq[java.lang.Long](a, b) }
    val v = Seq(
      (1L, "c1", 1L, g((1L, 0L), (1L, 0L)), Seq(true, true)),
      (2L, "c1", 2L, g((1L, 0L), (1L, 0L)), Seq(true, true)),
      (3L, "c1", 3L, g((0L, 1L), (0L, 1L)), Seq(true, true)),
      (4L, "c1", 4L, g((1L, 1L), (0L, 0L)), Seq(true, true)),
      (5L, "c1", 5L, g((1L, 0L), (1L, 0L)), Seq(true, false))
    ).toDF("vid", "chrom", "pos", "geno", "phased")
    val hv = v.select(col("vid"), col("chrom"), col("pos"),
      PopGen.hapAlt(col("geno"), col("phased"), 2).as("d"))
    val got = PopGen.dPrimeWindow(hv, 100L).collect()
      .map(r => ((r.getAs[Long]("vid_a"), r.getAs[Long]("vid_b")),
        (r.getAs[Long]("n"), if (r.isNullAt(r.fieldIndex("dprime")))
          Double.NaN else r.getAs[Double]("dprime")))).toMap
    assert(got((1L, 2L)) == ((4L, 1.0)))    // full coupling
    assert(got((1L, 3L)) == ((4L, -1.0)))   // full repulsion
    assert(got((1L, 4L)) == ((4L, 0.0)))    // equilibrium
    // unphased sample drops its slots from the pairwise-complete set
    assert(got((1L, 5L))._1 == 2L)
  }

  test("haploBlocks golden: coupled+repulsed run forms one 3-variant " +
      "block; equilibrium link breaks it") {
    import spark.implicits._
    def g(rows: (Long, Long)*) = rows.map { case (a, b) =>
      Seq[java.lang.Long](a, b) }
    val v = Seq(
      (1L, "c1", 1L, g((1L, 0L), (1L, 0L)), Seq(true, true)),
      (2L, "c1", 2L, g((1L, 0L), (1L, 0L)), Seq(true, true)),
      (3L, "c1", 3L, g((0L, 1L), (0L, 1L)), Seq(true, true)),
      (4L, "c1", 4L, g((1L, 1L), (0L, 0L)), Seq(true, true)),
      (5L, "c1", 5L, g((1L, 0L), (1L, 0L)), Seq(true, false))
    ).toDF("vid", "chrom", "pos", "geno", "phased")
    val hv = v.select(col("vid"), col("chrom"), col("pos"),
      PopGen.hapAlt(col("geno"), col("phased"), 2).as("d"))
    val got = PopGen.haploBlocks(hv, 0.8).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("start_pos") == 1L
      && got(0).getAs[Long]("end_pos") == 3L
      && got(0).getAs[Long]("n_variants") == 3L
      && got(0).getAs[Long]("span") == 2L)
  }

  test("kinshipPrune golden: the lower-call-rate twin is pruned, " +
      "unrelated samples survive") {
    import spark.implicits._
    // s0 == s1 (φ = 0.5) with s1 missing one call; s2 unrelated
    val v = Seq(
      (1L, Seq[java.lang.Long](1L, 1L, 0L)),
      (2L, Seq[java.lang.Long](1L, 1L, 0L)),
      (3L, Seq[java.lang.Long](0L, null, 2L)),
      (4L, Seq[java.lang.Long](1L, 1L, 0L))
    ).toDF("vid", "d")
    val got = PopGen.kinshipPrune(v, 3, 0.06).orderBy("s").collect()
      .map(r => (r.getInt(0), r.getAs[Long]("n_called"))).toSeq
    assert(got == Seq((0, 4L), (2, 4L)))
  }

  test("pcaFromGrm: residual, orthonormality, and cluster separation") {
    import spark.implicits._
    // two sample clusters: {0,1} vs {2,3}, opposite homozygotes over 6
    // variants plus one flat variant — PC1 must separate the clusters
    val rows = (1L to 6L).map(v =>
      (v, Seq[java.lang.Long](0L, 0L, 2L, 2L))) :+
      (7L, Seq[java.lang.Long](1L, 1L, 1L, 1L))
    val grmDf = PopGen.grm(rows.toDF("vid", "d"), 4)
    val (evs, vecs) = PopGen.pcaFromGrm(grmDf, 4, 2)
    assert(evs(0) >= evs(1) - 1e-9)
    // orthonormal loadings
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dot(vecs(0), vecs(0)) - 1.0) < 1e-9)
    assert(math.abs(dot(vecs(0), vecs(1))) < 1e-6)
    // eigen residual ‖Gv − λv‖ ≈ 0, G rebuilt from the entries
    val g = Array.ofDim[Double](4, 4)
    grmDf.collect().foreach { r =>
      if (!r.isNullAt(r.fieldIndex("grm"))) {
        val (i, j) = (r.getInt(0), r.getInt(1))
        g(i)(j) = r.getAs[Double]("grm"); g(j)(i) = g(i)(j)
      }
    }
    val gv = (0 until 4).map(i =>
      (0 until 4).map(j => g(i)(j) * vecs(0)(j)).sum)
    val resid = math.sqrt((0 until 4)
      .map(i => math.pow(gv(i) - evs(0) * vecs(0)(i), 2)).sum)
    assert(resid < 1e-6, s"eigen residual $resid")
    // PC1 separates the clusters: within-cluster equal sign, across opposite
    assert(vecs(0)(0) * vecs(0)(1) > 0 && vecs(0)(2) * vecs(0)(3) > 0)
    assert(vecs(0)(0) * vecs(0)(2) < 0)
  }

  test("LdWindow.stats shares one materialized stage across consumers") {
    import spark.implicits._
    import graft.operators.LdWindow
    graft.core.SharedStages.ld.clear()
    val base = Seq(
      (1L, "c1", 10L, Seq[java.lang.Long](0L, 1L, 2L, 0L)),
      (2L, "c1", 20L, Seq[java.lang.Long](0L, 1L, 2L, 1L)),
      (3L, "c1", 500L, Seq[java.lang.Long](2L, 0L, 0L, null))
    ).toDF("vid", "chrom", "pos", "d")
    // two consumers building the SAME logical stage independently get
    // the one persisted DataFrame back (canonicalized-plan key) …
    def mk = base.filter(col("pos") < 1000L)
    val s1 = LdWindow.stats(mk, 100L)
    val s2 = LdWindow.stats(mk, 100L)
    assert(s1 eq s2)
    // … while a different window (or carry) is a different stage
    assert(!(LdWindow.stats(mk, 50L) eq s1))
    assert(!(LdWindow.stats(mk, 100L, carry = Seq("chrom")) eq s1))
    // and the shared stage computes the same pairs as an uncached run
    val got = graft.operators.LdWindow.r2(mk, 100L)
      .select("vid_a", "vid_b", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 4L)))
    graft.core.SharedStages.ld.clear()
  }

  test("SeqVarData façade surfaces the popgen ops over canonical columns") {
    import spark.implicits._
    val v = graft.api.SeqVarData(Seq(
      (1L, "c1", 1L, Seq(Seq(0L, 0L), Seq(0L, 1L), Seq(1L, 1L),
        Seq(1L, 1L)), Seq(true, true, true, true)),
      (2L, "c1", 2L, Seq(Seq(0L, 0L), Seq(0L, 1L), Seq(1L, 1L),
        Seq(1L, 1L)), Seq(true, true, true, true))
    ).toDF("variant_id", "chrom", "pos", "geno", "phased"))
    assert(v.nSamples == 4)
    val fst = v.fst(Seq(0, 1), Seq(2, 3)).orderBy("vid").collect()
    assert(math.abs(fst(0).getAs[Double]("fst") - 2.0 / 3.0) < 1e-15)
    assert(v.grm().count() == 10)         // 4 samples → 10 pairs incl. diag
    assert(v.ldMatrix(100L).count() == 1) // one in-window pair
    assert(v.dPrime(100L).collect()(0).getAs[Double]("dprime") == 1.0)
    assert(v.assocTrend(Seq(false, false, true, true))
      .filter(col("chi2").isNotNull).count() == 2)
    val (evs, _) = v.pca(1)
    assert(evs(0) > 0)
    // round-6 surface: W&C Fst (per-variant + strata), IBS, PCA corr /
    // loadings
    assert(v.wcFst(Seq(0, 1), Seq(2, 3)).count() == 2)
    assert(v.wcFst(Seq(0, 1), Seq(2, 3), strata = true).count() == 1)
    assert(v.ibs().count() == 10)
    val vecs = Seq(Seq(1.0, -1.0, 1.0, -1.0))
    assert(v.pcaCorr(vecs).columns.contains("corr_1"))
    assert(v.pcaLoadings(vecs).columns.contains("b_1"))
    // round-6 fifth wave: selection scans, clumping, rare-variant QC
    assert(v.tajimaD(100L).columns.contains("tajima_d"))
    assert(v.garudH(100L).select("h12").collect()
      .forall(_.getDouble(0) <= 1.0))
    assert(v.clump(100L, 0.5).filter(col("is_index")).count() == 1)
    assert(v.singletonLoad().count() == 4)
    assert(v.diffMissing(Seq(0, 1), Seq(2, 3)).count() == 2)
    val withAllele = graft.api.SeqVarData(
      v.variants.withColumn("allele", lit("A,C")))
    // both variants: sample 1 het + samples 2,3 hom — alt mass 5, no f2
    assert(withAllele.f2Sharing().count() == 0)
    // wave 12-15 surface: Fu & Li windows, jackknifed Patterson D —
    // a single-chromosome input has no leave-one-out block, and the
    // operator must still report that (m_blocks = 0, NULL jk fields)
    // rather than vanish
    assert(v.fuLi(100L).columns.contains("d_star"))
    val jk = v.dJackknife(Seq(0), Seq(1), Seq(2), Seq(3)).collect()
    assert(jk.length == 1 && jk(0).getAs[Long]("m_blocks") == 0L)
    assert(jk(0).isNullAt(jk(0).fieldIndex("jk_mean")))
  }

  test("wcFst integer closed form == textbook Weir–Cockerham on a " +
      "fuzzed cube") {
    import spark.implicits._
    // 300 random diploid variants over 8 samples (two groups of 4) with
    // missing calls; the exact-BIGINT closed form must match the
    // floating-point textbook variance components everywhere, NULLs
    // included
    val rng = new scala.util.Random(20260814)
    val cube = (1L to 300L).map { vid =>
      (vid, Seq.fill(8) {
        if (rng.nextInt(6) == 0) Seq[java.lang.Long](null, null)
        else Seq[java.lang.Long](rng.nextInt(2).toLong, rng.nextInt(2).toLong)
      })
    }
    def textbook(g: Seq[Seq[java.lang.Long]]): Option[Double] = {
      def grp(ss: Seq[Seq[java.lang.Long]]) = {
        val called = ss.filter(_.forall(_ != null))
        (called.size,
          called.map(_.count(_ != 0L)).sum,
          called.count(_.count(_ != 0L) == 1))
      }
      val (c1, x1, h1) = grp(g.take(4)); val (c2, x2, h2) = grp(g.drop(4))
      if (c1 < 1 || c2 < 1 || c1 + c2 <= 2) return None
      val r = 2.0
      val nbar = (c1 + c2) / r
      val nc = (r * nbar - (c1.toDouble * c1 + c2.toDouble * c2) / (r * nbar)) / (r - 1)
      val p1 = x1 / (2.0 * c1); val p2 = x2 / (2.0 * c2)
      val pbar = (c1 * p1 + c2 * p2) / (r * nbar)
      val s2 = (c1 * math.pow(p1 - pbar, 2) + c2 * math.pow(p2 - pbar, 2)) /
        ((r - 1) * nbar)
      val hbar = (h1 + h2) / (r * nbar)
      val a = (nbar / nc) * (s2 - (1 / (nbar - 1)) *
        (pbar * (1 - pbar) - ((r - 1) / r) * s2 - hbar / 4))
      val b = (nbar / (nbar - 1)) * (pbar * (1 - pbar) -
        ((r - 1) / r) * s2 - (2 * nbar - 1) / (4 * nbar) * hbar)
      val c = hbar / 2
      if (a + b + c == 0) None else Some(a / (a + b + c))
    }
    val got = PopGen.wcFst(cube.toDF("vid", "geno"),
        Seq(0, 1, 2, 3), Seq(4, 5, 6, 7))
      .select("vid", "theta").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    var nonNull = 0
    for ((vid, g) <- cube) {
      val exp = textbook(g)
      (got(vid), exp) match {
        case (None, None) =>
        case (Some(a), Some(b)) =>
          nonNull += 1
          assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)),
            s"vid=$vid got $a expected $b")
        case other => fail(s"vid=$vid null-mismatch: $other")
      }
    }
    assert(nonNull > 200, s"fuzz must exercise non-null thetas: $nonNull")
  }

  test("ibs golden: identical pair = 1, opposite pair = 0, " +
      "pairwise-complete sites only") {
    import spark.implicits._
    val v = Seq(
      (1L, Seq[java.lang.Long](0L, 0L, 2L, 1L)),
      (2L, Seq[java.lang.Long](2L, 2L, 0L, null)),
      (3L, Seq[java.lang.Long](1L, 1L, 1L, 0L))
    ).toDF("vid", "d")
    val r = PopGen.ibs(v, 4).collect()
      .map(x => ((x.getInt(0), x.getInt(1)),
        (x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    assert(r((0, 1)) == ((3L, 0L, 1.0)))       // identical everywhere
    assert(r((0, 2)) == ((3L, 4L, 1.0 - 4.0 / 6.0))) // |0-2|+|2-0|+|1-1|
    assert(r((1, 3))._1 == 2L)                 // sample 3 missing at vid 2
    assert(r((0, 0)) == ((3L, 0L, 1.0)))       // diagonal
  }

  test("imputeMeanDosage: missing becomes the called mean, complete " +
      "rows untouched, all-missing becomes 0") {
    import spark.implicits._
    val v = Seq(
      (1L, Seq[java.lang.Long](0L, 2L, null, 1L)),
      (2L, Seq[java.lang.Long](null, null, null, null))
    ).toDF("vid", "d")
    val r = PopGen.imputeMeanDosage(v, 4).orderBy("vid").collect()
    assert(r(0).getAs[Long]("n") == 3L && r(0).getAs[Long]("a") == 3L)
    assert(r(0).getAs[scala.collection.Seq[Double]]("d_imp").toList ==
      List(0.0, 2.0, 1.0, 1.0))
    assert(r(1).getAs[scala.collection.Seq[Double]]("d_imp").toList ==
      List(0.0, 0.0, 0.0, 0.0))
  }

  test("pcaProject reproduces sqrt(lambda) * eigenvector for the " +
      "training cohort") {
    import spark.implicits._
    // complete cohort (no missing): the pairwise-complete GRM equals
    // the mean-imputed model exactly, so projecting the training
    // samples through the SNP loadings must land on √λ_l · v_l
    val rows = (1L to 6L).map(v =>
      (v, Seq[java.lang.Long](0L, 0L, 2L, 2L, 1L))) ++
      (7L to 9L).map(v => (v, Seq[java.lang.Long](2L, 0L, 0L, 2L, 1L))) ++
      (10L to 12L).map(v => (v, Seq[java.lang.Long](1L, 0L, 2L, 1L, 0L)))
    val v = rows.toDF("vid", "d")
    val grmDf = PopGen.grm(v, 5)
    val (ev, vecs) = PopGen.pcaFromGrm(grmDf, 5, 2)
    val den = PopGen.grmDenominator(v, 5)
    assert(den > 0)
    val loadings = PopGen.pcaLoadings(v, 5, vecs.toSeq.map(_.toSeq))
    val scores = PopGen.pcaProject(loadings, v, 5, den, ev.toSeq)
    for (l <- 0 until 2; t <- 0 until 5) {
      val expected = math.sqrt(ev(l)) * vecs(l)(t)
      assert(math.abs(scores(t)(l) - expected) < 1e-6,
        s"component $l sample $t: ${scores(t)(l)} vs $expected")
    }
  }

  test("wcFstStrata on CEU: strata rebuild from per-variant counts; " +
      "genome-wide theta near zero for same-population halves") {
    val v = graft.sources.gds.Gds.read(spark,
        Fixtures.path("CEU_Exon.gds"))
      .select(col("variant_id").as("vid"), col("geno"))
    val strata = PopGen.wcFstStrata(v, 0 until 45, 45 until 90)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // independent rebuild: per-variant counts through the public wcFst
    // surface, components recomputed in BigInt, grouped by stratum
    val counts = PopGen.wcFst(v, 0 until 45, 45 until 90)
      .select("c1", "x1", "h1", "c2", "x2", "h2").collect()
      .map(r => (0 to 5).map(r.getLong).toList)
    val expected = counts
      .filter { case List(c1, _, _, c2, _, _) => c1 >= 1 && c2 >= 1 && c1 + c2 > 2 }
      .groupBy { case List(c1, _, _, c2, _, _) => (c1, c2) }
      .map { case ((c1, c2), rows) =>
        var sa = BigInt(0); var sbc = BigInt(0)
        for (List(_, x1, h1, _, x2, h2) <- rows) {
          val nn = BigInt(c1 + c2); val mm = BigInt(c1 * c2)
          val dd = BigInt(x1 * c2 - x2 * c1)
          val xx = BigInt(x1 + x2); val hh = BigInt(h1 + h2)
          val a = nn * (dd * dd * (nn - 1) - mm * (xx * (2 * nn - xx) - hh * nn))
          val b = 2 * mm * (xx * (2 * nn - xx) * mm - dd * dd -
            2 * hh * mm * (nn - 1))
          val c = 4 * mm * mm * (nn - 2) * hh
          sa += a; sbc += b + c
        }
        (c1, c2) -> ((rows.size.toLong, sa, sbc))
      }
    assert(strata.length == expected.size)
    for ((c1, c2, n, sa, sbc) <- strata) {
      val (en, esa, esbc) = expected((c1, c2))
      assert(n == en && BigInt(sa) == esa && BigInt(sbc) == esbc,
        s"stratum ($c1,$c2)")
    }
    // the halves are one population: genome-wide θ must sit near 0
    val theta = PopGen.wcThetaFromStrata(
      strata.map { case (c1, c2, _, sa, sbc) => (c1, c2, sa, sbc) })
    assert(theta.abs < 0.02, s"theta=$theta")
    assert(strata.map(_._3).sum == 1348 ||
      strata.map(_._3).sum < 1348, "valid loci bounded by fixture size")
  }

  test("familySplit: whole families stay on one side, components match " +
      "a hand-checked kinship graph") {
    import spark.implicits._
    // two parent-child duos (share one haplotype) + two unrelated:
    // kinship(0,1) and kinship(2,3) high, cross-pairs low
    val rng = new scala.util.Random(7)
    val rows = (1L to 400L).map { vid =>
      val h = Array.fill(6)(rng.nextInt(2).toLong)
      // s0,s1 share h(0); s2,s3 share h(1); s4,s5 independent
      def g(shared: Long) = shared + rng.nextInt(2)
      (vid, Seq[java.lang.Long](g(h(0)), g(h(0)), g(h(1)), g(h(1)),
        rng.nextInt(3).toLong, rng.nextInt(3).toLong))
    }
    val r = PopGen.familySplit(rows.toDF("vid", "d"), 6, phiMax = 0.15)
      .collect().map(x => x.getInt(0) ->
        (x.getInt(1), x.getLong(2), x.getString(3))).toMap
    // duos form families, unrelated samples are singletons
    assert(r(0)._1 == r(1)._1 && r(0)._2 == 2L)
    assert(r(2)._1 == r(3)._1 && r(2)._2 == 2L)
    assert(r(0)._1 != r(2)._1)
    assert(r(4)._2 == 1L && r(5)._2 == 1L && r(4)._1 != r(5)._1)
    // the leakage guard itself: split is a FUNCTION of the family
    assert(r.values.groupBy(_._1).forall(_._2.map(_._3).toSet.size == 1))
  }

  test("mendelErrors golden: the full violation table on hand cases") {
    import spark.implicits._
    // one trio (f=0, m=1, c=2); every (df, dm, dc) class exercised
    val cases = Seq(
      // (vid, df, dm, dc, expected err)
      (1L, 2L, 1L, 0L, 1L), // hom-ALT father, child hom-REF
      (2L, 0L, 1L, 2L, 1L), // hom-REF father, child hom-ALT
      (3L, 0L, 0L, 1L, 1L), // both hom-REF, het child
      (4L, 2L, 2L, 1L, 1L), // both hom-ALT, het child
      (5L, 0L, 2L, 1L, 0L), // opposite homozygotes: het child REQUIRED
      (6L, 1L, 1L, 0L, 0L), (7L, 1L, 1L, 2L, 0L), // double het: anything
      (8L, 0L, 1L, 0L, 0L), (9L, 2L, 1L, 2L, 0L)
    )
    val v = cases.map { case (vid, f, m, c, _) =>
      (vid, Seq[java.lang.Long](f, m, c, null))
    }.toDF("vid", "d")
    val got = PopGen.mendelErrors(v, Seq((0, 1, 2)))
      .select("vid", "mendel_err").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((vid, _, _, _, e) <- cases)
      assert(got(vid) == e, s"vid=$vid")
    // a trio touching the all-null sample contributes nothing
    assert(PopGen.mendelErrors(v, Seq((0, 1, 3))).count() == 0)
  }

  test("tdt golden: het-parent transmissions, double-het ambiguity " +
      "splits both ways, hom-only trios are uninformative") {
    import spark.implicits._
    // one trio per variant (f=0, m=1, c=2)
    val v = Seq(
      (1L, Seq[java.lang.Long](1L, 0L, 1L)), // het father transmits ALT
      (2L, Seq[java.lang.Long](1L, 0L, 0L)), // het father transmits REF
      (3L, Seq[java.lang.Long](1L, 1L, 1L)), // double het, het child: b+1 c+1
      (4L, Seq[java.lang.Long](1L, 1L, 2L)), // double het, hom-ALT: b+2
      (5L, Seq[java.lang.Long](2L, 0L, 1L)), // hom parents only: b=c=0
      (6L, Seq[java.lang.Long](1L, 2L, 2L))  // het + hom-ALT: ALT from het
    ).toDF("vid", "d")
    val r = PopGen.tdt(v, Seq((0, 1, 2))).collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3),
        if (x.isNullAt(4)) None else Some(x.getDouble(4)))).toMap
    assert(r(1L) == ((1L, 0L, Some(1.0))))
    assert(r(2L) == ((0L, 1L, Some(1.0))))
    assert(r(3L) == ((1L, 1L, Some(0.0))))
    assert(r(4L) == ((2L, 0L, Some(4.0 / 2.0))))
    assert(r(5L) == ((0L, 0L, None)))
    assert(r(6L) == ((1L, 0L, Some(1.0))))
  }

  test("diversityWindow golden: hand-computed pi, segregating sites, " +
      "Watterson theta") {
    import spark.implicits._
    val v = Seq(
      // window 0: one site a=2 of m=4 (pi = 2*2*2/(4*3) = 1/3... ) and
      // one monomorphic site; window 1: a fully-missing site drops
      (1L, "c1", 10L, Seq(Seq[java.lang.Long](0L, 1L),
        Seq[java.lang.Long](1L, 0L))),
      (2L, "c1", 20L, Seq(Seq[java.lang.Long](0L, 0L),
        Seq[java.lang.Long](0L, 0L))),
      (3L, "c1", 120L, Seq(Seq[java.lang.Long](null, null),
        Seq[java.lang.Long](null, null)))
    ).toDF("vid", "chrom", "pos", "geno")
    val r = PopGen.diversityWindow(v, Seq(0, 1), window = 100L)
      .collect().map(x => x.getLong(1) ->
        (x.getLong(3), x.getLong(4), x.getDouble(6), x.getDouble(7)))
      .toMap
    val scale = PopGen.piScale(4)
    // site 1: a=2, m=4 → pi_site = 2*2*(4-2)/(4*3) = 2/3
    val (nS, sSeg, pi, thetaW) = r(0L)
    assert(nS == 2L && sSeg == 1L)
    assert(pi == (2L * 2 * 2 * (scale / 12)).toDouble / scale)
    assert(math.abs(pi - 2.0 / 3.0) < 1e-15)
    assert(thetaW == 1.0 / PopGen.harmonic(3))
    assert(!r.contains(1L)) // the all-missing site forms no window
  }

  test("fuLiWindow golden: singleton counting, D*/F* signs, and the " +
      "published constants identity") {
    import spark.implicits._
    // n = 4 alleles: site 1 has a=1 (singleton), site 2 a=2 (no
    // singleton), site 3 a=3 = m-1 (singleton), site 4 monomorphic
    val v = Seq(
      (1L, "c1", 10L, Seq(Seq[java.lang.Long](0L, 1L),
        Seq[java.lang.Long](0L, 0L))),
      (2L, "c1", 20L, Seq(Seq[java.lang.Long](0L, 1L),
        Seq[java.lang.Long](1L, 0L))),
      (3L, "c1", 30L, Seq(Seq[java.lang.Long](1L, 1L),
        Seq[java.lang.Long](1L, 0L))),
      (4L, "c1", 40L, Seq(Seq[java.lang.Long](0L, 0L),
        Seq[java.lang.Long](0L, 0L)))
    ).toDF("vid", "chrom", "pos", "geno")
    val r = PopGen.fuLiWindow(v, Seq(0, 1), window = 100L).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_sites") == 4L)
    assert(row.getAs[Long]("s_seg") == 3L)
    assert(row.getAs[Long]("eta_s") == 2L) // sites 1 and 3 only
    // constants: u + v identity from Fu & Li 1993 (the normalizing
    // relation u_D* = (n/(n-1))*(a_n - n/(n-1)) - v_D*), and all
    // variance constants positive for n = 4..1000
    for (n <- Seq(4, 10, 16, 100, 1000)) {
      val (an, uD, vD, uF, vF) = PopGen.fuLiConstants(n)
      val nd = n.toDouble
      assert(math.abs(uD + vD - (nd / (nd - 1.0)) *
        (an - nd / (nd - 1.0))) < 1e-12)
      assert(uD > 0 && vD > 0 && uF > 0 && vF > 0)
      assert(math.abs(an - PopGen.harmonic(n - 1)) == 0.0)
    }
    // an all-singleton window scores NEGATIVE D* (excess rare
    // variation), a singleton-free segregating window POSITIVE
    val allSingle = Seq(
      (1L, "c1", 10L, Seq(Seq[java.lang.Long](0L, 1L),
        Seq[java.lang.Long](0L, 0L))),
      (2L, "c1", 20L, Seq(Seq[java.lang.Long](1L, 0L),
        Seq[java.lang.Long](0L, 0L)))
    ).toDF("vid", "chrom", "pos", "geno")
    val ds = PopGen.fuLiWindow(allSingle, Seq(0, 1), window = 100L)
      .collect().head.getAs[Double]("d_star")
    assert(ds < 0.0)
    val noSingle = Seq(
      (1L, "c1", 10L, Seq(Seq[java.lang.Long](0L, 1L),
        Seq[java.lang.Long](1L, 0L))),
      (2L, "c1", 20L, Seq(Seq[java.lang.Long](1L, 1L),
        Seq[java.lang.Long](0L, 0L)))
    ).toDF("vid", "chrom", "pos", "geno")
    val dp = PopGen.fuLiWindow(noSingle, Seq(0, 1), window = 100L)
      .collect().head.getAs[Double]("d_star")
    assert(dp > 0.0)
  }

  test("tokenCommonness golden: corpus-frequency sums, one division") {
    import spark.implicits._
    val docs = Seq(("a", "x x y"), ("b", "y z")).toDF("doc_id", "text")
    val r = graft.pipeline.TrainingData.tokenCommonness(docs, minCount = 3L)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_tokens") == 3L
      && r(0).getAs[Long]("sum_tf") == 6L
      && r(0).getAs[Long]("n_rare") == 3L
      && r(0).getAs[Double]("score") == 2.0)
    assert(r(1).getAs[Long]("n_tokens") == 2L
      && r(1).getAs[Long]("sum_tf") == 3L
      && r(1).getAs[Double]("score") == 1.5)
  }

  test("ibdMoMCorrected golden: PLINK count-corrected expectations " +
      "replayed by an independent loop; kinship = pi_hat / 2") {
    import spark.implicits._
    val cube: Seq[Seq[java.lang.Long]] = Seq(
      Seq(0L, 1L, 2L, 1L),
      Seq(1L, 1L, 0L, 2L),
      Seq(2L, 0L, 1L, null),
      Seq(0L, 0L, 1L, 1L),
      Seq(1L, 2L, 2L, 0L))
    val v = cube.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("vid", "d")
    val got = PopGen.ibdMoMCorrected(v, 4).collect()
      .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")), r)).toMap
    assert(got.size == 6)
    // independent per-pair replay of the corrected expectations
    for (i <- 0 until 4; j <- (i + 1) until 4) {
      var n0 = 0L; var n1 = 0L; var n2 = 0L; var ns = 0L
      var se0 = 0L; var se10 = 0L; var se11 = 0L
      cube.foreach { d =>
        val called = d.filter(_ != null).map(_.longValue)
        val n = called.size.toLong; val a = called.sum
        if (a > 0 && a < 2 * n && n >= 2 &&
            d(i) != null && d(j) != null) {
          ns += 1
          val dist = math.abs(d(i).longValue - d(j).longValue)
          if (dist == 2) n0 += 1 else if (dist == 1) n1 += 1 else n2 += 1
          val x = a; val y = 2 * n - a; val t = 2 * n
          val d4 = (t * (t - 1) * (t - 2) * (t - 3)).toDouble
          val d3 = (t * (t - 1) * (t - 2)).toDouble
          se0 += math.floor(2.0
            * ((x * (x - 1) * y * (y - 1)).toDouble / d4)
            * 1000000000L).toLong
          se10 += math.floor((4.0
            * ((x * (x - 1) * (x - 2) * y).toDouble / d4)
            + 4.0 * ((x * y * (y - 1) * (y - 2)).toDouble / d4))
            * 1000000000L).toLong
          se11 += math.floor((2.0 * ((x * (x - 1) * y).toDouble / d3)
            + 2.0 * ((x * y * (y - 1)).toDouble / d3))
            * 1000000000L).toLong
        }
      }
      val r = got((i, j))
      assert(r.getAs[Long]("n_sites") == ns && r.getAs[Long]("n0") == n0
        && r.getAs[Long]("n1") == n1 && r.getAs[Long]("n2") == n2,
        s"counts ($i,$j)")
      assert(r.getAs[Long]("se0") == se0 && r.getAs[Long]("se10") == se10
        && r.getAs[Long]("se11") == se11, s"e-sums ($i,$j)")
      val z0 = if (se0 > 0) (n0 * 1000000000L).toDouble / se0.toDouble
        else Double.NaN
      val z1 = if (se11 > 0) ((n1 * 1000000000L).toDouble
        - z0 * se10.toDouble) / se11.toDouble else Double.NaN
      val z2 = 1.0 - z0 - z1
      if (!z2.isNaN) {
        assert(math.abs(r.getAs[Double]("pi_hat") - (z2 + z1 / 2))
          < 1e-12, s"pi_hat ($i,$j)")
        assert(r.getAs[Double]("kinship") ==
          0.5 * r.getAs[Double]("z2") + 0.25 * r.getAs[Double]("z1"),
          s"kinship ($i,$j)")
      }
    }
    // the correction must actually change the expectation sums vs the
    // textbook lane (same cube, same pairs)
    val plain = PopGen.ibdMoM(v, 4).collect()
      .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")),
        r.getAs[Long]("se0"))).toMap
    assert((0 until 4).combinations(2).exists { c =>
      plain((c(0), c(1))) != got((c(0), c(1))).getAs[Long]("se0")
    }, "corrected se0 should differ from textbook se0 somewhere")
  }
}
