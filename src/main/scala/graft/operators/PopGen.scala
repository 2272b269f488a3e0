package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SharedStages

/** Population-genetics statistics over the two-table variant model — the
  * SNPRelate/GCTA/PLINK workloads a SeqArray handle feeds (reference link
  * layer /root/reference/src/LinkSNPRelate.cpp:1-410): Hudson Fst, the
  * VanRaden genetic-relationship matrix, the method-of-moments inbreeding
  * coefficient, the Cochran–Armitage trend association test, polygenic
  * risk scoring, and MAF-ranked LD pruning.
  *
  * Exactness discipline: every estimator here is a RATIO OF TWO INTEGER
  * AGGREGATES. Per-variant terms are rationalized onto a constant common
  * denominator (an LCM over the possible per-variant called-sample
  * counts), summed as BIGINTs (associative, order-free — safe to shuffle),
  * and divided exactly once at the end. A floating-point SUM would be
  * ordering-sensitive and could not be hash-compared against another
  * engine; a single int/int division is IEEE-correctly-rounded and
  * bit-identical everywhere.
  *
  * Scale notes (100 TB / biobank): Fst and the trend test are pure
  * per-variant projections + one map-side-combined groupBy-free pass (no
  * shuffle at all — one row in, one row out). GRM and inbreeding explode
  * to (variant, pair) / (variant, sample) COUNTER rows whose partial
  * aggregation collapses each partition to #pairs (resp. #samples) rows
  * before the exchange — the shuffle carries pairs × partitions rows,
  * never the genotype cube. LD pruning rides the banded window join of
  * [[LdWindow]] (linear shuffle, no out-of-window pair enumerated).
  */
object PopGen {

  /** Overflow-CHECKED lcm fold: `a/gcd(a,b)·b` with `multiplyExact`,
    * so a cohort wide enough to push the common denominator past Long
    * fails LOUDLY with the width that did it — the silent-wrap
    * alternative would quietly poison every downstream "exact" BIGINT
    * sum (grmScale overflows near nMax ≈ 21, hetScale ≈ 30; the
    * documented upgrade path for wider cohorts is the two-BIGINT
    * numerator/denominator form or a BigDecimal scale). */
  private def lcmExact(terms: Seq[Long], what: String): Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    terms.reduce { (a, b) =>
      try math.multiplyExact(a / gcd(a, b), b)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"$what overflows Long at this width — use a narrower cohort " +
            "or the documented numerator/denominator form")
      }
    }
  }

  /** lcm of `4·n²` for n = 1..nMax — the common denominator that makes
    * every VanRaden per-variant term an exact integer. */
  def grmScale(nMax: Int): Long =
    lcmExact((1 to nMax).map(n => 4L * n * n), s"grmScale($nMax)")

  /** lcm of `n·(2n−1)` for n = 1..nMax — common denominator for the
    * small-sample-corrected expected-heterozygosity terms. */
  def hetScale(nMax: Int): Long =
    lcmExact((1 to nMax).map(n => n.toLong * (2L * n - 1)),
      s"hetScale($nMax)")

  private def alleleAt(geno: Column, s: Int, p: Int): Column =
    element_at(element_at(geno, s + 1), p + 1)

  /** Filter that CANNOT be pushed below the projection computing its
    * inputs. Catalyst substitutes projected expressions into any filter
    * it pushes through a Project — even a non-deterministic predicate —
    * and the substituted copy loses the projection chain's subexpression
    * sharing: for a heavy derived column (a genotype-cube dosage array,
    * an LD-stats vector) that re-evaluates the expression once per
    * column reference (measured 8× on the LD-pair r² filter), sometimes
    * clear down to the single-task scan. What DOES stop pushdown is a
    * non-deterministic field in the Project itself
    * (`PushPredicateThroughNonJoin` requires every project field to be
    * deterministic), so the predicate routes through a referenced
    * non-deterministic pin column — always-false disjunct, one long
    * comparison per row. */
  private[graft] def pinnedFilter(df: DataFrame, cond: Column): DataFrame =
    df.withColumn("__pin", monotonically_increasing_id())
      .filter(cond || col("__pin") < 0)
      .drop("__pin")

  /** Exact integer `f(n)` via ONE array-literal lookup — Spark's `/`
    * on integers is DOUBLE division, which would poison the BIGINT
    * sums, so the quotients are precomputed host-side into a single
    * `Literal(ArrayData)` child and fetched with a codegen'd
    * `element_at`. O(1) plan nodes at ANY nMax (the when-chain this
    * replaces grew the plan linearly in nMax — the round-10 verdict's
    * literal-switch cousin of the unrolled-reduce class); out-of-range
    * n (≤0 or >nMax) yields 0L exactly like the old chain's fold base,
    * and the guard short-circuits so ANSI element_at never sees an
    * invalid index. */
  private def intByN(n: Column, nMax: Int)(f: Int => Long): Column = {
    val table: Array[Long] = (1 to nMax).map(f).toArray
    when(n >= 1 && n <= nMax, element_at(lit(table), n.cast("int")))
      .otherwise(lit(0L))
  }

  /** `(n_called, alt_sum)` over a collapsed-dosage array in one fused
    * [[graft.functions.expressions.DosageWeightedStats]] call with an
    * all-ones weight literal — O(1) plan nodes at any cohort width.
    * Replaces the per-ordinal `balanced` unroll pair (the round-9
    * "unrolled-reduce" class); whole-stage codegen's subexpression
    * elimination shares the single kernel evaluation between the two
    * projections. */
  private def calledAltSums(d: Column, nSamples: Int): (Column, Column) = {
    val st = graft.functions.genetics.dosageWeightedStats(d,
      Seq.fill(nSamples)(1L))
    (element_at(st, 1), element_at(st, 2))
  }

  /** Per-group called-allele and alt-allele counts, statically unrolled
    * over the sample ordinals (stays inside whole-stage codegen — no
    * interpreted higher-order function on the hot path). */
  private def groupCounts(geno: Column, group: Seq[Int], ploidy: Int)
      : (Column, Column) = {
    // contiguous diploid ranges go through the fused one-loop kernel
    // (the 2·ploidy·|group|-term unroll would overflow the 64 KB
    // generated-method limit at biobank cohort widths — same failure
    // mode GroupGenoCounts fixed for the W&C path)
    if (ploidy == 2 && group.nonEmpty && group == (group.head to group.last)) {
      val t = graft.functions.genetics.groupAlleleCounts(
        geno, group.head, group.last + 1)
      (element_at(t, 1), element_at(t, 2))
    } else {
      val alleles =
        for (s <- group; p <- 0 until ploidy) yield alleleAt(geno, s, p)
      val called = balanced(alleles.map(a =>
        when(a.isNotNull, 1L).otherwise(0L)))(_ + _)
      val alt = balanced(alleles.map(a => when(a.isNotNull && a =!= 0, 1L)
        .otherwise(0L)))(_ + _)
      (called, alt)
    }
  }

  /** Hudson Fst (Bhatia et al. 2013, eq. 10) per variant between two
    * sample groups, on collapsed-biallelic allele counts (any non-REF
    * allele counts as ALT — the same collapse [[graft.functions.genetics.dosageAlt]]
    * applies). `v` must carry `vid` and `geno`; emits
    * (vid, n1, n2, a1, a2, fst) where n_g / a_g are called / alt allele
    * counts in group g and fst is NULL when either group has < 2 called
    * alleles or the between-group heterozygosity is 0.
    *
    * num = (p1−p2)² − p1(1−p1)/(n1−1) − p2(1−p2)/(n2−1),
    * den = p1(1−p2) + p2(1−p1), multiplied through by
    * n1²·n2²·(n1−1)·(n2−1) so both are integers; one final division.
    * Pure projection — zero shuffles, scales embarrassingly. */
  def hudsonFst(v: DataFrame, g1: Seq[Int], g2: Seq[Int], ploidy: Int = 2)
      : DataFrame =
    hudsonComponents(v.select(col("vid"), col("geno")), g1, g2, ploidy)
      .withColumn("fst",
        when(col("n1") >= 2 && col("n2") >= 2 && col("den_i") =!= 0,
          col("num_i").cast("double") / col("den_i").cast("double")))
      .drop("geno", "num_i", "den_i")

  /** Windowed Hudson Fst — the selection-scan workload: per genomic
    * window (chrom, pos DIV `window`), the RATIO OF SUMS
    * Σnum / Σden over the window's valid variants — exactly the
    * "ratio of averages" estimator Bhatia et al. 2013 recommend over
    * averaging per-site ratios (and, conveniently, the only form that
    * stays exact: both sums are BIGINTs on the same per-site scale,
    * one division per window). Valid sites = both groups ≥ 2 called
    * alleles and den ≠ 0. `v` needs vid, chrom, pos, geno. One
    * map-side-combined (chrom, win) aggregate — #windows rows cross
    * the wire. Emits (chrom, win, win_start, n_sites, fst_num,
    * fst_den, fst_win). */
  def windowedFst(v: DataFrame, g1: Seq[Int], g2: Seq[Int],
      window: Long, ploidy: Int = 2): DataFrame = {
    require(window > 0, s"window must be positive; got $window")
    // pinned: a plain filter on these aliased wide expressions both
    // re-inlines the per-sample unrolls below the scan (the q126
    // lesson) and feeds InferFiltersFromConstraints a combinatorial
    // constraint set (measured: OOM at analysis time)
    pinnedFilter(hudsonComponents(v, g1, g2, ploidy),
      col("n1") >= 2 && col("n2") >= 2 && col("den_i") =!= 0)
      .withColumn("win", expr(s"pos div $window").cast("long"))
      .groupBy(col("chrom"), col("win"))
      .agg(count(lit(1)).as("n_sites"),
        sum(col("num_i")).as("fst_num"),
        sum(col("den_i")).as("fst_den"))
      .withColumn("win_start", col("win") * window)
      .withColumn("fst_win",
        col("fst_num").cast("double") / col("fst_den").cast("double"))
      .select(col("chrom"), col("win"), col("win_start"), col("n_sites"),
        col("fst_num"), col("fst_den"), col("fst_win"))
  }

  /** Windowed nucleotide diversity π and Watterson's θ_W — the other
    * two selection-scan statistics next to [[windowedFst]]. Per site
    * with m called alleles and a ALT among them, the unbiased
    * π_site = 2a(m−a)/(m(m−1)); scaled ×lcm(1..mMax) it is an exact
    * BIGINT (the lcm is divisible by every m(m−1)), so the window sum
    * is exact and π = sum/scale is one division. S = segregating-site
    * count (0 < a < m) is exact; θ_W = S / a_{mMax−1} uses the
    * full-sample harmonic number (the standard high-call-rate
    * simplification — per-site harmonics would need an order-dependent
    * double sum; documented). Emits (chrom, win, win_start, n_sites,
    * s_seg, pi_num, pi, theta_w). One map-side-combined (chrom, win)
    * aggregate; validity filter pinned like [[windowedFst]]. */
  def diversityWindow(v: DataFrame, g: Seq[Int], window: Long,
      ploidy: Int = 2): DataFrame = {
    require(window > 0, s"window must be positive; got $window")
    val mMax = g.size * ploidy
    val scale = piScale(mMax)
    val (m, a) = groupCounts(col("geno"), g, ploidy)
    // every geno-derived term in ONE select level (the clumpLite
    // lesson: the m/a withColumn levels plus the pi_t/seg_t level each
    // re-evaluated the group-count kernel over the cube chain); the
    // runtime subexpression elimination shares the kernel reads
    val piT = a * (m - a) *
      intByN(m, mMax)(k => if (k >= 2) 2L * scale / (k.toLong * (k - 1)) else 0L)
    val segT = when(a > 0 && a < m, 1L).otherwise(0L)
    val harm = harmonic(mMax - 1)
    val base = v.select(col("chrom"),
      expr(s"pos div $window").cast("long").as("win"),
      m.as("m"), piT.as("pi_t"), segT.as("seg_t"))
    pinnedFilter(base, col("m") >= 2)
      .groupBy(col("chrom"), col("win"))
      .agg(count(lit(1)).as("n_sites"),
        sum(col("seg_t")).as("s_seg"),
        sum(col("pi_t")).as("pi_num"))
      .withColumn("win_start", col("win") * window)
      .withColumn("pi", col("pi_num").cast("double") / scale.toDouble)
      .withColumn("theta_w", col("s_seg").cast("double") / harm)
      .select(col("chrom"), col("win"), col("win_start"), col("n_sites"),
        col("s_seg"), col("pi_num"), col("pi"), col("theta_w"))
  }

  /** Tajima's D per window (Tajima 1989) — the neutrality capstone over
    * [[diversityWindow]]'s exact π and S:
    * D = (π − S/a₁) / √(e₁S + e₂S(S−1)) with the standard constants of
    * the full-sample allele count n = |g|·ploidy (a₁,a₂ harmonic sums;
    * b,c,e per the paper). π and S are exact per window; the D
    * arithmetic is a fixed-order double expression both engines replay
    * identically (constants interpolate into the oracle as shortest
    * round-trip literals). NULL when S = 0. */
  def tajimaD(v: DataFrame, g: Seq[Int], window: Long,
      ploidy: Int = 2): DataFrame = {
    val (_, e1, e2) = tajimaConstants(g.size * ploidy)
    val s = col("s_seg").cast("double")
    diversityWindow(v, g, window, ploidy)
      .withColumn("tajima_d",
        when(col("s_seg") > 0,
          (col("pi") - col("theta_w")) /
            // association pinned as e₂·(S·(S−1)): DuckDB folds the
            // chained product this way regardless of SQL's left-assoc
            // grammar, so both engines must be EXPLICIT about it
            sqrt(lit(e1) * s + lit(e2) * (s * (s - lit(1.0))))))
  }

  /** Fu & Li's D* and F* per window (Fu & Li 1993, with the corrected
    * variance constants of Simonsen, Churchill & Aquadro 1995 — the
    * forms DnaSP/libsequence compute): the outgroup-free neutrality
    * tests that weigh SINGLETONS (η_s = sites whose minor allele is
    * seen exactly once among called alleles) against S (D*) and π (F*).
    * Inputs are the same exact window sums as [[diversityWindow]] plus
    * the exact η_s count; the D-star/F-star arithmetic is a fixed-order double
    * expression over interpolated constants (the [[tajimaD]]
    * discipline). Constants use the full-sample allele count
    * n = |g|·ploidy (the same high-call-rate simplification as θ_W —
    * per-site n would make the variance order-dependent; documented).
    * NULL when S = 0. One map-side-combined (chrom, win) aggregate. */
  def fuLiWindow(v: DataFrame, g: Seq[Int], window: Long,
      ploidy: Int = 2): DataFrame = {
    require(window > 0, s"window must be positive; got $window")
    val n = g.size * ploidy
    val (an, uD, vD, uF, vF) = fuLiConstants(n)
    val r = n.toDouble / (n - 1.0)        // n/(n−1), shared literal
    val fr = (n - 1.0) / n.toDouble       // (n−1)/n
    val scale = piScale(n)
    val (m, a) = groupCounts(col("geno"), g, ploidy)
    // one geno-referencing select level (see diversityWindow)
    val piT = a * (m - a) *
      intByN(m, n)(k =>
        if (k >= 2) 2L * scale / (k.toLong * (k - 1)) else 0L)
    val segT = when(a > 0 && a < m, 1L).otherwise(0L)
    // singleton site: the minor allele appears exactly once among the
    // called alleles (a = 1 or a = m−1; at m = 2, a = 1 counts once)
    val etaT = when((a === 1 || a === m - 1)
      && a > 0 && a < m, 1L).otherwise(0L)
    val base = v.select(col("chrom"),
      expr(s"pos div $window").cast("long").as("win"),
      m.as("m"), piT.as("pi_t"), segT.as("seg_t"), etaT.as("eta_t"))
    val agg = pinnedFilter(base, col("m") >= 2)
      .groupBy(col("chrom"), col("win"))
      .agg(count(lit(1)).as("n_sites"),
        sum(col("seg_t")).as("s_seg"),
        sum(col("eta_t")).as("eta_s"),
        sum(col("pi_t")).as("pi_num"))
      .withColumn("win_start", col("win") * window)
      .withColumn("pi", col("pi_num").cast("double") / scale.toDouble)
    val sD = col("s_seg").cast("double")
    val eD = col("eta_s").cast("double")
    agg
      .withColumn("d_star",
        when(col("s_seg") > 0,
          (lit(r) * sD - lit(an) * eD) /
            sqrt(lit(uD) * sD + lit(vD) * (sD * sD))))
      .withColumn("f_star",
        when(col("s_seg") > 0,
          (col("pi") - lit(fr) * eD) /
            sqrt(lit(uF) * sD + lit(vF) * (sD * sD))))
      .select(col("chrom"), col("win"), col("win_start"),
        col("n_sites"), col("s_seg"), col("eta_s"), col("pi_num"),
        col("pi"), col("d_star"), col("f_star"))
  }

  /** Phasing SWITCH-ERROR rate (the standard phasing-QC benchmark:
    * Browning & Browning 2011) from an exploded per-(sample, site)
    * orientation table — `(s, chrom, pos, vid, o_true, o_test)`, one
    * row per PHASED HETEROZYGOUS site with each callset's haplotype
    * orientation (first allele is ALT). A switch is an adjacent het
    * pair (in position order along a sample's chromosome) whose
    * relative phase d = o_true XOR o_test changes. The order key
    * includes (o_true, o_test) after (pos, vid) so duplicate-position
    * rows have a well-defined, engine-independent order (rows tied on
    * the whole key are interchangeable — equal d contributes no
    * switch either way). One (s, chrom)-partitioned window serves the
    * lag and the aggregation; rates are single divisions. */
  def switchError(sites: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("s"), col("chrom"))
      .orderBy(col("pos"), col("vid"), col("o_true"), col("o_test"))
    val d = col("o_true") =!= col("o_test")
    val flagged = sites
      .withColumn("__d", d)
      .withColumn("__pd", lag(col("__d"), 1).over(w))
    flagged.groupBy(col("s"))
      .agg(count(lit(1)).as("n_het"),
        sum(when(col("__pd").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("__pd").isNotNull && col("__d") =!= col("__pd"),
          1L).otherwise(0L)).as("n_switches"))
      .withColumn("switch_rate", when(col("n_pairs") > 0,
        col("n_switches").cast("double") / col("n_pairs").cast("double")))
  }

  /** RUNS OF HOMOZYGOSITY per sample (the PLINK `--homozyg` / Ceballos
    * et al. 2018 autozygosity screen; the reference exposes the raw
    * genotype matrix these tools consume via `seqGetData(gdsfile,
    * "genotype")` — /root/reference/R/GetData.R) from an exploded
    * per-(sample, site) call table `(s, chrom, pos, vid, hom BOOLEAN)`
    * with one row per CALLED site (drop missing calls upstream; a
    * missing site neither extends nor breaks a run). A run is a
    * maximal stretch of consecutive homozygous sites along a sample's
    * chromosome in (pos, vid) order; runs shorter than `minSites`
    * sites are discarded, matching PLINK's `--homozyg-snp` floor.
    *
    * Complements the dosage-based scans: q112's per-(s, chrom) run
    * report and [[frohFromDosage]] segment on dosage ∈ {0, 2} (the
    * biallelic bcftools-roh shape); this one takes an ALLELE-EQUALITY
    * hom flag (multiallelic-correct — 1/2 is het even at dosage 2)
    * and reports the PLINK summary (run count / longest / site mass /
    * positional span) per sample.
    *
    * Duplicate calls at the same (pos, vid) locus (the testdata
    * carries duplicate vids — [[switchError]]'s hazard) are collapsed
    * FIRST: a locus counts as homozygous only when ALL its calls are.
    * This is both the conservative ROH semantics (heterozygous
    * evidence at a locus breaks autozygosity) and what makes the
    * gaps-and-islands deterministic — without the collapse, rows tied
    * on the whole order key would be enumerated independently by the
    * two row_number sorts, splitting runs differently per engine.
    *
    * Shape: ONE (s, chrom) exchange serves everything — the locus
    * collapse rides the same sort as the islands: with `hom` ascending
    * in the order key, duplicates of a locus are adjacent and the
    * FIRST row of each (pos, vid) group carries min(hom) (false sorts
    * first), so "keep first-of-locus" IS the collapse, detected by one
    * lag; the two island row_numbers then sort by the (pos, vid)
    * prefix the partition is already ordered by (no second exchange, a
    * groupBy collapse would add one). Nothing is ever global:
    * parallelism is S × #chrom keys at any data size, the discipline
    * of [[switchError]]. */
  def rohRuns(sites: DataFrame, minSites: Int): DataFrame = {
    require(minSites >= 1, s"minSites must be >= 1; got $minSites")
    // Locus collapse = MIN(hom) over each (s, chrom, pos, vid) duplicate
    // group (the oracle's GROUP BY + MIN), expressed as a full-frame
    // window min plus a tie-break-free first-row pick. Every window here
    // requires only the (s, chrom, pos, vid) sort, so input pre-sorted
    // that way (siteFlagRows) flows through with zero further sorts; the
    // previous formulation ordered the dedup window by (pos, vid, hom)
    // and forced its own re-sort even on sorted input. Which physical
    // duplicate row survives is irrelevant: its key fields are the
    // group's, and hom is overwritten by the group min.
    val wLocus = Window.partitionBy(col("s"), col("chrom"),
      col("pos"), col("vid"))
    val lkey = struct(col("pos"), col("vid"))
    val w = Window.partitionBy(col("s"), col("chrom"))
      .orderBy(col("pos"), col("vid"))
    val loci = sites
      .withColumn("__hom", min(col("hom")).over(wLocus))
      .withColumn("__first",
        coalesce(lag(lkey, 1).over(w) =!= lkey, lit(true)))
      .filter(col("__first"))
      .withColumn("hom", col("__hom"))
    val islands = loci
      .withColumn("__rn", row_number().over(w))
      .filter(col("hom"))
      .withColumn("__grp", col("__rn") - row_number().over(w))
      .groupBy(col("s"), col("chrom"), col("__grp"))
      .agg(count(lit(1)).as("run_sites"),
        min(col("pos")).as("__p0"), max(col("pos")).as("__p1"))
      .filter(col("run_sites") >= minSites)
    islands.groupBy(col("s"))
      .agg(count(lit(1)).as("n_runs"),
        max(col("run_sites")).as("max_run_sites"),
        sum(col("run_sites")).as("roh_sites"),
        sum(col("__p1") - col("__p0")).as("roh_span"))
  }

  /** Fu & Li constants for n sequences: (a_n, u_D*, v_D*, u_F*, v_F*)
    * — a_n/b_n the harmonic sums, c_n/d_n per Fu & Li 1993, u/v per
    * the Simonsen et al. 1995 corrections (the DnaSP/libsequence
    * forms). Each returned value interpolates into BOTH engines as one
    * shortest-round-trip literal, so only this function's internal
    * arithmetic is engine-private. */
  def fuLiConstants(n: Int): (Double, Double, Double, Double, Double) = {
    require(n > 2, s"Fu & Li constants need n > 2; got $n")
    val nd = n.toDouble
    val an = harmonic(n - 1)
    val bn = (1 to n - 1).foldLeft(0.0)((acc, i) =>
      acc + 1.0 / (i.toDouble * i))
    val an1 = an + 1.0 / nd
    val cn = 2.0 * (nd * an - 2.0 * (nd - 1.0)) /
      ((nd - 1.0) * (nd - 2.0))
    val dn = cn + (nd - 2.0) / ((nd - 1.0) * (nd - 1.0)) +
      (2.0 / (nd - 1.0)) *
        (1.5 - (2.0 * an1 - 3.0) / (nd - 2.0) - 1.0 / nd)
    val vD = ((nd / (nd - 1.0)) * (nd / (nd - 1.0)) * bn +
      an * an * dn -
      2.0 * (nd * an * (an + 1.0)) / ((nd - 1.0) * (nd - 1.0))) /
      (an * an + bn)
    val uD = (nd / (nd - 1.0)) * (an - nd / (nd - 1.0)) - vD
    val vF = (dn + 2.0 * (nd * nd + nd + 3.0) / (9.0 * nd * (nd - 1.0)) -
      (2.0 / (nd - 1.0)) * (4.0 * bn - 6.0 + 8.0 / nd)) /
      (an * an + bn)
    val uF = (nd / (nd - 1.0) + (nd + 1.0) / (3.0 * (nd - 1.0)) -
      4.0 / (nd * (nd - 1.0)) +
      2.0 * (nd + 1.0) / ((nd - 1.0) * (nd - 1.0)) *
        (an1 - 2.0 * nd / (nd + 1.0))) / an - vF
    (an, uD, vD, uF, vF)
  }

  /** Patterson D-statistic (ABBA–BABA introgression test; Green et al.
    * 2010, Durand et al. 2011, Patterson et al. 2012) per chromosome
    * over four sample groups (P1, P2, P3, Outgroup) on
    * collapsed-biallelic frequencies p_g = a_g/n_g. Per valid site
    * (every group ≥ 1 called allele),
    *   ABBA = (1−p1)·p2·p3·(1−p4),  BABA = p1·(1−p2)·p3·(1−p4),
    * each rational with denominator n1·n2·n3·n4; multiplying by
    * scale/(n1n2n3n4), scale = lcm(1..nMax)⁴ (every n_g divides the
    * lcm, so each quotient is integral), makes the per-site terms
    * exact BIGINTs, the chromosome sums exact, and
    * D = Σ(ABBA−BABA) / Σ(ABBA+BABA) one final division (NULL when
    * the denominator sum is 0). The lcm⁴ scale bounds this exact lane
    * to small per-population panels (n_g ≲ 20 haploid calls — the
    * regime ABBA–BABA actually runs in: a handful of genomes per
    * population); wider panels belong on a double ratio-of-sums lane.
    * One map-side-combined per-chrom aggregate — #chroms rows cross
    * the wire; validity filter pinned (the q126 pushdown lesson).
    * Reference serves this workload via the seqGetData/seqApply allele
    * counts its admixture consumers build on
    * (/root/reference/R/GetData.R). */
  def dStat(v: DataFrame, g1: Seq[Int], g2: Seq[Int], g3: Seq[Int],
      g4: Seq[Int], ploidy: Int = 2): DataFrame =
    dSiteTerms(v.select(col("chrom"), col("geno")), g1, g2, g3, g4,
      ploidy)
      .groupBy(col("chrom"))
      .agg(count(lit(1)).as("n_sites"),
        sum(col("abba_i")).as("abba_num"),
        sum(col("baba_i")).as("baba_num"))
      .withColumn("d_stat", dRatio)

  /** Block-jackknife significance for the Patterson D — the admixtools
    * `D ± Z` output (Busing et al. 1999 delete-one jackknife over
    * chromosome blocks, the field's standard SE): each block's
    * leave-one-out D_i recomputes from the EXACT total minus block
    * ABBA/BABA sums (one division per block), and the jackknife mean,
    * variance ((m−1)/m · Σ(D_i − D̄)²) and Z = D/SE are fixed-order
    * double folds over the chrom-sorted block list — both engines fold
    * left over the identical order (Spark `aggregate` HOF == DuckDB
    * `list_reduce`), so the doubles replay bitwise. Equal block
    * weights (the delete-one form; fine when blocks are comparable —
    * the per-chrom design here). Everything after the per-chrom
    * [[dStat]] aggregate is summary-sized. */
  def dStatJackknife(v: DataFrame, g1: Seq[Int], g2: Seq[Int],
      g3: Seq[Int], g4: Seq[Int], ploidy: Int = 2): DataFrame = {
    val per = dStat(v, g1, g2, g3, g4, ploidy)
      .select(col("chrom"), col("n_sites"), col("abba_num"),
        col("baba_num"))
    val tot = per.agg(sum(col("abba_num")).as("abba_total"),
      sum(col("baba_num")).as("baba_total"),
      sum(col("n_sites")).as("ns_total"))
    val loo = per.crossJoin(broadcast(tot))
      .filter(col("abba_total") - col("abba_num")
        + (col("baba_total") - col("baba_num")) =!= 0)
      .withColumn("d_i",
        (col("abba_total") - col("abba_num")
          - (col("baba_total") - col("baba_num"))).cast("double")
          / (col("abba_total") - col("abba_num")
            + (col("baba_total") - col("baba_num"))).cast("double"))
    // a keyless aggregate always yields one row, so a degenerate input
    // (no valid leave-one-out block — e.g. a single chromosome) still
    // reports m_blocks = 0 with NULL jackknife fields instead of an
    // empty frame
    val fold0 = loo.agg(count(lit(1)).as("m_blocks"),
      array_sort(collect_list(struct(col("chrom"), col("d_i"))))
        .as("__ds"))
    val folded = tot.crossJoin(broadcast(fold0))
      .withColumn("__dl", expr("transform(__ds, x -> x.d_i)"))
    val mD = col("m_blocks").cast("double")
    folded
      .withColumn("d_stat",
        when(col("abba_total") + col("baba_total") =!= 0,
          (col("abba_total") - col("baba_total")).cast("double")
            / (col("abba_total") + col("baba_total")).cast("double")))
      .withColumn("jk_mean", when(col("m_blocks") > 0,
        expr("aggregate(__dl, CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
          / mD))
      .withColumn("jk_var", when(col("m_blocks") > 0,
        (mD - lit(1.0)) / mD *
          expr("aggregate(__dl, CAST(0.0 AS DOUBLE), " +
            "(a, x) -> a + (x - jk_mean) * (x - jk_mean))")))
      .withColumn("z_score",
        when(col("jk_var") > 0, col("d_stat") / sqrt(col("jk_var"))))
      .select(col("m_blocks"), col("ns_total").as("n_sites"),
        col("abba_total"), col("baba_total"), col("d_stat"),
        col("jk_mean"), col("jk_var"), col("z_score"))
  }

  /** Windowed Patterson D — the introgression SCAN twin of [[dStat]]
    * (the per-window shape fd-style local tests are built from): the
    * same exact lcm⁴-scaled ABBA/BABA sums as [[dStat]] per
    * (chrom, pos div window) cell, ratio-of-sums per window, one
    * map-side-combined aggregate — #windows rows cross the wire. */
  def dStatWindow(v: DataFrame, g1: Seq[Int], g2: Seq[Int],
      g3: Seq[Int], g4: Seq[Int], window: Long, ploidy: Int = 2)
      : DataFrame = {
    require(window > 0, s"window must be positive; got $window")
    dSiteTerms(v.select(col("chrom"), col("pos"), col("geno")),
      g1, g2, g3, g4, ploidy)
      .withColumn("win", expr(s"pos div $window").cast("long"))
      .groupBy(col("chrom"), col("win"))
      .agg(count(lit(1)).as("n_sites"),
        sum(col("abba_i")).as("abba_num"),
        sum(col("baba_i")).as("baba_num"))
      .withColumn("win_start", col("win") * window)
      .withColumn("d_win", dRatio)
      .select(col("chrom"), col("win"), col("win_start"),
        col("n_sites"), col("abba_num"), col("baba_num"), col("d_win"))
  }

  /** Per-sample F_ROH (PLINK --homozyg-derived inbreeding, SNP-count
    * mode) from a collapsed-dosage table `v(chrom, pos, vid, d)`:
    * exact lag-based segmentation of homozygous runs (dos ∈ {0, 2})
    * on the (sample, chrom)-partitioned window ordered by the
    * tie-free (pos, vid, dkey) key, runs ≥ `minRun` summed per
    * sample over a LEFT-joined called-site denominator (ROH-free
    * samples report 0). One explode, one partitioned window sort,
    * two sample-keyed rollups — never a global window. Emits
    * (s, n_called, n_roh, n_roh_sites, f_roh). */
  /** Per-cell homozygosity-run substrate: the dosage cube exploded to
    * (s, chrom, pos, vid, dkey, hom) rows with the run id `rid` already
    * attached by the ONE (s, chrom) window pass — the shared middle of
    * the ROH family (q112's run-length rollup and q201's F_ROH both
    * aggregate exactly these rows; q201 consumes them twice more for
    * its call-rate denominator).
    *
    * A [[graft.core.SharedStages]] stage, so the one window pass runs
    * once per input. `v` must carry (chrom, pos, vid, d
    * ARRAY<BIGINT>). */
  def homRunRows(v: DataFrame): DataFrame =
    SharedStages.roh.get(v.queryExecution.analyzed.canonicalized) {
      homRunRowsPlan(v).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def homRunRowsPlan(v: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = v.select(col("chrom"), col("pos"), col("vid"),
        posexplode_outer(col("d")).as(Seq("s", "dos")))
      .select(col("s"), col("chrom"), col("pos"), col("vid"),
        coalesce(col("dos"), lit(-1L)).as("dkey"),
        (col("dos").isNotNull &&
          (col("dos") === 0 || col("dos") === 2)).as("hom"))
    val w = Window.partitionBy(col("s"), col("chrom"))
      .orderBy(col("pos"), col("vid"), col("dkey"))
    rows
      .withColumn("strt",
        col("hom") && !lag(col("hom"), 1, false).over(w))
      .withColumn("rid",
        sum(when(col("strt"), 1L).otherwise(0L)).over(w))
  }

  /** Per-cell (sample, locus) FLAG substrate for the gaps-and-islands
    * family (q312 allele-equality ROH runs, q332 phase blocks): the
    * genotype cube exploded ONCE to (s, chrom, pos, vid, called, hom,
    * ph) rows, hash-partitioned by (s, chrom) and sorted by (s, chrom,
    * pos, vid) before the persist — a cached InMemoryTableScan reports
    * the cached plan's partitioning AND ordering, so every consumer's
    * locus-collapse/rank windows (all requiring exactly that sort) ride
    * the cache with ZERO further exchanges or sorts. A
    * [[graft.core.SharedStages]] stage: the explode and the sort are
    * the expensive part of every consumer. `v` must carry (chrom, pos,
    * vid, geno ARRAY<ARRAY<BIGINT>>, phased ARRAY<BOOLEAN>). */
  def siteFlagRows(v: DataFrame): DataFrame =
    SharedStages.site.get(v.queryExecution.analyzed.canonicalized) {
      siteFlagRowsPlan(v).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def siteFlagRowsPlan(v: DataFrame): DataFrame = {
    val nPart = v.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    v.select(col("chrom"), col("pos"), col("vid"),
        // outer: the zip is never empty, and a plain posexplode's
        // inferred size(..)>0 filter would re-run the cube kernel below
        // the fan-out (the q124 lesson)
        posexplode_outer(arrays_zip(col("geno"), col("phased")))
          .as(Seq("s", "z")))
      .select(col("s"), col("chrom"), col("pos"), col("vid"),
        (element_at(col("z.geno"), 1).isNotNull &&
          element_at(col("z.geno"), 2).isNotNull).as("called"),
        (element_at(col("z.geno"), 1) === element_at(col("z.geno"), 2))
          .as("hom"),
        col("z.phased").as("ph"))
      .repartition(nPart, col("s"), col("chrom"))
      .sortWithinPartitions(col("s"), col("chrom"), col("pos"),
        col("vid"))
  }

  /** (hits, misses) of the shared site-flag substrate. */
  def siteSharedTelemetry: (Long, Long) = SharedStages.site.telemetry

  /** (hits, misses) of the shared homozygosity-run substrate. */
  def rohSharedTelemetry: (Long, Long) = SharedStages.roh.telemetry

  def frohFromDosage(v: DataFrame, minRun: Long): DataFrame = {
    val rows = homRunRows(v)
    val runs = rows
      .filter(col("hom"))
      .groupBy(col("s"), col("chrom"), col("rid"))
      .agg(count(lit(1)).as("run_len"))
    val roh = runs.filter(col("run_len") >= minRun)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_roh"),
        sum(col("run_len")).as("n_roh_sites"))
    rows.filter(col("dkey") >= 0)
      .groupBy(col("s")).agg(count(lit(1)).as("n_called"))
      .join(roh, Seq("s"), "left")
      .select(col("s").cast("long").as("s"), col("n_called"),
        coalesce(col("n_roh"), lit(0L)).as("n_roh"),
        coalesce(col("n_roh_sites"), lit(0L)).as("n_roh_sites"))
      .withColumn("f_roh", col("n_roh_sites").cast("double")
        / col("n_called").cast("double"))
  }

  /** Joint 2-population site-frequency spectrum — the demographic-
    * inference input (dadi/moments regime): over biallelic-collapsed
    * sites FULLY CALLED in both groups (the standard fixed-haploid-
    * sample-size convention; partially-called sites would need
    * hypergeometric projection), the count of sites at each
    * (alt-count-in-g1, alt-count-in-g2) cell. ≤ (2|g1|+1)·(2|g2|+1)
    * rows out of ONE map-side-combined aggregate; monomorphic corner
    * cells are emitted (maskable downstream). Validity filter pinned
    * (the q126 pushdown lesson). */
  def jointSfs(v: DataFrame, g1: Seq[Int], g2: Seq[Int],
      ploidy: Int = 2): DataFrame = {
    val (n1, a1) = groupCounts(col("geno"), g1, ploidy)
    val (n2, a2) = groupCounts(col("geno"), g2, ploidy)
    val base = v.select(col("geno"))
      .withColumn("n1", n1).withColumn("n2", n2)
      .withColumn("a1", a1).withColumn("a2", a2)
    pinnedFilter(base,
      col("n1") === g1.size * ploidy && col("n2") === g2.size * ploidy)
      .groupBy(col("a1"), col("a2"))
      .agg(count(lit(1)).as("n_sites"))
  }

  /** FOLDED 1-population SFS (the dadi/moments input when ancestral
    * alleles are unpolarized — [[jointSfs]]'s single-population twin):
    * minor-allele-count classes m = min(ac, 2S − ac) over fully-called
    * sites, any non-REF allele counting as derived (the biallelic
    * collapse every SFS consumer applies). One aggregate to ≤ S·p/2+1
    * rows; the complete-case filter is pinned so the group-count
    * kernel never re-evaluates below the scan. */
  def foldedSfs(v: DataFrame, g: Seq[Int], ploidy: Int = 2)
      : DataFrame = {
    val (n, a) = groupCounts(col("geno"), g, ploidy)
    val base = v.select(col("geno"))
      .withColumn("n", n).withColumn("ac", a)
    pinnedFilter(base, col("n") === g.size * ploidy)
      .groupBy(least(col("ac"), lit(g.size.toLong * ploidy) - col("ac"))
        .as("m"))
      .agg(count(lit(1)).as("n_sites"))
  }

  private def dRatio: Column =
    when(col("abba_num") + col("baba_num") =!= 0,
      (col("abba_num") - col("baba_num")).cast("double")
        / (col("abba_num") + col("baba_num")).cast("double"))

  /** Shared per-site ABBA/BABA terms: group counts, pinned validity
    * filter, exact lcm⁴-scaled integer terms (see [[dStat]]). */
  private def dSiteTerms(v: DataFrame, g1: Seq[Int], g2: Seq[Int],
      g3: Seq[Int], g4: Seq[Int], ploidy: Int): DataFrame = {
    val nMax = Seq(g1, g2, g3, g4).map(_.size * ploidy).max
    val l = piScale(nMax)
    // every geno-derived term in ONE select level (the clumpLite
    // lesson: the eight fold-built count withColumn levels plus the
    // abba/baba level each re-evaluated the group-count kernels over
    // the cube chain). The lcm⁴-over-product scale factors EXACTLY
    // into per-count lookups — l = lcm(1..nMax) is divisible by every
    // n_k, so l⁴ div (n1·n2·n3·n4) = Π(l div n_k) — which keeps the
    // whole term a named-column-free expression this single level can
    // host (the previous integer `div` needed the counts as named
    // columns, forcing the extra level).
    val cs = Seq(g1, g2, g3, g4)
      .map(g => groupCounts(col("geno"), g, ploidy))
    val Seq(n1, n2, n3, n4) = cs.map(_._1)
    val Seq(a1, a2, a3, a4) = cs.map(_._2)
    val mult = cs.map { case (nk, _) =>
      intByN(nk, nMax)(k => l / k)
    }.reduce(_ * _)
    val one = v.select(v.columns.map(col) ++ Seq(
      n1.as("n1"), n2.as("n2"), n3.as("n3"), n4.as("n4"),
      ((n1 - a1) * a2 * a3 * (n4 - a4) * mult).as("abba_i"),
      (a1 * (n2 - a2) * a3 * (n4 - a4) * mult).as("baba_i")): _*)
    pinnedFilter(one,
      col("n1") >= 1 && col("n2") >= 1 && col("n3") >= 1 &&
        col("n4") >= 1)
  }

  /** f3 admixture statistic f3(C; A, B) (Patterson et al. 2012,
    * Appendix A unbiased single-site estimator) per chromosome — a
    * significantly negative f3 is proof C is admixed between sources
    * related to A and B. Per valid site (n_C ≥ 2 for the
    * heterozygosity correction, n_A, n_B ≥ 1), with p = a/n,
    *   f3_i = (p_C−p_A)(p_C−p_B) − h_C/n_C,
    *   h_C = a_C(n_C−a_C) / (n_C(n_C−1)),
    * a rational with denominator D_i = n_C²·n_A·n_B·(n_C−1); its
    * numerator over D_i is
    *   (a_C·n_A − a_A·n_C)(a_C·n_B − a_B·n_C)(n_C−1) −
    *     a_C(n_C−a_C)·n_A·n_B,
    * and ×(scale/D_i) with scale = lcm(1..nMax)⁵ every per-site term
    * is an exact BIGINT (n_C² | lcm², each remaining factor | lcm).
    * f3 = Σnum / (n_sites·scale) — one final division. Same
    * small-panel scale bound and per-chrom one-aggregate shape as
    * [[dStat]]. */
  def f3Stat(v: DataFrame, gC: Seq[Int], gA: Seq[Int], gB: Seq[Int],
      ploidy: Int = 2): DataFrame = {
    val nMax = Seq(gC, gA, gB).map(_.size * ploidy).max
    val l = piScale(nMax)
    val scale = l * l * l * l * l
    val withCounts = Seq(("c", gC), ("a", gA), ("b", gB))
      .foldLeft(v.select(col("chrom"), col("geno"))) {
        case (df, (i, g)) =>
          val (n, a) = groupCounts(col("geno"), g, ploidy)
          df.withColumn(s"n$i", n).withColumn(s"x$i", a)
      }
    val valid = pinnedFilter(withCounts,
      col("nc") >= 2 && col("na") >= 1 && col("nb") >= 1)
    val mult = expr(s"$scale div (nc * nc * na * nb * (nc - 1))")
    valid
      .withColumn("num_i",
        ((col("xc") * col("na") - col("xa") * col("nc"))
          * (col("xc") * col("nb") - col("xb") * col("nc"))
          * (col("nc") - 1)
          - col("xc") * (col("nc") - col("xc")) * col("na") * col("nb"))
          * mult)
      .groupBy(col("chrom"))
      .agg(count(lit(1)).as("n_sites"),
        sum(col("num_i")).as("f3_num"))
      .withColumn("f3", col("f3_num").cast("double")
        / (col("n_sites") * scale).cast("double"))
  }

  /** Tajima's (a₁, e₁, e₂) for n sequences — a₁ also equals
    * [[harmonic]](n−1), kept together for the oracle interpolation. */
  def tajimaConstants(n: Int): (Double, Double, Double) = {
    val a1 = harmonic(n - 1)
    val a2 = (1 to n - 1).foldLeft(0.0)((acc, i) => acc + 1.0 / (i.toDouble * i))
    val b1 = (n + 1.0) / (3.0 * (n - 1))
    val b2 = 2.0 * (n.toDouble * n + n + 3) / (9.0 * n * (n - 1))
    val c1 = b1 - 1.0 / a1
    val c2 = b2 - (n + 2.0) / (a1 * n) + a2 / (a1 * a1)
    (a1, c1 / a1, c2 / (a1 * a1 + a2))
  }

  /** lcm of 1..mMax — divisible by every per-site π denominator
    * m(m−1)/2 (m and m−1 are coprime and both ≤ mMax). */
  def piScale(mMax: Int): Long =
    lcmExact((1L to mMax.toLong).toSeq, s"piScale($mMax)")

  /** Harmonic number Σ 1/i, i = 1..m — Watterson's a_m, left-assoc. */
  def harmonic(m: Int): Double =
    (1 to m).foldLeft(0.0)((s, i) => s + 1.0 / i)

  /** Per-variant Hudson components (shared by [[hudsonFst]] and
    * [[windowedFst]]): the input columns plus counts and the exact
    * scaled integer numerator/denominator. */
  private def hudsonComponents(v: DataFrame, g1: Seq[Int], g2: Seq[Int],
      ploidy: Int): DataFrame = {
    val (n1, a1) = groupCounts(col("geno"), g1, ploidy)
    val (n2, a2) = groupCounts(col("geno"), g2, ploidy)
    // every geno-derived term in ONE select level (the clumpLite
    // lesson: the four count withColumn levels plus the num/den level
    // each re-evaluated the group-count kernels over the cube chain);
    // the runtime subexpression elimination shares the kernel reads
    val numI = (a1 * n2 - a2 * n1) * (a1 * n2 - a2 * n1) *
      (n1 - 1) * (n2 - 1) -
      a1 * (n1 - a1) * n2 * n2 * (n2 - 1) -
      a2 * (n2 - a2) * n1 * n1 * (n1 - 1)
    val denI = (a1 * (n2 - a2) + a2 * (n1 - a1)) *
      n1 * n2 * (n1 - 1) * (n2 - 1)
    v.select(v.columns.map(col) ++ Seq(n1.as("n1"), n2.as("n2"),
      a1.as("a1"), a2.as("a2"), numI.as("num_i"), denI.as("den_i")): _*)
  }

  /** Weir–Cockerham (1984) θ per variant between two DIPLOID sample
    * groups — the other standard Fst estimator next to [[hudsonFst]]
    * (the reference ecosystem's snpgdsFst offers both; W&C is the one
    * that uses observed heterozygosity). Emits (vid, c1, x1, h1, c2,
    * x2, h2, theta) where c_g / x_g / h_g are called-individual, alt-
    * allele, and het-individual counts in group g.
    *
    * The three variance components a (among populations), b (among
    * individuals within populations), c (within individuals) are
    * rational in the six integer counts; multiplying through by the
    * common denominator 8·M²·N·(N−2) (N = c1+c2, M = c1·c2) gives,
    * with D = x1·c2 − x2·c1, X = x1+x2, H = h1+h2:
    *   a′ = N·(D²(N−1) − M·(X(2N−X) − HN))
    *   b′ = 2M·(X(2N−X)M − D² − 2HM(N−1))
    *   c′ = 4M²(N−2)H
    * and θ = a′/(a′+b′+c′) — exact BIGINTs, one final division
    * (`PopGenSpec` fuzzes the closed form against the textbook
    * formulas). NULL when either group is empty, N ≤ 2, or the
    * denominator is 0 (monomorphic site). Pure projection — zero
    * shuffles. */
  def wcFst(v: DataFrame, g1: Seq[Int], g2: Seq[Int]): DataFrame =
    wcComponents(v, g1, g2)
      .withColumn("den_i", col("a_i") + col("b_i") + col("c_i"))
      .withColumn("theta",
        when(col("c1") >= 1 && col("c2") >= 1 && col("nn") > 2 &&
            col("den_i") =!= 0,
          col("a_i").cast("double") / col("den_i").cast("double")))
      .drop("nn", "mm", "dd", "xx", "hh", "a_i", "b_i", "c_i", "den_i")

  /** Multi-locus Weir–Cockerham sums, stratified by the call-count
    * pair: the genome-wide estimator is Σa / Σ(a+b+c) over valid loci
    * with UNSCALED components, but the exact integers of
    * [[wcComponents]] carry a per-locus scale 8·M²·N·(N−2) that varies
    * with missingness — constant only WITHIN a (c1, c2) stratum. So
    * the exact-arithmetic aggregate is per stratum: (c1, c2, n_loci,
    * sum_a, sum_bc) — ≤ |g1|·|g2| tiny rows, every value an exact
    * BIGINT sum (map-side combined), and genome-wide θ follows as
    * Σ_g sum_a_g/s_g over Σ_g (sum_a_g+sum_bc_g)/s_g with
    * s_g = 8·(c1·c2)²·N·(N−2) — see [[wcThetaFromStrata]]. */
  def wcFstStrata(v: DataFrame, g1: Seq[Int], g2: Seq[Int]): DataFrame =
    // pinned: a pushed copy of this predicate would inline the whole
    // group-count expression tree into the scan filter (at 90 CEU
    // samples the inlined copies overflowed the 64 KB generated-method
    // limit and dropped the stage to interpreted execution)
    pinnedFilter(wcComponents(v, g1, g2),
        col("c1") >= 1 && col("c2") >= 1 && col("nn") > 2)
      .groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("n_loci"),
        sum(col("a_i")).as("sum_a"),
        sum(col("b_i") + col("c_i")).as("sum_bc"))

  /** Genome-wide W&C θ from a collected [[wcFstStrata]] table —
    * deterministic driver-side fold in (c1, c2) order over the ≤
    * |g1|·|g2|-row strata (the per-stratum scale divides out here). */
  def wcThetaFromStrata(strata: Seq[(Long, Long, Long, Long)]): Double = {
    var num = 0.0; var den = 0.0
    for ((c1, c2, sa, sbc) <- strata.sortBy(t => (t._1, t._2))) {
      val n = (c1 + c2).toDouble
      val s = 8.0 * (c1 * c2).toDouble * (c1 * c2).toDouble * n * (n - 2)
      num += sa.toDouble / s
      den += (sa + sbc).toDouble / s
    }
    num / den
  }

  /** Per-variant W&C variance components (shared by [[wcFst]] and
    * [[wcFstGenome]]): the six counts plus the scaled integer a/b/c —
    * see [[wcFst]] for the algebra. */
  private def wcComponents(v: DataFrame, g1: Seq[Int], g2: Seq[Int])
      : DataFrame = {
    // contiguous sample ranges (the common cohort-halves shape) go
    // through the fused one-loop kernel — the static unroll below is
    // 6·|group| expression terms, which at 90 CEU samples overflowed
    // the 64 KB generated-method limit (whole stage fell back to
    // interpreted; measured 2.8 s → see GroupGenoCounts)
    def contiguous(g: Seq[Int]) =
      g.nonEmpty && g == (g.head to g.last) // ascending, no gaps
    def gc(group: Seq[Int]): (Column, Column, Column) =
      if (contiguous(group)) {
        val t = graft.functions.genetics.groupGenoCounts(
          col("geno"), group.head, group.last + 1)
        (element_at(t, 1), element_at(t, 2), element_at(t, 3))
      } else {
        val per = group.map { s =>
          val a0 = alleleAt(col("geno"), s, 0)
          val a1 = alleleAt(col("geno"), s, 1)
          val called = a0.isNotNull && a1.isNotNull
          val alt = when(a0 =!= 0, 1L).otherwise(0L) +
            when(a1 =!= 0, 1L).otherwise(0L)
          (when(called, 1L).otherwise(0L),
            when(called, alt).otherwise(0L),
            when(called && alt === 1L, 1L).otherwise(0L))
        }
        (balanced(per.map(_._1))(_ + _), balanced(per.map(_._2))(_ + _),
          balanced(per.map(_._3))(_ + _))
      }
    val (c1, x1, h1) = gc(g1)
    val (c2, x2, h2) = gc(g2)
    v.select(col("vid"), c1.as("c1"), x1.as("x1"), h1.as("h1"),
        c2.as("c2"), x2.as("x2"), h2.as("h2"))
      .withColumn("nn", col("c1") + col("c2"))
      .withColumn("mm", col("c1") * col("c2"))
      .withColumn("dd", col("x1") * col("c2") - col("x2") * col("c1"))
      .withColumn("xx", col("x1") + col("x2"))
      .withColumn("hh", col("h1") + col("h2"))
      .withColumn("a_i", col("nn") *
        (col("dd") * col("dd") * (col("nn") - 1)
          - col("mm") * (col("xx") * (lit(2) * col("nn") - col("xx"))
            - col("hh") * col("nn"))))
      .withColumn("b_i", lit(2) * col("mm") *
        (col("xx") * (lit(2) * col("nn") - col("xx")) * col("mm")
          - col("dd") * col("dd")
          - lit(2) * col("hh") * col("mm") * (col("nn") - 1)))
      .withColumn("c_i",
        lit(4) * col("mm") * col("mm") * (col("nn") - 2) * col("hh"))
  }

  /** Pairwise identity-by-state fraction (the snpgdsIBS workload,
    * reference link layer LinkSNPRelate.cpp): for samples i ≤ j over
    * pairwise-complete sites, IBS = 1 − Σ|d_i − d_j| / (2·n_sites) on
    * collapsed alt dosages — the PLINK `--distance` 1-ibs complement.
    * Input like [[grm]] (`vid`, `d`). Emits (i, j, n_sites, dist_sum,
    * ibs). The per-variant pair terms are small BIGINTs that partial-
    * aggregate map-side to the S·(S+1)/2 pair rows before the one
    * exchange — the same shuffle contract as [[grm]]/KING. */
  def ibs(v: DataFrame, nSamples: Int): DataFrame = {
    val rows = graft.functions.pairs.pairFanDiag(
      v.select(col("d")), nSamples)
    rows
      .select(col("i"), col("j"),
        element_at(col("d"), col("i") + 1).as("di"),
        element_at(col("d"), col("j") + 1).as("dj"))
      .filter(col("di").isNotNull && col("dj").isNotNull)
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_sites"),
        sum(abs(col("di") - col("dj"))).as("dist_sum"))
      .withColumn("ibs",
        lit(1.0) - col("dist_sum").cast("double")
          / (lit(2.0) * col("n_sites").cast("double")))
  }

  /** Method-of-moments IBD estimation (snpgdsIBDMoM / PLINK --genome;
    * Purcell et al. 2007 §"IBD estimation"): per sample pair, observed
    * IBS-class counts over pairwise-complete polymorphic sites plus
    * the allele-frequency expectation sums, chained into
    * Z0 = N_IBS0/ΣP(IBS0|IBD0), Z1 = (N_IBS1 − Z0·ΣP(IBS1|IBD0)) /
    * ΣP(IBS1|IBD1), Z2 = 1 − Z0 − Z1, PI_HAT = Z2 + Z1/2 — the
    * textbook (uncorrected) expectations
    *   P(IBS0|IBD0) = 2p²q²,  P(IBS1|IBD0) = 4p³q + 4pq³,
    *   P(IBS1|IBD1) = 2p²q + 2pq²
    * with p the full-cohort alt frequency (PLINK's finite-sample
    * correction is a documented omission — it needs per-site
    * founder-count bookkeeping the fixture has no pedigree for).
    *
    * Exactness: each per-site expectation is quantized
    * floor(term·10⁹) BIGINT BEFORE the pair sum (the q320 ppm
    * discipline — per-site doubles are bit-identical across engines
    * because p = a/2n is one division and the polynomial is fixed
    * left-assoc order; only the SUM of doubles would be order-
    * dependent, and we never sum doubles). The Z chain is then
    * fixed-order arithmetic on exact BIGINTs — one division each.
    *
    * Shape: per-variant stats + e-terms are a pure projection BEFORE
    * the generator pair fan (computed once per variant, carried into
    * the fan), then ONE (i, j)-keyed aggregate — the [[ibs]]/[[grm]]
    * pair-explode contract with map-side partial aggregation; at any
    * variant count the shuffle is O(S²) counter rows, never O(data).
    * Emits (i, j, n_sites, n0, n1, n2, se0, se10, se11, z0, z1, z2,
    * pi_hat). */
  def ibdMoM(v: DataFrame, nSamples: Int): DataFrame = {
    val SCALE = 1000000000L
    val st = graft.functions.genetics.dosageWeightedStats(col("d"),
      Seq.fill(nSamples)(1L))
    val p = col("a").cast("double") / (col("n") * 2).cast("double")
    val q = lit(1.0) - col("p")
    // polymorphic filter PINNED: a plain filter on the kernel-derived
    // aliases re-inlines the cube + kernel below the scan exchange
    // (the q126 lesson; measured 8× on q348's sibling shape)
    val sites = pinnedFilter(
      v.withColumn("__st", st)
        .withColumn("n", element_at(col("__st"), 1))
        .withColumn("a", element_at(col("__st"), 2)),
      col("a") > 0 && col("a") < col("n") * 2)
      .withColumn("p", p)
      .withColumn("t0",
        floor(lit(2.0) * col("p") * col("p") * q * q * SCALE))
      .withColumn("t10",
        floor((lit(4.0) * col("p") * col("p") * col("p") * q
          + lit(4.0) * col("p") * q * q * q) * SCALE))
      .withColumn("t11",
        floor((lit(2.0) * col("p") * col("p") * q
          + lit(2.0) * col("p") * q * q) * SCALE))
      .select(col("d"), col("t0"), col("t10"), col("t11"))
    val pairs = graft.functions.pairs.pairFan(sites, nSamples)
      .select(col("i"), col("j"),
        element_at(col("d"), col("i") + 1).as("di"),
        element_at(col("d"), col("j") + 1).as("dj"),
        col("t0"), col("t10"), col("t11"))
      .filter(col("di").isNotNull && col("dj").isNotNull)
      .withColumn("dist", abs(col("di") - col("dj")))
    val agg = pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_sites"),
        sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n0"),
        sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n2"),
        sum(col("t0")).as("se0"),
        sum(col("t10")).as("se10"),
        sum(col("t11")).as("se11"))
    agg
      .withColumn("z0", when(col("se0") > 0,
        (col("n0") * SCALE).cast("double") / col("se0").cast("double")))
      .withColumn("z1", when(col("se11") > 0,
        ((col("n1") * SCALE).cast("double")
          - col("z0") * col("se10").cast("double"))
          / col("se11").cast("double")))
      .withColumn("z2", lit(1.0) - col("z0") - col("z1"))
      .withColumn("pi_hat", col("z2") + col("z1") / 2)
  }

  /** [[ibdMoM]] with PLINK `--genome`'s FINITE-SAMPLE correction
    * (Purcell et al. 2007; genome.cpp): every allele-frequency
    * polynomial in the IBS-class expectations is replaced by its
    * UNBIASED allele-count estimator — for X alt alleles of T = 2n
    * called (Y = T − X),
    *
    *   p²q²  → X(X−1)·Y(Y−1) / [T(T−1)(T−2)(T−3)]
    *   p³q   → X(X−1)(X−2)·Y / [T(T−1)(T−2)(T−3)]
    *   pq³   → X·Y(Y−1)(Y−2) / [T(T−1)(T−2)(T−3)]
    *   p²q   → X(X−1)·Y     / [T(T−1)(T−2)]
    *   pq²   → X·Y(Y−1)     / [T(T−1)(T−2)]
    *
    * (for binomial X, E[X(X−1)Y(Y−1)] = T(T−1)(T−2)(T−3)·p²q² etc.) —
    * the correction that makes the MoM estimates unbiased at small
    * founder counts, which the textbook [[ibdMoM]] documents as its
    * omission. Sites need n ≥ 2 (T ≥ 4) for the 4th-degree estimator
    * and polymorphic X. The count products are EXACT BIGINTs (no
    * double polynomial at all until the single division), quantized
    * floor(·10⁹) BEFORE the pair sum — same discipline, same one
    * (i, j) exchange as [[ibdMoM]]. Also emits the SNPRelate
    * `snpgdsIBDMoM(kinship=TRUE)` surface: kinship = π̂/2
    * = 0.5·Z2 + 0.25·Z1.
    *
    * The count products cap at T⁴ — exact in BIGINT up to ~27k called
    * samples and in the double division up to 2^53 (T ≲ 9700) without
    * rounding; beyond that the division rounds once, deterministically,
    * identically in any IEEE engine. */
  def ibdMoMCorrected(v: DataFrame, nSamples: Int): DataFrame = {
    require(nSamples <= 27000,
      "ibdMoMCorrected's exact BIGINT count products overflow past " +
        "~27k samples; use ibdMoM (textbook expectations) above that")
    val SCALE = 1000000000L
    val st = graft.functions.genetics.dosageWeightedStats(col("d"),
      Seq.fill(nSamples)(1L))
    val sites = pinnedFilter(
      v.withColumn("__st", st)
        .withColumn("n", element_at(col("__st"), 1))
        .withColumn("a", element_at(col("__st"), 2)),
      col("a") > 0 && col("a") < col("n") * 2 && col("n") >= 2)
      .withColumn("xx", col("a"))
      .withColumn("yy", col("n") * 2 - col("a"))
      .withColumn("tt", col("n") * 2)
      .withColumn("d4", col("tt") * (col("tt") - 1) * (col("tt") - 2)
        * (col("tt") - 3))
      .withColumn("d3", col("tt") * (col("tt") - 1) * (col("tt") - 2))
      .withColumn("t0", floor(lit(2.0)
        * ((col("xx") * (col("xx") - 1) * col("yy") * (col("yy") - 1))
          .cast("double") / col("d4").cast("double")) * SCALE))
      .withColumn("t10", floor((lit(4.0)
        * ((col("xx") * (col("xx") - 1) * (col("xx") - 2) * col("yy"))
          .cast("double") / col("d4").cast("double"))
        + lit(4.0)
        * ((col("xx") * col("yy") * (col("yy") - 1) * (col("yy") - 2))
          .cast("double") / col("d4").cast("double"))) * SCALE))
      .withColumn("t11", floor((lit(2.0)
        * ((col("xx") * (col("xx") - 1) * col("yy"))
          .cast("double") / col("d3").cast("double"))
        + lit(2.0)
        * ((col("xx") * col("yy") * (col("yy") - 1))
          .cast("double") / col("d3").cast("double"))) * SCALE))
      .select(col("d"), col("t0"), col("t10"), col("t11"))
    val pairs = graft.functions.pairs.pairFan(sites, nSamples)
      .select(col("i"), col("j"),
        element_at(col("d"), col("i") + 1).as("di"),
        element_at(col("d"), col("j") + 1).as("dj"),
        col("t0"), col("t10"), col("t11"))
      .filter(col("di").isNotNull && col("dj").isNotNull)
      .withColumn("dist", abs(col("di") - col("dj")))
    val agg = pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_sites"),
        sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n0"),
        sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n2"),
        sum(col("t0")).as("se0"),
        sum(col("t10")).as("se10"),
        sum(col("t11")).as("se11"))
    agg
      .withColumn("z0", when(col("se0") > 0,
        (col("n0") * SCALE).cast("double") / col("se0").cast("double")))
      .withColumn("z1", when(col("se11") > 0,
        ((col("n1") * SCALE).cast("double")
          - col("z0") * col("se10").cast("double"))
          / col("se11").cast("double")))
      .withColumn("z2", lit(1.0) - col("z0") - col("z1"))
      .withColumn("pi_hat", col("z2") + col("z1") / 2)
      .withColumn("kinship", lit(0.5) * col("z2") + lit(0.25) * col("z1"))
  }

  /** Mean-dosage imputation — the missing-data handling snpgdsPCA (and
    * this module's [[pcaProject]]) uses: a missing collapsed dosage
    * becomes the variant's called-sample mean 2p̂ = a/n (0.0 on a fully
    * missing variant). Input like [[grm]] (`vid`, `d`); emits the input
    * plus `n BIGINT`, `a BIGINT`, and `d_imp ARRAY<DOUBLE>`. The mean
    * is one exact division of the two BIGINT counts, so every imputed
    * value replays bit-for-bit in SQL. Pure projection. */
  def imputeMeanDosage(v: DataFrame, nSamples: Int): DataFrame = {
    require(!v.columns.exists(Set("n", "a", "d_imp")),
      "imputeMeanDosage writes n/a/d_imp columns; the input already has one")
    val (called, altSum) = calledAltSums(col("d"), nSamples)
    val mean = when(col("n") > 0,
      col("a").cast("double") / col("n").cast("double")).otherwise(lit(0.0))
    v.withColumn("n", called).withColumn("a", altSum)
      .withColumn("d_imp", transform(col("d"),
        x => coalesce(x.cast("double"), mean)))
  }

  /** VanRaden (2008, method 1) genetic relationship matrix on
    * pairwise-complete observations: for samples j ≤ k,
    * G_jk = Σ_i (x_ij − 2p_i)(x_ik − 2p_i) / Σ_i 2 p_i (1 − p_i), both
    * sums over variants where BOTH samples are called and the variant is
    * polymorphic; p_i is the all-sample alt frequency. Input `v` carries
    * `vid` and `d` (per-sample collapsed alt dosage, null = missing; see
    * [[graft.functions.genetics.dosageAlt]]). Emits
    * (i, j, n_sites, g_num, g_den, grm) with i ≤ j — diagonal entries
    * estimate 1 + F̂.
    *
    * Per-variant terms ×[[grmScale]] are exact BIGINTs, so the two sums
    * shuffle-aggregate exactly; one division at the end. */
  def grm(v: DataFrame, nSamples: Int): DataFrame = {
    val scale = grmScale(nSamples)
    val (called, altSum) = calledAltSums(col("d"), nSamples)
    val rows = graft.functions.pairs.pairFanDiag(
        pinnedFilter(
          v.select(col("d"), called.as("n"), altSum.as("a")),
          col("a") > 0 && col("a") < lit(2) * col("n")),
        nSamples)
      .select(col("n"), col("a"), col("i"), col("j"),
        element_at(col("d"), col("i") + 1).as("di"),
        element_at(col("d"), col("j") + 1).as("dj"))
      .filter(col("di").isNotNull && col("dj").isNotNull)
    // Z_j·Z_k = (n·x_j − a)(n·x_k − a)/n²; 2p(1−p) = a(2n−a)/(2n²).
    rows
      .withColumn("num_t",
        (col("n") * col("di") - col("a")) * (col("n") * col("dj") - col("a"))
          * intByN(col("n"), nSamples)(k => scale / (k.toLong * k)))
      .withColumn("den_t",
        col("a") * (lit(2) * col("n") - col("a"))
          * intByN(col("n"), nSamples)(k => scale / (2L * k * k)))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_sites"),
        sum(col("num_t")).as("g_num"),
        sum(col("den_t")).as("g_den"))
      .withColumn("grm",
        when(col("g_den") > 0,
          col("g_num").cast("double") / col("g_den").cast("double")))
  }

  /** Method-of-moments inbreeding coefficient per sample
    * (PLINK `--het` shape): F̂_s = 1 − O_het(s) / E_het(s), with the
    * small-sample-corrected expectation
    * E_het = Σ_i 2 p_i (1 − p_i) · 2n_i/(2n_i − 1) over the variant's
    * called samples (n_i, p_i from all called samples of variant i),
    * summed over sites where s is called. Input like [[grm]] (`vid`,
    * `d`). Emits (s, n_sites, o_het, e_scaled, f) — `e_scaled` is the
    * ×[[hetScale]] integer expectation, f NULL when E = 0. */
  def inbreedingF(v: DataFrame, nSamples: Int): DataFrame = {
    val scale = hetScale(nSamples)
    val (called, altSum) = calledAltSums(col("d"), nSamples)
    // 2p(1−p)·2n/(2n−1) = a(2n−a) / (n(2n−1))
    // posexplode_OUTER: the non-outer generate would get an inferred
    // `size(d) > 0` filter whose pushed form re-evaluates the whole d
    // expression; outer semantics are identical here (the null row an
    // empty/null d would emit is dropped by the x filter).
    val rows = pinnedFilter(
      v.select(col("d"), called.as("n"), altSum.as("a")),
      col("n") > 0)
      .withColumn("e_t",
        col("a") * (lit(2) * col("n") - col("a"))
          * intByN(col("n"), nSamples)(k => scale / (k.toLong * (2L * k - 1))))
      .select(col("e_t"), posexplode_outer(col("d")).as(Seq("s", "x")))
      .filter(col("x").isNotNull)
    rows.groupBy(col("s"))
      .agg(count(lit(1)).as("n_sites"),
        sum(when(col("x") === 1, 1L).otherwise(0L)).as("o_het"),
        sum(col("e_t")).as("e_scaled"))
      .withColumn("f",
        when(col("e_scaled") > 0,
          (col("e_scaled") - col("o_het") * scale).cast("double")
            / col("e_scaled").cast("double")))
  }

  /** Cochran–Armitage trend test (scores 0/1/2 = alt dosage) of a
    * case/control phenotype, per variant:
    * χ² = N·(N·Σx_case − R·Σx)² / (R·(N−R)·(N·Σx² − (Σx)²)) over called
    * samples (N called, R called cases). `v` carries `vid` and `d`;
    * `isCase(s)` is the phenotype of sample ordinal s. Emits
    * (vid, n, r, sx, sx_case, chi2), chi2 NULL when the denominator is 0
    * (monomorphic site or single-class phenotype). Pure projection —
    * zero shuffles. */
  def trendTest(v: DataFrame, isCase: Seq[Boolean],
      carry: Seq[String] = Nil): DataFrame = {
    // ONE fused kernel call — the per-sample loop lives in generated
    // code, not the plan (the cohort-width unrolled-reduce class is an
    // analyzer blow-up at biobank width; see DosageWeightedStats)
    val st = graft.functions.genetics.dosageWeightedStats(col("d"),
      isCase.map(c => if (c) 1L else 0L))
    // all kernel-derived values in ONE select level (the clumpLite
    // lesson: the previous eight withColumn levels each re-evaluated
    // the kernel-over-cube chain per consuming level); the runtime
    // subexpression elimination shares the single kernel call
    def k(i: Int) = element_at(st, i)
    val (n, sx, sxx, r, sxc) = (k(1), k(2), k(3), k(4), k(5))
    val u = n * sxc - r * sx
    val vI = r * (n - r) * (n * sxx - sx * sx)
    val chi2 = when(vI > 0,
      (n * u * u).cast("double") / vI.cast("double"))
    v.select(Seq(col("vid"), n.as("n"), r.as("r"), sx.as("sx"),
      sxc.as("sx_case"), chi2.as("chi2")) ++ carry.map(col): _*)
  }

  /** Polygenic risk score: per sample, Σ_i w_i · x_is over called sites,
    * with INTEGER per-variant weights `w` (the caller fixes the decimal
    * scale — one division by it at the end keeps the sum exact). Input
    * `v` carries `vid`, `d`, `w`. Emits (s, n_used, score_num). The
    * (variant, sample) explode rows are single counters; map-side
    * partial aggregation collapses them to #samples rows per partition
    * before the one exchange. */
  def prsScore(v: DataFrame): DataFrame =
    // outer explode: see inbreedingF — avoids the inferred size(d)>0
    // filter that re-evaluates a computed d below the fan-out exchange
    v.select(col("w"), posexplode_outer(col("d")).as(Seq("s", "x")))
      .filter(col("x").isNotNull)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_used"),
        sum(col("w") * col("x")).as("score_num"))

  /** Per-slot haplotype alt indicators: one entry per (sample, ploidy)
    * slot — 1/0 for an alt/ref allele on a PHASED sample, null when the
    * sample is unphased or the allele missing (phase-unknown slots
    * carry no haplotype information). ONE fused kernel call — O(1)
    * plan nodes at any cohort width (`nSamples` is retained for
    * signature compatibility; the loop reads the array's own length). */
  def hapAlt(geno: Column, phased: Column, nSamples: Int,
      ploidy: Int = 2): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.HapAltExpr(
        org.apache.spark.sql.graft.Bridge.expression(geno),
        org.apache.spark.sql.graft.Bridge.expression(phased),
        org.apache.spark.sql.graft.Bridge.expression(lit(ploidy))))

  /** Lewontin D′ over PHASED haplotypes for every in-window variant
    * pair: with haplotype counts n (slots called at both variants),
    * nA/nB (alt at either), n11 (alt at both), D·n² = n·n11 − nA·nB and
    * D′ = D·n² / Dmax·n², where Dmax·n² = min(nA(n−nB), nB(n−nA)) for
    * D > 0 and min(nA·nB, (n−nA)(n−nB)) for D < 0 — ONE exact integer
    * division, sign carried by D. NULL for monomorphic pairs (Dmax = 0)
    * and exactly 0.0 at D = 0 (linkage equilibrium). Input `v` carries
    * vid, chrom, pos and `d` = [[hapAlt]] slots; rides the banded
    * [[LdWindow.stats]] join — linear, no out-of-window pair. */
  def dPrimeWindow(v: DataFrame, window: Long): DataFrame = {
    val st = LdWindow.stats(v, window)
    st
      .withColumn("d_n2", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dmax_n2",
        when(col("d_n2") > 0,
          least(col("sx") * (col("n") - col("sy")),
            col("sy") * (col("n") - col("sx"))))
          .otherwise(least(col("sx") * col("sy"),
            (col("n") - col("sx")) * (col("n") - col("sy")))))
      .select(col("chrom"), col("vid_a"), col("vid_b"), col("dist"),
        col("n"), col("sx").as("na"), col("sy").as("nb"),
        col("sxy").as("n11"),
        when(col("d_n2") === 0, lit(0.0))
          .when(col("dmax_n2") > 0,
            col("d_n2").cast("double") / col("dmax_n2").cast("double"))
          .as("dprime"))
  }

  /** Haplotype blocks from ADJACENT-pair D′ runs (the simplified
    * Gabriel et al. 2002 shape): per chromosome, variants in
    * (pos, vid, slot-digest) order link to their successor with the
    * Lewontin D′ of the two [[hapAlt]] slot vectors; maximal runs of
    * links with |D′| ≥ `dMin` form blocks. Emits one row per block:
    * (chrom, start_pos, end_pos, n_variants, span). The slot digest
    * joins the sort key so duplicate (pos, vid) rows order
    * deterministically (their d vectors differ).
    *
    * Scale: adjacency needs no pair join at all — one lead() window +
    * the gaps-and-islands construction, all clustered on the chrom
    * partition axis (per-chromosome ordered scans are how every
    * haplotype-block tool works; within-chrom parallelism would need
    * the windowed-bucket variant with boundary stitching). */
  def haploBlocks(v: DataFrame, dMin: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dig = array_join(transform(col("d"),
      x => coalesce(x, lit(-1L)).cast("string")), ",")
    val w = Window.partitionBy(col("chrom"))
      .orderBy(col("pos"), col("vid"), col("dig"))
    val st = graft.functions.vectorfns.ldPairStats(col("d"), col("nd"))
    val linked = v
      .withColumn("dig", dig)
      .withColumn("nd", lead(col("d"), 1).over(w))
      .withColumn("npos", lead(col("pos"), 1).over(w))
      .withColumn("st", st)
      .withColumn("n", element_at(col("st"), 1))
      .withColumn("na", element_at(col("st"), 2))
      .withColumn("nb", element_at(col("st"), 3))
      .withColumn("n11", element_at(col("st"), 4))
      .withColumn("d_n2", col("n") * col("n11") - col("na") * col("nb"))
      .withColumn("dmax_n2",
        when(col("d_n2") > 0,
          least(col("na") * (col("n") - col("nb")),
            col("nb") * (col("n") - col("na"))))
          .otherwise(least(col("na") * col("nb"),
            (col("n") - col("na")) * (col("n") - col("nb")))))
      .withColumn("dprime",
        when(col("nd").isNull || col("n") === 0, lit(null))
          .when(col("d_n2") === 0, lit(0.0))
          .when(col("dmax_n2") > 0,
            col("d_n2").cast("double") / col("dmax_n2").cast("double")))
      .withColumn("link_ok",
        coalesce(abs(col("dprime")) >= dMin, lit(false)))
    val runs = linked
      .withColumn("start",
        col("link_ok") && !lag(col("link_ok"), 1, false).over(w))
      .withColumn("rid",
        sum(when(col("start"), 1L).otherwise(0L)).over(w))
      .filter(col("link_ok"))
      .groupBy(col("chrom"), col("rid"))
      .agg(min(col("pos")).as("start_pos"),
        max(col("npos")).as("end_pos"),
        (count(lit(1)) + 1).as("n_variants"))
      .withColumn("span", col("end_pos") - col("start_pos"))
      .select(col("chrom"), col("start_pos"), col("end_pos"),
        col("n_variants"), col("span"))
    runs
  }

  /** IBD-segment runs per sample pair (the GERMLINE/hap-IBD shape on
    * collapsed dosages): for every pair and chromosome, variants in
    * (pos, vid) order are scanned for maximal runs of IBS2 state
    * (both called, equal dosage); emits per (i, j, chrom) the IBS2
    * count, run count, and longest run. The same gaps-and-islands
    * lag + running-sum construction as the ROH scan (q112), lifted to
    * the PAIR axis — the heaviest by.sample-PAIR positional workload
    * the reference's `~data` transpose exists for. Dosage values join
    * the sort key, so the segmentation is invariant under duplicate
    * (pos, vid) ties. One (i, j, chrom) exchange serves the lag
    * window, the running sum, and both aggregations; parallelism
    * grows with pairs × chromosomes. */
  def ibdSegments(v: DataFrame, nSamples: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = graft.functions.pairs.pairFan(
        v.select(col("chrom"), col("pos"), col("vid"), col("d")),
        nSamples)
      .select(col("i"), col("j"),
        col("chrom"), col("pos"), col("vid"),
        coalesce(element_at(col("d"), col("i") + 1), lit(-1L)).as("dik"),
        coalesce(element_at(col("d"), col("j") + 1), lit(-1L)).as("djk"))
      .withColumn("ibs2",
        col("dik") >= 0 && col("djk") >= 0 && col("dik") === col("djk"))
    val w = Window.partitionBy(col("i"), col("j"), col("chrom"))
      .orderBy(col("pos"), col("vid"), col("dik"), col("djk"))
    val runs = rows
      .withColumn("start",
        col("ibs2") && !lag(col("ibs2"), 1, false).over(w))
      .withColumn("rid",
        sum(when(col("start"), 1L).otherwise(0L)).over(w))
      .filter(col("ibs2"))
      .groupBy(col("i"), col("j"), col("chrom"), col("rid"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("i"), col("j"), col("chrom"))
      .agg(sum(col("run_len")).as("n_ibs2"),
        count(lit(1)).as("n_runs"),
        max(col("run_len")).as("max_run"))
  }

  /** Relatedness pruning (the KING-kinship analogue of [[ldPrune]] — the
    * `--king-cutoff` / GCTA `--grm-cutoff` workflow): for every sample
    * pair with KING-robust kinship φ > `phiMax`, the member with the
    * LOWER call rate is pruned (tie → the larger ordinal); emits the
    * surviving samples with their call counts. Kinship rides the same
    * per-(variant, pair) counter explode as q109 (map-side combined to
    * #pairs rows); call rates ride a posexplode_outer counter pass; the
    * pair table is pairs-sized, so every downstream join broadcasts. */
  /** SAMPLE-SWAP DETECTION between a cube and its re-called twin
    * (the cohort-QC gate before any merge of re-genotyped data — does
    * callset 2's column j actually contain callset 1's sample i?):
    * full S×S genotype concordance (unordered allele-pair equality
    * over sites called in both), then per row-sample the argmax
    * column; a swap is best_j != i. Input rows carry (vid, geno,
    * geno2); output (i, best_j, n_comp, n_same, concordance,
    * swapped). The argmax key packs (n_same, S−1−j) into one BIGINT
    * so ties break to the SMALLER j identically in any engine.
    *
    * Shape: one ×S² explode with map-side partial aggregation to S²
    * counter rows — fine at cohort-QC sample counts; at biobank S,
    * band candidate pairs by a cheap per-sample sketch first (the
    * KING-prune discipline), the explode then runs only on candidate
    * (i, j) pairs. The fan is a single `sequence(0, S²−1)` explode with
    * div/mod index recovery ([[graft.functions.pairs.gridFan]]), so the
    * PLAN is O(1) expression nodes at any S the guard admits — the
    * literal-array form held S² struct literals and would have blown up
    * analysis/codegen at the S = 1000 bound. */
  def sampleSwapScan(v: DataFrame, nSamples: Int): DataFrame = {
    require(nSamples >= 2 && nSamples <= 1000,
      s"sampleSwapScan's tie-break packs j into a 1e6 radix; got " +
        s"$nSamples samples")
    val pairs = graft.functions.pairs.gridFan(
        v.select(col("vid"), col("geno"), col("geno2")),
        nSamples, nSamples)
      .select(col("i"), col("j"),
        element_at(col("geno"), (col("i") + 1).cast("int")).as("ga"),
        element_at(col("geno2"), (col("j") + 1).cast("int")).as("gb"))
      .withColumn("called",
        element_at(col("ga"), 1).isNotNull
          && element_at(col("ga"), 2).isNotNull
          && element_at(col("gb"), 1).isNotNull
          && element_at(col("gb"), 2).isNotNull)
      .withColumn("same", col("called") &&
        (least(element_at(col("ga"), 1), element_at(col("ga"), 2))
          === least(element_at(col("gb"), 1), element_at(col("gb"), 2)))
        && (greatest(element_at(col("ga"), 1), element_at(col("ga"), 2))
          === greatest(element_at(col("gb"), 1),
            element_at(col("gb"), 2))))
    sampleSwapTail(pairs)
  }

  /** [[sampleSwapScan]] over PRE-PACKED per-sample genotype codes —
    * `v` carries (vid, ca ARRAY<LONG>, cb ARRAY<LONG>) where each code
    * is −1 for a missing call and otherwise INJECTIVE on the unordered
    * allele pair (e.g. min·K + max). The S² fan row then costs two
    * flat element_at and two long compares instead of four nested
    * element_at plus null checks and least/greatest on every pair —
    * the per-task-work lever for callers whose allele alphabet is
    * small enough to pack (the synthetic twin cubes: alleles 0‥3).
    * Same output contract as [[sampleSwapScan]]. */
  def sampleSwapScanCodes(v: DataFrame, nSamples: Int): DataFrame = {
    require(nSamples >= 2 && nSamples <= 1000,
      s"sampleSwapScan's tie-break packs j into a 1e6 radix; got " +
        s"$nSamples samples")
    val pairs = graft.functions.pairs.gridFan(
        v.select(col("vid"), col("ca"), col("cb")),
        nSamples, nSamples)
      .select(col("i"), col("j"),
        element_at(col("ca"), (col("i") + 1).cast("int")).as("xa"),
        element_at(col("cb"), (col("j") + 1).cast("int")).as("xb"))
      .withColumn("called", col("xa") >= 0 && col("xb") >= 0)
      .withColumn("same", col("called") && col("xa") === col("xb"))
    sampleSwapTail(pairs)
  }

  private def sampleSwapTail(pairs: DataFrame): DataFrame = {
    val conc = pairs.groupBy(col("i"), col("j"))
      .agg(sum(when(col("called"), 1L).otherwise(0L)).as("n_comp"),
        sum(when(col("same"), 1L).otherwise(0L)).as("n_same"))
    conc.groupBy(col("i"))
      .agg(max(struct(
        (col("n_same") * lit(1000000L)
          + (lit(999999L) - col("j"))).as("k"),
        col("j"), col("n_comp"), col("n_same"))).as("b"))
      .select(col("i"), col("b.j").as("best_j"),
        col("b.n_comp").as("n_comp"), col("b.n_same").as("n_same"),
        (col("b.n_same").cast("double")
          / col("b.n_comp").cast("double")).as("concordance"),
        (col("b.j") =!= col("i")).as("swapped"))
  }

  /** Mendelian-error check over (father, mother, child) trios — the
    * PLINK `--mendel` family-QC workload, on collapsed biallelic
    * dosages: a trio is inconsistent at a variant when the child's
    * dosage cannot arise from one transmitted allele per parent —
    * child 0 is impossible under any hom-ALT parent, child 2 under any
    * hom-REF parent, and child 1 when both parents are the same
    * homozygote. Trios with any missing member at a variant don't
    * count. Emits per (trio, variant-row): (trio, vid, df, dm, dc,
    * mendel_err) — a pure projection+explode; callers aggregate per
    * trio or per variant (the q176 query does both exactly). */
  def mendelErrors(v: DataFrame, trios: Seq[(Int, Int, Int)]): DataFrame = {
    require(trios.nonEmpty, "at least one trio")
    val trioLit = array(trios.zipWithIndex.map { case ((f, m, c), t) =>
      struct(lit(t).as("trio"), lit(f).as("f"), lit(m).as("m"),
        lit(c).as("c"))
    }: _*)
    def d(ord: Column) = element_at(col("d"), ord + 1)
    val rows = v.select(col("vid"), col("d"), explode(trioLit).as("p"))
      .select(col("vid"), col("p.trio").as("trio"),
        d(col("p.f")).as("df"), d(col("p.m")).as("dm"),
        d(col("p.c")).as("dc"))
      .filter(col("df").isNotNull && col("dm").isNotNull &&
        col("dc").isNotNull)
    rows.withColumn("mendel_err",
      when((col("dc") === 0 && (col("df") === 2 || col("dm") === 2)) ||
        (col("dc") === 2 && (col("df") === 0 || col("dm") === 0)) ||
        (col("dc") === 1 && col("df") === col("dm") &&
          (col("df") === 0 || col("df") === 2)), 1L).otherwise(0L))
  }

  /** Transmission-disequilibrium test (Spielman 1993; PLINK --tdt) —
    * family-based association over the SAME trio rows as
    * [[mendelErrors]]: per Mendel-consistent (variant, trio), the ALT
    * alleles transmitted by HET parents are dc minus the hom-ALT
    * parents' forced contributions (b), the rest of the het
    * transmissions are REF (c) — the double-het het-child ambiguity
    * adds one to each, the PLINK convention. Per variant:
    * χ² = (B−C)²/(B+C) over the trio sums — exact BIGINTs, one final
    * division. Emits (vid, n_trios, b, c, tdt_chi2), NULL χ² when no
    * het-parent transmission was observed. One map-side-combined
    * vid aggregate. */
  def tdt(v: DataFrame, trios: Seq[(Int, Int, Int)]): DataFrame = {
    val homAlt = when(col("df") === 2, 1L).otherwise(0L) +
      when(col("dm") === 2, 1L).otherwise(0L)
    val het = when(col("df") === 1, 1L).otherwise(0L) +
      when(col("dm") === 1, 1L).otherwise(0L)
    mendelErrors(v, trios).filter(col("mendel_err") === 0)
      .withColumn("b_t", col("dc") - homAlt)
      .withColumn("c_t", het - (col("dc") - homAlt))
      .groupBy(col("vid"))
      .agg(count(lit(1)).as("n_trios"),
        sum(col("b_t")).as("b"), sum(col("c_t")).as("c"))
      .withColumn("tdt_chi2",
        when(col("b") + col("c") > 0,
          ((col("b") - col("c")) * (col("b") - col("c"))).cast("double")
            / (col("b") + col("c")).cast("double")))
  }

  /** KING-robust kinship per sample pair — the shared pair stage of
    * [[kinshipPrune]] and [[familySplit]]: per-(variant, pair) counters
    * partial-aggregate map-side to the S·(S−1)/2 pair rows. */
  private def kinshipPairs(v: DataFrame, nSamples: Int): DataFrame = {
    graft.functions.pairs.pairFan(v.select(col("d")), nSamples)
      .select(col("i"), col("j"),
        element_at(col("d"), col("i") + 1).as("di"),
        element_at(col("d"), col("j") + 1).as("dj"))
      .filter(col("di").isNotNull && col("dj").isNotNull)
      .groupBy(col("i"), col("j"))
      .agg(
        sum(when(col("di") === 1, 1L).otherwise(0L)).as("n_het_i"),
        sum(when(col("dj") === 1, 1L).otherwise(0L)).as("n_het_j"),
        sum(when(col("di") === 1 && col("dj") === 1, 1L).otherwise(0L))
          .as("n_het_both"),
        sum(when(abs(col("di") - col("dj")) === 2, 1L).otherwise(0L))
          .as("n_opp"))
      .withColumn("kinship",
        when(col("n_het_i") + col("n_het_j") > 0,
          (col("n_het_both").cast("double") - lit(2.0) * col("n_opp"))
            / (col("n_het_i") + col("n_het_j")).cast("double")))
  }

  /** Relatedness-aware (family-wise) train/val split — the leakage
    * guard genomic ML needs where the corpus pipeline's trainValSplit
    * is not enough: related samples must never straddle the split (a
    * sibling in val leaks the train sibling's genome). Families =
    * connected components of the φ > `phiMax` KING kinship graph;
    * every family lands WHOLLY in one side by the md5 nibble of its
    * smallest member ordinal (the same `holdout` rule as the corpus
    * trainValSplit, so mixed pipelines share one convention). The
    * kinship pass is the distributed stage (same pair contract as
    * [[kinshipPrune]]); component labelling is driver-side union–find
    * over the collected φ-filtered PAIR list — sample-axis-sized (the
    * samples table is driver-scale by design, SURVEY §1.5), a few edges
    * per related sample. Emits (s, family, n_family, split). */
  def familySplit(v: DataFrame, nSamples: Int, phiMax: Double,
      holdout: Seq[String] = Seq("c", "d", "e", "f")): DataFrame = {
    val rel = kinshipPairs(v, nSamples)
      .filter(col("kinship") > phiMax)
      .select(col("i"), col("j")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val parent = Array.tabulate(nSamples)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rel.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    // root = smallest ordinal of the component (unions always point to
    // the smaller root, so find() IS the family label)
    val fams = (0 until nSamples).map(find)
    val spark = v.sparkSession
    import spark.implicits._
    fams.zipWithIndex.map { case (f, s) => (s, f) }
      .toDF("s", "family")
      .withColumn("n_family",
        count(lit(1)).over(Window.partitionBy(col("family"))))
      .withColumn("split",
        when(substring(md5(col("family").cast("string").cast("binary")),
          1, 1).isin(holdout: _*), "val").otherwise("train"))
  }

  def kinshipPrune(v: DataFrame, nSamples: Int, phiMax: Double)
      : DataFrame = {
    val kin = kinshipPairs(v, nSamples)
      .filter(col("kinship") > phiMax)
    val callrate = v
      .select(posexplode_outer(col("d")).as(Seq("s", "x")))
      .filter(col("x").isNotNull)
      .groupBy(col("s")).agg(count(lit(1)).as("n_called"))
    val victims = kin
      .join(broadcast(callrate.select(col("s").as("i"),
        col("n_called").as("nc_i"))), Seq("i"))
      .join(broadcast(callrate.select(col("s").as("j"),
        col("n_called").as("nc_j"))), Seq("j"))
      .select(when(col("nc_i") < col("nc_j"), col("i"))
        .when(col("nc_j") < col("nc_i"), col("j"))
        .otherwise(greatest(col("i"), col("j"))).as("s"))
      .distinct()
    callrate.join(victims, Seq("s"), "left_anti")
  }

  /** Top-k sample principal components from a [[grm]] result — the
    * snpgdsPCA shape (SNPRelate over a SeqArray handle): the GRM is the
    * distributed part (one linear pass over the genotype cube); the
    * eigen-decomposition runs driver-side on the S×S matrix via power
    * iteration with deflation, which is exact-enough and dependency-free.
    * Deterministic: fixed start vector, fixed iteration count — same
    * input ⇒ bit-identical output, no RNG.
    *
    * Scale: S×S on the driver is the right call up to ~tens of
    * thousands of samples (a 10k×10k double matrix is 800 MB); the
    * biobank regime (500k samples) blocks the GRM and uses randomized
    * sketching instead — out of scope here, the distributed GRM pass
    * itself is the 100 TB-bound stage either way.
    *
    * Returns (eigenvalues desc, loadings): `loadings(p)(s)` = sample s's
    * coordinate on PC p, each vector unit-norm with a sign convention
    * (first nonzero component positive). */
  def pcaFromGrm(grmEntries: DataFrame, nSamples: Int, k: Int,
      iters: Int = 200): (Array[Double], Array[Array[Double]]) = {
    val g = Array.ofDim[Double](nSamples, nSamples)
    grmEntries.select(col("i"), col("j"), col("grm")).collect().foreach { r =>
      if (!r.isNullAt(2)) {
        val (i, j, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
        g(i)(j) = v; g(j)(i) = v
      }
    }
    def rawMatVec(x: Array[Double]): Array[Double] = {
      val y = new Array[Double](nSamples)
      var i = 0
      while (i < nSamples) {
        var s = 0.0; var j = 0
        while (j < nSamples) { s += g(i)(j) * x(j); j += 1 }
        y(i) = s; i += 1
      }
      y
    }
    powerIterate(rawMatVec, nSamples, k, iters)
  }

  /** Biobank-scale sample PCA WITHOUT ever forming the S×S matrix
    * anywhere — driver OR cluster (the round-9 verdict's last
    * driver-side-bound operator): the mean-imputed VanRaden GRM is
    * G = Σ_v z_v·z_vᵀ / c (z_v the centered, missing-imputed-to-mean
    * dosage vector of variant v), so the power-iteration mat-vec
    * factors through the genotype rows,
    *
    *   G·x = Σ_v z_v · (z_v ⋅ x) / c,
    *
    * two fused dot products per variant per iteration — no GRM entries
    * table (O(S²) rows), no pair fan, no S-wide expression tree (each
    * variant's dosages travel as ONE packed byte array; the loop is
    * data, not plan). Per-partition partials are quantized to BIGINT
    * ([[PartialScale]]) and merged EXECUTOR-side via treeAggregate —
    * integer adds are order-free, so the result is deterministic under
    * any merge tree, and the driver receives one O(S) vector per
    * iteration (never the P × S partial fan: at S = 10⁵ and thousands
    * of partitions that fan is multi-GB per mat-vec through the
    * driver). c = Σ_v 2·p̂(1−p̂) (the VanRaden denominator over
    * polymorphic sites) only scales the eigenvalues; eigenvectors are
    * unaffected.
    *
    * Input `v` carries `vid` and `d` (collapsed alt dosage, null =
    * missing). Monomorphic and all-missing sites contribute nothing
    * and are dropped. Returns the [[pcaFromGrm]] shape. Scale story:
    * at S = 500k a packed variant row is 0.5 MB and a partition's
    * partial 4 MB — per-iteration traffic is #partitions × S longs
    * through the EXECUTOR tree, O(S) to the driver; nothing anywhere
    * is S². */
  def pcaFromGeno(v: DataFrame, nSamples: Int, k: Int,
      iters: Int = 100): (Array[Double], Array[Array[Double]]) = {
    val sc = v.sparkSession.sparkContext
    // pack once: (mean, bytes) per variant — byte 3 = missing
    val rows = v.select(col("d")).rdd.flatMap { r =>
      val d = r.getSeq[Any](0)
      var n = 0L; var a = 0L
      d.foreach { x =>
        if (x != null) { n += 1; a += x.asInstanceOf[Long] }
      }
      if (n == 0L || a == 0L || a == 2L * n) None
      else {
        val mean = a.toDouble / n
        val bytes = new Array[Byte](d.length)
        var i = 0
        d.foreach { x =>
          bytes(i) = if (x == null) 3 else x.asInstanceOf[Long].toByte
          i += 1
        }
        Some((mean, bytes))
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val depth = treeDepth(rows.getNumPartitions)
      // VanRaden denominator Σ 2p(1−p) with p = mean/2 (a pure scale on
      // the eigenvalues); per-partition partial quantized to BIGINT and
      // tree-merged — deterministic under any merge order
      val c = rows.mapPartitions { it =>
        var s = 0.0
        it.foreach { case (m, _) => val p = m / 2.0; s += 2.0 * p * (1.0 - p) }
        Iterator(math.rint(s * PartialScale).toLong)
      }.treeAggregate(0L)(_ + _, _ + _, depth).toDouble / PartialScale
      def rawMatVec(x: Array[Double]): Array[Double] = {
        val bx = sc.broadcast(x)
        val n = nSamples
        val accL = rows.mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val xv = bx.value
            val acc = new Array[Double](n)
            it.foreach { case (mean, bytes) =>
              var t = 0.0
              var s = 0
              while (s < bytes.length) {
                if (bytes(s) != 3) t += (bytes(s) - mean) * xv(s)
                s += 1
              }
              var s2 = 0
              while (s2 < bytes.length) {
                if (bytes(s2) != 3) acc(s2) += (bytes(s2) - mean) * t
                s2 += 1
              }
            }
            Iterator(quantizePartial(acc))
          }
        }.treeAggregate(Array.empty[Long])(
          mergeQuantized _, mergeQuantized _, depth)
        bx.destroy()
        val y = new Array[Double](n)
        if (accL.length > 0) {
          var m = 0
          while (m < n) { y(m) = accL(m) / PartialScale; m += 1 }
        }
        if (c > 0) { var m = 0; while (m < n) { y(m) /= c; m += 1 } }
        y
      }
      powerIterate(rawMatVec, nSamples, k, iters)
    } finally rows.unpersist(blocking = false)
  }

  /** Fixed-point scale for quantizing per-partition mat-vec partials to
    * BIGINT before the executor-side tree merge — the repo's ppm
    * discipline at 10⁻⁸: integer addition is order-free, so the merged
    * vector is bit-identical under ANY treeAggregate depth or merge
    * order. Headroom: worst-case |y(s)| ≤ 4·√S per variant
    * (Cauchy–Schwarz on a unit x), so at S = 5·10⁵ and 10⁶ variants
    * the total is ≤ 2.8e9 ⇒ ×1e8 = 2.8e17, 30× inside Long range. */
  private val PartialScale = 1e8

  private def quantizePartial(a: Array[Double]): Array[Long] = {
    val q = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { q(i) = math.rint(a(i) * PartialScale).toLong; i += 1 }
    q
  }

  /** Element-wise BIGINT merge with an empty-array identity (so the
    * treeAggregate zero value ships as 0 bytes, not an S-length array
    * serialized into every task). */
  private def mergeQuantized(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a.length == 0) b
    else if (b.length == 0) a
    else {
      var i = 0
      while (i < b.length) { a(i) += b(i); i += 1 }
      a
    }

  /** treeAggregate depth so the final driver-side reduce sees at most
    * ~8 partials (scale = P^(1/depth) ≤ 8) — the executor tree does the
    * rest; driver traffic per mat-vec is O(S), not O(P·S). */
  private def treeDepth(numPartitions: Int): Int =
    math.max(2, math.ceil(math.log(math.max(numPartitions, 2).toDouble)
      / math.log(8.0)).toInt)

  /** Shared deterministic power iteration with deflation over an opaque
    * symmetric mat-vec (dense driver-side or distributed): fixed start
    * vector, fixed iteration count, Gram-Schmidt re-orthogonalization,
    * Rayleigh-quotient eigenvalues, first-nonzero-positive sign
    * convention — same input ⇒ same output, no RNG. */
  private def powerIterate(rawMatVec: Array[Double] => Array[Double],
      nSamples: Int, k: Int, iters: Int)
      : (Array[Double], Array[Array[Double]]) = {
    val evs = new Array[Double](k)
    val vecs = Array.ofDim[Double](k, nSamples)
    for (p <- 0 until k) {
      // deterministic start, not orthogonal to anything by construction
      var v = Array.tabulate(nSamples)(i => 1.0 / (i + 2))
      // deflation: subtract projections onto found eigenpairs
      def matVec(x: Array[Double]): Array[Double] = {
        val y = rawMatVec(x)
        var q = 0
        while (q < p) {
          var dot = 0.0; var m = 0
          while (m < nSamples) { dot += vecs(q)(m) * x(m); m += 1 }
          var i = 0
          while (i < nSamples) { y(i) -= evs(q) * vecs(q)(i) * dot; i += 1 }
          q += 1
        }
        y
      }
      for (_ <- 0 until iters) {
        val y = matVec(v)
        val norm = math.sqrt(y.map(x => x * x).sum)
        if (norm > 0) v = y.map(_ / norm)
      }
      // Re-orthogonalize against the found eigenpairs and normalize.
      // When the deflated matrix is (numerically) zero — rank-deficient
      // GRM, eigenvalue 0 — the iteration never moved v; any unit vector
      // of the remaining null space is a valid eigenvector, so Gram-Schmidt the
      // start (or, if that collapsed, the first independent basis
      // vector) into one deterministically.
      def orthog(x: Array[Double]): Array[Double] = {
        val w = x.clone()
        for (q <- 0 until p) {
          var dot = 0.0; var m = 0
          while (m < nSamples) { dot += vecs(q)(m) * w(m); m += 1 }
          for (m2 <- 0 until nSamples) w(m2) -= dot * vecs(q)(m2)
        }
        w
      }
      var w = orthog(v)
      var norm = math.sqrt(w.map(x => x * x).sum)
      var basis = 0
      while (norm < 1e-12 && basis < nSamples) {
        w = orthog(Array.tabulate(nSamples)(i => if (i == basis) 1.0 else 0.0))
        norm = math.sqrt(w.map(x => x * x).sum)
        basis += 1
      }
      v = if (norm > 0) w.map(_ / norm) else w
      // Rayleigh quotient for a signed eigenvalue (power-iteration norm
      // loses the sign of negative eigenvalues)
      val gv = matVec(v)
      val lambda = v.zip(gv).map { case (a, b) => a * b }.sum
      val firstNz = v.indexWhere(math.abs(_) > 1e-12)
      if (firstNz >= 0 && v(firstNz) < 0) v = v.map(-_)
      evs(p) = lambda; vecs(p) = v
    }
    (evs, vecs)
  }

  /** Per-variant simple linear regression of a quantitative phenotype on
    * alt dosage (the GWAS `--linear` shape): over called samples,
    * β = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) and
    * r² = (n·Σxy − Σx·Σy)² / ((n·Σxx − Σx²)(n·Σyy − Σy²)) — five integer
    * sums statically unrolled per row, one (resp. one squared-products)
    * division at the end. `y(s)` is the integer phenotype of sample
    * ordinal s. NULL β/r² for monomorphic sites or constant phenotype
    * over the called set. Pure projection — zero shuffles. */
  /** Exact mean-imputed GRM denominator Σ_i 2p̂_i(1−p̂_i) over the
    * polymorphic sites of the TRAINING cohort — the scale constant the
    * [[pcaProject]] model freezes. Integer-summed ×[[grmScale]], one
    * final division; a single scalar reaches the driver. */
  def grmDenominator(v: DataFrame, nSamples: Int): Double = {
    val scale = grmScale(nSamples)
    val (called, altSum) = calledAltSums(col("d"), nSamples)
    val r = pinnedFilter(v.select(called.as("n"), altSum.as("a")),
        col("a") > 0 && col("a") < lit(2) * col("n"))
      .agg(sum(col("a") * (lit(2) * col("n") - col("a"))
        * intByN(col("n"), nSamples)(k => scale / (2L * k * k))).as("s"))
      .head()
    if (r.isNullAt(0)) 0.0 else r.getLong(0).toDouble / scale
  }

  /** Per-variant SNP loadings for PCA sample projection — the
    * snpgdsPCASampLoading workload the reference's link layer exists to
    * feed (LinkSNPRelate.cpp): b_l(i) = Σ_s (d̃_is − a_i/n_i) · v_ls
    * over the MEAN-IMPUTED training dosages (d̃ from
    * [[imputeMeanDosage]]; a missing call contributes exactly 0, the
    * snpgdsPCA convention), for each supplied sample-space vector v_l.
    * Emits (vid, n, a, b_1..b_k). A pure projection over the training
    * cohort — each b_l is a statically-unrolled dot product (left-
    * associated, so a SQL oracle replays it bit-for-bit); the vectors
    * ride into the plan as literals (k·S doubles — fine for the
    * projection batch sizes this serves; the plan-size axis is
    * documented in SCALE.md). */
  def pcaLoadings(v: DataFrame, nSamples: Int,
      vecs: Seq[Seq[Double]]): DataFrame = {
    require(vecs.nonEmpty && vecs.forall(_.length == nSamples),
      s"each vector must have $nSamples entries")
    val mean = when(col("n") > 0,
      col("a").cast("double") / col("n").cast("double")).otherwise(lit(0.0))
    val bCols = vecs.zipWithIndex.map { case (vec, l) =>
      (0 until nSamples).map(s =>
        (element_at(col("d_imp"), s + 1) - col("__mean")) * lit(vec(s)))
        .reduce(_ + _).as(s"b_${l + 1}")
    }
    imputeMeanDosage(v, nSamples).withColumn("__mean", mean)
      .select(col("vid") +: col("n") +: col("a") +: bCols: _*)
  }

  /** Project `nNew` samples onto the PCA space a training cohort
    * defined (the snpgdsPCASampProj shape): given [[pcaLoadings]] for
    * the eigenvectors, the frozen [[grmDenominator]] and eigenvalues,
    * score_{t,l} = Σ_i (d̃′_it − a_i/n_i) · b_l(i) / (den·√λ_l) — for a
    * TRAINING sample this reproduces √λ_l · v_tl exactly when the
    * cohort is complete (PopGenSpec gates it; with missing data the
    * mean-imputed model is the standard snpgdsPCA approximation). New
    * samples mean-impute with the TRAINING per-variant mean carried on
    * the loadings table (frozen model parameters — the correct
    * out-of-sample treatment; a variant the model never saw simply
    * doesn't join). One equi-join on vid, then one global aggregate of
    * k·nNew partially-aggregated doubles — nothing wider crosses the
    * wire, so cohort size only affects the join's linear pass; project
    * wide cohorts in batches of a few thousand samples per call (the
    * agg column count is nNew·k). Returns scores(t)(l). */
  def pcaProject(loadings: DataFrame, newV: DataFrame, nNew: Int,
      den: Double, eigvals: Seq[Double]): Array[Array[Double]] = {
    require(den > 0 && eigvals.forall(_ > 0), "den and eigvals must be > 0")
    val k = eigvals.size
    val joined = newV.join(loadings, Seq("vid"))
      .withColumn("__mean", when(col("n") > 0,
        col("a").cast("double") / col("n").cast("double"))
        .otherwise(lit(0.0)))
    val terms = for { t <- 0 until nNew; l <- 0 until k } yield
      sum((coalesce(element_at(col("d"), t + 1).cast("double"),
        col("__mean")) - col("__mean")) * col(s"b_${l + 1}"))
        .as(s"t_${t}_$l")
    val row = joined.agg(terms.head, terms.tail: _*).head()
    Array.tabulate(nNew, k) { (t, l) =>
      val s = if (row.isNullAt(t * k + l)) 0.0 else row.getDouble(t * k + l)
      s / (den * math.sqrt(eigvals(l)))
    }
  }

  /** Per-variant SNP–PC correlation (the snpgdsPCACorr workload — the
    * loading plot every PCA report shows): Pearson correlation between
    * the variant's collapsed dosages and each supplied sample-space
    * vector v_l, over CALLED samples only. Emits (vid, n, corr_1..k)
    * with corr NULL when either variance term is 0 or n < 2. The
    * dosage-side sums are exact BIGINTs; the vector-side sums are
    * left-associated doubles (a SQL oracle replays the identical
    * order), one sqrt + one division at the end. Pure projection. */
  def pcaCorr(v: DataFrame, nSamples: Int,
      vecs: Seq[Seq[Double]]): DataFrame = {
    require(vecs.nonEmpty && vecs.forall(_.length == nSamples),
      s"each vector must have $nSamples entries")
    def d(s: Int) = element_at(col("d"), s + 1)
    // integer side [n, Σd, Σd²] via the fused kernel (O(1) plan
    // nodes); the VECTOR-side double sums below keep their unrolled
    // balanced-tree association by oracle contract (double association
    // is part of the result — the documented width-bound trade-off)
    def sumL(f: Int => Column) =
      balanced((0 until nSamples).map(f))(_ + _)
    val kst = graft.functions.genetics.dosageWeightedStats(col("d"),
      Seq.fill(nSamples)(1L))
    // every d-derived value in ONE select level (the clumpLite lesson:
    // the previous n/sd/sdd/dx withColumn levels plus the corr select
    // each re-evaluated the kernel-over-cube chain per consuming level
    // — ~4× the single-pass cost); the runtime subexpression
    // elimination shares the single kernel call across the reads
    val n = element_at(kst, 1)
    val sd = element_at(kst, 2)
    val sdd = element_at(kst, 3)
    val dx = n * sdd - sd * sd
    val corrCols = vecs.zipWithIndex.flatMap { case (vec, l) =>
      val sv = sumL(s =>
        when(d(s).isNotNull, lit(vec(s))).otherwise(lit(0.0)))
      val svv = sumL(s =>
        when(d(s).isNotNull, lit(vec(s) * vec(s))).otherwise(lit(0.0)))
      val sdv = sumL(s =>
        when(d(s).isNotNull, d(s).cast("double") * lit(vec(s)))
          .otherwise(lit(0.0)))
      val num = n.cast("double") * sdv - sd.cast("double") * sv
      val dv = n.cast("double") * svv - sv * sv
      Seq(when(n >= 2 && dx > 0 && dv > 0,
        num / sqrt(dx.cast("double") * dv)).as(s"corr_${l + 1}"))
    }
    v.select(col("vid") +: n.as("n") +: corrCols: _*)
  }

  def linRegScore(v: DataFrame, y: Seq[Long]): DataFrame = {
    // fused kernel (see trendTest): [n, sx, sxx, sy, sxy, syy] — all
    // kernel-derived values in ONE select level (the clumpLite lesson:
    // the previous __st/n/num/vx/vy withColumn levels each re-evaluated
    // the kernel-over-cube chain); the runtime subexpression
    // elimination shares the single kernel call
    val kst = graft.functions.genetics.dosageWeightedStats(col("d"), y)
    def st(i: Int) = element_at(kst, i)
    val (n, sx, sxx, sy, sxy, syy) =
      (st(1), st(2), st(3), st(4), st(5), st(6))
    val num = n * sxy - sx * sy
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    v.select(col("vid"), n.as("n"),
      when(vx > 0, num.cast("double") / vx.cast("double")).as("beta"),
      when(vx > 0 && vy > 0,
        (num.cast("double") * num.cast("double"))
          / (vx.cast("double") * vy.cast("double"))).as("r2"))
  }

  /** Covariate-adjusted per-variant linear GWAS — y ~ β₀ + β_g·g + β_z·z
    * solved by Cramer's rule on the 3×3 normal equations with EXACT
    * integer determinants (g is an integer dosage; y and z are integer
    * phenotype/covariate vectors broadcast as literals, the
    * [[linRegScore]] discipline). Per-variant sums restrict to called
    * samples, so the adjustment is complete-case per site. The only
    * doubles are the two final det/det divisions; a site where the
    * design matrix is singular (detA = 0 — monomorphic g or g collinear
    * with z on the called subset) reports NULL βs. Zero shuffles: one
    * narrow projection per variant at any cohort width. */
  def linRegCovScore(v: DataFrame, y: Seq[Long], z: Seq[Long]): DataFrame = {
    require(y.length == z.length, "y and z must have one entry per sample")
    // fused two-weight kernel (see trendTest): [n, sg, sgg, sy, sgy,
    // syy, sz, sgz, szz, szy] — all kernel-derived values in ONE select
    // level (the clumpLite lesson: the previous twelve withColumn
    // levels each re-evaluated the kernel-over-cube chain); the runtime
    // subexpression elimination shares the single kernel call
    val kst = graft.functions.genetics.dosageTwoWeightStats(col("d"), y, z)
    def st(i: Int) = element_at(kst, i)
    val (n, sg, sgg, sy, sgy) = (st(1), st(2), st(3), st(4), st(5))
    val (sz, sgz, szz, szy) = (st(7), st(8), st(9), st(10))
    // det of A = X'X with X = [1 g z]; then Cramer column swaps
    val detA = n * (sgg * szz - sgz * sgz) -
      sg * (sg * szz - sgz * sz) + sz * (sg * sgz - sgg * sz)
    val detG = n * (sgy * szz - sgz * szy) -
      sy * (sg * szz - sgz * sz) + sz * (sg * szy - sgy * sz)
    val detZ = n * (sgg * szy - sgy * sgz) -
      sg * (sg * szy - sgy * sz) + sy * (sg * sgz - sgg * sz)
    v.select(col("vid"), n.as("n"), detA.as("det_a"),
      when(detA =!= 0L,
        detG.cast("double") / detA.cast("double")).as("beta_g"),
      when(detA =!= 0L,
        detZ.cast("double") / detA.cast("double")).as("beta_z"))
  }

  /** Windowed LD-partner profile per variant (the integer-exact cousin
    * of an LD score): how many in-window partners a variant has in
    * total and above r² ∈ {0.2, 0.5, 0.8}. A Σr² LD score proper is an
    * ordering-sensitive double sum that no other engine could replay
    * bit-for-bit; threshold COUNTS are exact integers and serve the
    * same pruning/QC diagnostics. Both endpoints of every banded pair
    * count (symmetric profile); rows sharing a vid aggregate together.
    * One banded equi-join + one vid-keyed aggregation — linear. */
  def ldPartnerProfile(v: DataFrame, window: Long): DataFrame = {
    val pairs = LdWindow.r2(v, window)
    val ends = pairs.select(col("vid_a").as("vid"), col("r2"))
      .unionByName(pairs.select(col("vid_b").as("vid"), col("r2")))
    ends.groupBy(col("vid"))
      .agg(count(lit(1)).as("n_partners"),
        sum(when(col("r2") >= 0.2, 1L).otherwise(0L)).as("n_ge02"),
        sum(when(col("r2") >= 0.5, 1L).otherwise(0L)).as("n_ge05"),
        sum(when(col("r2") >= 0.8, 1L).otherwise(0L)).as("n_ge08"))
  }

  /** MaCH/minimac imputation-quality r̂² per variant: the ratio of the
    * observed dosage variance to the binomial expectation 2p̂(1−p̂),
    * which algebra reduces to the all-integer
    * r̂² = 2·(n·Σx² − (Σx)²) / (Σx·(2n − Σx)) over called samples —
    * one exact division, NULL for monomorphic dosage mass (Σx = 0 or
    * 2n). Hard calls give r̂² ≥ 1-ish, over-smoothed imputed dosages
    * < 1 — the standard post-imputation QC filter. Pure projection. */
  def imputeRhat2(v: DataFrame, nSamples: Int): DataFrame = {
    // [n, Σx, Σx²] are the first three DosageWeightedStats slots —
    // one fused kernel call, O(1) plan nodes at any cohort width
    val st = graft.functions.genetics.dosageWeightedStats(col("d"),
      Seq.fill(nSamples)(1L))
    v.select(col("vid"), col("d"))
      .withColumn("n", element_at(st, 1))
      .withColumn("a", element_at(st, 2))
      .withColumn("sxx", element_at(st, 3))
      .withColumn("rhat2",
        when(col("a") > 0 && col("a") < lit(2) * col("n"),
          (lit(2) * (col("n") * col("sxx") - col("a") * col("a")))
            .cast("double")
            / (col("a") * (lit(2) * col("n") - col("a"))).cast("double")))
      .select(col("vid"), col("n"), col("a"), col("rhat2"))
  }

  /** Cochran–Mantel–Haenszel stratified 2×2×K association (PLINK `--mh`,
    * no continuity correction): per variant, each stratum contributes a
    * 2×2 table of phenotype (case/control) × alt-carriage (dosage > 0)
    * over called samples; χ² = (Σₖ aₖ − Eₖ)² / Σₖ Vₖ with
    * Eₖ = n1ₖm1ₖ/nₖ and Vₖ = n1ₖn2ₖm1ₖm2ₖ/(nₖ²(nₖ−1)). Rationalized:
    * U scaled by lcm(nₖ), V by lcm(nₖ)² — the identity
    * χ² = (U·s)² / (V·s²) makes the result ONE exact division of two
    * BIGINTs. NULL when every stratum is degenerate (V = 0). Pure
    * projection — zero shuffles. */
  def cmhTest(v: DataFrame, isCase: Seq[Boolean], strata: Seq[Seq[Int]])
      : DataFrame = {
    val nMax = strata.map(_.length).max
    val uScale = lcmExact((1 to nMax).map(_.toLong), s"cmh uScale($nMax)")
    require(uScale <= 3037000499L, // floor(sqrt(Long.MaxValue))
      s"cmhTest's vScale = lcm(1..$nMax)² overflows Long — strata must " +
        "be ≤ ~29 samples each (split wider strata)")
    val vScale = uScale * uScale
    require(strata.flatten.distinct.length == strata.flatten.length,
      "cmhTest strata must be disjoint")
    // stratum/phenotype layout packed into ONE literal array (see
    // CmhUvExpr) — O(1) plan nodes at any cohort width and stratum
    // count (replaces the statically-unrolled per-stratum count trees)
    val code = Array.fill(isCase.length)(0L)
    strata.zipWithIndex.foreach { case (ss, sid) =>
      ss.foreach { s =>
        code(s) = 2L * (sid + 1) + (if (isCase(s)) 1L else 0L)
      }
    }
    val st = graft.functions.genetics.cmhUv(col("d"),
      uScale +: vScale +: code.toSeq)
    v.select(col("vid"), col("d"))
      .withColumn("__uv", st)
      .withColumn("u_scaled", element_at(col("__uv"), 1))
      .withColumn("v_scaled", element_at(col("__uv"), 2))
      .drop("__uv")
      .withColumn("chi2",
        when(col("v_scaled") > 0,
          (col("u_scaled") * col("u_scaled")).cast("double")
            / col("v_scaled").cast("double")))
      .select(col("vid"), col("u_scaled"), col("v_scaled"), col("chi2"))
  }

  /** MAF-ranked LD pruning (the `bcftools +prune` / snpgdsLDpruning
    * decision rule, made order-free so it is deterministic and
    * distributable): within every `window`-bp banded pair with
    * r² ≥ `r2Max`, the member with the LOWER minor-allele frequency is
    * pruned (tie → the larger vid). A variant survives iff NO in-window
    * high-LD partner out-ranks it. Unlike the reference's sequential
    * greedy scan this needs no ordered pass over the chromosome — one
    * banded join + one distinct + one anti-join, all linear in variants.
    *
    * Input `v` carries vid, chrom, pos, d. Emits surviving
    * (vid, chrom, pos, maf). */
  def ldPrune(v: DataFrame, window: Long, r2Max: Double,
      nSamples: Int, keepInput: Boolean = false): DataFrame = {
    val (called, altSum) = calledAltSums(col("d"), nSamples)
    val withMaf = v
      .withColumn("n_c", called).withColumn("a_c", altSum)
      .withColumn("maf",
        when(col("n_c") > 0,
          least(col("a_c"), lit(2) * col("n_c") - col("a_c")).cast("double")
            / (lit(2) * col("n_c")).cast("double")).otherwise(lit(0.0)))
    // maf rides the pair join itself (carry) — a re-join on vid would
    // cross-match rows when vid is not unique in the input. The pinned
    // threshold keeps Catalyst from substituting r²'s definition down
    // through the stats projections (the pushed predicate inlines the
    // pair-stats kernel ~6× with no subexpression sharing — measured
    // 2 s → 17 s on this query).
    val pairs = pinnedFilter(
      LdWindow.r2(withMaf, window, carry = Seq("maf")),
      col("r2") >= r2Max)
    val victims = pairs.select(
      when(col("maf_a") < col("maf_b"), col("vid_a"))
        .when(col("maf_b") < col("maf_a"), col("vid_b"))
        .otherwise(greatest(col("vid_a"), col("vid_b"))).as("vid"))
      .distinct()
    val kept =
      if (keepInput) withMaf.drop("n_c", "a_c")
      else withMaf.select(col("vid"), col("chrom"), col("pos"), col("maf"))
    kept.join(victims, Seq("vid"), "left_anti")
  }

  /** f2 (doubleton) allele sharing — the 1000 Genomes-style recent-
    * ancestry signal (reference workload: seqApply scans counting rare-
    * allele co-carriage, /root/reference/R/Methods.R seqApply over
    * dosage): a biallelic variant whose total alt dosage over called
    * samples is exactly 2 is carried either by two HET samples (a
    * shared doubleton — row i < j) or by one HOM-ALT sample (a private
    * doubleton — row i == j). Because dosages are non-negative
    * integers, `a == 2` fully determines the carrier shape, and the
    * carrier pair is simply (min, max) of the indices with d > 0.
    * One pure projection + one groupBy on the pair key — at most
    * S·(S+1)/2 groups, no pair enumeration, linear in variants. */
  /** Balanced expression-tree reduction: a linear `reduce` chains
    * cohort-width unrolls into an O(n)-DEEP tree that overflows the
    * analyzer/codegen stack near ~1000 terms (found at 1092 samples,
    * q226); pairing halves the depth to O(log n). */
  private def balanced(xs: Seq[Column])(op: (Column, Column) => Column)
      : Column =
    if (xs.size == 1) xs.head
    else balanced(xs.grouped(2).map(g =>
      if (g.size == 2) op(g(0), g(1)) else g(0)).toSeq)(op)

  def f2Sharing(v: DataFrame, nSamples: Int): DataFrame = {
    // one fused-loop kernel per row (O(1) generated code at any cohort
    // width — the 3·S balanced-tree unroll blew the 64 KB generated-
    // method limit at 1092 samples and fell back to interpreted);
    // a2 == 2 guarantees a carrier exists, so min/max are never −1
    val _ = nSamples // cohort width now implicit in the array length
    v.withColumn("__f2", graft.functions.genetics.f2Carriers(col("d")))
      .withColumn("a2", element_at(col("__f2"), 1))
      .where(col("nall") === 2 && col("a2") === 2)
      .select(element_at(col("__f2"), 2).as("i"),
        element_at(col("__f2"), 3).as("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_f2"))
  }

  /** Garud H1/H2/H12 haplotype-homozygosity statistics per genomic
    * window (Garud 2015, the soft-sweep selection scan; serves the
    * reference's sliding-window seqUnitApply haplotype workloads,
    * /root/reference/R/Unit.R). Each haplotype slot's allele string
    * over the window (missing → 'm') is assembled ordered by
    * (pos, vid, allele); window haplotype counts c₁ ≥ c₂ ≥ … give
    *   H1  = Σc²/H²,  H2 = (Σc² − c₁²)/H²,
    *   H12 = ((c₁+c₂)² + Σ_{i≥3}c²)/H² = (Σc² + 2·c₁·c₂)/H²
    * with H = nSamples·ploidy — every numerator an exact BIGINT, one
    * division by the constant H² each.
    *
    * Shuffle budget: one explode ×H (slot fan-out), one groupBy on
    * (chrom, window, slot) building strings bounded by the window's
    * variant count, then two window-keyed aggregations over ≤H rows
    * per window — all linear in variants·H, nothing pairwise. */
  def garudH(v: DataFrame, window: Long, nSamples: Int,
      ploidy: Int = 2): DataFrame = {
    val h = nSamples * ploidy
    // LONG tokens, missing → -1: any injective per-slot encoding keys
    // haplotype identity identically, and the previous per-slot
    // `.cast("string")` allocated h UTF8Strings per variant row —
    // measured 2.3 s for the projection alone at sf0.1, the query's
    // dominant cost
    def alleleTok(slot: Int) = coalesce(
      element_at(element_at(col("geno"), slot / ploidy + 1),
        slot % ploidy + 1),
      lit(-1L))
    // ONE window-keyed shuffle (each variant row carries its h-wide
    // allele-token array), then the whole haplotype tabulation happens
    // INSIDE the window row: transpose via h per-slot joins over the
    // pos-sorted variant list, then O(h²) distinct-count folds — h is a
    // cohort constant, so the per-window work is fixed while the old
    // shape paid an explode ×h plus TWO more data-sized shuffles
    // (slot-keyed haplotype build, haplotype-keyed count).
    val perVar = v.select(col("chrom"), expr(s"pos div $window").as("win"),
      col("pos"), col("vid"),
      array((0 until h).map(s => alleleTok(s)): _*).as("as"))
    val wins = perVar.groupBy(col("chrom"), col("win"))
      .agg(array_sort(collect_list(struct(col("pos"), col("vid"),
        col("as")))).as("vs"))
    val hh = lit((h.toLong * h).toDouble)
    wins
      // ONE fused codegen kernel for the haplotype multiplicity
      // spectrum — the h string-join transforms + O(h²) distinct-count
      // fold it replaces were interpreted per window row (HOFs are
      // CodegenFallback); HapCountsExpr is differential-tested against
      // that original under both execution modes
      .withColumn("cs", org.apache.spark.sql.graft.Bridge.column(
        graft.functions.expressions.HapCountsExpr(
          org.apache.spark.sql.graft.Bridge.expression(col("vs")),
          org.apache.spark.sql.graft.Bridge.expression(lit(h)))))
      .withColumn("ssq", aggregate(col("cs"), lit(0L),
        (acc, c) => acc + c * c))
      .select(col("chrom"), col("win"),
        size(col("cs")).cast("long").as("n_hap"),
        element_at(col("cs"), 1).as("c1"),
        // a fixed-window sweep can leave ONE haplotype — strict
        // element_at throws under ANSI on the missing second entry
        coalesce(try_element_at(col("cs"), lit(2)), lit(0L)).as("c2"),
        col("ssq"))
      .withColumn("h1", col("ssq").cast("double") / hh)
      .withColumn("h2", (col("ssq") - col("c1") * col("c1"))
        .cast("double") / hh)
      .withColumn("h12", (col("ssq") + lit(2) * col("c1") * col("c2"))
        .cast("double") / hh)
  }

  /** Window-indexed LD clumping (the PLINK `--clump` post-GWAS shape,
    * window-local rather than globally greedy so the whole assignment
    * is ONE deterministic Catalyst plan): per (chrom, pos div window)
    * cell the index variant maximizes (minor-allele count, vid); every
    * other variant in the cell reports its exact pairwise-complete r²
    * with the index — (n·Sxy − Sx·Sy)² over the two variance terms,
    * all-BIGINT numerators, one division — and `clumped` if r² ≥
    * r2Min. The index table is one row per window cell (≪ variants);
    * the join is a plain equi-join on the cell key that AQE broadcasts
    * when small — nothing pinned, nothing pairwise beyond the 1×cell
    * fan. Self rows keep r2 NULL with is_index = true.
    *
    * `nSamples` <= 27: the deterministic index tie-break uses a base-5
    * dosage fingerprint (Σ d_s·5^s, max 5^n − 1) that stays exact in a
    * signed Long only through n = 27 (5^28 − 1 > 2^63); wider cohorts
    * would silently wrap and break tie-break determinism (never r²). For a
    * wider cohort swap the fingerprint for an md5 of the canonical
    * dosage serialization (the house determinism idiom — see
    * ehhHapVectorsPlan's `__gs` key). */
  def clumpLite(v: DataFrame, window: Long, r2Min: Double,
      nSamples: Int): DataFrame = {
    require(nSamples <= 27, s"clumpLite's base-5 dosage fingerprint is " +
      s"exact only for nSamples <= 27 (Long width); got $nSamples — " +
      "use an md5 fingerprint for wider cohorts")
    def d(c: String, s: Int) = element_at(col(c), s + 1)
    val (called, altSum) = calledAltSums(col("d"), nSamples)
    // vid need not be unique (the synthetic cube has duplicate vids by
    // design), so (mac, vid) can tie across genuinely different rows; a
    // base-5 dosage fingerprint (null → 4, injective for d ∈ {0,1,2})
    // makes the index choice deterministic on any engine — rows still
    // tied after fp share the identical dosage vector, so r² agrees.
    val fp = (0 until nSamples).map { s =>
      var p = 1L; (0 until s).foreach(_ => p *= 5)
      coalesce(d("d", s), lit(4L)) * lit(p)
    }.reduce(_ + _)
    // EVERY d-derived expression is computed in ONE select level: below
    // the first exchange, each additional Project level that references
    // an expensive alias re-evaluates its whole expression chain per row
    // (whole-stage codegen defers alias evaluation per consuming
    // operator — measured 3×+ the cube cost when win/n_c/a_c and fp/mac
    // sat in separate withColumn levels); within one level the runtime
    // subexpression elimination shares them. The exchange below the
    // window is then the single materialization point.
    val macE = least(altSum, lit(2) * called - altSum)
    val base = v.select(col("vid"), col("chrom"), col("pos"), col("d"))
      .select(col("vid"), col("chrom"), col("d"),
        expr(s"pos div $window").as("win"),
        macE.as("mac"),
        struct(col("vid"), col("d")).as("__pay"),
        struct(macE.as("mac"), col("vid"), fp.as("fp")).as("__key"))
    // index selection as a window max over the SAME (chrom, win)
    // partitioning instead of groupBy + self-join: one shuffle and one
    // scan of the (expression-generated) variants base instead of two —
    // the window groups are window-width-bounded, never data-sized
    val wWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chrom"), col("win"))
    // argmax by (mac, vid, fp) via max_by: the dosage ARRAY rides as
    // payload instead of inside the comparison key, so the window
    // aggregate stops copying+walking d on every struct comparison
    // (same reasoning as prsClumpThreshold's index pick; ties are
    // harmless because fp is injective in d)
    val joined = base
      .withColumn("ix", max_by(col("__pay"), col("__key")).over(wWin))
      .withColumn("index_vid", col("ix.vid"))
      .withColumn("d_ix", col("ix.d"))
      .drop("ix", "__pay", "__key")
    // pairwise-complete sufficient stats over (d, d_ix) in ONE fused
    // LdPairStats kernel call — O(1) plan nodes at any cohort width
    // (replaces six S-term unrolled sums)
    val st = graft.functions.vectorfns.ldPairStats(col("d"), col("d_ix"))
    joined
      .withColumn("__st", st)
      .withColumn("nn", element_at(col("__st"), 1))
      .withColumn("sx", element_at(col("__st"), 2))
      .withColumn("sy", element_at(col("__st"), 3))
      .withColumn("sxy", element_at(col("__st"), 4))
      .withColumn("sxx", element_at(col("__st"), 5))
      .withColumn("syy", element_at(col("__st"), 6))
      .drop("__st")
      .withColumn("num", col("nn") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", col("nn") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("nn") * col("syy") - col("sy") * col("sy"))
      .withColumn("r2",
        when(col("vid") =!= col("index_vid") &&
            col("dx") > 0 && col("dy") > 0,
          (col("num") * col("num")).cast("double")
            / (col("dx") * col("dy")).cast("double")))
      .withColumn("is_index", col("vid") === col("index_vid"))
      .withColumn("clumped", col("is_index") || col("r2") >= r2Min)
      .select(col("vid"), col("chrom"), col("win"), col("index_vid"),
        col("mac"), col("r2"), col("is_index"),
        coalesce(col("clumped"), lit(false)).as("clumped"))
  }

  /** Compound-heterozygote candidate windows (the rare-disease screen:
    * two hits in the same gene-sized window on one sample): per
    * (sample, chrom, pos div window) the het count, flagged when ≥ 2.
    * One explode ×S + one linear window-key aggregation. */
  def compoundHet(v: DataFrame, window: Long, nSamples: Int): DataFrame = {
    // the fan is pointwise in the dosage cell, so posexplode the stored
    // array DIRECTLY — O(1) plan nodes at any cohort width (the
    // explode-of-literal-struct-array this replaces built S struct
    // expressions per variant); _outer per the inferred-filter house
    // rule. nSamples pins the contract (array width by construction).
    require(nSamples > 0, s"nSamples must be positive; got $nSamples")
    v.select(col("chrom"), expr(s"pos div $window").as("win"),
        posexplode_outer(col("d")).as(Seq("p", "x")))
      .select(col("chrom"), col("win"), col("p").cast("long").as("i"),
        when(col("x") === 1L, 1L).otherwise(0L).as("h"))
      .groupBy(col("i"), col("chrom"), col("win"))
      .agg(sum(col("h")).as("n_het"))
      .filter(col("n_het") >= 1)
      .withColumn("compound_het", col("n_het") >= 2)
  }

  /** Clumping + thresholding polygenic score (the standard C+T PRS,
    * unit risk-allele weights so every sum is an exact BIGINT): per
    * (chrom, pos div window) cell the most-associated variant by the
    * Cochran–Armitage trend χ² (ties by (vid, dosage fingerprint) —
    * both engines compute the identical double from identical integer
    * moments, so the ranking replays); cells whose index χ² ≥ chi2Min
    * contribute one variant; each sample scores its risk-allele dosage
    * (alt when the case–control contrast u ≥ 0, ref otherwise) over
    * its called selected variants. Shuffles: one cell-key argmax
    * aggregation + one explode ×S with map-side partial aggregation to
    * S rows — linear, nothing pairwise. */
  def prsClumpThreshold(v: DataFrame, isCase: Seq[Boolean], window: Long,
      chi2Min: Double): DataFrame = {
    val nSamples = isCase.length
    def d(s: Int) = element_at(col("d"), s + 1)
    // ONE fused DosageWeightedStats kernel call with the 0/1 case
    // indicator as the weight vector replaces the five statically
    // unrolled per-ordinal sum trees: st = [n, Σx, Σx², Σw, Σwx, Σw²]
    // over CALLED samples, so n, sx, sxx, r (= Σw: called cases) and
    // sx_case (= Σwx) are five element_at reads of one tiny generated
    // loop. The unrolled trees compounded into a u/chi² expression of
    // ~150 element_at terms whose generated method ran beyond what the
    // JIT compiles (measured 3.3 s for the projection alone at sf0.1;
    // the kernel form is the board-wide DosageStatsExpr discipline).
    val st = graft.functions.genetics.dosageWeightedStats(col("d"),
      isCase.map(c => if (c) 1L else 0L))
    val n = element_at(st, 1)
    val sx = element_at(st, 2)
    val sxx = element_at(st, 3)
    val r = element_at(st, 4)
    val sxc = element_at(st, 5)
    // tie-break determinism rests on fp being INJECTIVE in d (the
    // row_number argmax below drops u/d from the comparison key) —
    // the same Long-width bound clumpLite guards
    require(nSamples <= 27, s"prsClumpThreshold's base-5 dosage " +
      s"fingerprint is exact only for nSamples <= 27 (Long width); " +
      s"got $nSamples — widen fp (e.g. the md5 idiom) past that")
    val fp = (0 until nSamples).map { s =>
      var p = 1L; (0 until s).foreach(_ => p *= 5)
      coalesce(d(s), lit(4L)) * lit(p)
    }.reduce(_ + _)
    // EVERY d-derived stat lands in ONE select level (the clumpLite
    // lesson: below the first exchange each additional Project level
    // referencing an expensive alias re-evaluates its whole chain per
    // row — the six withColumn levels this replaces each re-ran the
    // synthetic-cube + dosage construction); u/v_i/chi2 are written as
    // expressions over the SAME level's kernel reads, deduplicated by
    // the runtime subexpression elimination.
    val uE = n * sxc - r * sx
    val vE = r * (n - r) * (n * sxx - sx * sx)
    val chi2E = when(vE > 0,
      (n * uE * uE).cast("double") / vE.cast("double"))
    val base = v.select(col("vid"), col("chrom"), col("pos"), col("d"))
      .select(col("vid"), col("chrom"), col("d"),
        expr(s"pos div $window").as("win"),
        fp.as("fp"), uE.as("u"), chi2E.as("chi2"))
    // Index pick = argmax by (chi2, vid, fp) as a top-1 row_number —
    // the oracle's own formulation. This plans as WindowGroupLimit
    // (partial top-1 per map partition below the exchange, so ~#cells
    // rows cross the wire) with pure-primitive sort keys; the previous
    // max(struct(..., d)) planned as two SortAggregate+Sort pairs
    // (struct buffers are not HashAggregate-mutable) and copied+walked
    // the dosage array on every comparison. Ties are harmless: fp is
    // injective in d (base-5), so rows tied on (chi2, vid, fp) carry an
    // identical payload (u is a function of d alone).
    val wIx = Window.partitionBy(col("chrom"), col("win"))
      .orderBy(col("c").desc, col("vid").desc, col("fp").desc)
    val selected = base
      .withColumn("c", coalesce(col("chi2"), lit(-1.0)))
      .withColumn("__rn", row_number().over(wIx))
      .filter(col("__rn") === 1 && col("c") >= chi2Min)
      .select(col("c").as("chi2"), col("u"), col("d"))
    // pointwise fan → posexplode the stored dosage array directly
    // (O(1) plan nodes at any cohort width; see compoundHet)
    val risk = when(col("x").isNotNull,
      when(col("u") >= 0, col("x")).otherwise(lit(2L) - col("x")))
    selected
      .select(col("u"), posexplode_outer(col("d")).as(Seq("p", "x")))
      .select(col("p").cast("long").as("i"),
        when(risk.isNotNull, 1L).otherwise(0L).as("used"),
        coalesce(risk, lit(0L)).as("sc"))
      .groupBy(col("i"))
      .agg(sum(col("used")).as("n_used"), sum(col("sc")).as("score"))
  }

  /** Per-sample singleton load (the rare-variant / sequencing-error QC
    * every cohort runs before association): a sample's singletons are
    * the variants where it is the SOLE alt carrier — its dosage equals
    * the variant's whole alt mass (het singleton d = a = 1, hom
    * doubleton-in-one-sample d = a = 2). One explode ×S projection +
    * one S-group rollup; exact integers. */
  def singletonLoad(v: DataFrame, nSamples: Int): DataFrame = {
    // alt mass via the fused kernel, then a pointwise posexplode fan —
    // O(1) plan nodes at any cohort width (see compoundHet)
    val (_, a) = calledAltSums(col("d"), nSamples)
    v.withColumn("a0", a)
      .select(col("a0"), posexplode_outer(col("d")).as(Seq("p", "x")))
      .select(col("p").cast("long").as("i"),
        when(col("x") === col("a0") && col("x") === 1L, 1L)
          .otherwise(0L).as("sh"),
        when(col("x") === col("a0") && col("x") === 2L, 1L)
          .otherwise(0L).as("sm"))
      .groupBy(col("i"))
      .agg(sum(col("sh")).as("n_singleton_het"),
        sum(col("sm")).as("n_singleton_hom"))
      .withColumn("n_singleton",
        col("n_singleton_het") + col("n_singleton_hom"))
  }

  /** Differential missingness between two sample groups (PLINK
    * `--test-missing`, the batch-effect QC): per variant the 2×2 table
    * (missing/called × group) scores the Pearson χ² =
    * n·(ad − bc)² / (r₁·r₂·c₁·c₂) — all-BIGINT numerator, ONE exact
    * division, NULL when any margin is empty. Pure projection, zero
    * shuffles. */
  def diffMissing(v: DataFrame, g1: Seq[Int], g2: Seq[Int]): DataFrame = {
    def d(s: Int) = element_at(col("d"), s + 1)
    def miss(g: Seq[Int]) =
      g.map(s => when(d(s).isNull, 1L).otherwise(0L)).reduce(_ + _)
    val n = (g1.length + g2.length).toLong
    v.withColumn("m1", miss(g1)).withColumn("m2", miss(g2))
      .withColumn("c1", lit(g1.length.toLong) - col("m1"))
      .withColumn("c2", lit(g2.length.toLong) - col("m2"))
      .withColumn("num",
        lit(n) * (col("m1") * col("c2") - col("m2") * col("c1"))
          * (col("m1") * col("c2") - col("m2") * col("c1")))
      .withColumn("den",
        (col("m1") + col("c1")) * (col("m2") + col("c2"))
          * (col("m1") + col("m2")) * (col("c1") + col("c2")))
      .select(col("vid"), col("m1"), col("m2"),
        when(col("den") > 0,
          col("num").cast("double") / col("den").cast("double"))
          .as("chi2_miss"))
  }

  /** Allele-frequency concordance between two callsets over the same
    * variants (the panel / re-call QC): per chrom, exact BIGINT moment
    * sums of the two per-variant alt-allele counts and the Pearson
    * correlation assembled from them in ONE fixed-order double
    * expression (num / (√dx·√dy)) — so any engine replays it
    * bit-for-bit. One chrom-keyed aggregation. `v` carries chrom and
    * the two per-variant counts a1, a2. */
  def afConcordance(v: DataFrame): DataFrame =
    v.groupBy(col("chrom"))
      .agg(count(lit(1)).as("n_var"),
        sum(col("a1")).as("sx"), sum(col("a2")).as("sy"),
        sum(col("a1") * col("a2")).as("sxy"),
        sum(col("a1") * col("a1")).as("sxx"),
        sum(col("a2") * col("a2")).as("syy"))
      .withColumn("num",
        col("n_var") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", col("n_var") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("n_var") * col("syy") - col("sy") * col("sy"))
      .select(col("chrom"), col("n_var"), col("sx"), col("sy"),
        col("sxy"), col("sxx"), col("syy"),
        when(col("dx") > 0 && col("dy") > 0,
          col("num").cast("double")
            / (sqrt(col("dx").cast("double"))
              * sqrt(col("dy").cast("double")))).as("af_corr"))

  /** Duplicate-sample genotype concordance (the array-vs-sequencing /
    * re-called-twin QC the reference ecosystem runs via two seqOpen
    * handles and a paired seqApply): per sample, over variants where
    * BOTH callsets are fully called, count unordered-genotype matches.
    * Input carries the two cubes side by side (`geno`, `geno2`) from
    * ONE scan — no join, no vid matching (vids need not be unique).
    * One explode ×S + one S-group aggregation; one final division. */
  def dupConcordance(v: DataFrame, nSamples: Int,
      ploidy: Int = 2): DataFrame = {
    require(ploidy == 2, "dupConcordance is diploid-only")
    require(nSamples > 0, s"nSamples must be positive; got $nSamples")
    // pointwise in the per-sample genotype cell: posexplode callset A
    // and index callset B at the emitted position — O(1) plan nodes at
    // any cohort width (see compoundHet)
    def al(c: Column, p: Int) = element_at(c, p + 1)
    val ga = col("g1"); val gb = col("g2")
    val aCalled = al(ga, 0).isNotNull && al(ga, 1).isNotNull
    val bCalled = al(gb, 0).isNotNull && al(gb, 1).isNotNull
    val comp = aCalled && bCalled
    val matched = comp &&
      least(al(ga, 0), al(ga, 1)) === least(al(gb, 0), al(gb, 1)) &&
      greatest(al(ga, 0), al(ga, 1)) === greatest(al(gb, 0), al(gb, 1))
    v.select(col("geno2"), posexplode_outer(col("geno")).as(Seq("p", "g1")))
      .select(col("p").cast("long").as("i"), col("g1"),
        element_at(col("geno2"), col("p") + 1).as("g2"))
      .select(col("i"),
        when(comp, 1L).otherwise(0L).as("comp"),
        when(matched, 1L).otherwise(0L).as("m"))
      .groupBy(col("i"))
      .agg(sum(col("comp")).as("n_comp"), sum(col("m")).as("n_match"))
      .withColumn("concordance",
        when(col("n_comp") > 0,
          col("n_match").cast("double") / col("n_comp").cast("double")))
  }

  /** EXTENDED HAPLOTYPE HOMOZYGOSITY decay (Sabeti et al. 2002 — the
    * selection-scan statistic iHS/XP-EHH integrate; reference-adjacent:
    * rehh/selscan run it over phased SeqArray exports): at every core
    * variant (each `coreEvery`-th in per-chrom (pos, vid) order) and
    * each extension length L in `exts` (in VARIANTS, L ≤ `maxExt` <
    * `coreEvery`), group the 2·S haplotypes by their allele vector
    * over ranks [core, core+L] and report
    * EHH = Σ_g n_g·(n_g−1) / (n·(n−1)) as an exact integer
    * numerator/denominator pair plus one final division. Missing
    * alleles map to the sentinel −1 (a distinct symbol, the
    * deterministic convention both engines replay).
    *
    * Scale shape: per-chrom variant ranks come from the TWO-LEVEL
    * numbering discipline (bucket row_number + broadcast bucket
    * offsets — never a chrom-sized single-partition window); because
    * `coreEvery` > `maxExt`, every variant belongs to AT MOST ONE
    * core's window, so the cell fan-out is exactly 2·S rows per
    * variant (no pair set, no overlap blow-up); one (chrom, core,
    * sample, hap) aggregate and one (chrom, core, L, hap-string)
    * aggregate — both keyed, both linear. Shared by [[ehhDecay]] and
    * [[ihsLite]]; this stage returns the per-(core, sample, hap)
    * allele VECTORS. */
  private def ehhHapVectors(variants: DataFrame, nSamples: Int,
      coreEvery: Long, maxExt: Int, exts: Seq[Int]): DataFrame =
    // a SharedStages stage: the EHH-decay and iHS consumers read the
    // SAME per-(core, sample, hap) vector stage, the expensive part of
    // both
    SharedStages.ehh.get((variants.queryExecution.analyzed.canonicalized,
      nSamples, coreEvery, maxExt)) {
      ehhHapVectorsPlan(variants, nSamples, coreEvery, maxExt, exts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** (hits, misses) of the shared EHH hap-vector stage. */
  def ehhSharedTelemetry: (Long, Long) = SharedStages.ehh.telemetry

  private def ehhHapVectorsPlan(variants: DataFrame, nSamples: Int,
      coreEvery: Long, maxExt: Int, exts: Seq[Int]): DataFrame = {
    require(coreEvery > maxExt && exts.nonEmpty &&
      exts.forall(l => l >= 1 && l <= maxExt),
      s"need coreEvery > maxExt >= every ext; got $coreEvery, $maxExt, " +
        exts.mkString(","))
    // the iHH trapezoid integrators pair exts with their predecessors
    // (exts.zip(0 +: exts.init)) — an unsorted or duplicated grid would
    // silently integrate negative/zero-width panels
    require(exts == exts.sorted.distinct,
      s"exts must be strictly increasing; got ${exts.mkString(",")}")
    import org.apache.spark.sql.expressions.Window
    // per-chrom rank, two-level: in-bucket row_number + per-(chrom,
    // bucket) offsets prefix-summed over the summary table only.
    // (pos, vid) is NOT tie-free in synthetic ids — the third key is a
    // canonical genotype serialization, which makes the total order
    // engine-replayable; rows still tied under it are bit-identical
    // variants, and swapping those changes no haplotype vector
    val gstr = array_join(transform(col("geno"), sa =>
      array_join(transform(sa, a =>
        coalesce(a.cast("string"), lit("x"))), "|")), ";")
    val keyed = variants
      .withColumn("__gs", gstr)
      .withColumn("__eb", expr("CAST(pos AS BIGINT) div 4096L"))
    val wIn = Window.partitionBy(col("chrom"), col("__eb"))
      .orderBy(col("pos"), col("vid"), col("__gs"))
    val wB = Window.partitionBy(col("chrom")).orderBy(col("__eb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = keyed.groupBy(col("chrom"), col("__eb"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__off", sum(col("__bn")).over(wB) - col("__bn"))
      .select(col("chrom"), col("__eb"), col("__off"))
    val ranked = keyed
      .withColumn("__r", row_number().over(wIn).cast("long"))
      .join(broadcast(offs), Seq("chrom", "__eb"))
      .withColumn("r", col("__off") + col("__r"))
      .select(col("chrom"), col("pos"), col("r"), col("geno"))
    // 2·S haplotype cells per variant (a variant reaches at most one
    // core because coreEvery > maxExt): posexplode the stored geno
    // array for the sample axis, then a TWO-element literal fan for
    // the ploidy axis — O(1) plan nodes at any cohort width (the
    // 2·S-struct literal array this replaces was the round-9 fan
    // class on the haplotype axis)
    require(nSamples > 0, s"nSamples must be positive; got $nSamples")
    val hapPair = array(
      struct(lit(1L).as("h"),
        coalesce(element_at(col("g"), 1), lit(-1L)).as("a")),
      struct(lit(2L).as("h"),
        coalesce(element_at(col("g"), 2), lit(-1L)).as("a")))
    val cells = ranked
      .withColumn("c",
        expr(s"((r - 1) div ${coreEvery}L) * ${coreEvery}L + 1"))
      .withColumn("d", col("r") - col("c"))
      .filter(col("d") <= maxExt)
      .select(col("chrom"), col("c"), col("d"),
        when(col("d") === 0, col("pos")).as("cp"),
        posexplode_outer(col("geno")).as(Seq("sp", "g")))
      .select(col("chrom"), col("c"), col("d"), col("cp"),
        col("sp").cast("long").as("s"), explode(hapPair).as("sh"))
      .select(col("chrom"), col("c"), col("d"), col("cp"), col("s"),
        col("sh.h").as("h"), col("sh.a").as("a"))
    cells.groupBy(col("chrom"), col("c"), col("s"), col("h"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("a")))),
          p => p.getField("a")).as("av"),
        max(col("cp")).as("core_pos"))
  }

  /** Exploded (core, ext, hap-string) rows from the hap-vector stage. */
  private def ehhByExt(havs: DataFrame, exts: Seq[Int]): DataFrame = {
    val extArr = array(exts.map(l => lit(l)): _*)
    havs
      .select((havs.columns.map(col) :+ explode(extArr).as("ext")): _*)
      // a truncated window (chrom ends before c+L) truncates EVERY
      // hap of that (core, L) identically, so the whole cell drops
      .filter(size(col("av")) >= col("ext") + 1)
      .withColumn("hap", array_join(transform(
        slice(col("av"), lit(1), col("ext") + 1),
        a => a.cast("string")), ","))
  }

  def ehhDecay(variants: DataFrame, nSamples: Int, coreEvery: Long,
      maxExt: Int, exts: Seq[Int]): DataFrame = {
    val havs = ehhHapVectors(variants, nSamples, coreEvery, maxExt, exts)
    val grpCounts = ehhByExt(havs, exts)
      .groupBy(col("chrom"), col("c"), col("ext"), col("hap"))
      .agg(count(lit(1)).as("ng"), max(col("core_pos")).as("core_pos"))
    grpCounts.groupBy(col("chrom"), col("c"), col("ext"))
      .agg(sum(col("ng") * (col("ng") - 1L)).as("ehh_num"),
        sum(col("ng")).as("n_haps"),
        max(col("core_pos")).as("core_pos"))
      .withColumn("ehh_den", col("n_haps") * (col("n_haps") - 1L))
      .withColumn("ehh", when(col("ehh_den") > 0,
        col("ehh_num").cast("double") / col("ehh_den").cast("double")))
      .select(col("chrom"), col("c").as("core_rank"), col("core_pos"),
        col("ext").cast("long").as("ext"), col("n_haps"),
        col("ehh_num"), col("ehh_den"), col("ehh"))
  }

  /** Unstandardized iHS (Voight et al. 2006 before the genome-wide
    * frequency-bin normalization): per core, EHH computed WITHIN the
    * ancestral-core-allele haplotype class (allele 0) and the
    * derived-carrier class (any non-0 allele), each integrated over
    * the extension grid `exts` (in variants) by the trapezoid rule
    * from EHH(0) = 1 — a FIXED-ARITY expression, so the double
    * arithmetic is order-pinned and engine-replayable; iHS =
    * ln(iHH_der / iHH_anc), null when a class is degenerate (< 2
    * haps) or a core's window is truncated. Haplotypes with a MISSING
    * core allele are excluded (the selscan convention). Same scale
    * shape as [[ehhDecay]]. */
  def ihsLite(variants: DataFrame, nSamples: Int, coreEvery: Long,
      maxExt: Int, exts: Seq[Int]): DataFrame = {
    val havs = ehhHapVectors(variants, nSamples, coreEvery, maxExt, exts)
      .filter(element_at(col("av"), 1) =!= -1L)
      .withColumn("der", element_at(col("av"), 1) =!= 0L)
    val cnt = ehhByExt(havs, exts)
      .groupBy(col("chrom"), col("c"), col("der"), col("ext"),
        col("hap"))
      .agg(count(lit(1)).as("ng"), max(col("core_pos")).as("core_pos"))
    val ehh = cnt.groupBy(col("chrom"), col("c"), col("der"), col("ext"))
      .agg(sum(col("ng") * (col("ng") - 1L)).as("num"),
        sum(col("ng")).as("nh"),
        max(col("core_pos")).as("core_pos"))
      .withColumn("e", when(col("nh") >= 2L,
        col("num").cast("double")
          / (col("nh") * (col("nh") - 1L)).cast("double")))
    // pivot the fixed extension grid into columns; a core missing ANY
    // grid point (truncated window / degenerate class) integrates null
    def eAt(l: Int) = max(when(col("ext") === l, col("e")))
    val aggCols = Seq(max(col("nh")).as("n_haps")) ++
      exts.map(l => eAt(l).as(s"e$l"))
    val perClass = ehh.groupBy(col("chrom"), col("c"), col("der"))
      .agg(max(col("core_pos")).as("core_pos"), aggCols: _*)
    // trapezoid from (0, 1.0) over the grid — fixed expression order,
    // divisions and doublings by powers of two are exact in IEEE 754
    val ihh = exts.zip(0 +: exts.init).map { case (x1, x0) =>
      val e0 = if (x0 == 0) lit(1.0) else col(s"e$x0")
      (e0 + col(s"e$x1")) / 2.0 * (x1 - x0).toDouble
    }.reduce(_ + _)
    val withIhh = perClass.withColumn("ihh", ihh)
    def side(d: Boolean, c: String, as: String) =
      max(when(col("der") === d, col(c))).as(as)
    withIhh.groupBy(col("chrom"), col("c"))
      .agg(max(col("core_pos")).as("core_pos"),
        side(false, "ihh", "ihh_anc"), side(true, "ihh", "ihh_der"),
        side(false, "n_haps", "n_anc"), side(true, "n_haps", "n_der"))
      // the ratio, NOT ln(ratio): natural log is not correctly-rounded
      // in IEEE 754, so JVM Math.log and libm ln disagree in the last
      // ulp and can never hash-match across engines — iHS = ln of this
      // column, a monotone transform the caller applies client-side
      .withColumn("ihs_ratio",
        when(col("ihh_anc") > 0 && col("ihh_der") > 0,
          col("ihh_der") / col("ihh_anc")))
      .select(col("chrom"), col("c").as("core_rank"), col("core_pos"),
        coalesce(col("n_anc"), lit(0L)).as("n_anc"),
        coalesce(col("n_der"), lit(0L)).as("n_der"),
        col("ihh_anc"), col("ihh_der"), col("ihs_ratio"))
  }

  /** Unstandardized XP-EHH (Sabeti et al. 2007 cross-population EHH):
    * the same per-core trapezoid-integrated iHH as [[ihsLite]], but
    * the two haplotype classes are POPULATIONS (sample index in
    * `pop1` vs the rest) instead of core-allele carriers — the
    * between-cohort selection contrast. Emits iHH per population and
    * the ratio (XP-EHH = ln(ratio), the caller's monotone transform).
    * Rides the same shared hap-vector stage; no missing-core
    * exclusion (population membership is never missing). */
  def xpEhh(variants: DataFrame, nSamples: Int, pop1: Set[Int],
      coreEvery: Long, maxExt: Int, exts: Seq[Int]): DataFrame = {
    require(pop1.nonEmpty && pop1.size < nSamples,
      s"pop1 must be a proper non-empty subset of 0..${nSamples - 1}")
    val havs = ehhHapVectors(variants, nSamples, coreEvery, maxExt, exts)
      .withColumn("p1", col("s").isInCollection(pop1.map(_.toLong)))
    val cnt = ehhByExt(havs, exts)
      .groupBy(col("chrom"), col("c"), col("p1"), col("ext"),
        col("hap"))
      .agg(count(lit(1)).as("ng"), max(col("core_pos")).as("core_pos"))
    val ehh = cnt.groupBy(col("chrom"), col("c"), col("p1"), col("ext"))
      .agg(sum(col("ng") * (col("ng") - 1L)).as("num"),
        sum(col("ng")).as("nh"),
        max(col("core_pos")).as("core_pos"))
      .withColumn("e", when(col("nh") >= 2L,
        col("num").cast("double")
          / (col("nh") * (col("nh") - 1L)).cast("double")))
    def eAt(l: Int) = max(when(col("ext") === l, col("e")))
    val aggCols = Seq(max(col("nh")).as("n_haps")) ++
      exts.map(l => eAt(l).as(s"e$l"))
    val perClass = ehh.groupBy(col("chrom"), col("c"), col("p1"))
      .agg(max(col("core_pos")).as("core_pos"), aggCols: _*)
    val ihh = exts.zip(0 +: exts.init).map { case (x1, x0) =>
      val e0 = if (x0 == 0) lit(1.0) else col(s"e$x0")
      (e0 + col(s"e$x1")) / 2.0 * (x1 - x0).toDouble
    }.reduce(_ + _)
    val withIhh = perClass.withColumn("ihh", ihh)
    def side(d: Boolean, c: String, as: String) =
      max(when(col("p1") === d, col(c))).as(as)
    withIhh.groupBy(col("chrom"), col("c"))
      .agg(max(col("core_pos")).as("core_pos"),
        side(true, "ihh", "ihh_p1"), side(false, "ihh", "ihh_p2"),
        side(true, "n_haps", "n_p1"), side(false, "n_haps", "n_p2"))
      .withColumn("xpehh_ratio",
        when(col("ihh_p1") > 0 && col("ihh_p2") > 0,
          col("ihh_p1") / col("ihh_p2")))
      .select(col("chrom"), col("c").as("core_rank"), col("core_pos"),
        coalesce(col("n_p1"), lit(0L)).as("n_p1"),
        coalesce(col("n_p2"), lit(0L)).as("n_p2"),
        col("ihh_p1"), col("ihh_p2"), col("xpehh_ratio"))
  }
}
