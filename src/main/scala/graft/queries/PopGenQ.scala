package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.genetics._
import graft.genomics.SynthGeno
import graft.genomics.SynthGeno.withCte
import graft.operators.PopGen

/** Population-genetics statistics queries (the SNPRelate/GCTA/PLINK
  * workloads a SeqArray handle feeds — reference link layer
  * /root/reference/src/LinkSNPRelate.cpp): Hudson Fst, the VanRaden GRM,
  * per-sample inbreeding F, the Cochran–Armitage trend test, polygenic
  * risk scores, and MAF-ranked LD pruning — all over the deterministic
  * [[SynthGeno]] cube with a DuckDB oracle that rebuilds the identical
  * integer aggregates (see [[PopGen]] for the exactness discipline:
  * BIGINT sums on a constant common denominator, one final division).
  */
object PopGenQ extends QueryModule {

  /** DuckDB twin of [[graft.functions.genetics.dosageAlt]]. */
  private val dSql =
    """list_transform(geno, sa ->
         CASE WHEN len(list_filter(sa, x -> x IS NULL)) > 0 THEN NULL
              ELSE len(list_filter(sa, x -> x <> 0)) END)"""

  private val N = SynthGeno.nSamples

  // --- Hudson Fst between sample halves (Bhatia 2013 eq. 10), exact
  // integer numerator/denominator per variant, zero shuffles. ------------
  private val q120 = Q("q120_fst",
    (s, dir) => PopGen.hudsonFst(SynthGeno.variants(s, dir),
      0 until N / 2, N / 2 until N),
    Some(withCte(s"""SELECT vid, n1, n2, a1, a2,
      CASE WHEN n1 >= 2 AND n2 >= 2
             AND (a1*(n2-a2) + a2*(n1-a1))*n1*n2*(n1-1)*(n2-1) <> 0
           THEN CAST((a1*n2 - a2*n1)*(a1*n2 - a2*n1)*(n1-1)*(n2-1)
                     - a1*(n1-a1)*n2*n2*(n2-1)
                     - a2*(n2-a2)*n1*n1*(n1-1) AS DOUBLE)
                / CAST((a1*(n2-a2) + a2*(n1-a1))
                       *n1*n2*(n1-1)*(n2-1) AS DOUBLE)
      END AS fst
      FROM (SELECT vid,
          len(list_filter(f1, a -> a IS NOT NULL)) AS n1,
          len(list_filter(f2, a -> a IS NOT NULL)) AS n2,
          len(list_filter(f1, a -> a IS NOT NULL AND a <> 0)) AS a1,
          len(list_filter(f2, a -> a IS NOT NULL AND a <> 0)) AS a2
        FROM (SELECT vid, flatten(geno[1:${N / 2}]) AS f1,
            flatten(geno[${N / 2 + 1}:$N]) AS f2
          FROM variants))""")))

  // --- VanRaden (2008, method 1) GRM on pairwise-complete sites; the
  // (variant, pair) explode emits counter rows that map-side combine to
  // 36 rows per partition before the one exchange. -----------------------
  private val q121 = Q("q121_grm",
    (s, dir) => PopGen.grm(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N),
    Some(withCte(s"""SELECT i, j, n_sites, g_num, g_den,
      CASE WHEN g_den > 0
           THEN CAST(g_num AS DOUBLE) / CAST(g_den AS DOUBLE) END AS grm
      FROM (SELECT i, j, COUNT(*) AS n_sites,
          CAST(SUM((n*di - a)*(n*dj - a)
                   * (${PopGen.grmScale(N)} // (n*n))) AS BIGINT) AS g_num,
          CAST(SUM(a*(2*n - a)
                   * (${PopGen.grmScale(N)} // (2*n*n))) AS BIGINT) AS g_den
        FROM (SELECT p.i, p.j, st.n, st.a,
            d[p.i + 1] AS di, d[p.j + 1] AS dj
          FROM (SELECT d,
              len(list_filter(d, x -> x IS NOT NULL)) AS n,
              CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
                AS BIGINT) AS a
            FROM (SELECT $dSql AS d FROM variants)) st,
            (SELECT ii.i, jj.j
             FROM (SELECT unnest(range(0, $N)) AS i) ii,
                  (SELECT unnest(range(0, $N)) AS j) jj
             WHERE jj.j >= ii.i) p
          WHERE a > 0 AND a < 2*n
            AND d[p.i + 1] IS NOT NULL AND d[p.j + 1] IS NOT NULL)
        GROUP BY i, j)""")))

  // --- per-sample inbreeding F (PLINK --het shape): O_het vs the
  // small-sample-corrected E_het, both exact BIGINT sums. ---------------
  private val q122 = Q("q122_inbreeding",
    (s, dir) => PopGen.inbreedingF(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N),
    Some(withCte(s"""SELECT s, n_sites, o_het, e_scaled,
      CASE WHEN e_scaled > 0
           THEN CAST(e_scaled - o_het * ${PopGen.hetScale(N)} AS DOUBLE)
                / CAST(e_scaled AS DOUBLE) END AS f
      FROM (SELECT ss.s, COUNT(*) AS n_sites,
          CAST(SUM(CASE WHEN d[ss.s + 1] = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS o_het,
          CAST(SUM(a*(2*n - a)
                   * (${PopGen.hetScale(N)} // (n*(2*n - 1)))) AS BIGINT)
            AS e_scaled
        FROM (SELECT d,
            len(list_filter(d, x -> x IS NOT NULL)) AS n,
            CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
              AS BIGINT) AS a
          FROM (SELECT $dSql AS d FROM variants)) st,
          (SELECT unnest(range(0, $N)) AS s) ss
        WHERE n > 0 AND d[ss.s + 1] IS NOT NULL
        GROUP BY ss.s)""")))

  // --- Cochran–Armitage trend test, phenotype = sample-ordinal parity
  // (deterministic case/control split); pure projection. -----------------
  private val phenoCase: Seq[Boolean] = (0 until N).map(_ % 2 == 1)
  private val q123 = Q("q123_assoc_trend",
    (s, dir) => PopGen.trendTest(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      phenoCase),
    Some(withCte {
      val caseIdx = phenoCase.zipWithIndex.filter(_._1).map(_._2)
      val rSql = caseIdx
        .map(i => s"(CASE WHEN d[${i + 1}] IS NOT NULL THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val sxcSql = caseIdx.map(i => s"COALESCE(d[${i + 1}], 0)")
        .mkString(" + ")
      s"""SELECT vid, n, r, sx, sx_case,
      CASE WHEN r*(n - r)*(n*sxx - sx*sx) > 0
           THEN CAST(n*(n*sx_case - r*sx)*(n*sx_case - r*sx) AS DOUBLE)
                / CAST(r*(n - r)*(n*sxx - sx*sx) AS DOUBLE)
      END AS chi2
      FROM (SELECT vid,
          CAST(len(list_filter(d, x -> x IS NOT NULL)) AS BIGINT) AS n,
          CAST($rSql AS BIGINT) AS r,
          CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
            AS BIGINT) AS sx,
          CAST($sxcSql AS BIGINT) AS sx_case,
          CAST(COALESCE(list_sum(list_transform(
              list_filter(d, x -> x IS NOT NULL), x -> x*x)), 0)
            AS BIGINT) AS sxx
        FROM (SELECT vid, $dSql AS d FROM variants))"""
    }))

  // --- polygenic risk score: Σ wᵢ·xᵢₛ with integer milli-weights derived
  // from vid (Knuth multiplicative hash), one exact division by the
  // weight scale at the end. --------------------------------------------
  private val q124 = Q("q124_prs",
    (s, dir) => PopGen.prsScore(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d"))
        .withColumn("w", (col("vid") * 2654435761L) % 1001 - 500))
      .withColumn("score",
        col("score_num").cast("double") / lit(1000.0)),
    Some(withCte(s"""SELECT ss.s, COUNT(*) AS n_used,
        CAST(SUM(w * d[ss.s + 1]) AS BIGINT) AS score_num,
        CAST(CAST(SUM(w * d[ss.s + 1]) AS BIGINT) AS DOUBLE) / 1000.0
          AS score
      FROM (SELECT (vid * 2654435761) % 1001 - 500 AS w, $dSql AS d
          FROM variants) st,
        (SELECT unnest(range(0, $N)) AS s) ss
      WHERE d[ss.s + 1] IS NOT NULL
      GROUP BY ss.s""")))

  // --- MAF-ranked LD pruning over the banded window pairs (order-free
  // bcftools +prune rule: the lower-MAF member of every in-window pair
  // with r² ≥ 0.5 is pruned, tie → larger vid). Same vid subsample and
  // window as q108 so the pair set is the proven one. --------------------
  private val LD_WINDOW = 200
  private val LD_MOD = 11
  private val R2_MAX = 0.5
  private val q126 = Q("q126_ld_prune",
    (s, dir) => PopGen.ldPrune(
      SynthGeno.variants(s, dir)
        .filter(col("vid") % LD_MOD === 0)
        .select(col("vid"), col("chrom"), col("pos"),
          dosageAlt(col("geno")).as("d")),
      LD_WINDOW, R2_MAX, N),
    Some(withCte(s""", mf AS (SELECT vid, chrom, pos, d,
        CASE WHEN n > 0
             THEN CAST(least(a, 2*n - a) AS DOUBLE)
                  / CAST(2*n AS DOUBLE) ELSE 0.0 END AS maf
      FROM (SELECT vid, chrom, pos, d,
          len(list_filter(d, x -> x IS NOT NULL)) AS n,
          CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
            AS BIGINT) AS a
        FROM (SELECT vid, chrom, pos, $dSql AS d FROM variants
          WHERE vid % $LD_MOD = 0))),
    pr AS (SELECT a.vid AS vid_a, b.vid AS vid_b,
        a.maf AS maf_a, b.maf AS maf_b,
        list_filter(list_transform(range(1, ${N + 1}), i ->
            CASE WHEN a.d[i] IS NOT NULL AND b.d[i] IS NOT NULL
                 THEN {'x': a.d[i], 'y': b.d[i]} END),
          p -> p IS NOT NULL) AS obs
      FROM mf a JOIN mf b ON a.chrom = b.chrom
        AND (a.pos < b.pos OR (a.pos = b.pos AND a.vid < b.vid))
        AND b.pos - a.pos <= $LD_WINDOW),
    st AS (SELECT vid_a, vid_b, maf_a, maf_b,
        CAST(len(obs) AS BIGINT) AS n,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x)), 0)
          AS BIGINT) AS sx,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.y)), 0)
          AS BIGINT) AS sy,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x * p.y)), 0)
          AS BIGINT) AS sxy,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x * p.x)), 0)
          AS BIGINT) AS sxx,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.y * p.y)), 0)
          AS BIGINT) AS syy
      FROM pr),
    r2s AS (SELECT vid_a, vid_b, maf_a, maf_b,
        CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
             THEN (CAST(n*sxy - sx*sy AS DOUBLE)
                   * CAST(n*sxy - sx*sy AS DOUBLE))
                  / (CAST(n*sxx - sx*sx AS DOUBLE)
                     * CAST(n*syy - sy*sy AS DOUBLE)) END AS r2
      FROM st),
    vict AS (SELECT DISTINCT
        CASE WHEN maf_a < maf_b THEN vid_a
             WHEN maf_b < maf_a THEN vid_b
             ELSE greatest(vid_a, vid_b) END AS vid
      FROM r2s WHERE r2 >= $R2_MAX)
    SELECT vid, chrom, pos, maf FROM mf
    WHERE vid NOT IN (SELECT vid FROM vict)""")))

  // --- per-variant linear-regression association (GWAS --linear) on a
  // deterministic integer phenotype; pure projection, exact integer
  // sums, two guarded divisions. ----------------------------------------
  private val phenoY: Seq[Long] = (0 until N).map(s => (s * 7L) % 5)
  private val q129 = Q("q129_linreg_gwas",
    (s, dir) => PopGen.linRegScore(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      phenoY),
    Some(withCte {
      def term(f: Int => String) =
        (0 until N).map(f).mkString("(", " + ", ")")
      val n = term(s => s"CASE WHEN d[${s + 1}] IS NOT NULL THEN 1 ELSE 0 END")
      val sx = term(s => s"COALESCE(d[${s + 1}], 0)")
      val sy = term(s =>
        s"CASE WHEN d[${s + 1}] IS NOT NULL THEN ${phenoY(s)} ELSE 0 END")
      val sxy = term(s => s"COALESCE(d[${s + 1}] * ${phenoY(s)}, 0)")
      val sxx = term(s => s"COALESCE(d[${s + 1}] * d[${s + 1}], 0)")
      val syy = term(s =>
        s"CASE WHEN d[${s + 1}] IS NOT NULL THEN ${phenoY(s) * phenoY(s)} ELSE 0 END")
      s"""SELECT vid, n,
        CASE WHEN vx > 0 THEN CAST(num AS DOUBLE) / CAST(vx AS DOUBLE) END
          AS beta,
        CASE WHEN vx > 0 AND vy > 0
             THEN (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                  / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) END AS r2
      FROM (SELECT vid, n, n * sxy - sx * sy AS num,
          n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
        FROM (SELECT vid, CAST($n AS BIGINT) AS n, CAST($sx AS BIGINT) AS sx,
            CAST($sy AS BIGINT) AS sy, CAST($sxy AS BIGINT) AS sxy,
            CAST($sxx AS BIGINT) AS sxx, CAST($syy AS BIGINT) AS syy
          FROM (SELECT vid, $dSql AS d FROM variants)))"""
    }))

  // --- windowed LD-partner profile (integer-exact LD-score cousin):
  // partner counts per variant, total and above r² thresholds; same
  // subsample and window as q108/q126 so the pair set is the proven
  // one. -----------------------------------------------------------------
  private val q130 = Q("q130_ld_partners",
    (s, dir) => PopGen.ldPartnerProfile(
      SynthGeno.variants(s, dir)
        .filter(col("vid") % LD_MOD === 0)
        .select(col("vid"), col("chrom"), col("pos"),
          dosageAlt(col("geno")).as("d")),
      LD_WINDOW),
    Some(withCte(s""", dz AS (SELECT vid, chrom, pos, $dSql AS d
      FROM variants WHERE vid % $LD_MOD = 0),
    pr AS (SELECT a.vid AS vid_a, b.vid AS vid_b,
        list_filter(list_transform(range(1, ${N + 1}), i ->
            CASE WHEN a.d[i] IS NOT NULL AND b.d[i] IS NOT NULL
                 THEN {'x': a.d[i], 'y': b.d[i]} END),
          p -> p IS NOT NULL) AS obs
      FROM dz a JOIN dz b ON a.chrom = b.chrom
        AND (a.pos < b.pos OR (a.pos = b.pos AND a.vid < b.vid))
        AND b.pos - a.pos <= $LD_WINDOW),
    st AS (SELECT vid_a, vid_b,
        CAST(len(obs) AS BIGINT) AS n,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x)), 0)
          AS BIGINT) AS sx,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.y)), 0)
          AS BIGINT) AS sy,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x * p.y)), 0)
          AS BIGINT) AS sxy,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x * p.x)), 0)
          AS BIGINT) AS sxx,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.y * p.y)), 0)
          AS BIGINT) AS syy
      FROM pr),
    r2s AS (SELECT vid_a, vid_b,
        CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
             THEN (CAST(n*sxy - sx*sy AS DOUBLE)
                   * CAST(n*sxy - sx*sy AS DOUBLE))
                  / (CAST(n*sxx - sx*sx AS DOUBLE)
                     * CAST(n*syy - sy*sy AS DOUBLE)) END AS r2
      FROM st),
    ends AS (SELECT vid_a AS vid, r2 FROM r2s
      UNION ALL SELECT vid_b AS vid, r2 FROM r2s)
    SELECT vid, COUNT(*) AS n_partners,
      CAST(SUM(CASE WHEN r2 >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge02,
      CAST(SUM(CASE WHEN r2 >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge05,
      CAST(SUM(CASE WHEN r2 >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge08
    FROM ends GROUP BY vid""")))

  // --- Cochran–Mantel–Haenszel stratified association (PLINK --mh):
  // strata = sample halves, phenotype = ordinal parity; χ² as ONE exact
  // division via lcm scaling (see PopGen.cmhTest). ----------------------
  private val cmhStrata: Seq[Seq[Int]] =
    Seq(0 until N / 2, N / 2 until N)
  private val q132 = Q("q132_cmh_assoc",
    (s, dir) => PopGen.cmhTest(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      phenoCase, cmhStrata),
    Some(withCte {
      def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
      val uS = (1 to cmhStrata.map(_.length).max)
        .map(_.toLong).reduce((a, b) => a / gcd(a, b) * b)
      val vS = uS * uS
      def cnt(ss: Seq[Int], f: Int => String) =
        ss.map(f).mkString("(", " + ", ")")
      val strataCols = cmhStrata.zipWithIndex.map { case (ss, z) =>
        val n1 = cnt(ss, i =>
          s"CASE WHEN d[${i + 1}] IS NOT NULL AND ${phenoCase(i)} THEN 1 ELSE 0 END")
        val n2 = cnt(ss, i =>
          s"CASE WHEN d[${i + 1}] IS NOT NULL AND NOT ${phenoCase(i)} THEN 1 ELSE 0 END")
        val m1 = cnt(ss, i =>
          s"CASE WHEN d[${i + 1}] > 0 THEN 1 ELSE 0 END")
        val m2 = cnt(ss, i =>
          s"CASE WHEN d[${i + 1}] = 0 THEN 1 ELSE 0 END")
        val a = cnt(ss, i =>
          s"CASE WHEN d[${i + 1}] > 0 AND ${phenoCase(i)} THEN 1 ELSE 0 END")
        s"""CAST($n1 AS BIGINT) AS n1_$z, CAST($n2 AS BIGINT) AS n2_$z,
           CAST($m1 AS BIGINT) AS m1_$z, CAST($m2 AS BIGINT) AS m2_$z,
           CAST($a AS BIGINT) AS a_$z"""
      }.mkString(",\n")
      val uT = cmhStrata.indices.map(z =>
        s"""CASE WHEN n1_$z + n2_$z > 0
            THEN a_$z * $uS - n1_$z * m1_$z * ($uS // (n1_$z + n2_$z))
            ELSE 0 END""").mkString("(", " + ", ")")
      val vT = cmhStrata.indices.map(z =>
        s"""CASE WHEN n1_$z + n2_$z > 1
            THEN n1_$z * n2_$z * m1_$z * m2_$z
                 * ($vS // ((n1_$z + n2_$z) * (n1_$z + n2_$z)
                            * (n1_$z + n2_$z - 1)))
            ELSE 0 END""").mkString("(", " + ", ")")
      s"""SELECT vid, u_scaled, v_scaled,
        CASE WHEN v_scaled > 0
             THEN CAST(u_scaled * u_scaled AS DOUBLE)
                  / CAST(v_scaled AS DOUBLE) END AS chi2
      FROM (SELECT vid, CAST($uT AS BIGINT) AS u_scaled,
          CAST($vT AS BIGINT) AS v_scaled
        FROM (SELECT vid, $strataCols
          FROM (SELECT vid, $dSql AS d FROM variants)))"""
    }))

  // --- MaCH imputation-quality r̂² (post-imputation QC filter): the
  // observed/expected dosage-variance ratio reduced to one exact
  // integer division. -------------------------------------------------
  private val q133 = Q("q133_impute_rhat2",
    (s, dir) => PopGen.imputeRhat2(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N),
    Some(withCte(s"""SELECT vid, n, a,
      CASE WHEN a > 0 AND a < 2*n
           THEN CAST(2 * (n * sxx - a * a) AS DOUBLE)
                / CAST(a * (2*n - a) AS DOUBLE) END AS rhat2
      FROM (SELECT vid,
          CAST(len(list_filter(d, x -> x IS NOT NULL)) AS BIGINT) AS n,
          CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
            AS BIGINT) AS a,
          CAST(COALESCE(list_sum(list_transform(
              list_filter(d, x -> x IS NOT NULL), x -> x*x)), 0)
            AS BIGINT) AS sxx
        FROM (SELECT vid, $dSql AS d FROM variants))""")))

  // --- IBD-segment runs per sample pair (GERMLINE shape): maximal IBS2
  // runs per (pair, chrom) via the gaps-and-islands scan; one exchange
  // serves windows and aggregations. -----------------------------------
  private val q134 = Q("q134_ibd_segments",
    (s, dir) => PopGen.ibdSegments(
      SynthGeno.variants(s, dir)
        .filter(col("vid") % 7 === 0)
        .select(col("vid"), col("chrom"), col("pos"),
          dosageAlt(col("geno")).as("d")),
      N),
    Some(withCte(s"""SELECT i, j, chrom,
      CAST(SUM(run_len) AS BIGINT) AS n_ibs2,
      COUNT(*) AS n_runs,
      CAST(MAX(run_len) AS BIGINT) AS max_run
      FROM (SELECT i, j, chrom, rid, COUNT(*) AS run_len
        FROM (SELECT i, j, chrom, ibs2,
            SUM(CASE WHEN strt THEN 1 ELSE 0 END)
              OVER (PARTITION BY i, j, chrom
                    ORDER BY pos, vid, dik, djk) AS rid
          FROM (SELECT i, j, chrom, pos, vid, dik, djk, ibs2,
              ibs2 AND NOT LAG(ibs2, 1, FALSE)
                OVER (PARTITION BY i, j, chrom
                      ORDER BY pos, vid, dik, djk) AS strt
            FROM (SELECT p.i, p.j, chrom, pos, vid,
                COALESCE(d[p.i + 1], -1) AS dik,
                COALESCE(d[p.j + 1], -1) AS djk,
                (d[p.i + 1] IS NOT NULL AND d[p.j + 1] IS NOT NULL
                  AND d[p.i + 1] = d[p.j + 1]) AS ibs2
              FROM (SELECT vid, chrom, pos, $dSql AS d FROM variants
                  WHERE vid % 7 = 0) dz,
                (SELECT ii.i, jj.j
                 FROM (SELECT unnest(range(0, $N)) AS i) ii,
                      (SELECT unnest(range(0, $N)) AS j) jj
                 WHERE jj.j > ii.i) p)))
        WHERE ibs2 GROUP BY i, j, chrom, rid)
      GROUP BY i, j, chrom""")))

  // --- Lewontin D′ over phased haplotype slots (the phase-AWARE LD
  // statistic q108's genotype r² cannot express): haplotype counts from
  // phased samples only, D′ as one exact integer division, banded
  // window pairs. -------------------------------------------------------
  private val q135 = Q("q135_dprime",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
        .filter(col("vid") % LD_MOD === 0)
      PopGen.dPrimeWindow(
        v.select(col("vid"), col("chrom"), col("pos"),
          PopGen.hapAlt(col("geno"), col("phased"), N).as("d")),
        LD_WINDOW)
    },
    Some(withCte(s""", hv AS (SELECT vid, chrom, pos,
      flatten(list_transform(range(0, $N), s -> [
        CASE WHEN phased[s + 1] AND geno[s + 1][1] IS NOT NULL
             THEN CASE WHEN geno[s + 1][1] <> 0 THEN 1 ELSE 0 END END,
        CASE WHEN phased[s + 1] AND geno[s + 1][2] IS NOT NULL
             THEN CASE WHEN geno[s + 1][2] <> 0 THEN 1 ELSE 0 END END]))
        AS d
      FROM variants WHERE vid % $LD_MOD = 0),
    pr AS (SELECT a.chrom, a.vid AS vid_a, b.vid AS vid_b,
        b.pos - a.pos AS dist,
        list_filter(list_transform(range(1, ${2 * N + 1}), i ->
            CASE WHEN a.d[i] IS NOT NULL AND b.d[i] IS NOT NULL
                 THEN {'x': a.d[i], 'y': b.d[i]} END),
          p -> p IS NOT NULL) AS obs
      FROM hv a JOIN hv b ON a.chrom = b.chrom
        AND (a.pos < b.pos OR (a.pos = b.pos AND a.vid < b.vid))
        AND b.pos - a.pos <= $LD_WINDOW),
    st AS (SELECT chrom, vid_a, vid_b, dist,
        CAST(len(obs) AS BIGINT) AS n,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x)), 0)
          AS BIGINT) AS na,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.y)), 0)
          AS BIGINT) AS nb,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x * p.y)), 0)
          AS BIGINT) AS n11
      FROM pr)
    SELECT chrom, vid_a, vid_b, dist, n, na, nb, n11,
      CASE WHEN n * n11 - na * nb = 0 THEN 0.0
           WHEN (CASE WHEN n * n11 - na * nb > 0
                      THEN least(na * (n - nb), nb * (n - na))
                      ELSE least(na * nb, (n - na) * (n - nb)) END) > 0
           THEN CAST(n * n11 - na * nb AS DOUBLE)
                / CAST(CASE WHEN n * n11 - na * nb > 0
                            THEN least(na * (n - nb), nb * (n - na))
                            ELSE least(na * nb, (n - na) * (n - nb)) END
                       AS DOUBLE)
      END AS dprime
    FROM st""")))

  // --- haplotype blocks from adjacent-pair D′ runs (simplified Gabriel
  // blocks): per-chrom ordered scan, no pair join; slot digest breaks
  // duplicate-(pos, vid) ties deterministically. ------------------------
  private val DPRIME_MIN = 0.8
  private val q136 = Q("q136_haplo_blocks",
    (s, dir) => PopGen.haploBlocks(
      SynthGeno.variants(s, dir)
        .filter(col("vid") % LD_MOD === 0)
        .select(col("vid"), col("chrom"), col("pos"),
          PopGen.hapAlt(col("geno"), col("phased"), N).as("d")),
      DPRIME_MIN),
    Some(withCte(s""", hv AS (SELECT vid, chrom, pos,
      flatten(list_transform(range(0, $N), s -> [
        CASE WHEN phased[s + 1] AND geno[s + 1][1] IS NOT NULL
             THEN CASE WHEN geno[s + 1][1] <> 0 THEN 1 ELSE 0 END END,
        CASE WHEN phased[s + 1] AND geno[s + 1][2] IS NOT NULL
             THEN CASE WHEN geno[s + 1][2] <> 0 THEN 1 ELSE 0 END END]))
        AS d
      FROM variants WHERE vid % $LD_MOD = 0),
    hd AS (SELECT vid, chrom, pos, d,
        array_to_string(list_transform(d, x ->
          CAST(COALESCE(x, -1) AS VARCHAR)), ',') AS dig
      FROM hv),
    lk AS (SELECT chrom, pos, vid, dig, d,
        LEAD(d) OVER w AS nd, LEAD(pos) OVER w AS npos
      FROM hd WINDOW w AS (PARTITION BY chrom ORDER BY pos, vid, dig)),
    st AS (SELECT chrom, pos, vid, dig, npos,
        (nd IS NULL) AS tail_row,
        CAST(len(obs) AS BIGINT) AS n,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x)), 0)
          AS BIGINT) AS na,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.y)), 0)
          AS BIGINT) AS nb,
        CAST(COALESCE(list_sum(list_transform(obs, p -> p.x * p.y)), 0)
          AS BIGINT) AS n11
      FROM (SELECT *, list_filter(list_transform(range(1, ${2 * N + 1}),
            i -> CASE WHEN d[i] IS NOT NULL AND nd[i] IS NOT NULL
                      THEN {'x': d[i], 'y': nd[i]} END),
          p -> p IS NOT NULL) AS obs FROM lk)),
    dp AS (SELECT chrom, pos, vid, dig, npos,
        CASE WHEN tail_row OR n = 0 THEN NULL
             WHEN n * n11 - na * nb = 0 THEN 0.0
             WHEN (CASE WHEN n * n11 - na * nb > 0
                        THEN least(na * (n - nb), nb * (n - na))
                        ELSE least(na * nb, (n - na) * (n - nb)) END) > 0
             THEN CAST(n * n11 - na * nb AS DOUBLE)
                  / CAST(CASE WHEN n * n11 - na * nb > 0
                              THEN least(na * (n - nb), nb * (n - na))
                              ELSE least(na * nb, (n - na) * (n - nb)) END
                         AS DOUBLE)
        END AS dprime
      FROM st),
    lnk AS (SELECT chrom, pos, vid, dig, npos,
        COALESCE(abs(dprime) >= $DPRIME_MIN, FALSE) AS link_ok
      FROM dp),
    isl AS (SELECT chrom, pos, npos, link_ok,
        SUM(CASE WHEN strt THEN 1 ELSE 0 END) OVER w2 AS rid
      FROM (SELECT *, link_ok AND NOT LAG(link_ok, 1, FALSE)
          OVER (PARTITION BY chrom ORDER BY pos, vid, dig) AS strt
        FROM lnk)
      WINDOW w2 AS (PARTITION BY chrom ORDER BY pos, vid, dig))
    SELECT chrom, CAST(MIN(pos) AS BIGINT) AS start_pos,
      CAST(MAX(npos) AS BIGINT) AS end_pos,
      COUNT(*) + 1 AS n_variants,
      CAST(MAX(npos) - MIN(pos) AS BIGINT) AS span
    FROM isl WHERE link_ok GROUP BY chrom, rid""")))

  // --- relatedness pruning (KING --king-cutoff workflow): drop the
  // lower-call-rate member of every pair with φ > 0.06; emits the
  // surviving samples. ----------------------------------------------------
  private val PHI_MAX = 0.06
  private val q137 = Q("q137_king_prune",
    // examined for the wave-3 barrier (the pair fan and the call-rate
    // pass both consume the cube) — the vid-keyed dosageRows barrier
    // MEASURED SLOWER (2.8 s → 4.7 s: the extra exchange plus the fan
    // reading shuffled rows outweighs the one saved cube evaluation),
    // so the direct form stays
    (s, dir) => PopGen.kinshipPrune(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N, PHI_MAX),
    Some(withCte(s""", dz AS (SELECT $dSql AS d FROM variants),
    pr AS (SELECT p.i, p.j, d[p.i + 1] AS di, d[p.j + 1] AS dj
      FROM dz, (SELECT ii.i, jj.j
          FROM (SELECT unnest(range(0, $N)) AS i) ii,
               (SELECT unnest(range(0, $N)) AS j) jj
          WHERE jj.j > ii.i) p
      WHERE d[p.i + 1] IS NOT NULL AND d[p.j + 1] IS NOT NULL),
    kin AS (SELECT i, j,
        CASE WHEN SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END)
               + SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) > 0
             THEN (CAST(SUM(CASE WHEN di = 1 AND dj = 1 THEN 1 ELSE 0 END)
                     AS DOUBLE)
                   - 2.0 * SUM(CASE WHEN abs(di - dj) = 2 THEN 1 ELSE 0 END))
                  / CAST(SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END)
                         + SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        END AS kinship
      FROM pr GROUP BY i, j),
    cr AS (SELECT ss.s, CAST(COUNT(*) AS BIGINT) AS n_called
      FROM dz, (SELECT unnest(range(0, $N)) AS s) ss
      WHERE d[ss.s + 1] IS NOT NULL GROUP BY ss.s),
    vict AS (SELECT DISTINCT
        CASE WHEN ci.n_called < cj.n_called THEN k.i
             WHEN cj.n_called < ci.n_called THEN k.j
             ELSE greatest(k.i, k.j) END AS s
      FROM kin k JOIN cr ci ON ci.s = k.i JOIN cr cj ON cj.s = k.j
      WHERE kinship > $PHI_MAX)
    SELECT s, n_called FROM cr
    WHERE s NOT IN (SELECT s FROM vict)""")))

  // --- balanced-label permutation association test (the empirical-
  // p-value companion to q123's asymptotic χ²): the score U_y = N·Σxy −
  // Σy·Σx compares across 20 deterministic BALANCED label permutations
  // (every y has exactly N/2 cases, so the trend χ²'s y-variance term is
  // constant and the χ² ORDER reduces to U² order — the comparison stays
  // pure BIGINT). Permutations = the N/2 smallest md5("j:s") sample
  // ordinals per round j, computed once at plan build and embedded as
  // literals in BOTH plans (any fixed balanced label set is a valid
  // permutation test; the md5 derivation just makes it reproducible).
  // p_emp = (1 + #{U_j² ≥ U_obs²}) / (nPerms + 1). Missing dosage counts
  // as 0 in every label set alike. Pure projection — the 20 permuted
  // scores statically unroll inside one codegen pass, no shuffle, no
  // per-perm explode.
  private val N_PERMS = 20

  private val obsIdx: Seq[Int] = (0 until N).filter(_ % 2 == 1)

  // the first N_PERMS DISTINCT balanced label sets that differ from the
  // observed labels, drawn from the md5 stream: with only C(8,4)=70
  // balanced sets, naive draws REPEAT (a prior shape drew (0,3,4,7)
  // three times and the observed set once — duplicated draws
  // multiply-weight their exceedance outcomes, and an obs-identical
  // perm floors p_emp at 2/(k+1) instead of 1/(k+1))
  private val perms: Seq[Seq[Int]] = {
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ps = Iterator.from(0)
      .map(j => (0 until N).sortBy(s => md5hex(s"$j:$s")).take(N / 2).sorted)
      .filter(_ != obsIdx)
      .distinct.take(N_PERMS).toSeq
    require(ps.size == N_PERMS && ps.distinct.size == N_PERMS
      && !ps.contains(obsIdx), "permutation set must be distinct, != obs")
    ps
  }

  private val q155 = Q("q155_perm_assoc",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d"))
      // ONE masked-sums kernel: mask 0 = all-ones (sx), mask 1 = the
      // observed labels, masks 2.. = the permuted label sets — K+2
      // contrasts in one generated loop, O(1) plan nodes at any
      // cohort width (was a (K+2)·N-term unrolled reduce)
      def mask(idx: Seq[Int]): Seq[Long] =
        (0 until N).map(i => if (idx.contains(i)) 1L else 0L)
      val masks = Seq.fill(N)(1L) +: mask(obsIdx) +: perms.map(mask)
      // u over masks(j): N·Σ_idx − (N/2)·sx, 1-based element_at
      def u(j: Int) =
        lit(N.toLong) * element_at(col("__ms"), j + 1) -
          lit(N.toLong / 2) * element_at(col("__ms"), 1)
      val uObs = u(1)
      val nGe = perms.indices.map(p =>
          when(u(p + 2) * u(p + 2) >= uObs * uObs, 1L).otherwise(0L))
        .reduce(_ + _)
      v.withColumn("__ms", dosageMaskedSums(col("d"), masks))
        .select(col("vid"), uObs.as("u_obs"), nGe.as("n_ge"),
          ((nGe + 1).cast("double") / (N_PERMS + 1)).as("p_emp"))
    },
    Some(withCte {
      def xsSql(i: Int) = s"COALESCE(d[${i + 1}], 0)"
      val sxSql = (0 until N).map(xsSql).mkString(" + ")
      def uSql(idx: Seq[Int]) =
        s"($N * (${idx.map(xsSql).mkString(" + ")}) - ${N / 2} * sx)"
      val ges = perms.map(p =>
        s"(CASE WHEN ${uSql(p)} * ${uSql(p)} >= u_obs * u_obs " +
          "THEN 1 ELSE 0 END)").mkString("\n          + ")
      s"""SELECT vid, u_obs, CAST(n_ge AS BIGINT) AS n_ge,
        CAST(n_ge + 1 AS DOUBLE) / ${N_PERMS + 1} AS p_emp
      FROM (SELECT vid, u_obs, $ges AS n_ge
        FROM (SELECT vid, d, sx,
            CAST(${uSql(obsIdx)} AS BIGINT) AS u_obs
          FROM (SELECT vid, d, CAST($sxSql AS BIGINT) AS sx
            FROM (SELECT vid, $dSql AS d FROM variants))))"""
    }))

  // --- Weir–Cockerham θ between sample halves: the OTHER standard Fst
  // estimator (uses observed heterozygosity), exact BIGINT variance
  // components on the 8·M²·N·(N−2) common denominator (closed form
  // fuzz-proved against the textbook formulas in PopGenSpec), one final
  // division, zero shuffles. --------------------------------------------
  private val q163 = Q("q163_wc_fst",
    (s, dir) => PopGen.wcFst(SynthGeno.variants(s, dir),
      0 until N / 2, N / 2 until N),
    Some(withCte(s"""SELECT vid, c1, x1, h1, c2, x2, h2,
      CASE WHEN c1 >= 1 AND c2 >= 1 AND nn > 2
             AND a_i + b_i + c_i <> 0
           THEN CAST(a_i AS DOUBLE) / CAST(a_i + b_i + c_i AS DOUBLE)
      END AS theta
      FROM (SELECT vid, c1, x1, h1, c2, x2, h2, nn,
          nn * (dd*dd*(nn-1) - mm*(xx*(2*nn-xx) - hh*nn)) AS a_i,
          2*mm * (xx*(2*nn-xx)*mm - dd*dd - 2*hh*mm*(nn-1)) AS b_i,
          4*mm*mm*(nn-2)*hh AS c_i
        FROM (SELECT vid, c1, x1, h1, c2, x2, h2,
            c1 + c2 AS nn, c1 * c2 AS mm,
            x1*c2 - x2*c1 AS dd, x1 + x2 AS xx, h1 + h2 AS hh
          FROM (SELECT vid,
              CAST(len(list_filter(ga, sa ->
                len(list_filter(sa, x -> x IS NULL)) = 0)) AS BIGINT)
                AS c1,
              CAST(COALESCE(list_sum(list_transform(list_filter(ga, sa ->
                len(list_filter(sa, x -> x IS NULL)) = 0), sa ->
                len(list_filter(sa, x -> x <> 0)))), 0) AS BIGINT) AS x1,
              CAST(len(list_filter(ga, sa ->
                len(list_filter(sa, x -> x IS NULL)) = 0
                AND len(list_filter(sa, x -> x <> 0)) = 1)) AS BIGINT)
                AS h1,
              CAST(len(list_filter(gb, sa ->
                len(list_filter(sa, x -> x IS NULL)) = 0)) AS BIGINT)
                AS c2,
              CAST(COALESCE(list_sum(list_transform(list_filter(gb, sa ->
                len(list_filter(sa, x -> x IS NULL)) = 0), sa ->
                len(list_filter(sa, x -> x <> 0)))), 0) AS BIGINT) AS x2,
              CAST(len(list_filter(gb, sa ->
                len(list_filter(sa, x -> x IS NULL)) = 0
                AND len(list_filter(sa, x -> x <> 0)) = 1)) AS BIGINT)
                AS h2
            FROM (SELECT vid, geno[1:${N / 2}] AS ga,
                geno[${N / 2 + 1}:$N] AS gb FROM variants))))""")))

  // --- pairwise IBS fraction (snpgdsIBS / PLINK --distance 1-ibs):
  // Σ|d_i − d_j| over pairwise-complete sites, same pair-explode +
  // map-side partial aggregation contract as the GRM. -------------------
  private val q164 = Q("q164_ibs",
    (s, dir) => PopGen.ibs(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N),
    Some(withCte(s"""SELECT i, j, n_sites, dist_sum,
      1.0 - CAST(dist_sum AS DOUBLE)
            / (2.0 * CAST(n_sites AS DOUBLE)) AS ibs
      FROM (SELECT p.i, p.j, COUNT(*) AS n_sites,
          CAST(SUM(abs(d[p.i + 1] - d[p.j + 1])) AS BIGINT) AS dist_sum
        FROM (SELECT $dSql AS d FROM variants) st,
          (SELECT ii.i, jj.j
           FROM (SELECT unnest(range(0, $N)) AS i) ii,
                (SELECT unnest(range(0, $N)) AS j) jj
           WHERE jj.j >= ii.i) p
        WHERE d[p.i + 1] IS NOT NULL AND d[p.j + 1] IS NOT NULL
        GROUP BY i, j)""")))

  // --- mean-dosage imputation (snpgdsPCA's missing handling): missing
  // collapsed dosages become the variant's called-mean a/n — one exact
  // division, so every imputed value replays bit-for-bit. The query
  // pins two fixed samples' imputed values plus the per-variant counts.
  private val q165 = Q("q165_impute_mean",
    (s, dir) => PopGen.imputeMeanDosage(
        SynthGeno.variants(s, dir)
          .select(col("vid"), dosageAlt(col("geno")).as("d")),
        N)
      .select(col("vid"), col("n"), col("a"),
        (lit(N.toLong) - col("n")).as("n_miss"),
        element_at(col("d_imp"), 1).as("imp_s0"),
        element_at(col("d_imp"), 4).as("imp_s3")),
    Some(withCte(s"""SELECT vid, n, a, $N - n AS n_miss,
      COALESCE(CAST(d[1] AS DOUBLE), mean) AS imp_s0,
      COALESCE(CAST(d[4] AS DOUBLE), mean) AS imp_s3
      FROM (SELECT vid, d, n, a,
          CASE WHEN n > 0 THEN CAST(a AS DOUBLE) / CAST(n AS DOUBLE)
               ELSE 0.0 END AS mean
        FROM (SELECT vid, d,
            CAST(len(list_filter(d, x -> x IS NOT NULL)) AS BIGINT) AS n,
            CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
              AS BIGINT) AS a
          FROM (SELECT vid, $dSql AS d FROM variants)))""")))

  // --- PCA SNP loadings (snpgdsPCASampLoading): mean-imputed, mean-
  // centred dot products against fixed sample-space vectors (the op is
  // linear algebra — whether v is a true eigenvector is PopGenSpec's
  // concern, where pcaProject(training) must reproduce √λ·v; here two
  // FIXED ±1 vectors make the oracle exact: left-associated double
  // sums replay in the same order, and ±1.0 products are lossless). ----
  private val PCV: Seq[Seq[Double]] = Seq(
    Seq(1, -1, 1, -1, 1, -1, 1, -1).map(_.toDouble),
    Seq(1, 1, -1, -1, 1, 1, -1, -1).map(_.toDouble))

  private val q166 = Q("q166_pca_loadings",
    (s, dir) => PopGen.pcaLoadings(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N, PCV),
    Some(withCte {
      def bSql(vec: Seq[Double]) = vec.zipWithIndex.map { case (w, i) =>
        s"(COALESCE(CAST(d[${i + 1}] AS DOUBLE), mean) - mean) * $w"
      }.mkString(" + ")
      s"""SELECT vid, n, a,
        ${bSql(PCV(0))} AS b_1,
        ${bSql(PCV(1))} AS b_2
      FROM (SELECT vid, d, n, a,
          CASE WHEN n > 0 THEN CAST(a AS DOUBLE) / CAST(n AS DOUBLE)
               ELSE 0.0 END AS mean
        FROM (SELECT vid, d,
            CAST(len(list_filter(d, x -> x IS NOT NULL)) AS BIGINT) AS n,
            CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
              AS BIGINT) AS a
          FROM (SELECT vid, $dSql AS d FROM variants)))"""
    }))

  // --- SNP–PC correlation (snpgdsPCACorr): Pearson corr between each
  // variant's dosages and fixed ±1 sample-space vectors over called
  // samples — dosage sums exact BIGINTs, vector sums exact ±1.0 doubles
  // in the same left-associated order, one sqrt + one division. -------
  private val q170 = Q("q170_pca_corr",
    (s, dir) => PopGen.pcaCorr(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N, PCV),
    Some(withCte {
      def chain(term: Int => String) =
        (0 until N).map(term).mkString(" + ")
      def corrSql(vec: Seq[Double], l: Int) = {
        val sv = chain(i =>
          s"(CASE WHEN d[${i + 1}] IS NOT NULL THEN ${vec(i)} ELSE 0.0 END)")
        val svv = chain(i =>
          s"(CASE WHEN d[${i + 1}] IS NOT NULL THEN ${vec(i) * vec(i)} " +
            "ELSE 0.0 END)")
        val sdv = chain(i =>
          s"(CASE WHEN d[${i + 1}] IS NOT NULL " +
            s"THEN CAST(d[${i + 1}] AS DOUBLE) * ${vec(i)} ELSE 0.0 END)")
        s"""CASE WHEN n >= 2 AND dx > 0
             AND CAST(n AS DOUBLE) * ($svv) - ($sv) * ($sv) > 0
           THEN (CAST(n AS DOUBLE) * ($sdv) - CAST(sd AS DOUBLE) * ($sv))
                / sqrt(CAST(dx AS DOUBLE)
                  * (CAST(n AS DOUBLE) * ($svv) - ($sv) * ($sv)))
           END AS corr_${l + 1}"""
      }
      s"""SELECT vid, n,
        ${corrSql(PCV(0), 0)},
        ${corrSql(PCV(1), 1)}
      FROM (SELECT *, n * sdd - sd * sd AS dx
        FROM (SELECT vid, d,
            CAST(len(list_filter(d, x -> x IS NOT NULL)) AS BIGINT) AS n,
            CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
              AS BIGINT) AS sd,
            CAST(COALESCE(list_sum(list_transform(
              list_filter(d, x -> x IS NOT NULL), x -> x * x)), 0)
              AS BIGINT) AS sdd
          FROM (SELECT vid, $dSql AS d FROM variants)))"""
    }))

  // --- relatedness-aware family-wise train/val split: the genomic-ML
  // leakage guard (related samples never straddle the split). Families
  // are connected components of the φ > 0.05 KING graph; the oracle
  // replays the kinship pass, the components (recursive CTE), and the
  // md5 family-level assignment. ---------------------------------------
  private val q172 = Q("q172_family_split",
    (s, dir) => PopGen.familySplit(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N, phiMax = 0.05),
    Some(s"""WITH RECURSIVE variants AS (${SynthGeno.sqlCte}),
      dd AS (SELECT $dSql AS d FROM variants),
      pr AS (SELECT ii.i, jj.j
        FROM (SELECT unnest(range(0, $N)) AS i) ii,
             (SELECT unnest(range(0, $N)) AS j) jj
        WHERE jj.j > ii.i),
      kin AS (SELECT pr.i, pr.j,
          CASE WHEN SUM(CASE WHEN d[pr.i+1] = 1 THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN d[pr.j+1] = 1 THEN 1 ELSE 0 END) > 0
               THEN (CAST(SUM(CASE WHEN d[pr.i+1] = 1 AND d[pr.j+1] = 1
                        THEN 1 ELSE 0 END) AS DOUBLE)
                     - 2.0 * SUM(CASE WHEN abs(d[pr.i+1] - d[pr.j+1]) = 2
                        THEN 1 ELSE 0 END))
                    / CAST(SUM(CASE WHEN d[pr.i+1] = 1 THEN 1 ELSE 0 END)
                       + SUM(CASE WHEN d[pr.j+1] = 1 THEN 1 ELSE 0 END)
                       AS DOUBLE)
          END AS kinship
        FROM dd, pr
        WHERE d[pr.i+1] IS NOT NULL AND d[pr.j+1] IS NOT NULL
        GROUP BY 1, 2),
      rel AS (SELECT i, j FROM kin WHERE kinship > 0.05),
      edges AS (SELECT i AS src, j AS dst FROM rel
        UNION ALL SELECT j, i FROM rel),
      comp(id, lbl) AS (
        SELECT i, i FROM (SELECT unnest(range(0, $N)) AS i)
        UNION
        SELECT e.src, c.lbl FROM edges e JOIN comp c ON c.id = e.dst),
      fam AS (SELECT id AS s, MIN(lbl) AS family FROM comp GROUP BY 1)
      SELECT CAST(s AS INT) AS s, CAST(family AS INT) AS family,
        CAST(COUNT(*) OVER (PARTITION BY family) AS BIGINT) AS n_family,
        CASE WHEN substr(md5(CAST(family AS VARCHAR)), 1, 1)
               IN ('c', 'd', 'e', 'f') THEN 'val' ELSE 'train' END AS split
      FROM fam"""))

  // --- the composed GWAS pipeline — the genomic counterpart of the
  // corpus-release rehearsal (q161): QC gates (MAF ≥ 0.05, call rate ≥
  // 75%, HWE χ² < 6 — all exact cross-multiplied integers, never a
  // double compare) → MAF-ranked LD pruning → Cochran–Armitage trend
  // test on the survivors, as ONE plan over one scan of the cube. The
  // oracle replays every stage: genotype classes, the three gates, the
  // banded pair r² pruning, and the trend statistic. -------------------
  private val q173 = Q("q173_gwas_pipeline",
    (s, dir) => {
      val v0 = SynthGeno.variants(s, dir)
        .filter(col("vid") % LD_MOD === 0)
        .select(col("vid"), col("chrom"), col("pos"),
          dosageAlt(col("geno")).as("d"))
      val stats = v0
        .withColumn("n_aa", size(filter(col("d"), x => x === 0)).cast("long"))
        .withColumn("n_ab", size(filter(col("d"), x => x === 1)).cast("long"))
        .withColumn("n_bb", size(filter(col("d"), x => x === 2)).cast("long"))
        .withColumn("ng", col("n_aa") + col("n_ab") + col("n_bb"))
        .withColumn("x", lit(4L) * col("n_aa") * col("n_bb")
          - col("n_ab") * col("n_ab"))
        .withColumn("y", lit(2L) * col("n_aa") + col("n_ab"))
        .withColumn("z", lit(2L) * col("n_bb") + col("n_ab"))
      // exact integer gates; pinned so the pushed predicate cannot
      // re-evaluate the dosage kernel below the scan (the q126 lesson)
      val qc = PopGen.pinnedFilter(stats,
        lit(20L) * least(col("y"), col("z")) >= lit(2L) * col("ng") &&
        col("ng") >= 6L &&
        !(col("y") > 0 && col("z") > 0 &&
          col("ng") * col("x") * col("x")
            >= lit(6L) * col("y") * col("y") * col("z") * col("z")))
      // one LINEAR chain — prune carries the input through (keepInput)
      // and the trend statistic is a projection over the survivors with
      // chrom/pos/maf carried, so the cube is scanned exactly ONCE
      // (plan-locked) and no self-join re-reads it
      val pruned = PopGen.ldPrune(
        qc.select(col("vid"), col("chrom"), col("pos"), col("d")),
        LD_WINDOW, R2_MAX, N, keepInput = true)
      PopGen.trendTest(pruned, phenoCase,
          carry = Seq("chrom", "pos", "maf"))
        .select(col("vid"), col("chrom"), col("pos"), col("maf"),
          col("n"), col("chi2"))
    },
    Some(withCte {
      val caseIdx = phenoCase.zipWithIndex.filter(_._1).map(_._2)
      val rSql = caseIdx
        .map(i => s"(CASE WHEN d[${i + 1}] IS NOT NULL THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val sxcSql = caseIdx.map(i => s"COALESCE(d[${i + 1}], 0)")
        .mkString(" + ")
      s""", st0 AS (SELECT vid, chrom, pos, d,
          n_aa, n_ab, n_bb, n_aa + n_ab + n_bb AS ng,
          4*n_aa*n_bb - n_ab*n_ab AS x,
          2*n_aa + n_ab AS y, 2*n_bb + n_ab AS z
        FROM (SELECT vid, chrom, pos, d,
            CAST(len(list_filter(d, v -> v = 0)) AS BIGINT) AS n_aa,
            CAST(len(list_filter(d, v -> v = 1)) AS BIGINT) AS n_ab,
            CAST(len(list_filter(d, v -> v = 2)) AS BIGINT) AS n_bb
          FROM (SELECT vid, chrom, pos, $dSql AS d FROM variants
            WHERE vid % $LD_MOD = 0))),
      qc AS (SELECT * FROM st0
        WHERE 20 * least(y, z) >= 2 * ng AND ng >= 6
          AND NOT (y > 0 AND z > 0 AND ng*x*x >= 6*y*y*z*z)),
      mf AS (SELECT vid, chrom, pos, d,
          CASE WHEN ng > 0
               THEN CAST(least(z, y) AS DOUBLE) / CAST(2*ng AS DOUBLE)
               ELSE 0.0 END AS maf,
          CAST(len(list_filter(d, v -> v IS NOT NULL)) AS BIGINT) AS tn,
          CAST($rSql AS BIGINT) AS r,
          CAST(COALESCE(list_sum(list_filter(d, v -> v IS NOT NULL)), 0)
            AS BIGINT) AS sx,
          CAST($sxcSql AS BIGINT) AS sx_case,
          CAST(COALESCE(list_sum(list_transform(
              list_filter(d, v -> v IS NOT NULL), v -> v*v)), 0)
            AS BIGINT) AS sxx
        FROM qc),
      pr AS (SELECT a.vid AS vid_a, b.vid AS vid_b,
          a.maf AS maf_a, b.maf AS maf_b,
          list_filter(list_transform(range(1, ${N + 1}), i ->
              CASE WHEN a.d[i] IS NOT NULL AND b.d[i] IS NOT NULL
                   THEN {'x': a.d[i], 'y': b.d[i]} END),
            p -> p IS NOT NULL) AS obs
        FROM mf a JOIN mf b ON a.chrom = b.chrom
          AND (a.pos < b.pos OR (a.pos = b.pos AND a.vid < b.vid))
          AND b.pos - a.pos <= $LD_WINDOW),
      st2 AS (SELECT vid_a, vid_b, maf_a, maf_b,
          CAST(len(obs) AS BIGINT) AS n,
          CAST(COALESCE(list_sum(list_transform(obs, p -> p.x)), 0)
            AS BIGINT) AS sx,
          CAST(COALESCE(list_sum(list_transform(obs, p -> p.y)), 0)
            AS BIGINT) AS sy,
          CAST(COALESCE(list_sum(list_transform(obs, p -> p.x * p.y)), 0)
            AS BIGINT) AS sxy,
          CAST(COALESCE(list_sum(list_transform(obs, p -> p.x * p.x)), 0)
            AS BIGINT) AS sxx,
          CAST(COALESCE(list_sum(list_transform(obs, p -> p.y * p.y)), 0)
            AS BIGINT) AS syy
        FROM pr),
      r2s AS (SELECT vid_a, vid_b, maf_a, maf_b,
          CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
               THEN (CAST(n*sxy - sx*sy AS DOUBLE)
                     * CAST(n*sxy - sx*sy AS DOUBLE))
                    / (CAST(n*sxx - sx*sx AS DOUBLE)
                       * CAST(n*syy - sy*sy AS DOUBLE)) END AS r2
        FROM st2),
      vict AS (SELECT DISTINCT
          CASE WHEN maf_a < maf_b THEN vid_a
               WHEN maf_b < maf_a THEN vid_b
               ELSE greatest(vid_a, vid_b) END AS vid
        FROM r2s WHERE r2 >= $R2_MAX)
      SELECT vid, chrom, pos, maf, tn AS n,
        CASE WHEN r*(tn - r)*(tn*sxx - sx*sx) > 0
             THEN CAST(tn*(tn*sx_case - r*sx)*(tn*sx_case - r*sx)
                    AS DOUBLE)
                  / CAST(r*(tn - r)*(tn*sxx - sx*sx) AS DOUBLE)
        END AS chi2
      FROM mf
      WHERE vid NOT IN (SELECT vid FROM vict)"""
    }))

  // --- Mendelian-error trio QC (PLINK --mendel): per (variant, trio)
  // consistency of the child's dosage with one transmitted allele per
  // parent, row-level oracle — a violation-table slip breaks the hash.
  private val TRIOS = Seq((0, 1, 2), (3, 4, 5))
  private val q176 = Q("q176_mendel_errors",
    (s, dir) => PopGen.mendelErrors(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      TRIOS),
    Some(withCte {
      val trioRows = TRIOS.zipWithIndex.map { case ((f, m, c), t) =>
        s"({'trio': $t, 'f': ${f + 1}, 'm': ${m + 1}, 'c': ${c + 1}})"
      }.mkString(", ")
      s"""SELECT vid, trio, df, dm, dc,
        CAST(CASE WHEN (dc = 0 AND (df = 2 OR dm = 2))
               OR (dc = 2 AND (df = 0 OR dm = 0))
               OR (dc = 1 AND df = dm AND (df = 0 OR df = 2))
             THEN 1 ELSE 0 END AS BIGINT) AS mendel_err
      FROM (SELECT vid, CAST(p.t.trio AS INT) AS trio,
          d[p.t.f] AS df, d[p.t.m] AS dm, d[p.t.c] AS dc
        FROM (SELECT vid, $dSql AS d FROM variants),
          (SELECT unnest([$trioRows]) AS t) p)
      WHERE df IS NOT NULL AND dm IS NOT NULL AND dc IS NOT NULL"""
    }))

  // --- transmission-disequilibrium test (Spielman 1993; PLINK --tdt):
  // family-based association on the SAME trio rows as q176 — het-parent
  // ALT vs REF transmissions as exact BIGINT sums, chi2 = (B−C)²/(B+C)
  // with one division, per-variant oracle over both counts. -----------
  private val q177 = Q("q177_tdt",
    (s, dir) => PopGen.tdt(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      TRIOS),
    Some(withCte {
      val trioRows = TRIOS.zipWithIndex.map { case ((f, m, c), t) =>
        s"({'trio': $t, 'f': ${f + 1}, 'm': ${m + 1}, 'c': ${c + 1}})"
      }.mkString(", ")
      s"""SELECT vid, CAST(COUNT(*) AS BIGINT) AS n_trios,
        CAST(SUM(b_t) AS BIGINT) AS b, CAST(SUM(c_t) AS BIGINT) AS c,
        CASE WHEN SUM(b_t) + SUM(c_t) > 0
             THEN CAST((SUM(b_t) - SUM(c_t)) * (SUM(b_t) - SUM(c_t))
                    AS DOUBLE)
                  / CAST(SUM(b_t) + SUM(c_t) AS DOUBLE)
        END AS tdt_chi2
      FROM (SELECT vid,
          dc - homalt AS b_t, het - (dc - homalt) AS c_t
        FROM (SELECT vid, df, dm, dc,
            (CASE WHEN df = 2 THEN 1 ELSE 0 END
             + CASE WHEN dm = 2 THEN 1 ELSE 0 END) AS homalt,
            (CASE WHEN df = 1 THEN 1 ELSE 0 END
             + CASE WHEN dm = 1 THEN 1 ELSE 0 END) AS het
          FROM (SELECT vid,
              d[p.t.f] AS df, d[p.t.m] AS dm, d[p.t.c] AS dc
            FROM (SELECT vid, $dSql AS d FROM variants),
              (SELECT unnest([$trioRows]) AS t) p)
          WHERE df IS NOT NULL AND dm IS NOT NULL AND dc IS NOT NULL
            AND NOT ((dc = 0 AND (df = 2 OR dm = 2))
              OR (dc = 2 AND (df = 0 OR dm = 0))
              OR (dc = 1 AND df = dm AND (df = 0 OR df = 2)))))
      GROUP BY vid"""
    }))

  // --- windowed Hudson Fst (the selection-scan workload): per genomic
  // window the RATIO OF SUMS Σnum/Σden — Bhatia 2013's recommended
  // estimator, and the only exact form (both sums BIGINT on one scale,
  // one division per window). One (chrom, win) aggregate. ------------
  private val FST_WIN = 500L
  private val q178 = Q("q178_windowed_fst",
    (s, dir) => PopGen.windowedFst(
      SynthGeno.variants(s, dir)
        .select(col("vid"), col("chrom"), col("pos"), col("geno")),
      0 until N / 2, N / 2 until N, FST_WIN),
    Some(withCte(s"""SELECT chrom, CAST(pos // $FST_WIN AS BIGINT) AS win,
      CAST((pos // $FST_WIN) * $FST_WIN AS BIGINT) AS win_start,
      CAST(COUNT(*) AS BIGINT) AS n_sites,
      CAST(SUM(num_i) AS BIGINT) AS fst_num,
      CAST(SUM(den_i) AS BIGINT) AS fst_den,
      CAST(SUM(num_i) AS DOUBLE) / CAST(SUM(den_i) AS DOUBLE) AS fst_win
      FROM (SELECT chrom, pos, n1, n2, a1, a2,
          (a1*n2 - a2*n1)*(a1*n2 - a2*n1)*(n1-1)*(n2-1)
            - a1*(n1-a1)*n2*n2*(n2-1)
            - a2*(n2-a2)*n1*n1*(n1-1) AS num_i,
          (a1*(n2-a2) + a2*(n1-a1))*n1*n2*(n1-1)*(n2-1) AS den_i
        FROM (SELECT chrom, pos,
            CAST(len(list_filter(f1, a -> a IS NOT NULL)) AS BIGINT)
              AS n1,
            CAST(len(list_filter(f2, a -> a IS NOT NULL)) AS BIGINT)
              AS n2,
            CAST(len(list_filter(f1, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a1,
            CAST(len(list_filter(f2, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a2
          FROM (SELECT chrom, pos, flatten(geno[1:${N / 2}]) AS f1,
              flatten(geno[${N / 2 + 1}:$N]) AS f2
            FROM variants)))
      WHERE n1 >= 2 AND n2 >= 2 AND den_i <> 0
      GROUP BY 1, 2, 3""")))

  // --- windowed nucleotide diversity π + Watterson θ_W (the Tajima
  // inputs): per-site unbiased π scaled ×lcm(1..2N) to exact BIGINTs,
  // segregating-site counts, one division per window; θ_W divides by
  // the full-sample harmonic constant (interpolated to the oracle, so
  // both engines parse the identical double). -------------------------
  private val q179 = Q("q179_diversity_window",
    (s, dir) => PopGen.diversityWindow(
      SynthGeno.variants(s, dir)
        .select(col("vid"), col("chrom"), col("pos"), col("geno")),
      0 until N, FST_WIN),
    Some(withCte {
      val scale = PopGen.piScale(2 * N)
      val harm = PopGen.harmonic(2 * N - 1)
      s"""SELECT chrom, CAST(pos // $FST_WIN AS BIGINT) AS win,
        CAST((pos // $FST_WIN) * $FST_WIN AS BIGINT) AS win_start,
        CAST(COUNT(*) AS BIGINT) AS n_sites,
        CAST(SUM(CASE WHEN a > 0 AND a < m THEN 1 ELSE 0 END) AS BIGINT)
          AS s_seg,
        CAST(SUM(a * (m - a) * (2 * ($scale // (m * (m - 1)))))
          AS BIGINT) AS pi_num,
        CAST(SUM(a * (m - a) * (2 * ($scale // (m * (m - 1)))))
          AS DOUBLE) / CAST($scale AS DOUBLE) AS pi,
        CAST(SUM(CASE WHEN a > 0 AND a < m THEN 1 ELSE 0 END) AS DOUBLE)
          / $harm AS theta_w
      FROM (SELECT chrom, pos,
          CAST(len(list_filter(flatten(geno), x -> x IS NOT NULL))
            AS BIGINT) AS m,
          CAST(len(list_filter(flatten(geno),
            x -> x IS NOT NULL AND x <> 0)) AS BIGINT) AS a
        FROM variants)
      WHERE m >= 2
      GROUP BY 1, 2, 3"""
    }))

  // --- Tajima's D per window: the neutrality test over q179's exact π
  // and S, with the 1989 constants of the full-sample allele count
  // interpolated into the oracle as shortest-round-trip literals so
  // both engines run the identical fixed-order double expression. ------
  private val q180 = Q("q180_tajima_d",
    (s, dir) => PopGen.tajimaD(
      SynthGeno.variants(s, dir)
        .select(col("vid"), col("chrom"), col("pos"), col("geno")),
      0 until N, FST_WIN),
    Some(withCte {
      val scale = PopGen.piScale(2 * N)
      val harm = PopGen.harmonic(2 * N - 1)
      val (_, e1, e2) = PopGen.tajimaConstants(2 * N)
      s"""SELECT *, CASE WHEN s_seg > 0
           THEN (pi - theta_w)
                / sqrt($e1 * CAST(s_seg AS DOUBLE)
                  + $e2 * (CAST(s_seg AS DOUBLE)
                    * (CAST(s_seg AS DOUBLE) - 1.0)))
        END AS tajima_d
      FROM (SELECT chrom, CAST(pos // $FST_WIN AS BIGINT) AS win,
          CAST((pos // $FST_WIN) * $FST_WIN AS BIGINT) AS win_start,
          CAST(COUNT(*) AS BIGINT) AS n_sites,
          CAST(SUM(CASE WHEN a > 0 AND a < m THEN 1 ELSE 0 END)
            AS BIGINT) AS s_seg,
          CAST(SUM(a * (m - a) * (2 * ($scale // (m * (m - 1)))))
            AS BIGINT) AS pi_num,
          CAST(SUM(a * (m - a) * (2 * ($scale // (m * (m - 1)))))
            AS DOUBLE) / CAST($scale AS DOUBLE) AS pi,
          CAST(SUM(CASE WHEN a > 0 AND a < m THEN 1 ELSE 0 END)
            AS DOUBLE) / $harm AS theta_w
        FROM (SELECT chrom, pos,
            CAST(len(list_filter(flatten(geno), x -> x IS NOT NULL))
              AS BIGINT) AS m,
            CAST(len(list_filter(flatten(geno),
              x -> x IS NOT NULL AND x <> 0)) AS BIGINT) AS a
          FROM variants)
        WHERE m >= 2
        GROUP BY 1, 2, 3)"""
    }))

  // --- Fu & Li's D* and F* per window: the OUTGROUP-FREE neutrality
  // tests weighing singleton sites η_s against S (D*) and π (F*) —
  // Fu & Li 1993 with the Simonsen et al. 1995 corrected variance
  // constants (the DnaSP forms). η_s, S and the lcm-scaled π window
  // sums are exact BIGINTs; the D*/F* arithmetic is a fixed-order
  // double expression whose five constants interpolate into both
  // engines as identical shortest-round-trip literals (the q180
  // discipline). One (chrom, win) map-side-combined aggregate. --------
  private val q255 = Q("q255_fu_li",
    (s, dir) => PopGen.fuLiWindow(
      SynthGeno.variants(s, dir)
        .select(col("vid"), col("chrom"), col("pos"), col("geno")),
      0 until N, FST_WIN),
    Some(withCte {
      val n = 2 * N
      val scale = PopGen.piScale(n)
      val (an0, uD0, vD0, uF0, vF0) = PopGen.fuLiConstants(n)
      // e0-suffixed literals parse directly as DOUBLE in DuckDB (the
      // q213/q237 shared-constant trick) — a bare decimal literal lands
      // as DECIMAL and its decimal→double cast is not correctly rounded
      def dlit(d: Double): String = {
        val str = d.toString
        if (str.contains('E') || str.contains('e')) str else str + "e0"
      }
      val (an, uD, vD, uF, vF) =
        (dlit(an0), dlit(uD0), dlit(vD0), dlit(uF0), dlit(vF0))
      val r = dlit(n.toDouble / (n - 1.0))
      val fr = dlit((n - 1.0) / n.toDouble)
      s"""SELECT *,
        CASE WHEN s_seg > 0
          THEN ($r * CAST(s_seg AS DOUBLE) - $an * CAST(eta_s AS DOUBLE))
               / sqrt($uD * CAST(s_seg AS DOUBLE)
                 + $vD * (CAST(s_seg AS DOUBLE) * CAST(s_seg AS DOUBLE)))
        END AS d_star,
        CASE WHEN s_seg > 0
          THEN (pi - $fr * CAST(eta_s AS DOUBLE))
               / sqrt($uF * CAST(s_seg AS DOUBLE)
                 + $vF * (CAST(s_seg AS DOUBLE) * CAST(s_seg AS DOUBLE)))
        END AS f_star
      FROM (SELECT chrom, CAST(pos // $FST_WIN AS BIGINT) AS win,
          CAST((pos // $FST_WIN) * $FST_WIN AS BIGINT) AS win_start,
          CAST(COUNT(*) AS BIGINT) AS n_sites,
          CAST(SUM(CASE WHEN a > 0 AND a < m THEN 1 ELSE 0 END)
            AS BIGINT) AS s_seg,
          CAST(SUM(CASE WHEN (a = 1 OR a = m - 1)
                          AND a > 0 AND a < m THEN 1 ELSE 0 END)
            AS BIGINT) AS eta_s,
          CAST(SUM(a * (m - a) * (2 * ($scale // (m * (m - 1)))))
            AS BIGINT) AS pi_num,
          CAST(SUM(a * (m - a) * (2 * ($scale // (m * (m - 1)))))
            AS DOUBLE) / CAST($scale AS DOUBLE) AS pi
        FROM (SELECT chrom, pos,
            CAST(len(list_filter(flatten(geno), x -> x IS NOT NULL))
              AS BIGINT) AS m,
            CAST(len(list_filter(flatten(geno),
              x -> x IS NOT NULL AND x <> 0)) AS BIGINT) AS a
          FROM variants)
        WHERE m >= 2
        GROUP BY 1, 2, 3)"""
    }))

  // --- Patterson D with BLOCK-JACKKNIFE significance — the admixtools
  // `D ± Z` headline number: per-chrom exact ABBA/BABA sums (q203's
  // stage), leave-one-block-out D_i from total-minus-block integers,
  // and jackknife mean/variance/Z as fixed-order double folds over the
  // chrom-sorted block list — Spark's `aggregate` HOF and DuckDB's
  // `list_reduce` fold left over the identical order, so every double
  // replays bitwise (0.0 + x == x exactly; the numerators are integer
  // zeros, never −0.0). Everything past the per-chrom aggregate is
  // summary-sized. -----------------------------------------------------
  private val q266 = Q("q266_dstat_jackknife",
    (s, dir) => PopGen.dStatJackknife(
      SynthGeno.variants(s, dir)
        .select(col("chrom"), col("geno")),
      0 until N / 4, N / 4 until N / 2,
      N / 2 until 3 * N / 4, 3 * N / 4 until N),
    Some(withCte {
      val l = PopGen.piScale(N / 4 * 2)
      val scale = l * l * l * l
      s""", per AS (SELECT chrom, CAST(COUNT(*) AS BIGINT) AS n_sites,
          CAST(SUM((n1-a1) * a2 * a3 * (n4-a4)
            * ($scale // (n1*n2*n3*n4))) AS BIGINT) AS abba_num,
          CAST(SUM(a1 * (n2-a2) * a3 * (n4-a4)
            * ($scale // (n1*n2*n3*n4))) AS BIGINT) AS baba_num
        FROM (SELECT * FROM (SELECT chrom,
            CAST(len(list_filter(f1, a -> a IS NOT NULL)) AS BIGINT)
              AS n1,
            CAST(len(list_filter(f2, a -> a IS NOT NULL)) AS BIGINT)
              AS n2,
            CAST(len(list_filter(f3, a -> a IS NOT NULL)) AS BIGINT)
              AS n3,
            CAST(len(list_filter(f4, a -> a IS NOT NULL)) AS BIGINT)
              AS n4,
            CAST(len(list_filter(f1, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a1,
            CAST(len(list_filter(f2, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a2,
            CAST(len(list_filter(f3, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a3,
            CAST(len(list_filter(f4, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a4
          FROM (SELECT chrom,
              flatten(geno[1:${N / 4}]) AS f1,
              flatten(geno[${N / 4 + 1}:${N / 2}]) AS f2,
              flatten(geno[${N / 2 + 1}:${3 * N / 4}]) AS f3,
              flatten(geno[${3 * N / 4 + 1}:$N]) AS f4
            FROM variants))
          WHERE n1 >= 1 AND n2 >= 1 AND n3 >= 1 AND n4 >= 1)
        GROUP BY 1),
      tot AS (SELECT CAST(SUM(abba_num) AS BIGINT) AS abba_total,
          CAST(SUM(baba_num) AS BIGINT) AS baba_total,
          CAST(SUM(n_sites) AS BIGINT) AS n_sites
        FROM per),
      loo AS (SELECT chrom,
          CAST(abba_total - abba_num - (baba_total - baba_num)
            AS DOUBLE)
          / CAST(abba_total - abba_num + (baba_total - baba_num)
            AS DOUBLE) AS d_i
        FROM per CROSS JOIN tot
        WHERE abba_total - abba_num + (baba_total - baba_num) <> 0),
      f AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_blocks,
          list(CAST(d_i AS DOUBLE) ORDER BY chrom) AS dl
        FROM loo),
      st AS (SELECT m_blocks, n_sites, abba_total, baba_total,
          CASE WHEN abba_total + baba_total <> 0
            THEN CAST(abba_total - baba_total AS DOUBLE)
              / CAST(abba_total + baba_total AS DOUBLE) END AS d_stat,
          list_reduce(dl, (a, x) -> a + x)
            / CAST(m_blocks AS DOUBLE) AS jk_mean, dl
        FROM f CROSS JOIN tot)
      SELECT m_blocks, n_sites, abba_total, baba_total, d_stat, jk_mean,
        (CAST(m_blocks AS DOUBLE) - 1.0) / CAST(m_blocks AS DOUBLE)
          * list_reduce(list_transform(dl,
              x -> (x - jk_mean) * (x - jk_mean)), (a, x) -> a + x)
          AS jk_var,
        CASE WHEN (CAST(m_blocks AS DOUBLE) - 1.0)
            / CAST(m_blocks AS DOUBLE)
            * list_reduce(list_transform(dl,
                x -> (x - jk_mean) * (x - jk_mean)), (a, x) -> a + x) > 0
          THEN d_stat / sqrt((CAST(m_blocks AS DOUBLE) - 1.0)
            / CAST(m_blocks AS DOUBLE)
            * list_reduce(list_transform(dl,
                x -> (x - jk_mean) * (x - jk_mean)), (a, x) -> a + x))
        END AS z_score
      FROM st"""
    }))

  // --- RUNS OF HOMOZYGOSITY per sample, allele-equality flavor (PLINK
  // --homozyg; Ceballos 2018) — q112/frohFromDosage's multiallelic-
  // correct sibling: hom = both alleles EQUAL (1/2 stays het even at
  // dosage 2), duplicate (pos, vid) loci collapsed first (which also
  // makes the rank-subtraction islands deterministic — see the
  // operator scaladoc), runs of >= 5 consecutive hom loci rolled up
  // per sample with positional spans. One locus aggregate + two
  // row_numbers over ONE (s, chrom) sort + two keyed aggregates —
  // never global. --------------------------------------------------------
  private val q312 = Q("q312_roh_runs",
    (s, dir) => {
      // rides the shared (s, chrom)-partitioned, (pos, vid)-sorted
      // site-flag substrate (one explode + one exchange + one sort for
      // the whole gaps-and-islands family — q332 consumes the same
      // cache); called = both alleles non-null, hom = allele equality,
      // exactly the projection the inline explode computed
      val sites = PopGen.siteFlagRows(SynthGeno.variants(s, dir))
        .filter(col("called"))
        .select(col("s"), col("chrom"), col("pos"), col("vid"),
          col("hom"))
      PopGen.rohRuns(sites, minSites = 5)
    },
    Some(withCte(s"""SELECT s, CAST(COUNT(*) AS BIGINT) AS n_runs,
        CAST(MAX(run_sites) AS BIGINT) AS max_run_sites,
        CAST(SUM(run_sites) AS BIGINT) AS roh_sites,
        CAST(SUM(p1 - p0) AS BIGINT) AS roh_span
      FROM (SELECT s, chrom, grp, COUNT(*) AS run_sites,
          MIN(pos) AS p0, MAX(pos) AS p1
        FROM (SELECT s, chrom, pos,
            rn_all - ROW_NUMBER() OVER (PARTITION BY s, chrom
              ORDER BY pos, vid) AS grp
          FROM (SELECT s, chrom, pos, vid, hom,
              ROW_NUMBER() OVER (PARTITION BY s, chrom
                ORDER BY pos, vid) AS rn_all
            FROM (SELECT s, chrom, pos, vid,
                MIN(CASE WHEN a0 = a1 THEN 1 ELSE 0 END) = 1 AS hom
              FROM (SELECT u.s AS s, chrom, pos, vid,
                  geno[CAST(u.s + 1 AS INT)][1] AS a0,
                  geno[CAST(u.s + 1 AS INT)][2] AS a1
                FROM variants, (SELECT unnest(range(0, $N)) AS s) u)
              WHERE a0 IS NOT NULL AND a1 IS NOT NULL
              GROUP BY 1, 2, 3, 4))
          WHERE hom)
        GROUP BY 1, 2, 3)
      WHERE run_sites >= 5
      GROUP BY s""")))

  // --- ALLELE-LEVEL MENDELIAN ERROR CHECK over two synthetic trios
  // (child 0 of parents 1,2; child 3 of parents 4,5) — q176's
  // dosage-rule sibling made multiallelic-correct: an unphased
  // diploid child is consistent iff one ALLELE matches each parent
  // under either assignment (the dosage rules cannot see, e.g., a
  // 0/2 child of 0/1 × 0/1 parents — allele 2 transmitted by
  // neither). Pure projection over the cube + one 2-key aggregate —
  // zero data-sized shuffles; rates are single divisions. ---------------
  private val q324 = Q("q324_mendel_errors",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      def a(i: Int, j: Int) =
        element_at(element_at(col("geno"), i + 1), j)
      def called(i: Int) = a(i, 1).isNotNull && a(i, 2).isNotNull
      def inG(c: org.apache.spark.sql.Column, p: Int) =
        c === a(p, 1) || c === a(p, 2)
      def consistent(ch: Int, p1: Int, p2: Int) =
        (inG(a(ch, 1), p1) && inG(a(ch, 2), p2)) ||
          (inG(a(ch, 2), p1) && inG(a(ch, 1), p2))
      // Both trios aggregate in ONE no-key pass over the cube (4 plain
      // sums with map-side partials); the 2-output-row fan happens on
      // the single result row. The previous explode(array(trio1,
      // trio2)) doubled every cube row through a Generate whose
      // inferred size>0 filter re-evaluated the computed array below
      // it, then paid a groupBy exchange for a 2-group aggregate.
      def trioSums(ch: Int, p1: Int, p2: Int) = {
        val tested = called(ch) && called(p1) && called(p2)
        (sum(when(tested, 1L).otherwise(0L)),
          sum(when(tested && !consistent(ch, p1, p2), 1L).otherwise(0L)))
      }
      val (t1n, t1e) = trioSums(0, 1, 2)
      val (t2n, t2e) = trioSums(3, 4, 5)
      v.agg(t1n.as("n1"), t1e.as("e1"), t2n.as("n2"), t2e.as("e2"))
        .select(explode(array(
          struct(lit(1L).as("trio"), col("n1").as("n_tested"),
            col("e1").as("n_errors")),
          struct(lit(2L).as("trio"), col("n2").as("n_tested"),
            col("e2").as("n_errors")))).as("e"))
        .select(col("e.trio").as("trio"), col("e.n_tested").as("n_tested"),
          col("e.n_errors").as("n_errors"))
        .withColumn("error_rate", when(col("n_tested") > 0,
          col("n_errors").cast("double") / col("n_tested").cast("double")))
    },
    Some(withCte("""SELECT trio,
        CAST(SUM(CASE WHEN tested THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tested,
        CAST(SUM(CASE WHEN err THEN 1 ELSE 0 END) AS BIGINT)
          AS n_errors,
        CASE WHEN SUM(CASE WHEN tested THEN 1 ELSE 0 END) > 0 THEN
          CAST(SUM(CASE WHEN err THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(SUM(CASE WHEN tested THEN 1 ELSE 0 END) AS DOUBLE)
          END AS error_rate
      FROM (SELECT trio,
          c1 IS NOT NULL AND c2 IS NOT NULL AND p11 IS NOT NULL
            AND p12 IS NOT NULL AND p21 IS NOT NULL AND p22 IS NOT NULL
            AS tested,
          CASE WHEN c1 IS NOT NULL AND c2 IS NOT NULL
              AND p11 IS NOT NULL AND p12 IS NOT NULL
              AND p21 IS NOT NULL AND p22 IS NOT NULL
            THEN NOT (((c1 = p11 OR c1 = p12)
                AND (c2 = p21 OR c2 = p22))
              OR ((c2 = p11 OR c2 = p12)
                AND (c1 = p21 OR c1 = p22)))
            ELSE FALSE END AS err
        FROM (SELECT t.trio AS trio,
            geno[t.ch][1] AS c1, geno[t.ch][2] AS c2,
            geno[t.p1][1] AS p11, geno[t.p1][2] AS p12,
            geno[t.p2][1] AS p21, geno[t.p2][2] AS p22
          FROM variants,
            (VALUES (1, 1, 2, 3), (2, 4, 5, 6))
              AS t(trio, ch, p1, p2)))
      GROUP BY trio""")))

  // --- COMPOUND-HETEROZYGOTE SCREEN (the rare-disease prioritization
  // step: a sample carrying >= 2 het variants in the same gene-sized
  // window may have both copies hit): explode ×S, one (s, chrom,
  // pos-div-10k window) keyed aggregate, report windows with >= 2
  // hets. The window key is positional, so parallelism is samples ×
  // windows — never a pair set. ----------------------------------------
  private val q327 = Q("q327_compound_het",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val sites = v
        .select(col("chrom"), col("pos"), col("vid"),
          posexplode_outer(col("geno")).as(Seq("s", "sa")))
        .withColumn("a0", element_at(col("sa"), 1))
        .withColumn("a1", element_at(col("sa"), 2))
        .filter(col("a0").isNotNull && col("a1").isNotNull
          && col("a0") =!= col("a1"))
      sites.groupBy(col("s"), col("chrom"),
          expr("pos div 10000").as("win"))
        .agg(count(lit(1)).as("n_het"),
          min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
        .filter(col("n_het") >= 2)
    },
    Some(withCte(s"""SELECT s, chrom, pos // 10000 AS win,
        CAST(COUNT(*) AS BIGINT) AS n_het,
        MIN(pos) AS first_pos, MAX(pos) AS last_pos
      FROM (SELECT u.s AS s, chrom, pos,
          geno[CAST(u.s + 1 AS INT)][1] AS a0,
          geno[CAST(u.s + 1 AS INT)][2] AS a1
        FROM variants, (SELECT unnest(range(0, $N)) AS s) u)
      WHERE a0 IS NOT NULL AND a1 IS NOT NULL AND a0 <> a1
      GROUP BY 1, 2, 3
      HAVING COUNT(*) >= 2""")))

  // --- SAMPLE-SWAP DETECTION (the cohort-QC step before any merge of
  // re-called data: does callset 2's sample j actually match callset
  // 1's sample i?): full 8×8 genotype concordance matrix between the
  // cube and its re-called twin (SynthGeno.variantsDup), unordered
  // allele-pair equality over sites called in both, then per-row-
  // sample the argmax column — a swap is best_j != i. The pair
  // explode is S², fine at cohort-QC sample counts; at biobank S,
  // band candidate pairs by a cheap per-sample sketch first (the
  // KING-prune discipline). All counters exact BIGINT; concordance is
  // one division. -------------------------------------------------------
  private val q328 = Q("q328_sample_swap",
    // packed per-sample codes (min·4+max, −1 missing — injective on the
    // unordered pair, so concordance compares one long per side): the
    // S² fan row drops from four nested element_at + least/greatest to
    // two flat element_at + two compares (SynthGeno.dupPackedCodes /
    // PopGen.sampleSwapScanCodes; DupSwapProjectionSpec pins codes == cube)
    (s, dir) => PopGen.sampleSwapScanCodes(
      SynthGeno.dupPackedCodes(s, dir), N),
    Some(s"""WITH variants AS (${SynthGeno.sqlCteDup})
      SELECT i, best_j, n_comp, n_same,
        CAST(n_same AS DOUBLE) / CAST(n_comp AS DOUBLE) AS concordance,
        best_j <> i AS swapped
      FROM (SELECT i,
          max_by(j, n_same * 1000000 + (999999 - j)) AS best_j,
          max_by(n_comp, n_same * 1000000 + (999999 - j)) AS n_comp,
          max_by(n_same, n_same * 1000000 + (999999 - j)) AS n_same
        FROM (SELECT i, j,
            CAST(SUM(CASE WHEN called THEN 1 ELSE 0 END) AS BIGINT)
              AS n_comp,
            CAST(SUM(CASE WHEN same THEN 1 ELSE 0 END) AS BIGINT)
              AS n_same
          FROM (SELECT i, j,
              ga[1] IS NOT NULL AND ga[2] IS NOT NULL
                AND gb[1] IS NOT NULL AND gb[2] IS NOT NULL AS called,
              ga[1] IS NOT NULL AND ga[2] IS NOT NULL
                AND gb[1] IS NOT NULL AND gb[2] IS NOT NULL
                AND LEAST(ga[1], ga[2]) = LEAST(gb[1], gb[2])
                AND GREATEST(ga[1], ga[2]) = GREATEST(gb[1], gb[2])
                AS same
            FROM (SELECT
                geno[CAST(p.i + 1 AS INT)] AS ga,
                geno2[CAST(p.j + 1 AS INT)] AS gb, p.i, p.j
              FROM variants,
                (SELECT i.i, j.j
                 FROM (SELECT unnest(range(0, $N)) AS i) i,
                      (SELECT unnest(range(0, $N)) AS j) j) p))
          GROUP BY i, j)
        GROUP BY i)"""))

  // --- PHASE-BLOCK N50 (the phasing-quality headline number reported
  // by every phasing tool alongside q276's switch error): per sample,
  // maximal stretches of consecutive PHASED loci (same locus-collapse
  // + gaps-and-islands discipline as q312 — a locus counts phased
  // only if ALL its duplicate calls are), then the N50 over each
  // sample's block-length list via a per-sample desc-sorted cumsum —
  // a window over #blocks-sized summaries, never data-global. -----------
  private val q332 = Q("q332_phase_block_n50",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // rides the shared site-flag substrate (see q312): the locus
      // collapse becomes MIN(ph) over the duplicate group — exactly the
      // oracle's GROUP BY + MIN — as a full-frame window min plus a
      // tie-break-free first-row pick, so every window here needs only
      // the substrate's cached (s, chrom, pos, vid) sort: zero
      // exchanges or sorts up to the block rollup
      val sites = PopGen.siteFlagRows(SynthGeno.variants(s, dir))
      val wLocus = Window.partitionBy(col("s"), col("chrom"),
        col("pos"), col("vid"))
      val lkey = struct(col("pos"), col("vid"))
      val w = Window.partitionBy(col("s"), col("chrom"))
        .orderBy(col("pos"), col("vid"))
      val blocks = sites
        .withColumn("__ph", min(col("ph")).over(wLocus))
        .withColumn("__first",
          coalesce(lag(lkey, 1).over(w) =!= lkey, lit(true)))
        .filter(col("__first"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__ph"))
        .withColumn("__grp", col("__rn") - row_number().over(w))
        .groupBy(col("s"), col("chrom"), col("__grp"))
        .agg(count(lit(1)).as("len"))
      val wCum = Window.partitionBy(col("s"))
        .orderBy(col("len").desc, col("chrom"), col("__grp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("s"))
      blocks
        .withColumn("cum", sum(col("len")).over(wCum))
        .withColumn("tot", sum(col("len")).over(wTot))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("n_blocks"),
          max(col("len")).as("max_block"),
          max(col("tot")).as("phased_sites"),
          max(when(col("cum") * 2 >= col("tot"), col("len")))
            .as("n50"))
    },
    Some(withCte(s"""SELECT s, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        CAST(MAX(len) AS BIGINT) AS max_block,
        CAST(MAX(tot) AS BIGINT) AS phased_sites,
        CAST(MAX(CASE WHEN cum * 2 >= tot THEN len END) AS BIGINT)
          AS n50
      FROM (SELECT s, len,
          SUM(len) OVER (PARTITION BY s ORDER BY len DESC, chrom, grp
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(len) OVER (PARTITION BY s) AS tot
        FROM (SELECT s, chrom, grp, COUNT(*) AS len
          FROM (SELECT s, chrom,
              rn_all - ROW_NUMBER() OVER (PARTITION BY s, chrom
                ORDER BY pos, vid) AS grp, ph
            FROM (SELECT s, chrom, pos, vid, ph,
                ROW_NUMBER() OVER (PARTITION BY s, chrom
                  ORDER BY pos, vid) AS rn_all
              FROM (SELECT s, chrom, pos, vid,
                  MIN(CASE WHEN ph THEN 1 ELSE 0 END) = 1 AS ph
                FROM (SELECT u.s AS s, chrom, pos, vid,
                    phased[CAST(u.s + 1 AS INT)] AS ph
                  FROM variants,
                    (SELECT unnest(range(0, $N)) AS s) u)
                GROUP BY 1, 2, 3, 4))
            WHERE ph)
          GROUP BY 1, 2, 3))
      GROUP BY s""")))

  // --- IMPUTATION QUALITY dosage-r² (the INFO-score analog every
  // imputation/recall pipeline gates on — squared Pearson between the
  // cube's ALT dosage and its re-called twin's, per variant, over
  // samples called in BOTH): statically-unrolled exact BIGINT sums
  // (n, Σx, Σy, Σxy, Σx², Σy²) as a pure projection, then ONE
  // variant-keyed exchange merging duplicate-vid calls (the oracle's
  // GROUP BY vid); r² is one division of integer cross-products. --------
  private val q333 = Q("q333_imputation_r2",
    (s, dir) => {
      val v = SynthGeno.variantsDup(s, dir)
      // ONE fused codegen kernel for the six pairwise-complete sums —
      // the statically-unrolled 6-statistic × S-sample element_at CASE
      // trees it replaces were O(S) plan nodes and re-walked both cube
      // rows per statistic (DupPairStatsExpr; differential-tested
      // against the unrolled original under both execution modes)
      val st = org.apache.spark.sql.graft.Bridge.column(
        graft.functions.expressions.DupPairStatsExpr(
          org.apache.spark.sql.graft.Bridge.expression(col("geno")),
          org.apache.spark.sql.graft.Bridge.expression(col("geno2"))))
      v.select(col("vid"), st.as("st"))
        .select(col("vid"),
          element_at(col("st"), 1).as("n0"),
          element_at(col("st"), 2).as("sx0"),
          element_at(col("st"), 3).as("sy0"),
          element_at(col("st"), 4).as("sxy0"),
          element_at(col("st"), 5).as("sxx0"),
          element_at(col("st"), 6).as("syy0"))
        // duplicate vids merge (the oracle's GROUP BY vid): one
        // variant-keyed exchange with map-side combine
        .groupBy(col("vid"))
        .agg(sum(col("n0")).as("n"), sum(col("sx0")).as("sx"),
          sum(col("sy0")).as("sy"), sum(col("sxy0")).as("sxy"),
          sum(col("sxx0")).as("sxx"), sum(col("syy0")).as("syy"))
        .withColumn("r2", when(
          (col("n") * col("sxx") - col("sx") * col("sx")) =!= 0 &&
            (col("n") * col("syy") - col("sy") * col("sy")) =!= 0,
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            * (col("n") * col("sxy") - col("sx") * col("sy")))
            .cast("double")
            / ((col("n") * col("sxx") - col("sx") * col("sx"))
              * (col("n") * col("syy") - col("sy") * col("sy")))
              .cast("double")))
    },
    Some(s"""WITH variants AS (${SynthGeno.sqlCteDup}),
      t AS (SELECT vid, u.s AS s,
          geno[CAST(u.s + 1 AS INT)][1] AS xa,
          geno[CAST(u.s + 1 AS INT)][2] AS xb,
          geno2[CAST(u.s + 1 AS INT)][1] AS ya,
          geno2[CAST(u.s + 1 AS INT)][2] AS yb
        FROM variants, (SELECT unnest(range(0, $N)) AS s) u),
      d AS (SELECT vid,
          xa IS NOT NULL AND xb IS NOT NULL
            AND ya IS NOT NULL AND yb IS NOT NULL AS bc,
          CASE WHEN xa <> 0 THEN 1 ELSE 0 END
            + CASE WHEN xb <> 0 THEN 1 ELSE 0 END AS dx,
          CASE WHEN ya <> 0 THEN 1 ELSE 0 END
            + CASE WHEN yb <> 0 THEN 1 ELSE 0 END AS dy
        FROM t),
      agg AS (SELECT vid,
          CAST(SUM(CASE WHEN bc THEN 1 ELSE 0 END) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN bc THEN dx ELSE 0 END) AS BIGINT) AS sx,
          CAST(SUM(CASE WHEN bc THEN dy ELSE 0 END) AS BIGINT) AS sy,
          CAST(SUM(CASE WHEN bc THEN dx * dy ELSE 0 END) AS BIGINT)
            AS sxy,
          CAST(SUM(CASE WHEN bc THEN dx * dx ELSE 0 END) AS BIGINT)
            AS sxx,
          CAST(SUM(CASE WHEN bc THEN dy * dy ELSE 0 END) AS BIGINT)
            AS syy
        FROM d GROUP BY vid)
      SELECT vid, n, sx, sy, sxy, sxx, syy,
        CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
          THEN CAST((n * sxy - sx * sy) * (n * sxy - sx * sy)
              AS DOUBLE)
            / CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)
          END AS r2
      FROM agg"""))

  // --- q348: PRIVATE ALLELES per population (the classic diversity
  // partition next to Fst/joint-SFS: how many comparable sites carry
  // alt mass in ONLY one population) — exact integer classification
  // per variant over pairwise-callable sites, one chrom-keyed
  // aggregate, zero joins. -----------------------------------------------
  private val q348 = Q("q348_private_alleles",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
        .select(col("chrom"), dosageAlt(col("geno")).as("d"))
      // fused kernels with 0/1 population-indicator weights: sw = per-
      // population called count, swx = per-population alt sum — O(1)
      // plan nodes at any cohort width (the round-9 verdict's
      // unrolled-reduce fix)
      def ind(r: Range) = (0 until N).map(i => if (r.contains(i)) 1L else 0L)
      // pinned: a plain filter on these kernel-derived aliases pushes
      // below the repartition and re-inlines the whole cube + kernel
      // per predicate term ON THE SINGLE-TASK SCAN (measured 2.6 s →
      // 22 s at sf0.1) — the q126/windowedFst lesson
      PopGen.pinnedFilter(
        v.withColumn("__s0", dosageWeightedStats(col("d"), ind(0 until N / 2)))
          .withColumn("__s1", dosageWeightedStats(col("d"), ind(N / 2 until N)))
          .withColumn("a0", element_at(col("__s0"), 5))
          .withColumn("a1", element_at(col("__s1"), 5))
          .withColumn("c0", element_at(col("__s0"), 4))
          .withColumn("c1", element_at(col("__s1"), 4)),
        col("c0") > 0 && col("c1") > 0)
        .groupBy(col("chrom"))
        .agg(count(lit(1)).as("n_sites"),
          sum(when(col("a0") > 0 && col("a1") === 0, 1L).otherwise(0L))
            .as("private_p0"),
          sum(when(col("a1") > 0 && col("a0") === 0, 1L).otherwise(0L))
            .as("private_p1"),
          sum(when(col("a0") > 0 && col("a1") > 0, 1L).otherwise(0L))
            .as("shared_poly"),
          sum(when(col("a0") === 0 && col("a1") === 0, 1L).otherwise(0L))
            .as("mono"))
    },
    Some(withCte(s"""SELECT chrom,
        CAST(COUNT(*) AS BIGINT) AS n_sites,
        CAST(SUM(CASE WHEN a0 > 0 AND a1 = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS private_p0,
        CAST(SUM(CASE WHEN a1 > 0 AND a0 = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS private_p1,
        CAST(SUM(CASE WHEN a0 > 0 AND a1 > 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS shared_poly,
        CAST(SUM(CASE WHEN a0 = 0 AND a1 = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS mono
      FROM (SELECT chrom,
          CAST(COALESCE(list_sum(list_filter(d[1:${N / 2}],
            x -> x IS NOT NULL)), 0) AS BIGINT) AS a0,
          CAST(COALESCE(list_sum(list_filter(d[${N / 2 + 1}:$N],
            x -> x IS NOT NULL)), 0) AS BIGINT) AS a1,
          len(list_filter(d[1:${N / 2}], x -> x IS NOT NULL)) AS c0,
          len(list_filter(d[${N / 2 + 1}:$N], x -> x IS NOT NULL)) AS c1
        FROM (SELECT chrom, $dSql AS d FROM variants))
      WHERE c0 > 0 AND c1 > 0
      GROUP BY chrom""")))

  // --- phasing SWITCH-ERROR rate (the phasing-tool benchmark metric —
  // Browning 2011): the truth callset's per-sample haplotype
  // orientations vs a deterministically perturbed re-phasing (flip at
  // pos % 7 = 0 — the query builds both orientation streams from ONE
  // scan, so duplicate vids never need a join match), switches counted
  // where the relative phase of adjacent phased-het sites changes.
  // One (sample, chrom)-partitioned window; exact counts, one division
  // per sample. ---------------------------------------------------------
  private val q276 = Q("q276_switch_error",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      // posexplode_OUTER: the plain generate gets an inferred
      // size(geno) > 0 filter whose pushed copy re-evaluates the whole
      // synthetic cube expression below the fan-out (the q124/q312
      // class); outer semantics are identical here — the null row an
      // empty geno would emit is dropped by the a0/a1 filter
      val sites = v
        .select(col("chrom"), col("pos"), col("vid"), col("phased"),
          posexplode_outer(col("geno")).as(Seq("s", "sa")))
        .withColumn("a0", element_at(col("sa"), 1))
        .withColumn("a1", element_at(col("sa"), 2))
        .filter(element_at(col("phased"), (col("s") + 1).cast("int"))
          && col("a0").isNotNull && col("a1").isNotNull
          && col("a0") =!= col("a1"))
        .withColumn("o_true", col("a0") > col("a1"))
        .withColumn("o_test",
          col("o_true") =!= (col("pos") % 7 === 0))
        .select(col("s"), col("chrom"), col("pos"), col("vid"),
          col("o_true"), col("o_test"))
      PopGen.switchError(sites)
    },
    Some(withCte(s"""SELECT s, CAST(COUNT(*) AS BIGINT) AS n_het,
        CAST(SUM(CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pairs,
        CAST(SUM(CASE WHEN pd IS NOT NULL AND d <> pd THEN 1 ELSE 0 END)
          AS BIGINT) AS n_switches,
        CASE WHEN SUM(CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END) > 0
          THEN CAST(SUM(CASE WHEN pd IS NOT NULL AND d <> pd
              THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(SUM(CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) END AS switch_rate
      FROM (SELECT s, d,
          LAG(d, 1) OVER (PARTITION BY s, chrom
            ORDER BY pos, vid, o_true, o_test) AS pd
        FROM (SELECT s, chrom, pos, vid, o_true, o_test,
            o_true <> o_test AS d
          FROM (SELECT chrom, pos, vid, u.s AS s,
              geno[CAST(u.s + 1 AS INT)][1] AS a0,
              geno[CAST(u.s + 1 AS INT)][2] AS a1,
              phased[CAST(u.s + 1 AS INT)] AS ph,
              a0 > a1 AS o_true,
              (a0 > a1) <> (pos % 7 = 0) AS o_test
            FROM variants, (SELECT unnest(range(0, $N)) AS s) u)
          WHERE ph AND a0 IS NOT NULL AND a1 IS NOT NULL AND a0 <> a1))
      GROUP BY s""")))

  // --- f2 (doubleton) sharing: biallelic sites with total alt dosage
  // exactly 2 — two het carriers (i < j, the recent-shared-ancestry
  // signal) or one hom-alt carrier (i == j). Carrier pair = (min, max)
  // index with d > 0; one groupBy on ≤ S(S+1)/2 pair keys. ------------
  private val q181 = Q("q181_f2_sharing",
    (s, dir) => PopGen.f2Sharing(
      SynthGeno.variants(s, dir)
        .select(col("vid"), col("nall"), dosageAlt(col("geno")).as("d")),
      N),
    Some(withCte(s"""SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_f2
      FROM (SELECT list_min(cs) AS i, list_max(cs) AS j
        FROM (SELECT
            list_filter(list_transform(range(0, $N),
              s -> CASE WHEN d[s + 1] > 0 THEN s END),
              x -> x IS NOT NULL) AS cs,
            CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
              AS BIGINT) AS a2,
            nall
          FROM (SELECT nall, $dSql AS d FROM variants))
        WHERE nall = 2 AND a2 = 2)
      GROUP BY i, j""")))

  // --- Garud H1/H2/H12 per window (soft-sweep scan): window haplotype
  // strings per slot ordered by (pos, vid, allele), counts c₁ ≥ c₂ ≥ …,
  // all numerators exact BIGINTs over the constant H² = (2N)². --------
  private val q182 = Q("q182_garud_h",
    (s, dir) => PopGen.garudH(
      SynthGeno.variants(s, dir)
        .select(col("chrom"), col("pos"), col("vid"), col("geno")),
      FST_WIN, N),
    Some(withCte {
      val hh = (2 * N) * (2 * N)
      s""", slots AS (
        SELECT chrom, CAST(pos // $FST_WIN AS BIGINT) AS win, pos, vid,
          t.s AS slot,
          COALESCE(CAST(geno[CAST(t.s // 2 AS INT) + 1]
            [CAST(t.s % 2 AS INT) + 1] AS VARCHAR), 'm') AS a
        FROM variants, (SELECT unnest(range(0, ${2 * N})) AS s) t),
      haps AS (
        SELECT chrom, win, slot,
          string_agg(a, ',' ORDER BY pos, vid, a) AS hap
        FROM slots GROUP BY 1, 2, 3),
      counts AS (
        SELECT chrom, win, hap, CAST(COUNT(*) AS BIGINT) AS c
        FROM haps GROUP BY 1, 2, 3),
      agg AS (
        SELECT chrom, win, CAST(COUNT(*) AS BIGINT) AS n_hap,
          CAST(SUM(c * c) AS BIGINT) AS ssq,
          list_sort(list(c), 'DESC') AS cs
        FROM counts GROUP BY 1, 2)
      SELECT chrom, win, n_hap, cs[1] AS c1,
        COALESCE(cs[2], 0) AS c2, ssq,
        CAST(ssq AS DOUBLE) / $hh.0 AS h1,
        CAST(ssq - cs[1] * cs[1] AS DOUBLE) / $hh.0 AS h2,
        CAST(ssq + 2 * cs[1] * COALESCE(cs[2], 0) AS DOUBLE) / $hh.0
          AS h12
      FROM agg"""
    }))

  // --- window-indexed LD clumping (PLINK --clump, window-local):
  // index = max (minor-allele count, vid) per (chrom, pos div W) cell;
  // every member reports exact pairwise-complete r² with its index —
  // all-BIGINT numerators, one division — and a clumped flag. ---------
  private val q183 = Q("q183_clump_lite",
    (s, dir) => PopGen.clumpLite(
      SynthGeno.variants(s, dir)
        .select(col("vid"), col("chrom"), col("pos"),
          dosageAlt(col("geno")).as("d")),
      FST_WIN, 0.5, N),
    Some(withCte {
      def pairChain(f: Int => String) =
        (0 until N).map(f).mkString(" + ")
      val bc = (i: Int) =>
        s"d[${i + 1}] IS NOT NULL AND d_ix[${i + 1}] IS NOT NULL"
      s""", dz AS (SELECT vid, chrom, pos,
          CAST(pos // $FST_WIN AS BIGINT) AS win, $dSql AS d
        FROM variants),
      st AS (SELECT vid, chrom, win, d,
          CAST(len(list_filter(d, x -> x IS NOT NULL)) AS BIGINT) AS n_c,
          CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
            AS BIGINT) AS a_c
        FROM dz),
      st2 AS (SELECT vid, chrom, win, d,
          LEAST(a_c, 2 * n_c - a_c) AS mac,
          ${(0 until N).map(s =>
            s"COALESCE(d[${s + 1}], 4) * ${math.pow(5, s).toLong}")
            .mkString(" + ")} AS fp
        FROM st),
      ix AS (SELECT chrom, win, vid AS index_vid, d AS d_ix
        FROM (SELECT *, row_number() OVER (PARTITION BY chrom, win
            ORDER BY mac DESC, vid DESC, fp DESC) AS rn FROM st2)
        WHERE rn = 1),
      pr AS (SELECT st2.vid, st2.chrom, st2.win, ix.index_vid, st2.mac,
          ${pairChain(i => s"CASE WHEN ${bc(i)} THEN 1 ELSE 0 END")} AS nn,
          ${pairChain(i =>
            s"CASE WHEN ${bc(i)} THEN d[${i + 1}] ELSE 0 END")} AS sx,
          ${pairChain(i =>
            s"CASE WHEN ${bc(i)} THEN d_ix[${i + 1}] ELSE 0 END")} AS sy,
          ${pairChain(i => s"CASE WHEN ${bc(i)} THEN d[${i + 1}] " +
            s"* d_ix[${i + 1}] ELSE 0 END")} AS sxy,
          ${pairChain(i => s"CASE WHEN ${bc(i)} THEN d[${i + 1}] " +
            s"* d[${i + 1}] ELSE 0 END")} AS sxx,
          ${pairChain(i => s"CASE WHEN ${bc(i)} THEN d_ix[${i + 1}] " +
            s"* d_ix[${i + 1}] ELSE 0 END")} AS syy
        FROM st2 JOIN ix ON st2.chrom = ix.chrom AND st2.win = ix.win)
      SELECT vid, chrom, win, index_vid, mac,
        CASE WHEN vid <> index_vid AND nn * sxx - sx * sx > 0
            AND nn * syy - sy * sy > 0
          THEN CAST((nn * sxy - sx * sy) * (nn * sxy - sx * sy) AS DOUBLE)
            / CAST((nn * sxx - sx * sx) * (nn * syy - sy * sy) AS DOUBLE)
        END AS r2,
        vid = index_vid AS is_index,
        COALESCE(vid = index_vid OR
          CASE WHEN vid <> index_vid AND nn * sxx - sx * sx > 0
              AND nn * syy - sy * sy > 0
            THEN CAST((nn * sxy - sx * sy) * (nn * sxy - sx * sy)
                AS DOUBLE)
              / CAST((nn * sxx - sx * sx) * (nn * syy - sy * sy)
                AS DOUBLE)
          END >= 0.5, FALSE) AS clumped
      FROM pr"""
    }))

  // --- duplicate-sample genotype concordance: the re-called twin cube
  // rides the SAME lineitem scan (no join, vids never matched); per
  // sample, unordered-genotype matches over fully-called-in-both sites,
  // one final division. -----------------------------------------------
  private val q184 = Q("q184_dup_concordance",
    (s, dir) => PopGen.dupConcordance(
      SynthGeno.variantsDup(s, dir)
        .select(col("vid"), col("geno"), col("geno2")),
      N),
    Some(s"""WITH variants AS (${SynthGeno.sqlCteDup})
      SELECT i, CAST(SUM(comp) AS BIGINT) AS n_comp,
        CAST(SUM(m) AS BIGINT) AS n_match,
        CASE WHEN SUM(comp) > 0
          THEN CAST(SUM(m) AS DOUBLE) / CAST(SUM(comp) AS DOUBLE)
        END AS concordance
      FROM (SELECT s AS i,
          CASE WHEN ga[1] IS NOT NULL AND ga[2] IS NOT NULL
            AND gb[1] IS NOT NULL AND gb[2] IS NOT NULL
            THEN 1 ELSE 0 END AS comp,
          CASE WHEN ga[1] IS NOT NULL AND ga[2] IS NOT NULL
            AND gb[1] IS NOT NULL AND gb[2] IS NOT NULL
            AND LEAST(ga[1], ga[2]) = LEAST(gb[1], gb[2])
            AND GREATEST(ga[1], ga[2]) = GREATEST(gb[1], gb[2])
            THEN 1 ELSE 0 END AS m
        FROM (SELECT t.s AS s,
            geno[CAST(t.s AS INT) + 1] AS ga,
            geno2[CAST(t.s AS INT) + 1] AS gb
          FROM variants, (SELECT unnest(range(0, $N)) AS s) t))
      GROUP BY i"""))

  // --- differential missingness between sample halves (PLINK
  // --test-missing, the batch-effect QC): per-variant 2×2 Pearson χ²
  // over missing/called × group — all-BIGINT numerator, one division,
  // NULL on empty margins. Pure projection. ----------------------------
  private val q190 = Q("q190_diff_missing",
    (s, dir) => PopGen.diffMissing(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      0 until N / 2, N / 2 until N),
    Some(withCte(s"""SELECT vid, m1, m2,
      CASE WHEN (m1 + c1) * (m2 + c2) * (m1 + m2) * (c1 + c2) > 0 THEN
        CAST($N * (m1 * c2 - m2 * c1) * (m1 * c2 - m2 * c1) AS DOUBLE)
          / CAST((m1 + c1) * (m2 + c2) * (m1 + m2) * (c1 + c2)
            AS DOUBLE) END AS chi2_miss
      FROM (SELECT vid, m1, m2,
          ${N / 2} - m1 AS c1, ${N / 2} - m2 AS c2
        FROM (SELECT vid,
            CAST(len(list_filter(d[1:${N / 2}], x -> x IS NULL))
              AS BIGINT) AS m1,
            CAST(len(list_filter(d[${N / 2 + 1}:$N], x -> x IS NULL))
              AS BIGINT) AS m2
          FROM (SELECT vid, $dSql AS d FROM variants)))""")))

  // --- per-sample singleton load (rare-variant / error-rate QC): the
  // variants where a sample carries the ENTIRE alt mass — het
  // singletons (d = a = 1) and hom private doubletons (d = a = 2). ----
  private val q192 = Q("q192_singleton_load",
    (s, dir) => PopGen.singletonLoad(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N),
    Some(withCte(s"""SELECT i,
      CAST(SUM(sh) AS BIGINT) AS n_singleton_het,
      CAST(SUM(sm) AS BIGINT) AS n_singleton_hom,
      CAST(SUM(sh) + SUM(sm) AS BIGINT) AS n_singleton
      FROM (SELECT t.s AS i,
          CASE WHEN d[CAST(t.s AS INT) + 1] = a
            AND d[CAST(t.s AS INT) + 1] = 1 THEN 1 ELSE 0 END AS sh,
          CASE WHEN d[CAST(t.s AS INT) + 1] = a
            AND d[CAST(t.s AS INT) + 1] = 2 THEN 1 ELSE 0 END AS sm
        FROM (SELECT d,
            CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)),
              0) AS BIGINT) AS a
          FROM (SELECT $dSql AS d FROM variants)),
          (SELECT unnest(range(0, $N)) AS s) t)
      GROUP BY i""")))

  // --- allele-frequency concordance between the two twin callsets (the
  // panel / re-call QC): per chrom, exact BIGINT moment sums of the two
  // per-variant alt-allele counts; Pearson r assembled from them in one
  // fixed-order double expression (num / (√dx·√dy)). -------------------
  private val q191 = Q("q191_af_concordance",
    // direct-from-hash alt counts: one flat integer projection instead
    // of building both nested cubes per row only to element_at every
    // cell back out (see SynthGeno.dupAltCounts; counts identical by
    // construction, oracle unchanged)
    (s, dir) => PopGen.afConcordance(SynthGeno.dupAltCounts(s, dir)),
    Some(s"""WITH variants AS (${SynthGeno.sqlCteDup}),
      ct AS (SELECT chrom,
          CAST(len(list_filter(flatten(geno),
            x -> x IS NOT NULL AND x <> 0)) AS BIGINT) AS a1,
          CAST(len(list_filter(flatten(geno2),
            x -> x IS NOT NULL AND x <> 0)) AS BIGINT) AS a2
        FROM variants),
      ag AS (SELECT chrom, CAST(COUNT(*) AS BIGINT) AS n_var,
          CAST(SUM(a1) AS BIGINT) AS sx, CAST(SUM(a2) AS BIGINT) AS sy,
          CAST(SUM(a1 * a2) AS BIGINT) AS sxy,
          CAST(SUM(a1 * a1) AS BIGINT) AS sxx,
          CAST(SUM(a2 * a2) AS BIGINT) AS syy
        FROM ct GROUP BY chrom)
      SELECT chrom, n_var, sx, sy, sxy, sxx, syy,
        CASE WHEN n_var * sxx - sx * sx > 0 AND n_var * syy - sy * sy > 0
          THEN CAST(n_var * sxy - sx * sy AS DOUBLE)
            / (sqrt(CAST(n_var * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n_var * syy - sy * sy AS DOUBLE)))
        END AS af_corr
      FROM ag"""))

  // --- compound-heterozygote candidate windows (rare-disease screen:
  // ≥ 2 hets in one gene-sized window on one sample). -------------------
  private val q196 = Q("q196_compound_het",
    (s, dir) => PopGen.compoundHet(
      SynthGeno.variants(s, dir)
        .select(col("chrom"), col("pos"), dosageAlt(col("geno")).as("d")),
      FST_WIN, N),
    Some(withCte(s"""SELECT i, chrom, win,
      CAST(SUM(h) AS BIGINT) AS n_het,
      SUM(h) >= 2 AS compound_het
      FROM (SELECT t.s AS i, chrom,
          CAST(pos // $FST_WIN AS BIGINT) AS win,
          CASE WHEN d[CAST(t.s AS INT) + 1] = 1 THEN 1 ELSE 0 END AS h
        FROM (SELECT chrom, pos, $dSql AS d FROM variants),
          (SELECT unnest(range(0, $N)) AS s) t)
      GROUP BY 1, 2, 3
      HAVING SUM(h) >= 1""")))

  // --- clumping + thresholding polygenic score (C+T, unit risk-allele
  // weights — every sum an exact BIGINT): per window cell the top
  // trend-χ² variant (ties by vid, dosage fingerprint — identical
  // doubles from identical integer moments rank identically in any
  // engine), kept when χ² ≥ 3.0; samples score risk-allele dosage over
  // their called selected variants. ------------------------------------
  private val q197 = Q("q197_prs_ct",
    // rides the vid-keyed dosage barrier: the argmax window's sort and
    // the stats projection both consume d, and without the barrier each
    // re-evaluated the expression-generated cube (SynthGeno.dosageRows)
    (s, dir) => PopGen.prsClumpThreshold(
      SynthGeno.dosageRows(s, dir), phenoCase, FST_WIN, 3.0),
    Some(withCte {
      val caseIdx = phenoCase.zipWithIndex.filter(_._1).map(_._2)
      val rSql = caseIdx
        .map(i => s"(CASE WHEN d[${i + 1}] IS NOT NULL THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val sxcSql = caseIdx.map(i => s"COALESCE(d[${i + 1}], 0)")
        .mkString(" + ")
      val fpSql = (0 until N).map(i =>
        s"COALESCE(d[${i + 1}], 4) * ${math.pow(5, i).toLong}")
        .mkString(" + ")
      s""", dz AS (SELECT vid, chrom,
          CAST(pos // $FST_WIN AS BIGINT) AS win, $dSql AS d
        FROM variants),
      st AS (SELECT vid, chrom, win, d,
          CAST(len(list_filter(d, x -> x IS NOT NULL)) AS BIGINT) AS n,
          CAST($rSql AS BIGINT) AS r,
          CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
            AS BIGINT) AS sx,
          CAST($sxcSql AS BIGINT) AS sx_case,
          CAST(COALESCE(list_sum(list_transform(
              list_filter(d, x -> x IS NOT NULL), x -> x*x)), 0)
            AS BIGINT) AS sxx,
          CAST($fpSql AS BIGINT) AS fp
        FROM dz),
      st2 AS (SELECT *, n * sx_case - r * sx AS u,
          r * (n - r) * (n * sxx - sx * sx) AS v_i,
          CASE WHEN r * (n - r) * (n * sxx - sx * sx) > 0
            THEN CAST(n * (n*sx_case - r*sx) * (n*sx_case - r*sx)
                AS DOUBLE)
              / CAST(r * (n - r) * (n * sxx - sx * sx) AS DOUBLE)
            ELSE -1.0 END AS chi2
        FROM st),
      ix AS (SELECT u, d FROM (SELECT *, row_number() OVER (
            PARTITION BY chrom, win
            ORDER BY chi2 DESC, vid DESC, fp DESC) AS rn FROM st2)
        WHERE rn = 1 AND chi2 >= 3.0),
      sc AS (SELECT t.s AS i,
          CASE WHEN d[CAST(t.s AS INT) + 1] IS NOT NULL
            THEN 1 ELSE 0 END AS used,
          CASE WHEN d[CAST(t.s AS INT) + 1] IS NULL THEN 0
            WHEN u >= 0 THEN d[CAST(t.s AS INT) + 1]
            ELSE 2 - d[CAST(t.s AS INT) + 1] END AS sc
        FROM ix, (SELECT unnest(range(0, $N)) AS s) t)
      SELECT i, CAST(SUM(used) AS BIGINT) AS n_used,
        CAST(SUM(sc) AS BIGINT) AS score
      FROM sc GROUP BY i"""
    }))

  // --- Patterson D (ABBA–BABA) per chromosome across four 2-sample
  // panels (P1, P2, P3, Outgroup = sample quarters): exact lcm⁴-scaled
  // BIGINT ABBA/BABA sums, one final division — see PopGen.dStat. -----
  private val q203 = Q("q203_dstat",
    (s, dir) => PopGen.dStat(
      SynthGeno.variants(s, dir)
        .select(col("chrom"), col("geno")),
      0 until N / 4, N / 4 until N / 2,
      N / 2 until 3 * N / 4, 3 * N / 4 until N),
    Some(withCte {
      val l = PopGen.piScale(N / 4 * 2)
      val scale = l * l * l * l
      s"""SELECT chrom, n_sites, abba_num, baba_num,
        CASE WHEN abba_num + baba_num <> 0
          THEN CAST(abba_num - baba_num AS DOUBLE)
            / CAST(abba_num + baba_num AS DOUBLE) END AS d_stat
      FROM (SELECT chrom, CAST(COUNT(*) AS BIGINT) AS n_sites,
          CAST(SUM((n1-a1) * a2 * a3 * (n4-a4)
            * ($scale // (n1*n2*n3*n4))) AS BIGINT) AS abba_num,
          CAST(SUM(a1 * (n2-a2) * a3 * (n4-a4)
            * ($scale // (n1*n2*n3*n4))) AS BIGINT) AS baba_num
        FROM (SELECT * FROM (SELECT chrom,
            CAST(len(list_filter(f1, a -> a IS NOT NULL)) AS BIGINT)
              AS n1,
            CAST(len(list_filter(f2, a -> a IS NOT NULL)) AS BIGINT)
              AS n2,
            CAST(len(list_filter(f3, a -> a IS NOT NULL)) AS BIGINT)
              AS n3,
            CAST(len(list_filter(f4, a -> a IS NOT NULL)) AS BIGINT)
              AS n4,
            CAST(len(list_filter(f1, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a1,
            CAST(len(list_filter(f2, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a2,
            CAST(len(list_filter(f3, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a3,
            CAST(len(list_filter(f4, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a4
          FROM (SELECT chrom,
              flatten(geno[1:${N / 4}]) AS f1,
              flatten(geno[${N / 4 + 1}:${N / 2}]) AS f2,
              flatten(geno[${N / 2 + 1}:${3 * N / 4}]) AS f3,
              flatten(geno[${3 * N / 4 + 1}:$N]) AS f4
            FROM variants))
          WHERE n1 >= 1 AND n2 >= 1 AND n3 >= 1 AND n4 >= 1)
        GROUP BY 1)"""
    }))

  // --- f3(C; A, B) admixture test per chromosome (C = first sample
  // quarter, A/B the next two): exact lcm⁵-scaled numerator sum with
  // the unbiased h_C/n_C correction, one division — PopGen.f3Stat. ----
  private val q204 = Q("q204_f3stat",
    (s, dir) => PopGen.f3Stat(
      SynthGeno.variants(s, dir)
        .select(col("chrom"), col("geno")),
      0 until N / 4, N / 4 until N / 2, N / 2 until 3 * N / 4),
    Some(withCte {
      val l = PopGen.piScale(N / 4 * 2)
      val scale = l * l * l * l * l
      s"""SELECT chrom, n_sites, f3_num,
        CAST(f3_num AS DOUBLE)
          / CAST(n_sites * $scale AS DOUBLE) AS f3
      FROM (SELECT chrom, CAST(COUNT(*) AS BIGINT) AS n_sites,
          CAST(SUM(((xc*na - xa*nc) * (xc*nb - xb*nc) * (nc-1)
              - xc * (nc-xc) * na * nb)
            * ($scale // (nc*nc*na*nb*(nc-1)))) AS BIGINT) AS f3_num
        FROM (SELECT * FROM (SELECT chrom,
            CAST(len(list_filter(fc, a -> a IS NOT NULL)) AS BIGINT)
              AS nc,
            CAST(len(list_filter(fa, a -> a IS NOT NULL)) AS BIGINT)
              AS na,
            CAST(len(list_filter(fb, a -> a IS NOT NULL)) AS BIGINT)
              AS nb,
            CAST(len(list_filter(fc, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS xc,
            CAST(len(list_filter(fa, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS xa,
            CAST(len(list_filter(fb, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS xb
          FROM (SELECT chrom,
              flatten(geno[1:${N / 4}]) AS fc,
              flatten(geno[${N / 4 + 1}:${N / 2}]) AS fa,
              flatten(geno[${N / 2 + 1}:${3 * N / 4}]) AS fb
            FROM variants))
          WHERE nc >= 2 AND na >= 1 AND nb >= 1)
        GROUP BY 1)"""
    }))

  // --- windowed Patterson D: the introgression selection scan (the
  // per-window shape local fd-style tests ride), same exact scaled
  // sums as q203 per (chrom, pos div W) cell. ------------------------
  private val q206 = Q("q206_dstat_window",
    (s, dir) => PopGen.dStatWindow(
      SynthGeno.variants(s, dir)
        .select(col("chrom"), col("pos"), col("geno")),
      0 until N / 4, N / 4 until N / 2,
      N / 2 until 3 * N / 4, 3 * N / 4 until N, FST_WIN),
    Some(withCte {
      val l = PopGen.piScale(N / 4 * 2)
      val scale = l * l * l * l
      s"""SELECT chrom, win, win_start, n_sites, abba_num, baba_num,
        CASE WHEN abba_num + baba_num <> 0
          THEN CAST(abba_num - baba_num AS DOUBLE)
            / CAST(abba_num + baba_num AS DOUBLE) END AS d_win
      FROM (SELECT chrom, CAST(pos // $FST_WIN AS BIGINT) AS win,
          CAST((pos // $FST_WIN) * $FST_WIN AS BIGINT) AS win_start,
          CAST(COUNT(*) AS BIGINT) AS n_sites,
          CAST(SUM((n1-a1) * a2 * a3 * (n4-a4)
            * ($scale // (n1*n2*n3*n4))) AS BIGINT) AS abba_num,
          CAST(SUM(a1 * (n2-a2) * a3 * (n4-a4)
            * ($scale // (n1*n2*n3*n4))) AS BIGINT) AS baba_num
        FROM (SELECT * FROM (SELECT chrom, pos,
            CAST(len(list_filter(f1, a -> a IS NOT NULL)) AS BIGINT)
              AS n1,
            CAST(len(list_filter(f2, a -> a IS NOT NULL)) AS BIGINT)
              AS n2,
            CAST(len(list_filter(f3, a -> a IS NOT NULL)) AS BIGINT)
              AS n3,
            CAST(len(list_filter(f4, a -> a IS NOT NULL)) AS BIGINT)
              AS n4,
            CAST(len(list_filter(f1, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a1,
            CAST(len(list_filter(f2, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a2,
            CAST(len(list_filter(f3, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a3,
            CAST(len(list_filter(f4, a -> a IS NOT NULL AND a <> 0))
              AS BIGINT) AS a4
          FROM (SELECT chrom, pos,
              flatten(geno[1:${N / 4}]) AS f1,
              flatten(geno[${N / 4 + 1}:${N / 2}]) AS f2,
              flatten(geno[${N / 2 + 1}:${3 * N / 4}]) AS f3,
              flatten(geno[${3 * N / 4 + 1}:$N]) AS f4
            FROM variants))
          WHERE n1 >= 1 AND n2 >= 1 AND n3 >= 1 AND n4 >= 1)
        GROUP BY 1, 2, 3)"""
    }))

  // --- joint 2D SFS between the sample halves (dadi/moments input):
  // exact (a1, a2) cell counts over fully-called biallelic-collapsed
  // sites, ≤ 9×9 rows from one aggregate — PopGen.jointSfs. ----------
  private val q211 = Q("q211_joint_sfs",
    (s, dir) => PopGen.jointSfs(
      SynthGeno.variants(s, dir).select(col("geno")),
      0 until N / 2, N / 2 until N),
    Some(withCte(s"""SELECT a1, a2, CAST(COUNT(*) AS BIGINT) AS n_sites
      FROM (SELECT
          CAST(len(list_filter(f1, a -> a IS NOT NULL)) AS BIGINT)
            AS n1,
          CAST(len(list_filter(f2, a -> a IS NOT NULL)) AS BIGINT)
            AS n2,
          CAST(len(list_filter(f1, a -> a IS NOT NULL AND a <> 0))
            AS BIGINT) AS a1,
          CAST(len(list_filter(f2, a -> a IS NOT NULL AND a <> 0))
            AS BIGINT) AS a2
        FROM (SELECT flatten(geno[1:${N / 2}]) AS f1,
            flatten(geno[${N / 2 + 1}:$N]) AS f2
          FROM variants))
      WHERE n1 = $N AND n2 = $N
      GROUP BY 1, 2""")))

  // --- FOLDED 1-population SFS (q211's single-population twin — the
  // dadi/moments input when ancestral states are unpolarized): exact
  // minor-allele-count classes over fully-called sites, one aggregate
  // to ≤ S+1 rows — PopGen.foldedSfs. -----------------------------------
  private val q336 = Q("q336_folded_sfs",
    (s, dir) => PopGen.foldedSfs(
      SynthGeno.variants(s, dir).select(col("geno")), 0 until N),
    Some(withCte(s"""SELECT LEAST(ac, ${2 * N} - ac) AS m,
        CAST(COUNT(*) AS BIGINT) AS n_sites
      FROM (SELECT
          CAST(len(list_filter(f, a -> a IS NOT NULL)) AS BIGINT) AS n,
          CAST(len(list_filter(f, a -> a IS NOT NULL AND a <> 0))
            AS BIGINT) AS ac
        FROM (SELECT flatten(geno) AS f FROM variants))
      WHERE n = ${2 * N}
      GROUP BY 1""")))

  // --- q236: covariate-ADJUSTED linear GWAS — y ~ β₀ + β_g·g + β_z·z
  // per variant, the confounder-controlled upgrade of q129 (age/batch/
  // ancestry-PC adjustment is the default in any real association run).
  // Cramer's rule on the 3×3 normal equations: every determinant is
  // EXACT integer arithmetic over per-variant sums (complete-case on
  // called samples); the only doubles are the two final det/det
  // divisions. detA = 0 (singular design) → NULL βs, reported, not
  // dropped. Zero shuffles at any cohort width. -------------------------
  private val zCov: Seq[Long] = (0 until N).map(s => 20L + (s * 3) % 11)
  private val q236 = Q("q236_gwas_covariate",
    (s, dir) => PopGen.linRegCovScore(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      phenoY, zCov),
    Some(withCte {
      def term(f: Int => String) =
        (0 until N).map(f).mkString("(", " + ", ")")
      val n = term(s => s"CASE WHEN d[${s + 1}] IS NOT NULL THEN 1 ELSE 0 END")
      val sg = term(s => s"COALESCE(d[${s + 1}], 0)")
      val sz = term(s =>
        s"CASE WHEN d[${s + 1}] IS NOT NULL THEN ${zCov(s)} ELSE 0 END")
      val sy = term(s =>
        s"CASE WHEN d[${s + 1}] IS NOT NULL THEN ${phenoY(s)} ELSE 0 END")
      val sgg = term(s => s"COALESCE(d[${s + 1}] * d[${s + 1}], 0)")
      val sgz = term(s => s"COALESCE(d[${s + 1}] * ${zCov(s)}, 0)")
      val sgy = term(s => s"COALESCE(d[${s + 1}] * ${phenoY(s)}, 0)")
      val szz = term(s =>
        s"CASE WHEN d[${s + 1}] IS NOT NULL THEN ${zCov(s) * zCov(s)} ELSE 0 END")
      val szy = term(s =>
        s"CASE WHEN d[${s + 1}] IS NOT NULL THEN ${zCov(s) * phenoY(s)} ELSE 0 END")
      s"""SELECT vid, n, det_a,
        CASE WHEN det_a <> 0
          THEN CAST(det_g AS DOUBLE) / CAST(det_a AS DOUBLE) END AS beta_g,
        CASE WHEN det_a <> 0
          THEN CAST(det_z AS DOUBLE) / CAST(det_a AS DOUBLE) END AS beta_z
      FROM (SELECT vid, n,
          n * (sgg * szz - sgz * sgz) - sg * (sg * szz - sgz * sz)
            + sz * (sg * sgz - sgg * sz) AS det_a,
          n * (sgy * szz - sgz * szy) - sy * (sg * szz - sgz * sz)
            + sz * (sg * szy - sgy * sz) AS det_g,
          n * (sgg * szy - sgy * sgz) - sg * (sg * szy - sgy * sz)
            + sy * (sg * sgz - sgg * sz) AS det_z
        FROM (SELECT vid, CAST($n AS BIGINT) AS n, CAST($sg AS BIGINT) AS sg,
            CAST($sz AS BIGINT) AS sz, CAST($sy AS BIGINT) AS sy,
            CAST($sgg AS BIGINT) AS sgg, CAST($sgz AS BIGINT) AS sgz,
            CAST($sgy AS BIGINT) AS sgy, CAST($szz AS BIGINT) AS szz,
            CAST($szy AS BIGINT) AS szy
          FROM (SELECT vid, $dSql AS d FROM variants)))"""
    }))

  // --- q284: EHH decay (Sabeti 2002 extended haplotype homozygosity —
  // the statistic iHS/XP-EHH selection scans integrate; rehh/selscan
  // run it over phased SeqArray exports): at every 50th variant in
  // per-chrom (pos, vid) order and extensions L ∈ {1,2,4,8} variants,
  // haplotypes group by their allele vector over [core, core+L] and
  // EHH = Σ n_g(n_g−1) / (n(n−1)) — exact integer numerator and
  // denominator, one final division. coreEvery > maxExt means every
  // variant reaches AT MOST one core: the fan-out is exactly 2S rows
  // per variant, never an overlap blow-up; ranks come from the
  // two-level numbering discipline (no chrom-sized global window). ------
  private val q284 = Q("q284_ehh_decay",
    (s, dir) => PopGen.ehhDecay(SynthGeno.variants(s, dir)
        .select(col("vid"), col("chrom"), col("pos"), col("geno")),
      nSamples = N, coreEvery = 50L, maxExt = 8, exts = Seq(1, 2, 4, 8)),
    Some(withCte(s"""SELECT chrom, core_rank, core_pos,
        CAST(ext AS BIGINT) AS ext,
        CAST(SUM(ng) AS BIGINT) AS n_haps,
        CAST(SUM(ng * (ng - 1)) AS BIGINT) AS ehh_num,
        CAST(SUM(ng) * (SUM(ng) - 1) AS BIGINT) AS ehh_den,
        CASE WHEN SUM(ng) * (SUM(ng) - 1) > 0
          THEN CAST(SUM(ng * (ng - 1)) AS DOUBLE)
            / CAST(SUM(ng) * (SUM(ng) - 1) AS DOUBLE) END AS ehh
      FROM (
        SELECT chrom, core_rank, max(core_pos) AS core_pos, ext, hap,
          CAST(COUNT(*) AS BIGINT) AS ng
        FROM (
          SELECT chrom, c AS core_rank, core_pos, L.L AS ext,
            array_to_string(av[1:CAST(L.L + 1 AS INT)], ',') AS hap
          FROM (
            SELECT chrom, c, s, h,
              list(CAST(a AS VARCHAR) ORDER BY d) AS av,
              max(CASE WHEN d = 0 THEN pos END) AS core_pos
            FROM (
              SELECT chrom, pos, r,
                ((r - 1) // 50) * 50 + 1 AS c,
                r - (((r - 1) // 50) * 50 + 1) AS d,
                u.s AS s, hh.h AS h,
                coalesce(geno[CAST(u.s + 1 AS INT)][CAST(hh.h AS INT)],
                  -1) AS a
              FROM (SELECT chrom, pos, vid, geno,
                  row_number() OVER (PARTITION BY chrom
                    ORDER BY pos, vid,
                      array_to_string(list_transform(geno, sa ->
                        array_to_string(list_transform(sa, a ->
                          coalesce(CAST(a AS VARCHAR), 'x')), '|')),
                        ';')) AS r
                FROM variants),
                unnest(range(0, $N)) AS u(s),
                (SELECT unnest([1, 2]) AS h) hh
            ) WHERE d <= 8
            GROUP BY 1, 2, 3, 4
          ), (SELECT unnest([1, 2, 4, 8]) AS L) L
          WHERE len(av) >= L.L + 1
        )
        GROUP BY 1, 2, 4, 5
      )
      GROUP BY 1, 2, 3, 4""")))

  // --- q285: unstandardized iHS (Voight 2006 — what a selection scan
  // reports per site before the frequency-bin normalization): EHH
  // within the ancestral-core-allele class vs the derived-carrier
  // class, each trapezoid-integrated from EHH(0)=1 over the {1,2,4,8}
  // extension grid (FIXED-ARITY double expression — order-pinned,
  // engine-replayable). Emits the RATIO iHH_der/iHH_anc (division is
  // IEEE-correctly-rounded; ln is not, and JVM/libm disagree in the
  // last ulp — iHS = ln(ratio) is the caller's monotone transform).
  // Missing-core haps excluded (the selscan convention); degenerate
  // classes and truncated cores yield null. ----------------------------------
  private val q285 = Q("q285_ihs",
    (s, dir) => PopGen.ihsLite(SynthGeno.variants(s, dir)
        .select(col("vid"), col("chrom"), col("pos"), col("geno")),
      nSamples = N, coreEvery = 50L, maxExt = 8, exts = Seq(1, 2, 4, 8)),
    Some(withCte(s""", hv AS (
        SELECT chrom, c, s, h,
          list(CAST(a AS VARCHAR) ORDER BY d) AS av,
          max(CASE WHEN d = 0 THEN pos END) AS core_pos
        FROM (
          SELECT chrom, pos, r,
            ((r - 1) // 50) * 50 + 1 AS c,
            r - (((r - 1) // 50) * 50 + 1) AS d,
            u.s AS s, hh.h AS h,
            coalesce(geno[CAST(u.s + 1 AS INT)][CAST(hh.h AS INT)], -1)
              AS a
          FROM (SELECT chrom, pos, vid, geno,
              row_number() OVER (PARTITION BY chrom
                ORDER BY pos, vid,
                  array_to_string(list_transform(geno, sa ->
                    array_to_string(list_transform(sa, a ->
                      coalesce(CAST(a AS VARCHAR), 'x')), '|')),
                    ';')) AS r
            FROM variants),
            unnest(range(0, $N)) AS u(s),
            (SELECT unnest([1, 2]) AS h) hh
        ) WHERE d <= 8
        GROUP BY 1, 2, 3, 4),
      hc AS (SELECT chrom, c, core_pos, av,
          av[1] <> '0' AS der
        FROM hv WHERE av[1] <> '-1'),
      cnt AS (SELECT chrom, c, der, L.L AS ext,
          array_to_string(av[1:CAST(L.L + 1 AS INT)], ',') AS hap,
          CAST(COUNT(*) AS BIGINT) AS ng,
          max(core_pos) AS core_pos
        FROM hc, (SELECT unnest([1, 2, 4, 8]) AS L) L
        WHERE len(av) >= L.L + 1
        GROUP BY 1, 2, 3, 4, 5),
      e AS (SELECT chrom, c, der, ext,
          CAST(SUM(ng * (ng - 1)) AS BIGINT) AS num,
          CAST(SUM(ng) AS BIGINT) AS nh,
          max(core_pos) AS core_pos,
          CASE WHEN SUM(ng) >= 2
            THEN CAST(SUM(ng * (ng - 1)) AS DOUBLE)
              / CAST(SUM(ng) * (SUM(ng) - 1) AS DOUBLE) END AS eh
        FROM cnt GROUP BY 1, 2, 3, 4),
      pc AS (SELECT chrom, c, der, max(core_pos) AS core_pos,
          max(nh) AS n_haps,
          max(CASE WHEN ext = 1 THEN eh END) AS e1,
          max(CASE WHEN ext = 2 THEN eh END) AS e2,
          max(CASE WHEN ext = 4 THEN eh END) AS e4,
          max(CASE WHEN ext = 8 THEN eh END) AS e8
        FROM e GROUP BY 1, 2, 3),
      ih AS (SELECT chrom, c, der, core_pos, n_haps,
          (1.0 + e1) / 2.0 * 1.0 + (e1 + e2) / 2.0 * 1.0
            + (e2 + e4) / 2.0 * 2.0 + (e4 + e8) / 2.0 * 4.0 AS ihh
        FROM pc)
      SELECT chrom, CAST(c AS BIGINT) AS core_rank,
        max(core_pos) AS core_pos,
        CAST(coalesce(max(CASE WHEN NOT der THEN n_haps END), 0)
          AS BIGINT) AS n_anc,
        CAST(coalesce(max(CASE WHEN der THEN n_haps END), 0)
          AS BIGINT) AS n_der,
        max(CASE WHEN NOT der THEN ihh END) AS ihh_anc,
        max(CASE WHEN der THEN ihh END) AS ihh_der,
        CASE WHEN max(CASE WHEN NOT der THEN ihh END) > 0
            AND max(CASE WHEN der THEN ihh END) > 0
          THEN max(CASE WHEN der THEN ihh END)
            / max(CASE WHEN NOT der THEN ihh END) END AS ihs_ratio
      FROM ih
      GROUP BY 1, 2""")))

  // --- q286: unstandardized XP-EHH (Sabeti 2007 — the cross-population
  // selection contrast): the q285 trapezoid-integrated iHH with
  // POPULATIONS (sample halves) as the haplotype classes; emits
  // iHH_p1/iHH_p2 and the ratio (XP-EHH = ln(ratio) client-side).
  // Rides the same session-shared hap-vector stage as q284/q285. --------
  private val q286 = Q("q286_xpehh",
    (s, dir) => PopGen.xpEhh(SynthGeno.variants(s, dir)
        .select(col("vid"), col("chrom"), col("pos"), col("geno")),
      nSamples = N, pop1 = (0 until N / 2).toSet,
      coreEvery = 50L, maxExt = 8, exts = Seq(1, 2, 4, 8)),
    Some(withCte(s""", hv AS (
        SELECT chrom, c, s, h,
          list(CAST(a AS VARCHAR) ORDER BY d) AS av,
          max(CASE WHEN d = 0 THEN pos END) AS core_pos
        FROM (
          SELECT chrom, pos, r,
            ((r - 1) // 50) * 50 + 1 AS c,
            r - (((r - 1) // 50) * 50 + 1) AS d,
            u.s AS s, hh.h AS h,
            coalesce(geno[CAST(u.s + 1 AS INT)][CAST(hh.h AS INT)], -1)
              AS a
          FROM (SELECT chrom, pos, vid, geno,
              row_number() OVER (PARTITION BY chrom
                ORDER BY pos, vid,
                  array_to_string(list_transform(geno, sa ->
                    array_to_string(list_transform(sa, a ->
                      coalesce(CAST(a AS VARCHAR), 'x')), '|')),
                    ';')) AS r
            FROM variants),
            unnest(range(0, $N)) AS u(s),
            (SELECT unnest([1, 2]) AS h) hh
        ) WHERE d <= 8
        GROUP BY 1, 2, 3, 4),
      hc AS (SELECT chrom, c, core_pos, av, s < ${N / 2} AS p1 FROM hv),
      cnt AS (SELECT chrom, c, p1, L.L AS ext,
          array_to_string(av[1:CAST(L.L + 1 AS INT)], ',') AS hap,
          CAST(COUNT(*) AS BIGINT) AS ng,
          max(core_pos) AS core_pos
        FROM hc, (SELECT unnest([1, 2, 4, 8]) AS L) L
        WHERE len(av) >= L.L + 1
        GROUP BY 1, 2, 3, 4, 5),
      e AS (SELECT chrom, c, p1, ext,
          CAST(SUM(ng) AS BIGINT) AS nh,
          max(core_pos) AS core_pos,
          CASE WHEN SUM(ng) >= 2
            THEN CAST(SUM(ng * (ng - 1)) AS DOUBLE)
              / CAST(SUM(ng) * (SUM(ng) - 1) AS DOUBLE) END AS eh
        FROM cnt GROUP BY 1, 2, 3, 4),
      pc AS (SELECT chrom, c, p1, max(core_pos) AS core_pos,
          max(nh) AS n_haps,
          max(CASE WHEN ext = 1 THEN eh END) AS e1,
          max(CASE WHEN ext = 2 THEN eh END) AS e2,
          max(CASE WHEN ext = 4 THEN eh END) AS e4,
          max(CASE WHEN ext = 8 THEN eh END) AS e8
        FROM e GROUP BY 1, 2, 3),
      ih AS (SELECT chrom, c, p1, core_pos, n_haps,
          (1.0 + e1) / 2.0 * 1.0 + (e1 + e2) / 2.0 * 1.0
            + (e2 + e4) / 2.0 * 2.0 + (e4 + e8) / 2.0 * 4.0 AS ihh
        FROM pc)
      SELECT chrom, CAST(c AS BIGINT) AS core_rank,
        max(core_pos) AS core_pos,
        CAST(coalesce(max(CASE WHEN p1 THEN n_haps END), 0)
          AS BIGINT) AS n_p1,
        CAST(coalesce(max(CASE WHEN NOT p1 THEN n_haps END), 0)
          AS BIGINT) AS n_p2,
        max(CASE WHEN p1 THEN ihh END) AS ihh_p1,
        max(CASE WHEN NOT p1 THEN ihh END) AS ihh_p2,
        CASE WHEN max(CASE WHEN p1 THEN ihh END) > 0
            AND max(CASE WHEN NOT p1 THEN ihh END) > 0
          THEN max(CASE WHEN p1 THEN ihh END)
            / max(CASE WHEN NOT p1 THEN ihh END) END AS xpehh_ratio
      FROM ih
      GROUP BY 1, 2""")))

  // --- q358: method-of-moments IBD (snpgdsIBDMoM / PLINK --genome):
  // per-pair IBS-class counts + ppm-quantized allele-frequency
  // expectation sums → the Z0/Z1/Z2/PI_HAT chain. Per-site expectation
  // doubles are bit-identical across engines (one division + a fixed
  // left-assoc polynomial), quantized floor(·10⁹) BEFORE the pair sum
  // — only BIGINTs are ever summed (the q320 ppm discipline). --------------
  private val q358 = Q("q358_ibd_mom",
    (s, dir) => PopGen.ibdMoM(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N),
    Some(withCte(s""", st AS (SELECT d,
          CAST(len(list_filter(d, x -> x IS NOT NULL)) AS BIGINT) AS n,
          CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
            AS BIGINT) AS a
        FROM (SELECT $dSql AS d FROM variants)),
      e AS (SELECT d,
          CAST(floor(2 * p * p * (1 - p) * (1 - p) * 1000000000)
            AS BIGINT) AS t0,
          CAST(floor((4 * p * p * p * (1 - p)
              + 4 * p * (1 - p) * (1 - p) * (1 - p)) * 1000000000)
            AS BIGINT) AS t10,
          CAST(floor((2 * p * p * (1 - p)
              + 2 * p * (1 - p) * (1 - p)) * 1000000000)
            AS BIGINT) AS t11
        FROM (SELECT d, CAST(a AS DOUBLE) / CAST(n * 2 AS DOUBLE) AS p
          FROM st WHERE a > 0 AND a < n * 2)),
      ag AS (SELECT pp.i, pp.j, CAST(COUNT(*) AS BIGINT) AS n_sites,
          CAST(SUM(CASE WHEN abs(d[pp.i + 1] - d[pp.j + 1]) = 2
            THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN abs(d[pp.i + 1] - d[pp.j + 1]) = 1
            THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN abs(d[pp.i + 1] - d[pp.j + 1]) = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(SUM(t0) AS BIGINT) AS se0,
          CAST(SUM(t10) AS BIGINT) AS se10,
          CAST(SUM(t11) AS BIGINT) AS se11
        FROM e,
          (SELECT ii.i, jj.j
           FROM (SELECT unnest(range(0, $N)) AS i) ii,
                (SELECT unnest(range(0, $N)) AS j) jj
           WHERE jj.j > ii.i) pp
        WHERE d[pp.i + 1] IS NOT NULL AND d[pp.j + 1] IS NOT NULL
        GROUP BY pp.i, pp.j)
      SELECT i, j, n_sites, n0, n1, n2, se0, se10, se11,
        z0, z1, z2, z2 + z1 / 2 AS pi_hat
      FROM (SELECT *, 1 - z0 - z1 AS z2
        FROM (SELECT *,
            CASE WHEN se11 > 0 THEN
              (CAST(n1 * 1000000000 AS DOUBLE)
                - z0 * CAST(se10 AS DOUBLE)) / CAST(se11 AS DOUBLE)
            END AS z1
          FROM (SELECT *,
              CASE WHEN se0 > 0 THEN CAST(n0 * 1000000000 AS DOUBLE)
                / CAST(se0 AS DOUBLE) END AS z0
            FROM ag)))""")))

  // --- q372: PLINK-corrected MoM IBD (the q358 chain with PLINK
  // --genome's finite-sample correction): every p-polynomial in the
  // IBS-class expectations replaced by its UNBIASED allele-count
  // estimator — X(X−1)Y(Y−1)/T⁽⁴⁾ for p²q² etc., EXACT BIGINT count
  // products, ONE double division per term, floor(·10⁹) before the
  // pair sum. Also emits snpgdsIBDMoM(kinship=TRUE)'s kinship = π̂/2.
  // Same pre-fan e-terms + one (i,j) exchange as q358. -------------------
  private val q372 = Q("q372_ibd_mom_plink",
    (s, dir) => PopGen.ibdMoMCorrected(
      SynthGeno.variants(s, dir)
        .select(col("vid"), dosageAlt(col("geno")).as("d")),
      N),
    Some(withCte(s""", st AS (SELECT d,
          CAST(len(list_filter(d, x -> x IS NOT NULL)) AS BIGINT) AS n,
          CAST(COALESCE(list_sum(list_filter(d, x -> x IS NOT NULL)), 0)
            AS BIGINT) AS a
        FROM (SELECT $dSql AS d FROM variants)),
      cnts AS (SELECT d, a AS x, n * 2 - a AS y, n * 2 AS t
        FROM st WHERE a > 0 AND a < n * 2 AND n >= 2),
      e AS (SELECT d,
          CAST(floor(2.0 * (CAST(x * (x - 1) * y * (y - 1) AS DOUBLE)
              / CAST(t * (t - 1) * (t - 2) * (t - 3) AS DOUBLE))
            * 1000000000) AS BIGINT) AS t0,
          CAST(floor((4.0 * (CAST(x * (x - 1) * (x - 2) * y AS DOUBLE)
              / CAST(t * (t - 1) * (t - 2) * (t - 3) AS DOUBLE))
            + 4.0 * (CAST(x * y * (y - 1) * (y - 2) AS DOUBLE)
              / CAST(t * (t - 1) * (t - 2) * (t - 3) AS DOUBLE)))
            * 1000000000) AS BIGINT) AS t10,
          CAST(floor((2.0 * (CAST(x * (x - 1) * y AS DOUBLE)
              / CAST(t * (t - 1) * (t - 2) AS DOUBLE))
            + 2.0 * (CAST(x * y * (y - 1) AS DOUBLE)
              / CAST(t * (t - 1) * (t - 2) AS DOUBLE)))
            * 1000000000) AS BIGINT) AS t11
        FROM cnts),
      ag AS (SELECT pp.i, pp.j, CAST(COUNT(*) AS BIGINT) AS n_sites,
          CAST(SUM(CASE WHEN abs(d[pp.i + 1] - d[pp.j + 1]) = 2
            THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(SUM(CASE WHEN abs(d[pp.i + 1] - d[pp.j + 1]) = 1
            THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN abs(d[pp.i + 1] - d[pp.j + 1]) = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(SUM(t0) AS BIGINT) AS se0,
          CAST(SUM(t10) AS BIGINT) AS se10,
          CAST(SUM(t11) AS BIGINT) AS se11
        FROM e,
          (SELECT ii.i, jj.j
           FROM (SELECT unnest(range(0, $N)) AS i) ii,
                (SELECT unnest(range(0, $N)) AS j) jj
           WHERE jj.j > ii.i) pp
        WHERE d[pp.i + 1] IS NOT NULL AND d[pp.j + 1] IS NOT NULL
        GROUP BY pp.i, pp.j)
      SELECT i, j, n_sites, n0, n1, n2, se0, se10, se11,
        z0, z1, z2, z2 + z1 / 2 AS pi_hat,
        0.5 * z2 + 0.25 * z1 AS kinship
      FROM (SELECT *, 1 - z0 - z1 AS z2
        FROM (SELECT *,
            CASE WHEN se11 > 0 THEN
              (CAST(n1 * 1000000000 AS DOUBLE)
                - z0 * CAST(se10 AS DOUBLE)) / CAST(se11 AS DOUBLE)
            END AS z1
          FROM (SELECT *,
              CASE WHEN se0 > 0 THEN CAST(n0 * 1000000000 AS DOUBLE)
                / CAST(se0 AS DOUBLE) END AS z0
            FROM ag)))""")))

  override def queries: Seq[Q] =
    Seq(q120, q121, q122, q123, q124, q126, q129, q130, q132, q133, q134,
      q135, q136, q137, q155, q163, q164, q165, q166, q170, q172, q173,
      q176, q177, q178, q179, q180, q181, q182, q183, q184, q190, q191,
      q192, q196, q197, q203, q204, q206, q211, q236, q255, q266, q276,
      q284, q285, q286, q312, q324, q327, q328, q332, q333, q336, q348,
      q358, q372)
}
