package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.genetics._
import graft.genomics.SynthGeno
import graft.genomics.SynthGeno.withCte

/** Genetics-kernel queries (SURVEY.md §2.5, §2.2): allele frequency/count,
  * missing rate, alt dosage, GT-string formatting, per-sample margins — each
  * computed by the library functions in [[graft.functions.genetics]] over the
  * deterministic [[SynthGeno]] variants table, with a DuckDB oracle that
  * rebuilds the identical genotype cube.
  *
  * All aggregates are exact integer counts or single int/int divisions, so
  * the hash compare cannot drift. Everything is per-row (no shuffle) except
  * the per-sample margin, which is the explode+groupBy pattern the engine
  * uses in place of the reference's `~data` sample-major transpose.
  */
object Genomics extends QueryModule {

  // seqAlleleFreq / seqAlleleCount / seqMissing fused in one pass
  // (reference seqGetAF_AC_Missing, src/Methods.cpp:897-979).
  private val q20 = Q("q20_allele_freq",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      v.select(col("vid"),
        nCalledAlleles(col("geno")).as("n_called"),
        alleleCount(col("geno"), lit(0)).as("ac_ref"),
        alleleFreq(col("geno"), lit(0)).as("af_ref"),
        minorAlleleFreq(col("geno"), lit(0)).as("maf"),
        missingRate(col("geno")).as("miss_rate"))
    },
    Some(withCte("""SELECT vid,
      len(list_filter(flatten(geno), a -> a IS NOT NULL)) AS n_called,
      len(list_filter(flatten(geno), a -> a = 0)) AS ac_ref,
      CASE WHEN len(list_filter(flatten(geno), a -> a IS NOT NULL)) > 0
           THEN CAST(len(list_filter(flatten(geno), a -> a = 0)) AS DOUBLE)
                / len(list_filter(flatten(geno), a -> a IS NOT NULL))
      END AS af_ref,
      least(
        CASE WHEN len(list_filter(flatten(geno), a -> a IS NOT NULL)) > 0
             THEN CAST(len(list_filter(flatten(geno), a -> a = 0)) AS DOUBLE)
                  / len(list_filter(flatten(geno), a -> a IS NOT NULL)) END,
        1.0 -
        CASE WHEN len(list_filter(flatten(geno), a -> a IS NOT NULL)) > 0
             THEN CAST(len(list_filter(flatten(geno), a -> a = 0)) AS DOUBLE)
                  / len(list_filter(flatten(geno), a -> a IS NOT NULL)) END)
        AS maf,
      CAST(len(flatten(geno))
           - len(list_filter(flatten(geno), a -> a IS NOT NULL)) AS DOUBLE)
        / len(flatten(geno)) AS miss_rate
      FROM variants""")))

  // $dosage_alt + per-variant mean dosage (src/GetData.cpp:311-410).
  private val q21 = Q("q21_dosage",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val dos = dosageAlt(col("geno"))
      val obs = filter(dos, d => d.isNotNull)
      v.select(col("vid"),
        size(obs).as("n_obs"),
        coalesce(aggregate(obs, lit(0L), (acc, x) => acc + x), lit(0L))
          .as("sum_dos"))
        .withColumn("mean_dos",
          when(col("n_obs") > 0,
            col("sum_dos").cast("double") / col("n_obs")))
    },
    Some(withCte("""SELECT vid, n_obs,
      CAST(COALESCE(list_sum(obs), 0) AS BIGINT) AS sum_dos,
      CASE WHEN n_obs > 0
           THEN CAST(COALESCE(list_sum(obs), 0) AS DOUBLE) / n_obs
      END AS mean_dos
      FROM (SELECT vid,
        len(list_filter(dos, d -> d IS NOT NULL)) AS n_obs,
        list_filter(dos, d -> d IS NOT NULL) AS obs
        FROM (SELECT vid,
          list_transform(geno, sa ->
            CASE WHEN len(list_filter(sa, a -> a IS NULL)) > 0 THEN NULL
                 ELSE len(list_filter(sa, a -> a <> 0)) END) AS dos
          FROM variants))""")))

  // GT-string export (seqGDS2VCF formatters, src/ConvGDS2VCF.cpp:571-989):
  // per-sample "a/b" or "a|b" with "." for missing, joined per variant.
  private val q22 = Q("q22_gt_strings",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      v.select(col("vid"),
        gtStrings(col("geno"), col("phased"), ";").as("gts"))
    },
    Some(withCte("""SELECT vid,
      array_to_string(list_transform(range(0, 8), s ->
        COALESCE(CAST(geno[s+1][1] AS VARCHAR), '.')
        || (CASE WHEN phased[s+1] THEN '|' ELSE '/' END)
        || COALESCE(CAST(geno[s+1][2] AS VARCHAR), '.')), ';') AS gts
      FROM variants""")))

  // Per-sample margin (seqMissing(per.variant=FALSE), FC_Missing_PerSamp,
  // src/Methods.cpp:122-293): the codegen'd per-sample kernel runs before
  // the explode, so the shuffle carries one INT per (variant, sample)
  // instead of the allele arrays — the explode+groupBy replaces the
  // reference's sample-major ~data copy.
  private val q23 = Q("q23_sample_missing",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      // outer: identical for the never-empty margin array, and no
      // inferred size()>0 filter re-running the kernel below the fan-out
      v.select(posexplode_outer(missPerSample(col("geno")))
          .as(Seq("s", "mc")))
        .groupBy(col("s"))
        .agg(
          count(lit(1)).as("n_variants"),
          sum(when(col("mc") > 0, 1L).otherwise(0L)).as("n_miss_calls"),
          sum(col("mc").cast("long")).as("n_miss_alleles"))
        .withColumn("miss_rate",
          col("n_miss_alleles").cast("double") /
            (col("n_variants") * SynthGeno.ploidy))
    },
    Some(withCte(s"""SELECT CAST(s AS INT) AS s, COUNT(*) AS n_variants,
      CAST(SUM(CASE WHEN len(list_filter(geno[s+1], a -> a IS NULL)) > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_miss_calls,
      CAST(SUM(len(list_filter(geno[s+1], a -> a IS NULL))) AS BIGINT)
        AS n_miss_alleles,
      CAST(SUM(len(list_filter(geno[s+1], a -> a IS NULL))) AS DOUBLE)
        / (COUNT(*) * ${SynthGeno.ploidy}) AS miss_rate
      FROM variants, (SELECT unnest(range(0, 8)) AS s)
      GROUP BY s""")))

  // Allele-string parsing ($num_allele/$ref/$alt, src/GetData.cpp:619-680):
  // round-trip a "REF,ALT1,…" string built from nall.
  private val q24 = Q("q24_allele_parse",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
      val alleleStr = array_join(
        transform(sequence(lit(1), col("nall").cast("int")),
          i => element_at(letters, i)), ",")
      v.select(col("vid"), alleleStr.as("allele_str"))
        .select(col("vid"), col("allele_str"),
          numAllele(col("allele_str")).as("n_allele"),
          refAllele(col("allele_str")).as("ref"),
          array_join(altAlleles(col("allele_str")), ",").as("alts"),
          alleleIndexOf(col("allele_str"), lit("T")).as("idx_t"))
    },
    Some(withCte("""SELECT vid, allele_str,
      len(string_split(allele_str, ',')) AS n_allele,
      string_split(allele_str, ',')[1] AS ref,
      array_to_string(string_split(allele_str, ',')[2:], ',') AS alts,
      CASE WHEN list_position(string_split(allele_str, ','), 'T') > 0
           THEN list_position(string_split(allele_str, ','), 'T') - 1
      END AS idx_t
      FROM (SELECT vid,
        array_to_string(list_transform(range(1, nall + 1), i ->
          (['A','C','G','T'])[i]), ',') AS allele_str
        FROM variants)""")))

  // 2-bit packed REF-dosage codec round-trip (seqGet2bGeno,
  // src/Methods.cpp:1119-1213; PLINK BED layout): pack → unpack must
  // reproduce per-sample REF dosages bit-exactly; the oracle computes them
  // directly from the cube. Packed size is also asserted (ceil(n/4) bytes).
  private val q43 = Q("q43_pack2b_roundtrip",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val un = unpack2b(pack2b(col("geno")), lit(SynthGeno.nSamples))
      v.select(col("vid"),
        octet_length(pack2b(col("geno"))).cast("long").as("n_bytes"),
        array_join(transform(un, d => coalesce(d.cast("string"), lit("."))),
          ",").as("ref_dosages"))
    },
    Some(withCte(s"""SELECT vid, ${(SynthGeno.nSamples + 3) / 4} AS n_bytes,
      array_to_string(list_transform(geno, sa ->
        CASE WHEN len(list_filter(sa, a -> a IS NULL)) > 0 THEN '.'
             ELSE CAST(len(list_filter(sa, a -> a = 0)) AS VARCHAR) END), ',')
        AS ref_dosages
      FROM variants""")))

  // Sparse alt-dosage export ($dosage_sp, src/GetData.cpp:421-616): CSC-like
  // (ordinal, value) pairs for non-zero called dosages + a missing count.
  private val q44 = Q("q44_dosage_sparse",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val dos = dosageAlt(col("geno"))
      val idx = filter(
        transform(sequence(lit(0), lit(SynthGeno.nSamples - 1)),
          i => when(element_at(dos, (i + 1).cast("int")) > 0, i)),
        x => x.isNotNull)
      v.select(col("vid"),
        size(idx).as("nnz"),
        array_join(transform(idx, i => i.cast("string")), ",").as("sp_idx"),
        array_join(transform(idx,
          i => element_at(dos, (i + 1).cast("int")).cast("string")), ",")
          .as("sp_val"),
        size(filter(dos, d => d.isNull)).as("n_miss"))
    },
    Some(withCte("""SELECT vid,
      len(idx) AS nnz,
      array_to_string(idx, ',') AS sp_idx,
      array_to_string(list_transform(idx, i -> dos[i + 1]), ',') AS sp_val,
      len(list_filter(dos, d -> d IS NULL)) AS n_miss
      FROM (SELECT vid, dos,
        list_filter(range(0, 8), i -> dos[i + 1] > 0) AS idx
        FROM (SELECT vid, list_transform(geno, sa ->
          CASE WHEN len(list_filter(sa, a -> a IS NULL)) > 0 THEN NULL
               ELSE len(list_filter(sa, a -> a <> 0)) END) AS dos
          FROM variants))""")))

  // Point-lookup with multi.pos=FALSE (seqSetFilterPos, R/Methods.R:334-420):
  // probes match variants on (chrom, pos), keeping only the FIRST match in
  // variant order — row_number over the probe key.
  private val q45 = Q("q45_filter_pos_first",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = SynthGeno.variants(s, dir)
      val probes = v.filter(col("vid") % 101 === 0)
        .select(col("chrom").as("p_chrom"), col("pos").as("p_pos"))
        .distinct()
      val w = Window.partitionBy(col("p_chrom"), col("p_pos"))
        .orderBy(col("vid"))
      v.join(broadcast(probes),
          col("chrom") === col("p_chrom") && col("pos") === col("p_pos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_chrom"), col("p_pos"), col("vid").as("first_vid"))
    },
    Some(withCte("""SELECT p_chrom, p_pos, first_vid FROM
      (SELECT p.p_chrom, p.p_pos, v.vid AS first_vid,
        ROW_NUMBER() OVER (PARTITION BY p.p_chrom, p.p_pos ORDER BY v.vid)
          AS rn
       FROM (SELECT DISTINCT chrom AS p_chrom, pos AS p_pos FROM variants
             WHERE vid % 101 = 0) p
       JOIN variants v ON v.chrom = p.p_chrom AND v.pos = p.p_pos)
      WHERE rn = 1""")))

  // Sample-axis selection (seqSetFilter(sample.id=), SEQ_SetSpaceSample,
  // src/SeqArray.cpp:127-370): keep sample ordinals {0,2,5}, then run the
  // aggregate kernels on the restricted cube — selection is a per-row
  // positional gather, not a shuffle.
  private val q47 = Q("q47_sample_filter",
    (s, dir) => {
      val keep = Seq(0, 2, 5)
      val v = SynthGeno.variants(s, dir)
      val g = sampleSlice(col("geno"), keep)
      val p = sampleSlice(col("phased"), keep)
      v.select(col("vid"),
        nCalledAlleles(g).as("n_called"),
        alleleCount(g, lit(0)).as("ac_ref"),
        gtStrings(g, p, ";").as("gts"))
    },
    Some(withCte("""SELECT vid,
      len(list_filter(flatten(g), a -> a IS NOT NULL)) AS n_called,
      len(list_filter(flatten(g), a -> a = 0)) AS ac_ref,
      array_to_string(list_transform(range(1, 4), s ->
        COALESCE(CAST(g[s][1] AS VARCHAR), '.')
        || (CASE WHEN p[s] THEN '|' ELSE '/' END)
        || COALESCE(CAST(g[s][2] AS VARCHAR), '.')), ';') AS gts
      FROM (SELECT vid, [geno[1], geno[3], geno[6]] AS g,
              [phased[1], phased[3], phased[6]] AS p
            FROM variants)""")))

  // Dosage-only fallback (reference FC_AF_DS_*, src/Methods.cpp:298-608):
  // the genotype cube is dropped up front and AF/AC/missing are computed
  // from the alt-dosage matrix alone — the path a dosage-only dataset
  // (Imputed_dosages.gds) takes. Integer dosages keep the oracle exact.
  private val q51 = Q("q51_dosage_only_af",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val dsOnly = v.select(col("vid"), dosageAlt(col("geno")).as("ds"))
      dsOnly.select(col("vid"),
        size(col("ds")).as("n_samples"),
        dsCalled(col("ds")).as("n_called"),
        dsAltCount(col("ds")).cast("long").as("ac_alt"),
        dsAltFreq(col("ds"), SynthGeno.ploidy).as("af_alt"),
        dsMissing(col("ds")).as("miss_rate"))
    },
    Some(withCte(s"""SELECT vid,
      CAST(len(ds) AS INT) AS n_samples,
      CAST(len(list_filter(ds, x -> x IS NOT NULL)) AS INT) AS n_called,
      CAST(COALESCE(list_sum(list_filter(ds, x -> x IS NOT NULL)), 0)
        AS BIGINT) AS ac_alt,
      CASE WHEN len(list_filter(ds, x -> x IS NOT NULL)) > 0 THEN
        CAST(COALESCE(list_sum(list_filter(ds, x -> x IS NOT NULL)), 0)
          AS DOUBLE)
          / (len(list_filter(ds, x -> x IS NOT NULL)) * ${SynthGeno.ploidy})
        END AS af_alt,
      CAST(len(ds) - len(list_filter(ds, x -> x IS NOT NULL)) AS DOUBLE)
        / len(ds) AS miss_rate
      FROM (SELECT vid, list_transform(geno, sa ->
          CASE WHEN len(list_filter(sa, a -> a IS NULL)) > 0 THEN NULL
               ELSE len(list_filter(sa, a -> a <> 0)) END) AS ds
        FROM variants)""")))

  // $dosage_alt2 / $dosage_sp2 (src/GetData.cpp:379-415, 520-616):
  // dosage counting THROUGH partial missingness — a half-missing call
  // contributes its known non-ref alleles and is null only when fully
  // missing — plus its sparse (ordinal, value) export. SynthGeno's
  // half-missing calls make alt2 genuinely diverge from alt.
  private val q59 = Q("q59_dosage_alt2",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val dos = dosageAlt2(col("geno"))
      val idx = filter(
        transform(sequence(lit(0), lit(SynthGeno.nSamples - 1)),
          i => when(element_at(dos, (i + 1).cast("int")) > 0, i)),
        x => x.isNotNull)
      v.select(col("vid"),
        aggregate(filter(dos, d => d.isNotNull), lit(0L),
          (acc, x) => acc + x).as("sum_alt2"),
        size(filter(dos, d => d.isNull)).as("n_full_miss"),
        array_join(transform(idx, i => i.cast("string")), ",").as("sp_idx"),
        array_join(transform(idx,
          i => element_at(dos, (i + 1).cast("int")).cast("string")), ",")
          .as("sp_val"))
    },
    Some(withCte("""SELECT vid,
      CAST(COALESCE(list_sum(list_filter(dos, d -> d IS NOT NULL)), 0)
        AS BIGINT) AS sum_alt2,
      CAST(len(list_filter(dos, d -> d IS NULL)) AS INT) AS n_full_miss,
      array_to_string(idx, ',') AS sp_idx,
      array_to_string(list_transform(idx, i -> dos[i + 1]), ',') AS sp_val
      FROM (
        SELECT vid, dos,
          list_filter(list_transform(range(0, 8), i ->
            CASE WHEN dos[i + 1] > 0 THEN i END), x -> x IS NOT NULL) AS idx
        FROM (
          SELECT vid, list_transform(geno, sa ->
            CASE WHEN len(list_filter(sa, a -> a IS NOT NULL)) = 0 THEN NULL
            ELSE len(list_filter(sa, a -> a IS NOT NULL AND a <> 0)) END)
            AS dos
          FROM variants))""")))

  // --- multiallelic split (bcftools norm -m- semantics): every variant
  // atomizes into nall−1 biallelic records; the recoded cube feeds the
  // existing AF kernels. Narrow explode, no shuffle; DuckDB replays the
  // per-alt genotype recode and counts. --------------------------------
  private val q93 = Q("q93_split_multiallelic",
    (s, dir) => {
      val atomized = graft.operators.SplitMultiallelic(
        SynthGeno.variants(s, dir))
      atomized.select(col("vid"), col("alt_index"),
        nCalledAlleles(col("geno")).as("n_called"),
        alleleCount(col("geno"), lit(1)).as("ac_alt"),
        alleleFreq(col("geno"), lit(1)).as("af_alt"))
    },
    Some(withCte("""SELECT vid, CAST(k AS BIGINT) AS alt_index,
        CAST(len(list_filter(fa, a -> a IS NOT NULL)) AS BIGINT)
          AS n_called,
        CAST(len(list_filter(fa, a -> a = 1)) AS BIGINT) AS ac_alt,
        CASE WHEN len(list_filter(fa, a -> a IS NOT NULL)) > 0 THEN
          CAST(len(list_filter(fa, a -> a = 1)) AS DOUBLE)
            / len(list_filter(fa, a -> a IS NOT NULL)) END AS af_alt
      FROM (SELECT vid, k,
          flatten(list_transform(geno, sa -> list_transform(sa, a ->
            CASE WHEN a IS NULL THEN NULL
                 WHEN a = k THEN 1 ELSE 0 END))) AS fa
        FROM (SELECT vid, nall, geno, i AS k FROM variants,
            (SELECT unnest(range(1, 4)) AS i)
          WHERE i <= nall - 1))""")))

  // --- Hardy–Weinberg chi-square (the classic seqApply workload in the
  // reference's ecosystem, e.g. SNPRelate::snpgdsHWE over a SeqArray
  // handle, LinkSNPRelate.cpp:1-410): per variant, genotype-class counts
  // a/b/c = #(hom-ref / het / hom-alt) over fully-called diploid samples
  // (multi-allelic collapsed to ref-vs-any-alt), then the closed form
  // χ² = n·(4ac−b²)² / ((2a+b)²·(2c+b)²). The counts and the 4ac−b²
  // numerator stay in int64 (safe to ~500k-sample cohorts); squaring
  // happens in doubles with an identical operation order in both
  // engines, so the hash compare cannot drift. Pure projection — no
  // shuffle, survives any scale-up as a map-only pass. ------------------
  private val q106 = Q("q106_hwe",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val d = dosageAlt(col("geno"))
      val a = size(filter(d, x => x === 0))
      val b = size(filter(d, x => x === 1))
      val c = size(filter(d, x => x === 2))
      v.select(col("vid"), a.as("n_aa"), b.as("n_ab"), c.as("n_bb"))
        .withColumn("n", col("n_aa") + col("n_ab") + col("n_bb"))
        .withColumn("x",
          lit(4L) * col("n_aa") * col("n_bb")
            - col("n_ab").cast("long") * col("n_ab"))
        .withColumn("y", lit(2L) * col("n_aa") + col("n_ab"))
        .withColumn("z", lit(2L) * col("n_bb") + col("n_ab"))
        .select(col("vid"), col("n_aa"), col("n_ab"), col("n_bb"),
          when(col("n") > 0,
            col("y").cast("double") / (lit(2.0) * col("n")))
            .as("p_ref"),
          when(col("y") > 0 && col("z") > 0,
            (col("n").cast("double") * col("x").cast("double")
              * col("x").cast("double"))
              / (col("y").cast("double") * col("y").cast("double")
                * col("z").cast("double") * col("z").cast("double")))
            .as("hwe_chisq"))
    },
    Some(withCte("""SELECT vid, n_aa, n_ab, n_bb,
      CASE WHEN n > 0
           THEN CAST(y AS DOUBLE) / (2.0 * n) END AS p_ref,
      CASE WHEN y > 0 AND z > 0
           THEN (CAST(n AS DOUBLE) * CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                / (CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                   * CAST(z AS DOUBLE) * CAST(z AS DOUBLE)) END AS hwe_chisq
      FROM (SELECT vid, n_aa, n_ab, n_bb,
          n_aa + n_ab + n_bb AS n,
          4 * n_aa * n_bb - n_ab * n_ab AS x,
          2 * n_aa + n_ab AS y,
          2 * n_bb + n_ab AS z
        FROM (SELECT vid,
            len(list_filter(d, v -> v = 0)) AS n_aa,
            len(list_filter(d, v -> v = 1)) AS n_ab,
            len(list_filter(d, v -> v = 2)) AS n_bb
          FROM (SELECT vid, list_transform(geno, sa ->
              CASE WHEN len(list_filter(sa, a -> a IS NULL)) > 0 THEN NULL
                   ELSE len(list_filter(sa, a -> a <> 0)) END) AS d
            FROM variants)))""")))

  // --- transition/transversion ratio per chromosome (the vcftools/bcftools
  // QC staple; the reference surfaces the allele letters this derives
  // from via $ref/$alt, src/GetData.cpp:637-680). REF/ALT nucleotides are
  // synthesized deterministically from (vid, nall); a transition is
  // A<->G or C<->T, i.e. |idx_ref − idx_alt| = 2 in ACGT order. One
  // 5-group aggregate — partial map-side sums, a 5-row shuffle. ----------
  private val q107 = Q("q107_tstv",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
      val refI = col("vid") % 4
      val altI0 = (expr("vid div 7") + col("nall")) % 4
      val altI = when(altI0 === refI, (altI0 + 1) % 4).otherwise(altI0)
      val isTs = abs(refI - altI) === 2
      v.select(col("chrom"),
          element_at(letters, (refI + 1).cast("int")).as("ref"),
          element_at(letters, (altI + 1).cast("int")).as("alt"),
          isTs.as("is_ts"), (col("nall") > 2).as("is_multi"))
        .groupBy(col("chrom"))
        .agg(
          count(lit(1)).as("n_snv"),
          sum(when(col("is_ts"), 1L).otherwise(0L)).as("n_ts"),
          sum(when(!col("is_ts"), 1L).otherwise(0L)).as("n_tv"),
          sum(when(col("is_multi"), 1L).otherwise(0L)).as("n_multi"))
        .withColumn("tstv",
          when(col("n_tv") > 0,
            col("n_ts").cast("double") / col("n_tv")))
    },
    Some(withCte("""SELECT chrom, COUNT(*) AS n_snv,
      CAST(SUM(CASE WHEN is_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
      CAST(SUM(CASE WHEN is_ts THEN 0 ELSE 1 END) AS BIGINT) AS n_tv,
      CAST(SUM(CASE WHEN nall > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
      CASE WHEN SUM(CASE WHEN is_ts THEN 0 ELSE 1 END) > 0
           THEN CAST(SUM(CASE WHEN is_ts THEN 1 ELSE 0 END) AS DOUBLE)
                / SUM(CASE WHEN is_ts THEN 0 ELSE 1 END) END AS tstv
      FROM (SELECT chrom, nall,
          abs(ri - CASE WHEN ai0 = ri THEN (ai0 + 1) % 4 ELSE ai0 END) = 2
            AS is_ts
        FROM (SELECT chrom, nall, vid % 4 AS ri,
            (vid // 7 + nall) % 4 AS ai0 FROM variants))
      GROUP BY chrom""")))

  // --- windowed linkage-disequilibrium r² (SNPRelate::snpgdsLDMat over a
  // SeqArray handle; the per-window pairing is the GRanges-band pattern
  // of SURVEY §2.4): variant pairs on one chromosome within WINDOW bp,
  // composite r² from alt-dosage vectors over samples called in BOTH.
  // Scale shape: a BANDED self-join — each variant lands in bucket
  // pos div WINDOW, the left side emits (bucket, bucket+1) keys, and
  // pairs only form inside a (chrom, bucket) equi-join cell, so the
  // shuffle is linear in variants and no pair outside the window is ever
  // enumerated (pos_b − pos_a ≤ WINDOW ⇒ buckets differ by ≤ 1). All
  // sums are integers; r² = (n·Sxy − Sx·Sy)² over the two variance
  // factors, squared in doubles with one final division. ----------------
  private val LD_WINDOW = 200
  private val LD_MOD = 11
  // DuckDB twin of the banded pair frame with covariance/variance
  // components (cov_n, var_x, var_y) — shared by the per-pair r² oracle
  // (q108) and the decay-profile oracle (q168), exactly as the Spark
  // side shares LdWindow.stats.
  private val ldVarSql: String = s"""(SELECT chrom, vid_a, vid_b, dist, n,
          n * sxy - sx * sy AS cov_n,
          n * sxx - sx * sx AS var_x,
          n * syy - sy * sy AS var_y
        FROM (SELECT chrom, vid_a, vid_b, dist,
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
          FROM (SELECT a.chrom, a.vid AS vid_a, b.vid AS vid_b,
              b.pos - a.pos AS dist,
              list_filter(
                list_transform(range(1, 9), i ->
                  CASE WHEN a.d[i] IS NOT NULL AND b.d[i] IS NOT NULL
                       THEN {'x': a.d[i], 'y': b.d[i]} END),
                p -> p IS NOT NULL) AS obs
            FROM (SELECT vid, chrom, pos, list_transform(geno, sa ->
                  CASE WHEN len(list_filter(sa, x -> x IS NULL)) > 0
                       THEN NULL
                       ELSE len(list_filter(sa, x -> x <> 0)) END) AS d
                FROM variants WHERE vid % $LD_MOD = 0) a
            JOIN (SELECT vid, chrom, pos, list_transform(geno, sa ->
                  CASE WHEN len(list_filter(sa, x -> x IS NULL)) > 0
                       THEN NULL
                       ELSE len(list_filter(sa, x -> x <> 0)) END) AS d
                FROM variants WHERE vid % $LD_MOD = 0) b
              ON a.chrom = b.chrom
              AND (a.pos < b.pos OR (a.pos = b.pos AND a.vid < b.vid))
              AND b.pos - a.pos <= $LD_WINDOW)))"""

  private val q108 = Q("q108_ld_r2",
    (s, dir) => {
      // delegates to the public operator — the oracle below proves
      // graft.operators.LdWindow.r2 exact every round
      val v = SynthGeno.variants(s, dir)
        .filter(col("vid") % LD_MOD === 0)
        .select(col("vid"), col("chrom"), col("pos"),
          dosageAlt(col("geno")).as("d"))
      graft.operators.LdWindow.r2(v, LD_WINDOW)
    },
    Some(withCte(s"""SELECT chrom, vid_a, vid_b, dist, n,
      CASE WHEN var_x > 0 AND var_y > 0
           THEN (CAST(cov_n AS DOUBLE) * CAST(cov_n AS DOUBLE))
                / (CAST(var_x AS DOUBLE) * CAST(var_y AS DOUBLE)) END AS r2
      FROM $ldVarSql""")))

  // --- LD decay profile: per (chrom, distance-bin) pair counts and the
  // fraction crossing r² ∈ {0.2, 0.5, 0.8} — thresholds evaluated as
  // exact cross-multiplied BIGINTs (cov²·den ≥ var_x·var_y·num), never
  // a mean of per-pair double ratios. Rides the SAME shared
  // LdWindow.stats stage as q108/q126/q130/q135; the oracle reuses the
  // SAME pair-frame SQL as q108 plus the bin rollup. --------------------
  private val LD_BIN = 50L
  private val q168 = Q("q168_ld_decay",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
        .filter(col("vid") % LD_MOD === 0)
        .select(col("vid"), col("chrom"), col("pos"),
          dosageAlt(col("geno")).as("d"))
      graft.operators.LdWindow.decayProfile(v, LD_WINDOW, LD_BIN)
    },
    Some(withCte(s"""SELECT chrom, CAST(dist // $LD_BIN AS BIGINT) AS bin,
      CAST(COUNT(*) AS BIGINT) AS n_pairs,
      CAST(SUM(CASE WHEN var_x > 0 AND var_y > 0 THEN 1 ELSE 0 END)
        AS BIGINT) AS n_def,
      CAST(SUM(CASE WHEN var_x > 0 AND var_y > 0
        AND cov_n*cov_n*5 >= var_x*var_y*1 THEN 1 ELSE 0 END)
        AS BIGINT) AS ge_1_5,
      CAST(SUM(CASE WHEN var_x > 0 AND var_y > 0
        AND cov_n*cov_n*2 >= var_x*var_y*1 THEN 1 ELSE 0 END)
        AS BIGINT) AS ge_1_2,
      CAST(SUM(CASE WHEN var_x > 0 AND var_y > 0
        AND cov_n*cov_n*5 >= var_x*var_y*4 THEN 1 ELSE 0 END)
        AS BIGINT) AS ge_4_5
      FROM $ldVarSql
      GROUP BY 1, 2""")))

  // --- LD SCORES (the LDSC heritability-regression input —
  // Bulik-Sullivan 2015): 1 + Σ r² over each variant's window pairs,
  // r² quantized to exact ppm BIGINTs so the sum is order-independent
  // (summing double ratios would be engine-order-dependent — the
  // q320 scaled-integer discipline). Rides the SAME shared
  // LdWindow.stats stage as q108/q168; both pair endpoints
  // accumulate. Variants without a defined pair are absent (score
  // exactly 1). -----------------------------------------------------------
  private val q335 = Q("q335_ld_scores",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
        .filter(col("vid") % LD_MOD === 0)
        .select(col("vid"), col("chrom"), col("pos"),
          dosageAlt(col("geno")).as("d"))
      graft.operators.LdWindow.ldScore(v, LD_WINDOW)
    },
    Some(withCte(s"""SELECT chrom, vid,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(r2ppm) AS BIGINT) AS sum_r2_ppm,
        1.0 + CAST(SUM(r2ppm) AS DOUBLE) / 1000000.0 AS ld_score
      FROM (SELECT chrom, vid_a AS vid,
            (cov_n * cov_n * 1000000) // (var_x * var_y) AS r2ppm
          FROM $ldVarSql WHERE var_x > 0 AND var_y > 0
        UNION ALL SELECT chrom, vid_b,
            (cov_n * cov_n * 1000000) // (var_x * var_y)
          FROM $ldVarSql WHERE var_x > 0 AND var_y > 0)
      GROUP BY 1, 2""")))

  // --- KINSHIP DEGREE CLASSES (the decision table downstream of
  // q109's KING φ — Manichaikul 2010's inference criteria): pairs
  // classified MZ/dup, 1st, 2nd, 3rd degree or unrelated by the
  // standard 2^{-(2k+3)/2} cutoffs, evaluated as EXACT cross-
  // multiplied integer comparisons against ppm-rational thresholds
  // (φ_num·10⁶ vs thr_ppm·φ_den — no float compare drift at the
  // boundaries). Same ×pairs explode + pair-keyed aggregate budget as
  // q109; biobank-scale callers block the pair set first. ---------------
  private val q337 = Q("q337_kinship_classes",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val d = dosageAlt(col("geno"))
      val rows = graft.functions.pairs.pairFan(
          v.select(d.as("d")), SynthGeno.nSamples)
        .select(col("i"), col("j"),
          element_at(col("d"), col("i") + 1).as("di"),
          element_at(col("d"), col("j") + 1).as("dj"))
        .filter(col("di").isNotNull && col("dj").isNotNull)
      val agg = rows.groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n_both"),
          sum(when(col("di") === 1, 1L).otherwise(0L)).as("hi"),
          sum(when(col("dj") === 1, 1L).otherwise(0L)).as("hj"),
          sum(when(col("di") === 1 && col("dj") === 1, 1L)
            .otherwise(0L)).as("hb"),
          sum(when(abs(col("di") - col("dj")) === 2, 1L).otherwise(0L))
            .as("opp"))
        .withColumn("num", (col("hb") - lit(2L) * col("opp")) * 1000000L)
        .withColumn("den", col("hi") + col("hj"))
      agg.withColumn("phi", when(col("den") > 0,
          (col("hb").cast("double") - lit(2.0) * col("opp"))
            / col("den").cast("double")))
        .withColumn("degree", when(col("den") === 0, "NA")
          .when(col("num") > lit(353553L) * col("den"), "MZ")
          .when(col("num") > lit(176777L) * col("den"), "1st")
          .when(col("num") > lit(88388L) * col("den"), "2nd")
          .when(col("num") > lit(44194L) * col("den"), "3rd")
          .otherwise("UN"))
        .select(col("i"), col("j"), col("n_both"), col("phi"),
          col("degree"))
    },
    Some(withCte("""SELECT i, j, cnt AS n_both,
        CASE WHEN hi + hj > 0 THEN
          (CAST(hb AS DOUBLE) - 2.0 * opp) / CAST(hi + hj AS DOUBLE)
          END AS phi,
        CASE WHEN hi + hj = 0 THEN 'NA'
          WHEN (hb - 2 * opp) * 1000000 > 353553 * (hi + hj) THEN 'MZ'
          WHEN (hb - 2 * opp) * 1000000 > 176777 * (hi + hj) THEN '1st'
          WHEN (hb - 2 * opp) * 1000000 > 88388 * (hi + hj) THEN '2nd'
          WHEN (hb - 2 * opp) * 1000000 > 44194 * (hi + hj) THEN '3rd'
          ELSE 'UN' END AS degree
      FROM (SELECT i, j, COUNT(*) AS cnt,
          CAST(SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hi,
          CAST(SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hj,
          CAST(SUM(CASE WHEN di = 1 AND dj = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS hb,
          CAST(SUM(CASE WHEN abs(di - dj) = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS opp
        FROM (SELECT p.i AS i, p.j AS j, d[p.i + 1] AS di,
            d[p.j + 1] AS dj
          FROM (SELECT list_transform(geno, sa ->
              CASE WHEN len(list_filter(sa, x -> x IS NULL)) > 0
                   THEN NULL
                   ELSE len(list_filter(sa, x -> x <> 0)) END) AS d
            FROM variants),
            (SELECT i.i, j.j
             FROM (SELECT unnest(range(0, 8)) AS i) i,
                  (SELECT unnest(range(0, 8)) AS j) j
             WHERE j.j > i.i) p)
        WHERE di IS NOT NULL AND dj IS NOT NULL
        GROUP BY i, j)""")))

  // --- KING-robust pairwise sample kinship (Manichaikul et al. 2010; the
  // per-sample-PAIR margin — the heaviest by.sample workload the
  // reference's ~data transpose exists for): over variants where both
  // samples are fully called, φ = (N_het,het − 2·N_opp) / (N_het,i +
  // N_het,j) from the biallelic-collapsed dosages. The explode emits one
  // tiny counter row per (variant, pair) and groupBy's map-side partial
  // aggregation collapses it to 28 rows per partition before the
  // shuffle — at 100 TB the exchange carries #pairs × #partitions rows,
  // never the cube. For biobank sample counts the pair set is blocked
  // (this shape is per-block). --------------------------------------------
  private val q109 = Q("q109_king",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val d = dosageAlt(col("geno"))
      val rows = graft.functions.pairs.pairFan(
          v.select(d.as("d")), SynthGeno.nSamples)
        .select(col("i"), col("j"),
          element_at(col("d"), col("i") + 1).as("di"),
          element_at(col("d"), col("j") + 1).as("dj"))
        .filter(col("di").isNotNull && col("dj").isNotNull)
      rows.groupBy(col("i"), col("j"))
        .agg(
          count(lit(1)).as("n_both"),
          sum(when(col("di") === 1, 1L).otherwise(0L)).as("n_het_i"),
          sum(when(col("dj") === 1, 1L).otherwise(0L)).as("n_het_j"),
          sum(when(col("di") === 1 && col("dj") === 1, 1L).otherwise(0L))
            .as("n_het_both"),
          sum(when(abs(col("di") - col("dj")) === 2, 1L).otherwise(0L))
            .as("n_opp"),
          // IBS spectrum (snpgdsIBS): alleles shared per both-called site
          sum(when(abs(col("di") - col("dj")) === 1, 1L).otherwise(0L))
            .as("n_ibs1"),
          sum(when(col("di") === col("dj"), 1L).otherwise(0L))
            .as("n_ibs2"))
        .withColumn("kinship",
          when(col("n_het_i") + col("n_het_j") > 0,
            (col("n_het_both").cast("double")
              - lit(2.0) * col("n_opp"))
              / (col("n_het_i") + col("n_het_j")).cast("double")))
        .withColumn("ibs",
          when(col("n_both") > 0,
            (lit(2.0) * col("n_ibs2") + col("n_ibs1"))
              / (lit(2.0) * col("n_both"))))
    },
    Some(withCte("""SELECT i, j, COUNT(*) AS n_both,
      CAST(SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het_i,
      CAST(SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het_j,
      CAST(SUM(CASE WHEN di = 1 AND dj = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_het_both,
      CAST(SUM(CASE WHEN abs(di - dj) = 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_opp,
      CAST(SUM(CASE WHEN abs(di - dj) = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_ibs1,
      CAST(SUM(CASE WHEN di = dj THEN 1 ELSE 0 END) AS BIGINT)
        AS n_ibs2,
      CASE WHEN SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END)
             + SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) > 0
           THEN (CAST(SUM(CASE WHEN di = 1 AND dj = 1 THEN 1 ELSE 0 END)
                   AS DOUBLE)
                 - 2.0 * SUM(CASE WHEN abs(di - dj) = 2 THEN 1 ELSE 0 END))
                / CAST(SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END)
                       + SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      END AS kinship,
      CASE WHEN COUNT(*) > 0
           THEN (2.0 * SUM(CASE WHEN di = dj THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN abs(di - dj) = 1 THEN 1 ELSE 0 END))
                / (2.0 * COUNT(*))
      END AS ibs
      FROM (SELECT pr.i, pr.j, d[pr.i + 1] AS di, d[pr.j + 1] AS dj
        FROM (SELECT list_transform(geno, sa ->
            CASE WHEN len(list_filter(sa, a -> a IS NULL)) > 0 THEN NULL
                 ELSE len(list_filter(sa, a -> a <> 0)) END) AS d
          FROM variants),
          (SELECT ii.i, jj.j
           FROM (SELECT unnest(range(0, 8)) AS i) ii,
                (SELECT unnest(range(0, 8)) AS j) jj
           WHERE jj.j > ii.i) pr)
      WHERE di IS NOT NULL AND dj IS NOT NULL
      GROUP BY i, j""")))

  // --- runs of homozygosity (bcftools roh / detectRuns shape — the
  // per-sample positional scan the reference's sample-major `~data`
  // layout serves): per (sample, chrom), variants in (pos, vid) order,
  // a run = consecutive fully-called homozygous calls (minor dosage 0
  // or 2); report hom counts, run count, and the longest run. Shape:
  // one posexplode to (sample, chrom) rows, the gaps-and-islands
  // double row_number (island id = rn_all − rn_hom is constant within
  // a run), then two aggregates — all windows partition by
  // (s, chrom), so parallelism grows with samples × chromosomes (the
  // biobank axis), never a global sort. ---------------------------------
  private val q112 = Q("q112_roh",
    (s, dir) => {
      // lag-based islands: a run STARTS at a hom row whose predecessor
      // is not hom; the run id is the running count of starts (RANGE
      // frame, so full-key ties share it). vid is NOT unique in the
      // testdata (duplicate (orderkey, linenumber) pairs), so the
      // dosage value joins the sort key: remaining ties are rows with
      // identical hom flags, where exactly one of the tied rows sees
      // the pre-boundary predecessor — the segmentation is invariant
      // to their internal order (a rank-subtraction islands id is NOT:
      // two independent window sorts may permute ties differently).
      // The exploded rows + run ids ride the session-scoped shared ROH
      // substrate (PopGen.homRunRows — q201's F_ROH aggregates the
      // identical rows); this query is its run-length rollup.
      val v = SynthGeno.variants(s, dir)
        .select(col("chrom"), col("pos"), col("vid"),
          dosageAlt(col("geno")).as("d"))
      val runs = graft.operators.PopGen.homRunRows(v)
        .filter(col("hom"))
        .groupBy(col("s"), col("chrom"), col("rid"))
        .agg(count(lit(1)).as("run_len"))
      runs.groupBy(col("s"), col("chrom"))
        .agg(sum(col("run_len")).as("n_hom"),
          count(lit(1)).as("n_runs"),
          max(col("run_len")).as("max_run"))
    },
    Some(withCte("""SELECT s, chrom,
      CAST(SUM(run_len) AS BIGINT) AS n_hom,
      COUNT(*) AS n_runs,
      CAST(MAX(run_len) AS BIGINT) AS max_run
      FROM (SELECT s, chrom, rid, COUNT(*) AS run_len
        FROM (SELECT s, chrom, hom,
            SUM(CASE WHEN strt THEN 1 ELSE 0 END)
              OVER (PARTITION BY s, chrom ORDER BY pos, vid, dkey) AS rid
          FROM (SELECT s, chrom, pos, vid, dkey, hom,
              hom AND NOT LAG(hom, 1, FALSE)
                OVER (PARTITION BY s, chrom ORDER BY pos, vid, dkey)
                AS strt
            FROM (SELECT CAST(sq.s AS INT) AS s, chrom, pos, vid,
              COALESCE(d[sq.s + 1], -1) AS dkey,
              d[sq.s + 1] IS NOT NULL
                AND (d[sq.s + 1] = 0 OR d[sq.s + 1] = 2) AS hom
            FROM (SELECT chrom, pos, vid,
                list_transform(geno, sa ->
                  CASE WHEN len(list_filter(sa, a -> a IS NULL)) > 0
                       THEN NULL
                       ELSE len(list_filter(sa, a -> a <> 0)) END) AS d
              FROM variants),
              (SELECT unnest(range(0, 8)) AS s) sq)))
        WHERE hom GROUP BY 1, 2, 3)
      GROUP BY s, chrom""")))

  // --- genotype concordance between two callsets (bcftools gtcheck /
  // GATK GenotypeConcordance): callset B is a deterministic perturbation
  // of A — per call, in precedence order: (vid + s) % 11 == 0 drops to
  // missing, (vid·3 + s) % 7 == 0 MUTATES the first allele to
  // (a1+1) % nall (always discordant: the multiset provably changes),
  // (vid·7 + s) % 13 == 0 swaps the alleles (must NOT count as
  // discordant — genotypes compare unphased as (min, max) multisets).
  // Statically unrolled over the 8 samples: every comparison is scalar
  // when/least/greatest codegen, no per-row HOF walk (the first cut ran
  // nested list_filters per sample and was the slowest bench query).
  // Pure projection; a real cross-callset run joins on q29's
  // (chrom, pos, allele) merge key first. -------------------------------
  private val q113 = Q("q113_gtcheck",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val samples = (0 until SynthGeno.nSamples).map { i =>
        val a1 = col("geno")(i)(0)
        val a2 = col("geno")(i)(1)
        val aMiss = a1.isNull || a2.isNull
        val bMissing = (col("vid") + i) % 11 === 0
        val bMutated = (col("vid") * 3 + i) % 7 === 0
        val bSwapped = (col("vid") * 7 + i) % 13 === 0
        val b1 = when(bMutated, (a1 + 1) % col("nall"))
          .otherwise(when(bSwapped, a2).otherwise(a1))
        val b2 = when(bSwapped, a1).otherwise(a2)
        val bMiss = bMissing || b1.isNull || b2.isNull
        val both = !aMiss && !bMiss
        val eq = both && least(a1, a2) === least(b1, b2) &&
          greatest(a1, a2) === greatest(b1, b2)
        (when(both, 1).otherwise(0),
          when(aMiss =!= bMiss, 1).otherwise(0),
          when(eq, 1).otherwise(0))
      }
      v.select(col("vid"),
          samples.map(_._1).reduce(_ + _).as("n_both"),
          samples.map(_._2).reduce(_ + _).as("n_half"),
          samples.map(_._3).reduce(_ + _).as("n_eq"))
        .withColumn("concordance",
          when(col("n_both") > 0,
            col("n_eq").cast("double") / col("n_both")))
    },
    Some(withCte({
      def term(i: Int, field: String) = {
        val a1 = s"geno[${i + 1}][1]"
        val a2 = s"geno[${i + 1}][2]"
        val aMiss = s"($a1 IS NULL OR $a2 IS NULL)"
        val b1 = s"""(CASE WHEN (vid * 3 + $i) % 7 = 0
          THEN ($a1 + 1) % nall
          WHEN (vid * 7 + $i) % 13 = 0 THEN $a2 ELSE $a1 END)"""
        val b2 = s"""(CASE WHEN (vid * 7 + $i) % 13 = 0
          THEN $a1 ELSE $a2 END)"""
        val bMiss =
          s"((vid + $i) % 11 = 0 OR $b1 IS NULL OR $b2 IS NULL)"
        val both = s"(NOT $aMiss AND NOT $bMiss)"
        val eq = s"""($both AND least($a1, $a2) = least($b1, $b2)
          AND greatest($a1, $a2) = greatest($b1, $b2))"""
        field match {
          case "both" => s"(CASE WHEN $both THEN 1 ELSE 0 END)"
          case "half" =>
            s"(CASE WHEN $aMiss <> $bMiss THEN 1 ELSE 0 END)"
          case "eq" => s"(CASE WHEN $eq THEN 1 ELSE 0 END)"
        }
      }
      def sumOf(field: String) =
        (0 until SynthGeno.nSamples).map(term(_, field)).mkString(" + ")
      s"""SELECT vid, n_both, n_half, n_eq,
        CASE WHEN n_both > 0
             THEN CAST(n_eq AS DOUBLE) / n_both END AS concordance
      FROM (SELECT vid,
          CAST(${sumOf("both")} AS INT) AS n_both,
          CAST(${sumOf("half")} AS INT) AS n_half,
          CAST(${sumOf("eq")} AS INT) AS n_eq
        FROM variants)"""
    })))

  // --- Mendelian-error check over trios (bcftools +mendelian / GATK
  // PhaseByTransmission QC): for fixed trios (father, mother, child) =
  // (0,1,2) and (3,4,5) of the 8-sample cube, a diploid child call is
  // CONSISTENT iff some assignment puts one child allele in the
  // father's pair and the other in the mother's. Trios with any
  // missing member are counted separately. Pure projection — exact
  // set logic per variant, no shuffle; a pedigree-table version joins
  // the broadcast pedigree the same way the samples table joins. -------
  private val q116 = Q("q116_mendel",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      def g(i: Int) = element_at(col("geno"), i + 1)
      // codegen conjunction, not size(filter(.., isNull)) — the HOF is
      // CodegenFallback (interpreted per row) and the cube is diploid
      def called(i: Int) = element_at(g(i), 1).isNotNull &&
        element_at(g(i), 2).isNotNull
      def inPair(a: org.apache.spark.sql.Column, i: Int) =
        element_at(g(i), 1) === a || element_at(g(i), 2) === a
      def trio(f: Int, m: Int, c: Int) = {
        val c1 = element_at(g(c), 1)
        val c2 = element_at(g(c), 2)
        val ok = (inPair(c1, f) && inPair(c2, m)) ||
          (inPair(c1, m) && inPair(c2, f))
        struct(
          (called(f) && called(m) && called(c)).as("checked"),
          (called(f) && called(m) && called(c) && !ok).as("violation"))
      }
      // direct conditional sums over the two (plan-constant) trios —
      // filter() over the struct array was two more interpreted HOFs
      // per row
      val trios = Seq(trio(0, 1, 2), trio(3, 4, 5))
      def cnt(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        trios.map(t => when(f(t), 1L).otherwise(0L)).reduce(_ + _)
      v.select(col("vid"),
          cnt(_.getField("checked")).as("n_checked"),
          cnt(_.getField("violation")).as("n_violations"))
        .withColumn("error_rate",
          when(col("n_checked") > 0,
            col("n_violations").cast("double") / col("n_checked")))
    },
    Some(withCte({
      def gSql(i: Int) = s"geno[${i + 1}]"
      def calledSql(i: Int) =
        s"len(list_filter(${gSql(i)}, x -> x IS NULL)) = 0"
      def inPairSql(a: String, i: Int) =
        s"(${gSql(i)}[1] = $a OR ${gSql(i)}[2] = $a)"
      def trioSql(f: Int, m: Int, c: Int) = {
        val c1 = s"${gSql(c)}[1]"
        val c2 = s"${gSql(c)}[2]"
        val ok = s"""((${inPairSql(c1, f)} AND ${inPairSql(c2, m)})
           OR (${inPairSql(c1, m)} AND ${inPairSql(c2, f)}))"""
        s"""{'checked': ${calledSql(f)} AND ${calledSql(m)}
             AND ${calledSql(c)},
           'violation': ${calledSql(f)} AND ${calledSql(m)}
             AND ${calledSql(c)} AND NOT $ok}"""
      }
      s"""SELECT vid, n_checked, n_violations,
        CASE WHEN n_checked > 0
             THEN CAST(n_violations AS DOUBLE) / n_checked
        END AS error_rate
      FROM (SELECT vid,
          CAST(len(list_filter(ts, t -> t.checked)) AS BIGINT)
            AS n_checked,
          CAST(len(list_filter(ts, t -> t.violation)) AS BIGINT)
            AS n_violations
        FROM (SELECT vid,
            [${trioSql(0, 1, 2)}, ${trioSql(3, 4, 5)}] AS ts
          FROM variants))"""
    })))

  // Per-sample QC margin (the standard cohort QC pass: call rate, het
  // rate, singleton count, outlier flag — the per-sample view of
  // seqMissing/seqAlleleCount the reference users run via seqApply +
  // margin=“by.sample”): per (variant, sample) facts compute BEFORE the
  // explode, so the shuffle carries three small ints per cell; the
  // singleton test reuses the per-variant flattened allele list (an
  // in-row HOF count, no per-allele shuffle). The outlier gate is exact
  // BIGINT cross-multiplication — het_rate > 2 × cohort rate — against
  // broadcast cohort totals, so the flag replays engine-exact.
  private val q143 = Q("q143_sample_qc",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      // ONE fused codegen kernel computes (called, het, singletons)
      // per sample — the previous HOF singleton set
      // (filter(array_distinct(flatten(geno)), …)) was CodegenFallback,
      // re-entering the interpreter per variant; the kernel counts
      // allele occurrences in a hash map (O(samples) per variant at
      // biobank width) and packs the three QC flags into one BIGINT
      // per sample, posexploded and unpacked by pure codegen bit ops.
      // outer: the packed array is never empty, and the non-outer
      // generate's inferred size()>0 filter would re-run the kernel
      // below the fan-out (the q124 lesson)
      val cell = v.select(
        posexplode_outer(sampleQcPacked(col("geno")))
          .as(Seq("smp", "p")))
      val g = cell
        .groupBy(col("smp"))
        .agg(sum(col("p").bitwiseAND(lit(1L))).as("n_called"),
          sum(shiftright(col("p"), 1).bitwiseAND(lit(1L))).as("n_het"),
          sum(shiftright(col("p"), 2)).as("n_singletons"))
      val tot = g.agg(sum(col("n_called")).as("tc"),
        sum(col("n_het")).as("th"))
      g.crossJoin(broadcast(tot))
        .select(col("smp"), col("n_called"), col("n_het"),
          col("n_singletons"),
          (col("n_het") * col("tc") > lit(2) * col("th") * col("n_called"))
            .as("het_outlier"))
    },
    Some(withCte(s"""SELECT smp, n_called, n_het, n_singletons,
        n_het * tc > 2 * th * n_called AS het_outlier
      FROM (SELECT CAST(s AS INT) AS smp,
          CAST(SUM(CASE WHEN a1 IS NOT NULL AND a2 IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS n_called,
          CAST(SUM(CASE WHEN a1 IS NOT NULL AND a2 IS NOT NULL
            AND a1 <> a2 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
          CAST(SUM(
            (CASE WHEN a1 IS NOT NULL AND a1 > 0
              AND len(list_filter(fl, x -> x = a1)) = 1
              THEN 1 ELSE 0 END)
            + (CASE WHEN a2 IS NOT NULL AND a2 > 0
              AND len(list_filter(fl, x -> x = a2)) = 1
              THEN 1 ELSE 0 END)) AS BIGINT) AS n_singletons
        FROM (SELECT s, flatten(geno) AS fl,
            geno[s+1][1] AS a1, geno[s+1][2] AS a2
          FROM variants,
            (SELECT unnest(range(0, ${SynthGeno.nSamples})) AS s))
        GROUP BY 1),
        (SELECT CAST(SUM(CASE WHEN a1 IS NOT NULL AND a2 IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS tc,
          CAST(SUM(CASE WHEN a1 IS NOT NULL AND a2 IS NOT NULL
            AND a1 <> a2 THEN 1 ELSE 0 END) AS BIGINT) AS th
          FROM (SELECT geno[s+1][1] AS a1, geno[s+1][2] AS a2
            FROM variants,
              (SELECT unnest(range(0, ${SynthGeno.nSamples})) AS s)))""")))

  // Per-SAMPLE Ts/Tv (the q107 class split carried onto the sample
  // margin — the standard per-sample QC ratio bcftools stats prints as
  // PSC): over biallelic variants only, a sample contributes where it
  // CARRIES the alt allele; the transition flag reuses q107's exact
  // ref/alt derivation. Explode-after-facts like q23/q143 — the shuffle
  // carries one boolean pair per (variant, sample).
  private val q159 = Q("q159_sample_tstv",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir).filter(col("nall") === 2)
      val refI = col("vid") % 4
      val altI0 = (expr("vid div 7") + col("nall")) % 4
      val altI = when(altI0 === refI, (altI0 + 1) % 4).otherwise(altI0)
      val isTs = abs(refI - altI) === 2
      val n = SynthGeno.nSamples
      v.select(isTs.as("is_ts"), col("geno"),
          explode(sequence(lit(0), lit(n - 1))).as("smp"))
        .select(col("smp"), col("is_ts"),
          exists(element_at(col("geno"), col("smp") + 1),
            x => x.isNotNull && x > 0).as("carrier"))
        .filter(col("carrier"))
        .groupBy(col("smp"))
        .agg(count(lit(1)).as("n_alt_sites"),
          sum(when(col("is_ts"), 1L).otherwise(0L)).as("n_ts"),
          sum(when(!col("is_ts"), 1L).otherwise(0L)).as("n_tv"))
        .withColumn("tstv",
          when(col("n_tv") > 0, col("n_ts").cast("double") / col("n_tv")))
    },
    Some(withCte(s"""SELECT CAST(s AS INT) AS smp,
        COUNT(*) AS n_alt_sites,
        CAST(SUM(CASE WHEN is_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
        CAST(SUM(CASE WHEN is_ts THEN 0 ELSE 1 END) AS BIGINT) AS n_tv,
        CASE WHEN SUM(CASE WHEN is_ts THEN 0 ELSE 1 END) > 0
             THEN CAST(SUM(CASE WHEN is_ts THEN 1 ELSE 0 END) AS DOUBLE)
                  / SUM(CASE WHEN is_ts THEN 0 ELSE 1 END) END AS tstv
      FROM (SELECT s,
          abs(vid % 4 -
            (CASE WHEN (vid // 7 + nall) % 4 = vid % 4
                  THEN (vid // 7 + nall + 1) % 4
                  ELSE (vid // 7 + nall) % 4 END)) = 2 AS is_ts,
          len(list_filter(geno[s+1], x -> x IS NOT NULL AND x > 0)) > 0
            AS carrier
        FROM variants, (SELECT unnest(range(0, ${SynthGeno.nSamples})) AS s)
        WHERE nall = 2)
      WHERE carrier GROUP BY 1""")))

  // --- F_ROH (PLINK --homozyg derived inbreeding, SNP-count mode):
  // per sample, the fraction of its called sites inside homozygous runs
  // of ≥ MIN_ROH consecutive hom calls — rides q112's exact lag-based
  // island segmentation, plus a sample-keyed called-sites denominator
  // (LEFT join so ROH-free samples report 0). ---------------------------
  private val MIN_ROH = 3L
  private val dSqlG =
    """list_transform(geno, sa ->
         CASE WHEN len(list_filter(sa, a -> a IS NULL)) > 0 THEN NULL
              ELSE len(list_filter(sa, a -> a <> 0)) END)"""
  private val q201 = Q("q201_froh",
    (s, dir) => graft.operators.PopGen.frohFromDosage(
      SynthGeno.variants(s, dir)
        .select(col("chrom"), col("pos"), col("vid"),
          dosageAlt(col("geno")).as("d")),
      MIN_ROH),
    Some(withCte(s"""SELECT s, n_called,
      COALESCE(n_roh, 0) AS n_roh,
      COALESCE(n_roh_sites, 0) AS n_roh_sites,
      CAST(COALESCE(n_roh_sites, 0) AS DOUBLE)
        / CAST(n_called AS DOUBLE) AS f_roh
      FROM (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_called
        FROM (SELECT CAST(sq.s AS BIGINT) AS s,
            d[CAST(sq.s AS INT) + 1] AS dos
          FROM (SELECT $dSqlG AS d FROM variants),
            (SELECT unnest(range(0, ${SynthGeno.nSamples})) AS s) sq)
        WHERE dos IS NOT NULL GROUP BY 1) c
      LEFT JOIN (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_roh,
          CAST(SUM(run_len) AS BIGINT) AS n_roh_sites
        FROM (SELECT s, chrom, rid, COUNT(*) AS run_len
          FROM (SELECT s, chrom, hom,
              SUM(CASE WHEN strt THEN 1 ELSE 0 END)
                OVER (PARTITION BY s, chrom ORDER BY pos, vid, dkey)
                AS rid
            FROM (SELECT s, chrom, pos, vid, dkey, hom,
                hom AND NOT LAG(hom, 1, FALSE)
                  OVER (PARTITION BY s, chrom ORDER BY pos, vid, dkey)
                  AS strt
              FROM (SELECT CAST(sq.s AS BIGINT) AS s, chrom, pos, vid,
                COALESCE(d[CAST(sq.s AS INT) + 1], -1) AS dkey,
                d[CAST(sq.s AS INT) + 1] IS NOT NULL
                  AND (d[CAST(sq.s AS INT) + 1] = 0
                    OR d[CAST(sq.s AS INT) + 1] = 2) AS hom
              FROM (SELECT chrom, pos, vid, $dSqlG AS d FROM variants),
                (SELECT unnest(range(0, ${SynthGeno.nSamples})) AS s)
                  sq)))
          WHERE hom GROUP BY 1, 2, 3)
        WHERE run_len >= $MIN_ROH GROUP BY 1) r USING (s)""")))

  // --- q213: EXACT Hardy–Weinberg test (Wigginton et al. 2005; PLINK
  // --hwe) — the finite-sample companion to q106's chi². The
  // Levene–Haldane het-count distribution P(n_AB | n, R) is computed
  // ONCE in Scala as exact BigInt numerators over the common
  // denominator C(2n, R) (comparisons and the tail sum are exact
  // integer arithmetic; ONE final division per table row), and the
  // tiny (n, R, n_AB) → p table is handed VERBATIM to both engines —
  // Spark as a broadcast literal DataFrame, DuckDB as a VALUES list
  // with e0-suffixed literals (forces DOUBLE parse) — so no
  // cross-engine floating arithmetic exists at all. Scale: the table
  // is O(S²) rows for S samples (fine to biobank S with a broadcast;
  // beyond that the χ² lane applies), the scan one projection + one
  // broadcast join. ----------------------------------------------------
  private def hweExactTable(maxN: Int): Seq[(Long, Long, Long, Double)] = {
    def fact(k: Int): BigInt = (1 to k).foldLeft(BigInt(1))(_ * _)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    for (n <- 1 to maxN; r <- 0 to n) {
      val valid = (0 to r).filter(k =>
        (r - k) % 2 == 0 && n - k - (r - k) / 2 >= 0)
      // unnormalized weights share the denominator C(2n, R): exact
      val w = valid.map { k =>
        val nrr = (r - k) / 2
        k -> (BigInt(2).pow(k) * fact(n)
          / (fact(k) * fact(nrr) * fact(n - k - nrr)))
      }.toMap
      val total = w.values.sum
      for (k <- valid) {
        val tail = w.valuesIterator.filter(_ <= w(k)).sum
        out += ((n.toLong, r.toLong, k.toLong,
          tail.toDouble / total.toDouble))
      }
    }
    out.toSeq
  }

  private def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  private val q213 = Q("q213_hwe_exact",
    (s, dir) => {
      import s.implicits._
      val v = SynthGeno.variants(s, dir)
      val d = dosageAlt(col("geno"))
      val a = size(filter(d, x => x === 0))
      val b = size(filter(d, x => x === 1))
      val c = size(filter(d, x => x === 2))
      val counts = v
        .select(col("vid"), a.as("n_aa"), b.as("n_ab"), c.as("n_bb"))
        .withColumn("n",
          (col("n_aa") + col("n_ab") + col("n_bb")).cast("long"))
        .withColumn("r",
          least(lit(2L) * col("n_aa") + col("n_ab"),
            lit(2L) * col("n_bb") + col("n_ab")).cast("long"))
      val tab = hweExactTable(SynthGeno.nSamples)
        .toDF("n", "r", "nab", "p_hwe")
      counts.join(broadcast(tab),
          counts("n") === tab("n") && counts("r") === tab("r") &&
            counts("n_ab").cast("long") === tab("nab"), "left")
        .select(col("vid"), col("n_aa"), col("n_ab"), col("n_bb"),
          counts("n"), counts("r"), col("p_hwe"))
    },
    Some(withCte {
      val rows = hweExactTable(SynthGeno.nSamples)
        .map { case (n, r, k, p) => s"($n, $r, $k, ${dlit(p)})" }
        .mkString(",\n          ")
      s"""SELECT vid, n_aa, n_ab, n_bb, n, r, p_hwe
      FROM (SELECT vid, n_aa, n_ab, n_bb,
          CAST(n_aa + n_ab + n_bb AS BIGINT) AS n,
          CAST(LEAST(2 * n_aa + n_ab, 2 * n_bb + n_ab) AS BIGINT) AS r
        FROM (SELECT vid,
            CAST(len(list_filter(d, x -> x = 0)) AS BIGINT) AS n_aa,
            CAST(len(list_filter(d, x -> x = 1)) AS BIGINT) AS n_ab,
            CAST(len(list_filter(d, x -> x = 2)) AS BIGINT) AS n_bb
          FROM (SELECT vid, $dSqlG AS d FROM variants))) c
      LEFT JOIN (VALUES
          $rows) AS t(tn, tr, tnab, p_hwe)
        ON c.n = t.tn AND c.r = t.tr AND c.n_ab = t.tnab"""
    }))

  // --- q218: inter-variant gap QC per chromosome — marker-density
  // diagnostics (coverage holes, clustered calls): consecutive
  // position gaps on the tie-free (pos, vid) order within each chrom
  // partition, rolled up to per-chrom n, distinct positions, min/max
  // gap, exact gap sum and the mean as one division. Chrom-partitioned
  // window (never global) + one ≤#chroms-row aggregate. --------------
  private val q218 = Q("q218_variant_gaps",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("chrom"))
        .orderBy(col("pos"), col("vid"))
      SynthGeno.variants(s, dir)
        .select(col("chrom"), col("pos"), col("vid"))
        .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
        .groupBy(col("chrom"))
        .agg(count(lit(1)).as("n_variants"),
          count_distinct(col("pos")).as("n_pos"),
          count(col("gap")).as("n_gaps"),
          min(col("gap")).as("min_gap"),
          max(col("gap")).as("max_gap"),
          sum(col("gap")).as("gap_sum"))
        .withColumn("mean_gap", col("gap_sum").cast("double")
          / col("n_gaps").cast("double"))
    },
    Some(withCte("""SELECT chrom, CAST(COUNT(*) AS BIGINT) AS n_variants,
        CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_pos,
        CAST(COUNT(gap) AS BIGINT) AS n_gaps,
        CAST(MIN(gap) AS BIGINT) AS min_gap,
        CAST(MAX(gap) AS BIGINT) AS max_gap,
        CAST(SUM(gap) AS BIGINT) AS gap_sum,
        CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(gap) AS DOUBLE)
          AS mean_gap
      FROM (SELECT chrom, pos,
          pos - LAG(pos, 1) OVER (PARTITION BY chrom
            ORDER BY pos, vid) AS gap
        FROM variants)
      GROUP BY 1""")))

  // --- q220: sample × chromosome heterozygosity matrix — the
  // contamination / chromosomal-anomaly screen (a sample whose het
  // rate spikes on ONE chrom flags mosaicism or a sample swap):
  // collapsed-dosage het calls per (sample, chrom) cell, exact
  // counts, one division per cell. One explode + one S×C-cell
  // map-side-combined aggregate. --------------------------------------
  private val q220 = Q("q220_sample_chrom_het",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      v.select(col("chrom"),
          posexplode_outer(dosageAlt(col("geno")))
            .as(Seq("smp", "dos")))
        .select(col("chrom"), col("smp").cast("long").as("smp"),
          col("dos"))
        .groupBy(col("smp"), col("chrom"))
        .agg(count(col("dos")).as("n_called"),
          sum(when(col("dos") === 1, 1L).otherwise(0L)).as("n_het"))
        .withColumn("het_rate", when(col("n_called") > 0,
          col("n_het").cast("double") / col("n_called").cast("double")))
    },
    Some(withCte(s"""SELECT smp, chrom,
        CAST(COUNT(dos) AS BIGINT) AS n_called,
        CAST(SUM(CASE WHEN dos = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_het,
        CASE WHEN COUNT(dos) > 0
          THEN CAST(SUM(CASE WHEN dos = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(dos) AS DOUBLE) END AS het_rate
      FROM (SELECT chrom, CAST(sq.s AS BIGINT) AS smp,
          d[CAST(sq.s AS INT) + 1] AS dos
        FROM (SELECT chrom, $dSqlG AS d FROM variants),
          (SELECT unnest(range(0, ${SynthGeno.nSamples})) AS s) sq)
      GROUP BY 1, 2""")))

  override def queries: Seq[Q] =
    Seq(q20, q21, q22, q23, q24, q43, q44, q45, q47, q51, q59, q93,
      q106, q107, q108, q109, q112, q113, q116, q143, q159, q168, q201,
      q213, q218, q220, q335, q337)
}
