package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.core.SharedStages
import graft.functions.genetics._
import graft.genomics.SynthGeno
import graft.sources.Vcf

/** VCF export → import round-trip as an oracle-checked query: SynthGeno
  * variants are formatted into VCF body lines ([[Vcf.formatLines]]) and
  * parsed back ([[Vcf.parseLines]]) entirely as column expressions; the
  * DuckDB oracle computes the same output *directly* from the variants CTE,
  * so any loss or corruption in either direction breaks the hash match.
  * This is the reference's seqVCF2GDS → seqGDS2VCF digest round-trip
  * (inst/unitTests) recast as a single declarative plan.
  */
object VcfQ extends QueryModule {

  private val q40 = Q("q40_vcf_roundtrip",
    (s, dir) => {
      val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
      val full = transform(sequence(lit(1), col("nall").cast("int")),
        i => element_at(letters, i))
      val shaped = SynthGeno.variants(s, dir).select(
        col("chrom"), col("pos"),
        concat(lit("v"), col("vid")).as("id"),
        element_at(full, 1).as("ref"),
        slice(full, 2, 3).as("alts"),
        lit(null).cast("float").as("qual"),
        lit(null).cast("string").as("filter"),
        col("geno"), col("phased"),
        nCalledAlleles(col("geno")).as("an"))
      val lines = Vcf.formatLines(shaped,
        concat(lit("AN="), col("an").cast("string")))
      val parsed = Vcf.parseLines(lines,
        Seq(Vcf.FieldSpec("AN", "1", "Integer")), Nil, SynthGeno.nSamples)
      parsed.select(
        substring(col("id"), 2, 20).cast("long").as("vid"),
        col("chrom"), col("pos").cast("long").as("pos"),
        col("allele"),
        col("info_AN").cast("long").as("an"),
        gtStrings(col("geno"), col("phased"), ";").as("gts"))
    },
    Some(s"""WITH variants AS (${SynthGeno.sqlCte})
      SELECT vid, chrom, pos,
        array_to_string(list_transform(range(1, nall + 1),
          i -> (['A','C','G','T'])[i]), ',') AS allele,
        len(list_filter(flatten(geno), a -> a IS NOT NULL)) AS an,
        array_to_string(list_transform(range(0, 8), s ->
          COALESCE(CAST(geno[s+1][1] AS VARCHAR), '.')
          || (CASE WHEN phased[s+1] THEN '|' ELSE '/' END)
          || COALESCE(CAST(geno[s+1][2] AS VARCHAR), '.')), ';') AS gts
      FROM variants"""))

  // DuckDB reads neither GDS nor BCF, but the CEU fixture has an exact VCF
  // twin DuckDB CAN read as headerless gzipped TSV (15 `##` lines + the
  // `#CHROM` line → skip 16; 9 fixed columns + 90 samples). The oracle
  // recomputes the aggregates straight from the GT strings — an
  // implementation-independent replay of the container decode.
  private val CeuVcf = s"${Fixtures.ExtData}/CEU_Exon.vcf.gz"
  private val ceuSampleCols =
    (9 until 99).map(i => f"column$i%02d").mkString("[", ", ", "]")
  private def ceuOracle(withMissing: Boolean): String =
    s"""WITH raw AS (
      SELECT * FROM read_csv('$CeuVcf',
        sep='\t', header=false, skip=16, all_varchar=true, quote='')),
    v AS (
      SELECT column00 AS chrom,
        flatten(list_transform($ceuSampleCols,
          s -> string_split(replace(string_split(s, ':')[1], '|', '/'),
            '/'))) AS toks
      FROM raw)
    SELECT chrom,
      CAST(COUNT(*) AS BIGINT) AS n_variants,
      CAST(SUM(len(list_filter(toks, t -> t = '0'))) AS BIGINT)
        AS sum_ref_count,
      CAST(SUM(len(list_filter(toks, t -> t != '.'))) AS BIGINT)
        AS sum_called""" +
    (if (withMissing)
      """,
      CAST(SUM(len(list_filter(toks, t -> t = '.'))) AS BIGINT)
        AS sum_missing"""
     else "") + "\n    FROM v GROUP BY chrom"

  // seqOpen on a native CoreArray .gds (the reference's own storage): full
  // scan of the real CEU_Exon fixture through the DSv2 gds source into the
  // fused AF/AC/missing kernel. Hash-grade oracle: DuckDB replays the same
  // aggregate from the fixture's VCF twin (GdsSpec holds the row-for-row
  // container==VCF equality underneath).
  private val q49 = Q("q49_gds_import",
    (s, _) => {
      val df = graft.sources.gds.Gds.read(
        s, Fixtures.path("CEU_Exon.gds"))
      df.select(col("chrom"),
          genoStats(col("geno"), lit(0)).as("st"))
        .select(col("chrom"),
          element_at(col("st"), 1).as("total"),
          element_at(col("st"), 2).as("called"),
          element_at(col("st"), 3).as("ac"))
        .groupBy(col("chrom"))
        .agg(count(lit(1)).as("n_variants"),
          sum(col("ac")).as("sum_ref_count"),
          sum(col("called")).as("sum_called"),
          sum(col("total") - col("called")).as("sum_missing"))
    },
    Some(ceuOracle(withMissing = true)))

  // seqBCF2GDS analog end-to-end: the CEU fixture converted to BCF2.2
  // (our writer) and read back through the binary record decoder into
  // the allele-frequency kernel. Hash-grade oracle: same VCF-twin replay
  // as q49 (BcfSpec holds the row-for-row equality underneath).
  private val q50 = Q("q50_bcf_import",
    (s, _) => {
      val src = Fixtures.path("CEU_Exon.vcf.gz")
      val bcf = java.nio.file.Files.createTempDirectory("graft_bcf")
        .resolve("ceu.bcf").toString
      graft.sources.bcf.Bcf.writeFromVcf(src, bcf)
      graft.sources.bcf.Bcf.read(s, bcf)
        .select(col("chrom"),
          genoStats(col("geno"), lit(0)).as("st"))
        .select(col("chrom"),
          element_at(col("st"), 1).as("total"),
          element_at(col("st"), 2).as("called"),
          element_at(col("st"), 3).as("ac"))
        .groupBy(col("chrom"))
        .agg(count(lit(1)).as("n_variants"),
          sum(col("ac")).as("sum_ref_count"),
          sum(col("called")).as("sum_called"))
    },
    Some(ceuOracle(withMissing = false)))

  // GDS WRITE path with a hash-grade oracle: SynthGeno is exported once
  // per sf-dir as a native CoreArray container (GdsWrite — incl. dBit2
  // multi-plane genotypes for the nall=4 variants), read back through
  // the DSv2 gds source, and aggregated; DuckDB computes the same
  // answer directly from the variants CTE, so container encode+decode
  // must be lossless for the hash to match.
  private def gdsPath(dir: String): String =
    s"/tmp/graft_gds_${new java.io.File(dir).getName}.gds"

  private def ensureGds(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val p = gdsPath(dir)
    if (!new java.io.File(p).exists()) {
      val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
      val full = transform(sequence(lit(1), col("nall").cast("int")),
        i => element_at(letters, i))
      val shaped = SynthGeno.variants(s, dir).select(
        col("vid").as("variant_id"), col("chrom"),
        col("pos").cast("int").as("pos"),
        concat(lit("v"), col("vid")).as("id"),
        array_join(full, ",").as("allele"),
        lit(null).cast("float").as("qual"),
        lit(null).cast("string").as("filter"),
        col("geno"), col("phased"))
      graft.sources.gds.GdsWrite.write(shaped,
        (0 until SynthGeno.nSamples).map(i => s"S$i"), p)
    }
    p
  }

  private val q55 = Q("q55_gds_roundtrip",
    (s, dir) => {
      val p = ensureGds(s, dir)
      graft.sources.gds.Gds.read(s, p)
        .select(col("variant_id").as("vid"), col("chrom"),
          col("pos").cast("long").as("pos"), col("allele"),
          genoStats(col("geno"), lit(0)).as("st"))
        .select(col("vid"), col("chrom"), col("pos"), col("allele"),
          element_at(col("st"), 2).as("n_called"),
          element_at(col("st"), 3).as("ac_ref"))
    },
    Some(s"""WITH variants AS (${SynthGeno.sqlCte})
      SELECT vid, chrom, pos,
        array_to_string(list_transform(range(1, nall + 1),
          i -> (['A','C','G','T'])[i]), ',') AS allele,
        CAST(len(list_filter(flatten(geno), a -> a IS NOT NULL))
          AS BIGINT) AS n_called,
        CAST(len(list_filter(flatten(geno), a -> a = 0))
          AS BIGINT) AS ac_ref
      FROM variants"""))

  // FORMAT-field (fmt_*) round trip with a hash-grade oracle — the one
  // projection family q40 leaves spec-only. A deterministic per-sample
  // DP matrix (with '.' missing cells) is formatted into GT:DP body
  // lines and parsed back through the fmt_ column machinery
  // (array_position + per-sample split, reference ragged FORMAT path);
  // DuckDB recomputes the aggregate straight from the formula.
  private val q57 = Q("q57_fmt_roundtrip",
    (s, dir) => {
      val n = SynthGeno.nSamples
      val dp = array((0 until n).map(i =>
        when((col("vid") + i) % 11 === 0, lit(null).cast("int"))
          .otherwise(((col("vid") * 7 + i * 3) % 100).cast("int"))): _*)
      val shaped = SynthGeno.variants(s, dir)
        .select(col("vid"), col("chrom"), col("pos"), col("geno"),
          col("phased"), dp.as("dp"))
      // the variadic sample-cells kernel fuses GT:DP assembly into ONE
      // generated loop per row (HOF lambdas are CodegenFallback; the
      // earlier per-sample element_at unrolling grew the plan with the
      // cohort width — this stays O(#fields))
      val lines = shaped.select(concat_ws("\t",
        col("chrom"), col("pos"), concat(lit("v"), col("vid")),
        lit("A"), lit("C"), lit("."), lit("."), lit("."),
        lit("GT:DP"),
        sampleCells(col("geno"), col("phased"), "\t",
          Seq(col("dp").cast("array<string>")))).as("value"))
      val parsed = Vcf.parseLines(lines, Nil,
        Seq(Vcf.FieldSpec("GT", "1", "String"),
          Vcf.FieldSpec("DP", "1", "Integer")), n)
      parsed.select(
        substring(col("id"), 2, 20).cast("long").as("vid"),
        col("chrom"), col("pos").cast("long").as("pos"),
        (0 until n).map(i =>
          coalesce(element_at(col("fmt_DP"), i + 1).cast("long"), lit(0L)))
          .reduce(_ + _).as("sum_dp"),
        (0 until n).map(i =>
          when(element_at(col("fmt_DP"), i + 1).isNull, 1).otherwise(0))
          .reduce(_ + _).as("n_miss"))
    },
    Some(s"""WITH variants AS (${SynthGeno.sqlCte})
      SELECT vid, chrom, pos,
        CAST(COALESCE(list_sum(list_filter(list_transform(range(0, 8),
          s -> CASE WHEN (vid + s) % 11 = 0 THEN NULL
               ELSE (vid*7 + s*3) % 100 END), x -> x IS NOT NULL)), 0)
          AS BIGINT) AS sum_dp,
        CAST(len(list_filter(range(0, 8), s -> (vid + s) % 11 = 0))
          AS INT) AS n_miss
      FROM variants"""))

  // the biobank-width fast lane end-to-end: stored 2-bit planes →
  // option(packed) pg BINARY → geno_stats_packed, no genotype arrays
  // anywhere in the plan. Same data as q55; packed-fold oracle (a call
  // with any missing allele folds to fully missing).
  private val q58 = Q("q58_gds_packed_af",
    (s, dir) => {
      val p = ensureGds(s, dir)
      val st = genoStatsPacked(col("pg"), lit(SynthGeno.nSamples))
      s.read.format("gds").option("packed", "true").load(p)
        .select(col("variant_id").as("vid"), col("chrom"),
          element_at(st, 2).as("n_called"),
          element_at(st, 3).as("ac_ref"),
          element_at(st, 4).as("miss_calls"))
    },
    Some(s"""WITH variants AS (${SynthGeno.sqlCte})
      SELECT vid, chrom,
        CAST(2 * len(list_filter(geno, sa ->
          len(list_filter(sa, a -> a IS NULL)) = 0)) AS BIGINT) AS n_called,
        CAST(COALESCE(list_sum(list_transform(list_filter(geno, sa ->
          len(list_filter(sa, a -> a IS NULL)) = 0), sa ->
          len(list_filter(sa, a -> a = 0)))), 0) AS BIGINT) AS ac_ref,
        CAST(len(list_filter(geno, sa ->
          len(list_filter(sa, a -> a IS NULL)) > 0)) AS BIGINT)
          AS miss_calls
      FROM variants"""))

  // real data at near-biobank width: 1KG chr22 (1092 samples × ~20k
  // variants) through the native gds source's packed lane — ranged dBit2
  // decode straight into the per-byte GenoStats kernel. Hash-grade
  // oracle: scripts/gds_read.py (an independent pure-python CoreArray
  // decoder sharing no code with the Scala source) dumps the fixture's
  // per-variant REF-dosage stats to scripts/oracle/*.parquet (committed;
  // regenerate with `python3 scripts/gds_read.py dump-stats <gds> <out>`)
  // and DuckDB aggregates that dump.
  private val q60 = Q("q60_1kg_packed_af",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
      val st = genoStatsPacked(col("pg"), lit(1092))
      df.select(col("variant_id"),
          element_at(st, 2).as("called"),
          element_at(st, 3).as("ac_ref"))
        .agg(count(lit(1)).as("n_variants"),
          sum(col("ac_ref")).as("sum_ref"),
          sum(col("called")).as("sum_called"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_variants,
      CAST(SUM(ac_ref) AS BIGINT) AS sum_ref,
      CAST(SUM(called) AS BIGINT) AS sum_called
      FROM read_parquet(
        '/root/repo/scripts/oracle/1kg_chr22_geno_stats.parquet')"""))

  // windowed LD on REAL data at biobank width: the 1KG chr22 fixture's
  // first 1,000 variants decode from packed 2-bit planes straight into
  // per-sample REF-dosage vectors (unpack_2b codegen kernel) and pair up
  // in the SAME banded (chrom, pos div W) join as q108 — no out-of-window
  // pair ever enumerated. Hash-grade oracle: scripts/gds_read.py
  // dump-dosage (independent pure-python decoder) materializes the same
  // dosage vectors to parquet (committed; regenerate with
  // `python3 scripts/gds_read.py dump-dosage <gds> <out> 1000`) and
  // DuckDB replays the banded join + the pairwise-complete integer sums;
  // LD stats are Σ over samples, so they are sample-order invariant.
  private val LD_CUT = 1000
  private val LD_W = 10000L

  private val q150 = Q("q150_1kg_ld",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
        .filter(col("variant_id") <= LD_CUT)
        .select(col("variant_id").cast("long").as("vid"), col("chrom"),
          col("pos").cast("long").as("pos"),
          transform(unpack2b(col("pg"), lit(1092)), x => x.cast("long"))
            .as("d"))
      graft.operators.LdWindow.r2(df, LD_W)
    },
    Some {
      def pc(expr: String): String =
        s"""CAST(COALESCE(list_sum(list_transform(range(1, 1093), i ->
           CASE WHEN da[i] IS NOT NULL AND db[i] IS NOT NULL
                THEN $expr ELSE 0 END)), 0) AS BIGINT)"""
      s"""WITH v AS (SELECT variant_id AS vid, pos, d,
          pos // $LD_W AS bucket
        FROM read_parquet(
          '/root/repo/scripts/oracle/1kg_chr22_dosage.parquet')),
      a AS (SELECT vid AS vid_a, pos AS pos_a, d AS da,
          unnest([bucket, bucket + 1]) AS bkey FROM v),
      b AS (SELECT vid AS vid_b, pos AS pos_b, d AS db,
          bucket AS bkey FROM v),
      p AS (SELECT vid_a, vid_b, pos_a, pos_b, da, db
        FROM a JOIN b USING (bkey)
        WHERE (pos_a < pos_b OR (pos_a = pos_b AND vid_a < vid_b))
          AND pos_b - pos_a <= $LD_W),
      st AS (SELECT vid_a, vid_b, pos_b - pos_a AS dist,
          CAST(len(list_filter(range(1, 1093), i ->
            da[i] IS NOT NULL AND db[i] IS NOT NULL)) AS BIGINT) AS n,
          ${pc("da[i]")} AS sx,
          ${pc("db[i]")} AS sy,
          ${pc("da[i] * db[i]")} AS sxy,
          ${pc("da[i] * da[i]")} AS sxx,
          ${pc("db[i] * db[i]")} AS syy
        FROM p)
      SELECT '22' AS chrom, vid_a, vid_b, dist, n,
        CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN (CAST(n * sxy - sx * sy AS DOUBLE)
                   * CAST(n * sxy - sx * sy AS DOUBLE))
                / (CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE))
        END AS r2
      FROM st"""
    })

  // per-sample margin on the REAL fixture through the packed lane (the
  // reference's seqMissing(per.variant=FALSE) / sample QC view at 1,092
  // samples): dosage vectors from the 2-bit planes, per-sample facts
  // compute in the posexplode_outer fan-out, one small groupBy(sample).
  // Same dosage dump as q150 is the oracle.
  private val q151 = Q("q151_1kg_sample_margin",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
        .filter(col("variant_id") <= LD_CUT)
        .select(unpack2b(col("pg"), lit(1092)).as("d"))
      df.select(posexplode_outer(col("d")).as(Seq("smp", "dos")))
        .groupBy(col("smp"))
        .agg(count(lit(1)).as("n_variants"),
          sum(when(col("dos").isNotNull, 1L).otherwise(0L)).as("n_called"),
          sum(coalesce(col("dos").cast("long"), lit(0L))).as("sum_ref_dosage"),
          sum(when(col("dos").isNull, 1L).otherwise(0L)).as("n_missing"))
    },
    Some(s"""SELECT CAST(s AS INT) AS smp,
        CAST(COUNT(*) AS BIGINT) AS n_variants,
        CAST(SUM(CASE WHEN d[s+1] IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_called,
        CAST(SUM(COALESCE(d[s+1], 0)) AS BIGINT) AS sum_ref_dosage,
        CAST(SUM(CASE WHEN d[s+1] IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_missing
      FROM read_parquet(
          '/root/repo/scripts/oracle/1kg_chr22_dosage.parquet'),
        (SELECT unnest(range(0, 1092)) AS s)
      GROUP BY 1"""))

  // ragged INFO + FORMAT decode on the REAL fixture, oracle-gated (the
  // GdsSpec row-for-row gate covers these columns, but this puts them on
  // the DuckDB board): per-chrom sums of the container's typed info_AC/
  // AN/DP, the HM2 flag count, and the Number=. per-sample fmt_DP total.
  // Oracle: the VCF twin re-parses INFO key=value strings and splits the
  // 90 sample columns' GT:DP cells.
  private val q152 = Q("q152_gds_info_agg",
    (s, _) => {
      val df = graft.sources.gds.Gds.read(
        s, Fixtures.path("CEU_Exon.gds"))
      val dpCells = filter(flatten(col("fmt_DP")), x => x.isNotNull)
      df.select(col("chrom"),
          col("info_AC").cast("long").as("ac"),
          col("info_AN").cast("long").as("an"),
          col("info_DP").cast("long").as("dp"),
          col("info_HM2").cast("boolean").as("hm2"),
          aggregate(dpCells, lit(0L), (a, x) => a + x).as("fmt_dp"))
        .groupBy(col("chrom"))
        .agg(count(lit(1)).as("n_variants"),
          sum(col("ac")).as("sum_ac"),
          sum(col("an")).as("sum_an"),
          sum(col("dp")).as("sum_dp"),
          sum(when(col("hm2"), 1L).otherwise(0L)).as("n_hm2"),
          sum(col("fmt_dp")).as("sum_fmt_dp"))
    },
    Some(s"""WITH raw AS (
        SELECT * FROM read_csv('$CeuVcf',
          sep='\t', header=false, skip=16, all_varchar=true, quote='')),
      v AS (SELECT column00 AS chrom,
          CAST(NULLIF(regexp_extract(column07, 'AC=([0-9]+)', 1), '')
            AS BIGINT) AS ac,
          CAST(NULLIF(regexp_extract(column07, 'AN=([0-9]+)', 1), '')
            AS BIGINT) AS an,
          CAST(NULLIF(regexp_extract(column07, 'DP=([0-9]+)', 1), '')
            AS BIGINT) AS dp,
          CASE WHEN column07 = 'HM2'
                 OR column07 LIKE 'HM2;%' OR column07 LIKE '%;HM2'
                 OR column07 LIKE '%;HM2;%' THEN 1 ELSE 0 END AS hm2,
          COALESCE(list_sum(list_transform(
            list_filter($ceuSampleCols,
              s -> string_split(s, ':')[2] <> '.'),
            s -> CAST(string_split(s, ':')[2] AS BIGINT))), 0) AS fmt_dp
        FROM raw)
      SELECT chrom,
        CAST(COUNT(*) AS BIGINT) AS n_variants,
        CAST(SUM(ac) AS BIGINT) AS sum_ac,
        CAST(SUM(an) AS BIGINT) AS sum_an,
        CAST(SUM(dp) AS BIGINT) AS sum_dp,
        CAST(SUM(hm2) AS BIGINT) AS n_hm2,
        CAST(SUM(fmt_dp) AS BIGINT) AS sum_fmt_dp
      FROM v GROUP BY chrom"""))

  // folded site-frequency spectrum of 1KG chr22 (the first plot of any
  // popgen paper): minor-allele COUNT histogram over all 19,773 variants,
  // computed from the packed lane's per-variant stats — one projection +
  // a ≤1093-bin aggregate. Oracle: the independent python decoder's
  // per-variant stats dump, binned by the same exact integer arithmetic
  // (mac = min(ac_ref, called − ac_ref); monomorphic = bin 0).
  private val q153 = Q("q153_1kg_sfs",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
      val st = genoStatsPacked(col("pg"), lit(1092))
      df.select(element_at(st, 2).as("called"),
          element_at(st, 3).as("ac_ref"))
        .select(least(col("ac_ref"), col("called") - col("ac_ref"))
          .as("mac"))
        .groupBy(col("mac"))
        .agg(count(lit(1)).as("n_variants"))
    },
    Some("""SELECT least(ac_ref, called - ac_ref) AS mac,
        CAST(COUNT(*) AS BIGINT) AS n_variants
      FROM read_parquet(
        '/root/repo/scripts/oracle/1kg_chr22_geno_stats.parquet')
      GROUP BY 1"""))

  // the packedreal DOSAGE fixture (dPackedReal8U DS matrix, scale 1/127,
  // 100 variants × 1000 samples) with an EXACT oracle despite the float
  // surface: the engine decodes code·(1/127) to Float, and round(ds·127)
  // recovers the integer code exactly (codes ≤ 254 sit far inside
  // Float32 precision), so the per-variant aggregate compares as BIGINT
  // code sums. Oracle: scripts/gds_read.py dump-ds materializes the raw
  // uint8 codes' sums (committed; regenerate with
  // `python3 scripts/gds_read.py dump-ds <gds> <out>`).
  private val q157 = Q("q157_imputed_ds",
    (s, _) => {
      val df = graft.sources.gds.Gds.read(
        s, Fixtures.path("Imputed_dosages.gds"))
      val cells = filter(flatten(col("fmt_DS")), x => !isnan(x))
      val sumCode = aggregate(cells, lit(0L), (a, x) =>
        a + round(x.cast("double") * 127).cast("long"))
      df.select(col("variant_id").cast("long").as("vid"),
          size(cells).cast("long").as("n_nonmiss"),
          sumCode.as("sum_code"))
        .withColumn("mean_ds",
          when(col("n_nonmiss") > 0,
            col("sum_code").cast("double") * lit(1.0 / 127)
              / col("n_nonmiss")))
    },
    Some(s"""SELECT variant_id AS vid, n_nonmiss, sum_code,
        CASE WHEN n_nonmiss > 0
             THEN CAST(sum_code AS DOUBLE) * ${1.0 / 127} / n_nonmiss
        END AS mean_ds
      FROM read_parquet(
        '/root/repo/scripts/oracle/imputed_ds_codes.parquet')"""))

  // --- Weir–Cockerham Fst on REAL data: the CEU fixture through the
  // native gds source, halves of the 90-sample cohort as the two
  // populations, aggregated to the call-count-stratified exact-integer
  // W&C sums (wcFstStrata — the multi-locus estimator's exact form
  // under varying missingness). The oracle reparses the fixture's VCF
  // twin per line in DuckDB and replays count extraction, the variance-
  // component algebra, the validity gate, and the stratum rollup. A
  // genotype decode drift, ploidy slip, or algebra error breaks the
  // hash; PopGenSpec derives genome-wide θ from these strata. ---------
  private val q171 = Q("q171_ceu_wc_fst",
    (s, _) => {
      val df = graft.sources.gds.Gds.read(
        s, Fixtures.path("CEU_Exon.gds"))
      graft.operators.PopGen.wcFstStrata(
        df.select(col("variant_id").as("vid"), col("geno")),
        0 until 45, 45 until 90)
    },
    Some {
      def half(lo: Int, hi: Int) =
        (lo until hi).map(i => f"column$i%02d").mkString("[", ", ", "]")
      def grp(g: String, c: String, x: String, h: String) =
        s"""CAST(len(list_filter($g, sa -> len(sa) = 2
             AND len(list_filter(sa, t -> t = '.')) = 0)) AS BIGINT)
             AS $c,
           CAST(COALESCE(list_sum(list_transform(
             list_filter($g, sa -> len(sa) = 2
               AND len(list_filter(sa, t -> t = '.')) = 0),
             sa -> len(list_filter(sa, t -> t <> '0')))), 0) AS BIGINT)
             AS $x,
           CAST(len(list_filter($g, sa -> len(sa) = 2
             AND len(list_filter(sa, t -> t = '.')) = 0
             AND len(list_filter(sa, t -> t <> '0')) = 1)) AS BIGINT)
             AS $h"""
      s"""WITH raw AS (
        SELECT * FROM read_csv('$CeuVcf',
          sep='\t', header=false, skip=16, all_varchar=true, quote='')),
      g AS (SELECT
          list_transform(${half(9, 54)}, s ->
            string_split(replace(string_split(s, ':')[1], '|', '/'), '/'))
            AS ga,
          list_transform(${half(54, 99)}, s ->
            string_split(replace(string_split(s, ':')[1], '|', '/'), '/'))
            AS gb
        FROM raw),
      cnt AS (SELECT
          ${grp("ga", "c1", "x1", "h1")},
          ${grp("gb", "c2", "x2", "h2")}
        FROM g),
      comp AS (SELECT *, c1 + c2 AS nn, c1 * c2 AS mm,
          x1*c2 - x2*c1 AS dd, x1 + x2 AS xx, h1 + h2 AS hh
        FROM cnt),
      t AS (SELECT *,
          nn * (dd*dd*(nn-1) - mm*(xx*(2*nn-xx) - hh*nn)) AS a_i,
          2*mm * (xx*(2*nn-xx)*mm - dd*dd - 2*hh*mm*(nn-1)) AS b_i,
          4*mm*mm*(nn-2)*hh AS c_i
        FROM comp)
      SELECT c1, c2, CAST(COUNT(*) AS BIGINT) AS n_loci,
        CAST(SUM(a_i) AS BIGINT) AS sum_a,
        CAST(SUM(b_i + c_i) AS BIGINT) AS sum_bc
      FROM t WHERE c1 >= 1 AND c2 >= 1 AND nn > 2
      GROUP BY 1, 2"""
    })

  // --- FORMAT-conditioned allele frequency (seqSetFilter on a fmt_
  // field — the genotype-level QC mask every sequencing pipeline runs):
  // genotypes whose per-sample DP (q57's deterministic matrix, missing
  // cells included) falls below the threshold are masked OUT of the
  // called-allele and alt counts; AF is one exact division. Pure
  // projection — zero shuffles. ----------------------------------------
  private val q193 = Q("q193_dp_masked_af",
    (s, dir) => {
      val n = SynthGeno.nSamples
      def al(s0: Int, p: Int) =
        element_at(element_at(col("geno"), s0 + 1), p + 1)
      def dpOk(i: Int) = (col("vid") + i) % 11 =!= 0 &&
        (col("vid") * 7 + i * 3) % 100 >= 40
      def keep(i: Int) =
        dpOk(i) && al(i, 0).isNotNull && al(i, 1).isNotNull
      val nc = (0 until n).map(i => when(keep(i), 1L).otherwise(0L))
        .reduce(_ + _)
      val ac = (0 until n).map(i => when(keep(i),
          when(al(i, 0) =!= 0, 1L).otherwise(0L)
            + when(al(i, 1) =!= 0, 1L).otherwise(0L))
        .otherwise(0L)).reduce(_ + _)
      SynthGeno.variants(s, dir)
        .select(col("vid"), nc.as("n_called_dp"), ac.as("ac_alt_dp"))
        .withColumn("af_dp", when(col("n_called_dp") > 0,
          col("ac_alt_dp").cast("double")
            / (lit(2.0) * col("n_called_dp").cast("double"))))
    },
    Some(s"""WITH variants AS (${SynthGeno.sqlCte})
      SELECT vid, n_called_dp, ac_alt_dp,
        CASE WHEN n_called_dp > 0 THEN CAST(ac_alt_dp AS DOUBLE)
          / (2.0 * CAST(n_called_dp AS DOUBLE)) END AS af_dp
      FROM (SELECT vid,
          CAST(COALESCE(list_sum(list_transform(range(0, 8), i ->
            CASE WHEN (vid + i) % 11 <> 0
              AND (vid * 7 + i * 3) % 100 >= 40
              AND geno[CAST(i AS INT) + 1][1] IS NOT NULL
              AND geno[CAST(i AS INT) + 1][2] IS NOT NULL
            THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_called_dp,
          CAST(COALESCE(list_sum(list_transform(range(0, 8), i ->
            CASE WHEN (vid + i) % 11 <> 0
              AND (vid * 7 + i * 3) % 100 >= 40
              AND geno[CAST(i AS INT) + 1][1] IS NOT NULL
              AND geno[CAST(i AS INT) + 1][2] IS NOT NULL
            THEN (CASE WHEN geno[CAST(i AS INT) + 1][1] <> 0
                THEN 1 ELSE 0 END)
              + (CASE WHEN geno[CAST(i AS INT) + 1][2] <> 0
                THEN 1 ELSE 0 END)
            ELSE 0 END)), 0) AS BIGINT) AS ac_alt_dp
        FROM variants)"""))

  // --- pre-imputation QC report over the real CEU fixture (the Rayner-
  // style pre-imputation checks every array→imputation pipeline runs):
  // per chrom, variant-class counts from the allele strings — SNV /
  // indel / MNP / multiallelic / strand-ambiguous (A·T, C·G palindromes
  // that cannot be strand-resolved) — plus duplicate-position totals.
  // Two-level linear aggregation: (chrom, pos) cell counts first, so
  // duplicate-site detection never re-scans, then one chrom rollup. ----
  private val q185 = Q("q185_preimpute_qc",
    (s, _) => {
      val v = Vcf.read(s, Fixtures.path("CEU_Exon.vcf.gz"))
        .select(col("chrom"), col("pos").cast("long").as("pos"), col("ref"),
          col("alts"))
      val alt1 = element_at(col("alts"), 1)
      val bi = size(col("alts")) === 1
      val snv = bi && length(col("ref")) === 1 && length(alt1) === 1
      val indel = bi && length(col("ref")) =!= length(alt1)
      val mnp = bi && length(col("ref")) === length(alt1) &&
        length(col("ref")) > 1
      val ambig = snv && concat(col("ref"), alt1)
        .isin("AT", "TA", "CG", "GC")
      def f(c: Column) = sum(when(c, 1L).otherwise(0L))
      v.groupBy(col("chrom"), col("pos"))
        .agg(count(lit(1)).as("cnt"),
          f(snv).as("s_snv"), f(indel).as("s_indel"),
          f(mnp).as("s_mnp"),
          f(size(col("alts")) > 1).as("s_multi"),
          f(ambig).as("s_ambig"))
        .groupBy(col("chrom"))
        .agg(sum(col("cnt")).as("n_variants"),
          sum(col("s_snv")).as("n_snv"),
          sum(col("s_indel")).as("n_indel"),
          sum(col("s_mnp")).as("n_mnp"),
          sum(col("s_multi")).as("n_multi"),
          sum(col("s_ambig")).as("n_ambig"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(0L))
            .as("n_at_dup_pos"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_sites"))
    },
    Some(s"""WITH raw AS (
        SELECT column00 AS chrom, CAST(column01 AS BIGINT) AS pos,
          column03 AS ref, string_split(column04, ',') AS alts
        FROM read_csv('$CeuVcf',
          sep='\t', header=false, skip=16, all_varchar=true, quote='')),
      cls AS (
        SELECT chrom, pos,
          CASE WHEN len(alts) = 1 AND length(ref) = 1
            AND length(alts[1]) = 1 THEN 1 ELSE 0 END AS s_snv,
          CASE WHEN len(alts) = 1 AND length(ref) <> length(alts[1])
            THEN 1 ELSE 0 END AS s_indel,
          CASE WHEN len(alts) = 1 AND length(ref) = length(alts[1])
            AND length(ref) > 1 THEN 1 ELSE 0 END AS s_mnp,
          CASE WHEN len(alts) > 1 THEN 1 ELSE 0 END AS s_multi,
          CASE WHEN len(alts) = 1 AND length(ref) = 1
            AND length(alts[1]) = 1
            AND ref || alts[1] IN ('AT', 'TA', 'CG', 'GC')
            THEN 1 ELSE 0 END AS s_ambig
        FROM raw),
      cell AS (
        SELECT chrom, pos, COUNT(*) AS cnt,
          SUM(s_snv) AS s_snv, SUM(s_indel) AS s_indel,
          SUM(s_mnp) AS s_mnp, SUM(s_multi) AS s_multi,
          SUM(s_ambig) AS s_ambig
        FROM cls GROUP BY 1, 2)
      SELECT chrom, CAST(SUM(cnt) AS BIGINT) AS n_variants,
        CAST(SUM(s_snv) AS BIGINT) AS n_snv,
        CAST(SUM(s_indel) AS BIGINT) AS n_indel,
        CAST(SUM(s_mnp) AS BIGINT) AS n_mnp,
        CAST(SUM(s_multi) AS BIGINT) AS n_multi,
        CAST(SUM(s_ambig) AS BIGINT) AS n_ambig,
        CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
          AS n_at_dup_pos,
        CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_sites
      FROM cell GROUP BY chrom"""))

  // --- per-sample ROH / F_ROH on REAL data: the CEU exon fixture
  // through the gds source, TRUE-homozygosity definition (both alleles
  // called and equal — not the collapsed-dosage proxy q201 uses on the
  // synthetic cube), exact lag-based run segmentation on the
  // (sample, chrom)-partitioned window ordered by the fixture-unique
  // (pos, id) key. Oracle replays the identical runs from the VCF
  // twin. ------------------------------------------------------------
  private val MIN_ROH_CEU = 5L
  private val q212 = Q("q212_ceu_roh",
    (s, _) => {
      import org.apache.spark.sql.expressions.Window
      val df = graft.sources.gds.Gds.read(
        s, Fixtures.path("CEU_Exon.gds"))
        .select(col("chrom"), col("pos"), col("id"), col("geno"))
      val calledE = size(col("sa")) === 2 &&
        !exists(col("sa"), a => a.isNull)
      val rows = df.select(col("chrom"), col("pos"), col("id"),
          posexplode_outer(col("geno")).as(Seq("smp", "sa")))
        .select(col("smp").cast("long").as("smp"), col("chrom"),
          col("pos"), col("id"), calledE.as("called"),
          (calledE && element_at(col("sa"), 1) ===
            element_at(col("sa"), 2)).as("hom"))
      val w = Window.partitionBy(col("smp"), col("chrom"))
        .orderBy(col("pos"), col("id"))
      val runs = rows
        .withColumn("strt",
          col("hom") && !lag(col("hom"), 1, false).over(w))
        .withColumn("rid",
          sum(when(col("strt"), 1L).otherwise(0L)).over(w))
        .filter(col("hom"))
        .groupBy(col("smp"), col("chrom"), col("rid"))
        .agg(count(lit(1)).as("run_len"))
      val roh = runs.filter(col("run_len") >= MIN_ROH_CEU)
        .groupBy(col("smp"))
        .agg(count(lit(1)).as("n_roh"),
          sum(col("run_len")).as("n_roh_sites"))
      rows.filter(col("called"))
        .groupBy(col("smp")).agg(count(lit(1)).as("n_called"))
        .join(roh, Seq("smp"), "left")
        .select(col("smp"), col("n_called"),
          coalesce(col("n_roh"), lit(0L)).as("n_roh"),
          coalesce(col("n_roh_sites"), lit(0L)).as("n_roh_sites"))
        .withColumn("f_roh", col("n_roh_sites").cast("double")
          / col("n_called").cast("double"))
    },
    Some {
      val cols = (9 until 99).map(i => f"column$i%02d")
        .mkString("[", ", ", "]")
      s"""WITH raw AS (
        SELECT * FROM read_csv('$CeuVcf',
          sep='\t', header=false, skip=16, all_varchar=true, quote='')),
      g AS (SELECT column00 AS chrom, CAST(column01 AS BIGINT) AS pos,
          column02 AS id,
          list_transform($cols, s ->
            string_split(replace(string_split(s, ':')[1], '|', '/'), '/'))
            AS ga
        FROM raw),
      f AS (SELECT CAST(j - 1 AS BIGINT) AS smp, chrom, pos, id,
          len(ga[CAST(j AS INT)]) = 2
            AND len(list_filter(ga[CAST(j AS INT)], t -> t = '.')) = 0
            AS called,
          len(ga[CAST(j AS INT)]) = 2
            AND len(list_filter(ga[CAST(j AS INT)], t -> t = '.')) = 0
            AND ga[CAST(j AS INT)][1] = ga[CAST(j AS INT)][2] AS hom
        FROM g, (SELECT unnest(range(1, 91)) AS j)),
      r AS (SELECT smp, chrom, hom,
          SUM(CASE WHEN strt THEN 1 ELSE 0 END)
            OVER (PARTITION BY smp, chrom ORDER BY pos, id) AS rid
        FROM (SELECT *, hom AND NOT LAG(hom, 1, FALSE)
            OVER (PARTITION BY smp, chrom ORDER BY pos, id) AS strt
          FROM f)),
      runs AS (SELECT smp, chrom, rid, COUNT(*) AS run_len
        FROM r WHERE hom GROUP BY 1, 2, 3),
      roh AS (SELECT smp, CAST(COUNT(*) AS BIGINT) AS n_roh,
          CAST(SUM(run_len) AS BIGINT) AS n_roh_sites
        FROM runs WHERE run_len >= $MIN_ROH_CEU GROUP BY 1),
      c AS (SELECT smp, CAST(COUNT(*) AS BIGINT) AS n_called
        FROM f WHERE called GROUP BY 1)
      SELECT smp, n_called, COALESCE(n_roh, 0) AS n_roh,
        COALESCE(n_roh_sites, 0) AS n_roh_sites,
        CAST(COALESCE(n_roh_sites, 0) AS DOUBLE)
          / CAST(n_called AS DOUBLE) AS f_roh
      FROM c LEFT JOIN roh USING (smp)"""
    })

  // --- KING-robust kinship + IBS over ALL 4005 sample pairs of the
  // REAL CEU fixture — the duplicate-sample / cryptic-relatedness
  // screen a cohort runs at intake (q109's estimator on real data).
  // The pair set rides a broadcast 4005-row table (the documented
  // benign crossJoin-broadcast shape — at biobank width the banded
  // KING partitioning applies instead); one (i, j)-keyed map-side-
  // combined aggregate. ----------------------------------------------
  private val q224 = Q("q224_ceu_king",
    (s, _) => {
      import s.implicits._
      val pairs = (for {
        i <- 0 until 90; j <- (i + 1) until 90
      } yield (i, j)).toDF("i", "j")
      val df = graft.sources.gds.Gds.read(
        s, Fixtures.path("CEU_Exon.gds"))
      val rows = df.select(dosageAlt(col("geno")).as("d"))
        .crossJoin(broadcast(pairs))
        .select(col("i"), col("j"),
          element_at(col("d"), (col("i") + 1).cast("int")).as("di"),
          element_at(col("d"), (col("j") + 1).cast("int")).as("dj"))
        .filter(col("di").isNotNull && col("dj").isNotNull)
      rows.groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n_both"),
          sum(when(col("di") === 1, 1L).otherwise(0L)).as("n_het_i"),
          sum(when(col("dj") === 1, 1L).otherwise(0L)).as("n_het_j"),
          sum(when(col("di") === 1 && col("dj") === 1, 1L)
            .otherwise(0L)).as("n_het_both"),
          sum(when(abs(col("di") - col("dj")) === 2, 1L).otherwise(0L))
            .as("n_opp"))
        .withColumn("kinship",
          when(col("n_het_i") + col("n_het_j") > 0,
            (col("n_het_both").cast("double")
              - lit(2.0) * col("n_opp"))
              / (col("n_het_i") + col("n_het_j")).cast("double")))
    },
    Some {
      val cols = (9 until 99).map(i => f"column$i%02d")
        .mkString("[", ", ", "]")
      s"""WITH raw AS (
        SELECT * FROM read_csv('$CeuVcf',
          sep='\t', header=false, skip=16, all_varchar=true, quote='')),
      dz AS (SELECT list_transform($cols, s ->
          CASE WHEN len(list_filter(
                string_split(replace(string_split(s, ':')[1], '|', '/'),
                  '/'), t -> t = '.')) > 0
               OR len(string_split(replace(string_split(s, ':')[1],
                  '|', '/'), '/')) <> 2
            THEN NULL
            ELSE len(list_filter(
              string_split(replace(string_split(s, ':')[1], '|', '/'),
                '/'), t -> t <> '0')) END) AS d
        FROM raw),
      pr AS (SELECT ii.i, jj.j
        FROM (SELECT unnest(range(0, 90)) AS i) ii,
             (SELECT unnest(range(0, 90)) AS j) jj
        WHERE jj.j > ii.i),
      cells AS (SELECT CAST(pr.i AS INT) AS i, CAST(pr.j AS INT) AS j,
          d[CAST(pr.i AS INT) + 1] AS di, d[CAST(pr.j AS INT) + 1] AS dj
        FROM dz, pr
        WHERE d[CAST(pr.i AS INT) + 1] IS NOT NULL
          AND d[CAST(pr.j AS INT) + 1] IS NOT NULL)
      SELECT i, j, COUNT(*) AS n_both,
        CAST(SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_het_i,
        CAST(SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_het_j,
        CAST(SUM(CASE WHEN di = 1 AND dj = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_het_both,
        CAST(SUM(CASE WHEN abs(di - dj) = 2 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_opp,
        CASE WHEN SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END)
               + SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) > 0
          THEN (CAST(SUM(CASE WHEN di = 1 AND dj = 1 THEN 1 ELSE 0 END)
                AS DOUBLE)
              - 2.0 * SUM(CASE WHEN abs(di - dj) = 2 THEN 1 ELSE 0 END))
            / CAST(SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END)
                + SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        END AS kinship
      FROM cells GROUP BY 1, 2"""
    })

  // --- Ts/Tv by MAF bin on the REAL 1KG chr22 fixture — the standard
  // variant-quality diagnostic (a Ts/Tv collapse in a frequency bin
  // flags artifact calls): allele classes from the gds `allele`
  // strings, AF from the PACKED bit-plane lane, 5%-MAF integer bins,
  // one ≤ 11-row aggregate. Oracle joins the TWO independent python-
  // decoder dumps (geno stats + LEB128 string decode). ---------------
  private val q225 = Q("q225_1kg_tstv_maf",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
      val st = genoStatsPacked(col("pg"), lit(1092))
      val ts = Seq("A,G", "G,A", "C,T", "T,C")
      df.select(col("allele"),
          element_at(st, 2).as("called"), element_at(st, 3).as("ac_ref"))
        .filter(col("called") > 0 && length(col("allele")) === 3)
        .select(
          expr("least(ac_ref, called - ac_ref) * 20 div called")
            .cast("long").as("maf_bin"),
          col("allele").isin(ts: _*).as("is_ts"))
        .groupBy(col("maf_bin"))
        .agg(sum(when(col("is_ts"), 1L).otherwise(0L)).as("n_ts"),
          sum(when(!col("is_ts"), 1L).otherwise(0L)).as("n_tv"))
        .withColumn("tstv", when(col("n_tv") > 0,
          col("n_ts").cast("double") / col("n_tv").cast("double")))
    },
    Some("""SELECT maf_bin, n_ts, n_tv,
        CASE WHEN n_tv > 0
          THEN CAST(n_ts AS DOUBLE) / CAST(n_tv AS DOUBLE) END AS tstv
      FROM (SELECT
          CAST(least(ac_ref, called - ac_ref) * 20 // called AS BIGINT)
            AS maf_bin,
          CAST(SUM(CASE WHEN allele IN ('A,G', 'G,A', 'C,T', 'T,C')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
          CAST(SUM(CASE WHEN allele IN ('A,G', 'G,A', 'C,T', 'T,C')
            THEN 0 ELSE 1 END) AS BIGINT) AS n_tv
        FROM read_parquet(
            '/root/repo/scripts/oracle/1kg_chr22_geno_stats.parquet') gs
          JOIN read_parquet(
            '/root/repo/scripts/oracle/1kg_chr22_alleles.parquet') al
          USING (variant_id)
        WHERE called > 0 AND length(allele) = 3
        GROUP BY 1)"""))

  // --- f2 (doubleton) sharing on REAL 1KG data — the recent-shared-
  // ancestry signal across the 1092-sample cohort (q181's estimator on
  // the fixture's dumped variant range): ALT dosage = 2 − packed REF
  // code, biallelic SNVs via the allele strings, carrier-pair rollup.
  // The 1092-wide carrier min/max unroll exercises the codegen
  // splitter at real cohort width. ------------------------------------
  private val q226 = Q("q226_1kg_f2",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
        .filter(col("variant_id") <= LD_CUT &&
          length(col("allele")) === 3)
        .select(col("variant_id").cast("long").as("vid"),
          transform(unpack2b(col("pg"), lit(1092)),
            x => (lit(2L) - x).cast("long")).as("d"))
        .withColumn("nall", lit(2L))
      graft.operators.PopGen.f2Sharing(df, 1092)
    },
    Some("""SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_f2
      FROM (SELECT list_min(cs) AS i, list_max(cs) AS j
        FROM (SELECT list_filter(list_transform(range(0, 1092),
              s -> CASE WHEN d[CAST(s AS INT) + 1] IS NOT NULL
                  AND d[CAST(s AS INT) + 1] < 2 THEN s END),
              x -> x IS NOT NULL) AS cs,
            CAST(COALESCE(list_sum(list_transform(
              list_filter(d, x -> x IS NOT NULL), x -> 2 - x)), 0)
              AS BIGINT) AS a2
          FROM read_parquet(
              '/root/repo/scripts/oracle/1kg_chr22_dosage.parquet') dd
            JOIN read_parquet(
              '/root/repo/scripts/oracle/1kg_chr22_alleles.parquet') al
            USING (variant_id)
          WHERE length(allele) = 3)
        WHERE a2 = 2)
      GROUP BY 1, 2"""))

  // --- within-family vs between-family pooled kinship on REAL CEU
  // data — the pedigree sanity check (members of one family MUST score
  // higher than unrelateds, and the engine's samples side table
  // provides the family labels): q224's exact per-pair KING components
  // rolled up by family co-membership (empty family labels never
  // match), pooled φ = (Σhet_both − 2Σopp) / Σ(het_i + het_j) — every
  // sum a BIGINT, one division per group. Oracle replays from the VCF
  // twin plus the INDEPENDENT python dump of sample.annotation/family
  // (LEB128 string decode). -------------------------------------------
  /** Shared CEU pair stage for q227/q268/q271: exact per-pair KING
    * counter sums joined to both members' family labels.
    *
    * A [[graft.core.SharedStages]] stage: the 4005-pair fan over the
    * real CEU exon cube is the expensive stage of all three consumers —
    * and q271 additionally consumes it twice inside one plan (the
    * within-family pooled threshold AND the edge filter). Keyed per
    * session (the input is one fixed reference file; a SparkSession
    * swap mid-suite must not leak a stale handle). */
  private def ceuKinPairs(s: SparkSession)
      : org.apache.spark.sql.DataFrame =
    SharedStages.ceu.get(s) {
      ceuKinPairsPlan(s).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** (hits, misses) of the shared CEU pair stage. */
  def ceuSharedTelemetry: (Long, Long) = SharedStages.ceu.telemetry

  private def ceuKinPairsPlan(s: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val gds = Fixtures.path("CEU_Exon.gds")
    val pairs = (for {
      i <- 0 until 90; j <- (i + 1) until 90
    } yield (i, j)).toDF("i", "j")
    val rows = graft.sources.gds.Gds.read(s, gds)
      .select(dosageAlt(col("geno")).as("d"))
      .crossJoin(broadcast(pairs))
      .select(col("i"), col("j"),
        element_at(col("d"), (col("i") + 1).cast("int")).as("di"),
        element_at(col("d"), (col("j") + 1).cast("int")).as("dj"))
      .filter(col("di").isNotNull && col("dj").isNotNull)
    val perPair = rows.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_both"),
        sum(when(col("di") === 1, 1L).otherwise(0L)).as("h_i"),
        sum(when(col("dj") === 1, 1L).otherwise(0L)).as("h_j"),
        sum(when(col("di") === 1 && col("dj") === 1, 1L)
          .otherwise(0L)).as("hb"),
        sum(when(abs(col("di") - col("dj")) === 2, 1L).otherwise(0L))
          .as("opp"))
    val fams = graft.sources.gds.Gds.samples(s, gds)
      .select(col("sample_ordinal").cast("int").as("ord"),
        col("family"))
    perPair
      .join(broadcast(fams.select(col("ord").as("i"),
        col("family").as("fam_i"))), "i")
      .join(broadcast(fams.select(col("ord").as("j"),
        col("family").as("fam_j"))), "j")
      .withColumn("within",
        col("fam_i") === col("fam_j") && col("fam_i") =!= "")
  }

  private val q227 = Q("q227_ceu_family_kinship",
    (s, _) => {
      ceuKinPairs(s)
        .groupBy(col("within"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("hb")).as("sum_hb"), sum(col("opp")).as("sum_opp"),
          sum(col("h_i") + col("h_j")).as("sum_h"))
        .withColumn("pooled_kinship",
          when(col("sum_h") > 0,
            (col("sum_hb").cast("double")
              - lit(2.0) * col("sum_opp"))
              / col("sum_h").cast("double")))
    },
    Some {
      val cols = (9 until 99).map(i => f"column$i%02d")
        .mkString("[", ", ", "]")
      s"""WITH raw AS (
        SELECT * FROM read_csv('$CeuVcf',
          sep='\t', header=false, skip=16, all_varchar=true, quote='')),
      dz AS (SELECT list_transform($cols, s ->
          CASE WHEN len(list_filter(
                string_split(replace(string_split(s, ':')[1], '|', '/'),
                  '/'), t -> t = '.')) > 0
            THEN NULL
            ELSE len(list_filter(
              string_split(replace(string_split(s, ':')[1], '|', '/'),
                '/'), t -> t <> '0')) END) AS d
        FROM raw),
      pr AS (SELECT ii.i, jj.j
        FROM (SELECT unnest(range(0, 90)) AS i) ii,
             (SELECT unnest(range(0, 90)) AS j) jj
        WHERE jj.j > ii.i),
      pp AS (SELECT i, j,
          CAST(SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS h_i,
          CAST(SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS h_j,
          CAST(SUM(CASE WHEN di = 1 AND dj = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS hb,
          CAST(SUM(CASE WHEN abs(di - dj) = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS opp
        FROM (SELECT pr.i, pr.j, d[CAST(pr.i AS INT) + 1] AS di,
            d[CAST(pr.j AS INT) + 1] AS dj
          FROM dz, pr)
        WHERE di IS NOT NULL AND dj IS NOT NULL
        GROUP BY 1, 2),
      fam AS (SELECT ordinal, family FROM read_parquet(
        '/root/repo/scripts/oracle/ceu_families.parquet'))
      SELECT within, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(hb) AS BIGINT) AS sum_hb,
        CAST(SUM(opp) AS BIGINT) AS sum_opp,
        CAST(SUM(h_i + h_j) AS BIGINT) AS sum_h,
        CASE WHEN SUM(h_i + h_j) > 0
          THEN (CAST(SUM(hb) AS DOUBLE) - 2.0 * SUM(opp))
            / CAST(SUM(h_i + h_j) AS DOUBLE) END AS pooled_kinship
      FROM (SELECT pp.*,
          fi.family = fj.family AND fi.family <> '' AS within
        FROM pp JOIN fam fi ON pp.i = fi.ordinal
          JOIN fam fj ON pp.j = fj.ordinal)
      GROUP BY 1"""
    })

  // --- CEU sample mix-up screen — the intake QC that catches swapped
  // or mislabeled samples: a within-family pair whose kinship falls
  // BELOW the between-family pooled mean (declared relatives who look
  // unrelated), or a between-family pair ABOVE the within-family
  // pooled mean (cryptic relatedness / duplicate intake). Every
  // comparison of a per-pair φ against a pooled φ is an EXACT integer
  // cross-multiplication — (hb−2·opp)·SumH vs (ΣHb−2·ΣOpp)·h_sum, both
  // denominators positive — so no rate division enters the flag. Rides
  // the shared q227 pair stage; the two pooled rows broadcast. --------
  private val q268 = Q("q268_ceu_sample_mixup",
    (s, _) => {
      val kp = ceuKinPairs(s)
      val pooled = kp.groupBy(col("within"))
        .agg(sum(col("hb")).as("p_hb"), sum(col("opp")).as("p_opp"),
          sum(col("h_i") + col("h_j")).as("p_h"))
      val w = pooled.filter(col("within"))
        .select(col("p_hb").as("w_hb"), col("p_opp").as("w_opp"),
          col("p_h").as("w_h"))
      val b = pooled.filter(!col("within"))
        .select(col("p_hb").as("b_hb"), col("p_opp").as("b_opp"),
          col("p_h").as("b_h"))
      val hSum = col("h_i") + col("h_j")
      val num = col("hb") - lit(2L) * col("opp")
      kp.crossJoin(broadcast(w)).crossJoin(broadcast(b))
        .withColumn("flag",
          when(col("within") &&
            num * col("b_h") < (col("b_hb") - lit(2L) * col("b_opp"))
              * hSum, "low_within")
            .when(!col("within") &&
              num * col("w_h") > (col("w_hb") - lit(2L) * col("w_opp"))
                * hSum, "high_between"))
        .filter(col("flag").isNotNull && hSum > 0)
        .select(col("i"), col("j"), col("fam_i"), col("fam_j"),
          col("flag"), col("n_both"), col("hb"), col("opp"),
          hSum.as("h_sum"),
          (num.cast("double") / hSum.cast("double")).as("phi"))
    },
    Some {
      val cols = (9 until 99).map(i => f"column$i%02d")
        .mkString("[", ", ", "]")
      s"""WITH raw AS (
        SELECT * FROM read_csv('$CeuVcf',
          sep='\t', header=false, skip=16, all_varchar=true, quote='')),
      dz AS (SELECT list_transform($cols, s ->
          CASE WHEN len(list_filter(
                string_split(replace(string_split(s, ':')[1], '|', '/'),
                  '/'), t -> t = '.')) > 0
            THEN NULL
            ELSE len(list_filter(
              string_split(replace(string_split(s, ':')[1], '|', '/'),
                '/'), t -> t <> '0')) END) AS d
        FROM raw),
      pr AS (SELECT ii.i, jj.j
        FROM (SELECT unnest(range(0, 90)) AS i) ii,
             (SELECT unnest(range(0, 90)) AS j) jj
        WHERE jj.j > ii.i),
      pp AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_both,
          CAST(SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS h_i,
          CAST(SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS h_j,
          CAST(SUM(CASE WHEN di = 1 AND dj = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS hb,
          CAST(SUM(CASE WHEN abs(di - dj) = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS opp
        FROM (SELECT pr.i, pr.j, d[CAST(pr.i AS INT) + 1] AS di,
            d[CAST(pr.j AS INT) + 1] AS dj
          FROM dz, pr)
        WHERE di IS NOT NULL AND dj IS NOT NULL
        GROUP BY 1, 2),
      fam AS (SELECT ordinal, family FROM read_parquet(
        '/root/repo/scripts/oracle/ceu_families.parquet')),
      kp AS (SELECT pp.*, fi.family AS fam_i, fj.family AS fam_j,
          fi.family = fj.family AND fi.family <> '' AS within
        FROM pp JOIN fam fi ON pp.i = fi.ordinal
          JOIN fam fj ON pp.j = fj.ordinal),
      pooled AS (SELECT within, CAST(SUM(hb) AS BIGINT) AS p_hb,
          CAST(SUM(opp) AS BIGINT) AS p_opp,
          CAST(SUM(h_i + h_j) AS BIGINT) AS p_h
        FROM kp GROUP BY 1),
      w AS (SELECT p_hb AS w_hb, p_opp AS w_opp, p_h AS w_h
        FROM pooled WHERE within),
      b AS (SELECT p_hb AS b_hb, p_opp AS b_opp, p_h AS b_h
        FROM pooled WHERE NOT within)
      SELECT i, j, fam_i, fam_j, flag, n_both, hb, opp, h_sum,
        CAST(hb - 2 * opp AS DOUBLE) / CAST(h_sum AS DOUBLE) AS phi
      FROM (SELECT kp.*, h_i + h_j AS h_sum,
          CASE WHEN within AND (hb - 2 * opp) * b_h
                < (b_hb - 2 * b_opp) * (h_i + h_j) THEN 'low_within'
               WHEN NOT within AND (hb - 2 * opp) * w_h
                > (w_hb - 2 * w_opp) * (h_i + h_j) THEN 'high_between'
          END AS flag
        FROM kp CROSS JOIN w CROSS JOIN b)
      WHERE flag IS NOT NULL AND h_sum > 0"""
    })

  // --- CEU pedigree-recovery AUDIT from genotypes alone — can the
  // kinship graph reconstruct the declared families? Edges = pairs
  // whose exact cross-multiplied φ exceeds 4× the within-family pooled
  // mean (the q268 discipline), components via the engine's
  // pointer-doubling connected-components fixpoint (the q72 machinery
  // on a genetics graph), each multi-member cluster scored against the
  // declared labels: size, #distinct labels, majority label, exact
  // purity. On THIS fixture the answer is the honest negative — the
  // ~1.4k-site exon panel's φ is too noisy to separate 2nd-degree from
  // unrelated, so the flagged edges chain into one impure cluster
  // (purity 0.18) — which is precisely what this audit exists to
  // expose before anyone trusts genotype-derived family assignment
  // from a sparse panel. The oracle replays the fixpoint as a
  // recursive CTE. -----------------------------------------------------
  private val q271 = Q("q271_ceu_family_recovery",
    (s, _) => {
      import org.apache.spark.sql.expressions.Window
      val kp = ceuKinPairs(s)
      val w = kp.filter(col("within")).groupBy()
        .agg(sum(col("hb")).as("w_hb"), sum(col("opp")).as("w_opp"),
          sum(col("h_i") + col("h_j")).as("w_h"))
      val edges = kp.crossJoin(broadcast(w))
        .filter((col("hb") - lit(2L) * col("opp")) * col("w_h") >
          lit(4L) * (col("w_hb") - lit(2L) * col("w_opp"))
            * (col("h_i") + col("h_j")))
        .select(col("i").cast("long").as("doc_a"),
          col("j").cast("long").as("doc_b"))
      val fams = graft.sources.gds.Gds.samples(s,
          Fixtures.path("CEU_Exon.gds"))
        .select(col("sample_ordinal").cast("long").as("doc_id"),
          col("family"))
      val cc = graft.pipeline.TrainingData
        .connectedComponents(edges, fams.select(col("doc_id")))
        .join(fams, "doc_id")
      val byFam = cc.groupBy(col("cluster"), col("family"))
        .agg(count(lit(1)).as("cnt"))
      val wTop = Window.partitionBy(col("cluster"))
        .orderBy(col("cnt").desc, col("family"))
      val top = byFam.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("family").as("top_family"),
          col("cnt").as("top_count"))
      val stats = cc.groupBy(col("cluster"))
        .agg(count(lit(1)).as("size"),
          countDistinct(col("family")).as("n_families"))
      stats.join(top, "cluster")
        .filter(col("size") >= 2)
        .withColumn("purity",
          col("top_count").cast("double") / col("size").cast("double"))
    },
    Some {
      val cols = (9 until 99).map(i => f"column$i%02d")
        .mkString("[", ", ", "]")
      s"""WITH RECURSIVE raw AS (
        SELECT * FROM read_csv('$CeuVcf',
          sep='\t', header=false, skip=16, all_varchar=true, quote='')),
      dz AS (SELECT list_transform($cols, s ->
          CASE WHEN len(list_filter(
                string_split(replace(string_split(s, ':')[1], '|', '/'),
                  '/'), t -> t = '.')) > 0
            THEN NULL
            ELSE len(list_filter(
              string_split(replace(string_split(s, ':')[1], '|', '/'),
                '/'), t -> t <> '0')) END) AS d
        FROM raw),
      pr AS (SELECT ii.i, jj.j
        FROM (SELECT unnest(range(0, 90)) AS i) ii,
             (SELECT unnest(range(0, 90)) AS j) jj
        WHERE jj.j > ii.i),
      pp AS (SELECT i, j,
          CAST(SUM(CASE WHEN di = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS h_i,
          CAST(SUM(CASE WHEN dj = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS h_j,
          CAST(SUM(CASE WHEN di = 1 AND dj = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS hb,
          CAST(SUM(CASE WHEN abs(di - dj) = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS opp
        FROM (SELECT pr.i, pr.j, d[CAST(pr.i AS INT) + 1] AS di,
            d[CAST(pr.j AS INT) + 1] AS dj
          FROM dz, pr)
        WHERE di IS NOT NULL AND dj IS NOT NULL
        GROUP BY 1, 2),
      fam AS (SELECT ordinal, family FROM read_parquet(
        '/root/repo/scripts/oracle/ceu_families.parquet')),
      kp AS (SELECT pp.*,
          fi.family = fj.family AND fi.family <> '' AS within
        FROM pp JOIN fam fi ON pp.i = fi.ordinal
          JOIN fam fj ON pp.j = fj.ordinal),
      w AS (SELECT CAST(SUM(hb) AS BIGINT) AS w_hb,
          CAST(SUM(opp) AS BIGINT) AS w_opp,
          CAST(SUM(h_i + h_j) AS BIGINT) AS w_h
        FROM kp WHERE within),
      ed AS (SELECT CAST(i AS BIGINT) AS src, CAST(j AS BIGINT) AS dst
        FROM kp CROSS JOIN w
        WHERE (hb - 2 * opp) * w_h
          > 4 * (w_hb - 2 * w_opp) * (h_i + h_j)),
      edges AS (SELECT src, dst FROM ed
        UNION ALL SELECT dst, src FROM ed),
      comp(id, lbl) AS (
        SELECT ordinal, ordinal FROM fam
        UNION
        SELECT e.src, c.lbl FROM edges e JOIN comp c ON c.id = e.dst),
      lab AS (SELECT id AS doc_id, min(lbl) AS cluster
        FROM comp GROUP BY 1),
      cc AS (SELECT doc_id, cluster, family FROM lab
        JOIN fam ON ordinal = doc_id),
      byfam AS (SELECT cluster, family, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cc GROUP BY 1, 2),
      top AS (SELECT cluster, family AS top_family, cnt AS top_count
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
            ORDER BY cnt DESC, family) AS rn FROM byfam)
        WHERE rn = 1),
      st AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size,
          CAST(COUNT(DISTINCT family) AS BIGINT) AS n_families
        FROM cc GROUP BY 1)
      SELECT st.cluster, size, n_families, top_family, top_count,
        CAST(top_count AS DOUBLE) / CAST(size AS DOUBLE) AS purity
      FROM st JOIN top ON st.cluster = top.cluster
      WHERE size >= 2"""
    })

  // --- LD decay profile on REAL 1KG data — r² mass by distance bin
  // (the recombination-scale diagnostic; q168's estimator on the
  // fixture's dumped variant range): rides the SAME banded pair-stats
  // stage as q150 and counts exact integer-cross-multiplied r²
  // thresholds per 2 kb bin — no double sums anywhere. ----------------
  private val LD_DECAY_BIN = 2000L
  private val q229 = Q("q229_1kg_ld_decay",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
        .filter(col("variant_id") <= LD_CUT)
        .select(col("variant_id").cast("long").as("vid"),
          lit("22").as("chrom"), col("pos").cast("long").as("pos"),
          transform(unpack2b(col("pg"), lit(1092)), x => x.cast("long"))
            .as("d"))
      graft.operators.LdWindow.decayProfile(df, LD_W, LD_DECAY_BIN)
    },
    Some {
      def pc(expr: String): String =
        s"""CAST(COALESCE(list_sum(list_transform(range(1, 1093), i ->
           CASE WHEN da[i] IS NOT NULL AND db[i] IS NOT NULL
                THEN $expr ELSE 0 END)), 0) AS BIGINT)"""
      s"""WITH v AS (SELECT variant_id AS vid, pos, d,
          pos // $LD_W AS bucket
        FROM read_parquet(
          '/root/repo/scripts/oracle/1kg_chr22_dosage.parquet')),
      a AS (SELECT vid AS vid_a, pos AS pos_a, d AS da,
          unnest([bucket, bucket + 1]) AS bkey FROM v),
      b AS (SELECT vid AS vid_b, pos AS pos_b, d AS db,
          bucket AS bkey FROM v),
      p AS (SELECT vid_a, vid_b, pos_a, pos_b, da, db
        FROM a JOIN b USING (bkey)
        WHERE (pos_a < pos_b OR (pos_a = pos_b AND vid_a < vid_b))
          AND pos_b - pos_a <= $LD_W),
      st AS (SELECT vid_a, vid_b, pos_b - pos_a AS dist,
          CAST(len(list_filter(range(1, 1093), i ->
            da[i] IS NOT NULL AND db[i] IS NOT NULL)) AS BIGINT) AS n,
          ${pc("da[i]")} AS sx,
          ${pc("db[i]")} AS sy,
          ${pc("da[i] * db[i]")} AS sxy,
          ${pc("da[i] * da[i]")} AS sxx,
          ${pc("db[i] * db[i]")} AS syy
        FROM p),
      cv AS (SELECT dist,
          n * sxy - sx * sy AS cov_n,
          n * sxx - sx * sx AS var_x,
          n * syy - sy * sy AS var_y
        FROM st)
      SELECT '22' AS chrom, CAST(dist // $LD_DECAY_BIN AS BIGINT) AS bin,
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
      FROM cv
      GROUP BY 1, 2"""
    })

  // --- q233: per-variant F_IS (Wright's inbreeding coefficient, the
  // het-deficit site screen) histogram over ALL 19,773 1KG chr22
  // variants, computed on the PACKED bit-plane lane: genotype-class
  // counts come from the new `code_count_packed` kernel (4 samples per
  // table lookup, no genotype array in the plan). F_IS = 1 − Ho/He with
  // Ho = h/n and He = 2p̂q̂ reduces to the EXACT rational
  // (ar·aa − 2hn)/(ar·aa) on allele/genotype counts; the only doubles
  // are the one division and the shared ×10+floor binning (identical op
  // order both engines). Monomorphic sites (He = 0) land in a NULL bin.
  // Oracle: TWO independent python-decoder dumps (dump-stats +
  // dump-codes) joined on variant_id replay the same integers. ----------
  private val q233 = Q("q233_1kg_fis",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
      val st = genoStatsPacked(col("pg"), lit(1092))
      df.select(
          element_at(st, 2).as("called"),
          element_at(st, 3).as("ac_ref"),
          codeCountPacked(col("pg"), lit(1092), 1).as("h"))
        .withColumn("n", col("called") / 2)
        .withColumn("aa", col("called") - col("ac_ref"))
        .withColumn("num",
          col("ac_ref") * col("aa") - lit(2L) * col("h") * col("n"))
        .withColumn("den", col("ac_ref") * col("aa"))
        .withColumn("bin", when(col("den") > 0,
          floor(col("num").cast("double") / col("den").cast("double")
            * 10.0)).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_variants"),
          sum(col("h")).as("sum_het"))
    },
    Some("""WITH j AS (SELECT s.called, s.ac_ref, c.n_het AS h,
          s.called // 2 AS n, s.called - s.ac_ref AS aa
        FROM read_parquet(
          '/root/repo/scripts/oracle/1kg_chr22_geno_stats.parquet') s
        JOIN read_parquet(
          '/root/repo/scripts/oracle/1kg_chr22_codes.parquet') c
          USING (variant_id)),
      f AS (SELECT h,
          ac_ref * aa - 2 * h * n AS num, ac_ref * aa AS den
        FROM j)
      SELECT CAST(CASE WHEN den > 0 THEN floor(
          CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 10.0) END
          AS BIGINT) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n_variants,
        CAST(SUM(h) AS BIGINT) AS sum_het
      FROM f GROUP BY 1"""))

  // --- q243: INFO integrity audit on the REAL CEU fixture — stored
  // INFO/AC and INFO/AN versus the same quantities RECOMPUTED from the
  // genotype matrix (complete-call convention: a call with any missing
  // allele contributes to neither; both engines recompute independently
  // — the engine from the GDS container, DuckDB from the VCF text twin).
  // The per-chrom report counts exact agreement and the drift mass —
  // the "can you trust this file's INFO fields" screen every intake
  // pipeline runs. All-integer outputs. ---------------------------------
  private val q243 = Q("q243_ceu_info_audit",
    (s, _) => {
      val df = graft.sources.gds.Gds.read(
        s, Fixtures.path("CEU_Exon.gds"))
      val d = dosageAlt(col("geno"))
      val acRec = aggregate(d, lit(0L),
        (a, x) => a + coalesce(x, lit(0L)))
      val anRec = aggregate(d, lit(0L),
        (a, x) => a + when(x.isNotNull, 2L).otherwise(0L))
      df.select(col("chrom"),
          col("info_AC").cast("long").as("ac"),
          col("info_AN").cast("long").as("an"),
          acRec.as("ac_rec"), anRec.as("an_rec"))
        .groupBy(col("chrom"))
        .agg(count(lit(1)).as("n_variants"),
          sum(when(col("ac") === col("ac_rec"), 1L).otherwise(0L))
            .as("n_ac_eq"),
          sum(when(col("an") === col("an_rec"), 1L).otherwise(0L))
            .as("n_an_eq"),
          sum(abs(col("ac") - col("ac_rec"))).as("ac_drift"),
          sum(abs(col("an") - col("an_rec"))).as("an_drift"),
          sum(col("ac_rec")).as("sum_ac_rec"),
          sum(col("an_rec")).as("sum_an_rec"))
    },
    Some {
      val cols = (9 until 99).map(i => f"column$i%02d")
        .mkString("[", ", ", "]")
      s"""WITH raw AS (
        SELECT * FROM read_csv('$CeuVcf',
          sep='\t', header=false, skip=16, all_varchar=true, quote='')),
      v AS (SELECT column00 AS chrom,
          CAST(NULLIF(regexp_extract(column07, 'AC=([0-9]+)', 1), '')
            AS BIGINT) AS ac,
          CAST(NULLIF(regexp_extract(column07, 'AN=([0-9]+)', 1), '')
            AS BIGINT) AS an,
          list_transform($cols, s ->
            CASE WHEN len(list_filter(
                  string_split(replace(string_split(s, ':')[1], '|', '/'),
                    '/'), t -> t = '.')) > 0
                 OR len(string_split(replace(string_split(s, ':')[1],
                    '|', '/'), '/')) <> 2
              THEN NULL
              ELSE len(list_filter(
                string_split(replace(string_split(s, ':')[1], '|', '/'),
                  '/'), t -> t <> '0')) END) AS d
        FROM raw),
      r AS (SELECT chrom, ac, an,
          CAST(COALESCE(list_sum(list_transform(d, x ->
            COALESCE(x, 0))), 0) AS BIGINT) AS ac_rec,
          CAST(COALESCE(list_sum(list_transform(d, x ->
            CASE WHEN x IS NOT NULL THEN 2 ELSE 0 END)), 0) AS BIGINT)
            AS an_rec
        FROM v)
      SELECT chrom, CAST(COUNT(*) AS BIGINT) AS n_variants,
        CAST(SUM(CASE WHEN ac = ac_rec THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ac_eq,
        CAST(SUM(CASE WHEN an = an_rec THEN 1 ELSE 0 END) AS BIGINT)
          AS n_an_eq,
        CAST(SUM(abs(ac - ac_rec)) AS BIGINT) AS ac_drift,
        CAST(SUM(abs(an - an_rec)) AS BIGINT) AS an_drift,
        CAST(SUM(ac_rec) AS BIGINT) AS sum_ac_rec,
        CAST(SUM(an_rec) AS BIGINT) AS sum_an_rec
      FROM r GROUP BY 1"""
    })

  // --- q248: positional sliding Ts/Tv along chr22 (1 Mb windows) — the
  // REGIONAL sequencing-artifact scan (a window whose Ts/Tv collapses
  // toward 0.5 flags an alignment/calling problem there), complementing
  // q225's MAF-stratified view. Same packed lane + allele-string
  // classification; one (window)-keyed aggregate. Oracle: the alleles
  // dump joined to the NEW independent `dump-pos` twin. ------------------
  private val TSTV_WIN = 1000000L
  private val q248 = Q("q248_1kg_tstv_window",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
      val st = genoStatsPacked(col("pg"), lit(1092))
      val ts = Seq("A,G", "G,A", "C,T", "T,C")
      df.select(col("pos"), col("allele"),
          element_at(st, 2).as("called"))
        .filter(col("called") > 0 && length(col("allele")) === 3)
        .select(expr(s"pos div $TSTV_WIN").cast("long").as("win"),
          col("allele").isin(ts: _*).as("is_ts"))
        .groupBy(col("win"))
        .agg(sum(when(col("is_ts"), 1L).otherwise(0L)).as("n_ts"),
          sum(when(!col("is_ts"), 1L).otherwise(0L)).as("n_tv"))
        .withColumn("tstv", when(col("n_tv") > 0,
          col("n_ts").cast("double") / col("n_tv").cast("double")))
    },
    Some(s"""SELECT CAST(pos // $TSTV_WIN AS BIGINT) AS win,
        CAST(SUM(CASE WHEN allele IN ('A,G', 'G,A', 'C,T', 'T,C')
          THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
        CAST(SUM(CASE WHEN allele IN ('A,G', 'G,A', 'C,T', 'T,C')
          THEN 0 ELSE 1 END) AS BIGINT) AS n_tv,
        CASE WHEN SUM(CASE WHEN allele IN ('A,G', 'G,A', 'C,T', 'T,C')
            THEN 0 ELSE 1 END) > 0
          THEN CAST(SUM(CASE WHEN allele IN ('A,G', 'G,A', 'C,T', 'T,C')
              THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(SUM(CASE WHEN allele IN ('A,G', 'G,A', 'C,T', 'T,C')
              THEN 0 ELSE 1 END) AS DOUBLE) END AS tstv
      FROM read_parquet(
          '/root/repo/scripts/oracle/1kg_chr22_geno_stats.parquet') gs
        JOIN read_parquet(
          '/root/repo/scripts/oracle/1kg_chr22_alleles.parquet') al
          USING (variant_id)
        JOIN read_parquet(
          '/root/repo/scripts/oracle/1kg_chr22_pos.parquet') pp
          USING (variant_id)
      WHERE called > 0 AND length(allele) = 3
      GROUP BY 1"""))

  // Fu & Li's D* neutrality scan along REAL chr22 (1092 samples ×
  // 19,773 variants) through the packed bit-plane lane: per 1 Mb
  // window the exact segregating-site and singleton counts (a site is
  // a singleton when its alt dosage is 1 or called−1 — both straight
  // from the genoStatsPacked counters), plus the ratio-of-sums
  // per-site heterozygosity (exact BIGINT numerator/denominator, one
  // division — at n = 2184 the per-site lcm scale of the synthetic-
  // cube lane cannot exist in 64 bits, and D* by construction needs
  // only S and η_s, never π). The D* arithmetic interpolates the
  // n = 2184 Fu & Li constants into both engines as e0 literals.
  // Oracle: the independent python-decoder stats dump joined to the
  // dump-pos twin. -----------------------------------------------------
  private val FULI_WIN = 1000000L
  private val q262 = Q("q262_1kg_fuli",
    (s, _) => {
      val df = s.read.format("gds").option("packed", "true")
        .load(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
      val st = genoStatsPacked(col("pg"), lit(1092))
      val nAll = 2184
      val (an, uD, vD, _, _) = graft.operators.PopGen.fuLiConstants(nAll)
      val r = nAll.toDouble / (nAll - 1.0)
      val base = df.select(col("pos"),
          element_at(st, 2).as("m"),
          (element_at(st, 2) - element_at(st, 3)).as("a"))
        .filter(col("m") >= 2)
      val agg = base
        .select(expr(s"pos div $FULI_WIN").cast("long").as("win"),
          col("m"), col("a"))
        .groupBy(col("win"))
        .agg(count(lit(1)).as("n_sites"),
          sum(when(col("a") > 0 && col("a") < col("m"), 1L)
            .otherwise(0L)).as("s_seg"),
          sum(when((col("a") === 1 || col("a") === col("m") - 1)
            && col("a") > 0 && col("a") < col("m"), 1L)
            .otherwise(0L)).as("eta_s"),
          sum(lit(2L) * col("a") * (col("m") - col("a"))).as("pi_num"),
          sum(col("m") * (col("m") - 1L)).as("pi_den"))
        .withColumn("win_start", col("win") * FULI_WIN)
        .withColumn("pi_site",
          col("pi_num").cast("double") / col("pi_den").cast("double"))
      val sD = col("s_seg").cast("double")
      val eD = col("eta_s").cast("double")
      agg.withColumn("d_star",
          when(col("s_seg") > 0,
            (lit(r) * sD - lit(an) * eD) /
              sqrt(lit(uD) * sD + lit(vD) * (sD * sD))))
        .select(col("win"), col("win_start"), col("n_sites"),
          col("s_seg"), col("eta_s"), col("pi_num"), col("pi_den"),
          col("pi_site"), col("d_star"))
    },
    Some {
      val nAll = 2184
      val (an0, uD0, vD0, _, _) = graft.operators.PopGen.fuLiConstants(nAll)
      def dlit(d: Double): String = {
        val str = d.toString
        if (str.contains('E') || str.contains('e')) str else str + "e0"
      }
      val (an, uD, vD) = (dlit(an0), dlit(uD0), dlit(vD0))
      val r = dlit(nAll.toDouble / (nAll - 1.0))
      s"""SELECT *,
        CASE WHEN s_seg > 0
          THEN ($r * CAST(s_seg AS DOUBLE) - $an * CAST(eta_s AS DOUBLE))
               / sqrt($uD * CAST(s_seg AS DOUBLE)
                 + $vD * (CAST(s_seg AS DOUBLE) * CAST(s_seg AS DOUBLE)))
        END AS d_star
      FROM (SELECT CAST(pos // $FULI_WIN AS BIGINT) AS win,
          CAST(COUNT(*) AS BIGINT) AS n_sites,
          CAST(SUM(CASE WHEN a > 0 AND a < m THEN 1 ELSE 0 END)
            AS BIGINT) AS s_seg,
          CAST(SUM(CASE WHEN (a = 1 OR a = m - 1)
                          AND a > 0 AND a < m THEN 1 ELSE 0 END)
            AS BIGINT) AS eta_s,
          CAST(SUM(2 * a * (m - a)) AS BIGINT) AS pi_num,
          CAST(SUM(m * (m - 1)) AS BIGINT) AS pi_den,
          CAST((pos // $FULI_WIN) * $FULI_WIN AS BIGINT) AS win_start,
          CAST(SUM(2 * a * (m - a)) AS DOUBLE)
            / CAST(SUM(m * (m - 1)) AS DOUBLE) AS pi_site
        FROM (SELECT pp.pos, gs.called AS m,
            gs.called - gs.ac_ref AS a
          FROM read_parquet(
              '/root/repo/scripts/oracle/1kg_chr22_geno_stats.parquet') gs
            JOIN read_parquet(
              '/root/repo/scripts/oracle/1kg_chr22_pos.parquet') pp
              USING (variant_id)
          WHERE called >= 2)
        GROUP BY win, win_start)"""
    })

  override def queries: Seq[Q] =
    Seq(q40, q49, q50, q55, q57, q58, q60, q150, q151, q152, q153, q157,
      q171, q185, q193, q212, q224, q225, q226, q227, q229, q233, q243,
      q248, q262, q268, q271)
}
