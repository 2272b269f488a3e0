package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.expressions.{DosageAltExpr, GenoStats, GtStringsJoined, MissAllelesPerSample, Pack2bRefDosage, Unpack2bDosage}

/** Genotype-array column functions re-expressing the reference's per-variant
  * kernels (SeqArray `src/Methods.cpp`) over the two-table model
  * (SURVEY.md §1.5): `geno` is `ARRAY<ARRAY<LONG>>` — outer index = sample
  * ordinal, inner = ploidy allele indices (0 = REF, k>0 = k-th ALT), null
  * allele = missing call (the reference's 0xFF/NA convention,
  * `src/Index.h:56`).
  *
  * Hot kernels are custom codegen Catalyst expressions
  * ([[graft.functions.expressions]]) — Spark's higher-order functions are
  * CodegenFallback (interpreted), which benchmarked ~10× slower at sf0.1.
  * The `*Hof` twins in src/test/scala/graft/HofTwins.scala keep the
  * declarative formulations as differential oracles for the custom
  * expressions.
  */
object genetics {

  /** [n_total_slots, n_called, ac_k, n_miss_calls, n_miss_alleles] in one
    * fused pass (reference seqGetAF_AC_Missing, src/Methods.cpp:897-979). */
  def genoStats(geno: Column, k: Column): Column =
    Bridge.column(GenoStats(Bridge.expression(geno), Bridge.expression(k)))

  /** Diploid [n_called, alt_count, n_het] over samples [lo, hi) in one
    * fused loop — see
    * [[graft.functions.expressions.GroupGenoCounts]]. */
  def groupGenoCounts(geno: Column, lo: Int, hi: Int): Column =
    Bridge.column(graft.functions.expressions.GroupGenoCounts(
      Bridge.expression(geno), Bridge.expression(lit(lo)),
      Bridge.expression(lit(hi))))

  /** Allele-level [n_called, n_alt] over samples [lo, hi) in one fused
    * loop — see [[graft.functions.expressions.GroupAlleleCounts]]. */
  def groupAlleleCounts(geno: Column, lo: Int, hi: Int): Column =
    Bridge.column(graft.functions.expressions.GroupAlleleCounts(
      Bridge.expression(geno), Bridge.expression(lit(lo)),
      Bridge.expression(lit(hi))))

  /** [sum_alt, min_carrier, max_carrier] over a collapsed-dosage array
    * in one fused loop — see
    * [[graft.functions.expressions.F2Carriers]]. */
  def f2Carriers(d: Column): Column =
    Bridge.column(graft.functions.expressions.F2Carriers(
      Bridge.expression(d)))

  /** [n, Σx, Σx², Σw, Σwx, Σw²] over called samples of a dosage array
    * with per-sample BIGINT weights — ONE literal-array child, O(1)
    * plan nodes at any cohort width (see
    * [[graft.functions.expressions.DosageWeightedStats]]). */
  def dosageWeightedStats(d: Column, w: Seq[Long]): Column =
    Bridge.column(graft.functions.expressions.DosageWeightedStats(
      Bridge.expression(d), Bridge.expression(lit(w.toArray))))

  /** Two-weight sufficient statistics [n, Σx, Σx², Σw₁, Σw₁x, Σw₁²,
    * Σw₂, Σw₂x, Σw₂², Σw₁w₂] — the covariate-GWAS normal-equation
    * inputs ([[graft.functions.expressions.DosageTwoWeightStats]]). */
  def dosageTwoWeightStats(d: Column, w1: Seq[Long], w2: Seq[Long]): Column =
    Bridge.column(graft.functions.expressions.DosageTwoWeightStats(
      Bridge.expression(d), Bridge.expression(lit(w1.toArray)),
      Bridge.expression(lit(w2.toArray))))

  /** `[U·uScale, V·vScale]` of the stratified 2×2×K CMH test in one
    * fused pass, the stratum/phenotype layout packed into ONE literal
    * array ([[graft.functions.expressions.CmhUvExpr]]). */
  def cmhUv(d: Column, packed: Seq[Long]): Column =
    Bridge.column(graft.functions.expressions.CmhUvExpr(
      Bridge.expression(d), Bridge.expression(lit(packed.toArray))))

  /** Per-mask Σ w·coalesce(x, 0) — K weighted contrasts in one pass
    * ([[graft.functions.expressions.DosageMaskedSums]]). */
  def dosageMaskedSums(d: Column, masks: Seq[Seq[Long]]): Column =
    Bridge.column(graft.functions.expressions.DosageMaskedSums(
      Bridge.expression(d),
      Bridge.expression(typedLit[Seq[Seq[Long]]](masks))))

  /** Number of non-missing allele calls (reference `FC_AF_Ref`,
    * `src/Methods.cpp:409-425`). */
  def nCalledAlleles(geno: Column): Column =
    element_at(genoStats(geno, lit(0)), 2)

  /** Count of calls equal to allele index `k` (reference `seqAlleleCount`,
    * `src/Methods.cpp:613-801`). */
  def alleleCount(geno: Column, k: Column): Column =
    element_at(genoStats(geno, k), 3)

  /** Frequency of allele `k` among called alleles; null when nothing called
    * (reference `seqAlleleFreq(ref.allele=k)`, `R/Methods.R:905-1021`).
    * `try_divide` yields the null on a zero divisor and, unlike a
    * `when(called > 0, …)` guard, uses the stats unconditionally, so
    * whole-stage codegen shares one [[genoStats]] evaluation per row (a
    * CASE branch gets its own copy). */
  def alleleFreq(geno: Column, k: Column): Column = {
    val st = genoStats(geno, k)
    try_divide(element_at(st, 3), element_at(st, 2))
  }

  /** Fraction of missing allele calls over ploidy×samples; null for an
    * empty row (reference `seqMissing(per.variant=TRUE)`,
    * `src/Methods.cpp:122-293`). One kernel evaluation, as in
    * [[alleleFreq]]. */
  def missingRate(geno: Column): Column = {
    val st = genoStats(geno, lit(0))
    val total = element_at(st, 1)
    try_divide(total - element_at(st, 2), total)
  }

  /** Per-sample missing-allele counts (ARRAY<INT>; -1 = null sample array).
    * Explode + aggregate by ordinal = the per-sample margin without the
    * reference's sample-major `~data` transpose. */
  def missPerSample(geno: Column): Column =
    Bridge.column(MissAllelesPerSample(Bridge.expression(geno)))

  /** Per-sample count of non-REF alleles; null for samples with a missing
    * allele (reference `$dosage_alt`, `src/GetData.cpp:311-410`). */
  def dosageAlt(geno: Column): Column =
    Bridge.column(DosageAltExpr(Bridge.expression(geno)))

  /** `$dosage_alt2`: alt dosage counting THROUGH partial missingness —
    * null only when every allele is missing; a half-missing call
    * contributes its known non-ref alleles (src/GetData.cpp:379-415). */
  def dosageAlt2(geno: Column): Column =
    Bridge.column(graft.functions.expressions.DosageAlt2Expr(
      Bridge.expression(geno)))

  /** Per-sample packed QC word `(singletons << 2) | (het << 1) |
    * called` — one generated-code pass over the cube row (see
    * [[graft.functions.expressions.SampleQcExpr]]). */
  def sampleQcPacked(geno: Column): Column =
    Bridge.column(graft.functions.expressions.SampleQcExpr(
      Bridge.expression(geno)))

  /** Per-sample count of REF alleles; null on missing (reference `$dosage`). */
  def dosageRef(geno: Column): Column =
    transform(geno, sa =>
      when(exists(sa, a => a.isNull), lit(null))
        .otherwise(size(filter(sa, a => a === 0))))

  /** All samples' GT strings joined by `sep` — one fused pass (reference
    * GT formatters, `src/ConvGDS2VCF.cpp:571-989`). */
  def gtStrings(geno: Column, phased: Column, sep: String): Column =
    Bridge.column(GtStringsJoined(Bridge.expression(geno),
      Bridge.expression(phased), Bridge.expression(lit(sep))))

  /** Per-sample `GT[:f1][:f2]…` cells joined by `sep`; each field is an
    * ARRAY<STRING> of per-sample cell text (null → "."). The FORMAT
    * export kernel — plan size grows with field count, not samples. */
  def sampleCells(geno: Column, phased: Column, sep: String,
      fields: Seq[Column]): Column =
    Bridge.column(graft.functions.expressions.SampleCellsJoined(
      Seq(Bridge.expression(geno), Bridge.expression(phased),
        Bridge.expression(lit(sep))) ++ fields.map(Bridge.expression)))

  /** One sample's VCF GT string, any ploidy: "0/1", "1|2", "./." — missing
    * allele renders ".", separator by phase (reference
    * `R/Methods-SeqVarGDSClass.R:190-199`). */
  def gtString(sampleAlleles: Column, phased: Column): Column = {
    val sep = when(phased, lit("|")).otherwise(lit("/"))
    val strs = transform(sampleAlleles, a =>
      coalesce(a.cast("string"), lit(".")))
    aggregate(strs, lit(""),
      (acc, x) => when(acc === "", x).otherwise(concat(acc, sep, x)))
  }

  /** Sample-axis selection (reference `seqSetFilter(sample.id=)` /
    * `sample.sel=`, src/SeqArray.cpp:127-370): restrict any per-sample
    * array column (geno, phased, fmt_*) to the given 0-based ordinals, in
    * the given order. The reference's sample bitmap becomes a per-row
    * positional gather — no shuffle, codegen `element_at`s. */
  def sampleSlice(perSample: Column, ordinals: Seq[Int]): Column =
    array(ordinals.map(i => element_at(perSample, i + 1)): _*)

  /** Dosage-fallback kernels (reference `FC_AF_DS_*`,
    * src/Methods.cpp:298-608): AF/AC/missing from a per-sample
    * alt-dosage array when the genotype cube is absent (dosage-only
    * datasets, e.g. the Imputed_dosages fixture). Null cell = missing
    * sample. */
  def dsCalled(ds: Column): Column =
    size(filter(ds, x => x.isNotNull))

  /** Expected alt-allele count = Σ dosage over called samples. */
  def dsAltCount(ds: Column): Column =
    aggregate(filter(ds, x => x.isNotNull), lit(0.0),
      (acc, x) => acc + x.cast("double"))

  /** Expected alt-allele frequency = Σ dosage / (ploidy · called). */
  def dsAltFreq(ds: Column, ploidy: Int = 2): Column =
    when(dsCalled(ds) > 0, dsAltCount(ds) / (dsCalled(ds) * ploidy))

  /** Fraction of samples with missing dosage. */
  def dsMissing(ds: Column): Column =
    (size(ds) - dsCalled(ds)).cast("double") / size(ds)

  /** Minor-allele frequency fold (reference `seqAlleleFreq(minor=TRUE)`,
    * R/Methods.R:905-1021): min(af, 1-af) of allele `k`. */
  def minorAlleleFreq(geno: Column, k: Column): Column = {
    val af = alleleFreq(geno, k)
    least(af, lit(1.0) - af)
  }

  /** 0-based index of a named allele in the "REF,ALT1,…" string; null when
    * absent (reference `GetIndexOfAllele`, src/Index.h:684-691 —
    * `seqAlleleFreq(ref.allele="A")` resolves through this). */
  def alleleIndexOf(alleleStr: Column, name: Column): Column = {
    val pos = array_position(split(alleleStr, ","), name)
    when(pos > 0, pos - 1)
  }

  /** 2-bit packed REF dosage (4 samples/byte, 3 = missing) — the
    * seqGet2bGeno / PLINK BED export codec. */
  def pack2b(geno: Column): Column =
    Bridge.column(Pack2bRefDosage(Bridge.expression(geno)))

  /** [[genoStats]] on the 2-bit packed form — `[total, called, ac_ref,
    * miss_calls, miss_alleles]` from BINARY, 4 samples per table lookup
    * (the biobank-width fast path; see
    * [[graft.functions.expressions.GenoStatsPacked]]). */
  def genoStatsPacked(bin: Column, nSamples: Column): Column =
    Bridge.column(graft.functions.expressions.GenoStatsPacked(
      Bridge.expression(bin), Bridge.expression(nSamples)))

  /** Samples at one packed 2-bit code (1 = het, 0/2 = homozygotes, 3 =
    * missing) — [[graft.functions.expressions.CodeCountPacked]]. */
  def codeCountPacked(bin: Column, nSamples: Column, code: Int): Column =
    Bridge.column(graft.functions.expressions.CodeCountPacked(
      Bridge.expression(bin), Bridge.expression(nSamples), code))

  /** Inverse of [[pack2b]]: ARRAY<INT> REF dosages, null = missing. */
  def unpack2b(bin: Column, nSamples: Column): Column =
    Bridge.column(Unpack2bDosage(Bridge.expression(bin),
      Bridge.expression(nSamples)))

  // ---- allele-string parsing ($num_allele/$ref/$alt) ----------------------

  /** Number of alleles at a variant from the "REF,ALT1,…" string (reference
    * `$num_allele` / `GetNumOfAllele`, `src/GetData.cpp:619-634`). */
  def numAllele(alleleStr: Column): Column = size(split(alleleStr, ","))

  /** REF / ALT split of the comma-joined allele string (reference `$ref` /
    * `$alt`, `src/GetData.cpp:637-680`). */
  def refAllele(alleleStr: Column): Column =
    element_at(split(alleleStr, ","), 1)
  def altAlleles(alleleStr: Column): Column = {
    val parts = split(alleleStr, ",")
    slice(parts, lit(2), size(parts) - 1)
  }
}
