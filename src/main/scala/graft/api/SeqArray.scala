package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.genetics._
import graft.operators.{MergeVariants, SlidingWindows}
import graft.sources.Vcf

/** SeqArray-compatible façade (SURVEY.md §2.12): the reference's entry
  * points expressed over the two-table model, so a SeqArray user can map
  * their script 1:1. Canonical variant-table columns: `variant_id`,
  * `chrom`, `pos`, `allele` ("REF,ALT1,…"), `geno`, `phased`, plus
  * optional `id`/`qual`/`filter`/`info_*`/`fmt_*` from VCF import.
  *
  * `variant_id` must be unique (the reference enforces the same for
  * `variant.id`); id-keyed operations (unitApply, merge) assume it.
  *
  * Selection semantics (reference `seqSetFilter` stack,
  * /root/reference/src/Index.h:324-363): immutable. Every `setFilter*`
  * returns a NEW SeqVarData restricted further (the reference's
  * `action="intersect"`); "push" is keeping the old reference, "pop" is
  * using it again, "set" is filtering from [[SeqArray.open]]'s result.
  * Everything stays lazy — filters compose into one Catalyst plan and push
  * down to the Parquet scan.
  */
final case class SeqVarData(variants: DataFrame,
    samples: Option[DataFrame] = None) {

  // ---- §2.3 filters -------------------------------------------------------

  /** seqSetFilterChrom: chrom ∈ include AND pos ∈ [fromBp, toBp]. */
  def setFilterChrom(include: Seq[String], fromBp: Long = Long.MinValue,
      toBp: Long = Long.MaxValue): SeqVarData =
    copy(variants = variants.filter(col("chrom").isin(include: _*) &&
      col("pos").between(fromBp, toBp)))

  /** seqSetFilter(variant.id=): id-set membership. */
  def setFilterVariantId(ids: Seq[Long]): SeqVarData =
    copy(variants = variants.filter(col("variant_id").isin(ids: _*)))

  /** seqSetFilter(variant.sel=): arbitrary predicate mask. */
  def setFilter(pred: Column): SeqVarData =
    copy(variants = variants.filter(pred))

  /** seqSetFilterPos: keep variants matching probe (chrom,pos) rows;
    * multiPos=false keeps only the first match per probe in variant order. */
  def setFilterPos(probes: DataFrame, multiPos: Boolean = true): SeqVarData = {
    val joined = variants.join(broadcast(
      probes.select(col("chrom").as("p_chrom"), col("pos").as("p_pos"))),
      col("chrom") === col("p_chrom") && col("pos") === col("p_pos"))
    val kept =
      if (multiPos) joined
      else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("p_chrom"), col("p_pos"))
          .orderBy(col("variant_id"))
        joined.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    copy(variants = kept.drop("p_chrom", "p_pos"))
  }

  /** seqSetFilterCond: by computed per-variant aggregates; a variant with
    * no called allele never passes. The stats are bound once through a
    * one-row `explode_outer`: FilterExec has no subexpression
    * elimination, and the optimizer inlines a projected stats column into
    * the predicate, which left 8 kernel evaluations per row. Filters on
    * the variant columns still push below the generator into the scan.
    * `try_divide` keeps ANSI mode from raising DIVIDE_BY_ZERO on such a
    * variant: Spark does not promise to evaluate `called > 0` first, and
    * the unguarded division raised on an in-memory frame. */
  def setFilterCond(minMaf: Double = 0.0, maxMissing: Double = 1.0): SeqVarData = {
    val st = col("__st")
    val total = element_at(st, 1)
    val called = element_at(st, 2)
    val af = try_divide(element_at(st, 3), called)
    val maf = least(af, lit(1.0) - af)
    val miss = try_divide(total - called, total)
    copy(variants = variants
      .select(col("*"), explode_outer(array(genoStats(col("geno"), lit(0))))
        .as("__st"))
      .filter(called > 0 && maf >= minMaf && miss <= maxMissing)
      .drop("__st"))
  }

  /** seqSetFilter(sample.sel=): restrict the sample axis to the given
    * 0-based ordinals (per-row positional gather over every per-sample
    * column — the reference's sample bitmap, without a transpose). The
    * samples side table, when present, is subset and renumbered to the
    * new 0-based ordinals. */
  def setFilterSamples(ordinals: Seq[Int]): SeqVarData = {
    val perSample = variants.columns.filter(c =>
      c == "geno" || c == "phased" || c.startsWith("fmt_"))
    val newSamples = samples.map { st =>
      val spark = st.sparkSession
      import spark.implicits._
      val remap = ordinals.zipWithIndex
        .toDF("sample_ordinal", "__new_ordinal")
      st.join(broadcast(remap), "sample_ordinal")
        .drop("sample_ordinal")
        .withColumnRenamed("__new_ordinal", "sample_ordinal")
        .select(col("sample_ordinal") +: col("sample_id") +: st.columns
          .filterNot(c => c == "sample_ordinal" || c == "sample_id")
          .map(col).toSeq: _*)
    }
    SeqVarData(perSample.foldLeft(variants)((df, c) =>
      df.withColumn(c, sampleSlice(col(c), ordinals))), newSamples)
  }

  /** seqSetFilter(sample.id=): select samples by id (reference
    * `SEQ_SetSpaceSample`, src/SeqArray.cpp:127-228). Matching keeps FILE
    * order, duplicate requested ids collapse, and unknown ids warn
    * rather than fail — all reference semantics. Requires the samples
    * side table ([[SeqArray.openGds]]/[[SeqArray.openVcf]] provide it). */
  def setFilterSampleIds(ids: Seq[String]): SeqVarData = {
    val st = samples.getOrElse(throw new IllegalStateException(
      "setFilterSampleIds needs a samples table (open via openGds/openVcf)"))
    val fileOrder = st.select(col("sample_ordinal"), col("sample_id"))
      .collect()
      .map(r => r.getInt(0) -> r.getString(1))
      .sortBy(_._1)
    val known = fileOrder.map(_._2).toSet
    val missing = ids.distinct.filterNot(known)
    if (missing.nonEmpty)
      Console.err.println(
        s"[graft] setFilterSampleIds: ${missing.size} unknown sample id(s)" +
          s" ignored: ${missing.take(5).mkString(", ")}")
    val want = ids.toSet
    setFilterSamples(fileOrder.filter(p => want(p._2)).map(_._1).toSeq)
  }

  /** GRanges-style containment filter (reference seqSetFilter(GRanges),
    * src/SeqArray.cpp:780-868): keep variants inside any interval of
    * `ranges(chrom, start, end)`; banded equi-join, never a nested loop.
    * GRanges intervals are closed — pointInInterval's hi is exclusive, so
    * end+1 keeps variants at pos == end (reference inclusive-end). */
  def setFilterRanges(ranges: DataFrame, bandWidth: Long = 100000): SeqVarData = {
    val hits = graft.operators.RangeJoin.pointInInterval(
        variants, col("pos"),
        ranges.select(col("chrom").as("r_chrom"), col("start").as("r_lo"),
          (col("end") + 1).as("r_hi")),
        col("r_lo"), col("r_hi"), bandWidth)
      .filter(col("chrom") === col("r_chrom"))
      .drop("r_chrom", "r_lo", "r_hi")
      .dropDuplicates("variant_id")
    copy(variants = hits)
  }

  // ---- §2.2 projections (seqGetData) --------------------------------------

  /** seqGetData: named variable → DataFrame of (variant_id, value). The
    * `$`-derived variables mirror src/GetData.cpp:257-780. */
  def getData(name: String): DataFrame = {
    val v: Column = name match {
      case "variant.id"  => col("variant_id")
      case "position"    => col("pos")
      case "chromosome"  => col("chrom")
      case "allele"      => col("allele")
      case "genotype"    => col("geno")
      case "phase"       => col("phased")
      case "$dosage"     => dosageRef(col("geno"))
      case "$dosage_alt" => dosageAlt(col("geno"))
      case "$num_allele" => numAllele(col("allele"))
      case "$ref"        => refAllele(col("allele"))
      case "$alt"        => altAlleles(col("allele"))
      case "$chrom_pos"  => concat_ws(":", col("chrom"), col("pos"))
      case "$chrom_pos_allele" =>
        concat_ws("_", col("chrom"), col("pos"), col("allele"))
      case n if n.startsWith("annotation/info/") =>
        col("info_" + n.stripPrefix("annotation/info/"))
      case n if n.startsWith("annotation/format/") =>
        col("fmt_" + n.stripPrefix("annotation/format/"))
      case n if n.startsWith("annotation/") =>
        col(n.stripPrefix("annotation/"))
      case other => col(other)
    }
    variants.select(col("variant_id"), v.as("value"))
  }

  // ---- §2.5 aggregates ----------------------------------------------------

  /** seqAlleleFreq(ref.allele=k). */
  def alleleFreq(k: Int = 0): DataFrame =
    variants.select(col("variant_id"),
      graft.functions.genetics.alleleFreq(col("geno"), lit(k)).as("af"))

  /** seqAlleleCount(ref.allele=k). */
  def alleleCount(k: Int = 0): DataFrame =
    variants.select(col("variant_id"),
      graft.functions.genetics.alleleCount(col("geno"), lit(k)).as("ac"))

  /** seqMissing: per-variant rate, or per-sample (sample ordinal →
    * missing-allele fraction) via the explode margin. A null sample array
    * (absent GT cell from VCF import) surfaces as missPerSample's -1
    * sentinel and counts as a fully-missing call (all `ploidy` alleles);
    * ploidy comes from the first non-null call of the row, so a null
    * first sample cannot poison it. Rows where every call is null carry
    * no ploidy information and contribute to neither margin. */
  def missing(perVariant: Boolean = true): DataFrame =
    if (perVariant)
      variants.select(col("variant_id"), missingRate(col("geno")).as("miss"))
    else
      variants
        .select(
          array_max(transform(col("geno"), sa =>
            when(sa.isNotNull, size(sa)))).as("__ploidy"),
          posexplode(missPerSample(col("geno"))).as(Seq("sample", "mc")))
        .filter(col("__ploidy").isNotNull)
        .groupBy(col("sample"))
        .agg((sum(when(col("mc") < 0, col("__ploidy"))
            .otherwise(col("mc"))).cast("double") /
          sum(col("__ploidy"))).as("miss"))

  // ---- SNPRelate-over-SeqArray statistics ---------------------------------
  // The workloads the reference serves through its SNPRelate link layer
  // (/root/reference/src/LinkSNPRelate.cpp), surfaced as façade methods
  // over the canonical columns. All delegate to graft.operators.PopGen /
  // LdWindow — see those for the exact-arithmetic and scale contracts.

  /** Number of samples, inferred from the first fully-present genotype
    * row (one tiny driver action; pass explicitly to avoid it). */
  def nSamples: Int =
    variants.select(size(col("geno")).as("__n")).filter(col("__n") > 0)
      .head().getInt(0)

  /** Canonical dosage frame (vid, chrom, pos, d) the popgen ops consume. */
  private def dosed: DataFrame =
    variants.select(col("variant_id").as("vid"), col("chrom"), col("pos"),
      dosageAlt(col("geno")).as("d"))

  /** snpgdsFst (Hudson): see [[graft.operators.PopGen.hudsonFst]]. */
  def fst(g1: Seq[Int], g2: Seq[Int]): DataFrame =
    graft.operators.PopGen.hudsonFst(
      variants.select(col("variant_id").as("vid"), col("geno")), g1, g2)

  /** Windowed Hudson Fst selection scan: see
    * [[graft.operators.PopGen.windowedFst]]. */
  def windowedFst(g1: Seq[Int], g2: Seq[Int], window: Long): DataFrame =
    graft.operators.PopGen.windowedFst(
      variants.select(col("variant_id").as("vid"), col("chrom"),
        col("pos"), col("geno")), g1, g2, window)

  /** Windowed nucleotide diversity π + Watterson θ_W: see
    * [[graft.operators.PopGen.diversityWindow]]. */
  def diversityWindow(window: Long, n: Int = -1): DataFrame =
    graft.operators.PopGen.diversityWindow(
      variants.select(col("variant_id").as("vid"), col("chrom"),
        col("pos"), col("geno")),
      0 until (if (n > 0) n else nSamples), window)

  /** snpgdsFst (Weir–Cockerham): see [[graft.operators.PopGen.wcFst]];
    * `strata = true` returns the exact multi-locus sums
    * ([[graft.operators.PopGen.wcFstStrata]]) instead of per-variant θ. */
  def wcFst(g1: Seq[Int], g2: Seq[Int], strata: Boolean = false)
      : DataFrame = {
    val v = variants.select(col("variant_id").as("vid"), col("geno"))
    if (strata) graft.operators.PopGen.wcFstStrata(v, g1, g2)
    else graft.operators.PopGen.wcFst(v, g1, g2)
  }

  /** snpgdsGRM (VanRaden): see [[graft.operators.PopGen.grm]]. */
  def grm(n: Int = -1): DataFrame =
    graft.operators.PopGen.grm(dosed, if (n > 0) n else nSamples)

  /** snpgdsIBS: see [[graft.operators.PopGen.ibs]]. */
  def ibs(n: Int = -1): DataFrame =
    graft.operators.PopGen.ibs(dosed, if (n > 0) n else nSamples)

  /** Relatedness-aware family-wise train/val split: see
    * [[graft.operators.PopGen.familySplit]]. */
  def familySplit(phiMax: Double, n: Int = -1): DataFrame =
    graft.operators.PopGen.familySplit(dosed,
      if (n > 0) n else nSamples, phiMax)

  /** PLINK --mendel trio QC: see
    * [[graft.operators.PopGen.mendelErrors]]. */
  def mendelErrors(trios: Seq[(Int, Int, Int)]): DataFrame =
    graft.operators.PopGen.mendelErrors(dosed, trios)

  /** PLINK --tdt family association: see
    * [[graft.operators.PopGen.tdt]]. */
  def tdt(trios: Seq[(Int, Int, Int)]): DataFrame =
    graft.operators.PopGen.tdt(dosed, trios)

  /** snpgdsPCACorr: see [[graft.operators.PopGen.pcaCorr]]. */
  def pcaCorr(vecs: Seq[Seq[Double]], n: Int = -1): DataFrame =
    graft.operators.PopGen.pcaCorr(dosed, if (n > 0) n else nSamples, vecs)

  /** snpgdsPCASampLoading + snpgdsPCASampProj: SNP loadings for the
    * supplied eigenvectors, then projection of `newV`-shaped cohorts —
    * see [[graft.operators.PopGen.pcaLoadings]] / `pcaProject`. */
  def pcaLoadings(vecs: Seq[Seq[Double]], n: Int = -1): DataFrame =
    graft.operators.PopGen.pcaLoadings(dosed,
      if (n > 0) n else nSamples, vecs)

  /** snpgdsPCA: deterministic power iteration. Small cohorts
    * (≤ 8192 samples) collect the S×S pairwise-complete GRM to the
    * driver; above that the route is the GRAM-FREE path
    * ([[graft.operators.PopGen.pcaFromGeno]]): the mat-vec factors
    * through the genotype rows (mean-imputed — SNPRelate's own
    * missing-data model), so neither the driver NOR the cluster ever
    * materializes anything S² — the biobank regime (the GRM entries
    * table would be O(S²) rows and grm()'s exact-lcm plan is
    * cohort-QC-bounded by design). */
  def pca(k: Int, n: Int = -1): (Array[Double], Array[Array[Double]]) = {
    val nn = if (n > 0) n else nSamples
    if (nn <= 8192) graft.operators.PopGen.pcaFromGrm(grm(nn), nn, k)
    else graft.operators.PopGen.pcaFromGeno(dosed, nn, k)
  }

  /** snpgdsIBDMoM: PLINK --genome method-of-moments IBD
    * (Z0/Z1/Z2/PI_HAT) — see [[graft.operators.PopGen.ibdMoM]].
    * `corrected = true` applies PLINK's finite-sample allele-count
    * correction and additionally emits the
    * snpgdsIBDMoM(kinship=TRUE) column kinship = π̂/2
    * ([[graft.operators.PopGen.ibdMoMCorrected]]). */
  def ibdMoM(n: Int = -1, corrected: Boolean = false): DataFrame = {
    val nn = if (n > 0) n else nSamples
    if (corrected) graft.operators.PopGen.ibdMoMCorrected(dosed, nn)
    else graft.operators.PopGen.ibdMoM(dosed, nn)
  }

  /** snpgdsIndInb-shaped per-sample inbreeding F. */
  def inbreeding(n: Int = -1): DataFrame =
    graft.operators.PopGen.inbreedingF(dosed, if (n > 0) n else nSamples)

  /** snpgdsLDMat windowed r². */
  def ldMatrix(window: Long): DataFrame =
    graft.operators.LdWindow.r2(dosed, window)

  /** snpgdsLDpruning (MAF-ranked, order-free rule). */
  def ldPrune(window: Long, r2Max: Double, n: Int = -1): DataFrame =
    graft.operators.PopGen.ldPrune(dosed, window, r2Max,
      if (n > 0) n else nSamples)

  /** Tajima's D neutrality scan per window: see
    * [[graft.operators.PopGen.tajimaD]]. */
  def tajimaD(window: Long, n: Int = -1): DataFrame =
    graft.operators.PopGen.tajimaD(
      variants.select(col("variant_id").as("vid"), col("chrom"),
        col("pos"), col("geno")),
      0 until (if (n > 0) n else nSamples), window)

  /** Fu & Li's D-star/F-star outgroup-free neutrality scan: see
    * [[graft.operators.PopGen.fuLiWindow]]. */
  def fuLi(window: Long, n: Int = -1): DataFrame =
    graft.operators.PopGen.fuLiWindow(
      variants.select(col("variant_id").as("vid"), col("chrom"),
        col("pos"), col("geno")),
      0 until (if (n > 0) n else nSamples), window)

  /** Patterson D with block-jackknife Z (the admixtools headline): see
    * [[graft.operators.PopGen.dStatJackknife]]. */
  def dJackknife(g1: Seq[Int], g2: Seq[Int], g3: Seq[Int],
      g4: Seq[Int]): DataFrame =
    graft.operators.PopGen.dStatJackknife(
      variants.select(col("chrom"), col("geno")), g1, g2, g3, g4)

  /** Garud H1/H2/H12 soft-sweep scan per window: see
    * [[graft.operators.PopGen.garudH]]. */
  def garudH(window: Long, n: Int = -1): DataFrame =
    graft.operators.PopGen.garudH(
      variants.select(col("chrom"), col("pos"),
        col("variant_id").as("vid"), col("geno")),
      window, if (n > 0) n else nSamples)

  /** f2 (doubleton) allele sharing over the biallelic sites (nall from
    * the canonical comma-joined allele string): see
    * [[graft.operators.PopGen.f2Sharing]]. */
  def f2Sharing(n: Int = -1): DataFrame =
    graft.operators.PopGen.f2Sharing(
      variants.select(col("variant_id").as("vid"),
        size(split(col("allele"), ",")).cast("long").as("nall"),
        dosageAlt(col("geno")).as("d")),
      if (n > 0) n else nSamples)

  /** Window-indexed LD clumping: see
    * [[graft.operators.PopGen.clumpLite]]. */
  def clump(window: Long, r2Min: Double, n: Int = -1): DataFrame =
    graft.operators.PopGen.clumpLite(dosed, window, r2Min,
      if (n > 0) n else nSamples)

  /** Per-sample singleton load: see
    * [[graft.operators.PopGen.singletonLoad]]. */
  def singletonLoad(n: Int = -1): DataFrame =
    graft.operators.PopGen.singletonLoad(dosed,
      if (n > 0) n else nSamples)

  /** PLINK --test-missing differential missingness: see
    * [[graft.operators.PopGen.diffMissing]]. */
  def diffMissing(g1: Seq[Int], g2: Seq[Int]): DataFrame =
    graft.operators.PopGen.diffMissing(dosed, g1, g2)

  /** GWAS Cochran–Armitage trend test. */
  def assocTrend(isCase: Seq[Boolean]): DataFrame =
    graft.operators.PopGen.trendTest(dosed, isCase)

  /** GWAS linear-regression association on an integer phenotype. */
  def assocLinear(y: Seq[Long]): DataFrame =
    graft.operators.PopGen.linRegScore(dosed, y)

  /** PLINK --mh stratified CMH association. */
  def assocCmh(isCase: Seq[Boolean], strata: Seq[Seq[Int]]): DataFrame =
    graft.operators.PopGen.cmhTest(dosed, isCase, strata)

  /** MaCH imputation-quality r̂². */
  def imputeR2(n: Int = -1): DataFrame =
    graft.operators.PopGen.imputeRhat2(dosed, if (n > 0) n else nSamples)

  /** GERMLINE-shaped IBD-segment runs per sample pair. */
  def ibdSegments(n: Int = -1): DataFrame =
    graft.operators.PopGen.ibdSegments(dosed, if (n > 0) n else nSamples)

  /** KING --king-cutoff relatedness pruning. */
  def kinshipPrune(phiMax: Double, n: Int = -1): DataFrame =
    graft.operators.PopGen.kinshipPrune(dosed, if (n > 0) n else nSamples,
      phiMax)

  /** Phased-haplotype frame for D′/blocks. */
  private def hapVars(n: Int): DataFrame =
    variants.select(col("variant_id").as("vid"), col("chrom"), col("pos"),
      graft.operators.PopGen.hapAlt(col("geno"), col("phased"), n).as("d"))

  /** Lewontin D′ over phased haplotypes, banded window. */
  def dPrime(window: Long, n: Int = -1): DataFrame =
    graft.operators.PopGen.dPrimeWindow(
      hapVars(if (n > 0) n else nSamples), window)

  /** Gabriel-shaped haplotype blocks from adjacent-pair D′ runs. */
  def haploBlocks(dMin: Double, n: Int = -1): DataFrame =
    graft.operators.PopGen.haploBlocks(
      hapVars(if (n > 0) n else nSamples), dMin)

  // ---- §2.11 apply engine -------------------------------------------------

  /** seqApply(margin="by.variant"): typed map over variant rows
    * (R/Methods.R:594-683 — `FUN` per selected variant; `as.is` typing is
    * the Encoder). */
  def applyVariants[T: org.apache.spark.sql.Encoder](
      f: org.apache.spark.sql.Row => T): org.apache.spark.sql.Dataset[T] =
    variants.map(f)(implicitly)

  /** seqBlockApply: iterator-batched map (R/Methods.R:690-769 — vectorized
    * blocks; the partition is the block). */
  def blockApplyVariants[T: org.apache.spark.sql.Encoder](
      f: Iterator[org.apache.spark.sql.Row] => Iterator[T])
      : org.apache.spark.sql.Dataset[T] =
    variants.mapPartitions(f)(implicitly)

  // ---- §2.6 units ---------------------------------------------------------

  /** seqUnitSlidingWindows. */
  def unitSlidingWindows(winSize: Long, winShift: Long,
      dupRm: Boolean = true): DataFrame =
    SlidingWindows.windows(variants, col("chrom"), col("pos"),
      col("variant_id"), winSize, winShift, dupRm)

  /** seqUnitApply (R/UnitList.R:290-443): a typed UDF per window over that
    * window's member variant rows — groupByKey + mapGroups, the load-
    * balanced parallel unit loop as Spark sees it. `f` receives
    * (chrom, winStart, member variant rows). */
  def unitApply[T: org.apache.spark.sql.Encoder](
      winSize: Long, winShift: Long)(
      f: (String, Long, Iterator[org.apache.spark.sql.Row]) => T)
      : org.apache.spark.sql.Dataset[T] = {
    import variants.sparkSession.implicits._
    val wins = unitSlidingWindows(winSize, winShift, dupRm = false)
      .select(col("chrom").as("__wchrom"), col("win_start"),
        explode(col("members")).as("variant_id"))
    wins.join(variants, "variant_id")
      .groupByKey(r => (r.getAs[String]("__wchrom"), r.getAs[Long]("win_start")))
      .mapGroups((key: (String, Long),
          it: Iterator[org.apache.spark.sql.Row]) => f(key._1, key._2, it))
  }

  // ---- §2.1 export --------------------------------------------------------

  /** seqAsVCF (/root/reference/R/asVCF.R:5-57): the VariantAnnotation-
    * class-shaped view — one row per selected variant with the VCF
    * object's slots as columns: `chrom`/`start`/`end` (rowRanges; `end`
    * = start + len(REF) − 1), a `fixed` struct (REF, ALT array, QUAL,
    * FILTER), an `info` struct of the INFO fields, and a `geno` struct
    * (per-sample GT strings + the FORMAT fields). `info`/`geno` select
    * subsets like the reference's arguments (unknown names drop, as its
    * warning path does); `chrPrefix` prepends to the chromosome like
    * `chr.prefix`. A pure projection: no shuffle, fuses into the scan. */
  def asVcf(chrPrefix: String = "", info: Option[Seq[String]] = None,
      geno: Option[Seq[String]] = None): DataFrame = {
    val cols = variants.columns.toSeq
    val infoAll = cols.filter(_.startsWith("info_")).map(_.stripPrefix("info_"))
    val fmtAll = cols.filter(_.startsWith("fmt_")).map(_.stripPrefix("fmt_"))
    val infoSel = info.map(_.filter(infoAll.contains)).getOrElse(infoAll)
    val fmtSel = geno.map(_.filter(fmtAll.contains)).getOrElse(fmtAll)
    val parts = split(col("allele"), ",")
    val ref = element_at(parts, 1)
    val fixed = struct(
      ref.as("REF"),
      slice(parts, lit(2), greatest(size(parts) - 1, lit(0))).as("ALT"),
      (if (cols.contains("qual")) col("qual")
       else lit(null).cast("float")).as("QUAL"),
      (if (cols.contains("filter")) col("filter")
       else lit(null).cast("string")).as("FILTER"))
    val gt = split(gtStrings(col("geno"), col("phased"), ";"), ";")
    val genoStruct =
      struct((gt.as("GT") +: fmtSel.map(n => col("fmt_" + n).as(n))): _*)
    val base = Seq(
      col("variant_id"),
      (if (cols.contains("id")) col("id")
       else concat(lit("v"), col("variant_id"))).as("id"),
      concat(lit(chrPrefix), col("chrom")).as("chrom"),
      col("pos").as("start"),
      (col("pos") + length(ref) - 1).as("end"),
      fixed.as("fixed")) ++
      (if (infoSel.nonEmpty)
        Seq(struct(infoSel.map(n => col("info_" + n).as(n)): _*).as("info"))
       else Nil) :+
      genoStruct.as("geno")
    variants.select(base: _*)
  }

  /** seqGDS2VCF body lines (GT-only FORMAT; caller writes the header). */
  def toVcfLines(infoExpr: Column = lit(null)): DataFrame = {
    val parts = split(col("allele"), ",")
    Vcf.formatLines(
      variants
        .withColumn("id", concat(lit("v"), col("variant_id")))
        .withColumn("ref", element_at(parts, 1))
        .withColumn("alts", slice(parts, lit(2), size(parts) - 1))
        .withColumn("qual", lit(null).cast("float"))
        .withColumn("filter", lit(null).cast("string")),
      infoExpr)
  }
}

object SeqArray {

  /** seqOpen: Parquet variants table (canonical columns). */
  def open(spark: SparkSession, path: String): SeqVarData =
    SeqVarData(spark.read.parquet(path))

  /** seqVCF2GDS + seqOpen in one step: VCF → variants table (+ samples
    * side table from the header's sample columns). */
  def openVcf(spark: SparkSession, path: String): SeqVarData = {
    val parsed = Vcf.read(spark, path)
    val (_, _, sampleIds) = Vcf.headerSpecs(
      graft.sources.v2.VcfDataSource.headerLines(path))
    import spark.implicits._
    val st = sampleIds.zipWithIndex
      .map { case (id, i) => (i, id) }
      .toDF("sample_ordinal", "sample_id")
    SeqVarData(parsed.withColumn("variant_id",
      monotonically_increasing_id()), Some(st))
  }

  /** seqOpen on a native CoreArray `.gds` file (the reference's own
    * storage; R/Methods.R:12-77) via the DSv2 `gds` source — stored
    * `variant.id` is preserved as `variant_id`, and `sample.id` +
    * `sample.annotation` become the samples side table. */
  def openGds(spark: SparkSession, path: String): SeqVarData =
    SeqVarData(graft.sources.gds.Gds.read(spark, path),
      Some(graft.sources.gds.Gds.samples(spark, path)))

  /** seqOpen + seqSetFilter(sample.id=) fused INTO THE SCAN: the sample
    * selection pushes down to the gds source (`option("samples", …)`) so
    * per-sample columns decode only the chosen ordinals — at biobank
    * width, a sub-cohort query never materializes the other samples.
    * Reference semantics as [[SeqVarData.setFilterSampleIds]]: file
    * order kept, duplicates collapse, unknown ids warn. */
  def openGds(spark: SparkSession, path: String, sampleIds: Seq[String])
      : SeqVarData = {
    val st = graft.sources.gds.Gds.samples(spark, path)
    val fileOrder = st.select(col("sample_ordinal"), col("sample_id"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1)
    val known = fileOrder.map(_._2).toSet
    val missing = sampleIds.distinct.filterNot(known)
    if (missing.nonEmpty)
      Console.err.println(
        s"[graft] openGds: ${missing.size} unknown sample id(s) ignored: " +
          missing.take(5).mkString(", "))
    val want = sampleIds.toSet
    val ordinals = fileOrder.filter(p => want(p._2)).map(_._1)
    val variants = spark.read.format("gds")
      .option("samples", ordinals.mkString(","))
      .load(path)
    val remap = ordinals.zipWithIndex.toMap
    val newSamples = {
      import spark.implicits._
      val keep = st.filter(col("sample_ordinal")
        .isin(ordinals.map(Integer.valueOf): _*))
      val cols = st.columns
      keep.withColumn("sample_ordinal",
        udf((o: Int) => remap(o)).apply(col("sample_ordinal")))
        .select(cols.map(col): _*)
    }
    SeqVarData(variants, Some(newSamples))
  }

  // ---- file-level converters (reference R/ConvVCF2GDS.R, Conversion.R) --

  private def sampleIdList(d: SeqVarData): Seq[String] =
    d.samples.map(_.orderBy("sample_ordinal").collect()
      .map(_.getString(1)).toSeq).getOrElse(Seq.empty)

  /** Assigns `variant_id` = 1..n in (chrom, pos, allele, id) order — the
    * reference's import numbering (R/ConvVCF2GDS.R:976-978) — WITHOUT a
    * global single-partition window. Two-level prefix (the
    * [[graft.pipeline.TrainingData.packSequences]] pattern): a
    * partition-local `row_number` within (chrom, pos DIV `bucket`)
    * buckets, plus a cumsum over the tiny per-bucket counts joined back
    * broadcast. The bucket key is a prefix of the sort key, so bucket
    * order composed with in-bucket order is the same total order; the
    * only unpartitioned window runs over ≤ n/bucket aggregate rows
    * (~46k rows even at 3 billion variants), never the fact table. */
  private[graft] def numberVariants(df: DataFrame,
      bucket: Long = 65536L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df.withColumn("__vb",
      expr(s"CAST(pos AS BIGINT) DIV ${bucket}L"))
    val wIn = Window.partitionBy(col("chrom"), col("__vb"))
      .orderBy(col("pos"), col("allele"), col("id"))
    val wB = Window.orderBy(col("chrom"), col("__vb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = keyed.groupBy(col("chrom"), col("__vb"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__off", sum(col("__bn")).over(wB) - col("__bn"))
      .select(col("chrom"), col("__vb"), col("__off"))
    keyed.withColumn("__r", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets), Seq("chrom", "__vb"))
      .withColumn("variant_id", col("__off") + col("__r"))
      .drop("__vb", "__r", "__off")
      .select(df.columns.map(col): _*)
  }

  /** seqVCF2GDS proper: VCF/vcf.gz → native CoreArray `.gds` on disk.
    * Variant ids are assigned 1..n in (chrom, pos, allele) order, as the
    * reference numbers its import (scale-safe via [[numberVariants]]). */
  def seqVCF2GDS(spark: SparkSession, vcfPath: String, gdsPath: String)
      : Unit = {
    val d = openVcf(spark, vcfPath)
    graft.sources.gds.GdsWrite.write(numberVariants(d.variants),
      sampleIdList(d), gdsPath)
  }

  /** seqApply(…, as.is = "gdsn") analog (reference R/Methods.R:594-683:
    * stream apply results into a node of an output GDS file): evaluate
    * a per-variant expression over the handle's (filtered) variants and
    * write the result as a NEW `annotation/info/<name>` node of a fresh
    * container alongside the data — read back through `Gds.read`, the
    * node surfaces as `info_<name>`. Single-file reference-compat
    * writer (driver-streamed); the sharded exporter is the scale path
    * for the same shape. */
  def seqApplyToGds(d: SeqVarData, name: String, value: Column,
      gdsPath: String, storage: String = "LZMA_ra"): Unit =
    graft.sources.gds.GdsWrite.write(
      d.variants.withColumn(s"info_$name", value),
      sampleIdList(d), gdsPath, storage)

  /** seqGDS2VCF file-level: core columns of a `.gds` back to a VCF text
    * file (header rebuilt from the sample axis; info columns export via
    * [[Vcf.formatLines]]'s infoExpr hook when needed). A `.gz` suffix
    * writes BGZF members (the reference's default container — tabix/
    * bcftools-compatible blocked gzip, reading back splittably through
    * this engine's own bgzf scan). */
  def seqGDS2VCF(spark: SparkSession, gdsPath: String, vcfPath: String)
      : Unit = {
    val d = openGds(spark, gdsPath)
    val fmtCells = Vcf.fmtCellsFor(d.variants)
    val header = Vcf.formatHeader(Vcf.infoSpecsFor(d.variants.schema),
      Vcf.FieldSpec("GT", "1", "String") +: fmtCells.map(_._1),
      sampleIdList(d))
    val lines = Vcf.formatLines(d.variants, Vcf.infoExprFor(d.variants),
      fmt = fmtCells.map(fc => fc._1.id -> fc._2))
    val raw = new java.io.FileOutputStream(vcfPath)
    // this path never samples virtual offsets (no CSI for text VCF),
    // so members deflate concurrently in batches — identical bytes
    val out: java.io.OutputStream =
      if (vcfPath.endsWith(".gz"))
        new graft.sources.bcf.Bgzf.ParallelWriter(raw)
      else new java.io.BufferedOutputStream(raw, 1 << 20)
    try {
      def ln(s: String): Unit = { out.write(s.getBytes("UTF-8")); out.write('\n') }
      header.foreach(ln)
      val it = lines.toLocalIterator()
      while (it.hasNext) ln(it.next().getString(0))
    } finally out.close()
  }

  /** seqGDS2VCF at scale: executor-side sharded export — one
    * `part-NNNNN.vcf.gz` (BGZF) per (chrom, pos) range shard, each a complete
    * headered VCF, plus `_manifest.json`; no row passes through the
    * driver (see [[graft.sources.Sharded]]). Shards read back through
    * [[Vcf.read]] / `bcftools concat`-style concatenation. */
  def seqGDS2VCFSharded(spark: SparkSession, gdsPath: String,
      outDir: String): Seq[(String, Long)] = {
    val d = openGds(spark, gdsPath)
    val fmtCells = Vcf.fmtCellsFor(d.variants)
    val header = Vcf.formatHeader(Vcf.infoSpecsFor(d.variants.schema),
      Vcf.FieldSpec("GT", "1", "String") +: fmtCells.map(_._1),
      sampleIdList(d))
    val keyed = Vcf.formatLines(d.variants, Vcf.infoExprFor(d.variants),
      keep = Seq("chrom", "variant_id"),
      fmt = fmtCells.map(fc => fc._1.id -> fc._2))
    graft.sources.Sharded.export(keyed, outDir, ".vcf.gz", (it, f) => {
      val out = new graft.sources.bcf.Bgzf.Writer(
        new java.io.FileOutputStream(f))
      var n = 0L
      try {
        header.foreach { h =>
          out.write(h.getBytes("UTF-8")); out.write('\n')
        }
        while (it.hasNext) {
          out.write(it.next().getAs[String]("value").getBytes("UTF-8"))
          out.write('\n')
          n += 1
        }
      } finally out.close()
      n
    })
  }

  /** Complete VCF-style header + FORMAT cell columns for the BCF export
    * (BCF dictionaries require every contig declared up front; the
    * distinct-chrom list is metadata-scale). */
  private def bcfHeaderFor(d: SeqVarData)
      : (Seq[String], Seq[(Vcf.FieldSpec, Column)]) = {
    val contigs = d.variants.select(col("chrom")).distinct()
      .orderBy(col("chrom")).collect().map(_.getString(0)).toSeq
    val fmtCells = Vcf.fmtCellsFor(d.variants)
    val base = Vcf.formatHeader(Vcf.infoSpecsFor(d.variants.schema),
      Vcf.FieldSpec("GT", "1", "String") +: fmtCells.map(_._1),
      sampleIdList(d))
    (base.head +: (contigs.map(c => s"##contig=<ID=$c>") ++ base.tail),
      fmtCells)
  }

  /** seqGDS2BCF: `.gds` → BCF2.2 (+CSI) directly — the reference pipes
    * seqGDS2VCF through bcftools; here the binary writer is first-class.
    * Single file ⇒ driver-streamed; [[seqGDS2BCFSharded]] scales. */
  def seqGDS2BCF(spark: SparkSession, gdsPath: String, bcfPath: String)
      : Unit = {
    val d = openGds(spark, gdsPath)
    val (header, fmtCells) = bcfHeaderFor(d)
    val lines = Vcf.formatLines(d.variants, Vcf.infoExprFor(d.variants),
      fmt = fmtCells.map(fc => fc._1.id -> fc._2))
    import scala.jdk.CollectionConverters._
    graft.sources.bcf.Bcf.writeLines(
      lines.toLocalIterator().asScala.map(_.getString(0)), header, bcfPath)
  }

  /** seqGDS2BCF at scale: one complete BCF (+CSI) per (chrom, pos)
    * range shard, written on executors + `_manifest.json`. */
  def seqGDS2BCFSharded(spark: SparkSession, gdsPath: String,
      outDir: String): Seq[(String, Long)] = {
    val d = openGds(spark, gdsPath)
    val (header, fmtCells) = bcfHeaderFor(d)
    val keyed = Vcf.formatLines(d.variants, Vcf.infoExprFor(d.variants),
      keep = Seq("chrom", "variant_id"),
      fmt = fmtCells.map(fc => fc._1.id -> fc._2))
    graft.sources.Sharded.export(keyed, outDir, ".bcf", (it, f) =>
      graft.sources.bcf.Bcf.writeLines(
        it.map(_.getAs[String]("value")), header, f))
  }

  /** seqVCF2GDS at scale: import straight into a sharded GDS directory
    * (one container per (chrom, pos) range shard, written on executors;
    * reads back via `Gds.read(spark, outDir)`). */
  def seqVCF2GDSSharded(spark: SparkSession, vcfPath: String,
      outDir: String): Seq[(String, Long)] = {
    val d = openVcf(spark, vcfPath)
    graft.sources.gds.GdsWrite.writeSharded(numberVariants(d.variants),
      sampleIdList(d), outDir)
  }

  /** seqRecompress: re-encode a `.gds` container's data streams in a
    * different compression (reference R/Utilities.R — ZIP/LZ4/LZMA map
    * to the ZIP_ra/LZ4_ra/LZMA_ra chunk coders here; "none" writes
    * uncompressed-eligible nodes raw). Round-trips through the scan, so
    * it also renumbers nothing and preserves every core column. */
  def seqRecompress(spark: SparkSession, gdsPath: String, outPath: String,
      compress: String = "ZIP"): Unit = {
    val storage = compress.toUpperCase match {
      case "ZIP" => "ZIP_ra"
      case "LZ4" => "LZ4_ra"
      case "LZMA" | "ULTRA" | "ULTRAMAX" => "LZMA_ra"
      case other => throw new IllegalArgumentException(
        s"seqRecompress: unknown compression $other")
    }
    val d = openGds(spark, gdsPath)
    graft.sources.gds.GdsWrite.write(d.variants, sampleIdList(d), outPath,
      storage = storage)
  }

  /** seqSNP2GDS / seqGDS2SNP (SNP-GDS containers). */
  def seqSNP2GDS(spark: SparkSession, snpPath: String, gdsPath: String): Unit =
    graft.sources.gds.SnpGds.toSeqArray(spark, snpPath, gdsPath)
  def seqGDS2SNP(spark: SparkSession, gdsPath: String, snpPath: String): Unit =
    graft.sources.gds.SnpGds.fromSeqArray(spark, gdsPath, snpPath)

  /** seqGDS2SNP at scale: sharded SNP-GDS directory export. */
  def seqGDS2SNPSharded(spark: SparkSession, gdsPath: String,
      outDir: String): Seq[(String, Long)] = {
    val d = openGds(spark, gdsPath)
    val df = d.variants.select(col("variant_id"), col("chrom"), col("pos"),
      col("id"), col("allele"), col("geno"))
    graft.sources.gds.SnpGds.writeSharded(df, sampleIdList(d), outDir)
  }

  /** seqBED2GDS: PLINK triplet → SeqArray `.gds` (REF-dosage codes
    * expand to normalized pairs, the same fold the reference's BED
    * import applies). */
  def seqBED2GDS(spark: SparkSession, bedPrefix: String, gdsPath: String)
      : Unit = {
    val fam = graft.sources.bed.Bed.readFam(bedPrefix + ".fam")
    val ids = graft.sources.bed.Bed.sampleIds(fam)
    val n = ids.length
    val shaped = graft.sources.bed.Bed.read(spark, bedPrefix)
      .select((col("vid") + 1).as("variant_id"), col("chrom"),
        col("pos"), col("id"), col("allele"),
        transform(unpack2b(col("pg"), lit(n)), d =>
          when(d.isNull, array(lit(null).cast("long"), lit(null).cast("long")))
            .when(d === 2, array(lit(0L), lit(0L)))
            .when(d === 1, array(lit(0L), lit(1L)))
            .otherwise(array(lit(1L), lit(1L)))).as("geno"))
    graft.sources.gds.GdsWrite.write(shaped, ids, gdsPath)
  }

  /** seqGDS2BED: SeqArray `.gds` → PLINK triplet (biallelic fold via the
    * 2-bit REF-dosage pack). */
  def seqGDS2BED(spark: SparkSession, gdsPath: String, bedPrefix: String)
      : Unit = {
    val d = openGds(spark, gdsPath)
    val ids = sampleIdList(d)
    val shaped = d.variants.select(col("variant_id"), col("chrom"),
      col("pos"),
      coalesce(col("id"), concat(lit("v"), col("variant_id"))).as("id"),
      col("allele"), pack2b(col("geno")).as("pg"))
    graft.sources.bed.Bed.write(shaped, "variant_id", ids, bedPrefix)
  }

  /** seqGDS2BED at scale: sharded PLINK triplet directory export. */
  def seqGDS2BEDSharded(spark: SparkSession, gdsPath: String,
      outDir: String): Seq[(String, Long)] = {
    val d = openGds(spark, gdsPath)
    val ids = sampleIdList(d)
    val shaped = d.variants.select(col("variant_id"), col("chrom"),
      col("pos"),
      coalesce(col("id"), concat(lit("v"), col("variant_id"))).as("id"),
      col("allele"), pack2b(col("geno")).as("pg"))
    graft.sources.bed.Bed.writeSharded(shaped, "variant_id", ids, outDir)
  }

  /** seqMerge (variant-union): full outer join on (chrom, pos), allele-set
    * union, genotype index remap of both sides into the merged list. */
  def merge(a: SeqVarData, b: SeqVarData): SeqVarData = {
    val l = a.variants.select(col("variant_id").as("vid_a"),
      col("chrom").as("chrom_a"), col("pos").as("pos_a"),
      col("allele").as("al_a"), col("geno").as("g_a"),
      col("phased").as("p_a"))
    val r = b.variants.select(col("variant_id").as("vid_b"),
      col("chrom").as("chrom_b"), col("pos").as("pos_b"),
      col("allele").as("al_b"), col("geno").as("g_b"),
      col("phased").as("p_b"))
    val m = l.join(r,
      col("chrom_a") === col("chrom_b") && col("pos_a") === col("pos_b"),
      "full_outer")
    val alleles = when(col("al_a").isNotNull && col("al_b").isNotNull,
        MergeVariants.alleleUnion(col("al_a"), col("al_b")))
      .otherwise(coalesce(col("al_a"), col("al_b")))
    SeqVarData(m.select(
      coalesce(col("vid_a"), col("vid_b")).as("variant_id"),
      coalesce(col("chrom_a"), col("chrom_b")).as("chrom"),
      coalesce(col("pos_a"), col("pos_b")).as("pos"),
      alleles.as("allele"),
      MergeVariants.remapGeno(col("g_a"), col("al_a"), alleles).as("geno_a"),
      MergeVariants.remapGeno(col("g_b"), col("al_b"), alleles).as("geno_b"),
      col("p_a").as("phased_a"), col("p_b").as("phased_b")))
  }

  /** seqDigest: order-insensitive md5 over a projected column, computed
    * as a two-level hash-of-hashes (reference R/Summary.R:816) so no
    * single cell ever materializes the whole table — see
    * [[graft.operators.Digest]]. */
  def digest(v: SeqVarData, name: String): String = {
    val d = graft.operators.Digest.table(
      v.getData(name)
        .select(concat_ws(":", col("variant_id"),
          col("value").cast("string")).as("s")),
      col("s"))
    d.collect()(0).getAs[String]("digest")
  }

  /** seqSummary: per-chromosome variant counts + allele-number tabulation. */
  def summary(v: SeqVarData): DataFrame =
    v.variants.groupBy(col("chrom"), numAllele(col("allele")).as("n_allele"))
      .agg(count(lit(1)).as("n_variants"),
        min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"))
}
