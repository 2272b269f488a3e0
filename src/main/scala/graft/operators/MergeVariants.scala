package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Allele-set union + genotype index remap — the core of the reference's
  * `seqMerge` variant-union mode (/root/reference/R/UtilsMerge.R:258-1006;
  * C remap kernels src/FileMerge.cpp:56-458, esp. SEQ_MergeGeno's per-file
  * allele-index translation at :110-229).
  *
  * When two files carry the same variant with differently-ordered (or
  * partially overlapping) ALT lists, the merged file's allele list is the
  * left list followed by right-only alleles, and every genotype allele
  * index from either file must be re-coded into the merged list. These are
  * pure per-row expressions — the merge itself is an ordinary outer join,
  * so Catalyst plans/shuffles it like any relational join.
  */
object MergeVariants {
  import org.apache.spark.sql.graft.Bridge
  import graft.functions.expressions.{AlleleUnionExpr, RemapGenoExpr}

  /** Union of two "REF,ALT1,…" strings: left order preserved, right-only
    * alleles appended in right order. Assumes equal REF (the reference
    * requires it — merge keys include the allele string otherwise).
    * Codegen expression; the declarative form is `alleleUnionHof` in
    * src/test/scala/graft/HofTwins.scala. */
  def alleleUnion(a: Column, b: Column): Column =
    Bridge.column(AlleleUnionExpr(Bridge.expression(a), Bridge.expression(b)))

  /** Re-code a genotype cube (ARRAY<ARRAY<allele idx>>) from `oldAlleles`
    * ("REF,ALT…" of its source file) into `newAlleles` (merged). Null
    * allele (missing call) stays null; 0-based indices. Codegen expression;
    * the declarative form is `remapGenoHof` in
    * src/test/scala/graft/HofTwins.scala. */
  def remapGeno(geno: Column, oldAlleles: Column, newAlleles: Column): Column =
    Bridge.column(RemapGenoExpr(Bridge.expression(geno),
      Bridge.expression(oldAlleles), Bridge.expression(newAlleles)))

  /** N-WAY variant-union merge in ONE plan (the reference merges N
    * files in one `seqMerge` call, `R/UtilsMerge.R:258-1006`, with the
    * per-file allele-index translation of `src/FileMerge.cpp:110-229`;
    * iterating the pairwise expressions re-shuffles per step — this is
    * the scale shape): every input is tagged with its file ordinal and
    * unioned, ONE groupBy(vid) collects the per-file payloads, the
    * merged allele list folds over the files in ordinal order with the
    * same left-preserving union rule as [[alleleUnion]] (an
    * `aggregate` HOF over the sorted struct array — file count is a
    * plan constant, data never widens it), and the per-file genotype
    * remap happens after an explode back to (vid, file) rows. ONE
    * shuffle total regardless of N; no join back (the merged list
    * travels with the group).
    *
    * Inputs must carry (vid, alleles "REF,ALT,…", geno
    * ARRAY<ARRAY<LONG>>, phased ARRAY<BOOLEAN>); a vid absent from a
    * file simply contributes no row for that file. Output: one row per
    * (vid, file) present, with the MERGED `alleles` and the remapped
    * `geno` — bit-identical to folding the pairwise
    * [[alleleUnion]]/[[remapGeno]] over the files (MergeSpec pins
    * N = 3 against the iterated result). */
  def mergeN(files: Seq[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    require(files.size >= 2, s"mergeN needs >= 2 files; got ${files.size}")
    val tagged = files.zipWithIndex.map { case (df, i) =>
      df.select(col("vid"), lit(i).as("file"), col("alleles"),
        col("geno"), col("phased"))
    }.reduce(_ unionByName _)
    val grouped = tagged.groupBy(col("vid"))
      .agg(array_sort(collect_list(struct(col("file"), col("alleles"),
        col("geno"), col("phased")))).as("fs"))
    val seed = split(element_at(col("fs"), 1).getField("alleles"), ",")
    // fold over every remaining group entry (size-driven, not
    // files.size-driven: an input violating vid-uniqueness within a
    // file still merges every allele list it contributed rather than
    // silently dropping the tail and remapping to -1)
    val folded = aggregate(
      slice(col("fs"), lit(2), greatest(size(col("fs")) - 1, lit(0))),
      seed,
      (acc, f) => concat(acc,
        filter(split(f.getField("alleles"), ","),
          x => !array_contains(acc, x))))
    grouped
      .withColumn("__merged", array_join(folded, ","))
      .select(col("vid"), col("__merged"), explode(col("fs")).as("f"))
      .select(col("vid"), col("f.file").as("file"),
        col("__merged").as("alleles"),
        remapGeno(col("f.geno"), col("f.alleles"), col("__merged"))
          .as("geno"),
        col("f.phased").as("phased"))
  }

  /** N-WAY sample-union merge in ONE plan (the reference's other
    * `seqMerge` mode, `R/UtilsMerge.R:455-571`: same variant space,
    * DISJOINT sample sets — the merged file concatenates the sample
    * axis in file order, all-missing fill where a file lacks the
    * variant). Same single-exchange shape as [[mergeN]]: union + one
    * groupBy(vid); the per-file slot lookup and the missing-file fill
    * are statically unrolled over the (plan-constant) file list, so
    * the concat is a pure projection above the group. `samplesPerFile`
    * fixes each file's sample count — required to fill a missing
    * file's slot with the right number of missing calls.
    *
    * Inputs carry (vid, geno ARRAY<ARRAY<LONG>>, phased
    * ARRAY<BOOLEAN>) and must be vid-UNIQUE per file (the reference's
    * contract too — duplicate vids within one file would make the
    * slot lookup pick an arbitrary copy); output one row per vid
    * present in ANY file with the concatenated `geno`/`phased`. */
  def mergeNSamples(files: Seq[org.apache.spark.sql.DataFrame],
      samplesPerFile: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(files.size >= 2 && files.size == samplesPerFile.size,
      s"need >= 2 files with matching sample counts; got " +
        s"${files.size} files, ${samplesPerFile.size} counts")
    val tagged = files.zipWithIndex.map { case (df, i) =>
      df.select(col("vid"), lit(i).as("file"), col("geno"),
        col("phased"))
    }.reduce(_ unionByName _)
    val grouped = tagged.groupBy(col("vid"))
      .agg(collect_list(struct(col("file"), col("geno"),
        col("phased"))).as("fs"))
    // try_element_at: a vid absent from file i has an EMPTY filter
    // result, which must read as null (element_at throws under ANSI)
    def slot(i: Int) =
      try_element_at(filter(col("fs"), f => f.getField("file") === i),
        lit(1))
    def nullCalls(k: Int) = array(Seq.fill(k)(
      array(lit(null).cast("long"), lit(null).cast("long"))): _*)
    def noPhase(k: Int) = array(Seq.fill(k)(lit(false)): _*)
    val geno = concat(files.indices.map(i =>
      coalesce(slot(i).getField("geno"),
        nullCalls(samplesPerFile(i)))): _*)
    val phased = concat(files.indices.map(i =>
      coalesce(slot(i).getField("phased"),
        noPhase(samplesPerFile(i)))): _*)
    grouped.select(col("vid"), geno.as("geno"), phased.as("phased"))
  }
}
