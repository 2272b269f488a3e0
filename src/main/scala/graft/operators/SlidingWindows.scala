package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Genomic sliding windows — the reference's `seqUnitSlidingWindows`
  * (/root/reference/R/UnitList.R:121-175, C kernel
  * src/ReadByUnit.cpp:30-114): per chromosome, overlapping bp windows of
  * width `winSize` stepped by `winShift`, each holding the ids of the
  * variants it covers; optionally drop windows whose member set equals the
  * previous window's (`dup.rm`).
  *
  * Spark-first shape: instead of the reference's sorted cursor walk, each
  * variant *generates* the window-start keys it belongs to
  * (explode(sequence(...))) and a groupBy on (chrom, win_start) assembles
  * members — fully parallel, one shuffle, no ordering requirement on input.
  * Window membership: win_start = k*winShift covers positions
  * [win_start, win_start + winSize - 1]; floor-division keeps k exact for
  * negative numerators (truncating division would drop the first window).
  */
object SlidingWindows {

  /** One row per (chrom, win_start) with sorted member ids. `pos` must be
    * non-negative. Output: chrom, win_start, n_variants, members
    * (ARRAY of id), deduped consecutively when dupRm.
    *
    * `memberFlag`: when given, only flagged variants are counted/collected
    * — but windows are still generated from every variant. Evaluating the
    * flag in a projection before the explode (one codegen pass, CSE'd,
    * once per variant) instead of a separate Filter matters: predicate
    * pushdown would inline a heavy flag expression into the filter
    * condition multiple times. */
  def windows(
      variants: DataFrame, chrom: Column, pos: Column, id: Column,
      winSize: Long, winShift: Long, dupRm: Boolean = false,
      memberFlag: Option[Column] = None): DataFrame = {
    require(winSize > 0 && winShift > 0, "winSize/winShift must be positive")
    val kMin = greatest(lit(0L),
      floor((pos - winSize).cast("double") / winShift).cast("long") + 1L)
    val kMax = floor(pos.cast("double") / winShift).cast("long")
    // the flag gets a projection of its own BELOW the explode: a column
    // selected next to a generator is evaluated above it, once per
    // (variant, window) row instead of once per variant
    val exploded = variants.select(chrom.as("chrom"), id.as("__id"),
        memberFlag.getOrElse(lit(true)).as("__f"),
        kMin.as("__kMin"), kMax.as("__kMax"))
      .select(col("chrom"), col("__id"), col("__f"),
        explode(sequence(col("__kMin"), col("__kMax"))).as("__k"))
      .select(col("chrom"), (col("__k") * winShift).as("win_start"),
        col("__id"), col("__f"))
    val grouped = exploded.groupBy(col("chrom"), col("win_start"))
      .agg(sum(when(col("__f"), 1L).otherwise(0L)).as("n_variants"),
        sort_array(collect_list(when(col("__f"), col("__id"))))
          .as("members"))
    if (!dupRm) grouped
    else {
      // dup.rm: drop a window when its members equal the PREVIOUS
      // window's (reference kernel: old_i/old_i2 vs i/i2). A
      // lag().over(partitionBy(chrom)) caps parallelism at #chromosomes
      // (≤24 in a genome) — the one serialization in this operator — so
      // the previous window is fetched with an equi-self-join on
      // (chrom, win_start - winShift) instead, which shuffles on the
      // full composite key and scales with the data.
      //
      // Equivalence to compare-with-previous-EXISTING-window: members
      // are exactly the variants whose pos falls in the window interval,
      // so two windows with equal member sets have overlapping
      // intervals, and every window between them contains that overlap
      // — i.e. equal non-empty member sets can only occur in a gap-free
      // run of consecutive windows, where "previous existing" IS
      // win_start - winShift. (With a memberFlag, a flagged-empty window
      // that follows a generated-window gap is kept rather than compared
      // across the gap — windows the reference never generates.)
      val prev = grouped.select(col("chrom").as("__pc"),
        (col("win_start") + winShift).as("__pw"),
        col("members").as("__prev"))
      grouped.join(prev,
          col("chrom") === col("__pc") && col("win_start") === col("__pw"),
          "left")
        .filter(col("__prev").isNull || !(col("__prev") === col("members")))
        .select(grouped.columns.map(col): _*)
    }
  }
}
