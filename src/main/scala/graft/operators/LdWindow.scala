package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.SharedStages
import graft.functions.vectorfns.ldPairStats

/** Windowed linkage-disequilibrium r² (the snpgdsLDMat shape of
  * SNPRelate over a SeqArray handle; reference link layer
  * /root/reference/src/LinkSNPRelate.cpp:1-410) as a BANDED self-join:
  * each variant lands in bucket `pos div window`, the left side emits
  * (bucket, bucket+1) keys, and pairs only form inside a (chrom,
  * bucket) equi-join cell — `pos_b − pos_a ≤ window` implies the
  * buckets differ by at most 1, so no out-of-window pair is ever
  * enumerated and the shuffle is linear in variants (2 rows per
  * variant), never O(pairs-outside-window).
  *
  * Sums come from the one-pass codegen kernel
  * [[graft.functions.expressions.LdPairStats]] (pairwise-complete
  * observations); r² = (n·Sxy − Sx·Sy)² / (varX·varY) with integer
  * numerators squared in doubles — exactly replayable by any engine.
  */
object LdWindow {

  /** `variants` must carry `vid` (LONG), `chrom`, `pos` (LONG) and `d`
    * (ARRAY<BIGINT>, per-sample dosages, null = missing). Returns one
    * row per in-window ordered pair: chrom, vid_a, vid_b, dist, n, r2
    * (null when either variant is monomorphic over the shared
    * samples), plus `<c>_a`/`<c>_b` for every column name in `carry` —
    * values ride the pair join itself, so they stay row-accurate even
    * when `vid` is not unique (a re-join on vid after the fact would
    * cross-match duplicates). */
  /** Banded in-window pairs with the raw pairwise-complete sums
    * (n, sx, sy, sxy, sxx, syy) — the shared substrate for r² and for
    * haplotype-count statistics like D′. Same contract as [[r2]].
    *
    * A [[graft.core.SharedStages]] stage: several LD consumers (r², the
    * partner profile, pruning) enumerate the SAME (input, window,
    * carry) pair set, and the pair-stats kernel is the expensive stage
    * in all of them. The round-8 board held 12 distinct keys live, so
    * the stage holds 24. */
  def stats(variants: DataFrame, window: Long,
      carry: Seq[String] = Nil): DataFrame =
    SharedStages.ld.get((
      variants.queryExecution.analyzed.canonicalized, window,
      carry.toList)) {
      statsPlan(variants, window, carry)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** (hits, misses) of the shared pair-stats stage. */
  def sharedTelemetry: (Long, Long) = SharedStages.ld.telemetry

  private def statsPlan(variants: DataFrame, window: Long,
      carry: Seq[String]): DataFrame = {
    require(window > 0, s"window must be positive; got $window")
    val v = variants.withColumn("bucket", expr(s"pos div $window"))
    val a = v.select(Seq(col("chrom"), col("vid").as("vid_a"),
      col("pos").as("pos_a"), col("d").as("da"),
      explode(array(col("bucket"), col("bucket") + 1)).as("bkey"))
      ++ carry.map(c => col(c).as(s"${c}_a")): _*)
    val b = v.select(Seq(col("chrom"), col("vid").as("vid_b"),
      col("pos").as("pos_b"), col("d").as("db"),
      col("bucket").as("bkey"))
      ++ carry.map(c => col(c).as(s"${c}_b")): _*)
    val pairs = a.join(b, Seq("chrom", "bkey"))
      .filter(
        (col("pos_a") < col("pos_b") ||
          (col("pos_a") === col("pos_b") && col("vid_a") < col("vid_b"))) &&
        col("pos_b") - col("pos_a") <= window)
    val st = ldPairStats(col("da"), col("db"))
    val carried = carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b")))
    pairs.select(Seq(col("chrom"), col("vid_a"), col("vid_b"),
        (col("pos_b") - col("pos_a")).as("dist"), st.as("st"))
        ++ carried: _*)
      .select(Seq(col("chrom"), col("vid_a"), col("vid_b"), col("dist"),
        element_at(col("st"), 1).as("n"),
        element_at(col("st"), 2).as("sx"),
        element_at(col("st"), 3).as("sy"),
        element_at(col("st"), 4).as("sxy"),
        element_at(col("st"), 5).as("sxx"),
        element_at(col("st"), 6).as("syy")) ++ carried: _*)
  }

  /** LD decay profile: per (chrom, distance-bin), the pair count and
    * how many pairs cross each r² threshold — the curve every LD-decay
    * plot shows. Thresholds are RATIONALS (num, den): r² ≥ num/den
    * evaluates as cov²·den ≥ var_x·var_y·num on exact BIGINTs (a mean
    * of per-pair r² ratios would need per-pair denominators and an
    * order-dependent double sum; the crossing fractions are what the
    * plot reads anyway). Rides the SAME shared [[stats]] stage as
    * r²/partners/pruning, then one (chrom, bin) aggregate over
    * partially-combined counters — #bins rows cross the wire. */
  def decayProfile(variants: DataFrame, window: Long, binWidth: Long,
      thresholds: Seq[(Int, Int)] = Seq((1, 5), (1, 2), (4, 5)))
      : DataFrame = {
    require(binWidth > 0, s"binWidth must be positive; got $binWidth")
    require(thresholds.forall { case (n, d) => n >= 0 && d > 0 },
      "thresholds must be non-negative rationals")
    val withVar = stats(variants, window)
      .withColumn("cov_n", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("var_x", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("var_y", col("n") * col("syy") - col("sy") * col("sy"))
    val defined = col("var_x") > 0 && col("var_y") > 0
    val thrCols = thresholds.map { case (num, den) =>
      sum(when(defined && col("cov_n") * col("cov_n") * den
          >= col("var_x") * col("var_y") * num, 1L).otherwise(0L))
        .as(s"ge_${num}_$den")
    }
    val aggs = Seq(count(lit(1)).as("n_pairs"),
      sum(when(defined, 1L).otherwise(0L)).as("n_def")) ++ thrCols
    withVar.withColumn("bin", expr(s"dist div $binWidth").cast("long"))
      .groupBy(col("chrom"), col("bin"))
      .agg(aggs.head, aggs.tail: _*)
  }

  def r2(variants: DataFrame, window: Long,
      carry: Seq[String] = Nil): DataFrame = {
    val carried = carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b")))
    stats(variants, window, carry)
      .withColumn("cov_n", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("var_x", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("var_y", col("n") * col("syy") - col("sy") * col("sy"))
      .select(Seq(col("chrom"), col("vid_a"), col("vid_b"), col("dist"),
        col("n"),
        when(col("var_x") > 0 && col("var_y") > 0,
          (col("cov_n").cast("double") * col("cov_n").cast("double"))
            / (col("var_x").cast("double") * col("var_y").cast("double")))
          .as("r2")) ++ carried: _*)
  }

  /** Per-variant LD SCORE (the LDSC regression input — Bulik-Sullivan
    * et al. 2015): 1 + Σ r² over every window pair the variant joins,
    * with each pair's r² quantized to EXACT parts-per-million BIGINTs
    * ((cov²·10⁶) div (var_x·var_y)) so the per-variant sum is
    * order-independent (the no-double-sums rule; quantization error ≤
    * #pairs · 1e-6, reported alongside the raw integer). Variants with
    * no defined window pair are absent — their LD score is exactly 1.
    * Rides the SHARED banded [[stats]] stage; each pair contributes to
    * BOTH endpoints (one unionByName, one variant-keyed aggregate).
    * The cross-multiplied ppm term inherits [[decayProfile]]'s integer
    * range bound — cohort-scale callers rescale dosage sums first. */
  def ldScore(variants: DataFrame, window: Long): DataFrame = {
    val st = stats(variants, window)
      .withColumn("cov_n", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("var_x", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("var_y", col("n") * col("syy") - col("sy") * col("sy"))
      .filter(col("var_x") > 0 && col("var_y") > 0)
      .withColumn("r2ppm",
        expr("(cov_n * cov_n * 1000000L) div (var_x * var_y)"))
    st.select(col("chrom"), col("vid_a").as("vid"), col("r2ppm"))
      .unionByName(
        st.select(col("chrom"), col("vid_b").as("vid"), col("r2ppm")))
      .groupBy(col("chrom"), col("vid"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("r2ppm")).as("sum_r2_ppm"))
      .withColumn("ld_score",
        lit(1.0) + col("sum_r2_ppm").cast("double") / lit(1000000.0))
  }
}
