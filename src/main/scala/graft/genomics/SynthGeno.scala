package graft.genomics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Deterministic synthetic variants table derived from `lineitem`, used to
  * validate the genetics kernels against the DuckDB oracle: both engines
  * build the identical genotype cube from pure integer arithmetic, so every
  * downstream aggregate is exactly comparable.
  *
  * Shape mirrors SURVEY.md §1.5: one row per variant with
  * `geno ARRAY<ARRAY<LONG>>` (8 samples × ploidy 2; null allele = missing)
  * and a per-sample `phased ARRAY<BOOLEAN>`.
  */
object SynthGeno {

  val nSamples = 8
  val ploidy = 2

  private def h1(s: Int): Column =
    (col("l_partkey") * 31 + col("l_suppkey") * 7 + lit(s * 13)) % 29
  private def h2(s: Int): Column =
    (col("l_partkey") * 17 + col("l_suppkey") * 11 + lit(s * 19)) % 29
  private def allele(h: Column): Column =
    when(h < 2, lit(null)).otherwise(h % col("nall"))

  /** variants(vid, chrom, pos, nall, geno, phased) from `dir`/lineitem.
    * The cube is built from statically-unrolled `array(...)` expressions
    * (not `transform(sequence(...))`) so construction stays inside
    * whole-stage codegen — HOF lambdas are interpreted and dominated every
    * genomics bench query before the unroll.
    *
    * The testdata tables are single-file single-row-group parquet, so the
    * scan is ONE task no matter what maxPartitionBytes says — the
    * round-robin repartition fans the (tiny) key columns out so the
    * compute-heavy construction pipeline uses every core. A real
    * multi-file/multi-row-group dataset would not need it. */
  def variants(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .withColumn("nall", lit(2) + col("l_partkey") % 3)
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("vid"),
        concat(lit("c"), (col("l_partkey") % 5).cast("string")).as("chrom"),
        (col("l_orderkey") % 100000).as("pos"),
        col("nall"),
        array((0 until nSamples).map(s =>
          array(allele(h1(s)), allele(h2(s)))): _*).as("geno"),
        array((0 until nSamples).map(s =>
          (h1(s) + h2(s)) % 2 === 0): _*).as("phased"))

  /** [[variants]] projected to the collapsed ALT-dosage table
    * (vid, chrom, pos, d) and hash-repartitioned by vid, so the
    * expression-generated cube + dosage chain is evaluated ONCE into
    * real shuffle rows. A query whose plan consumes `d` from several
    * operators below its first exchange (multi-level projections, a
    * window sort) otherwise re-evaluates the whole cube chain per
    * consuming operator — measured 3-5× the single-pass cost at sf0.1
    * (q197: 4.8 s → 2.2 s with this barrier). The extra exchange is
    * narrow (~9 longs/row) and keyed, so it also seeds even downstream
    * distribution; every consumer is key-based, so the row-order change
    * cannot affect results. Single-pass aggregate queries should keep
    * riding [[variants]] directly — for them the barrier is pure cost. */
  def dosageRows(spark: SparkSession, dir: String): DataFrame =
    variants(spark, dir)
      .select(col("vid"), col("chrom"), col("pos"),
        graft.functions.genetics.dosageAlt(col("geno")).as("d"))
      .repartition(col("vid"))

  private def h1b(s: Int): Column =
    (col("l_partkey") * 37 + col("l_suppkey") * 5 + lit(s * 23)) % 29
  private def h2b(s: Int): Column =
    (col("l_partkey") * 23 + col("l_suppkey") * 13 + lit(s * 17)) % 29

  /** [[variants]] plus a second, independently-hashed callset `geno2`
    * over the SAME variants — the "re-called twin" for duplicate-sample
    * concordance QC. Both cubes come from ONE lineitem scan so no join
    * or vid matching is ever needed (vids need not be unique). */
  def variantsDup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .withColumn("nall", lit(2) + col("l_partkey") % 3)
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("vid"),
        concat(lit("c"), (col("l_partkey") % 5).cast("string")).as("chrom"),
        (col("l_orderkey") % 100000).as("pos"),
        col("nall"),
        array((0 until nSamples).map(s =>
          array(allele(h1(s)), allele(h2(s)))): _*).as("geno"),
        array((0 until nSamples).map(s =>
          array(allele(h1b(s)), allele(h2b(s)))): _*).as("geno2"))

  /** (chrom, a1, a2): the twin callsets' per-variant ALT-allele counts
    * computed STRAIGHT from the hash expressions — one flat projection
    * of integer arithmetic. Consuming [[variantsDup]]'s `geno`/`geno2`
    * columns for this materializes 18 small arrays per row (the two
    * nested cubes) only to read every element back with element_at —
    * CollapseProject keeps the construction in its own Project level
    * because the consumer references the alias 16×, so the extraction
    * can never simplify away (round-12 q191 plan evidence: two stacked
    * Projects, 2.7 s; this form 1 Project). Counts are identical by
    * construction: allele(h) = null when h < 2 else h % nall, and the
    * count tallies alleles > 0. */
  def dupAltCounts(spark: SparkSession, dir: String): DataFrame = {
    def cnt(h: Column): Column =
      when(h >= 2 && (h % col("nall")) > 0, 1L).otherwise(0L)
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .withColumn("nall", lit(2) + col("l_partkey") % 3)
      .select(
        concat(lit("c"), (col("l_partkey") % 5).cast("string")).as("chrom"),
        (0 until nSamples).flatMap(s => Seq(cnt(h1(s)), cnt(h2(s))))
          .reduce(_ + _).as("a1"),
        (0 until nSamples).flatMap(s => Seq(cnt(h1b(s)), cnt(h2b(s))))
          .reduce(_ + _).as("a2"))
  }

  /** (vid, ca, cb): the twin callsets' per-sample PACKED genotype codes
    * — for each sample, −1 when either allele is missing, else
    * min(alleles)·4 + max(alleles) (alleles are 0‥3, so the code is
    * injective on the UNORDERED pair). Same direct-from-hash rationale
    * as [[dupAltCounts]]: the S×S concordance fan only ever compares
    * unordered pairs, so one flat array<long> per callset replaces the
    * nested cube (sample-swap scan: 4 nested element_at + 6 null/order
    * ops per pair row become 2 flat element_at + 2 compares). */
  def dupPackedCodes(spark: SparkSession, dir: String): DataFrame = {
    def code(ha: Column, hb: Column): Column =
      when(ha >= 2 && hb >= 2,
        least(ha % col("nall"), hb % col("nall")) * 4L
          + greatest(ha % col("nall"), hb % col("nall")))
        .otherwise(-1L)
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .withColumn("nall", lit(2) + col("l_partkey") % 3)
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("vid"),
        array((0 until nSamples).map(s => code(h1(s), h2(s))): _*)
          .as("ca"),
        array((0 until nSamples).map(s => code(h1b(s), h2b(s))): _*)
          .as("cb"))
  }

  /** DuckDB twin of [[variantsDup]]. */
  val sqlCteDup: String =
    """SELECT l_orderkey * 10 + l_linenumber AS vid,
      'c' || CAST(l_partkey % 5 AS VARCHAR) AS chrom,
      l_orderkey % 100000 AS pos,
      2 + l_partkey % 3 AS nall,
      list_transform(range(0, 8), s -> [
        CASE WHEN (l_partkey*31 + l_suppkey*7 + s*13) % 29 < 2 THEN NULL
             ELSE ((l_partkey*31 + l_suppkey*7 + s*13) % 29)
                  % (2 + l_partkey % 3) END,
        CASE WHEN (l_partkey*17 + l_suppkey*11 + s*19) % 29 < 2 THEN NULL
             ELSE ((l_partkey*17 + l_suppkey*11 + s*19) % 29)
                  % (2 + l_partkey % 3) END]) AS geno,
      list_transform(range(0, 8), s -> [
        CASE WHEN (l_partkey*37 + l_suppkey*5 + s*23) % 29 < 2 THEN NULL
             ELSE ((l_partkey*37 + l_suppkey*5 + s*23) % 29)
                  % (2 + l_partkey % 3) END,
        CASE WHEN (l_partkey*23 + l_suppkey*13 + s*17) % 29 < 2 THEN NULL
             ELSE ((l_partkey*23 + l_suppkey*13 + s*17) % 29)
                  % (2 + l_partkey % 3) END]) AS geno2
    FROM lineitem"""

  /** DuckDB CTE producing the identical table from `lineitem` — prepend to
    * oracle SQL as `WITH variants AS (<sqlCte>) SELECT ...`. */
  val sqlCte: String =
    """SELECT l_orderkey * 10 + l_linenumber AS vid,
      'c' || CAST(l_partkey % 5 AS VARCHAR) AS chrom,
      l_orderkey % 100000 AS pos,
      2 + l_partkey % 3 AS nall,
      list_transform(range(0, 8), s -> [
        CASE WHEN (l_partkey*31 + l_suppkey*7 + s*13) % 29 < 2 THEN NULL
             ELSE ((l_partkey*31 + l_suppkey*7 + s*13) % 29)
                  % (2 + l_partkey % 3) END,
        CASE WHEN (l_partkey*17 + l_suppkey*11 + s*19) % 29 < 2 THEN NULL
             ELSE ((l_partkey*17 + l_suppkey*11 + s*19) % 29)
                  % (2 + l_partkey % 3) END]) AS geno,
      list_transform(range(0, 8), s ->
        ((l_partkey*31 + l_suppkey*7 + s*13) % 29
         + (l_partkey*17 + l_suppkey*11 + s*19) % 29) % 2 = 0) AS phased
    FROM lineitem"""

  /** Oracle SQL `body` behind `WITH variants AS (<sqlCte>)`. */
  def withCte(body: String): String = s"WITH variants AS ($sqlCte)\n$body"
}
