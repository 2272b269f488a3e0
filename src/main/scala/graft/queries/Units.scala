package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.genetics._
import graft.genomics.SynthGeno
import graft.genomics.SynthGeno.withCte
import graft.operators.SlidingWindows

/** Genomic-window ("unit") operators (SURVEY.md §2.6) plus the digest and
  * summary jobs (§2.5, §2.1) over the deterministic SynthGeno variants.
  *
  * Scale notes: window assembly is one shuffle on (chrom, win_start) after a
  * bounded explode (each variant lands in ceil(size/shift) windows); the
  * digest is a per-group md5 of ordered members — at real scale the
  * hash-of-hashes split the reference uses (R/Summary.R:816) maps to a
  * two-level groupBy, which the spec exercises.
  */
object Units extends QueryModule {

  private val WIN_SIZE = 2000L
  private val WIN_SHIFT = 1000L

  private def withCtes(extra: String, body: String): String =
    s"WITH variants AS (${SynthGeno.sqlCte}),\n$extra\n$body"

  /** DuckDB window-membership CTE matching [[SlidingWindows.windows]]. */
  private def winCte(src: String): String =
    s"""ks AS (SELECT chrom, vid,
         unnest(range(
           greatest(0, CAST(floor((pos - $WIN_SIZE.0) / $WIN_SHIFT) AS BIGINT) + 1),
           CAST(floor(pos / $WIN_SHIFT.0) AS BIGINT) + 1)) AS k
       FROM $src),
      grouped AS (SELECT chrom, k * $WIN_SHIFT AS win_start,
         COUNT(*) AS n_variants,
         string_agg(vid, ',' ORDER BY vid) AS members
       FROM ks GROUP BY chrom, k)"""

  // --- seqUnitSlidingWindows incl. dup.rm (R/UnitList.R:121-175). ----------
  private val q25 = Q("q25_sliding_windows",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      SlidingWindows.windows(v, col("chrom"), col("pos"), col("vid"),
          WIN_SIZE, WIN_SHIFT, dupRm = true)
        .select(col("chrom"), col("win_start"), col("n_variants"),
          array_join(transform(col("members"), m => m.cast("string")), ",")
            .as("members"))
    },
    Some(withCtes(winCte("variants"),
      """SELECT chrom, win_start, n_variants, members FROM
        (SELECT *, LAG(members) OVER (PARTITION BY chrom ORDER BY win_start)
           AS prev FROM grouped)
      WHERE prev IS NULL OR prev <> members""")))

  // --- seqUnitFilterCond (R/UnitList.R:12-114): drop rare variants inside
  // units by allele-frequency, then drop units below a minimum size. --------
  private val q26 = Q("q26_unit_filter_cond",
    (s, dir) => {
      // af ∈ [0.2, 0.8] as exact-integer bounds (5*ac ⋛ called), evaluated
      // as a member flag inside the window operator's projection — a
      // pre-filter would get the genoStats expression inlined into the
      // pushed-down predicate several times.
      val st = genoStats(col("geno"), lit(0))
      val called = element_at(st, 2)
      val ac = element_at(st, 3)
      val flag = called > 0 && ac * 5 >= called && ac * 5 <= called * 4
      SlidingWindows.windows(SynthGeno.variants(s, dir),
          col("chrom"), col("pos"), col("vid"), WIN_SIZE, WIN_SHIFT,
          memberFlag = Some(flag))
        .filter(col("n_variants") >= 5)
        .select(col("chrom"), col("win_start"), col("n_variants"))
    },
    Some(withCtes(s"""common AS (SELECT * FROM variants
        WHERE CAST(len(list_filter(flatten(geno), a -> a = 0)) AS DOUBLE)
          / NULLIF(len(list_filter(flatten(geno), a -> a IS NOT NULL)), 0)
          BETWEEN 0.2 AND 0.8),
      ${winCte("common")}""",
      """SELECT chrom, win_start, n_variants FROM grouped
      WHERE n_variants >= 5""")))

  // --- seqDigest (R/Summary.R:781-820): order-insensitive content digest
  // per chromosome. Two-level split-then-hash-of-hashes (the reference's
  // own answer at scale, R/Summary.R:816): members bucket by a portable
  // md5-prefix hash, each bucket digests its sorted members (cells are
  // ~1/64th of a chromosome, never one giant string), and the chromosome
  // digest is the md5 of the bucket digests in bucket order. Shuffle
  // parallelism is #chrom × 64 instead of #chrom. ---------------------------
  private val q27 = Q("q27_digest",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      graft.operators.Digest.twoLevel(
        v.select(col("chrom"),
          concat_ws(":", col("vid"), col("pos"), col("nall")).as("s")),
        Seq(col("chrom")), col("s"))
    },
    Some(withCte(s"""SELECT chrom, CAST(SUM(bn) AS BIGINT) AS n,
      md5(string_agg(d1, ',' ORDER BY bucket)) AS digest
      FROM (
        SELECT chrom, bucket, COUNT(*) AS bn,
          md5(string_agg(s, ',' ORDER BY s)) AS d1
        FROM (
          SELECT chrom, vid || ':' || pos || ':' || nall AS s,
            (ascii(substring(md5(vid || ':' || pos || ':' || nall), 1, 1))
              * 128 +
             ascii(substring(md5(vid || ':' || pos || ':' || nall), 2, 1)))
              % 64 AS bucket
          FROM variants)
        GROUP BY chrom, bucket)
      GROUP BY chrom""")))

  // --- seqSummary tabulations (R/Summary.R:233-427, 652-775): per-(chrom,
  // n-allele) variant counts and position stats. ----------------------------
  private val q28 = Q("q28_summary_tab",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      v.groupBy(col("chrom"), col("nall"))
        .agg(count(lit(1)).as("n_variants"),
          min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"),
          countDistinct(col("pos")).as("n_pos"))
    },
    Some(withCte("""SELECT chrom, nall, COUNT(*) AS n_variants,
      MIN(pos) AS min_pos, MAX(pos) AS max_pos,
      COUNT(DISTINCT pos) AS n_pos
      FROM variants GROUP BY chrom, nall""")))

  // $chrom_pos2 exact semantics (src/GetData.cpp:710-748): "chrom:pos" for
  // the first occurrence, "chrom:pos_k" for the k-th duplicate — the dup
  // counter is a row_number over the key in variant order.
  private val q48 = Q("q48_chrom_pos2",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = SynthGeno.variants(s, dir)
      val w = Window.partitionBy(col("chrom"), col("pos")).orderBy(col("vid"))
      v.withColumn("rn", row_number().over(w))
        .select(col("vid"),
          concat(col("chrom"), lit(":"), col("pos"),
            when(col("rn") > 1, concat(lit("_"), col("rn") - 1))
              .otherwise(lit(""))).as("chrom_pos2"))
    },
    Some(withCte("""SELECT vid,
      chrom || ':' || pos ||
        (CASE WHEN rn > 1 THEN '_' || (rn - 1) ELSE '' END) AS chrom_pos2
      FROM (SELECT vid, chrom, pos,
              ROW_NUMBER() OVER (PARTITION BY chrom, pos ORDER BY vid) AS rn
            FROM variants)""")))

  // --- per-window per-sample rare-variant burden (the SKAT/burden-test
  // data layout — the heaviest seqUnitApply workload, R/UnitList.R:290-443,
  // combined with the by.sample margin): for every sliding window, each
  // sample's burden = Σ over the window's RARE members (MINOR-allele
  // frequency ≤ 0.2 as the exact-integer flag min(ac, called−ac)·5 ≤
  // called — burden tests weight the rare allele, which here can be
  // either collapse side) of its minor-allele dosage, missing imputed
  // to 0 and counted. Shape: the same window-key explode as q25
  // (bounded: ceil(size/shift) windows per variant) × a posexplode of the
  // codegen'd dosage vector; conditional aggregates keep the rare flag in
  // the pre-explode projection (q26's pushdown lesson), and the groupBy's
  // map-side partial agg collapses the (window, sample) rows before the
  // one shuffle. At biobank width the sample explode becomes a blocked
  // matrix fold, but the plan skeleton — explode, partial agg, one
  // exchange — is unchanged. ----------------------------------------------
  private val q110 = Q("q110_burden",
    (s, dir) => {
      val v = SynthGeno.variants(s, dir)
      val st = genoStats(col("geno"), lit(0))
      val called = element_at(st, 2)
      val acRef = element_at(st, 3)
      val acAlt = called - acRef
      val rare = called > 0 && least(acAlt, acRef) * 5 <= called
      val minorIsAlt = acAlt * 2 <= called
      val kMin = greatest(lit(0L),
        floor((col("pos") - WIN_SIZE).cast("double") / WIN_SHIFT)
          .cast("long") + 1L)
      val kMax = floor(col("pos").cast("double") / WIN_SHIFT).cast("long")
      // per-sample sums are statically-unrolled aggregate COLUMNS over
      // the window-key rows (8 samples × 2 counters), unpivoted only
      // after the aggregation — the posexplode-then-group variant
      // shipped 8× the rows through the Generate and cost ~5× as much.
      // (At biobank width the unroll flips back to a posexplode or the
      // packed-BINARY kernels: the plan must stay O(1) in n_samples.)
      // the kernels get a projection of their own below the explode, so
      // they run once per variant, not once per (variant, window) row
      val rows = v.select(col("chrom"), rare.as("rare"),
          minorIsAlt.as("mia"), dosageAlt(col("geno")).as("d"),
          kMin.as("kMin"), kMax.as("kMax"))
        .select(col("chrom"), col("rare"), col("mia"), col("d"),
          explode(sequence(col("kMin"), col("kMax"))).as("k"))
      def dosS(s: Int) = when(col("mia"), col("d")(s))
        .otherwise(lit(SynthGeno.ploidy.toLong) - col("d")(s))
      val aggs =
        sum(when(col("rare"), 1L).otherwise(0L)).as("n_members") +:
        (0 until SynthGeno.nSamples).flatMap(s => Seq(
          sum(when(col("rare"), coalesce(dosS(s), lit(0L)))
            .otherwise(0L)).as(s"__b$s"),
          sum(when(col("rare") && dosS(s).isNull, 1L).otherwise(0L))
            .as(s"__m$s")))
      val perWin = rows
        .groupBy(col("chrom"), (col("k") * WIN_SHIFT).as("win_start"))
        .agg(aggs.head, aggs.tail: _*)
        .filter(col("n_members") > 0)
      perWin.select(col("chrom"), col("win_start"), col("n_members"),
          posexplode(array((0 until SynthGeno.nSamples).map(s =>
            struct(lit(s).as("s"), col(s"__b$s").as("b"),
              col(s"__m$s").as("m"))): _*)).as(Seq("__p", "c")))
        .select(col("chrom"), col("win_start"), col("c.s").as("s"),
          col("n_members"), col("c.b").as("burden"), col("c.m").as("n_miss"))
    },
    Some(withCte(s"""SELECT chrom, win_start, s, n_members, burden, n_miss
      FROM (SELECT chrom, win_start, CAST(ss AS INT) AS s,
          CAST(SUM(CASE WHEN rare THEN 1 ELSE 0 END) AS BIGINT)
            AS n_members,
          CAST(SUM(CASE WHEN rare THEN COALESCE(dos, 0) ELSE 0 END)
            AS BIGINT) AS burden,
          CAST(SUM(CASE WHEN rare AND dos IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_miss
        FROM (SELECT chrom, k * $WIN_SHIFT AS win_start, rare,
            sq.ss, d[sq.ss + 1] AS dos
          FROM (SELECT chrom, rare, d,
              unnest(range(
                greatest(0, CAST(floor((pos - $WIN_SIZE.0) / $WIN_SHIFT)
                  AS BIGINT) + 1),
                CAST(floor(pos / $WIN_SHIFT.0) AS BIGINT) + 1)) AS k
            FROM (SELECT chrom, pos,
                CASE WHEN ac_alt * 2 <= called THEN da
                     ELSE list_transform(da, x -> ${SynthGeno.ploidy} - x)
                END AS d,
                called > 0 AND least(ac_alt, called - ac_alt) * 5 <= called
                  AS rare
              FROM (SELECT chrom, pos,
                  list_transform(geno, sa ->
                    CASE WHEN len(list_filter(sa, a -> a IS NULL)) > 0
                         THEN NULL
                         ELSE len(list_filter(sa, a -> a <> 0)) END) AS da,
                  len(list_filter(flatten(geno), a -> a IS NOT NULL))
                    AS called,
                  len(list_filter(flatten(geno),
                    a -> a IS NOT NULL AND a <> 0)) AS ac_alt
                FROM variants))),
            (SELECT unnest(range(0, 8)) AS ss) sq)
        GROUP BY 1, 2, 3)
      WHERE n_members > 0""")))

  override def queries: Seq[Q] = Seq(q25, q26, q27, q28, q48, q110)
}
