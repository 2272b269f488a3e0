package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SharedStages

/** Distributed suffix array over a tokenized corpus by PREFIX DOUBLING
  * (Manber–Myers 1990 lifted onto DataFrames) — the index structure
  * exact-substring dedup literature builds on (Lee et al. 2022 §3 uses
  * a suffix array where this engine's span dedup uses span keys; this
  * operator supplies the real thing for the queries that need ordered
  * suffixes, e.g. longest-repeated-substring audits).
  *
  * Positions are (doc_id, off) pairs — suffixes never cross a document
  * boundary, and a position past its document's end compares BELOW any
  * token (rank sentinel 0), the standard shorter-suffix-first rule.
  * Ranks double per round: rank_{2k}(p) = dense-rank of
  * (rank_k(p), rank_k(p+k) or 0), so after ⌈log₂ CAP⌉ rounds two
  * positions share a rank iff their first CAP tokens agree; the final
  * suffix index breaks residual ties by (doc_id, off) for determinism.
  *
  * Scale shape: the only global-order step is the dense rank itself,
  * computed WITHOUT a single-partition window by the range-partition
  * trick: distinct keys → `repartitionByRange` → partition-local
  * row_number + a driver-side prefix over the per-partition counts
  * (#partitions rows — the two-level-cumsum discipline at the sort
  * layer; the sampled range bounds affect only the split points, never
  * the resulting rank values). Every other step is a (doc_id, off)
  * equi-join. 5 fixed rounds (CAP = 32) keep the plan replayable by an
  * unrolled SQL oracle.
  */
object SuffixArray {

  val Cap = 32

  /** Dense rank (1-based) of the distinct `keys` combinations in their
    * ascending order, appended to `df` as `out` — ONE exchange total,
    * no single-partition step: the table is range-partitioned on the
    * keys (a range partition is a function of the key, so equal keys
    * always colocate), each partition dense-ranks locally, and the
    * global rank is the local rank plus a per-partition offset (the
    * count of distinct keys in earlier partitions) attached via a
    * BROADCAST JOIN on `__pid` — the `numberVariants` pattern
    * (api/SeqArray.scala), NEVER an O(P)-deep when-chain: P is the
    * shuffle partition count (thousands on a real cluster) and linear
    * expression trees of that depth blow the analyzer/codegen stack
    * (SCALE.md "Cohort-width expression trees"). Earlier shapes paid
    * 4 exchanges here (distinct hash, range, window sort, hash-join
    * back onto the fact table) with the same skew exposure. */
  def denseRank(df: DataFrame, keys: Seq[String], out: String)
      : DataFrame = denseRankCounted(df, keys, out)._1

  /** [[denseRank]] plus the number of distinct key combinations —
    * already on the driver as the offset-table total, so the doubling
    * loop's all-ranks-distinct early-exit test costs no extra job. */
  private[graft] def denseRankCounted(df: DataFrame, keys: Seq[String],
      out: String): (DataFrame, Long) = {
    // materialized: the offsets job and the ranking job MUST read the
    // same physical partitioning (the offsets are per-partition-id) —
    // recomputing the range exchange per consumer would also recompute
    // its boundary sample, coupling correctness to two jobs making
    // identical planning decisions; one eager checkpoint removes both
    // the risk and the duplicate work. Cluster: swap localCheckpoint
    // for a reliable checkpoint dir (SCALE.md).
    val part = df
      .repartitionByRange(keys.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .transform(graft.core.Checkpoints.truncate[org.apache.spark.sql.Row])
    // distinct count over a STRUCT of the keys, not countDistinct(keys):
    // count(distinct a, b) skips tuples with any NULL while dense_rank
    // ranks nulls first, so with null keys the per-partition offsets
    // would undercount and the global ranks collide across partitions;
    // struct(...) is itself never null, so null-keyed tuples count
    val counts = part.groupBy(col("__pid"))
      .agg(countDistinct(struct(keys.map(col): _*)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2).zip(counts)
      .map { case (off, (pid, _)) => pid -> off }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("__pid", "__off"))
    val wLocal = Window.partitionBy(col("__pid"))
      .orderBy(keys.map(col): _*)
    val ranked = part
      .withColumn("__r", dense_rank().over(wLocal).cast("long"))
      .join(offDf, "__pid")
      .withColumn(out, col("__off") + col("__r"))
      .drop("__pid", "__r", "__off")
    (ranked, counts.map(_._2).sum)
  }

  /** Suffix-array table for a (doc_id, text) corpus: one row per token
    * position with `sa` (the 1-based suffix index in lexicographic
    * order of the ≤ `cap`-token suffixes, ties by (doc_id, off)),
    * the equivalence `rank`, and the position's (doc_id, off).
    * `cap` must be a power of two so the doubling rounds land exactly
    * on it (round shifts 1,2,…,cap/2 ⇒ ranks distinguish the first
    * `cap` tokens) and the unrolled SQL oracle replays round-for-round.
    * Default [[Cap]] = 32 serves the 4-gram/LRS consumers; the Lee et
    * al. 2022 exact-substring threshold (50 tokens) needs cap = 64. */
  def build(docs: DataFrame, cap: Int = Cap): DataFrame =
    // a SharedStages stage: every exact-substring consumer (LRS audit,
    // gram blocks, span dedup, removal rebuild) reads the same index,
    // and the doubling rounds are the expensive part of each
    SharedStages.saBuild.get((docs.queryExecution.analyzed.canonicalized,
      cap)) {
      buildPlan(docs, cap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** (hits, misses) of the shared suffix-array build. */
  def sharedTelemetry: (Long, Long) = SharedStages.saBuild.telemetry

  private def buildPlan(docs: DataFrame, cap: Int): DataFrame = {
    require(cap >= 2 && (cap & (cap - 1)) == 0,
      s"cap must be a power of two >= 2; got $cap")
    val spark = docs.sparkSession
    val pos = docs
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => t =!= "").as("__toks"))
      .select(col("doc_id"),
        posexplode_outer(col("__toks")).as(Seq("off", "tok")))
      .filter(col("tok").isNotNull)
      .withColumn("off", col("off").cast("long"))
    val (r0, n0) = denseRankCounted(pos, Seq("tok"), "rank")
    var cur = r0.select(col("doc_id"), col("off"), col("rank"))
      .transform(graft.core.Checkpoints.truncate[org.apache.spark.sql.Row])
    // total positions, for the early-exit test — the row count is
    // invariant across rounds, so one count (off the checkpointed
    // round-0 table) serves every round
    val nPos = cur.count()
    var k = 1L
    var distinct = n0 == nPos
    while (k < cap && !distinct) {
      val shifted = cur.select(col("doc_id"),
        (col("off") - k).as("off"), col("rank").as("__r2"))
      val paired = cur.join(shifted, Seq("doc_id", "off"), "left")
        .withColumn("__r2", coalesce(col("__r2"), lit(0L)))
      val (rk, nk) = denseRankCounted(paired, Seq("rank", "__r2"), "__nr")
      cur = rk.select(col("doc_id"), col("off"), col("__nr").as("rank"))
        .transform(graft.core.Checkpoints.truncate[org.apache.spark.sql.Row])
      k *= 2
      // once every position ranks uniquely, a further doubling round
      // is the identity on both the order AND the dense-rank values
      // (ordering by (r, r2) with r distinct orders by r, and its
      // dense rank re-emits 1..n = r) — so exiting early produces the
      // same table the oracle's fixed unrolled rounds produce; the
      // distinct count is free (the denseRank offset-table total)
      distinct = nk == nPos
    }
    denseRank(cur, Seq("rank", "doc_id", "off"), "sa")
      .select(col("sa"), col("rank"), col("doc_id"), col("off"))
  }
}
