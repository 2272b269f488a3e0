package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.expressions.DotProductLong

/** Embedding-vector column functions for similarity search (builder brief:
  * "brute-force cosine top-k as the baseline; an IVF or LSH-bucketed variant
  * as the scale path").
  *
  * Oracle-parity design: raw float embeddings are quantized to exact longs
  * (`floor(double(x) * scale)`), so dot products and squared norms are exact
  * integers in any engine, and the final cosine is a single deterministic
  * IEEE double expression — DuckDB replays it bit-for-bit.
  */
object vectorfns {

  /** `ARRAY<FLOAT>` → exact `ARRAY<BIGINT>` via floor(double(x)*scale). */
  def quantize(v: Column, scale: Int): Column =
    transform(v, x => floor(x.cast("double") * scale).cast("long"))

  /** Integer dot product — fused codegen loop (custom Catalyst expression,
    * [[graft.functions.expressions.DotProductLong]]). */
  def dotLong(a: Column, b: Column): Column =
    Bridge.column(DotProductLong(Bridge.expression(a), Bridge.expression(b)))

  /** Integer squared-L2 distance — fused codegen loop
    * ([[graft.functions.expressions.L2DistLong]]). */
  def l2Long(a: Column, b: Column): Column =
    Bridge.column(graft.functions.expressions.L2DistLong(
      Bridge.expression(a), Bridge.expression(b)))

  /** PQ encode: per-subspace argmin codeword indices (first minimum) —
    * fused codegen loop ([[graft.functions.expressions.PqEncode]]). */
  def pqEncode(qv: Column, cbs: Column, m: Int, dsub: Int): Column =
    Bridge.column(graft.functions.expressions.PqEncode(
      Bridge.expression(qv), Bridge.expression(cbs), m, dsub))

  /** ADC lookup-sum Σ_sub dtab[sub][codes[sub]] — fused codegen loop
    * ([[graft.functions.expressions.PqAdcLookup]]). */
  def pqAdc(dtab: Column, codes: Column): Column =
    Bridge.column(graft.functions.expressions.PqAdcLookup(
      Bridge.expression(dtab), Bridge.expression(codes)))

  /** One-pass pairwise-complete LD sums [n, sx, sy, sxy, sxx, syy] —
    * fused codegen loop ([[graft.functions.expressions.LdPairStats]]). */
  def ldPairStats(a: Column, b: Column): Column =
    Bridge.column(graft.functions.expressions.LdPairStats(
      Bridge.expression(a), Bridge.expression(b)))

  /** Cosine similarity from exact integer dot/norms; null when either norm
    * is 0 (the quantized zero vector has no direction). */
  def cosineQ(dot: Column, norm2a: Column, norm2b: Column): Column =
    when(norm2a > 0 && norm2b > 0,
      dot.cast("double") / (sqrt(norm2a.cast("double")) *
        sqrt(norm2b.cast("double"))))

  /** Signed-random-projection LSH bucket id in [0, 2^bits): bit j is the
    * sign of the projection of `qv` onto pseudo-hyperplane (table, j),
    * whose ±1 components come from a pure-integer xorshift-multiply
    * mixer (replayable in any SQL engine — no RNG state, no 64-bit
    * wraparound; see [[graft.functions.expressions.SrpBucket.signBit]]
    * for why the xor rounds are load-bearing). `table` seeds independent
    * hash tables for banded multi-table LSH (the recall knob: more
    * tables = more chances for a true neighbor to collide). 1-based
    * component index i matches DuckDB's 1-based list indexing. One fused
    * codegen loop for all bits
    * ([[graft.functions.expressions.SrpBucket]]). */
  def srpBucket(qv: Column, bits: Int, table: Int = 0): Column =
    Bridge.column(graft.functions.expressions.SrpBucket(
      Bridge.expression(qv), bits, table))

  /** DuckDB SQL fragment computing the identical [[srpBucket]] over a list
    * column named `expr` — kept next to the Scala so the two stay in sync. */
  def srpBucketSql(expr: String, bits: Int, table: Int = 0): String = {
    val terms = (0 until bits).map { j =>
      val key = table * 131L + j + 1
      // the two xor-rounds mirror SrpBucket.signBit exactly; >> on the
      // non-negative intermediates equals the Scala logical shift
      val h1 = s"((${key * 131071L} + i) * 2654435761 % 2147483647)"
      val h1x = s"xor($h1, $h1 >> 15)"
      val h2 = s"($h1x * 40503 % 2147483647)"
      val h2x = s"xor($h2, $h2 >> 13)"
      s"""CASE WHEN CAST(list_sum(list_transform(range(1, len($expr) + 1),
         |  i -> $expr[i] * (CASE WHEN ($h2x & 1) = 1
         |                   THEN 1 ELSE -1 END))) AS BIGINT) >= 0
         |THEN ${1L << j} ELSE 0 END""".stripMargin
    }
    terms.mkString("(", " + ", ")")
  }

  /** Per-vector int8 scalar quantization of an exact BIGINT vector:
    * `c_i = floor(q_i * 127 / max|q| + 0.5)` ∈ [−127, 127]. The
    * per-vector scale cancels in cosine, so int8 codes score against
    * each other directly — at 100 TB this is the memory lever (8× less
    * than the float corpus, 4× less than int32 fixed-point) that lets a
    * resident ANN corpus fit; the ranking error is bounded by the
    * ~1/254 per-component rounding. Every step (integer max, one IEEE
    * multiply/divide/add per element, floor) replays bit-for-bit in any
    * SQL engine. Zero vectors stay zero. */
  def int8Codes(qv: Column): Column = {
    val amax = array_max(transform(qv, x => abs(x))).cast("double")
    when(amax > 0, transform(qv, x =>
      floor(x.cast("double") * 127.0 / amax + 0.5).cast("long")))
      .otherwise(transform(qv, _ => lit(0L)))
  }

  /** DuckDB SQL fragment computing the identical [[int8Codes]] over a
    * BIGINT list column named `expr` — kept next to the Scala so the
    * two stay in sync (same operation order: (x·127)/amax, then +0.5,
    * then floor). */
  def int8CodesSql(expr: String): String =
    s"""CASE WHEN CAST(list_max(list_transform($expr, x -> abs(x)))
          AS DOUBLE) > 0
        THEN list_transform($expr, x -> CAST(floor(
          CAST(x AS DOUBLE) * 127.0 /
            CAST(list_max(list_transform($expr, y -> abs(y)))
              AS DOUBLE) + 0.5) AS BIGINT))
        ELSE list_transform($expr, x -> CAST(0 AS BIGINT)) END"""
}
