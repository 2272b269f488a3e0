package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

import KernelCall.Longs

/** Codegen kernels for the product-quantization path (q105) and the
  * windowed-LD path (q108). The declarative HOF twins (kept in
  * src/test/scala/graft/HofTwins.scala and the query oracles) are interpreted
  * per row — CodegenFallback — and dominated both queries at sf0.1
  * (encode: M·K·DSUB multiply-subtracts per corpus row; scan: a 64-dim
  * L2 per (corpus, probe) pair). Each kernel is one fused Scala loop on
  * the expression's companion, which the interpreted path and
  * whole-stage codegen both call.
  *
  * Reference analog: the hand-SIMD count/dosage kernels the reference
  * keeps for exactly this reason (/root/reference/src/vectorization.h:
  * 304-438).
  */

/** Integer squared-L2 distance of two ARRAY<BIGINT> over their overlap;
  * null elements are skipped (treated as matching — they contribute 0). */
case class L2DistLong(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Longs, Longs)
  override def dataType: DataType = LongType
  override def prettyName: String = "l2_i64"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistLong =
    copy(left = newLeft, right = newRight)
}

object L2DistLong {
  def eval(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val d = x.getLong(i) - y.getLong(i)
        s += d * d
      }
      i += 1
    }
    s
  }
}

/** PQ encoder: `qv` (ARRAY<BIGINT>, the full vector) against codebook
  * `cbs` (ARRAY<ARRAY<BIGINT>>, K full-width codewords) → ARRAY<INT> of
  * `m` codes, code `sub` = the codeword index minimizing the integer
  * squared-L2 over dims [sub·dsub, (sub+1)·dsub); ties break to the
  * smallest index (first minimum — the rule the SQL oracle replays via
  * list_position-of-min). Out-of-range dims contribute 0 (never happens
  * with a well-formed codebook; the guard keeps eval total). */
case class PqEncode(left: Expression, right: Expression, m: Int, dsub: Int)
    extends BinaryExpression with KernelCall {

  require(m > 0 && dsub > 0, "m and dsub must be positive")

  override def inputTypes: Seq[InputType] =
    Seq(Longs, ArrayType(ArrayType(LongType)))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def kernel: Kernel = Kernel("eval", m, dsub)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

object PqEncode {
  def eval(v: ArrayData, cb: ArrayData, m: Int, dsub: Int): ArrayData = {
    val k = cb.numElements()
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < k) {
        val cw = cb.getArray(c)
        var s = 0L
        var i = sub * dsub
        val end = i + dsub
        while (i < end) {
          val x = if (i < v.numElements() && !v.isNullAt(i)) v.getLong(i)
            else 0L
          val y = if (i < cw.numElements() && !cw.isNullAt(i)) cw.getLong(i)
            else 0L
          val d = x - y
          s += d * d
          i += 1
        }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      out(sub) = best
      sub += 1
    }
    new GenericArrayData(out)
  }
}

/** ADC lookup-sum: `dtab` (ARRAY<ARRAY<BIGINT>>, per-subspace distance
  * rows) indexed by `codes` (ARRAY<INT>) → Σ_sub dtab[sub][codes[sub]].
  * Out-of-range or null cells contribute 0. */
case class PqAdcLookup(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] =
    Seq(ArrayType(ArrayType(LongType)), ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcLookup =
    copy(left = newLeft, right = newRight)
}

object PqAdcLookup {
  def eval(dtab: ArrayData, codes: ArrayData): Long = {
    val n = math.min(dtab.numElements(), codes.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!dtab.isNullAt(i) && !codes.isNullAt(i)) {
        val row = dtab.getArray(i)
        val c = codes.getInt(i)
        if (c >= 0 && c < row.numElements() && !row.isNullAt(c))
          s += row.getLong(c)
      }
      i += 1
    }
    s
  }
}

/** One-pass paired-dosage sums for LD: two nullable ARRAY<BIGINT> dosage
  * vectors → ARRAY<BIGINT> [n, sx, sy, sxy, sxx, syy] over the sample
  * indices where BOTH are non-null (pairwise-complete observations).
  * Replaces five interpreted `aggregate` HOFs plus a zip_with+filter
  * per variant pair in the q108 hot loop. */
case class LdPairStats(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Longs, Longs)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ld_pair_stats"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LdPairStats =
    copy(left = newLeft, right = newRight)
}

object LdPairStats {
  def eval(x: ArrayData, y: ArrayData): ArrayData = {
    val len = math.min(x.numElements(), y.numElements())
    var n = 0L; var sx = 0L; var sy = 0L
    var sxy = 0L; var sxx = 0L; var syy = 0L
    var i = 0
    while (i < len) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val u = x.getLong(i); val v = y.getLong(i)
        n += 1; sx += u; sy += v
        sxy += u * v; sxx += u * u; syy += v * v
      }
      i += 1
    }
    new GenericArrayData(Array(n, sx, sy, sxy, sxx, syy))
  }
}
