package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._

import KernelCall.{Geno, Longs}

/** Fused per-variant association kernels over a collapsed-dosage array
  * (`d ARRAY<BIGINT>`, null = missing sample) with per-sample weight
  * vectors carried as ONE array literal each.
  *
  * These replace the statically-unrolled per-sample-ordinal sum trees
  * (the `Σ_s f(element_at(d, s+1))` reduce pattern) that grew the
  * ANALYZED plan O(cohort width) — fine at the 8-sample fixture, an
  * analyzer/codegen blow-up at biobank width (the round-9 verdict's
  * "unrolled-reduce class"; same failure mode the S²-literal pair fans
  * had before `graft.functions.pairs`). Each kernel is O(1) plan nodes
  * at ANY sample count: the weights are a single `Literal(ArrayData)`
  * child and the per-sample loop is one Scala kernel on the expression's
  * companion, called once per row by generated code, exactly like
  * the reference's per-variant C kernels (SeqArray src/Methods.cpp:
  * 122-801 iterate samples inside one native loop; the cohort width
  * never appears in the call graph).
  *
  * Null convention: a null dosage cell is a missing sample — it joins
  * no called-sample sum; "coalesce" sums (x taken as 0 when missing)
  * are identical to called-only sums because the missing term is 0.
  * All outputs are exact BIGINTs (the repo's oracle discipline: integer
  * sums, one final division at presentation).
  */

/** `[n, sx, sxx, sw, swx, sww]` over CALLED samples of dosage `d` with
  * weight vector `w` (one literal ARRAY<BIGINT>, one entry per sample):
  * n = #called, sx = Σx, sxx = Σx², sw = Σw, swx = Σw·x, sww = Σw² —
  * the sufficient statistics of every 1-covariate score test. Samples
  * beyond min(|d|, |w|) are ignored (the unrolled trees this replaces
  * summed ordinals 0 until |w|). */
case class DosageWeightedStats(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Longs, Longs)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dosage_weighted_stats"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DosageWeightedStats =
    copy(left = l, right = r)
}

object DosageWeightedStats {
  def eval(d: ArrayData, w: ArrayData): ArrayData = {
    var n = 0L; var sx = 0L; var sxx = 0L
    var sw = 0L; var swx = 0L; var sww = 0L
    val m = math.min(d.numElements(), w.numElements())
    var i = 0
    while (i < m) {
      if (!d.isNullAt(i) && !w.isNullAt(i)) {
        val x = d.getLong(i); val wi = w.getLong(i)
        n += 1; sx += x; sxx += x * x
        sw += wi; swx += wi * x; sww += wi * wi
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(n, sx, sxx, sw, swx, sww))
  }
}

/** Two-weight sufficient statistics `[n, sx, sxx, s1, sx1, s11, s2,
  * sx2, s22, s12]` over called samples — the 3×3 normal-equation
  * inputs of the covariate-adjusted GWAS (y ~ β₀ + β_g·x + β_z·z):
  * s1/s2 sum the weights, sx1/sx2 the cross terms with the dosage,
  * s11/s22 the squares and s12 = Σw1·w2. */
case class DosageTwoWeightStats(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Longs, Longs, Longs)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dosage_two_weight_stats"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): DosageTwoWeightStats =
    copy(first = f, second = s, third = t)
}

object DosageTwoWeightStats {
  def eval(d: ArrayData, w1: ArrayData, w2: ArrayData): ArrayData = {
    var n = 0L; var sx = 0L; var sxx = 0L
    var s1 = 0L; var sx1 = 0L; var s11 = 0L
    var s2 = 0L; var sx2 = 0L; var s22 = 0L; var s12 = 0L
    val m = math.min(d.numElements(),
      math.min(w1.numElements(), w2.numElements()))
    var i = 0
    while (i < m) {
      if (!d.isNullAt(i) && !w1.isNullAt(i) && !w2.isNullAt(i)) {
        val x = d.getLong(i); val a = w1.getLong(i); val b = w2.getLong(i)
        n += 1; sx += x; sxx += x * x
        s1 += a; sx1 += a * x; s11 += a * a
        s2 += b; sx2 += b * x; s22 += b * b; s12 += a * b
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      Array(n, sx, sxx, s1, sx1, s11, s2, sx2, s22, s12))
  }
}

/** Per-mask weighted sums `out[m] = Σ_s masks[m][s] · coalesce(d[s], 0)`
  * — K weighted contrasts of one dosage vector in a single pass (the
  * permutation-test kernel: each mask is one permuted label set).
  * `masks` is ONE literal ARRAY<ARRAY<BIGINT>>; null dosage contributes
  * 0 to every mask alike (the permutation-invariance contract). */
case class DosageMaskedSums(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] =
    Seq(Longs, ArrayType(ArrayType(LongType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dosage_masked_sums"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DosageMaskedSums =
    copy(left = l, right = r)
}

object DosageMaskedSums {
  def eval(d: ArrayData, masks: ArrayData): ArrayData = {
    val k = masks.numElements()
    val out = new Array[Long](k)
    var m = 0
    while (m < k) {
      if (!masks.isNullAt(m)) {
        val w = masks.getArray(m)
        val n = math.min(d.numElements(), w.numElements())
        var s = 0L
        var i = 0
        while (i < n) {
          if (!d.isNullAt(i) && !w.isNullAt(i)) s += w.getLong(i) * d.getLong(i)
          i += 1
        }
        out(m) = s
      }
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Fused [[graft.operators.PopGen.hapAlt]]: per (sample, ploidy-slot)
  * haplotype alt indicators in one loop — 1/0 for an alt/ref allele of
  * a PHASED sample, null when the sample is unphased or the allele
  * missing/short. Replaces the N·ploidy-term `array(...)` unroll (O(1)
  * plan nodes at any cohort width); `ploidy` is a literal. */
case class HapAltExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] =
    Seq(Geno, ArrayType(BooleanType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "hap_alt"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): HapAltExpr =
    copy(first = f, second = s, third = t)
}

object HapAltExpr {
  def eval(geno: ArrayData, phased: ArrayData, ploidy: Int): ArrayData = {
    val nS = geno.numElements()
    val out = new Array[Any](nS * ploidy)
    var s = 0
    while (s < nS) {
      val isPhased = s < phased.numElements() && !phased.isNullAt(s) &&
        phased.getBoolean(s)
      val sa = if (geno.isNullAt(s)) null else geno.getArray(s)
      var p = 0
      while (p < ploidy) {
        val slot =
          if (!isPhased || sa == null || p >= sa.numElements() ||
            sa.isNullAt(p)) null
          else java.lang.Long.valueOf(if (sa.getLong(p) != 0L) 1L else 0L)
        out(s * ploidy + p) = slot
        p += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}
