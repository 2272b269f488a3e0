package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._

import KernelCall.Geno

/** Fused per-variant paired-callset sufficient statistics
  * `[n, sx, sy, sxy, sxx, syy]` over samples fully called in BOTH
  * genotype cubes (`geno`, `geno2` — the re-called twin): x/y are the
  * two alt dosages (count of non-zero alleles; a sample with any
  * missing allele in either callset contributes nothing). Replaces the
  * 6-statistic × S-sample statically-unrolled `element_at` CASE trees
  * of the imputation-r² lane — O(1) plan nodes at any cohort width,
  * one generated pass per row (the DosageStatsExpr discipline).
  * Samples beyond min(|geno|, |geno2|) are ignored; a null sample
  * sub-array reads as missing. Diploid (2 alleles per call), like the
  * unrolled original. */
case class DupPairStatsExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Geno, Geno)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dup_pair_stats"
  override protected def kernel: Kernel = Kernel("stats")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DupPairStatsExpr =
    copy(left = l, right = r)
}

object DupPairStatsExpr {

  /** Diploid alt dosage of sample `i` in cube `g`: −1 when missing
    * (any null allele, null sub-array, or short call). */
  @inline private def dose(g: ArrayData, i: Int): Long = {
    if (g.isNullAt(i)) return -1L
    val sa = g.getArray(i)
    if (sa.numElements() < 2 || sa.isNullAt(0) || sa.isNullAt(1))
      return -1L
    (if (sa.getLong(0) != 0L) 1L else 0L) +
      (if (sa.getLong(1) != 0L) 1L else 0L)
  }

  def stats(ga: ArrayData, gb: ArrayData): ArrayData = {
    val m = math.min(ga.numElements(), gb.numElements())
    var n = 0L; var sx = 0L; var sy = 0L
    var sxy = 0L; var sxx = 0L; var syy = 0L
    var i = 0
    while (i < m) {
      val x = dose(ga, i)
      if (x >= 0) {
        val y = dose(gb, i)
        if (y >= 0) {
          n += 1; sx += x; sy += y
          sxy += x * y; sxx += x * x; syy += y * y
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(n, sx, sy, sxy, sxx, syy))
  }
}
