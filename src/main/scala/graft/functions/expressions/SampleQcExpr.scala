package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._

import KernelCall.Geno

/** Fused per-variant sample-QC kernel: for each sample of a genotype
  * cube row (`geno ARRAY<ARRAY<BIGINT>>`) emit one packed BIGINT
  * `(sing << 2) | (het << 1) | called` where
  *
  *  - `called` = both alleles present,
  *  - `het` = called and the two alleles differ,
  *  - `sing` = how many of the sample's alleles are variant-level
  *    SINGLETONS (a positive allele value occurring exactly once among
  *    ALL of the row's alleles) — 0, 1 or 2.
  *
  * This replaces q143's interpreted-HOF singleton set
  * (`filter(array_distinct(flatten(geno)), a -> count(a in fl) = 1)`
  * — Spark HOFs are CodegenFallback, so that tree re-entered the
  * interpreter per variant) with ONE generated-code pass; occurrence
  * counts use a hash map, never a per-allele rescan, so the kernel
  * stays O(samples) per variant at biobank width.
  *
  * Null semantics replicate the HOF original exactly: a null allele is
  * missing (blocks `called`, contributes no singleton); a null SAMPLE
  * sub-array additionally nulls `flatten(geno)` in the original, which
  * nulled the whole singleton set — so any null sub-array forces
  * `sing = 0` for every sample of that row. */
case class SampleQcExpr(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Geno)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sample_qc"
  override protected def kernel: Kernel = Kernel("pack")

  override protected def withNewChildInternal(c: Expression): SampleQcExpr =
    copy(child = c)
}

object SampleQcExpr {

  /** One pass over the row's alleles: count occurrences, then emit the
    * packed per-sample QC word. */
  def pack(geno: ArrayData): ArrayData = {
    val n = geno.numElements()
    val counts = new java.util.HashMap[Long, Int](n * 4)
    var anyNullSample = false
    var i = 0
    while (i < n) {
      if (geno.isNullAt(i)) anyNullSample = true
      else {
        val sa = geno.getArray(i)
        var j = 0
        while (j < sa.numElements()) {
          if (!sa.isNullAt(j)) {
            val a = sa.getLong(j)
            // Scala unboxes an absent (null) value to 0
            counts.put(a, counts.get(a) + 1)
          }
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      if (!geno.isNullAt(i)) {
        val sa = geno.getArray(i)
        val m = sa.numElements()
        val a1Null = m < 1 || sa.isNullAt(0)
        val a2Null = m < 2 || sa.isNullAt(1)
        val called = !a1Null && !a2Null
        val het = called && sa.getLong(0) != sa.getLong(1)
        var sing = 0L
        if (!anyNullSample) {
          if (!a1Null) {
            val a = sa.getLong(0)
            if (a > 0 && counts.get(a) == 1) sing += 1
          }
          if (!a2Null) {
            val a = sa.getLong(1)
            if (a > 0 && counts.get(a) == 1) sing += 1
          }
        }
        out(i) = (sing << 2) | (if (het) 2L else 0L) |
          (if (called) 1L else 0L)
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
