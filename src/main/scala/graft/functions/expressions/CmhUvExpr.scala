package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._

import KernelCall.Longs

/** Fused Cochran–Mantel–Haenszel 2×2×K sufficient statistic over a
  * collapsed-dosage array (`d ARRAY<BIGINT>`, null = missing sample) —
  * the per-variant kernel of [[graft.operators.PopGen.cmhTest]]
  * (PLINK `--mh`; reference-adjacent: SNPRelate's stratified
  * association scans over SeqArray dosage).
  *
  * The stratum/phenotype layout rides in ONE literal array child
  * (the [[DosageWeightedStats]] weights-as-one-literal discipline, so
  * the plan is O(1) nodes at ANY cohort width and ANY stratum count):
  *
  *   packed = [uScale, vScale, code_0, …, code_{S-1}]
  *   code_s = 0                          sample outside every stratum
  *          = 2·(stratumId+1) + case_s   member of stratum `stratumId`
  *
  * Returns `[U·uScale, V·vScale]` with the per-stratum terms
  *
  *   U·u = Σₖ aₖ·u − n1ₖ·m1ₖ·(u/nₖ)
  *   V·v = Σₖ n1ₖ·n2ₖ·m1ₖ·m2ₖ·(v/(nₖ²(nₖ−1)))     (nₖ ≥ 2 terms)
  *
  * where u = lcm(1..nMax) and v = u² make every quotient an exact
  * BIGINT (u/n exact because n ≤ nMax divides the lcm; v/(n²(n−1))
  * exact because gcd(n, n−1) = 1 puts an (n−1) factor inside each
  * u/n). χ² = (U·u)²/(V·v²·…) reduces to one division downstream —
  * identical arithmetic to the statically-unrolled Column tree this
  * replaces, verified by the differential spec. */
case class CmhUvExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Longs, Longs)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cmh_uv"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CmhUvExpr = copy(left = l, right = r)
}

object CmhUvExpr {
  def eval(d: ArrayData, packed: ArrayData): ArrayData = {
    val uScale = packed.getLong(0)
    val vScale = packed.getLong(1)
    val s = math.min(d.numElements(), packed.numElements() - 2)
    // stratum count from the mask (codes are 2·(sid+1)+case)
    var k = 0
    var i = 0
    while (i < s) {
      val c = packed.getLong(i + 2)
      if (c > 0) { val sid = (c >> 1).toInt; if (sid > k) k = sid }
      i += 1
    }
    val n1 = new Array[Long](k); val n2 = new Array[Long](k)
    val m1 = new Array[Long](k); val m2 = new Array[Long](k)
    val a = new Array[Long](k)
    i = 0
    while (i < s) {
      val c = packed.getLong(i + 2)
      if (c > 0 && !d.isNullAt(i)) {
        val sid = (c >> 1).toInt - 1
        val isCase = (c & 1L) == 1L
        val x = d.getLong(i)
        if (isCase) n1(sid) += 1 else n2(sid) += 1
        if (x > 0) { m1(sid) += 1; if (isCase) a(sid) += 1 }
        else m2(sid) += 1
      }
      i += 1
    }
    var u = 0L; var v = 0L
    var j = 0
    while (j < k) {
      val n = n1(j) + n2(j)
      if (n > 0) u += a(j) * uScale - n1(j) * m1(j) * (uScale / n)
      if (n > 1)
        v += n1(j) * n2(j) * m1(j) * m2(j) * (vScale / (n * n * (n - 1)))
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(u, v))
  }
}
