package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import KernelCall.Geno

/** Canonical genotype-cube serialization `"a|b;a|b;…"` (null allele →
  * `"x"`) — byte-identical to the nested-HOF original
  * `array_join(transform(geno, sa -> array_join(transform(sa, a ->
  * coalesce(cast(a AS STRING), 'x')), '|')), ';')`, which re-entered
  * the interpreter per row (HOFs are CodegenFallback) on the merge
  * lanes' dedup key. One generated pass. Null handling: a null allele
  * serializes as `"x"` (the inner coalesce); a null SAMPLE sub-array
  * nulls its inner join, and the outer `array_join` SKIPS null entries
  * entirely (no text, no separator) — replicated below. */
case class GenoKeyExpr(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Geno)
  override def dataType: DataType = StringType
  override def prettyName: String = "geno_key"
  override protected def kernel: Kernel = Kernel("ser")

  override protected def withNewChildInternal(c: Expression): GenoKeyExpr =
    copy(child = c)
}

object GenoKeyExpr {
  def ser(geno: ArrayData): UTF8String = {
    val n = geno.numElements()
    val sb = new java.lang.StringBuilder(n * 4)
    var first = true
    var i = 0
    while (i < n) {
      // array_join skips a null entry entirely: no text, no separator
      if (!geno.isNullAt(i)) {
        if (!first) sb.append(';')
        first = false
        val sa = geno.getArray(i)
        val m = sa.numElements()
        var j = 0
        while (j < m) {
          if (j > 0) sb.append('|')
          if (sa.isNullAt(j)) sb.append('x')
          else sb.append(sa.getLong(j))
          j += 1
        }
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
