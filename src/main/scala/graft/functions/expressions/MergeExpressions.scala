package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import KernelCall.Geno

/** Codegen'd seqMerge kernels (SEQ_MergeAllele / SEQ_MergeGeno,
  * /root/reference/src/FileMerge.cpp:56-229): allele-string union and
  * genotype index remap as fused per-row loops. The declarative versions
  * (split + filter/transform + array_position chains) are interpreted
  * (HOFs are CodegenFallback) and dominated the merge bench; they remain in
  * src/test/scala/graft/HofTwins.scala as `*Hof` differential oracles. */

/** "REF,ALT1,…" ∪ "REF,ALT1,…": left order preserved, right-only alleles
  * appended in right order. */
case class AlleleUnionExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "allele_union"
  override protected def kernel: Kernel = Kernel("union")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): AlleleUnionExpr = copy(left = l, right = r)
}

object AlleleUnionExpr {
  def union(a: UTF8String, b: UTF8String): UTF8String = {
    val as = a.toString.split(",", -1)
    val bs = b.toString.split(",", -1)
    val sb = new java.lang.StringBuilder(a.toString)
    var i = 0
    while (i < bs.length) {
      var found = false
      var j = 0
      while (!found && j < as.length) { found = as(j) == bs(i); j += 1 }
      if (!found) { sb.append(','); sb.append(bs(i)) }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Re-code a genotype cube from `oldAlleles` into `newAlleles` (merged)
  * allele indices; null allele stays null; an allele absent from the new
  * list maps to -1 (cannot happen when newAlleles ⊇ oldAlleles). */
case class RemapGenoExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] =
    Seq(Geno, StringType, StringType)

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = true), containsNull = true)
  override def prettyName: String = "remap_geno"
  override protected def kernel: Kernel = Kernel("remap")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): RemapGenoExpr = copy(first = f, second = s, third = t)
}

object RemapGenoExpr {
  def remap(geno: ArrayData, oldStr: UTF8String, newStr: UTF8String): ArrayData = {
    val os = oldStr.toString.split(",", -1)
    val ns = newStr.toString.split(",", -1)
    // old index -> new index lookup, built once per row
    val lut = new Array[Long](os.length)
    var i = 0
    while (i < os.length) {
      var idx = -1L
      var j = 0
      while (idx < 0 && j < ns.length) {
        if (ns(j) == os(i)) idx = j
        j += 1
      }
      lut(i) = idx
      i += 1
    }
    val out = new Array[Any](geno.numElements())
    i = 0
    while (i < out.length) {
      if (geno.isNullAt(i)) out(i) = null
      else {
        val sa = geno.getArray(i)
        val al = new Array[Any](sa.numElements())
        var j = 0
        while (j < al.length) {
          al(j) =
            if (sa.isNullAt(j)) null
            else {
              val x = sa.getLong(j).toInt
              if (x < 0 || x >= lut.length)
                throw new ArrayIndexOutOfBoundsException(
                  s"allele index $x outside allele list of ${lut.length}")
              java.lang.Long.valueOf(lut(x))
            }
          j += 1
        }
        out(i) = new GenericArrayData(al)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
