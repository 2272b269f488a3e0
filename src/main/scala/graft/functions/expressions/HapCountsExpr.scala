package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._

/** Per-window haplotype multiplicity spectrum for the Garud H scan:
  * given the window's (pos, vid)-sorted variant list `vs` — each entry
  * a struct whose THIRD field is the h-wide per-slot allele-string
  * array — emit the DESC-sorted counts of identical haplotypes, where
  * slot s's haplotype is the ","-joined column s of the allele matrix.
  *
  * Replaces the interpreted per-window HOF pipeline (h string-joining
  * transforms + an O(h²) distinct-count fold — HOFs are
  * CodegenFallback) with one generated pass: build the h haplotype
  * strings once, hash-count, sort counts desc. Byte-identical to
  * `sort_array(transform(array_distinct(haps), x ->
  * size(filter(haps, y -> y === x))), desc)` because distinct counts
  * are order-free and the final sort is on the counts alone. */
case class HapCountsExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(
    Bridge.inputType("ARRAY<STRUCT<_, _, ARRAY<STRING|BIGINT>>>") {
      case ArrayType(StructType(fs), _) if fs.length == 3 =>
        fs(2).dataType match {
          case ArrayType(StringType | LongType, _) => true
          case _ => false
        }
      case _ => false
    },
    IntegerType)

  /** True when the allele matrix carries LONG tokens (the cheap
    * encoding — the string form allocates h UTF8Strings per variant
    * row just to key haplotype identity; any injective per-slot token
    * yields the identical multiplicity spectrum). */
  private def longTokens: Boolean = left.dataType match {
    case ArrayType(StructType(fs), _) =>
      fs(2).dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }
    case _ => false
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hap_counts"

  override protected def kernel: Kernel = Kernel("counts", longTokens)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HapCountsExpr = copy(left = l, right = r)
}

object HapCountsExpr {
  def counts(vs: ArrayData, h: Int, longTokens: Boolean): ArrayData = {
    val k = vs.numElements()
    val haps = new Array[java.lang.StringBuilder](h)
    var s = 0
    while (s < h) { haps(s) = new java.lang.StringBuilder(); s += 1 }
    var i = 0
    while (i < k) {
      val as = vs.getStruct(i, 3).getArray(2)
      s = 0
      while (s < h) {
        if (i > 0) haps(s).append(',')
        // tokens are never null by construction; a defensive null
        // joins as the empty string (array_join's skip would drop the
        // separator too — but only the producing cube reaches here,
        // and it coalesces every cell to "m" / -1)
        if (!as.isNullAt(s)) {
          if (longTokens) haps(s).append(as.getLong(s))
          else haps(s).append(as.getUTF8String(s).toString)
        }
        s += 1
      }
      i += 1
    }
    val m = new java.util.HashMap[String, Long](h * 2)
    s = 0
    while (s < h) {
      val key = haps(s).toString
      m.put(key, m.get(key) + 1L)
      s += 1
    }
    val out = new Array[Long](m.size)
    val it = m.values().iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    java.util.Arrays.sort(out)
    // desc
    var a = 0; var b = out.length - 1
    while (a < b) { val t = out(a); out(a) = out(b); out(b) = t; a += 1; b -= 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
