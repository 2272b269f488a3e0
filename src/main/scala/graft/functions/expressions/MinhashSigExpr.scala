package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import KernelCall.Strings

/** Fused MinHash signature over an `ARRAY<STRING>` shingle set: component
  * i (1-based) is `min(md5(i || ":" || shingle))` — exactly the md5-based
  * arithmetic the DuckDB oracle replays (`TextDedup.lshCte`).
  *
  * The declarative alternatives both lose: nested `transform(array_min(
  * transform(...)))` is CodegenFallback (interpreted per row), and the
  * explode → k md5 columns → min-aggregate shape pays a full shuffle of
  * the exploded shingle rows. This expression computes all k minima in
  * one pass per document — the digest work is identical, the explode and
  * the shuffle disappear. Null array → null; null shingles skip.
  */
case class MinhashSig(child: Expression, k: Int)
    extends UnaryExpression with KernelCall {

  require(k > 0, "k must be positive")

  override def inputTypes: Seq[InputType] = Seq(Strings)
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "minhash_sig"
  override protected def kernel: Kernel = Kernel("compute", k)

  override protected def withNewChildInternal(newChild: Expression)
      : MinhashSig = copy(child = newChild)
}

object MinhashSig {
  private val HexDigits = "0123456789abcdef".toCharArray

  /** Static kernel shared by eval and generated code. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val prefixes = Array.tabulate(k)(j => (s"${j + 1}:").getBytes("UTF-8"))
    val mins = new Array[UTF8String](k)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          md.reset()
          md.update(prefixes(j))
          md.update(s)
          val d = md.digest()
          val hex = new Array[Byte](32)
          var b = 0
          while (b < 16) {
            hex(2 * b) = HexDigits((d(b) >> 4) & 0xf).toByte
            hex(2 * b + 1) = HexDigits(d(b) & 0xf).toByte
            b += 1
          }
          val h = UTF8String.fromBytes(hex)
          if (mins(j) == null || h.compareTo(mins(j)) < 0) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(x => x: Any))
  }
}
