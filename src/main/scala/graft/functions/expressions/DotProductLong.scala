package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{DataType, LongType}

import KernelCall.Longs

/** Codegen'd integer dot product of two `ARRAY<BIGINT>` columns.
  *
  * The declarative equivalent — `aggregate(zip_with(a, b, _ * _), 0L, _ + _)`
  * — allocates an intermediate array and walks two lambda layers per row;
  * this expression is a single fused loop that whole-stage codegen calls
  * once per row, the hot kernel of the brute-force and LSH
  * similarity-search paths (ANN over embeddings; reference analog: the
  * SIMD dosage/count kernels, the reference's
  * src/vectorization.h:304-438, which SeqArray hand-vectorizes for the
  * same reason).
  *
  * Null semantics: null array → null result; null *elements* are treated as
  * 0 (skipped), matching how the quantized-embedding pipeline produces
  * arrays (never null elements in practice). Lengths may differ; the
  * overlap prefix is used.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Longs, Longs)
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i64"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

object DotProductLong {
  def eval(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }
}
