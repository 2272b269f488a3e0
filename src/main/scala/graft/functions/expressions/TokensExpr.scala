package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import KernelCall.Strings

/** Whitespace tokenizer fused into one generated loop — byte-identical
  * to `filter(split(text, "\\s+"), t -> t <> '')` (the repo-wide
  * `tokens()` helper), whose `filter` is a Spark HOF and therefore
  * interpreted per row (CodegenFallback). Java's `\s` without
  * UNICODE_CHARACTER_CLASS matches exactly { space, tab, newline, vertical-tab,
  * \f, \r }, so the split is replayed with a six-character test; the
  * split+drop-empty composition is simply "maximal runs of
  * non-whitespace", which this emits in one pass over the UTF-8 bytes
  * (all six separators are ASCII, so byte-level scanning is exact). */
case class TokensExpr(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokens"
  override protected def kernel: Kernel = Kernel("tokenize")

  override protected def withNewChildInternal(c: Expression): TokensExpr =
    copy(child = c)
}

object TokensExpr {

  @inline private def isSep(b: Byte): Boolean =
    b == ' '.toByte || b == '\t'.toByte || b == '\n'.toByte ||
      b == 0x0B.toByte || b == '\f'.toByte || b == '\r'.toByte

  def tokenize(text: UTF8String): GenericArrayData = {
    // one materialization of the byte buffer (getBytes may copy), then
    // zero-copy token slices over it
    val bytes = text.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[Any]()
    var i = 0
    var start = -1
    while (i < n) {
      if (isSep(bytes(i))) {
        if (start >= 0) {
          out.add(UTF8String.fromBytes(bytes, start, i - start)); ()
        }
        start = -1
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) {
      out.add(UTF8String.fromBytes(bytes, start, n - start)); ()
    }
    new GenericArrayData(out.toArray)
  }
}

/** All ordered `l`-token span grams of a token array, " "-joined — the
  * fused form of `transform(sequence(1, n−l+1), i ->
  * array_join(slice(toks, i, l), " "))` (interpreted HOF chain, O(n·l)
  * per document) used by the duplicated-span and duplication-mass
  * lanes. Emits the empty array when the document has fewer than `l`
  * tokens. Null token cells join as the empty string, matching
  * `array_join`'s null-skipping only when inputs are non-null — the
  * producing tokenizer never emits nulls. */
case class SpanGramsExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Strings, IntegerType)

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "span_grams"
  override protected def kernel: Kernel = Kernel("grams")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SpanGramsExpr = copy(left = l, right = r)
}

object SpanGramsExpr {
  def grams(toks: ArrayData, l: Int): GenericArrayData = {
    val n = toks.numElements()
    if (l < 1 || n < l) return new GenericArrayData(new Array[Any](0))
    val words = new Array[String](n)
    var i = 0
    while (i < n) {
      words(i) =
        if (toks.isNullAt(i)) null
        else toks.getUTF8String(i).toString
      i += 1
    }
    val out = new Array[Any](n - l + 1)
    i = 0
    while (i <= n - l) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < l) {
        // array_join skips null entries entirely (no separator for
        // them); replicate that exactly
        if (words(i + j) != null) {
          if (sb.length() > 0) sb.append(' ')
          sb.append(words(i + j))
        }
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}
