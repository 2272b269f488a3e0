package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles straight from raw text, fused into one
  * loop: whitespace-tokenize, drop empties, emit first-occurrence-distinct
  * " "-joined n-grams (empty array when fewer than n tokens). Replaces the
  * tokenize→transform→array_distinct HOF chain, which is interpreted
  * (CodegenFallback) and was the dominant cost of the MinHash/LSH dedup
  * pipeline (~2 ms/doc, evaluated up to 3× after predicate inlining). */
case class WordShinglesExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(StringType, IntegerType)

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override protected def kernel: Kernel = Kernel("shingle")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): WordShinglesExpr = copy(left = l, right = r)
}

object WordShinglesExpr {
  def shingle(text: UTF8String, n: Int): GenericArrayData = {
    val raw = text.toString.split("\\s+", -1)
    var count = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) count += 1; i += 1 }
    if (count < n) return new GenericArrayData(new Array[Any](0))
    val toks = new Array[String](count)
    var j = 0
    i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { toks(j) = raw(i); j += 1 }
      i += 1
    }
    val seen = new java.util.LinkedHashSet[String]()
    i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' '); sb.append(toks(i + k)); k += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }
}
