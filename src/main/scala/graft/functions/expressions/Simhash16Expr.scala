package graft.functions.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 16-bit SimHash over a document's whitespace tokens, fused: one md5 per
  * token (the declarative form recomputes md5 inside each of the 16
  * interpreted bit-filters — 16×), bit j from hex digit j+1 (≥8 → 1),
  * majority vote with ties → 1. Bit-identical to
  * [[graft.functions.textfns.simhash16]], which stays as the differential
  * oracle. */
case class Simhash16Expr(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"
  override protected def kernel: Kernel = Kernel("sketch")

  override protected def withNewChildInternal(c: Expression): Simhash16Expr =
    copy(child = c)
}

object Simhash16Expr {
  def sketch(text: UTF8String): Long = {
    val raw = text.toString.split("\\s+", -1)
    val ones = new Array[Int](16)
    var n = 0
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) {
        n += 1
        md.reset()
        val dig = md.digest(raw(i).getBytes("UTF-8"))
        var j = 0
        while (j < 16) {
          // hex digit j of the md5: high nibble of byte j/2 for even j
          val nibble =
            if ((j & 1) == 0) (dig(j >> 1) >>> 4) & 0xf
            else dig(j >> 1) & 0xf
          if (nibble >= 8) ones(j) += 1
          j += 1
        }
      }
      i += 1
    }
    var v = 0L
    var j = 0
    while (j < 16) {
      if (ones(j) * 2 >= n) v |= (1L << j)
      j += 1
    }
    v
  }
}
