package graft.functions.expressions

import java.util.Locale

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** C4-style line-level cleaning (Raffel et al. 2019, §2.2) fused into one
  * pass: a line of the document survives iff its last non-whitespace
  * character is a terminal punctuation mark (`.` `!` `?` `"`), it has at
  * least `minWords` whitespace-separated words, and it does not mention
  * "javascript" (case-insensitive — the "please enable JavaScript"
  * boilerplate). Survivors re-join with `\n`. Document-level C4 rules
  * (lorem ipsum, curly braces, minimum surviving lines) stay declarative
  * in [[graft.pipeline.TrainingData.c4Clean]] — they need the RAW text,
  * not the per-line scan. Bit-identical to `c4CleanLinesHof` in
  * src/test/scala/graft/HofTwins.scala, the differential oracle;
  * the whitespace set is java-regex `\s` (space, tab, \x0B, \f, \r —
  * \n cannot occur inside a split line), NOT `Character.isWhitespace`,
  * so kernel, HOF twin, and an RE2-based SQL oracle agree on every
  * input. */
case class C4CleanExpr(child: Expression, minWords: Int)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "c4_clean_lines"
  override protected def kernel: Kernel = Kernel("clean", minWords)

  override protected def withNewChildInternal(c: Expression): C4CleanExpr =
    copy(child = c)
}

object C4CleanExpr {

  /** java-regex `\s` minus `\n` (a split line cannot contain one). */
  private def isSp(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\u000B' || c == '\f' || c == '\r'

  /** The per-line C4 keep rule — shared by the kernel and the tests. */
  def keepLine(l: String, minWords: Int): Boolean = {
    var e = l.length - 1
    while (e >= 0 && isSp(l.charAt(e))) e -= 1
    if (e < 0) return false
    val c = l.charAt(e)
    if (c != '.' && c != '!' && c != '?' && c != '"') return false
    var words = 0
    var i = 0
    var in = false
    while (i <= e && words < minWords) {
      if (isSp(l.charAt(i))) in = false
      else if (!in) { words += 1; in = true }
      i += 1
    }
    if (words < minWords) return false
    l.toLowerCase(Locale.ROOT).indexOf("javascript") < 0
  }

  def clean(text: UTF8String, minWords: Int): UTF8String = {
    val lines = text.toString.split("\n", -1)
    val sb = new java.lang.StringBuilder
    var first = true
    var i = 0
    while (i < lines.length) {
      if (keepLine(lines(i), minWords)) {
        if (!first) sb.append('\n')
        sb.append(lines(i))
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
