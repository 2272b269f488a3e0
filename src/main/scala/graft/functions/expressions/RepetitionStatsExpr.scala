package graft.functions.expressions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass Gopher repetition signals (Rae et al. 2021 §A.1.1):
  * `[n_words, chars, max_run, top2_chars, dup5_chars]` per document —
  * token count, total token codepoints, longest same-word run, codepoints
  * covered by the most frequent bigram's occurrences (ties → binary-
  * smallest gram, the SQL `ORDER BY cnt DESC, gram`), and codepoints
  * covered by 5-grams occurring ≥ 2 times (positional union — an
  * occurrence covers its 5 token slots; overlaps count once).
  *
  * Replaces the declarative shape ([[graft.pipeline.TrainingData
  * .repetitionStatsDeclarative]], kept as the differential twin): that
  * plan pays ~6 doc_id-keyed shuffles (posexplode → window → three
  * groupBy/join rounds); this kernel is a pure projection — O(tokens)
  * per row, zero exchanges, fuses into the scan.
  *
  * Tokenization matches `textfns.tokens` (`split("\\s+")`, empties
  * dropped); lengths count CODEPOINTS (Spark's `length`), so the SQL
  * oracle's `length(word)` replays exactly.
  */
case class RepetitionStatsExpr(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "repetition_stats"
  override protected def kernel: Kernel = Kernel("stats")

  override protected def withNewChildInternal(c: Expression)
      : RepetitionStatsExpr = copy(child = c)
}

object RepetitionStatsExpr {

  private def binaryLt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  /** Positional-union covered codepoints of the selected grams: every
    * selected start covers `k` token slots; a slot counts once. */
  private def coverage(starts: Array[Boolean], lens: Array[Int], k: Int)
      : Long = {
    val n = lens.length
    var total = 0L
    // sliding "covered until" bound instead of a boolean array pass
    var coveredUntil = -1
    var i = 0
    while (i < starts.length) {
      if (starts(i)) {
        val from = math.max(i, coveredUntil + 1)
        var j = from
        val to = i + k - 1
        while (j <= to && j < n) { total += lens(j); j += 1 }
        if (to > coveredUntil) coveredUntil = to
      }
      i += 1
    }
    total
  }

  def stats(text: UTF8String): UnsafeArrayData = {
    val toks0 = text.toString.split("\\s+")
    var m = 0
    var i = 0
    while (i < toks0.length) {
      if (toks0(i).nonEmpty) { toks0(m) = toks0(i); m += 1 }
      i += 1
    }
    val n = m
    val lens = new Array[Int](n)
    var chars = 0L
    i = 0
    while (i < n) {
      lens(i) = toks0(i).codePointCount(0, toks0(i).length)
      chars += lens(i)
      i += 1
    }
    // longest identical-word run
    var maxRun = 0L
    var run = 0
    i = 0
    while (i < n) {
      run = if (i > 0 && toks0(i) == toks0(i - 1)) run + 1 else 1
      if (run > maxRun) maxRun = run
      i += 1
    }
    // most frequent bigram's coverage
    var top2 = 0L
    if (n >= 2) {
      val grams = new Array[String](n - 1)
      val counts = new mutable.HashMap[String, Int]()
      i = 0
      while (i < n - 1) {
        val g = toks0(i) + " " + toks0(i + 1)
        grams(i) = g
        counts.update(g, counts.getOrElse(g, 0) + 1)
        i += 1
      }
      var best: String = null
      var bestC = 0
      counts.foreach { case (g, c) =>
        if (c > bestC || (c == bestC && binaryLt(g, best))) {
          best = g; bestC = c
        }
      }
      val starts = new Array[Boolean](n - 1)
      i = 0
      while (i < n - 1) { starts(i) = grams(i) == best; i += 1 }
      top2 = coverage(starts, lens, 2)
    }
    // duplicated (count >= 2) 5-gram coverage
    var dup5 = 0L
    if (n >= 5) {
      val grams = new Array[String](n - 4)
      val counts = new mutable.HashMap[String, Int]()
      i = 0
      while (i < n - 4) {
        val sb = new java.lang.StringBuilder(toks0(i))
        var j = i + 1
        while (j <= i + 4) { sb.append(' ').append(toks0(j)); j += 1 }
        val g = sb.toString
        grams(i) = g
        counts.update(g, counts.getOrElse(g, 0) + 1)
        i += 1
      }
      val starts = new Array[Boolean](n - 4)
      i = 0
      while (i < n - 4) { starts(i) = counts(grams(i)) >= 2; i += 1 }
      dup5 = coverage(starts, lens, 5)
    }
    UnsafeArrayData.fromPrimitiveArray(
      Array(n.toLong, chars, maxRun, top2, dup5))
  }
}
