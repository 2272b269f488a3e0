package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowed rolling-hash fingerprint set — the edit-robust document
  * fingerprint (winnowing, Schleimer/Wilkerson/Aiken SIGMOD'03, the MOSS
  * algorithm): Rabin–Karp hashes of every K-codepoint gram (base B, mod M),
  * then the minimum hash of each W-wide hash window, distinct, sorted
  * ascending. Two documents sharing any K..(K+W-1)-codepoint substring are
  * guaranteed a common fingerprint, so the set joins like an inverted index
  * for substring-level dedup (vs the order-insensitive whole-document md5 of
  * `textfns.fingerprint`).
  *
  * O(n) per document: the rolling-hash update plus a monotonic-deque window
  * minimum (the declarative twin `winnowFpsHof` in
  * src/test/scala/graft/HofTwins.scala
  * recomputes each gram in full, O(n·K), and each window minimum O(n·W) —
  * it stays as the differential oracle, and the DuckDB replay uses the same
  * Σ c·B^j mod M arithmetic, which never leaves the BIGINT range because
  * every power is pre-reduced mod M).
  *
  * Documents shorter than K+W−1 codepoints (no complete window) fingerprint
  * to the empty set.
  */
case class WinnowFpExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with KernelCall {

  require(k >= 1 && w >= 1, s"winnow_fps needs k,w >= 1; got k=$k w=$w")

  override def inputTypes: Seq[InputType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"
  override protected def kernel: Kernel = Kernel("fingerprints", k, w)

  override protected def withNewChildInternal(c: Expression): WinnowFpExpr =
    copy(child = c)
}

object WinnowFpExpr {
  /** Hash base/modulus. Overflow margin: the largest intermediate is the
    * rolled-off head product code·(B^(k-1) mod M) ≤ 0x10FFFF·(M−1) ≈
    * 1.2e15, and the window product 2M·B ≈ 2.6e11 — both far inside
    * signed-64. Raising M toward 2^31 keeps code·M ≈ 2.4e15 safe; any
    * larger modulus needs this bound re-checked. */
  val B = 131L
  val M = 1000000007L

  /** (B^(k-1-j) mod M) for j in [0, k) — THE powers table: the codegen
    * kernel, the HOF twin, and the DuckDB oracle must all derive their
    * weights from here or their hashes silently diverge. */
  def pows(k: Int): IndexedSeq[Long] = {
    val p = new Array[Long](k)
    p(k - 1) = 1L
    var j = k - 2
    while (j >= 0) { p(j) = p(j + 1) * B % M; j -= 1 }
    p.toIndexedSeq
  }

  /** B^(k-1) mod M — the weight rolled off the window head. */
  def headPow(k: Int): Long = pows(k)(0)

  def fingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    val cps = s.codePoints().toArray
    val nh = cps.length - k + 1
    if (nh < w) return new GenericArrayData(Array.empty[Long])

    // Rabin–Karp rolling hashes of every k-gram.
    val hashes = new Array[Long](nh)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * B + cps(i)) % M; i += 1 }
    hashes(0) = h
    val p0 = headPow(k)
    i = 1
    while (i < nh) {
      h = ((h + M - cps(i - 1) * p0 % M) % M * B + cps(i + k - 1)) % M
      hashes(i) = h
      i += 1
    }

    // Monotonic-deque sliding minimum over windows of w hashes.
    val fps = new java.util.TreeSet[java.lang.Long]()
    val deque = new Array[Int](nh)
    var head = 0
    var tail = 0 // deque holds indices of a non-decreasing hash run
    i = 0
    while (i < nh) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) fps.add(hashes(deque(head)))
      i += 1
    }
    val out = new Array[Long](fps.size)
    val it = fps.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}
