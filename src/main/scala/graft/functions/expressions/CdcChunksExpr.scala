package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (CDC) — the rolling-hash chunker behind
  * rsync/LBFS (Muthitacharoen et al., SOSP'01) and dedup stores: a document
  * is cut wherever the Rabin–Karp hash of the trailing K-codepoint gram is
  * ≡ 0 (mod D), so chunk boundaries are anchored to CONTENT, not offsets —
  * inserting a paragraph shifts every byte after it, yet all chunks outside
  * the edited region keep their identity. That makes chunk-fingerprint
  * dedup robust to prepended headers / appended footers where whole-doc
  * fingerprints (q32) see brand-new documents.
  *
  * Output: the md5 hex of each chunk, in document order (the fingerprints
  * are what chunk-level dedup joins on; the chunk text itself never needs
  * to shuffle). Expected chunk length ≈ D codepoints. A gram ending at the
  * last codepoint never cuts (no empty trailing chunk); a document shorter
  * than K is one whole-document chunk; the empty document has no chunks.
  *
  * Shares the Rabin–Karp base/modulus/powers table with
  * [[WinnowFpExpr]] — kernel, declarative twin (`cdcChunksHof` in
  * src/test/scala/graft/HofTwins.scala) and the DuckDB oracle must
  * all derive weights from [[WinnowFpExpr.pows]] or they silently diverge.
  */
case class CdcChunksExpr(child: Expression, k: Int, d: Int)
    extends UnaryExpression with KernelCall {

  require(k >= 1 && d >= 1, s"cdc_chunks needs k,d >= 1; got k=$k d=$d")

  override def inputTypes: Seq[InputType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"
  override protected def kernel: Kernel = Kernel("chunks", k, d)

  override protected def withNewChildInternal(c: Expression): CdcChunksExpr =
    copy(child = c)
}

object CdcChunksExpr {
  import WinnowFpExpr.{B, M}

  private val HEX = "0123456789abcdef".toCharArray

  private def md5hex(s: String): UTF8String = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((dig(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(dig(i) & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  def chunks(text: UTF8String, k: Int, d: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val fps = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var start = 0 // 0-based start of the current chunk
    val nh = n - k + 1
    if (nh >= 1) {
      // O(n) rolling hash; cut AFTER the gram end when hash % d == 0,
      // except a gram ending at the final codepoint (empty tail chunk).
      val p0 = WinnowFpExpr.headPow(k)
      var h = 0L
      var i = 0
      while (i < k) { h = (h * B + cps(i)) % M; i += 1 }
      i = 0 // gram index: gram i covers cps[i .. i+k-1]
      while (i < nh) {
        if (h % d == 0 && i + k < n) {
          fps += md5hex(new String(cps, start, i + k - start))
          start = i + k
        }
        if (i + 1 < nh)
          h = ((h + M - cps(i) * p0 % M) % M * B + cps(i + k)) % M
        i += 1
      }
    }
    fps += md5hex(new String(cps, start, n - start))
    new GenericArrayData(fps.toArray[AnyRef])
  }
}
