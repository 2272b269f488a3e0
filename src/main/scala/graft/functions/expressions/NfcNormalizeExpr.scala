package graft.functions.expressions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC canonical normalization — the text-cleaning pass every
  * large-corpus pipeline runs before dedup/tokenization (decomposed
  * e + U+0301 and composed é are the SAME text to a tokenizer but
  * different bytes to an exact-hash dedup; normalizing first is what
  * makes content-addressed dedup honest). Fused codegen wrapper over
  * the JDK's `java.text.Normalizer` (Unicode canonical composition —
  * the same algorithm DuckDB's utf8proc `nfc_normalize` implements,
  * which is what makes an exact cross-engine oracle possible).
  * Reference-adjacent: SeqArray's string annotations pass through
  * untouched bytes; a Spark-side corpus engine owns this step. */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override protected def kernel: Kernel = Kernel("nfc")

  override protected def withNewChildInternal(c: Expression): NfcNormalizeExpr =
    copy(child = c)
}

object NfcNormalizeExpr {
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    // isNormalized is a cheap scan; the common (already-NFC) case
    // allocates nothing and returns the input bytes untouched
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }
}
