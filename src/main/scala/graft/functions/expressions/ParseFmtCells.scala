package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import KernelCall.Strings

/** Fused per-sample FORMAT-field parser — the fmt_* half of the VCF body
  * parse in ONE generated loop (companion of [[ParseGtCells]], which fused
  * the genotype half). The declarative version unrolls `split`/`element_at`
  * /`transform` chains PER SAMPLE, so the expression tree — and the
  * generated method count — grows O(nSamples · nFields): fine at 8
  * samples, fatal at biobank width. This kernel's plan size is O(1) per
  * field at any cohort width.
  *
  * Input: the sample cell strings (`slice(fields, 10, n)`) and the
  * field's 1-based position in the FORMAT column (≤ 0 = absent → all-null
  * column, matching the unrolled `when(idx > 0, …)`). `number`/`vtype`
  * are compile-time config: Number=1 yields ARRAY<scalar>, anything else
  * ARRAY<ARRAY<scalar>> (comma-split); Integer casts via
  * `UTF8String.toInt` — the same routine Spark's non-ANSI string cast
  * uses — and Float via the special-literal-aware parse, so the kernel
  * and the `cast`-based twin agree value-for-value
  * (`ParseFmtCellsSpec`). */
case class ParseFmtCells(left: Expression, right: Expression,
    number: String, vtype: String, nSamples: Int)
    extends BinaryExpression with KernelCall {

  require(nSamples >= 0, "nSamples must be >= 0")

  override def inputTypes: Seq[InputType] =
    Seq(Strings, Bridge.anyOf(IntegerType, LongType))

  private def scalarDt: DataType = vtype match {
    case "Integer" => IntegerType
    case "Float" => FloatType
    case _ => StringType
  }

  override def dataType: DataType =
    if (number == "1") ArrayType(scalarDt, containsNull = true)
    else ArrayType(ArrayType(scalarDt, containsNull = true),
      containsNull = true)

  override def prettyName: String = "parse_fmt_cells"

  private def vcode: Int = vtype match {
    case "Integer" => 0
    case "Float" => 1
    case _ => 2
  }

  override protected def kernel: Kernel =
    Kernel("parse", number == "1", vcode, nSamples)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ParseFmtCells =
    copy(left = newLeft, right = newRight)
}

object ParseFmtCells {

  /** Mirrors the twin's TRY casts: Integer = string→double→int (accepts
    * float-formatted integers, truncates toward zero, null outside the
    * int range), Float = special-literal-aware parse — null on
    * malformed, never an error. */
  private def castOne(raw: String, vcode: Int): Any = {
    def asDouble(t: String): java.lang.Double = {
      val mapped = t.toLowerCase match {
        case "inf" | "+inf" | "infinity" | "+infinity" => "Infinity"
        case "-inf" | "-infinity" => "-Infinity"
        case "nan" => "NaN"
        case _ => t
      }
      try java.lang.Double.valueOf(java.lang.Double.parseDouble(mapped))
      catch { case _: NumberFormatException => null }
    }
    vcode match {
      case 0 =>
        val d = asDouble(raw.trim)
        if (d == null || d.isNaN
            || math.floor(d) > Int.MaxValue.toDouble
            || math.ceil(d) < Int.MinValue.toDouble) null
        else java.lang.Integer.valueOf(d.toInt)
      case 1 =>
        // direct parseFloat, NOT via double (double→float double-rounds
        // some decimal strings; the TRY float cast parses directly)
        val t = raw.trim
        val mapped = t.toLowerCase match {
          case "inf" | "+inf" | "infinity" | "+infinity" => "Infinity"
          case "-inf" | "-infinity" => "-Infinity"
          case "nan" => "NaN"
          case _ => t
        }
        try java.lang.Float.valueOf(java.lang.Float.parseFloat(mapped))
        catch { case _: NumberFormatException => null }
      case _ => UTF8String.fromString(raw)
    }
  }

  /** Static parse loop invoked from generated code. `idx` is the 1-based
    * field position in FORMAT (≤ 0 = absent). The output always has
    * `nSamples` entries: a truncated body line (fewer sample columns
    * than the header promises) pads with nulls, so per-sample indexing
    * downstream never walks off a short array. */
  def parse(cells: ArrayData, idx: Int, scalar: Boolean, vcode: Int,
      nSamples: Int): GenericArrayData = {
    val n = cells.numElements()
    val out = new Array[Any](nSamples)
    var i = 0
    while (i < nSamples) {
      var v: Any = null
      if (i < n && idx > 0 && !cells.isNullAt(i)) {
        val parts = cells.getUTF8String(i).toString.split(":", -1)
        if (idx <= parts.length) {
          val raw = parts(idx - 1)
          if (raw.nonEmpty && raw != ".") {
            if (scalar) v = castOne(raw, vcode)
            else {
              val items = raw.split(",", -1)
              val arr = new Array[Any](items.length)
              var j = 0
              while (j < items.length) {
                arr(j) = if (items(j) == ".") null else castOne(items(j), vcode)
                j += 1
              }
              v = new GenericArrayData(arr)
            }
          }
        }
      }
      out(i) = v
      i += 1
    }
    new GenericArrayData(out)
  }
}
