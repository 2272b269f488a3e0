package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._

import KernelCall.Strings

/** Fused VCF genotype-cell parser: all samples' `GT[:...]` cells →
  * struct(geno ARRAY<ARRAY<BIGINT>>, phased ARRAY<BOOLEAN>) in one pass.
  *
  * The declarative formulation (per-sample split/transform chains) is
  * interpreted per sample per row (HOFs are CodegenFallback) and dominated
  * the VCF-import bench; this is the C tokenizer of the reference's
  * seqVCF2GDS (src/ConvVCF2GDS.cpp:1736-1887) in expression form. The
  * generated code calls [[ParseGtCells.parse]] — a plain static loop — so
  * rows stay inside whole-stage codegen.
  *
  * Semantics (must match graft.sources.Vcf's declarative path): null cell
  * or absent GT field → null sample array + unphased; "." or "" allele →
  * null; phased iff the GT string contains '|'.
  */
case class ParseGtCells(left: Expression, right: Expression,
    nSamples: Int) extends BinaryExpression with KernelCall {

  require(nSamples >= 0, "nSamples must be >= 0")

  override def inputTypes: Seq[InputType] =
    Seq(Strings, Bridge.anyOf(IntegerType, LongType))

  override def dataType: DataType = StructType(Seq(
    StructField("geno",
      ArrayType(ArrayType(LongType, containsNull = true), containsNull = true),
      nullable = false),
    StructField("phased", ArrayType(BooleanType, containsNull = false),
      nullable = false)))

  override def prettyName: String = "parse_gt_cells"
  override protected def kernel: Kernel = Kernel("parse", nSamples)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ParseGtCells =
    copy(left = newLeft, right = newRight)
}

object ParseGtCells {

  /** Static parse loop invoked from generated code. `gtIdx` is the 1-based
    * position of GT in the FORMAT column (≤0 = absent). The output cube
    * always has `nSamples` entries — a truncated body line pads with
    * missing calls, so per-sample indexing never walks off a short
    * array (same contract as [[ParseFmtCells]]). */
  def parse(cells: ArrayData, gtIdx: Int, nSamples: Int): InternalRow = {
    val n = cells.numElements()
    val geno = new Array[Any](nSamples)
    val phased = new Array[Any](nSamples)
    var i = 0
    while (i < nSamples) {
      var ph = false
      if (i >= n || cells.isNullAt(i) || gtIdx <= 0) geno(i) = null
      else {
        val cell = cells.getUTF8String(i).toString
        val parts = cell.split(":", -1)
        if (gtIdx > parts.length) geno(i) = null
        else {
          val gt = parts(gtIdx - 1)
          ph = gt.indexOf('|') >= 0
          val toks = gt.split("[/|]", -1)
          val al = new Array[Any](toks.length)
          var j = 0
          while (j < toks.length) {
            al(j) =
              if (toks(j).isEmpty || toks(j) == ".") null
              // malformed allele token -> missing, never an exception
              // (one corrupt GT cell must not kill a 100 TB import)
              else toks(j).toLongOption
                .map(java.lang.Long.valueOf).orNull
            j += 1
          }
          geno(i) = new GenericArrayData(al)
        }
      }
      phased(i) = ph
      i += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(geno), new GenericArrayData(phased)))
  }
}
