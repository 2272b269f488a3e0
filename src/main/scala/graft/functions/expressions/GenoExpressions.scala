package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import KernelCall.{Geno, Integral, Longs, Strings}

/** Codegen'd genotype kernels.
  *
  * The genotype cube (`geno ARRAY<ARRAY<BIGINT>>`, outer = sample, inner =
  * ploidy allele indices, null = missing call) is the hot column of every
  * per-variant aggregate. Spark's higher-order functions (transform /
  * filter / aggregate) are CodegenFallback — interpreted per row with
  * per-lambda variable binding — which made the declarative kernels the
  * bottleneck at bench scale. Each expression here keeps its kernel as one
  * Scala loop on its companion object, which [[KernelCall]] calls from
  * both the interpreted `eval` and the generated code, the same motivation
  * as the reference's SIMD kernels (src/vectorization.h:304-438,
  * src/Methods.cpp:122-801); the declarative versions remain in
  * src/test/scala/graft/HofTwins.scala as `*Hof` reference implementations
  * for differential testing.
  *
  * Null conventions (reference 0xFF/NA, src/Index.h:56): a null allele is a
  * missing call; a null inner array counts as one missing call contributing
  * no allele slots.
  */

/** Per-variant counts in one pass: [n_total_slots, n_called, ac_k,
  * n_miss_calls, n_miss_alleles] (fused seqAlleleFreq/seqAlleleCount/
  * seqMissing — the reference's seqGetAF_AC_Missing,
  * src/Methods.cpp:897-979). `k` is the counted allele index. */
case class GenoStats(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Geno, Integral)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "geno_stats"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GenoStats =
    copy(left = newLeft, right = newRight)
}

object GenoStats {
  def eval(geno: ArrayData, k: Long): ArrayData = {
    var total = 0L; var called = 0L; var ack = 0L
    var missCalls = 0L; var missAlleles = 0L
    var i = 0
    val n = geno.numElements()
    while (i < n) {
      if (geno.isNullAt(i)) missCalls += 1
      else {
        val sa = geno.getArray(i)
        var anyNull = false
        var j = 0
        val m = sa.numElements()
        while (j < m) {
          total += 1
          if (sa.isNullAt(j)) { anyNull = true; missAlleles += 1 }
          else { called += 1; if (sa.getLong(j) == k) ack += 1 }
          j += 1
        }
        if (anyNull) missCalls += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      Array(total, called, ack, missCalls, missAlleles))
  }
}

/** Per-sample missing-allele counts: ARRAY<INT>, one entry per sample
  * (-1 when the sample's call array is null — ploidy unknown). The
  * per-sample margin kernel (FC_Missing_PerSamp, src/Methods.cpp:122-293)
  * minus the shuffle: explode this and aggregate by ordinal. */
case class MissAllelesPerSample(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Geno)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "miss_per_sample"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildInternal(c: Expression): MissAllelesPerSample =
    copy(child = c)
}

object MissAllelesPerSample {
  def eval(geno: ArrayData): ArrayData = {
    val out = new Array[Int](geno.numElements())
    var i = 0
    while (i < out.length) {
      if (geno.isNullAt(i)) out(i) = -1
      else {
        val sa = geno.getArray(i)
        var c = 0; var j = 0
        while (j < sa.numElements()) { if (sa.isNullAt(j)) c += 1; j += 1 }
        out(i) = c
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Per-sample alt-allele dosage: ARRAY<BIGINT> with null for samples having
  * any missing allele ($dosage_alt, src/GetData.cpp:311-410). */
case class DosageAltExpr(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Geno)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "dosage_alt"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildInternal(c: Expression): DosageAltExpr =
    copy(child = c)
}

object DosageAltExpr {
  def eval(geno: ArrayData): ArrayData = {
    val out = new Array[Any](geno.numElements())
    var i = 0
    while (i < out.length) {
      if (geno.isNullAt(i)) out(i) = null
      else {
        val sa = geno.getArray(i)
        var d = 0L; var miss = false; var j = 0
        while (j < sa.numElements()) {
          if (sa.isNullAt(j)) miss = true
          else if (sa.getLong(j) != 0L) d += 1
          j += 1
        }
        out(i) = if (miss) null else java.lang.Long.valueOf(d)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `$dosage_alt2` — alt dosage COUNTING through partial missingness
  * (src/GetData.cpp:379-415, kernel vec_i32_cnt_dosage_alt2_p,
  * src/vectorization.cpp:2030-2104): a call is null only when EVERY
  * allele is missing; a half-missing call contributes its known non-ref
  * alleles. */
case class DosageAlt2Expr(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Geno)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "dosage_alt2"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildInternal(c: Expression): DosageAlt2Expr =
    copy(child = c)
}

object DosageAlt2Expr {
  def eval(geno: ArrayData): GenericArrayData = {
    val out = new Array[Any](geno.numElements())
    var i = 0
    while (i < out.length) {
      if (geno.isNullAt(i)) out(i) = null
      else {
        val sa = geno.getArray(i)
        var d = 0L
        var known = 0
        var j = 0
        while (j < sa.numElements()) {
          if (!sa.isNullAt(j)) {
            known += 1
            if (sa.getLong(j) != 0L) d += 1
          }
          j += 1
        }
        out(i) = if (known == 0) null else java.lang.Long.valueOf(d)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Diploid group-count triple [n_called, alt_allele_count, n_het] over
  * the sample range [lo, hi) in ONE fused loop — the Weir–Cockerham /
  * Hudson per-group input (FC_* group scans, src/Methods.cpp:122-801).
  * A sample is called when its call array has both first alleles
  * non-null (a null or short call array counts as missing — diploid
  * contract, matching the unrolled `alleleAt(s, 0/1)` algebra this
  * kernel replaces: the 6·|group|-term unroll overflowed the 64 KB
  * generated-method limit at 90 CEU samples and dropped the whole
  * stage to interpreted execution). */
case class GroupGenoCounts(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] =
    Seq(Geno, Integral, Integral)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "group_geno_counts"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): GroupGenoCounts = copy(first = f, second = s, third = t)
}

object GroupGenoCounts {
  def eval(geno: ArrayData, lo: Int, hi: Int): ArrayData = {
    val end = math.min(hi, geno.numElements())
    var c = 0L; var x = 0L; var h = 0L
    var i = math.max(lo, 0)
    while (i < end) {
      if (!geno.isNullAt(i)) {
        val sa = geno.getArray(i)
        if (sa.numElements() >= 2 && !sa.isNullAt(0) && !sa.isNullAt(1)) {
          c += 1
          val alt = (if (sa.getLong(0) != 0L) 1L else 0L) +
            (if (sa.getLong(1) != 0L) 1L else 0L)
          x += alt
          if (alt == 1L) h += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(c, x, h))
  }
}

/** Allele-level group-count pair [n_called_alleles, n_alt_alleles]
  * over the sample range [lo, hi) in one fused loop — the Hudson-Fst
  * per-group input ([[GroupGenoCounts]]'s allele-level sibling: here
  * every non-null allele slot counts independently, any ploidy). */
case class GroupAlleleCounts(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] =
    Seq(Geno, Integral, Integral)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "group_allele_counts"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): GroupAlleleCounts = copy(first = f, second = s, third = t)
}

object GroupAlleleCounts {
  def eval(geno: ArrayData, lo: Int, hi: Int): ArrayData = {
    val end = math.min(hi, geno.numElements())
    var c = 0L; var a = 0L
    var i = math.max(lo, 0)
    while (i < end) {
      if (!geno.isNullAt(i)) {
        val sa = geno.getArray(i)
        var j = 0
        val m = sa.numElements()
        while (j < m) {
          if (!sa.isNullAt(j)) {
            c += 1
            if (sa.getLong(j) != 0L) a += 1
          }
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(c, a))
  }
}

/** All samples' VCF GT strings joined with `sep` in one fused loop:
  * "0/1;1|2;./." (the seqGDS2VCF formatters, src/ConvGDS2VCF.cpp:571-989,
  * collapsed to a single pass). Missing allele → "."; null sample array →
  * "."; null/absent phase → "/". [[SampleCellsJoined]] with no FORMAT
  * fields. */
case class GtStringsJoined(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] =
    Seq(Geno, ArrayType(BooleanType), StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "gt_strings"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): GtStringsJoined = copy(first = f, second = s, third = t)
}

object GtStringsJoined {
  private val NoFields = new Array[ArrayData](0)

  def eval(geno: ArrayData, phased: ArrayData, sep: UTF8String): UTF8String =
    SampleCellsJoined.eval(geno, phased, sep, NoFields)
}

/** Per-sample VCF cells `GT[:f1][:f2]…` joined by `sep` — the FORMAT
  * export kernel (seqGDS2VCF with annotation/format fields, reference
  * `src/ConvGDS2VCF.cpp:571-989`). Children: geno, phased, sep, then one
  * ARRAY<STRING> per FORMAT field carrying each sample's cell text (a
  * null element or null column renders "."). One kernel call per row
  * with the field columns passed as one array; the plan grows with the
  * FIELD count, never the sample count — biobank-width safe where
  * per-sample expression unrolling is not. */
case class SampleCellsJoined(children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  private def geno = children(0)
  private def phased = children(1)
  private def sep = children(2)
  private def fields = children.drop(3)

  override def nullable: Boolean =
    geno.nullable || phased.nullable || sep.nullable

  override def inputTypes: Seq[InputType] =
    Seq(Geno, ArrayType(BooleanType), StringType) ++ fields.map(_ => Strings)

  override def dataType: DataType = StringType
  override def prettyName: String = "sample_cells"

  override def eval(input: InternalRow): Any = {
    val g = geno.eval(input)
    val p = phased.eval(input)
    val s = sep.eval(input)
    if (g == null || p == null || s == null) null
    else SampleCellsJoined.eval(g.asInstanceOf[ArrayData],
      p.asInstanceOf[ArrayData], s.asInstanceOf[UTF8String],
      fields.map(_.eval(input).asInstanceOf[ArrayData]).toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val gEv = geno.genCode(ctx)
    val pEv = phased.genCode(ctx)
    val sEv = sep.genCode(ctx)
    val fEvs = fields.map(_.genCode(ctx))
    val fieldValues = fEvs.map(f => s"${f.isNull} ? null : ${f.value}")
      .mkString(", ")
    val fieldChildCode = fEvs.map(_.code)
      .foldLeft(code"")((acc, c) => code"$acc\n$c")
    ev.copy(code = code"""
      |${gEv.code}
      |${pEv.code}
      |${sEv.code}
      |$fieldChildCode
      |boolean ${ev.isNull} = ${gEv.isNull} || ${pEv.isNull} || ${sEv.isNull};
      |org.apache.spark.unsafe.types.UTF8String ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.expressions.SampleCellsJoined$$.MODULE$$
      |    .eval(${gEv.value}, ${pEv.value}, ${sEv.value},
      |      new org.apache.spark.sql.catalyst.util.ArrayData[] {$fieldValues});
      |}
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SampleCellsJoined =
    copy(children = newChildren)
}

object SampleCellsJoined {
  def eval(geno: ArrayData, phased: ArrayData, sep: UTF8String,
      fields: Array[ArrayData]): UTF8String = {
    val sepStr = sep.toString
    val sb = new java.lang.StringBuilder()
    var i = 0
    val n = geno.numElements()
    while (i < n) {
      if (i > 0) sb.append(sepStr)
      if (geno.isNullAt(i)) sb.append('.')
      else {
        val sa = geno.getArray(i)
        val ph = i < phased.numElements() && !phased.isNullAt(i) &&
          phased.getBoolean(i)
        var j = 0
        val m = sa.numElements()
        while (j < m) {
          if (j > 0) sb.append(if (ph) '|' else '/')
          if (sa.isNullAt(j)) sb.append('.') else sb.append(sa.getLong(j))
          j += 1
        }
      }
      var k = 0
      while (k < fields.length) {
        sb.append(':')
        val arr = fields(k)
        if (arr == null || i >= arr.numElements() || arr.isNullAt(i))
          sb.append('.')
        else sb.append(arr.getUTF8String(i).toString)
        k += 1
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** f2-sharing carrier kernel: [sum_alt, min_carrier, max_carrier] over a
  * collapsed-dosage array (`ARRAY<BIGINT>`, null = missing) in ONE fused
  * loop — carrier = dosage > 0, missing contributes 0 to the sum, min/max
  * are −1 when no carrier exists. The unrolled balanced-tree twin
  * (`PopGen.balanced`) stays inside codegen but its ~3·S generated terms
  * top out at the 64 KB method limit near S ≈ 1000 — observed live: the
  * 1092-sample 1KG doubleton scan (q226) silently fell back to
  * interpreted execution; this loop is O(1) generated code at any cohort
  * width. */
case class F2Carriers(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Longs)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "f2_carriers"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildInternal(c: Expression): F2Carriers =
    copy(child = c)
}

object F2Carriers {
  def eval(d: ArrayData): ArrayData = {
    var a = 0L; var mn = -1L; var mx = -1L
    var i = 0
    val n = d.numElements()
    while (i < n) {
      if (!d.isNullAt(i)) {
        val v = d.getLong(i)
        a += v
        if (v > 0L) { if (mn < 0L) mn = i; mx = i }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(a, mn, mx))
  }
}
