package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd genotype kernels.
  *
  * The genotype cube (`geno ARRAY<ARRAY<BIGINT>>`, outer = sample, inner =
  * ploidy allele indices, null = missing call) is the hot column of every
  * per-variant aggregate. Spark's higher-order functions (transform /
  * filter / aggregate) are CodegenFallback — interpreted per row with
  * per-lambda variable binding — which made the declarative kernels the
  * bottleneck at bench scale. These expressions fuse each kernel into one
  * generated loop, the same motivation as the reference's SIMD kernels
  * (/root/reference/src/vectorization.h:304-438, src/Methods.cpp:122-801);
  * the declarative versions remain in src/test/scala/graft/HofTwins.scala as
  * `*Hof` reference implementations for differential testing.
  *
  * Null conventions (reference 0xFF/NA, src/Index.h:56): a null allele is a
  * missing call; a null inner array counts as one missing call contributing
  * no allele slots.
  */
private[graft] trait GenoInput { self: Expression =>
  protected def genoOk(e: Expression): Boolean = e.dataType match {
    case ArrayType(ArrayType(LongType, _), _) => true
    case _ => false
  }
}

/** Per-variant counts in one pass: [n_total_slots, n_called, ac_k,
  * n_miss_calls, n_miss_alleles] (fused seqAlleleFreq/seqAlleleCount/
  * seqMissing — the reference's seqGetAF_AC_Missing,
  * src/Methods.cpp:897-979). `k` is the counted allele index. */
case class GenoStats(left: Expression, right: Expression)
    extends BinaryExpression with GenoInput {

  override def checkInputDataTypes(): TypeCheckResult = {
    val kOk = right.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (genoOk(left) && kOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"geno_stats(ARRAY<ARRAY<BIGINT>>, integral k); got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "geno_stats"

  override protected def nullSafeEval(g: Any, kAny: Any): Any = {
    val geno = g.asInstanceOf[ArrayData]
    val k = kAny.asInstanceOf[Number].longValue()
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, k) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val sa = ctx.freshName("sa"); val anyNull = ctx.freshName("anyNull")
      val t = ctx.freshName("t"); val c = ctx.freshName("c")
      val a = ctx.freshName("a"); val mc = ctx.freshName("mc")
      val ma = ctx.freshName("ma")
      s"""
         |long $t = 0L, $c = 0L, $a = 0L, $mc = 0L, $ma = 0L;
         |for (int $i = 0; $i < $g.numElements(); $i++) {
         |  if ($g.isNullAt($i)) { $mc++; continue; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $sa = $g.getArray($i);
         |  boolean $anyNull = false;
         |  for (int $j = 0; $j < $sa.numElements(); $j++) {
         |    $t++;
         |    if ($sa.isNullAt($j)) { $anyNull = true; $ma++; }
         |    else { $c++; if ($sa.getLong($j) == (long) $k) $a++; }
         |  }
         |  if ($anyNull) $mc++;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(new long[]{$t, $c, $a, $mc, $ma});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GenoStats =
    copy(left = newLeft, right = newRight)
}

/** Per-sample missing-allele counts: ARRAY<INT>, one entry per sample
  * (-1 when the sample's call array is null — ploidy unknown). The
  * per-sample margin kernel (FC_Missing_PerSamp, src/Methods.cpp:122-293)
  * minus the shuffle: explode this and aggregate by ordinal. */
case class MissAllelesPerSample(child: Expression)
    extends UnaryExpression with GenoInput {

  override def checkInputDataTypes(): TypeCheckResult =
    if (genoOk(child)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"miss_per_sample(ARRAY<ARRAY<BIGINT>>); got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "miss_per_sample"

  override protected def nullSafeEval(g: Any): Any = {
    val geno = g.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val sa = ctx.freshName("sa"); val c = ctx.freshName("c")
      val out = ctx.freshName("out")
      s"""
         |int[] $out = new int[$g.numElements()];
         |for (int $i = 0; $i < $out.length; $i++) {
         |  if ($g.isNullAt($i)) { $out[$i] = -1; continue; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $sa = $g.getArray($i);
         |  int $c = 0;
         |  for (int $j = 0; $j < $sa.numElements(); $j++) {
         |    if ($sa.isNullAt($j)) $c++;
         |  }
         |  $out[$i] = $c;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MissAllelesPerSample =
    copy(child = c)
}

/** Per-sample alt-allele dosage: ARRAY<BIGINT> with null for samples having
  * any missing allele ($dosage_alt, src/GetData.cpp:311-410). */
case class DosageAltExpr(child: Expression)
    extends UnaryExpression with GenoInput {

  override def checkInputDataTypes(): TypeCheckResult =
    if (genoOk(child)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dosage_alt(ARRAY<ARRAY<BIGINT>>); got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "dosage_alt"

  override protected def nullSafeEval(g: Any): Any = {
    val geno = g.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val sa = ctx.freshName("sa"); val d = ctx.freshName("d")
      val miss = ctx.freshName("miss"); val out = ctx.freshName("out")
      s"""
         |Object[] $out = new Object[$g.numElements()];
         |for (int $i = 0; $i < $out.length; $i++) {
         |  if ($g.isNullAt($i)) { $out[$i] = null; continue; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $sa = $g.getArray($i);
         |  long $d = 0L; boolean $miss = false;
         |  for (int $j = 0; $j < $sa.numElements(); $j++) {
         |    if ($sa.isNullAt($j)) $miss = true;
         |    else if ($sa.getLong($j) != 0L) $d++;
         |  }
         |  $out[$i] = $miss ? null : (Object) java.lang.Long.valueOf($d);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): DosageAltExpr =
    copy(child = c)
}

/** `$dosage_alt2` — alt dosage COUNTING through partial missingness
  * (src/GetData.cpp:379-415, kernel vec_i32_cnt_dosage_alt2_p,
  * src/vectorization.cpp:2030-2104): a call is null only when EVERY
  * allele is missing; a half-missing call contributes its known non-ref
  * alleles. */
case class DosageAlt2Expr(child: Expression)
    extends UnaryExpression with GenoInput {

  override def checkInputDataTypes(): TypeCheckResult =
    if (genoOk(child)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dosage_alt2(ARRAY<ARRAY<BIGINT>>); got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "dosage_alt2"

  override protected def nullSafeEval(g: Any): Any =
    DosageAlt2Expr.eval(g.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g =>
      s"""${ev.value} = graft.functions.expressions.DosageAlt2Expr$$.MODULE$$
         |  .eval($g);
       """.stripMargin)

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
    third: Expression) extends TernaryExpression with GenoInput {

  override def checkInputDataTypes(): TypeCheckResult = {
    def intOk(e: Expression) = e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (genoOk(first) && intOk(second) && intOk(third))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "group_geno_counts(ARRAY<ARRAY<BIGINT>>, integral lo, integral hi); " +
        s"got ${children.map(_.dataType.simpleString).mkString(", ")}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "group_geno_counts"

  override protected def nullSafeEval(g: Any, loAny: Any, hiAny: Any): Any = {
    val geno = g.asInstanceOf[ArrayData]
    val lo = loAny.asInstanceOf[Number].intValue()
    val hi = math.min(hiAny.asInstanceOf[Number].intValue(),
      geno.numElements())
    var c = 0L; var x = 0L; var h = 0L
    var i = math.max(lo, 0)
    while (i < hi) {
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, lo, hi) => {
      val i = ctx.freshName("i"); val sa = ctx.freshName("sa")
      val c = ctx.freshName("c"); val x = ctx.freshName("x")
      val h = ctx.freshName("h"); val alt = ctx.freshName("alt")
      val end = ctx.freshName("end")
      s"""
         |long $c = 0L, $x = 0L, $h = 0L;
         |int $end = java.lang.Math.min((int) $hi, $g.numElements());
         |for (int $i = java.lang.Math.max((int) $lo, 0); $i < $end; $i++) {
         |  if ($g.isNullAt($i)) continue;
         |  org.apache.spark.sql.catalyst.util.ArrayData $sa = $g.getArray($i);
         |  if ($sa.numElements() < 2 || $sa.isNullAt(0) || $sa.isNullAt(1))
         |    continue;
         |  $c++;
         |  long $alt = ($sa.getLong(0) != 0L ? 1L : 0L)
         |    + ($sa.getLong(1) != 0L ? 1L : 0L);
         |  $x += $alt;
         |  if ($alt == 1L) $h++;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(new long[]{$c, $x, $h});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): GroupGenoCounts = copy(first = f, second = s, third = t)
}

/** Allele-level group-count pair [n_called_alleles, n_alt_alleles]
  * over the sample range [lo, hi) in one fused loop — the Hudson-Fst
  * per-group input ([[GroupGenoCounts]]'s allele-level sibling: here
  * every non-null allele slot counts independently, any ploidy). */
case class GroupAlleleCounts(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with GenoInput {

  override def checkInputDataTypes(): TypeCheckResult = {
    def intOk(e: Expression) = e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (genoOk(first) && intOk(second) && intOk(third))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "group_allele_counts(ARRAY<ARRAY<BIGINT>>, integral lo, " +
        s"integral hi); got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "group_allele_counts"

  override protected def nullSafeEval(g: Any, loAny: Any, hiAny: Any): Any = {
    val geno = g.asInstanceOf[ArrayData]
    val lo = math.max(loAny.asInstanceOf[Number].intValue(), 0)
    val hi = math.min(hiAny.asInstanceOf[Number].intValue(),
      geno.numElements())
    var c = 0L; var a = 0L
    var i = lo
    while (i < hi) {
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, lo, hi) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val sa = ctx.freshName("sa"); val c = ctx.freshName("c")
      val a = ctx.freshName("a"); val end = ctx.freshName("end")
      s"""
         |long $c = 0L, $a = 0L;
         |int $end = java.lang.Math.min((int) $hi, $g.numElements());
         |for (int $i = java.lang.Math.max((int) $lo, 0); $i < $end; $i++) {
         |  if ($g.isNullAt($i)) continue;
         |  org.apache.spark.sql.catalyst.util.ArrayData $sa = $g.getArray($i);
         |  for (int $j = 0; $j < $sa.numElements(); $j++) {
         |    if ($sa.isNullAt($j)) continue;
         |    $c++;
         |    if ($sa.getLong($j) != 0L) $a++;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(new long[]{$c, $a});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): GroupAlleleCounts = copy(first = f, second = s, third = t)
}

/** All samples' VCF GT strings joined with `sep` in one fused loop:
  * "0/1;1|2;./." (the seqGDS2VCF formatters, src/ConvGDS2VCF.cpp:571-989,
  * collapsed to a single pass). Missing allele → "."; null sample array →
  * "."; null/absent phase → "/". */
case class GtStringsJoined(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with GenoInput {

  override def checkInputDataTypes(): TypeCheckResult = {
    val phasedOk = second.dataType match {
      case ArrayType(BooleanType, _) => true
      case _ => false
    }
    if (genoOk(first) && phasedOk && third.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "gt_strings(ARRAY<ARRAY<BIGINT>>, ARRAY<BOOLEAN>, STRING sep); got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "gt_strings"

  override protected def nullSafeEval(g: Any, p: Any, s: Any): Any = {
    val geno = g.asInstanceOf[ArrayData]
    val phased = p.asInstanceOf[ArrayData]
    val sep = s.toString
    val sb = new java.lang.StringBuilder()
    var i = 0
    val n = geno.numElements()
    while (i < n) {
      if (i > 0) sb.append(sep)
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
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (g, p, s) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val sa = ctx.freshName("sa"); val ph = ctx.freshName("ph")
      val sb = ctx.freshName("sb"); val sepStr = ctx.freshName("sepStr")
      s"""
         |java.lang.StringBuilder $sb = new java.lang.StringBuilder();
         |String $sepStr = $s.toString();
         |for (int $i = 0; $i < $g.numElements(); $i++) {
         |  if ($i > 0) $sb.append($sepStr);
         |  if ($g.isNullAt($i)) { $sb.append('.'); continue; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $sa = $g.getArray($i);
         |  boolean $ph = $i < $p.numElements() && !$p.isNullAt($i)
         |    && $p.getBoolean($i);
         |  for (int $j = 0; $j < $sa.numElements(); $j++) {
         |    if ($j > 0) $sb.append($ph ? '|' : '/');
         |    if ($sa.isNullAt($j)) $sb.append('.');
         |    else $sb.append($sa.getLong($j));
         |  }
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String
         |  .fromString($sb.toString());
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): GtStringsJoined = copy(first = f, second = s, third = t)
}

/** Per-sample VCF cells `GT[:f1][:f2]…` joined by `sep` — the FORMAT
  * export kernel (seqGDS2VCF with annotation/format fields, reference
  * `src/ConvGDS2VCF.cpp:571-989`). Children: geno, phased, sep, then one
  * ARRAY<STRING> per FORMAT field carrying each sample's cell text (a
  * null element or null column renders "."). One generated loop per
  * row; the plan grows with the FIELD count, never the sample count —
  * biobank-width safe where per-sample expression unrolling is not. */
case class SampleCellsJoined(children: Seq[Expression])
    extends Expression with GenoInput {

  private def geno = children(0)
  private def phased = children(1)
  private def sep = children(2)
  private def fields = children.drop(3)

  override def nullable: Boolean =
    geno.nullable || phased.nullable || sep.nullable

  override def checkInputDataTypes(): TypeCheckResult = {
    val phasedOk = phased.dataType match {
      case ArrayType(BooleanType, _) => true
      case _ => false
    }
    val fieldsOk = fields.forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (genoOk(geno) && phasedOk && sep.dataType == StringType && fieldsOk)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sample_cells(ARRAY<ARRAY<BIGINT>>, ARRAY<BOOLEAN>, STRING sep, " +
        "ARRAY<STRING>...); got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "sample_cells"

  override def eval(input: InternalRow): Any = {
    val g = geno.eval(input)
    val p = phased.eval(input)
    val s = sep.eval(input)
    if (g == null || p == null || s == null) return null
    val ga = g.asInstanceOf[ArrayData]
    val pa = p.asInstanceOf[ArrayData]
    val fa = fields.map(_.eval(input).asInstanceOf[ArrayData]).toArray
    val sb = new java.lang.StringBuilder()
    var i = 0
    val n = ga.numElements()
    while (i < n) {
      if (i > 0) sb.append(s.toString)
      if (ga.isNullAt(i)) sb.append('.')
      else {
        val sa = ga.getArray(i)
        val ph = i < pa.numElements() && !pa.isNullAt(i) && pa.getBoolean(i)
        var j = 0
        val m = sa.numElements()
        while (j < m) {
          if (j > 0) sb.append(if (ph) '|' else '/')
          if (sa.isNullAt(j)) sb.append('.') else sb.append(sa.getLong(j))
          j += 1
        }
      }
      var k = 0
      while (k < fa.length) {
        sb.append(':')
        val arr = fa(k)
        if (arr == null || i >= arr.numElements() || arr.isNullAt(i))
          sb.append('.')
        else sb.append(arr.getUTF8String(i).toString)
        k += 1
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val gEv = geno.genCode(ctx)
    val pEv = phased.genCode(ctx)
    val sEv = sep.genCode(ctx)
    val fEvs = fields.map(_.genCode(ctx))
    val sb = ctx.freshName("sb")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val sa = ctx.freshName("sa")
    val ph = ctx.freshName("ph")
    val sepStr = ctx.freshName("sepStr")
    // NOTE: this fragment is folded into the outer code block's static
    // parts, so the outer .stripMargin processes it a SECOND time — a
    // line-leading "||" would be eaten as a margin character (round-4
    // codegen bug: `if (a || b\n|| c)` compiled to `if (a || b\nc)`).
    // Keep boolean operators at line ENDS and use no margins here.
    val fieldAppends = fEvs.map { f =>
      s"""$sb.append(':');
if (${f.isNull} || $i >= ${f.value}.numElements() ||
    ${f.value}.isNullAt($i)) $sb.append('.');
else $sb.append(${f.value}.getUTF8String($i).toString());"""
    }.mkString("\n")
    // child code must stay Block ARGS (a mkString'd String would fold
    // into the static parts and face the second stripMargin too)
    val fieldChildCode = fEvs.map(_.code)
      .foldLeft(code"")((acc, c) => code"$acc\n$c")
    val code =
      code"""
         |${gEv.code}
         |${pEv.code}
         |${sEv.code}
         |$fieldChildCode
         |boolean ${ev.isNull} = ${gEv.isNull} || ${pEv.isNull} ||
         |  ${sEv.isNull};
         |org.apache.spark.unsafe.types.UTF8String ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  java.lang.StringBuilder $sb = new java.lang.StringBuilder();
         |  String $sepStr = ${sEv.value}.toString();
         |  for (int $i = 0; $i < ${gEv.value}.numElements(); $i++) {
         |    if ($i > 0) $sb.append($sepStr);
         |    if (${gEv.value}.isNullAt($i)) $sb.append('.');
         |    else {
         |      org.apache.spark.sql.catalyst.util.ArrayData $sa =
         |        ${gEv.value}.getArray($i);
         |      boolean $ph = $i < ${pEv.value}.numElements()
         |        && !${pEv.value}.isNullAt($i)
         |        && ${pEv.value}.getBoolean($i);
         |      for (int $j = 0; $j < $sa.numElements(); $j++) {
         |        if ($j > 0) $sb.append($ph ? '|' : '/');
         |        if ($sa.isNullAt($j)) $sb.append('.');
         |        else $sb.append($sa.getLong($j));
         |      }
         |    }
         |    $fieldAppends
         |  }
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String
         |    .fromString($sb.toString());
         |}
       """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SampleCellsJoined =
    copy(children = newChildren)
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
case class F2Carriers(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"f2_carriers(ARRAY<BIGINT>); got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "f2_carriers"

  override protected def nullSafeEval(dAny: Any): Any = {
    val d = dAny.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => {
      val i = ctx.freshName("i"); val v = ctx.freshName("v")
      val a = ctx.freshName("a"); val mn = ctx.freshName("mn")
      val mx = ctx.freshName("mx")
      s"""
         |long $a = 0L, $mn = -1L, $mx = -1L;
         |for (int $i = 0; $i < $d.numElements(); $i++) {
         |  if ($d.isNullAt($i)) continue;
         |  long $v = $d.getLong($i);
         |  $a += $v;
         |  if ($v > 0L) { if ($mn < 0L) $mn = $i; $mx = $i; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray(new long[] {$a, $mn, $mx});
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): F2Carriers =
    copy(child = c)
}
