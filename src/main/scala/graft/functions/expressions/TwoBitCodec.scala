package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._

import KernelCall.Geno

/** 2-bit packed REF-dosage codec — the reference's `seqGet2bGeno` export
  * (/root/reference/R/Methods.R:1224-1342, C kernel
  * src/Methods.cpp:1119-1213) and the PLINK BED storage convention
  * (`seqBED2GDS`/`seqGDS2BED`, R/Conversion.R:833-1447): per sample, the
  * number of REF alleles (0..2) packed 4 samples/byte, missing call = 3.
  * Packing is the ML-feature/array-interchange path; at 100 TB the packed
  * column is ~8× smaller than the nested allele arrays.
  */
case class Pack2bRefDosage(child: Expression)
    extends UnaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(Geno)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_2b"
  override protected def kernel: Kernel = Kernel("pack")

  override protected def withNewChildInternal(c: Expression): Pack2bRefDosage =
    copy(child = c)
}

object Pack2bRefDosage {
  /** The packed kernels read ⌈n/4⌉ bytes for `n` samples: a shorter
    * value is an error that names the function, not an index fault. */
  private[expressions] def requireBytes(fn: String, packed: Array[Byte],
      n: Int): Unit =
    if (((n.toLong + 3) >> 2) > packed.length)
      throw new IllegalArgumentException(s"$fn: n = $n samples need " +
        s"${(n.toLong + 3) >> 2} packed bytes; the value has ${packed.length}")

  /** missing (any null allele / null call / dosage > 2) packs as 3. */
  def pack(geno: ArrayData): Array[Byte] = {
    val n = geno.numElements()
    val out = new Array[Byte]((n + 3) / 4)
    var i = 0
    while (i < n) {
      var code = 3
      if (!geno.isNullAt(i)) {
        val sa = geno.getArray(i)
        var d = 0
        var miss = false
        var j = 0
        while (j < sa.numElements()) {
          if (sa.isNullAt(j)) miss = true
          else if (sa.getLong(j) == 0L) d += 1
          j += 1
        }
        if (!miss && d <= 2) code = d
      }
      out(i >> 2) = (out(i >> 2) | (code << ((i & 3) << 1))).toByte
      i += 1
    }
    out
  }
}

/** Inverse of [[Pack2bRefDosage]]: packed bytes + sample count →
  * ARRAY<INT> REF dosages, code 3 → null. */
case class Unpack2bDosage(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "unpack_2b"
  override protected def kernel: Kernel = Kernel("unpack")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Unpack2bDosage = copy(left = l, right = r)
}

object Unpack2bDosage {
  def unpack(bytes: Array[Byte], n: Int): GenericArrayData = {
    Pack2bRefDosage.requireBytes("unpack_2b", bytes, n)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val code = (bytes(i >> 2) >>> ((i & 3) << 1)) & 3
      out(i) = if (code == 3) null else java.lang.Integer.valueOf(code)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** [[GenoStats]] directly on the 2-bit packed representation — the
  * biobank-width fast path (reference stores genotypes 2-bit,
  * src/ConvVCF2GDS.cpp:994-995; this kernel consumes 4 samples per table
  * lookup instead of walking a 16-byte-per-allele nested array). Output
  * matches `geno_stats(geno, 0)` — `[total, called, ac_ref, miss_calls,
  * miss_alleles]` — for diploid data whose missing calls are fully
  * missing (the packed form cannot represent half-missing calls; pack_2b
  * already folds those to code 3). */
case class GenoStatsPacked(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "geno_stats_packed"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GenoStatsPacked = copy(left = l, right = r)
}

object GenoStatsPacked {
  // per-byte tables over the 4 packed codes: called samples, Σ ref
  // dosage, missing (code 3) count
  private val CalledTab: Array[Int] = Array.tabulate(256) { b =>
    (0 until 4).count(s => ((b >> (2 * s)) & 3) != 3)
  }
  private val AcTab: Array[Int] = Array.tabulate(256) { b =>
    (0 until 4).map(s => (b >> (2 * s)) & 3).filter(_ != 3).sum
  }

  def eval(packed: Array[Byte], n: Int): UnsafeArrayData = {
    Pack2bRefDosage.requireBytes("geno_stats_packed", packed, n)
    var calledSamples = 0L
    var ac = 0L
    val fullBytes = n >> 2
    var i = 0
    while (i < fullBytes) {
      val b = packed(i) & 0xff
      calledSamples += CalledTab(b)
      ac += AcTab(b)
      i += 1
    }
    var s = fullBytes << 2
    while (s < n) {
      val code = (packed(s >> 2) >>> ((s & 3) << 1)) & 3
      if (code != 3) { calledSamples += 1; ac += code }
      s += 1
    }
    val missCalls = n - calledSamples
    UnsafeArrayData.fromPrimitiveArray(Array(2L * n, 2L * calledSamples, ac,
        missCalls.toLong, 2L * missCalls))
  }
}

/** Count of samples at ONE packed 2-bit code — the genotype-class
  * counter the FIS/HWE family needs on the packed lane (code 1 = het,
  * 0 = hom-ALT, 2 = hom-REF under the REF-dosage convention, 3 =
  * missing). Same per-byte-table discipline as [[GenoStatsPacked]]:
  * 4 samples per table lookup, no array materialization in the plan.
  * The code argument must be a foldable literal 0..3 (it selects the
  * lookup table at codegen time). */
case class CodeCountPacked(left: Expression, right: Expression, code: Int)
    extends BinaryExpression with KernelCall {
  require(code >= 0 && code <= 3, s"code must be 0..3; got $code")

  override def inputTypes: Seq[InputType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "code_count_packed"
  override protected def kernel: Kernel = Kernel("eval", code)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CodeCountPacked =
    copy(left = l, right = r)
}

object CodeCountPacked {
  // CountTab(c)(b) = how many of byte b's 4 slots hold code c
  private val CountTab: Array[Array[Int]] = Array.tabulate(4) { c =>
    Array.tabulate(256) { b => (0 until 4).count(s => ((b >> (2 * s)) & 3) == c) }
  }

  def eval(packed: Array[Byte], n: Int, code: Int): Long = {
    Pack2bRefDosage.requireBytes("code_count_packed", packed, n)
    val tab = CountTab(code)
    var cnt = 0L
    val fullBytes = n >> 2
    var i = 0
    while (i < fullBytes) {
      cnt += tab(packed(i) & 0xff)
      i += 1
    }
    var s = fullBytes << 2
    while (s < n) {
      if (((packed(s >> 2) >>> ((s & 3) << 1)) & 3) == code) cnt += 1
      s += 1
    }
    cnt
  }
}
