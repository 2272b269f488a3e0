package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types._

import KernelCall.Integral

/** [[GenoStats]] counted straight from a variant's stored 2-bit genotype
  * planes — the reference's `seqAlleleFreq`/`seqMissing` kernels, which
  * count on the planes the file stores (src/Methods.cpp:897-979) instead
  * of materializing one allele object per call. The input is the gds
  * source's hidden planes column (see [[GenoStatsRaw.Header]] for the
  * layout); the optimizer rule
  * [[graft.sources.gds.GenoStatsFromPlanes]] puts this kernel in place of
  * `geno_stats(geno, k)` when `geno` is a gds relation's own column.
  *
  * The output is exactly GenoStats' `[total, called, ac_k, miss_calls,
  * miss_alleles]`, partial missingness included: an allele slot holding
  * the all-ones code of the row's plane count is a missing allele, and a
  * call with any missing allele is a missing call. */
case class GenoStatsRaw(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def inputTypes: Seq[InputType] = Seq(BinaryType, Integral)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "geno_stats_raw"
  override protected def kernel: Kernel = Kernel("eval")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GenoStatsRaw = copy(left = l, right = r)
}

object GenoStatsRaw {
  /** Planes value layout: byte 0 = plane count `np`, byte 1 = ploidy,
    * bytes 2-5 = sample count `n` (little-endian), then `np` planes of
    * ⌈n × ploidy / 4⌉ bytes each. Plane k holds bits 2k..2k+1 of every
    * allele code, four allele slots per byte from the low bits up
    * (sample-major, then allele), so each plane starts byte-aligned. */
  val Header = 6

  def writeHeader(out: Array[Byte], np: Int, ploidy: Int, n: Int): Unit = {
    out(0) = np.toByte
    out(1) = ploidy.toByte
    out(2) = n.toByte
    out(3) = (n >>> 8).toByte
    out(4) = (n >>> 16).toByte
    out(5) = (n >>> 24).toByte
  }

  def planeBytes(ploidy: Int, n: Int): Int =
    ((n.toLong * ploidy + 3) >> 2).toInt

  // per-byte tables of a single-plane diploid byte (alleles a0..a3 =
  // calls (a0, a1) and (a2, a3); code 3 = missing): called alleles,
  // calls with a missing allele, and alleles equal to code c
  private def slot(b: Int, i: Int): Int = (b >> (2 * i)) & 3
  private val CalledTab: Array[Int] = Array.tabulate(256) { b =>
    (0 until 4).count(slot(b, _) != 3)
  }
  private val MissCallTab: Array[Int] = Array.tabulate(256) { b =>
    (if (slot(b, 0) == 3 || slot(b, 1) == 3) 1 else 0) +
      (if (slot(b, 2) == 3 || slot(b, 3) == 3) 1 else 0)
  }
  private val CodeTab: Array[Array[Int]] = Array.tabulate(3) { c =>
    Array.tabulate(256)(b => (0 until 4).count(slot(b, _) == c))
  }

  def eval(p: Array[Byte], k: Long): ArrayData = {
    val np = p(0) & 0xff
    val ploidy = p(1) & 0xff
    val n = (p(2) & 0xff) | (p(3) & 0xff) << 8 | (p(4) & 0xff) << 16 |
      (p(5) & 0xff) << 24
    val stride = planeBytes(ploidy, n)
    var called = 0L; var ack = 0L; var missCalls = 0L
    var s = 0
    if (np == 1 && ploidy == 2) {
      // one byte = two whole calls; a trailing half byte (odd n) takes
      // the loop below
      val kt = if (k >= 0 && k <= 2) CodeTab(k.toInt) else null
      val full = n >> 1
      var i = 0
      while (i < full) {
        val b = p(Header + i) & 0xff
        called += CalledTab(b)
        missCalls += MissCallTab(b)
        if (kt != null) ack += kt(b)
        i += 1
      }
      s = full << 1
    }
    val missCode = (1 << (2 * np)) - 1
    while (s < n) {
      var anyMiss = false
      var a = 0
      while (a < ploidy) {
        val u = s * ploidy + a
        var code = 0
        var j = 0
        while (j < np) {
          code |= ((p(Header + j * stride + (u >> 2)) >> ((u & 3) << 1))
            & 3) << (2 * j)
          j += 1
        }
        if (code == missCode) anyMiss = true
        else { called += 1; if (code == k) ack += 1 }
        a += 1
      }
      if (anyMiss) missCalls += 1
      s += 1
    }
    val total = n.toLong * ploidy
    UnsafeArrayData.fromPrimitiveArray(
      Array(total, called, ack, missCalls, total - called))
  }
}
