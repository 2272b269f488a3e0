package graft.functions.expressions

import java.util.concurrent.atomic.AtomicReferenceArray

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{DataType, LongType}

import KernelCall.Longs

/** Codegen'd signed-random-projection LSH bucket id over `ARRAY<BIGINT>`.
  *
  * Bit j of the bucket is the sign of the projection onto pseudo-
  * hyperplane (table, j) whose ±1 components come from a pure-integer
  * xorshift-multiply mixer over the key `(table·131 + j + 1, i)`
  * (1-based component index i). All arithmetic stays inside non-negative
  * 63-bit range (mod the Mersenne prime 2^31−1 after each multiply), so
  * the identical value is replayable in any SQL engine with plain BIGINT
  * ops — see `vectorfns.srpBucketSql`. The two xor-shift rounds between
  * the multiplies are load-bearing: a chain of multiply-mod rounds alone
  * is one LINEAR map mod M, which collapses the whole family to shifted
  * copies of a single ±1 sequence (at most M_small distinct hyperplanes —
  * the round-4 recall bug: 4 tables × 16 bits yielded only 68 distinct
  * patterns and ~0.10 recall@3). This family measures i.i.d.-grade:
  * balance 0.50, pairwise agreement 0.50 ± the binomial stdev.
  *
  * The declarative form runs one interpreted `aggregate(transform(...))`
  * HOF pair PER BIT; this expression computes every bit in one fused
  * loop over the vector, reading the ±1 signs from a sign table built
  * once per (table, bits) in the JVM and grown only for a longer vector
  * (signs depend only on (table, bits, i), never on the row). Null array
  * → null; null elements contribute 0.
  */
case class SrpBucket(child: Expression, bits: Int, table: Int)
    extends UnaryExpression with KernelCall {

  require(bits > 0 && bits < 31, "bits must be in [1,30]")
  // keeps (key·131071 + i)·2654435761 inside signed-64 for any realistic
  // dim, so the SQL replay never hits BIGINT overflow
  require(table >= 0 && table <= 128, "table must be in [0,128]")

  override def inputTypes: Seq[InputType] = Seq(Longs)
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_bucket"
  override protected def kernel: Kernel = Kernel("bucket", table, bits)

  override protected def withNewChildInternal(newChild: Expression)
      : SrpBucket = copy(child = newChild)
}

object SrpBucket {
  /** True ⇒ +1 hyperplane component for (table, bit j, 1-based index i).
    * Kept on the companion so the interpreted path and tests share one
    * definition of the mixer. */
  def signBit(table: Int, j: Int, i1: Long): Boolean = {
    var h = ((table * 131L + j + 1) * 131071L + i1) * 2654435761L
    h %= 2147483647L
    h ^= h >>> 15
    h = (h * 40503L) % 2147483647L
    h ^= h >>> 13
    (h & 1L) == 1L
  }

  /** Signs of components 1..n, `signs(i·bits + j)` = ±1 for bit j of
    * component i+1; `cached` is returned when it already covers n. */
  def signTable(cached: Array[Byte], table: Int, bits: Int, n: Int)
      : Array[Byte] =
    if (cached != null && cached.length >= n * bits) cached
    else Array.tabulate[Byte](n * bits)(k =>
      if (signBit(table, k % bits, k / bits + 1L)) 1 else -1)

  // the sign table of each (table, bits), slot table·31 + bits; a racing
  // grower may store a shorter table, which the next longer vector
  // simply rebuilds
  private val tables = new AtomicReferenceArray[Array[Byte]](129 * 31)

  /** Bucket id of `x` for the hyperplane family (`table`, `bits`). */
  def bucket(x: ArrayData, table: Int, bits: Int): Long = {
    val slot = table * 31 + bits
    val cached = tables.get(slot)
    val signs = signTable(cached, table, bits, x.numElements())
    if (signs ne cached) tables.set(slot, signs)
    eval(x, bits, signs)
  }

  /** Bucket id of `x` over a [[signTable]] that covers its length. */
  def eval(x: ArrayData, bits: Int, signs: Array[Byte]): Long = {
    val n = x.numElements()
    val acc = new Array[Long](bits)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val v = x.getLong(i)
        var j = 0
        while (j < bits) {
          acc(j) += (if (signs(i * bits + j) > 0) v else -v)
          j += 1
        }
      }
      i += 1
    }
    var bucket = 0L
    var j = 0
    while (j < bits) {
      if (acc(j) >= 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }
}
