package graft.operators

/** MSB-first bit I/O for the MPEG audio and FLAC codecs of this package:
  * both formats pack their fields from the high bit of each byte down.
  * The reader is bounded: a field that runs past the end of its range
  * throws [[Bits.Truncated]], which each decoder turns into a rejection.
  */
object Bits {

  /** Thrown by a [[Reader]] asked for a bit at or past its `until`. */
  object Truncated extends RuntimeException("truncated") {
    override def fillInStackTrace(): Throwable = this
  }

  /** Reads MSB-first from the bytes `[from, until)` of `b`. */
  final class Reader(b: Array[Byte], from: Int, until: Int) {
    private var pos = from // byte position
    private var bit = 0    // bits consumed in the current byte
    def bytePos: Int = pos
    def bitAligned: Boolean = bit == 0

    /** The next `n` bits (n ≤ 63) as an unsigned value. */
    def readBits(n: Int): Long = {
      var got = 0
      var v = 0L
      while (got < n) {
        if (pos >= until) throw Truncated
        val avail = 8 - bit
        val take = math.min(avail, n - got)
        val piece = ((b(pos) & 0xff) >>> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | piece
        got += take
        bit += take
        if (bit == 8) { bit = 0; pos += 1 }
      }
      v
    }

    /** The next `n` bits (n ≤ 31) as an Int. */
    def readInt(n: Int): Int = readBits(n).toInt

    def alignByte(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  /** Packs fields MSB-first into bytes. */
  final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nAcc = 0

    /** The low `n` bits of `v` (n ≤ 57). */
    def writeBits(v: Long, n: Int): Unit = {
      require(n >= 0 && n <= 57, s"writeBits n=$n")
      acc = (acc << n) | (v & ((1L << n) - 1))
      nAcc += n
      while (nAcc >= 8) {
        out.write(((acc >>> (nAcc - 8)) & 0xff).toInt)
        nAcc -= 8
      }
    }

    /** Zero bits up to the next byte boundary. */
    def alignByte(): Unit = if (nAcc % 8 != 0) writeBits(0L, 8 - nAcc % 8)

    /** The bytes written, the last one zero-padded. */
    def toBytes: Array[Byte] = { alignByte(); out.toByteArray }
  }
}
