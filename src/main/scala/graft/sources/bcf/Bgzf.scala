package graft.sources.bcf

import java.io.OutputStream
import java.util.zip.{CRC32, Deflater, ZipException}

import scala.collection.mutable.ArrayBuffer

import graft.operators.Gzip

/** BGZF block writer (the blocked-gzip framing BCF requires — public
  * htslib/SAM spec §4.1): each ≤64 KiB payload becomes an independent
  * gzip member whose extra field carries the compressed block size
  * (`BC` subfield), closed by the fixed 28-byte EOF member. Reading
  * needs no special code — BGZF is valid multi-member gzip, which
  * `java.util.zip.GZIPInputStream` streams natively. */
object Bgzf {

  private val MaxBlock = 0xff00 // htslib's default payload bound

  val EofBlock: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00).map(_.toByte)

  /** Shared ≤64 KiB block buffering for the two writers below;
    * subclasses consume each full block via [[onBlockFull]]. */
  sealed abstract class BlockBuffered(protected val out: OutputStream)
      extends OutputStream {
    protected val buf = new Array[Byte](MaxBlock)
    protected var n = 0
    protected def onBlockFull(): Unit

    final override def write(b: Int): Unit = {
      buf(n) = b.toByte
      n += 1
      if (n == MaxBlock) onBlockFull()
    }

    final override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      var rem = len
      while (rem > 0) {
        val take = math.min(rem, MaxBlock - n)
        System.arraycopy(b, o, buf, n, take)
        n += take; o += take; rem -= take
        if (n == MaxBlock) onBlockFull()
      }
    }
  }

  final class Writer(out0: OutputStream) extends BlockBuffered(out0) {
    private var coff = 0L // compressed bytes of completed members

    /** htslib virtual offset of the next byte to be written — a valid
      * seek target once the current member flushes (record-aligned when
      * sampled at record boundaries; feeds the CSI builder). */
    def virtualPos: Long = (coff << 16) | n

    override protected def onBlockFull(): Unit = flushBlock()

    private def flushBlock(): Unit = {
      if (n == 0) return
      coff += Writer.memberTo(out, buf, n) // deflates in place, no copy
      n = 0
    }

    override def flush(): Unit = { flushBlock(); out.flush() }
    override def close(): Unit = {
      flushBlock()
      out.write(EofBlock)
      out.close()
    }
  }

  /** BGZF writer that deflates members CONCURRENTLY in batches —
    * members are independent streams by design, so a batch compresses
    * on every core and then emits in order; the output bytes equal the
    * serial [[Writer]]'s. No `virtualPos`: compressed offsets inside a
    * pending batch are unknown until it drains, so this variant is for
    * export paths that never sample positions (a CSI-building caller
    * needs the sequential [[Writer]]). */
  final class ParallelWriter(out0: OutputStream, batch: Int = 64)
      extends BlockBuffered(out0) {
    private val pending = ArrayBuffer.empty[Array[Byte]]

    override protected def onBlockFull(): Unit = queueBlock()

    private def queueBlock(): Unit = {
      if (n == 0) return
      pending += java.util.Arrays.copyOf(buf, n)
      n = 0
      if (pending.size >= batch) drain()
    }

    private def drain(): Unit = {
      if (pending.isEmpty) return
      val members = new Array[Array[Byte]](pending.size)
      java.util.stream.IntStream.range(0, pending.size).parallel()
        .forEach { k =>
          val o = new java.io.ByteArrayOutputStream(1 << 16)
          Writer.memberTo(o, pending(k), pending(k).length)
          members(k) = o.toByteArray
        }
      members.foreach(out.write)
      pending.clear()
    }

    override def flush(): Unit = { queueBlock(); drain(); out.flush() }
    override def close(): Unit = {
      queueBlock(); drain()
      out.write(EofBlock)
      out.close()
    }
  }

  private object Writer {
    /** Writes one complete BGZF member for `raw[0, len)` straight to
      * `out` (no intermediate member array) and returns its total size
      * — shared by the serial and parallel writers so their bytes are
      * identical. */
    def memberTo(out: OutputStream, raw: Array[Byte], len: Int): Long = {
      val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
      deflater.setInput(raw, 0, len)
      deflater.finish()
      val cmp = new Array[Byte](MaxBlock + 1024)
      var clen = 0
      while (!deflater.finished())
        clen += deflater.deflate(cmp, clen, cmp.length - clen)
      deflater.end()
      val crc = new CRC32()
      crc.update(raw, 0, len)
      val bsize = clen + 25 // total member size - 1
      val hdr = Array[Int](
        0x1f, 0x8b, 0x08, 0x04, 0, 0, 0, 0, 0, 0xff, 6, 0,
        'B', 'C', 2, 0, bsize & 0xff, (bsize >> 8) & 0xff).map(_.toByte)
      out.write(hdr)
      out.write(cmp, 0, clen)
      val tail = new Array[Byte](8)
      writeU32(tail, 0, crc.getValue.toInt)
      writeU32(tail, 4, len)
      out.write(tail)
      bsize + 1L
    }
  }

  private def writeU32(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v & 0xff).toByte
    b(o + 1) = ((v >> 8) & 0xff).toByte
    b(o + 2) = ((v >> 16) & 0xff).toByte
    b(o + 3) = ((v >> 24) & 0xff).toByte
  }

  // ---- random-access read side (virtual-offset splits) ----------------
  //
  // BGZF members are independently decompressible, so a compressed byte
  // range [start, end) can be read without touching earlier bytes: align
  // `start` to the next member boundary, inflate member by member, and
  // address every decompressed byte by its htslib virtual offset
  // `blockOffset << 16 | withinBlockOffset` (SAM spec §4.1.9 — the
  // reference's own tabix/.csi random access uses the same coordinates).

  /** True when `path` starts with a BGZF member header (gzip magic +
    * FEXTRA + a `BC` subfield) — plain gzip is NOT restartable. */
  def isBgzfFile(path: String): Boolean = {
    val ch = java.nio.file.Files.newByteChannel(java.nio.file.Paths.get(path))
    try {
      val bb = java.nio.ByteBuffer.allocate(64)
      ch.read(bb)
      val b = bb.array()
      bb.position() >= 18 && headerBsize(b, 0, bb.position()) > 0
    } finally ch.close()
  }

  /** Parses a candidate BGZF member header at `b[o..)`; returns the total
    * member size (BSIZE+1) or -1 when the bytes are not a valid header. */
  private def headerBsize(b: Array[Byte], o: Int, lim: Int): Int = {
    if (o + 18 > lim) return -1
    if ((b(o) & 0xff) != 0x1f || (b(o + 1) & 0xff) != 0x8b ||
        (b(o + 2) & 0xff) != 0x08 || (b(o + 3) & 0x04) != 0x04) return -1
    val xlen = (b(o + 10) & 0xff) | ((b(o + 11) & 0xff) << 8)
    if (o + 12 + xlen > lim) return -1
    var p = o + 12
    val end = o + 12 + xlen
    while (p + 4 <= end) {
      val slen = (b(p + 2) & 0xff) | ((b(p + 3) & 0xff) << 8)
      if (b(p) == 'B' && b(p + 1) == 'C' && slen == 2 && p + 6 <= end)
        return ((b(p + 4) & 0xff) | ((b(p + 5) & 0xff) << 8)) + 1
      p += 4 + slen
    }
    -1
  }

  /** First member boundary at or after compressed offset `from` (file
    * length when none remains). A member is ≤ 64 KiB, so scanning one
    * 128 KiB window always finds the boundary; candidates are verified by
    * chaining to the NEXT member's header (or EOF) so a magic-like byte
    * run inside compressed data cannot be mistaken for a boundary. */
  def findBlock(path: String, from: Long): Long = {
    val fileLen = java.nio.file.Files.size(java.nio.file.Paths.get(path))
    if (from <= 0) return 0L
    if (from >= fileLen) return fileLen
    val ch = java.nio.file.Files.newByteChannel(java.nio.file.Paths.get(path))
    try {
      val want = math.min(fileLen - from, 2L * 65536 + 64).toInt
      val bb = java.nio.ByteBuffer.allocate(want)
      ch.asInstanceOf[java.nio.channels.SeekableByteChannel].position(from)
      while (bb.hasRemaining && ch.read(bb) >= 0) {}
      val b = bb.array()
      val lim = bb.position()
      var i = 0
      while (i < lim) {
        val bs = headerBsize(b, i, lim)
        if (bs > 0) {
          val nxt = from + i + bs
          // accept when the next member validates too (or the candidate
          // member ends exactly at EOF)
          if (nxt == fileLen) return from + i
          if (nxt < fileLen && i + bs < lim &&
              headerBsize(b, i + bs, lim) > 0) return from + i
          if (nxt < fileLen && i + bs >= lim) return from + i // window edge
        }
        i += 1
      }
      fileLen
    } finally ch.close()
  }

  /** Inflates BGZF members sequentially from compressed offset
    * `startOffset` (which must be a member boundary). `virtualPos` is the
    * htslib virtual offset of the next unread byte; empty members (incl.
    * the EOF marker) are skipped transparently. A truncated or corrupt
    * member raises a `ZipException` naming the file and the member's
    * compressed offset. */
  final class BlockStream(path: String, startOffset: Long)
      extends java.io.InputStream {
    private val ch =
      java.nio.file.Files.newByteChannel(java.nio.file.Paths.get(path))
        .asInstanceOf[java.nio.channels.SeekableByteChannel]
    private val fileLen = ch.size()
    private var curBlock = startOffset
    private var nextBlock = startOffset
    private var buf: Array[Byte] = Array.emptyByteArray
    private var pos = 0

    def virtualPos: Long =
      if (pos < buf.length) (curBlock << 16) | pos else nextBlock << 16

    private def fail(why: String, at: Long): Nothing =
      throw new ZipException(s"$why in bgzf member at offset $at of $path")

    private def readFully(b: Array[Byte], o: Int, n: Int): Unit = {
      val bb = java.nio.ByteBuffer.wrap(b, o, n)
      while (bb.hasRemaining)
        if (ch.read(bb) < 0) fail("truncated file", nextBlock)
    }

    /** Loads the next non-empty member; false at EOF. Every member's
      * body is inflated and checked against its CRC32 and ISIZE. */
    private def advance(): Boolean = {
      while (nextBlock < fileLen) {
        ch.position(nextBlock)
        val hdr = new Array[Byte](18)
        readFully(hdr, 0, math.min(18, (fileLen - nextBlock).toInt))
        val memberLen = headerBsize(hdr, 0, 18)
        if (memberLen < 26) fail("bad header", nextBlock)
        val xlen = (hdr(10) & 0xff) | ((hdr(11) & 0xff) << 8)
        val rest = new Array[Byte](memberLen - 18)
        readFully(rest, 0, rest.length)
        val isize = {
          val o = rest.length - 4
          (rest(o) & 0xff) | ((rest(o + 1) & 0xff) << 8) |
            ((rest(o + 2) & 0xff) << 16) | ((rest(o + 3) & 0xff) << 24)
        }
        curBlock = nextBlock
        nextBlock += memberLen
        // deflate data starts after the 12 + xlen header bytes
        val (out, end) = Gzip.inflateMember(rest, 12 + xlen - 18,
          rest.length, sizeHint = math.min(isize, 1 << 16))
          .fold(fail(_, curBlock), identity)
        if (end != rest.length) fail("BSIZE mismatch", curBlock)
        if (out.nonEmpty) {
          buf = out
          pos = 0
          return true
        }
      }
      false
    }

    override def read(): Int =
      if (pos < buf.length || advance()) { val v = buf(pos) & 0xff; pos += 1; v }
      else -1

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (pos >= buf.length && !advance()) return -1
      val take = math.min(len, buf.length - pos)
      System.arraycopy(buf, pos, b, off, take)
      pos += take
      take
    }

    override def close(): Unit = ch.close()
  }
}
