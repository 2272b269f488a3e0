package graft.sources.gds

import java.io.{ByteArrayInputStream, DataInputStream, EOFException, InputStream, OutputStream, RandomAccessFile, SequenceInputStream}

import scala.collection.mutable.ArrayBuffer

import org.tukaani.xz.XZInputStream

/** CoreArray GDS container reader (the reference's storage format —
  * zhengxwen/gdsfmt; layout recovered from the public fixtures and
  * validated byte-for-byte against `CEU_Exon.vcf.gz`, see
  * scripts/gds_read.py and GdsSpec).
  *
  * Three layers:
  *  1. Block layer — after the 12-byte magic `COREARRAYx0A`, a u16
  *     version and u32 entry-stream id, the file is a tiling of blocks
  *     `[size:u48][next:u48][id:u32][content]`; bit 47 of `size` marks a
  *     stream's head fragment, sizes include the 16-byte header, `next`
  *     chains fragments of one logical stream.
  *  2. Node records — CdSerial property lists keyed by token prefixes:
  *     class name (7-bit-packed ASCII, e.g. dInt32/dStr8/dBit2), dims,
  *     coder, data-stream id, attribute blob, and for folders an
  *     embedded child table (name → stream id).
  *  3. Data streams — `[u48 total][payload]`; the `*_ra` coders frame
  *     the payload as `[magic][0x10 0x11][0xff][u32 nChunks]` then per
  *     chunk `[u48 cmpSize][cmpSize bytes]` of one independent
  *     compressed stream (fixed-size random-access raw chunks). Magics:
  *     "XZ_RA" (LZMA_ra, the fixtures' coding), "ZIP_RA" (ZIP_ra,
  *     zlib), "LZ4_RA" (LZ4_ra). Chunk decoding streams straight from
  *     the file via [[GdsFile.StreamView]] — ranged reads touch only
  *     the covering chunks' bytes.
  *
  * Reference semantics for the SeqArray tree (ReadByVariant.cpp:231-295,
  * Index.h): genotype/data is dBit2 `[planeRows, nSamples, ploidy]` with
  * `@data[v]` 2-bit planes per variant, missing = all-ones code;
  * fmt/x/data is `[valueRows, nSamples]` with `@data[v]` rows per
  * variant; info ragged fields carry an `@name` length vector.
  */
object GdsCore {

  final case class Node(
      name: String,
      path: String,
      cls: Option[String],
      coder: Option[String],
      dims: Seq[Int],
      dataId: Int,
      rawSize: Long,
      attrs: Map[String, AttrValue],
      children: Seq[Node],
      packedScale: Double,
      packedOffset: Double,
      unknownProps: Boolean) {
    def child(n: String): Option[Node] = children.find(_.name == n)
    def apply(n: String): Node = child(n).getOrElse(
      throw new NoSuchElementException(s"gds node $path/$n"))
  }

  sealed trait AttrValue
  final case class AttrStr(s: String) extends AttrValue
  final case class AttrList(vs: Seq[AttrValue]) extends AttrValue
  case object AttrNull extends AttrValue

  final case class Frag(pos: Long, size: Long, next: Long, id: Int,
      head: Boolean)

  // ---- block layer ---------------------------------------------------------

  final class GdsFile(val path: String) extends AutoCloseable {
    private val raf = new RandomAccessFile(path.stripPrefix("file:"), "r")
    /** Identity token for the per-JVM decode caches: a file REWRITTEN at
      * the same path (length or mtime changed) must never serve another
      * file's cached chunk tables / element indexes. */
    private[gds] val cacheToken: String = {
      val f = new java.io.File(path.stripPrefix("file:"))
      s"$path@${f.length}@${f.lastModified}"
    }
    // the root stream's id and the block index; a file that fails a
    // check is closed before the constructor throws
    private val (entryId, frags) = try {
      val magic = new Array[Byte](12)
      raf.readFully(magic)
      require(new String(magic, "ASCII") == "COREARRAYx0A",
        s"$path is not a GDS file")
      raf.seek(14)
      val entry = readU32(raf)
      val out = ArrayBuffer.empty[Frag]
      var pos = 18L
      val len = raf.length()
      while (pos + 16 <= len) {
        raf.seek(pos)
        val sizeRaw = readU48(raf)
        val next = readU48(raf)
        val id = readU32(raf)
        val head = (sizeRaw >> 47) != 0
        val size = sizeRaw & ((1L << 47) - 1)
        require(size >= 16, s"bad gds block at $pos")
        out += Frag(pos, size, next, id, head)
        pos += size
      }
      (entry, out.map(f => f.pos -> f).toMap)
    } catch { case t: Throwable => raf.close(); throw t }
    private val heads: Map[Int, Frag] =
      frags.values.filter(_.head).map(f => f.id -> f).toMap

    /** Random-access window over a logical stream's content bytes (the
      * concatenation of its fragment chain) that reads straight from the
      * file — a huge data node is never buffered as one compressed
      * `Array[Byte]`; callers pull exactly the byte ranges they need
      * (chunk headers, covering chunks). */
    final class StreamView(segPos: Array[Long], segLen: Array[Long]) {
      private val cum: Array[Long] = {
        val a = new Array[Long](segLen.length + 1)
        var i = 0
        while (i < segLen.length) { a(i + 1) = a(i) + segLen(i); i += 1 }
        a
      }
      val length: Long = cum(segLen.length)

      def readInto(off: Long, dst: Array[Byte], dstOff: Int, len: Int): Unit = {
        require(off >= 0 && off + len <= length,
          s"stream read [$off,${off + len}) out of [0,$length)")
        GdsCore.fileBytesRead.addAndGet(len.toLong)
        var s = java.util.Arrays.binarySearch(cum, off) match {
          case i if i >= 0 => i
          case i => -i - 2
        }
        if (s >= segLen.length) s = segLen.length - 1
        var o = off
        var d = dstOff
        var rem = len
        while (rem > 0) {
          val within = o - cum(s)
          val take = math.min(segLen(s) - within, rem.toLong).toInt
          raf.seek(segPos(s) + within)
          raf.readFully(dst, d, take)
          o += take; d += take; rem -= take; s += 1
        }
      }
      def read(off: Long, len: Int): Array[Byte] = {
        val out = new Array[Byte](len)
        readInto(off, out, 0, len)
        out
      }
      def byteAt(off: Long): Int = read(off, 1)(0) & 0xff
      def u32At(off: Long): Int = { val b = read(off, 4); GdsCore.u32(b, 0) }
      def u48At(off: Long): Long = { val b = read(off, 6); GdsCore.u48(b, 0) }
      /** Buffered sequential stream over [off, off+len). */
      def slice(off: Long, len: Long): InputStream = new InputStream {
        private var o = off
        private var rem = len
        private val buf = new Array[Byte](64 * 1024)
        private var bo = 0
        private var bn = 0
        private def fill(): Boolean =
          if (rem <= 0) false
          else {
            val t = math.min(buf.length.toLong, rem).toInt
            readInto(o, buf, 0, t)
            o += t; rem -= t; bo = 0; bn = t
            true
          }
        override def read(): Int =
          if (bo < bn || fill()) { val v = buf(bo) & 0xff; bo += 1; v }
          else -1
        override def read(b: Array[Byte], off0: Int, l: Int): Int =
          if (bo < bn || fill()) {
            val t = math.min(l, bn - bo)
            System.arraycopy(buf, bo, b, off0, t)
            bo += t
            t
          } else -1
      }
    }

    /** Fragment chain of stream `id` as a [[StreamView]]. */
    def view(id: Int): StreamView = {
      val pos = ArrayBuffer.empty[Long]
      val len = ArrayBuffer.empty[Long]
      var cur = heads.getOrElse(id,
        throw new NoSuchElementException(s"gds stream $id"))
      var done = false
      while (!done) {
        pos += cur.pos + 16
        len += cur.size - 16
        if (cur.next == 0) done = true else cur = frags(cur.next)
      }
      new StreamView(pos.toArray, len.toArray)
    }

    /** Concatenated content bytes of stream `id` (node records — small;
      * data streams go through [[view]] and are never fully buffered). */
    def stream(id: Int): Array[Byte] = {
      val v = view(id)
      v.read(0, v.length.toInt)
    }

    lazy val root: Node = parseNode(entryId, "", "")

    private def parseNode(sid: Int, name: String, parent: String): Node = {
      val rec = parseRecord(stream(sid))
      val p = if (parent.isEmpty) name else s"$parent/$name"
      Node(name, p, rec.cls, rec.coder, rec.dims, rec.dataId, rec.raw,
        parseAttrs(rec.attrs),
        rec.children.map(c => parseNode(c._1, c._2, p)), rec.packedScale,
        rec.packedOffset, rec.unknownProps)
    }

    override def close(): Unit = raf.close()
  }

  private def readU32(raf: RandomAccessFile): Int = {
    val b = new Array[Byte](4); raf.readFully(b)
    (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) |
      ((b(3) & 0xff) << 24)
  }
  private def readU48(raf: RandomAccessFile): Long = {
    val b = new Array[Byte](6); raf.readFully(b)
    var v = 0L
    var i = 5
    while (i >= 0) { v = (v << 8) | (b(i) & 0xff); i -= 1 }
    v
  }

  // ---- record layer --------------------------------------------------------

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 3) & 0xff) << 24)
  private def u48(b: Array[Byte], o: Int): Long = {
    var v = 0L
    var i = o + 5
    while (i >= o) { v = (v << 8) | (b(i) & 0xff); i -= 1 }
    v
  }
  private def i64(b: Array[Byte], o: Int): Long = {
    var v = 0L
    var i = o + 7
    while (i >= o) { v = (v << 8) | (b(i) & 0xff); i -= 1 }
    v
  }
  private def f64le(b: Array[Byte], o: Int): Double = {
    var bits = 0L
    var i = o + 7
    while (i >= o) { bits = (bits << 8) | (b(i) & 0xff); i -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** 7-bit LSB-first packed ASCII (CdSerial class names). */
  private def unpack7(b: Array[Byte], off: Int, n: Int): String = {
    val out = new StringBuilder
    var acc = 0L
    var bits = 0
    var i = off
    var k = 0
    while (k < n) {
      while (bits < 7) { acc |= (b(i) & 0xffL) << bits; bits += 8; i += 1 }
      out += (acc & 0x7f).toChar
      acc >>= 7; bits -= 7; k += 1
    }
    out.toString
  }

  private[gds] final case class Rec(cls: Option[String], coder: Option[String],
      dims: Seq[Int], dataId: Int, raw: Long, attrs: Array[Byte],
      children: Seq[(Int, String)], packedScale: Double,
      packedOffset: Double, unknownProps: Boolean)

  private def hx(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val SigClass = hx("0001")
  private val SigCoder = hx("15c4466d10")
  private val SigSizes = hx("02c9466d50e051250410")
  private val SigSkipA = hx("05ca466d507041217401")
  private val SigSkipB = hx("0205cb466d50d0581e5542")
  private val SigNdim = hx("07c4e3641f")
  private val SigDims = hx("02c34361")
  private val SigDataId = hx("09c4c37c0c")
  private val SigNAttr = hx("0807f37d9d937d")
  private val SigAttrs = hx("0108f37ddd45791f")
  private val SigNChild = hx("08c643754ef601")
  private val SigChildren = hx("01c7437517e57d")
  private val SigScale = hx("1385e73017")
  // the packed-real OFFSET property, recovered from the Imputed_dosages
  // fixture: same 0x13 tag family as SCALE, second byte 0x80|nameLen
  // (0x85="SCALE", 0x86="OFFSET"), hash bytes, then an f64le payload —
  // the fixture stores exactly 0.0, the reference's always-written
  // default ("packedreal16:offset=0,scale=1e-4", R/ConvVCF2GDS.R:580)
  private val SigOffset = hx("138616451ef401")
  // resync anchors (>= 5 bytes, collision-safe)
  private val Anchors = Seq(SigCoder, SigSizes, SigSkipA, SigSkipB, SigNdim,
    SigDataId, SigNAttr, SigAttrs, SigNChild, SigChildren, SigScale,
    SigOffset)

  private def matches(b: Array[Byte], p: Int, sig: Array[Byte]): Boolean = {
    if (p + sig.length > b.length) return false
    var i = 0
    while (i < sig.length) {
      if (b(p + i) != sig(i)) return false
      i += 1
    }
    true
  }

  private[gds] def parseRecord(rec: Array[Byte]): Rec = {
    var cls: Option[String] = None
    var coder: Option[String] = None
    var dims: Seq[Int] = Nil
    var dataId = 0
    var raw = 0L
    var attrs = Array.empty[Byte]
    var children: Seq[(Int, String)] = Nil
    var scale = Double.NaN
    var offset = Double.NaN
    var unknown = false
    var p = 14 // [u48 len][u48 len2][u16 nProps]
    var done = false
    while (!done && p < rec.length) {
      if (matches(rec, p, SigClass)) {
        val n = rec(p + 2) & 0xff
        val need = (n * 7 + 7) / 8
        cls = Some(unpack7(rec, p + 3, n)); p += 3 + need
      } else if (matches(rec, p, SigCoder)) {
        val n = rec(p + 5) & 0xff
        coder = Some(new String(rec, p + 6, n, "ASCII")); p += 6 + n
      } else if (matches(rec, p, SigSizes)) {
        var v = 0L
        var i = p + 17
        while (i >= p + 10) { v = (v << 8) | (rec(i) & 0xff); i -= 1 }
        raw = v; p += 26
      } else if (matches(rec, p, SigSkipA)) { p += 10 }
      else if (matches(rec, p, SigSkipB)) { p += 12 }
      else if (matches(rec, p, SigNdim)) { p += 7 }
      else if (matches(rec, p, SigDims)) {
        val nb = rec(p + 4) & 0xff
        dims = (0 until nb / 4).map(i => u32(rec, p + 5 + 4 * i))
        p += 5 + nb
      } else if (matches(rec, p, SigDataId)) {
        dataId = u32(rec, p + 5); p += 9
      } else if (matches(rec, p, SigNAttr)) { p += 11 }
      else if (matches(rec, p, SigAttrs)) {
        val n = u48(rec, p + 8).toInt
        attrs = java.util.Arrays.copyOfRange(rec, p + 14, p + 14 + n)
        p += 14 + n
      } else if (matches(rec, p, SigNChild)) { p += 11 }
      else if (matches(rec, p, SigChildren)) {
        val n = u48(rec, p + 7).toInt
        children = parseChildren(rec, p + 13, n)
        p += 13 + math.max(n - 8, 0) // resync scan recovers the tail drift
      } else if (matches(rec, p, SigScale)) {
        scale = f64le(rec, p + 6); p += 14
      } else if (matches(rec, p, SigOffset)) {
        offset = f64le(rec, p + 7); p += 15
      } else {
        // unknown/offset bytes: resync on the next anchor token. A
        // MID-RECORD resync (an anchor found past the gap) means the
        // record carries a property this reader has no token for —
        // remembered on the node so decoders whose semantics such a
        // property could change (packed-real: a stored nonzero offset)
        // can refuse instead of decoding shifted. Trailing drift with no
        // later anchor is the known value-length quirk, not a property.
        var q = p + 1
        var hit = false
        while (!hit && q < rec.length && q < p + 96) {
          if (Anchors.exists(matches(rec, q, _))) hit = true else q += 1
        }
        if (hit) { unknown = true; p = q } else done = true
      }
    }
    Rec(cls, coder, dims, dataId, raw, attrs, children, scale, offset,
      unknown)
  }

  private val SigEntry = hx("03000902f500")
  private val SigEntryFlags = hx("09447431")
  private val SigEntryName = hx("44c66010")

  private def parseChildren(rec: Array[Byte], off: Int, len: Int)
      : Seq[(Int, String)] = {
    val out = ArrayBuffer.empty[(Int, String)]
    var i = off
    val end = math.min(off + len, rec.length)
    while (i + 10 < end) {
      if (matches(rec, i, SigEntry)) {
        val cid = u32(rec, i + 6)
        var j = i + 10
        if (matches(rec, j, SigEntryFlags)) j += 9
        // name tag is 0x15/0x16/0x17 + constant token
        if (j + 5 < end && (rec(j) == 0x15 || rec(j) == 0x16 ||
            rec(j) == 0x17) && matches(rec, j + 1, SigEntryName)) {
          val nl = rec(j + 5) & 0xff
          out += cid -> new String(rec, j + 6, nl, "UTF-8")
          i = j + 6 + nl
        } else i += 1
      } else i += 1
    }
    out.toSeq
  }

  /** Attribute blob: repeated [len][name] then a tagged value —
    * 0x0e/0x11 = string [len][bytes], 0x21 = list [u32 n][values],
    * 0x00 = null. */
  private def parseAttrs(b: Array[Byte]): Map[String, AttrValue] = {
    val out = Map.newBuilder[String, AttrValue]
    var p = 0
    def value(): AttrValue = (b(p) & 0xff: @annotation.switch) match {
      case 0x0e | 0x11 =>
        val n = b(p + 1) & 0xff
        val s = new String(b, p + 2, n, "UTF-8"); p += 2 + n; AttrStr(s)
      case 0x21 =>
        val n = u32(b, p + 1); p += 5
        AttrList((0 until n).map(_ => value()))
      case 0x00 => p += 1; AttrNull
      case t => throw new IllegalStateException(f"gds attr tag 0x$t%02x")
    }
    while (p < b.length) {
      val n = b(p) & 0xff
      val name = new String(b, p + 1, n, "UTF-8")
      p += 1 + n
      out += name -> value()
    }
    out.result()
  }

  // ---- data-stream layer ---------------------------------------------------

  /** Total bytes pulled from disk by all [[GdsFile.StreamView]] reads —
    * lets specs assert that ranged decodes touch only the covering
    * chunks' bytes, not the whole stream. */
  val fileBytesRead = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A `*_ra` random-access chunk codec. The chunk framing is shared
    * (recovered empirically from the fixtures' LZMA_ra streams, see the
    * header doc): `[magic][0x10 0x11][0xff][u32 nChunks]` then per chunk
    * `[u48 cmpSize][one independent compressed stream]`. Codecs differ
    * only in the magic and the per-chunk stream format. */
  sealed abstract class RaCodec(val magic: String, val coderName: String) {
    def decode(in: InputStream): InputStream
    def encode(out: OutputStream): OutputStream
  }
  /** LZMA_ra — xz chunk streams (the reference import default,
    * `R/ConvVCF2GDS.R:560`). */
  case object XzRa extends RaCodec("XZ_RA", "LZMA_ra") {
    def decode(in: InputStream): InputStream = new XZInputStream(in)
    def encode(out: OutputStream): OutputStream =
      // preset 3: ~2× the encode throughput of the default for a few
      // percent larger output — the right trade for an export path
      new org.tukaani.xz.XZOutputStream(out, new org.tukaani.xz.LZMA2Options(3))
  }
  /** ZIP_ra — zlib chunk streams (`seqStorageOption`'s own default
    * compression, `R/Utilities.R:250-252`); JDK Inflater/Deflater. */
  case object ZipRa extends RaCodec("ZIP_RA", "ZIP_ra") {
    def decode(in: InputStream): InputStream =
      new java.util.zip.InflaterInputStream(in)
    def encode(out: OutputStream): OutputStream =
      new java.util.zip.DeflaterOutputStream(out)
  }
  /** LZ4_ra — lz4 block chunk streams via Spark's bundled lz4-java. */
  case object Lz4Ra extends RaCodec("LZ4_RA", "LZ4_ra") {
    def decode(in: InputStream): InputStream =
      new net.jpountz.lz4.LZ4BlockInputStream(in)
    def encode(out: OutputStream): OutputStream =
      new net.jpountz.lz4.LZ4BlockOutputStream(out)
  }
  val raCodecs: Seq[RaCodec] = Seq(XzRa, ZipRa, Lz4Ra)

  /** Codec for a node's coder string ("LZMA_ra", "ZIP_ra.max", …). */
  def codecForCoder(coder: String): Option[RaCodec] = {
    val base = coder.takeWhile(c => c != '.' && c != ':').toUpperCase
    raCodecs.find(_.coderName.toUpperCase == base)
  }

  /** Parsed `*_ra` stream: codec, chunk payload offsets/sizes within the
    * stream view, and (once learned) the exact raw-byte boundary of every
    * chunk. `rawStarts` has nChunks+1 entries when set; `uniformRaw` is
    * the inferred fixed raw chunk size for v11 streams (cheap path: one
    * chunk-0 decode instead of a full pass). */
  final class ChunkTable(
      val codec: RaCodec,
      val v11: Boolean,
      val offs: Array[Long],
      val sizes: Array[Int]) {
    @volatile var rawStarts: Array[Long] = _
    @volatile var uniformRaw: Long = -1L
    def nChunks: Int = offs.length
  }

  /** Per-JVM cache of what is parsed once per (file, data stream), held
    * under SoftReferences so memory pressure can drop it. */
  private type SoftCache[V] =
    java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[V]]

  /** `cache`'s value for node `n` of `f`, built and stored on a miss. */
  private def cached[V <: AnyRef](cache: SoftCache[V], f: GdsFile, n: Node)(
      build: => V): V = {
    val key = f.cacheToken + "#" + n.dataId
    val ref = cache.get(key)
    val hit = if (ref != null) ref.get else null.asInstanceOf[V]
    if (hit != null) hit
    else {
      val v = build
      cache.put(key, new java.lang.ref.SoftReference(v))
      v
    }
  }

  private val chunkTableCache = new SoftCache[Option[ChunkTable]]()

  /** Detect + parse the `*_ra` framing of a node's data stream; None for
    * uncompressed streams. Cached per (file, stream) — the header walk
    * touches only the ~6 bytes of each chunk header. */
  def chunkTable(f: GdsFile, node: Node): Option[ChunkTable] =
    if (node.dataId == 0) None
    else cached(chunkTableCache, f, node)(parseChunkTable(f, node))

  private def parseChunkTable(f: GdsFile, node: Node): Option[ChunkTable] = {
    val v = f.view(node.dataId)
    if (v.length < 12) return None
    val head = v.read(6, math.min(8L, v.length - 6).toInt)
    val codec = raCodecs.find { c =>
      val m = c.magic.getBytes("ASCII")
      head.length >= m.length && m.indices.forall(i => head(i) == m(i))
    }.orElse {
      if (node.coder.isEmpty) None
      else throw new UnsupportedOperationException(
        s"gds coder ${node.coder.get} at ${node.path} " +
          s"(expected one of ${raCodecs.map(_.coderName).mkString("/")})")
    }
    codec.map { c =>
      val mLen = c.magic.length
      // [magic][verHi verLo][0xff][u32 nChunks]; v11 chunk headers are
      // 6-byte [u48 cmpSize], v10 are 7-byte [u24 cmpSizeIncl][u32 raw]
      val v11 = v.byteAt(6L + mLen + 1) >= 0x11
      val nChunks = v.u32At(6L + mLen + 3)
      val offs = new Array[Long](nChunks)
      val sizes = new Array[Int](nChunks)
      var rawStarts: Array[Long] = if (v11) null else new Array[Long](nChunks + 1)
      var p = 6L + mLen + 7
      var i = 0
      while (i < nChunks) {
        if (v11) {
          offs(i) = p + 6
          sizes(i) = v.u48At(p).toInt
        } else {
          val h = v.read(p, 7)
          offs(i) = p + 7
          sizes(i) = ((h(0) & 0xff) | ((h(1) & 0xff) << 8) |
            ((h(2) & 0xff) << 16)) - 7
          rawStarts(i + 1) = rawStarts(i) + (u32(h, 3).toLong & 0xffffffffL)
        }
        p = offs(i) + sizes(i)
        i += 1
      }
      val ct = new ChunkTable(c, v11, offs, sizes)
      if (rawStarts != null) ct.rawStarts = rawStarts
      ct
    }
  }

  /** Fully decode chunk `i`, reading only its compressed bytes. */
  private def decodeChunk(v: GdsFile#StreamView, ct: ChunkTable, i: Int)
      : Array[Byte] = {
    val in = ct.codec.decode(v.slice(ct.offs(i), ct.sizes(i).toLong))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** One sequential pass recording every chunk's exact raw boundary
    * (v11 streams don't carry per-chunk raw sizes); optionally feeds
    * each decoded chunk to `sink`. Stores the result on the table. */
  private def learnRawStarts(v: GdsFile#StreamView, ct: ChunkTable,
      sink: Array[Byte] => Unit = null): Array[Long] = {
    val starts = new Array[Long](ct.nChunks + 1)
    var i = 0
    while (i < ct.nChunks) {
      val raw = decodeChunk(v, ct, i)
      starts(i + 1) = starts(i) + raw.length
      if (sink != null) sink(raw)
      i += 1
    }
    ct.rawStarts = starts
    starts
  }

  /** Decompressed data bytes of a node (whole array). Supports the
    * uncompressed layout and the `*_ra` chunk framing (xz / zlib / lz4);
    * compressed bytes are streamed from disk chunk by chunk. */
  def nodeBytes(f: GdsFile, node: Node): Array[Byte] = {
    if (node.dataId == 0) return Array.empty
    chunkTable(f, node) match {
      case Some(ct) =>
        val v = f.view(node.dataId)
        val out = new java.io.ByteArrayOutputStream()
        if (ct.rawStarts == null) learnRawStarts(v, ct, out.write(_))
        else {
          var i = 0
          while (i < ct.nChunks) { out.write(decodeChunk(v, ct, i)); i += 1 }
        }
        out.toByteArray
      case None =>
        val v = f.view(node.dataId)
        if (v.length < 6) return Array.empty
        v.read(6, v.u48At(0).toInt)
    }
  }

  // ---- ranged decode (variant-range splits) ---------------------------

  /** Exact raw-byte slice [rawOff, rawOff+rawLen) of a node's data.
    * `*_ra` streams decode ONLY the chunks covering the range — the
    * random-access property the framing exists for. Chunk boundaries
    * come from the v10 headers, an earlier full pass, or (v11 cheap
    * path) a chunk-0 decode inferring the uniform raw chunk size; a
    * wrong inference is detected and repaired with one full boundary
    * pass. Uncompressed streams are sliced directly from the file. */
  def nodeBytesRange(f: GdsFile, node: Node, rawOff: Long, rawLen: Long)
      : Array[Byte] = {
    if (node.dataId == 0 || rawLen <= 0) return Array.empty
    chunkTable(f, node) match {
      case Some(ct) =>
        val v = f.view(node.dataId)
        rangeFromChunks(v, ct, rawOff, rawLen)
      case None =>
        f.view(node.dataId).read(6 + rawOff, rawLen.toInt)
    }
  }

  private def rangeFromChunks(v: GdsFile#StreamView, ct: ChunkTable,
      rawOff: Long, rawLen: Long): Array[Byte] = {
    var starts = ct.rawStarts
    var inferred = false
    if (starts == null) {
      // v11 cheap path: writers emit fixed-size raw chunks; learn the
      // size from chunk 0 and verify as covering chunks decode
      if (ct.uniformRaw < 0) ct.uniformRaw = decodeChunk(v, ct, 0).length
      val u = ct.uniformRaw
      starts = Array.tabulate(ct.nChunks + 1)(i => i * u)
      inferred = true
    }
    val out = new Array[Byte](rawLen.toInt)
    var written = 0
    var ci = 0
    while (ci < ct.nChunks && starts(ci + 1) <= rawOff) ci += 1
    var ok = true
    while (ok && written < rawLen && ci < ct.nChunks) {
      val raw = decodeChunk(v, ct, ci)
      if (inferred && raw.length.toLong != starts(ci + 1) - starts(ci) &&
          ci < ct.nChunks - 1)
        ok = false // uniform-size inference was wrong
      else {
        val from = math.max(rawOff - starts(ci), 0L).toInt
        val take = math.min(raw.length - from, rawLen - written).toInt
        if (take > 0) {
          System.arraycopy(raw, from, out, written, take)
          written += take
        }
        ci += 1
      }
    }
    if (ok && written == rawLen) out
    else if (inferred) {
      // repair: one full boundary pass (exact starts cached), then a
      // truly ranged retry — still never materializes the whole node
      learnRawStarts(v, ct)
      rangeFromChunks(v, ct, rawOff, rawLen)
    } else throw new IllegalStateException(
      s"gds ranged decode short read: $written of $rawLen at raw $rawOff")
  }

  /** Every fixed-stride integer storage class [[ints]] decodes — the
    * read-path dispatch (GdsDataSource) keys on these sets so a class
    * added here is reachable from `Gds.read`, not only the primitives. */
  val IntClasses: Set[String] = Set("dInt8", "dUInt8", "dInt16", "dUInt16",
    "dInt32", "dUInt32", "dInt64", "dUInt64")

  /** The integer classes whose full value range fits the engine's Int
    * columns. VALUE readers (info/format/annotation — arbitrary user
    * numbers) must stay inside this set: decoding dUInt32/dInt64/dUInt64
    * there would silently truncate; axis/index nodes may use the wider
    * [[IntClasses]] since their values fit by construction. */
  val IntSafeClasses: Set[String] =
    Set("dInt8", "dUInt8", "dInt16", "dUInt16", "dInt32")

  /** The wide integer classes VALUE readers surface as BIGINT columns via
    * [[longs]]/[[longsRange]]. dUInt64 is decoded through the same Long
    * path but SURFACES as DECIMAL(20,0) — the full unsigned range has no
    * primitive column type, and [[unsignedDecimal]] rebuilds the true
    * value from the signed bit pattern losslessly. */
  val LongClasses: Set[String] = Set("dUInt32", "dInt64", "dUInt64")

  /** The unsigned reading of a raw 64-bit pattern, as an exact decimal —
    * identity for v ≥ 0, v + 2⁶⁴ for negative bit patterns. */
  def unsignedDecimal(v: Long): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Long.toUnsignedString(v))

  /** Every fixed-stride float storage class [[floats]] decodes. */
  val FloatClasses: Set[String] = Set("dFloat32", "dFloat64",
    "dPackedReal8", "dPackedReal8U", "dPackedReal16", "dPackedReal16U",
    "dPackedReal24", "dPackedReal24U", "dPackedReal32", "dPackedReal32U")

  /** True when [[floats]] can decode `n` — a packed class needs its
    * stored scale attribute (or a verified default). Lets optional
    * readers (sample.annotation) SKIP an undecodable column instead of
    * failing the whole table. */
  def floatsDecodable(n: Node): Boolean = n.cls.exists {
    case c if !FloatClasses(c) => false
    case "dFloat32" | "dFloat64" => true
    case _ if n.unknownProps => false // unparsed property: maybe an offset
    case "dPackedReal8U" | "dPackedReal16" | "dPackedReal16U" => true
    case _ => !n.packedScale.isNaN
  }

  /** Byte stride of a fixed-stride integer storage class. */
  private def intStride(cls: String, path: String): Int = cls match {
    case "dInt8" | "dUInt8" => 1
    case "dInt16" | "dUInt16" => 2
    case "dInt32" | "dUInt32" => 4
    case "dInt64" | "dUInt64" => 8
    case c => throw new UnsupportedOperationException(
      s"gds int decode for class $c at $path")
  }

  /** Decode `cnt` little-endian integers of class `cls` from b(0).
    * Values surface as Int — the engine's axis/annotation type; a
    * dUInt32 above 2^31−1 or a 64-bit magnitude beyond Int range wraps
    * (the id/coordinate/index nodes these classes carry fit in Int). */
  private def intsFromBytes(b: Array[Byte], cls: String, cnt: Int)
      : Array[Int] = cls match {
    case "dInt8" => Array.tabulate(cnt)(i => b(i).toInt)
    case "dUInt8" => Array.tabulate(cnt)(i => b(i) & 0xff)
    case "dInt16" => Array.tabulate(cnt)(i => (u16(b, 2 * i) << 16) >> 16)
    case "dUInt16" => Array.tabulate(cnt)(i => u16(b, 2 * i))
    case "dInt32" | "dUInt32" => Array.tabulate(cnt)(i => u32(b, 4 * i))
    case "dInt64" | "dUInt64" => Array.tabulate(cnt)(i => i64(b, 8 * i).toInt)
  }

  /** Decode `cnt` little-endian integers of class `cls` from b(0) into
    * Long — the lossless surface for [[LongClasses]] (also accepts the
    * narrow classes, widened). dUInt64 reinterprets as signed 64-bit. */
  private def longsFromBytes(b: Array[Byte], cls: String, cnt: Int)
      : Array[Long] = cls match {
    case "dUInt32" =>
      Array.tabulate(cnt)(i => u32(b, 4 * i) & 0xffffffffL)
    case "dInt64" | "dUInt64" => Array.tabulate(cnt)(i => i64(b, 8 * i))
    case _ => intsFromBytes(b, cls, cnt).map(_.toLong)
  }
  private def floatStride(cls: String, path: String): Int = cls match {
    case "dPackedReal8" | "dPackedReal8U" => 1
    case "dPackedReal16" | "dPackedReal16U" => 2
    case "dPackedReal24" | "dPackedReal24U" => 3
    case "dFloat32" | "dPackedReal32" | "dPackedReal32U" => 4
    case "dFloat64" => 8
    case c => throw new UnsupportedOperationException(
      s"gds float decode for class $c at $path")
  }

  /** Effective packed-real scale: the node's stored scale attribute when
    * present. Defaults are only assumed where verified — dPackedReal8U's
    * 1/127 (the Imputed_dosages fixture) and packedreal16's 0.0001 (the
    * reference's documented dosage storage, R/ConvVCF2GDS.R:580); other
    * packed classes REQUIRE the stored attribute rather than guess.
    *
    * A record that carried a property this reader has no token for
    * REFUSES packed decode: an unparsed property could change the
    * value mapping the way offset/scale do, and decoding past it risks
    * silently wrong values. All known writers parse cleanly (the offset
    * token itself was recovered from exactly such a gap in the
    * Imputed_dosages fixture), so this only fires on foreign nodes. */
  private def packedScaleOf(n: Node, cls: String): Double = {
    if (n.unknownProps) throw new UnsupportedOperationException(
      s"gds $cls at ${n.path}: the node record carries a property this " +
        "reader does not parse (an offset/scale-like property would " +
        "change the decode) — refusing to decode rather than guess")
    if (!n.packedScale.isNaN) n.packedScale
    else cls match {
      case "dPackedReal8U" => 1.0 / 127
      case "dPackedReal16" | "dPackedReal16U" => 0.0001
      case c => throw new UnsupportedOperationException(
        s"gds $c without a stored scale attribute at ${n.path}")
    }
  }

  /** Effective packed-real offset: the stored attribute when present,
    * else 0 — the reference's always-written default
    * (R/ConvVCF2GDS.R:577-583). Decoded value = code·scale + offset. */
  private def packedOffsetOf(n: Node): Double =
    if (n.packedOffset.isNaN) 0.0 else n.packedOffset

  /** Decode `cnt` floats of class `cls` from b(0). Packed classes store
    * value/scale as little-endian integer codes; the missing sentinel is
    * the minimum signed / maximum unsigned code of the width. Codes go
    * through Long so the unsigned 32-bit range above 2³¹−1 cannot wrap
    * negative. */
  private def floatsFromBytes(b: Array[Byte], n: Node, cls: String, cnt: Int)
      : Array[Float] = {
    def i24u(i: Int): Int =
      (b(3 * i) & 0xff) | ((b(3 * i + 1) & 0xff) << 8) |
        ((b(3 * i + 2) & 0xff) << 16)
    lazy val scale = packedScaleOf(n, cls)
    lazy val offset = packedOffsetOf(n)
    def packed(code: Int => Long, missing: Long): Array[Float] =
      Array.tabulate(cnt) { i =>
        val v = code(i)
        if (v == missing) Float.NaN else (v * scale + offset).toFloat
      }
    cls match {
      case "dFloat32" =>
        Array.tabulate(cnt)(i => java.lang.Float.intBitsToFloat(u32(b, 4 * i)))
      case "dFloat64" =>
        Array.tabulate(cnt)(i => f64le(b, 8 * i).toFloat)
      case "dPackedReal8" => packed(i => b(i).toLong, Byte.MinValue.toLong)
      case "dPackedReal8U" => packed(i => (b(i) & 0xff).toLong, 0xffL)
      case "dPackedReal16" =>
        // the reference's default imputation-dosage storage
        // ("packedreal16:offset=0,scale=0.0001", R/ConvVCF2GDS.R:580);
        // signed int16, min value = missing
        packed(i => ((u16(b, 2 * i) << 16) >> 16).toLong,
          Short.MinValue.toLong)
      case "dPackedReal16U" => packed(i => u16(b, 2 * i).toLong, 0xffffL)
      case "dPackedReal24" =>
        packed(i => ((i24u(i) << 8) >> 8).toLong, -0x800000L)
      case "dPackedReal24U" => packed(i => i24u(i).toLong, 0xffffffL)
      case "dPackedReal32" =>
        packed(i => u32(b, 4 * i).toLong, Int.MinValue.toLong)
      case "dPackedReal32U" =>
        packed(i => u32(b, 4 * i) & 0xffffffffL, 0xffffffffL)
    }
  }

  /** Fixed-stride int elements [off, off+cnt). */
  def intsRange(f: GdsFile, n: Node, off: Long, cnt: Int): Array[Int] = {
    val cls = n.cls.getOrElse("")
    val w = intStride(cls, n.path)
    intsFromBytes(nodeBytesRange(f, n, off * w, cnt.toLong * w), cls, cnt)
  }

  /** Fixed-stride integer elements [off, off+cnt) as lossless Longs. */
  def longsRange(f: GdsFile, n: Node, off: Long, cnt: Int): Array[Long] = {
    val cls = n.cls.getOrElse("")
    val w = intStride(cls, n.path)
    longsFromBytes(nodeBytesRange(f, n, off * w, cnt.toLong * w), cls, cnt)
  }

  /** Fixed-stride float elements [off, off+cnt). */
  def floatsRange(f: GdsFile, n: Node, off: Long, cnt: Int): Array[Float] = {
    val cls = n.cls.getOrElse("")
    val w = floatStride(cls, n.path)
    floatsFromBytes(nodeBytesRange(f, n, off * w, cnt.toLong * w), n, cls, cnt)
  }

  /** 2-bit units [u0, u1): returns (bytes, unitBase) — index with
    * `bit2(bytes, u - unitBase)`. Byte-aligned at the floor. */
  def bit2Range(f: GdsFile, n: Node, u0: Long, u1: Long)
      : (Array[Byte], Long) = {
    val byteOff = u0 >> 2
    val byteEnd = (u1 + 3) >> 2
    (nodeBytesRange(f, n, byteOff, byteEnd - byteOff), byteOff << 2)
  }

  /** 1-bit units [u0, u1): returns (bytes, unitBase). */
  def bit1Range(f: GdsFile, n: Node, u0: Long, u1: Long)
      : (Array[Byte], Long) = {
    val byteOff = u0 >> 3
    val byteEnd = (u1 + 7) >> 3
    (nodeBytesRange(f, n, byteOff, byteEnd - byteOff), byteOff << 3)
  }

  // ---- typed array decode --------------------------------------------------

  def ints(f: GdsFile, n: Node): Array[Int] = {
    val cls = n.cls.getOrElse("")
    val b = nodeBytes(f, n)
    intsFromBytes(b, cls, b.length / intStride(cls, n.path))
  }

  def longs(f: GdsFile, n: Node): Array[Long] = {
    val cls = n.cls.getOrElse("")
    val b = nodeBytes(f, n)
    longsFromBytes(b, cls, b.length / intStride(cls, n.path))
  }

  def floats(f: GdsFile, n: Node): Array[Float] = {
    val cls = n.cls.getOrElse("")
    val b = nodeBytes(f, n)
    floatsFromBytes(b, n, cls, b.length / floatStride(cls, n.path))
  }

  /** Fixed-width string vector (dFStr8 — SNPRelate's default string
    * storage): stride = rawSize / count, elements NUL-padded. */
  private def fixedStrings(b: Array[Byte], count: Int, rawSize: Long)
      : Array[String] = {
    if (count == 0) return Array.empty
    val stride = (rawSize / count).toInt
    Array.tabulate(count) { i =>
      var len = 0
      while (len < stride && b(i * stride + len) != 0) len += 1
      new String(b, i * stride, len, "UTF-8")
    }
  }

  /** Length-prefixed string vector (dStr8); lengths are LEB128 varints
    * (single byte below 128 — 1KG carries 296 kb indel alleles). Also
    * accepts fixed-width dFStr8 nodes. */
  def strings(f: GdsFile, n: Node): Array[String] = {
    if (n.cls.contains("dFStr8"))
      return fixedStrings(nodeBytes(f, n), n.dims.headOption.getOrElse(0),
        n.rawSize)
    require(n.cls.contains("dStr8"),
      s"gds string decode for class ${n.cls} at ${n.path}")
    decodeStrs(nodeBytes(f, n), 0, n.dims.headOption.getOrElse(0))
  }

  /** Elements [skip, skip + n) of a dStr8 byte run starting at element
    * 0 (LEB128 length, then the UTF-8 payload). */
  private def decodeStrs(b: Array[Byte], skip: Int, n: Int): Array[String] = {
    val out = new Array[String](n)
    var p = 0
    var e = 0
    while (e < skip + n) {
      var l = 0
      var s = 0
      var more = true
      while (more) {
        val v = b(p) & 0xff
        p += 1
        l |= (v & 0x7f) << s
        s += 7
        more = (v & 0x80) != 0
      }
      if (e >= skip) out(e - skip) = new String(b, p, l, "UTF-8")
      p += l
      e += 1
    }
    out
  }

  /** Zig-zag LEB128 varint vector (dVL_Int). */
  def varints(f: GdsFile, n: Node, count: Long): Array[Long] = {
    require(n.cls.contains("dVL_Int"),
      s"gds varint decode for class ${n.cls} at ${n.path}")
    decodeVarints(nodeBytes(f, n), 0, count.toInt)
  }

  /** Elements [skip, skip + n) of a zig-zag LEB128 byte run starting at
    * element 0. */
  private def decodeVarints(b: Array[Byte], skip: Int, n: Int)
      : Array[Long] = {
    val out = new Array[Long](n)
    var p = 0
    var e = 0
    while (e < skip + n) {
      var x = 0L
      var s = 0
      var more = true
      while (more) {
        val v = b(p) & 0xff
        p += 1
        x |= (v & 0x7fL) << s
        s += 7
        more = (v & 0x80) != 0
      }
      if (e >= skip) out(e - skip) = (x >>> 1) ^ -(x & 1)
      e += 1
    }
    out
  }

  /** Raw bit-plane bytes plus accessors for dBit1/dBit2. */
  def bits(f: GdsFile, n: Node): Array[Byte] = nodeBytes(f, n)

  @inline def bit1(b: Array[Byte], i: Long): Int =
    (b((i >> 3).toInt) >> (i & 7).toInt) & 1
  @inline def bit2(b: Array[Byte], i: Long): Int =
    (b((i >> 2).toInt) >> ((i & 3).toInt * 2)) & 3

  // ---- variable-stride ranged decode ----------------------------------
  //
  // dStr8 / dVL_Int elements are length-prefixed / continuation-flagged,
  // so a chunk's bytes cannot be interpreted without upstream context and
  // a plain raw-range slice is useless. The scale answer: ONE sequential
  // parse per (file, node) per JVM builds a chunk-granular index — for
  // every XZ_RA chunk boundary, the first element starting at/after it
  // and that element's raw byte offset — cached under a SoftReference.
  // Every later ranged read then inflates only the chunks covering its
  // element range. Per-partition cost drops from O(node) to
  // O(range + one chunk); the one-time build cost equals today's whole
  // decode and is amortized across all partitions and queries of an
  // executor. (The index itself is ~24 bytes per chunk — trivially
  // broadcastable if a cluster deployment wants to build it exactly
  // once per file instead of once per executor.)

  /** Chunk-granular element index of a variable-stride node.
    * `rawStarts` has nChunks+1 entries (exact raw boundaries; last =
    * total raw size); `elemIdx(c)` / `elemOff(c)` identify the first
    * element starting at raw offset >= rawStarts(c). */
  final class VarIndex(
      val rawStarts: Array[Long],
      val elemIdx: Array[Int],
      val elemOff: Array[Long])

  private val varIdxCache = new SoftCache[VarIndex]()

  /** Position after one dStr8 element, or -1 if it extends past `end`. */
  private def skipStrSafe(b: Array[Byte], p0: Int, end: Int): Int = {
    var p = p0
    var l = 0
    var s = 0
    var more = true
    while (more) {
      if (p >= end) return -1
      val v = b(p) & 0xff
      p += 1
      l |= (v & 0x7f) << s
      s += 7
      more = (v & 0x80) != 0
    }
    if (p + l > end) -1 else p + l
  }

  /** Position after one dVL_Int element, or -1 if incomplete. */
  private def skipVarintSafe(b: Array[Byte], p0: Int, end: Int): Int = {
    var p = p0
    while (p < end && (b(p) & 0x80) != 0) p += 1
    if (p >= end) -1 else p + 1
  }

  private def elemSkipperSafe(n: Node): (Array[Byte], Int, Int) => Int =
    n.cls.getOrElse("") match {
      case "dStr8" => skipStrSafe
      case "dVL_Int" => skipVarintSafe
      case c => throw new UnsupportedOperationException(
        s"gds variable-stride index for class $c at ${n.path}")
    }

  /** Streaming index build: walks decoded chunks one at a time (peak
    * memory = one chunk + one element carry, never the whole node),
    * recording at every chunk boundary the first element starting
    * at/after it. `chunks` yields each chunk's raw bytes in order. */
  private def buildVarIndex(chunks: Iterator[Array[Byte]], nCh: Int,
      safe: (Array[Byte], Int, Int) => Int, count: Int): VarIndex = {
    val rawStarts = new Array[Long](nCh + 1)
    val elemIdx = new Array[Int](nCh)
    val elemOff = new Array[Long](nCh)
    var cFill = 0
    var buf: Array[Byte] = Array.empty
    var bufGlobal = 0L // raw offset of buf(0)
    var p = 0 // parse position within buf
    var e = 0
    var cum = 0L
    var c = 0
    while (c < nCh) {
      val chunk = chunks.next()
      rawStarts(c) = cum
      cum += chunk.length
      // compact the unparsed tail (a partial element) + append the chunk
      val keep = buf.length - p
      val nb = new Array[Byte](keep + chunk.length)
      System.arraycopy(buf, p, nb, 0, keep)
      System.arraycopy(chunk, 0, nb, keep, chunk.length)
      bufGlobal += p
      buf = nb
      p = 0
      var next = if (e < count) safe(buf, p, buf.length) else -1
      while (next >= 0) {
        val startGlobal = bufGlobal + p
        while (cFill <= c && rawStarts(cFill) <= startGlobal) {
          elemIdx(cFill) = e; elemOff(cFill) = startGlobal; cFill += 1
        }
        p = next
        e += 1
        next = if (e < count) safe(buf, p, buf.length) else -1
      }
      c += 1
    }
    rawStarts(nCh) = cum
    while (cFill < nCh) {
      elemIdx(cFill) = e; elemOff(cFill) = bufGlobal + p; cFill += 1
    }
    new VarIndex(rawStarts, elemIdx, elemOff)
  }

  /** Build (or fetch) the element index of a variable-stride node. As a
    * by-product the node's exact chunk boundaries land on its cached
    * [[ChunkTable]], making every later ranged read exact. */
  def varIndex(f: GdsFile, n: Node, count: Int): VarIndex =
    cached(varIdxCache, f, n) {
      val safe = elemSkipperSafe(n)
      chunkTable(f, n) match {
        case Some(ct) =>
          val v = f.view(n.dataId)
          val built = buildVarIndex(
            Iterator.range(0, ct.nChunks).map(decodeChunk(v, ct, _)),
            ct.nChunks, safe, count)
          ct.rawStarts = built.rawStarts // exact boundaries learned for free
          built
        case None =>
          // uncompressed: direct-sliceable; synthetic 256 KiB boundaries
          val v = f.view(n.dataId)
          val total = if (v.length < 6) 0L else v.u48At(0)
          val step = 256 * 1024
          val nB = math.max(((total + step - 1) / step).toInt, 1)
          buildVarIndex(
            Iterator.range(0, nB).map { i =>
              val off = i.toLong * step
              v.read(6 + off, math.min(step.toLong, total - off).toInt)
            },
            nB, safe, count)
      }
    }

  /** Raw bytes guaranteed to contain elements [e0, e1) plus the index of
    * the first element that starts at byte 0 of the returned slice. */
  private def varRangeBytes(f: GdsFile, n: Node, count: Int, e0: Int,
      e1: Int): (Array[Byte], Int) = {
    val idx = varIndex(f, n, count)
    // greatest chunk boundary whose first element is <= e0
    var lo = 0
    var hi = idx.elemIdx.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (idx.elemIdx(mid) <= e0) lo = mid else hi = mid - 1
    }
    val startElem = idx.elemIdx(lo)
    val startByte = idx.elemOff(lo)
    // smallest chunk boundary whose first element is >= e1 (safe end)
    var lo2 = 0
    var hi2 = idx.elemIdx.length
    while (lo2 < hi2) {
      val mid = (lo2 + hi2) >>> 1
      if (idx.elemIdx(mid) >= e1) hi2 = mid else lo2 = mid + 1
    }
    val endByte =
      if (lo2 >= idx.elemIdx.length) idx.rawStarts(idx.rawStarts.length - 1)
      else idx.elemOff(lo2)
    // ranged slice is exact: the index build stored the node's true
    // chunk boundaries on its ChunkTable
    (nodeBytesRange(f, n, startByte, endByte - startByte), startElem)
  }

  /** dStr8 elements [e0, e1), locally indexed (result(0) = element e0);
    * decodes only the chunks covering the range. Fixed-width dFStr8
    * nodes slice directly (stride known without an element index). */
  def stringsRange(f: GdsFile, n: Node, e0: Int, e1: Int): Array[String] = {
    if (n.cls.contains("dFStr8")) {
      val cnt = n.dims.headOption.getOrElse(0)
      if (e1 <= e0 || cnt == 0) return Array.empty
      val stride = n.rawSize / cnt
      return fixedStrings(
        nodeBytesRange(f, n, e0 * stride, (e1 - e0).toLong * stride),
        e1 - e0, (e1 - e0).toLong * stride)
    }
    require(n.cls.contains("dStr8"),
      s"gds string decode for class ${n.cls} at ${n.path}")
    if (e1 <= e0) return Array.empty
    val count = n.dims.headOption.getOrElse(0)
    val (b, startElem) = varRangeBytes(f, n, count, e0, e1)
    decodeStrs(b, e0 - startElem, e1 - e0)
  }

  /** dVL_Int elements [e0, e1), locally indexed; zig-zag decoded. */
  def varintsRange(f: GdsFile, n: Node, count: Long, e0: Int, e1: Int)
      : Array[Long] = {
    require(n.cls.contains("dVL_Int"),
      s"gds varint decode for class ${n.cls} at ${n.path}")
    if (e1 <= e0) return Array.empty
    val (b, startElem) = varRangeBytes(f, n, count.toInt, e0, e1)
    decodeVarints(b, e0 - startElem, e1 - e0)
  }

  // ---- cached prefix sums of @len / @data count vectors ---------------
  //
  // Ragged info/format extraction needs, for a variant range [v0, v1),
  // the element offset at v0 — a prefix sum over the whole count vector.
  // Decoding [0, v1) per partition makes the LAST partition pay for the
  // whole node; instead each executor decodes the (4-byte-per-variant)
  // vector once, caches (lens, clamped starts), and every partition
  // indexes it globally.

  private val prefixCache = new SoftCache[(Array[Int], Array[Int])]()

  /** Whole count vector + clamped cumulative starts, cached per JVM. */
  def lensWithStarts(f: GdsFile, n: Node): (Array[Int], Array[Int]) =
    cached(prefixCache, f, n) {
      val lens = ints(f, n)
      val starts = new Array[Int](lens.length)
      var acc = 0
      var i = 0
      while (i < lens.length) {
        starts(i) = acc
        acc += math.max(lens(i), 0)
        i += 1
      }
      (lens, starts)
    }
}
