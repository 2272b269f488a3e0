package graft.sources.gds

import java.io.ByteArrayOutputStream

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** CoreArray GDS container WRITER — the export half of the north star's
  * "GDS read/write via custom data source" (`seqVCF2GDS`'s on-disk
  * product; container layout as documented on [[GdsCore]], recovered
  * from the public fixtures and emitted here with the same block /
  * CdSerial-record / data-stream structure the reader parses, incl. the
  * SeqArray node tree of ReadByVariant.cpp:231-295: genotype/data dBit2
  * bit-planes with an `@data` planes-per-variant vector, missing = the
  * all-ones code).
  *
  * Scope: the canonical core tree (sample.id, variant.id, position,
  * chromosome, allele, annotation/{id,qual,filter,info,format},
  * genotype, phase). Nodes of at least [[Container.CompressAt]] bytes
  * are stored `*_ra`-chunked (LZMA_ra, ZIP_ra or LZ4_ra), smaller ones
  * raw. Rows are encoded on the executors: each partition turns its
  * rows into raw node payloads (an [[Encoder]]), and the driver only
  * concatenates them in partition order, then frames and compresses
  * each node (its chunks on all the driver's cores) into the one file.
  */
object GdsWrite {

  private def hx(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // ---- little-endian primitives ---------------------------------------
  private def u16(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
  }
  private def u32(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
    o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
  }
  private def u48(o: ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 6) { o.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }
  private def u64(o: ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { o.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** Inverse of GdsCore.unpack7: 7-bit LSB-first packed ASCII. */
  private def pack7(s: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var acc = 0L
    var bits = 0
    s.foreach { c =>
      acc |= (c.toLong & 0x7f) << bits
      bits += 7
      while (bits >= 8) { out.write((acc & 0xff).toInt); acc >>= 8; bits -= 8 }
    }
    if (bits > 0) out.write((acc & 0xff).toInt)
    out.toByteArray
  }

  // ---- attribute blobs -------------------------------------------------
  final class Attrs {
    private val o = new ByteArrayOutputStream()
    var count = 0
    private def name(n: String): Unit = {
      val b = n.getBytes("UTF-8"); o.write(b.length); o.write(b)
    }
    def str(n: String, v: String): Attrs = {
      name(n); o.write(0x0e)
      val b = v.getBytes("UTF-8"); o.write(b.length); o.write(b)
      count += 1; this
    }
    def nul(n: String): Attrs = { name(n); o.write(0x00); count += 1; this }
    def bytes: Array[Byte] = o.toByteArray
  }

  // ---- CdSerial record emission ---------------------------------------
  // Property tokens exactly as the reader's signatures (GdsCore):
  private val TokClass = hx("0001")
  private val TokSizes = hx("02c9466d50e051250410")
  private val TokSkipA = hx("05ca466d507041217401")
  private val TokSkipB = hx("0205cb466d50d0581e5542") :+ 0x04.toByte
  private val TokNdim = hx("07c4e3641f")
  private val TokDims = hx("02c34361")
  private val TokDataId = hx("09c4c37c0c")
  private val TokNAttr = hx("0807f37d9d937d")
  private val TokAttrs = hx("0108f37ddd45791f")
  private val TokNChild = hx("08c643754ef601")
  private val TokChildren = hx("01c7437517e57d")
  private val TokEntry = hx("03000902f500")
  private val TokEntryFlags = hx("0944743112")
  private val TokEntryName = hx("44c66010")

  private def finishRecord(nProps: Int, body: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    val len = body.length + 8 // second u48 + u16 + body
    u48(o, len); u48(o, len)
    u16(o, nProps)
    o.write(body)
    o.toByteArray
  }

  private def attrProps(o: ByteArrayOutputStream, attrs: Attrs): Int = {
    o.write(TokNAttr); u32(o, attrs.count)
    if (attrs.count == 0) 1
    else {
      val b = attrs.bytes
      o.write(TokAttrs); u48(o, b.length)
      o.write(b)
      2
    }
  }

  private val TokCoder = hx("15c4466d10")
  // scale/offset tokens of the packed-real classes: sig + f64le (layout
  // recovered from the Imputed_dosages fixture's dPackedReal8U node,
  // which stores OFFSET=0.0 immediately before SCALE=1/127; the 0x13
  // tag's second byte is 0x80|nameLen — 0x85 "SCALE", 0x86 "OFFSET")
  private val TokScale = hx("1385e7301704")
  private val TokOffset = hx("138616451ef401")

  /** Data-node record: class [+ coder] + sizes + dims + data-stream id +
    * attrs — the 9-prop shape of the fixtures' LZMA_ra nodes (8 props
    * when uncompressed, coder omitted). `packedScale` adds the
    * packed-real OFFSET+SCALE properties (dPackedReal16 & co; the
    * reference writes both, offset normally 0). */
  def dataRecord(cls: String, rawSize: Long, cmpSize: Long, dims: Seq[Int],
      dataId: Int, attrs: Attrs, coder: Option[String],
      packedScale: Option[Double] = None,
      packedOffset: Double = 0.0): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(TokClass)
    o.write(cls.length)
    o.write(pack7(cls))
    packedScale.foreach { s =>
      // fixture order: OFFSET first, then SCALE
      o.write(TokOffset)
      u64(o, java.lang.Double.doubleToLongBits(packedOffset))
      o.write(TokScale)
      u64(o, java.lang.Double.doubleToLongBits(s))
    }
    coder.foreach { cd =>
      o.write(TokCoder)
      val b = cd.getBytes("ASCII")
      o.write(b.length); o.write(b)
    }
    o.write(TokSizes); u64(o, rawSize); u64(o, cmpSize)
    o.write(TokSkipA)
    o.write(TokSkipB)
    o.write(TokNdim); o.write(dims.length); o.write(0)
    o.write(TokDims); o.write(4 * dims.length)
    dims.foreach(u32(o, _))
    o.write(TokDataId); u32(o, dataId)
    val nAttrProps = attrProps(o, attrs)
    finishRecord(6 + coder.size + 2 * packedScale.size + nAttrProps,
      o.toByteArray)
  }

  /** Folder record: child table + attrs (root/genotype/annotation shape). */
  def folderRecord(children: Seq[(Int, String, Int)], attrs: Attrs)
      : Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(TokNChild); u32(o, children.length)
    val tbl = new ByteArrayOutputStream()
    children.foreach { case (cid, name, flags) =>
      val nb = name.getBytes("UTF-8")
      u48(tbl, 31L + nb.length)
      tbl.write(TokEntry); u32(tbl, cid)
      tbl.write(TokEntryFlags); u32(tbl, flags)
      tbl.write(0x15); tbl.write(TokEntryName)
      tbl.write(nb.length); tbl.write(nb)
    }
    o.write(TokChildren); u48(o, tbl.size())
    o.write(tbl.toByteArray)
    val nAttrProps = attrProps(o, attrs)
    finishRecord(2 + nAttrProps, o.toByteArray)
  }

  // ---- growable buffers ------------------------------------------------
  /** Growable little-endian byte buffer on a primitive array: the payload
    * builder of every data node. */
  private final class ByteBuf extends Serializable {
    private var buf = new Array[Byte](64)
    private var len = 0
    def size: Int = len
    private def room(n: Int): Unit =
      if (len + n > buf.length) {
        val need = len.toLong + n
        require(need <= Int.MaxValue - 8,
          s"gds write: node payload of $need bytes exceeds 2 GiB")
        buf = java.util.Arrays.copyOf(buf,
          math.min(Int.MaxValue - 8L, math.max(need, 2L * buf.length)).toInt)
      }
    /** The low `width` bytes of `v`, little-endian. */
    def le(v: Long, width: Int): Unit = {
      room(width)
      var k = 0
      while (k < width) { buf(len + k) = (v >> (8 * k)).toByte; k += 1 }
      len += width
    }
    def i32(v: Int): Unit = le(v, 4)
    def i32At(off: Int): Int =
      (buf(off) & 0xff) | (buf(off + 1) & 0xff) << 8 |
        (buf(off + 2) & 0xff) << 16 | (buf(off + 3) & 0xff) << 24
    def put(b: Array[Byte], off: Int, n: Int): Unit = {
      room(n)
      System.arraycopy(b, off, buf, len, n)
      len += n
    }
    def put(o: ByteBuf): Unit = put(o.buf, 0, o.len)
    /** dStr8 element: LEB128 byte length, then the UTF-8 bytes. */
    def str(b: Array[Byte]): Unit = {
      var l = b.length
      while (l >= 0x80) { le((l & 0x7f) | 0x80, 1); l >>= 7 }
      le(l, 1)
      put(b, 0, b.length)
    }
    def str(s: String): Unit =
      str(if (s == null) Array.emptyByteArray else s.getBytes("UTF-8"))
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
    /** Drops the spare capacity (before the buffer is shipped). */
    def trim(): Unit = if (buf.length != len) buf = toArray
  }

  /** LSB-first bit packer matching GdsCore.bit1/bit2, on a growable
    * primitive byte array. */
  final class BitPacker(private val bitsPer: Int) extends Serializable {
    require(bitsPer == 1 || bitsPer == 2, s"bit packer width $bitsPer")
    private var buf = new Array[Byte](64)
    private var nBits = 0L
    def count: Int = (nBits / bitsPer).toInt
    private def room(bits: Long): Unit = {
      val need = (bits + 7) >> 3
      if (need > buf.length) {
        require(need <= Int.MaxValue - 8,
          s"gds write: bit node of $bits bits exceeds 2 GiB")
        buf = java.util.Arrays.copyOf(buf,
          math.min(Int.MaxValue - 8L, math.max(need, 2L * buf.length)).toInt)
      }
    }
    def add(v: Int): Unit = {
      room(nBits + bitsPer)
      val at = (nBits >> 3).toInt
      buf(at) = (buf(at) | ((v & ((1 << bitsPer) - 1)) << (nBits & 7).toInt))
        .toByte
      nBits += bitsPer
    }
    /** Appends `o`'s bits right after this packer's last bit: a seam
      * need not fall on a byte boundary (3 diploid samples are 12 bits a
      * variant), so `o`'s bytes shift into place. */
    def append(o: BitPacker): Unit = {
      require(o.bitsPer == bitsPer, "bit packer widths differ")
      room(nBits + o.nBits)
      val at = (nBits >> 3).toInt
      val shift = (nBits & 7).toInt
      val n = ((o.nBits + 7) >> 3).toInt
      if (shift == 0) System.arraycopy(o.buf, 0, buf, at, n)
      else {
        // bits past o.nBits are zero, so a non-zero carry stays in range
        var i = 0
        while (i < n) {
          val b = o.buf(i) & 0xff
          buf(at + i) = (buf(at + i) | (b << shift)).toByte
          val carry = b >>> (8 - shift)
          if (carry != 0) buf(at + i + 1) = (buf(at + i + 1) | carry).toByte
          i += 1
        }
      }
      nBits += o.nBits
    }
    def bytes: Array[Byte] =
      java.util.Arrays.copyOf(buf, ((nBits + 7) >> 3).toInt)
    def trim(): Unit = buf = bytes
  }

  // ---- typed payload builders ------------------------------------------
  private def build(f: ByteBuf => Unit): Array[Byte] = {
    val b = new ByteBuf
    f(b)
    b.toArray
  }
  def strPayload(vs: Iterable[String]): Array[Byte] =
    build(b => vs.foreach(b.str(_: String)))
  def intPayload(vs: Iterable[Int]): Array[Byte] =
    build(b => vs.foreach(b.i32))
  def floatPayload(vs: Iterable[Float]): Array[Byte] =
    build(b => vs.foreach(v => b.i32(java.lang.Float.floatToIntBits(v))))
  /** Generic packed-real payload (dPackedReal{8,16,24,32}[U]):
    * value/scale rounded to a `width`-byte LE code, NaN → the missing
    * sentinel (minimum signed / maximum unsigned code), finite values
    * clamped to the packable range. */
  def packedRealPayload(vs: Iterable[Float], scale: Double, width: Int,
      unsigned: Boolean): Array[Byte] = {
    val p = Packing(scale, width, unsigned)
    build(b => vs.foreach(v => b.le(p.code(v), width)))
  }

  /** A packed-real class's code range: `code` rounds value/scale into
    * it, NaN → the missing sentinel. */
  private final case class Packing(scale: Double, width: Int,
      unsigned: Boolean) {
    private val bits = 8 * width
    private val lo = if (unsigned) 0L else -(1L << (bits - 1)) + 1
    private val hi = if (unsigned) (1L << bits) - 2 else (1L << (bits - 1)) - 1
    private val missing =
      if (unsigned) (1L << bits) - 1 else -(1L << (bits - 1))
    def code(v: Float): Long =
      if (v != v) missing else math.max(lo, math.min(hi, math.round(v / scale)))
  }

  /** Fixed-width little-endian integer payload (dInt{8,16,32,64} and the
    * unsigned variants; `width` in bytes). */
  def intPayloadW(vs: Iterable[Long], width: Int): Array[Byte] =
    build(b => vs.foreach(b.le(_, width)))

  // ---- container assembly ----------------------------------------------
  /** `coder` picks the `*_ra` chunk codec for large nodes: "LZMA_ra"
    * (xz — the reference import default), "ZIP_ra" (`seqStorageOption`'s
    * own default, `R/Utilities.R:250-252`), or "LZ4_ra". */
  final class Container(coder: String = "LZMA_ra") {
    private val codec: GdsCore.RaCodec = GdsCore.codecForCoder(coder)
      .getOrElse(throw new IllegalArgumentException(
        s"gds write: unknown storage coder $coder"))
    private val streams = ArrayBuffer.empty[(Int, Array[Byte])]
    private var next = 1
    def allocId(): Int = { val id = next; next += 1; id }
    def record(id: Int, rec: Array[Byte]): Unit = streams += id -> rec
    /** Data stream: [u48 payloadLen][payload]. */
    def data(payload: Array[Byte]): Int = {
      val id = allocId()
      val o = new ByteArrayOutputStream()
      u48(o, payload.length)
      o.write(payload)
      streams += id -> o.toByteArray
      id
    }
    /** Data node in one call: payload stream + record stream. Payloads
      * past `CompressAt` get the fixtures' LZMA_ra coding — XZ_RA
      * framing with independently-decompressible 128 KiB chunks (the
      * random-access property the reference's variant-range reads rely
      * on); small nodes stay raw. */
    def node(cls: String, dims: Seq[Int], payload: Array[Byte],
        attrs: Attrs = new Attrs, packedScale: Option[Double] = None,
        packedOffset: Double = 0.0): Int = {
      val compress = payload.length >= Container.CompressAt
      val stored = if (compress) raFrame(payload, codec) else payload
      val did = data(stored)
      val rid = allocId()
      record(rid, dataRecord(cls, payload.length, stored.length, dims, did,
        attrs, if (compress) Some(codec.coderName) else None, packedScale,
        packedOffset))
      rid
    }
    def folder(children: Seq[(Int, String, Int)],
        attrs: Attrs = new Attrs): Int = {
      val rid = allocId()
      record(rid, folderRecord(children, attrs))
      rid
    }
    def folderAt(rid: Int, children: Seq[(Int, String, Int)],
        attrs: Attrs = new Attrs): Unit =
      record(rid, folderRecord(children, attrs))

    def save(path: String, entryId: Int): Unit = {
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(path), 1 << 20)
      try {
        out.write("COREARRAYx0A".getBytes("ASCII"))
        out.write(Array(0x00, 0x01).map(_.toByte)) // container version
        val eid = new ByteArrayOutputStream()
        u32(eid, entryId)
        out.write(eid.toByteArray)
        streams.foreach { case (id, content) =>
          val h = new ByteArrayOutputStream()
          u48(h, (content.length + 16L) | (1L << 47)) // head fragment
          u48(h, 0L) // next
          u32(h, id)
          out.write(h.toByteArray)
          out.write(content)
        }
      } finally out.close()
    }
  }

  object Container {
    /** Below this, xz headers cost more than they save. */
    val CompressAt: Int = 4096
  }

  /** `*_ra` chunked framing (read-side decode in GdsCore.nodeBytes):
    * `[magic] 10 11 ff [u32 nChunks]` then per chunk `[u48 cmpSize][one
    * independent compressed stream of ≤128 KiB raw]`. Chunks are
    * independent streams BY DESIGN (that is the random-access
    * property), so they compress concurrently on every available core —
    * compression dominates single-file export cost, and the output
    * bytes are identical to a serial pass. */
  private def raFrame(payload: Array[Byte], codec: GdsCore.RaCodec)
      : Array[Byte] = {
    val ChunkRaw = 128 * 1024
    val o = new ByteArrayOutputStream()
    o.write(codec.magic.getBytes("ASCII"))
    o.write(0x10); o.write(0x11); o.write(0xff)
    val nChunks = math.max(1, (payload.length + ChunkRaw - 1) / ChunkRaw)
    u32(o, nChunks)
    val parts = new Array[Array[Byte]](nChunks)
    java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
      val off = c * ChunkRaw
      val len = math.min(ChunkRaw, payload.length - off)
      val cmp = new ByteArrayOutputStream()
      val z = codec.encode(cmp)
      z.write(payload, off, len)
      z.close()
      parts(c) = cmp.toByteArray
    }
    parts.foreach { p =>
      u48(o, p.length)
      o.write(p)
    }
    o.toByteArray
  }

  private val FolderFlag = 2
  private val HiddenFlag = 16

  /** The reference's packedreal16 quantization step
    * ("packedreal16:offset=0,scale=0.0001", ConvVCF2GDS.R:580). */
  val PackedReal16Scale: Double = 0.0001
  private val Pack16 = Packing(PackedReal16Scale, 2, unsigned = false)

  // ---- info/format columns (annotation/info, annotation/format) --------
  // Null encodings mirror the read-side valueReader sentinels:
  // Int.MinValue, NaN, "" — and ragged fields carry an `@name` length
  // vector where len<=0 means a null row.

  /** Node class and VCF Type of an info/format element type. */
  private def scalarCls(dt: DataType): (String, String) = dt match {
    case IntegerType => ("dInt32", "Integer")
    case LongType => ("dInt64", "Integer") // VCF has no 64-bit type
    // the read surface of dUInt64: the raw unsigned bit pattern goes back
    // (BigInteger.longValue wraps 2^63..2^64-1 to the stored bits)
    case _: DecimalType => ("dUInt64", "Integer")
    case FloatType => ("dFloat32", "Float")
    case StringType => ("dStr8", "String")
    case t => throw new UnsupportedOperationException(
      s"gds write: unsupported scalar $t")
  }

  private def attrsFor(number: String, vtype: String): Attrs =
    new Attrs().str("Number", number).str("Type", vtype)

  // info/format column kinds
  private final val Flag = 0 // INFO Flag → dBit1
  private final val Scalar = 1 // INFO Number=1
  private final val Ragged = 2 // INFO Number=. → values + @name lengths
  private final val PerSample = 3 // FORMAT Number=1 → data [nVar, nS]
  // FORMAT Number=. → data [rows, nS] + @data rows per VARIANT (the
  // reference's layout; a null sample cell pads its column)
  private final val PerSampleRagged = 4

  /** An info/format column: node name, format (else info) column,
    * ordinal in the shaped frame, kind and element type. `pack16` stores
    * a float matrix as dPackedReal16 int16 codes at [[PackedReal16Scale]]
    * (the reference's `ds.type="packedreal16"` import default for DS/GP,
    * ConvVCF2GDS.R:577-583). */
  private final case class ColSpec(name: String, fmt: Boolean, ordinal: Int,
      kind: Int, elem: DataType, pack16: Boolean)

  private def colSpec(f: StructField, ordinal: Int, dsType: String)
      : ColSpec = {
    val isFmt = f.name.startsWith("fmt_")
    // ds.type="packedreal16" applies to the dosage/probability matrices
    // the reference packs (annotation/format/{DS,GP}, ConvVCF2GDS.R:577)
    val pack16 = dsType == "packedreal16" &&
      (f.name == "fmt_DS" || f.name == "fmt_GP")
    val (kind, elem) = f.dataType match {
      case BooleanType => (Flag, BooleanType)
      case ArrayType(e: ArrayType, _) if isFmt =>
        (PerSampleRagged, e.elementType)
      case ArrayType(e, _) if isFmt => (PerSample, e)
      case ArrayType(e, _) => (Ragged, e)
      case dt => (Scalar, dt)
    }
    if (kind != Flag) scalarCls(elem) // an unsupported element fails here
    ColSpec(f.name.stripPrefix(if (isFmt) "fmt_" else "info_"), isFmt,
      ordinal, kind, elem, pack16 && elem == FloatType)
  }

  /** One info/format column's node payloads: `vals` holds `nVals` rows
    * of the value node, `lens` the ragged kinds' `nLens` lengths. */
  private final class ColEnc(val spec: ColSpec, nS: Int)
      extends Serializable {
    private val flags = new BitPacker(1)
    private val vals = new ByteBuf
    private var nVals = 0
    private val lens = new ByteBuf
    private var nLens = 0

    /** Element `i` of `g` (a row or an array); a null `g` or element is a
      * missing cell. */
    private def put(g: SpecializedGetters, i: Int): Unit = {
      val na = g == null || g.isNullAt(i)
      spec.elem match {
        case IntegerType => vals.i32(if (na) Int.MinValue else g.getInt(i))
        case LongType => vals.le(if (na) Long.MinValue else g.getLong(i), 8)
        case FloatType =>
          val v = if (na) Float.NaN else g.getFloat(i)
          if (spec.pack16) vals.le(Pack16.code(v), 2)
          else vals.i32(java.lang.Float.floatToIntBits(v))
        // dUInt64 has no reserved NA code (see the reader): null stores 0
        case d: DecimalType => vals.le(if (na) 0L
          else g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
            .toBigInteger.longValue, 8)
        case _ => vals.str(if (na) null else g.getUTF8String(i).toString)
      }
    }

    /** The row's per-sample array (null = every cell missing). */
    private def samples(r: InternalRow) = {
      val a = if (r.isNullAt(spec.ordinal)) null else r.getArray(spec.ordinal)
      require(a == null || a.numElements == nS,
        s"fmt width ${a.numElements} != $nS")
      a
    }

    def add(r: InternalRow): Unit = {
      val i = spec.ordinal
      spec.kind match {
        case Flag => flags.add(if (!r.isNullAt(i) && r.getBoolean(i)) 1 else 0)
        case Scalar => put(r, i); nVals += 1
        case Ragged =>
          val a = if (r.isNullAt(i)) null else r.getArray(i)
          val n = if (a == null) 0 else a.numElements
          var k = 0
          while (k < n) { put(a, k); k += 1 }
          lens.i32(n); nLens += 1; nVals += n
        case PerSample =>
          val a = samples(r)
          var s = 0
          while (s < nS) { put(a, s); s += 1 }
          nVals += 1
        case PerSampleRagged =>
          val a = samples(r)
          val cells = Array.tabulate(nS)(s =>
            if (a == null || a.isNullAt(s)) null else a.getArray(s))
          val l = cells.foldLeft(0)((m, c) =>
            if (c == null) m else math.max(m, c.numElements))
          var row = 0
          while (row < l) {
            var s = 0
            while (s < nS) {
              val c = cells(s)
              if (c == null || row >= c.numElements) put(null, 0)
              else put(c, row)
              s += 1
            }
            row += 1
          }
          lens.i32(l); nLens += 1; nVals += l
      }
    }

    def append(o: ColEnc): Unit = {
      flags.append(o.flags)
      vals.put(o.vals); nVals += o.nVals
      lens.put(o.lens); nLens += o.nLens
    }

    def trim(): Unit = { flags.trim(); vals.trim(); lens.trim() }

    /** Emits the column's nodes; returns the entries for its folder. */
    def emit(c: Container): Seq[(Int, String, Int)] = {
      lazy val (cls, vt) = scalarCls(spec.elem)
      def lenNode() = c.node("dInt32", Seq(nLens), lens.toArray,
        new Attrs().nul("R.invisible"))
      spec.kind match {
        case Flag => Seq((c.node("dBit1", Seq(flags.count), flags.bytes,
          attrsFor("0", "Flag")), spec.name, 0))
        case Scalar => Seq((c.node(cls, Seq(nVals), vals.toArray,
          attrsFor("1", vt)), spec.name, 0))
        case Ragged =>
          val v = c.node(cls, Seq(nVals), vals.toArray,
            attrsFor(".", vt))
          Seq((v, spec.name, 0), (lenNode(), "@" + spec.name, HiddenFlag))
        case kind =>
          val dims = Seq(nVals, nS)
          val data =
            if (spec.pack16) c.node("dPackedReal16", dims, vals.toArray,
              new Attrs(), packedScale = Some(PackedReal16Scale))
            else c.node(cls, dims, vals.toArray, new Attrs())
          val kids =
            if (kind == PerSample) Seq((data, "data", 0))
            else Seq((data, "data", 0), (lenNode(), "@data", HiddenFlag))
          Seq((c.folder(kids, attrsFor(if (kind == PerSample) "1" else ".",
            vt)), spec.name, FolderFlag))
      }
    }
  }

  // ---- the encoder ------------------------------------------------------

  /** The frame as the encoder reads it: sample count, ordinals in the
    * shaped frame (-1 = column absent) and the info/format columns. */
  private final case class Layout(nS: Int, vid: Int, chrom: Int, pos: Int,
      allele: Int, id: Int, qual: Int, filter: Int, geno: Int, phased: Int,
      cols: Seq[ColSpec])

  /** Canonical column selection and its [[Layout]]. */
  private def shape(df: DataFrame, nS: Int, dsType: String)
      : (DataFrame, Layout) = {
    import org.apache.spark.sql.functions.col
    val fields = df.schema.fieldNames.toSet
    val infoFields = df.schema.fields.filter(_.name.startsWith("info_")).toSeq
    val fmtFields = df.schema.fields.filter(_.name.startsWith("fmt_")).toSeq
    val names = Seq("variant_id", "chrom", "pos", "allele") ++
      Seq("id", "qual", "filter", "geno", "phased").filter(fields.contains) ++
      (infoFields ++ fmtFields).map(_.name)
    val at = names.zipWithIndex.toMap.withDefaultValue(-1)
    val layout = Layout(nS, at("variant_id"), at("chrom"), at("pos"),
      at("allele"), at("id"), at("qual"), at("filter"), at("geno"),
      at("phased"),
      infoFields.map(f => colSpec(f, at(f.name), "float")) ++
        fmtFields.map(f => colSpec(f, at(f.name), dsType)))
    (df.select(names.map(col): _*), layout)
  }

  /** Node payloads of a run of rows. An executor `add`s its partition's
    * rows (every value is copied out, so reused row objects are safe);
    * the driver `append`s the partitions' encoders in partition order;
    * `save` frames and compresses the nodes into a container. `ploidy` 0
    * freezes at the first row's most common call length (the reference
    * VCF import fixes ploidy up front); shorter calls pad missing, longer
    * calls overflow into genotype/extra. */
  private final class Encoder(l: Layout, var ploidy: Int)
      extends Serializable {
    var rows = 0
    private val vids, poss, chroms, alleles, ids, quals, filters = new ByteBuf
    // run-length chromosome twin (the reference writes the same pair):
    // planning-time chrom pruning reads a handful of runs instead of one
    // string per variant
    private val rleVals = ArrayBuffer.empty[String]
    private val rleLens = ArrayBuffer.empty[Int]
    private val geno = new BitPacker(2)
    private val planes = new ByteBuf
    // ploidy-overflow (triploid+ calls): (sample 1-based, variant 1-based,
    // count) index rows + the overflow allele codes / phase separator bits
    // (Tutorial.Rmd:149-150 layout)
    private val extraIdx, extra, phaseExtraIdx = new ByteBuf
    private val phase, phaseExtra = new BitPacker(1)
    private val cols = l.cols.map(new ColEnc(_, l.nS))

    private def run(ch: String, n: Int): Unit =
      if (rleVals.nonEmpty && rleVals.last == ch)
        rleLens(rleLens.length - 1) += n
      else { rleVals += ch; rleLens += n }

    private def str(r: InternalRow, i: Int, ifNull: String): String =
      if (r.isNullAt(i)) ifNull else r.getUTF8String(i).toString

    def add(r: InternalRow): Unit = {
      cols.foreach(_.add(r))
      val vid = r.getLong(l.vid)
      require(vid <= Int.MaxValue, s"variant_id $vid exceeds dInt32")
      rows += 1
      vids.i32(vid.toInt)
      val ch = str(r, l.chrom, null)
      chroms.str(ch)
      run(ch, 1)
      poss.i32(r.getInt(l.pos))
      alleles.str(str(r, l.allele, ""))
      if (l.id >= 0) ids.str(str(r, l.id, "."))
      if (l.qual >= 0) quals.i32(java.lang.Float.floatToIntBits(
        if (r.isNullAt(l.qual)) Float.NaN else r.getFloat(l.qual)))
      if (l.filter >= 0) filters.str(str(r, l.filter, ""))
      val ph = if (l.phased >= 0) r.getArray(l.phased) else null
      if (l.phased >= 0) {
        var i = 0
        while (i < ph.numElements) { phase.add(bit(ph, i)); i += 1 }
      }
      if (l.geno >= 0) addGeno(r.getArray(l.geno), ph)
    }

    private def bit(ph: SpecializedGetters, i: Int): Int =
      if (!ph.isNullAt(i) && ph.getBoolean(i)) 1 else 0

    private def addGeno(g: org.apache.spark.sql.catalyst.util.ArrayData,
        ph: org.apache.spark.sql.catalyst.util.ArrayData): Unit = {
      val nS = l.nS
      require(g.numElements == nS, s"geno width ${g.numElements} != $nS")
      val calls = Array.tabulate(nS)(s =>
        if (g.isNullAt(s)) null else g.getArray(s))
      def len(s: Int) = if (calls(s) == null) 0 else calls(s).numElements
      if (ploidy == 0) ploidy =
        if (nS == 0) 2
        else (0 until nS).groupBy(len).maxBy(p => (p._2.size, -p._1))._1
      // planes: enough 2-bit planes that the all-ones missing code is
      // distinct from every in-plane allele code (reference Index.h NA
      // pattern); overflow codes live in extra (dInt16), not planes
      var maxCode = 0
      var s = 0
      while (s < nS) {
        val m = math.min(ploidy, len(s))
        var a = 0
        while (a < m) {
          if (!calls(s).isNullAt(a))
            maxCode = math.max(maxCode, calls(s).getLong(a).toInt)
          a += 1
        }
        s += 1
      }
      var np = 1
      while ((1 << (2 * np)) - 1 <= maxCode) np += 1
      val miss = (1 << (2 * np)) - 1
      planes.le(np, 1)
      var k = 0
      while (k < np) {
        s = 0
        while (s < nS) {
          val c = calls(s)
          val n = len(s)
          var a = 0
          while (a < ploidy) {
            val code = if (a >= n || c.isNullAt(a)) miss else c.getLong(a).toInt
            geno.add((code >> (2 * k)) & 3)
            a += 1
          }
          s += 1
        }
        k += 1
      }
      s = 0
      while (s < nS) {
        val cnt = len(s) - ploidy
        if (cnt > 0) {
          extraIdx.i32(s + 1); extraIdx.i32(rows); extraIdx.i32(cnt)
          var a = ploidy
          while (a < len(s)) {
            // int16 missing sentinel -1
            extra.le(if (calls(s).isNullAt(a)) -1 else calls(s).getLong(a), 2)
            a += 1
          }
          if (ph != null) {
            // a call with L alleles has L-1 separators; the first lives in
            // phase/data, the rest in phase/extra (the engine's one-bool
            // model repeats the call's phasing for the extra separators)
            phaseExtraIdx.i32(s + 1); phaseExtraIdx.i32(rows)
            phaseExtraIdx.i32(cnt)
            val b = if (s < ph.numElements) bit(ph, s) else 0
            var j = 0
            while (j < cnt) { phaseExtra.add(b); j += 1 }
          }
        }
        s += 1
      }
    }

    /** Appends `o`'s rows after this encoder's: bit nodes join at bit
      * offsets, and the overflow index rows' variant numbers shift by the
      * rows before them. */
    def append(o: Encoder): Unit = {
      require(o.rows == 0 || l.geno < 0 || o.ploidy == ploidy,
        s"gds write: rows encoded at ploidy ${o.ploidy}, container $ploidy")
      Seq(vids -> o.vids, poss -> o.poss, chroms -> o.chroms,
        alleles -> o.alleles, ids -> o.ids, quals -> o.quals,
        filters -> o.filters, planes -> o.planes, extra -> o.extra)
        .foreach { case (to, from) => to.put(from) }
      o.rleVals.indices.foreach(i => run(o.rleVals(i), o.rleLens(i)))
      geno.append(o.geno)
      phase.append(o.phase)
      phaseExtra.append(o.phaseExtra)
      renumber(extraIdx, o.extraIdx)
      renumber(phaseExtraIdx, o.phaseExtraIdx)
      cols.zip(o.cols).foreach { case (a, b) => a.append(b) }
      rows += o.rows
    }

    private def renumber(to: ByteBuf, from: ByteBuf): Unit = {
      var k = 0
      while (k < from.size) {
        to.i32(from.i32At(k))
        to.i32(from.i32At(k + 4) + rows)
        to.i32(from.i32At(k + 8))
        k += 12
      }
    }

    /** Drops every buffer's spare capacity; returns this encoder. */
    def trimmed(): Encoder = {
      Seq(vids, poss, chroms, alleles, ids, quals, filters, planes,
        extraIdx, extra, phaseExtraIdx).foreach(_.trim())
      Seq(geno, phase, phaseExtra).foreach(_.trim())
      cols.foreach(_.trim())
      this
    }

    /** Frames the nodes into a container at `path`. */
    def save(sampleIds: Seq[String], path: String, storage: String): Unit = {
      val nVar = rows
      val c = new Container(storage)
      val rootId = c.allocId() // stream 1 = entry
      val desc = c.folder(Nil, new Attrs().str("vcf.fileformat", "VCFv4.2"))
      val sampleId = c.node("dStr8", Seq(l.nS), strPayload(sampleIds))
      val variantId = c.node("dInt32", Seq(nVar), vids.toArray)
      val position = c.node("dInt32", Seq(nVar), poss.toArray)
      val chromosome = c.node("dStr8", Seq(nVar), chroms.toArray)
      val chromRleVal = c.node("dStr8", Seq(rleVals.length),
        strPayload(rleVals))
      val chromRleLen = c.node("dInt32", Seq(rleLens.length),
        intPayload(rleLens))
      val allele = c.node("dStr8", Seq(nVar), alleles.toArray)

      val genoFolder = if (l.geno < 0) None else {
        val data = c.node("dBit2",
          Seq(nVar, l.nS, if (ploidy > 0) ploidy else 2), geno.bytes)
        val atData = c.node("dUInt8", Seq(nVar), planes.toArray,
          new Attrs().nul("R.invisible"))
        // ploidy-overflow companions — written even when empty, matching
        // the reference's node tree (both fixtures carry [0,3]/[0] nodes)
        val exIdx = c.node("dInt32", Seq(extraIdx.size / 12, 3),
          extraIdx.toArray)
        val ex = c.node("dInt16", Seq(extra.size / 2), extra.toArray)
        Some(c.folder(Seq((data, "data", 0), (atData, "@data", HiddenFlag),
          (exIdx, "extra.index", 0), (ex, "extra", 0)),
          new Attrs().str("VariableName", "GT")
            .str("Description", "Genotype")))
      }
      val phaseFolder = if (l.phased < 0) None else {
        val data = c.node("dBit1", Seq(nVar, l.nS), phase.bytes)
        val exIdx = c.node("dInt32", Seq(phaseExtraIdx.size / 12, 3),
          phaseExtraIdx.toArray)
        val ex = c.node("dBit1", Seq(phaseExtra.count), phaseExtra.bytes)
        Some(c.folder(Seq((data, "data", 0),
          (exIdx, "extra.index", 0), (ex, "extra", 0))))
      }

      val annChildren = ArrayBuffer.empty[(Int, String, Int)]
      if (l.id >= 0 && nVar > 0)
        annChildren += ((c.node("dStr8", Seq(nVar), ids.toArray), "id", 0))
      if (l.qual >= 0 && nVar > 0)
        annChildren += ((c.node("dFloat32", Seq(nVar), quals.toArray),
          "qual", 0))
      if (l.filter >= 0 && nVar > 0)
        annChildren += ((c.node("dStr8", Seq(nVar), filters.toArray),
          "filter", 0))
      val (fmt, info) = cols.partition(_.spec.fmt)
      Seq((info, "info"), (fmt, "format")).foreach { case (cs, folder) =>
        if (cs.nonEmpty)
          annChildren += ((c.folder(cs.flatMap(_.emit(c))), folder, FolderFlag))
      }
      val annotation = c.folder(annChildren.toSeq)

      c.folderAt(rootId,
        Seq((desc, "description", FolderFlag),
          (sampleId, "sample.id", 0),
          (variantId, "variant.id", 0),
          (position, "position", 0),
          (chromosome, "chromosome", 0),
          (chromRleVal, "@chrom_rle_val", HiddenFlag),
          (chromRleLen, "@chrom_rle_len", HiddenFlag),
          (allele, "allele", 0)) ++
          genoFolder.map(g => (g, "genotype", FolderFlag)) ++
          phaseFolder.map(p => (p, "phase", FolderFlag)) :+
          ((annotation, "annotation", FolderFlag)),
        new Attrs().str("FileFormat", "SEQ_ARRAY").str("FileVersion", "v1.0"))

      c.save(path, rootId)
    }
  }

  private def encode(l: Layout, ploidy: Int, it: Iterator[InternalRow])
      : Encoder = {
    val e = new Encoder(l, ploidy)
    while (it.hasNext) e.add(it.next())
    e
  }

  /** Writes `df` (canonical columns `variant_id, chrom, pos, id, allele,
    * qual, filter, geno, phased`, plus `info_*` columns — scalar, array
    * and Flag — and `fmt_*` per-sample columns, scalar or ragged; other
    * columns ignored) plus the sample axis to a `.gds` container in the
    * frame's row order. `storage` is the `seqStorageOption` compression
    * name: LZMA_ra (default), ZIP_ra, or LZ4_ra.
    *
    * One parallel job encodes every partition into a cached [[Encoder]];
    * the driver then fetches them one partition per job, so no job
    * returns more than one partition's payloads, concatenates them and
    * frames the container. The container's ploidy is the first row's:
    * a partition whose own first row disagrees is encoded again at it.
    * Use [[writeSharded]] to also split the compression across
    * executors. */
  def write(df: DataFrame, sampleIds: Seq[String], path: String,
      storage: String = "LZMA_ra", dsType: String = "float"): Unit = {
    val (sel, l) = shape(df, sampleIds.length, dsType)
    // one SQL execution of the frame's plan, as a Dataset action runs it
    SQLExecution.withNewExecutionId(sel.queryExecution, Some("gds write")) {
      val rows = sel.queryExecution.toRdd
      val parts = rows
        .mapPartitions(it => Iterator(encode(l, 0, it).trimmed()))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var fixed = parts
      try {
        val heads = parts.map(e => (e.rows, e.ploidy)).collect()
        val ploidy = heads.collectFirst { case (n, p) if n > 0 => p }.getOrElse(0)
        if (heads.exists { case (n, p) => n > 0 && p != ploidy }) {
          fixed = rows.zipPartitions(parts) { (it, enc) =>
            val e = enc.next()
            Iterator(if (e.rows > 0 && e.ploidy != ploidy)
              encode(l, ploidy, it).trimmed() else e)
          }.persist(StorageLevel.MEMORY_AND_DISK)
          fixed.count()
        }
        val all = new Encoder(l, ploidy)
        fixed.toLocalIterator.foreach(all.append)
        all.save(sampleIds, path, storage)
      } finally {
        parts.unpersist(blocking = false)
        if (fixed ne parts) fixed.unpersist(blocking = false)
      }
    }
  }

  /** Executor-side sharded export — the 100 TB path: rows shuffle once
    * into contiguous (chrom, pos) ranges, and each shard runs [[write]]'s
    * encoder and container framing ON ITS EXECUTOR in `variant_id`
    * order; a `_manifest.json` lists the shards. No row ever passes
    * through the driver. `dir` must be a path every executor can write
    * (posix/NFS here; the pattern carries to any shared FS). Read back
    * with `Gds.read(spark, dir)` — the gds source expands a directory to
    * its shard files. Returns (shard file, variant count) pairs. */
  def writeSharded(df: DataFrame, sampleIds: Seq[String], dir: String,
      storage: String = "LZMA_ra", numShards: Int = 0,
      dsType: String = "float"): Seq[(String, Long)] = {
    val (sel, l) = shape(df, sampleIds.length, dsType)
    graft.sources.Sharded.exportInternal(sel, dir, ".gds",
      (it, f) => {
        val e = encode(l, 0, it)
        e.save(sampleIds, f, storage)
        e.rows.toLong
      },
      numShards = numShards)
  }
}
