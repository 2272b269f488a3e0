package graft.sources.bcf

import java.io.{ByteArrayOutputStream, DataOutputStream, EOFException, InputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Vcf

/** BCF 2.2 reader/writer (reference `seqBCF2GDS`,
  * /root/reference/R/ConvVCF2GDS.R:1473-1508, which shells out to
  * htslib; here the binary record layout from the public VCF/BCF spec
  * is implemented directly).
  *
  * Reading is the `vcf` DSv2 source's binary branch
  * ([[graft.sources.v2.VcfDataSource]]): the header (ordinary VCF
  * header text embedded in the BCF prologue) is read once on the driver
  * and fixes schema + dictionaries; each record decodes to its
  * canonical VCF body LINE ([[rangeLines]]), and the scan's
  * [[Vcf.parseLines]] projection does the typing — one source of truth
  * for parse semantics, so `Bcf.read` and `Vcf.read` are row-for-row
  * interchangeable. The scan splits into record-aligned byte ranges via
  * each file's CSI virtual offsets ([[Csi]]); an index-less `.bcf` gets
  * its CSI built on first read, so every file is range-splittable.
  *
  * Typed-value encoding (spec §6.3.3): descriptor byte = len<<4 | type,
  * len 15 = overflow length as a following typed int; types: 1=int8,
  * 2=int16, 3=int32, 5=float, 7=char. Missing: 0x80/0x8000/0x80000000/
  * 0x7F800001; end-of-vector: those +1.
  */
object Bcf {

  private val MissingI8 = 0x80.toByte
  private val MissingI16 = 0x8000.toShort
  private val MissingI32 = 0x80000000
  private val MissingF = java.lang.Float.intBitsToFloat(0x7f800001)
  private val EovI8 = 0x81.toByte
  private val EovF = java.lang.Float.intBitsToFloat(0x7f800002)

  // ---- header ---------------------------------------------------------------

  final case class Header(lines: Seq[String], contigs: Seq[String],
      dict: Seq[String]) {
    lazy val contigIdx: Map[String, Int] = contigs.zipWithIndex.toMap
    lazy val dictIdx: Map[String, Int] = dict.zipWithIndex.toMap
  }

  private val idRe = """##(FILTER|INFO|FORMAT)=<ID=([^,>]+)""".r.unanchored
  private val contigRe = """##contig=<ID=([^,>]+)""".r.unanchored

  /** BCF string dictionary: PASS, then FILTER/INFO/FORMAT IDs in header
    * order (spec: implicit IDX when none is given). */
  def headerOf(lines: Seq[String]): Header = {
    val dict = ArrayBuffer("PASS")
    val contigs = ArrayBuffer.empty[String]
    lines.foreach {
      case l @ idRe(_, id) => if (!dict.contains(id)) dict += id
      case l @ contigRe(id) => contigs += id
      case _ =>
    }
    Header(lines, contigs.toSeq, dict.toSeq)
  }

  // ---- primitive io ---------------------------------------------------------

  /** Fills `b[from..)` from `in`, raising `cut` if the stream ends first. */
  private def readFully(in: InputStream, b: Array[Byte], from: Int,
      cut: => EOFException): Unit = {
    var off = from
    while (off < b.length) {
      val n = in.read(b, off, b.length - off)
      if (n < 0) throw cut
      off += n
    }
  }
  private def u32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 3) & 0xff) << 24)

  private final class Buf(val b: Array[Byte]) {
    var p = 0
    def i8: Int = { val v = b(p); p += 1; v }
    def u8: Int = { val v = b(p) & 0xff; p += 1; v }
    def i16: Int = { val v = ((b(p) & 0xff) | (b(p + 1) << 8)).toShort; p += 2; v }
    def i32: Int = { val v = u32(b, p); p += 4; v }
    def f32: Float = java.lang.Float.intBitsToFloat(i32)
  }

  /** One decoded typed vector: ints, floats or a char string. */
  private sealed trait TV
  private case class TInts(vs: Array[Int], missing: Int, eov: Int) extends TV
  private case class TFloats(vs: Array[Float]) extends TV
  private case class TStr(s: String) extends TV
  private case object TMissing extends TV

  private def readTyped(in: Buf): TV = {
    val d = in.u8
    val t = d & 0x0f
    var len = d >> 4
    if (len == 15) len = readTypedInt(in)
    t match {
      case 0 => TMissing
      case 1 =>
        val vs = Array.fill(len)(in.i8)
        TInts(vs, MissingI8.toInt, EovI8.toInt)
      case 2 =>
        val vs = Array.fill(len)(in.i16)
        TInts(vs, MissingI16.toInt, MissingI16.toInt + 1)
      case 3 =>
        val vs = Array.fill(len)(in.i32)
        TInts(vs, MissingI32, MissingI32 + 1)
      case 5 => TFloats(Array.fill(len)(in.f32))
      case 7 =>
        val bytes = new Array[Byte](len)
        var i = 0
        while (i < len) { bytes(i) = in.b(in.p); in.p += 1; i += 1 }
        TStr(new String(bytes, "UTF-8"))
      case other =>
        throw new UnsupportedOperationException(s"bcf typed kind $other")
    }
  }

  private def readTypedInt(in: Buf): Int = readTyped(in) match {
    case TInts(vs, _, _) if vs.nonEmpty => vs(0)
    case _ => throw new IllegalStateException("bcf: expected typed int")
  }

  // ---- record -> canonical VCF line -----------------------------------------

  /** Decode one record's shared+indiv blocks into a VCF body line. */
  private def recordToLine(shared: Array[Byte], indiv: Array[Byte],
      h: Header, fmtNumber: Map[String, String]): String = {
    val s = new Buf(shared)
    val rid = s.i32
    val pos0 = s.i32
    s.i32 // rlen
    val qual = s.f32
    val nAlleleInfo = s.i32
    val nInfo = nAlleleInfo & 0xffff
    val nAllele = nAlleleInfo >>> 16
    val nFmtSample = s.i32
    val nSample = nFmtSample & 0xffffff
    val nFmt = nFmtSample >>> 24
    val sb = new StringBuilder(256)
    sb ++= h.contigs(rid); sb += '\t'
    sb ++= (pos0 + 1).toString; sb += '\t'
    readTyped(s) match {
      case TStr(id) if id.nonEmpty => sb ++= id
      case _ => sb += '.'
    }
    sb += '\t'
    val alleles = (0 until nAllele).map(_ => readTyped(s) match {
      case TStr(a) => a
      case _ => "."
    })
    sb ++= alleles.head; sb += '\t'
    sb ++= (if (nAllele > 1) alleles.tail.mkString(",") else ".")
    sb += '\t'
    sb ++= (if (qual == qual && qual != MissingF) fmtFloat(qual) else ".")
    sb += '\t'
    readTyped(s) match {
      case TInts(vs, _, _) if vs.nonEmpty =>
        sb ++= vs.map(h.dict(_)).mkString(";")
      case _ => sb += '.'
    }
    sb += '\t'
    // INFO
    if (nInfo == 0) sb += '.'
    else {
      var i = 0
      while (i < nInfo) {
        if (i > 0) sb += ';'
        val key = h.dict(readTypedInt(s))
        readTyped(s) match {
          case TMissing => sb ++= key // Flag
          case TInts(vs, miss, eov) =>
            if (vs.length == 1 && vs(0) == 1 && isFlagLike(key, fmtNumber))
              sb ++= key
            else {
              sb ++= key; sb += '='
              sb ++= vs.filter(_ != eov)
                .map(v => if (v == miss) "." else v.toString).mkString(",")
            }
          case TFloats(vs) =>
            sb ++= key; sb += '='
            sb ++= vs.filter(_ != EovF)
              .map(v => if (v != v || v == MissingF) "." else fmtFloat(v))
              .mkString(",")
          case TStr(v) => sb ++= key; sb += '='; sb ++= v
        }
        i += 1
      }
    }
    // FORMAT + samples
    if (nFmt > 0 && nSample > 0) {
      val iv = new Buf(indiv)
      val keys = new Array[String](nFmt)
      val cols = new Array[Array[String]](nFmt)
      var k = 0
      while (k < nFmt) {
        keys(k) = h.dict(readTypedInt(iv))
        val isGt = keys(k) == "GT"
        val d = iv.u8
        val t = d & 0x0f
        var perSample = d >> 4
        if (perSample == 15) perSample = readTypedInt(iv)
        val col = new Array[String](nSample)
        var j = 0
        while (j < nSample) {
          t match {
            case 1 | 2 | 3 =>
              val (miss, eov) = t match {
                case 1 => (MissingI8.toInt, EovI8.toInt)
                case 2 => (MissingI16.toInt, MissingI16.toInt + 1)
                case _ => (MissingI32, MissingI32 + 1)
              }
              val vs = Array.fill(perSample)(t match {
                case 1 => iv.i8
                case 2 => iv.i16
                case _ => iv.i32
              }).filter(_ != eov)
              col(j) =
                if (isGt) gtString(vs)
                else if (vs.isEmpty) "."
                else vs.map(v => if (v == miss) "." else v.toString)
                  .mkString(",")
            case 5 =>
              val vs = Array.fill(perSample)(iv.f32).filter(_ != EovF)
              col(j) =
                if (vs.isEmpty) "."
                else vs.map(v => if (v != v || v == MissingF) "."
                  else fmtFloat(v)).mkString(",")
            case 7 =>
              val bytes = new Array[Byte](perSample)
              System.arraycopy(iv.b, iv.p, bytes, 0, perSample)
              iv.p += perSample
              val str = new String(bytes, "UTF-8").takeWhile(_ != 0)
              col(j) = if (str.isEmpty) "." else str
            case other => throw new UnsupportedOperationException(
              s"bcf fmt typed kind $other")
          }
          j += 1
        }
        cols(k) = col
        k += 1
      }
      sb += '\t'; sb ++= keys.mkString(":")
      var j = 0
      while (j < nSample) {
        sb += '\t'
        var k2 = 0
        while (k2 < nFmt) {
          if (k2 > 0) sb += ':'
          sb ++= cols(k2)(j)
          k2 += 1
        }
        j += 1
      }
    }
    sb.toString
  }

  private def isFlagLike(key: String, numbers: Map[String, String]): Boolean =
    numbers.get(key).contains("0")

  /** GT ints -> "a/b" text; value = (allele+1)<<1 | phased, 0 = '.'. */
  private def gtString(vs: Array[Int]): String = {
    if (vs.isEmpty) return "."
    val sb = new StringBuilder(4)
    var i = 0
    while (i < vs.length) {
      if (i > 0) sb += (if ((vs(i) & 1) == 1) '|' else '/')
      val a = (vs(i) >> 1) - 1
      if (a < 0) sb += '.' else sb ++= a.toString
      i += 1
    }
    sb.toString
  }

  private def fmtFloat(f: Float): String =
    if (f == f.toLong.toFloat && math.abs(f) < 1e15) f.toLong.toString
    else f.toString

  // ---- reading ---------------------------------------------------------------

  private def truncated(path: String, at: Long): EOFException =
    new EOFException(s"$path is truncated at virtual offset $at")

  /** Header lines + parsed dictionaries, consumed from the stream head
    * (leaves `in` positioned at the first record). */
  private def readHeaderFrom(in: InputStream, path: String)
      : (Seq[String], Header, Map[String, String]) = {
    val magic = new Array[Byte](5)
    readFully(in, magic, 0, truncated(path, 0))
    require(new String(magic, 0, 3, "ASCII") == "BCF" && magic(3) == 2,
      s"$path is not BCF2")
    val lenB = new Array[Byte](4)
    readFully(in, lenB, 0, truncated(path, 0))
    val htext = new Array[Byte](u32(lenB, 0))
    readFully(in, htext, 0, truncated(path, 0))
    val headerLines = new String(htext, "UTF-8").takeWhile(_ != 0)
      .linesIterator.toSeq.filter(_.nonEmpty)
    val h = headerOf(headerLines)
    val numbers = (for {
      l <- headerLines
      m <- """##(?:INFO|FORMAT)=<ID=([^,>]+),Number=([^,>]+)""".r
        .findFirstMatchIn(l)
    } yield m.group(1) -> m.group(2)).toMap
    (headerLines, h, numbers)
  }

  private def readHeader(path: String)
      : (Seq[String], Header, Map[String, String]) = {
    val in = new Bgzf.BlockStream(path.stripPrefix("file:"), 0L)
    try readHeaderFrom(in, path) finally in.close()
  }

  /** The VCF-style header text embedded in a BCF's prologue. */
  def headerLines(path: String): Seq[String] = readHeader(path)._1

  /** The 8-byte (l_shared, l_indiv) prologue of the record starting at
    * virtual offset `at`, or null at a clean end of stream. */
  private def prologue(in: InputStream, path: String, at: Long)
      : Array[Byte] = {
    val first = in.read()
    if (first < 0) return null
    val sizes = new Array[Byte](8)
    sizes(0) = first.toByte
    readFully(in, sizes, 1, truncated(path, at))
    sizes
  }

  /** Decoded VCF body lines of the records from `in`'s position (a
    * record start) up to the first record boundary at or after virtual
    * offset `end`. A stream that ends inside a record raises an
    * EOFException naming the file and the record's virtual offset;
    * `close` closes the stream. */
  private def records(in: Bgzf.BlockStream, path: String, h: Header,
      numbers: Map[String, String], end: Long)
      : Iterator[String] with java.io.Closeable = {
    def nextLine(): String = {
      val at = in.virtualPos
      val sizes = if (at >= end) null else prologue(in, path, at)
      if (sizes == null) return null
      val shared = new Array[Byte](u32(sizes, 0))
      val indiv = new Array[Byte](u32(sizes, 4))
      readFully(in, shared, 0, truncated(path, at))
      readFully(in, indiv, 0, truncated(path, at))
      recordToLine(shared, indiv, h, numbers)
    }
    val lines = Iterator.continually(nextLine()).takeWhile(_ != null)
    new Iterator[String] with java.io.Closeable {
      override def hasNext: Boolean = lines.hasNext
      override def next(): String = lines.next()
      override def close(): Unit = in.close()
    }
  }

  /** (header lines, every record as a VCF body line) — streaming. */
  def open(path: String)
      : (Seq[String], Iterator[String] with java.io.Closeable) = {
    val in = new Bgzf.BlockStream(path.stripPrefix("file:"), 0L)
    try {
      val (headerLines, h, numbers) = readHeaderFrom(in, path)
      (headerLines, records(in, path, h, numbers, Long.MaxValue))
    } catch { case e: Throwable => in.close(); throw e }
  }

  /** Records whose virtual offset lies in [v0, v1): seeks straight to
    * v0's BGZF member (no upstream decompression) and stops at the first
    * record boundary at/after v1. v0 and v1 MUST be record-aligned
    * virtual offsets (CSI chunk begins are). */
  def rangeLines(path: String, v0: Long, v1: Long)
      : Iterator[String] with java.io.Closeable = {
    val (_, h, numbers) = readHeader(path)
    val bs = new Bgzf.BlockStream(path.stripPrefix("file:"), v0 >> 16)
    try {
      var skip = (v0 & 0xffff).toInt
      val scratch = new Array[Byte](skip)
      while (skip > 0) {
        val n = bs.read(scratch, 0, skip)
        require(n > 0, s"cannot seek to virtual offset $v0 in $path")
        skip -= n
      }
      records(bs, path, h, numbers, v1)
    } catch { case e: Throwable => bs.close(); throw e }
  }

  /** Every record's start virtual offset: from the `.csi` next to the
    * file (ours or htslib's chunk begins), else from one [[buildCsi]]
    * pass — the split points of the `vcf` source's BCF scan. */
  def recordStarts(path: String): Array[Long] = {
    val csi = path.stripPrefix("file:") + ".csi"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(csi)))
      Csi.recordStarts(csi)
    else buildCsi(path)
  }

  /** One sequential pass over an index-less `.bcf`: decodes just the
    * record prologues (rid, pos, rlen — no typed-value parsing) to
    * build the standard CSI binning index the splitter consumes. The
    * index is persisted next to the file when the directory is
    * writable, so later reads skip the pass; a read-only location
    * (e.g. the reference fixtures) still gets in-memory split points
    * for this session. Returns every record's start virtual offset. */
  def buildCsi(path: String): Array[Long] = {
    val p = path.stripPrefix("file:")
    val bs = new Bgzf.BlockStream(p, 0L)
    try {
      readHeaderFrom(bs, path) // positions the stream at record 0
      val csi = new Csi.Builder()
      val starts = ArrayBuffer.empty[Long]
      val scratch = new Array[Byte](64 * 1024)
      var vbeg = bs.virtualPos
      var sizes = prologue(bs, path, vbeg)
      while (sizes != null) {
        val lShared = u32(sizes, 0)
        val lIndiv = u32(sizes, 4)
        val head = new Array[Byte](math.min(lShared, 12))
        readFully(bs, head, 0, truncated(path, vbeg))
        var toSkip = (lShared - head.length).toLong + lIndiv
        while (toSkip > 0) {
          val n = bs.read(scratch, 0,
            math.min(toSkip, scratch.length.toLong).toInt)
          if (n < 0) throw truncated(path, vbeg)
          toSkip -= n
        }
        val rid = u32(head, 0)
        val pos0 = u32(head, 4).toLong
        val rlen = math.max(u32(head, 8), 1)
        csi.add(rid, pos0, pos0 + rlen, vbeg, bs.virtualPos)
        starts += vbeg
        vbeg = bs.virtualPos
        sizes = prologue(bs, path, vbeg)
      }
      try csi.write(p + ".csi")
      catch { case _: java.io.IOException => () } // read-only dir: in-memory only
      starts.toArray
    } finally bs.close()
  }

  /** seqBCF2GDS analog: BCF → the engine's canonical variants schema,
    * identical to [[Vcf.read]] of the equivalent VCF — the `vcf` source
    * reading a `.bcf` (or a directory of them), split into record-aligned
    * ranges of ~`splitBytes` compressed bytes from the file's CSI, which
    * an index-less file gets built and persisted on first read
    * ([[recordStarts]]). */
  def read(spark: SparkSession, path: String,
      splitBytes: Long = 16L * 1024 * 1024): DataFrame =
    spark.read.format("vcf").option("splitSize", splitBytes).load(path)

  // ---- writing ---------------------------------------------------------------

  private def writeTypedInts(o: DataOutputStream, vs: Array[Int],
      missing: Set[Int]): Unit = {
    // narrowest width that holds every non-sentinel value
    val fit8 = vs.forall(v => missing.contains(v) ||
      (v >= -120 && v <= 127))
    val fit16 = vs.forall(v => missing.contains(v) ||
      (v >= -32000 && v <= 32767))
    val t = if (fit8) 1 else if (fit16) 2 else 3
    writeDescriptor(o, t, vs.length)
    vs.foreach { v =>
      val vv = if (missing.contains(v)) v else v
      t match {
        case 1 => o.writeByte(if (v == MissingI32) MissingI8
          else if (v == MissingI32 + 1) EovI8 else vv.toByte)
        case 2 =>
          val x = if (v == MissingI32) MissingI16.toInt
            else if (v == MissingI32 + 1) MissingI16 + 1 else vv
          o.writeByte(x & 0xff); o.writeByte((x >> 8) & 0xff)
        case _ =>
          o.writeByte(vv & 0xff); o.writeByte((vv >> 8) & 0xff)
          o.writeByte((vv >> 16) & 0xff); o.writeByte((vv >>> 24) & 0xff)
      }
    }
  }

  private def writeDescriptor(o: DataOutputStream, t: Int, len: Int): Unit =
    if (len < 15) o.writeByte((len << 4) | t)
    else {
      o.writeByte((15 << 4) | t)
      writeTypedInts(o, Array(len), Set.empty)
    }

  private def writeTypedStr(o: DataOutputStream, s: String): Unit = {
    val b = s.getBytes("UTF-8")
    writeDescriptor(o, 7, b.length)
    o.write(b)
  }

  private def writeTypedFloats(o: DataOutputStream, vs: Array[Float]): Unit = {
    writeDescriptor(o, 5, vs.length)
    vs.foreach { f =>
      val bits = java.lang.Float.floatToRawIntBits(f)
      o.writeByte(bits & 0xff); o.writeByte((bits >> 8) & 0xff)
      o.writeByte((bits >> 16) & 0xff); o.writeByte((bits >>> 24) & 0xff)
    }
  }

  /** seqVCF2BCF: convert a VCF (possibly .gz) to BCF2.2 — also the
    * fixture generator for the round-trip spec. */
  def writeFromVcf(vcfPath: String, bcfPath: String): Unit = {
    // dictionaries need every contig + filter id declared; missing
    // ##contig lines are synthesized by a FIRST streaming pass over the
    // body (contig set is metadata-scale), then a second streaming pass
    // writes the records — the body is never buffered in memory
    def openLines() = scala.io.Source.fromInputStream(
      graft.sources.v2.VcfDataSource.open(vcfPath), "UTF-8").getLines()
    val headerLines = ArrayBuffer.empty[String]
    val contigsInData = ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    openLines().foreach { l =>
      if (l.startsWith("#")) headerLines += l
      else if (l.nonEmpty) {
        val c = l.takeWhile(_ != '\t')
        if (seen.add(c)) contigsInData += c
      }
    }
    def body: Iterator[String] =
      openLines().filterNot(_.startsWith("#")).filter(_.nonEmpty)
    val declared = headerLines.collect { case contigRe(id) => id }
    val extraContigs = contigsInData.filterNot(declared.contains)
      .map(c => s"##contig=<ID=$c>")
    val chromLine = headerLines.last
    val fullHeader =
      headerLines.init.toSeq ++ extraContigs :+ chromLine
    writeLines(body, fullHeader, bcfPath)
  }

  /** BCF2.2 + CSI from decoded VCF body lines and a COMPLETE header
    * (every contig/filter/info/format id declared — the caller owns
    * dictionary completeness). Streaming: one record in memory at a
    * time. Returns the record count. Runs anywhere — the driver for
    * the single-file converters, executors for the sharded export. */
  def writeLines(body: Iterator[String], fullHeader: Seq[String],
      bcfPath: String): Long = {
    val h = headerOf(fullHeader)
    val numbers = (for {
      l <- fullHeader
      m <- """##(?:INFO|FORMAT)=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+)"""
        .r.findFirstMatchIn(l)
    } yield m.group(1) -> (m.group(2), m.group(3))).toMap
    val out = new Bgzf.Writer(java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(bcfPath)))
    val o = new DataOutputStream(out)
    o.write("BCF".getBytes("ASCII")); o.writeByte(2); o.writeByte(2)
    val htext = (fullHeader.mkString("\n") + "\n ").getBytes("UTF-8")
    o.writeByte(htext.length & 0xff)
    o.writeByte((htext.length >> 8) & 0xff)
    o.writeByte((htext.length >> 16) & 0xff)
    o.writeByte((htext.length >>> 24) & 0xff)
    o.write(htext)
    // CSI alongside the BCF: every record's virtual-offset span feeds the
    // standard binning index, which is what makes the .bcf byte-range
    // splittable on read (records have no resync marker otherwise).
    val csi = new Csi.Builder()
    var n = 0L
    body.foreach { l =>
      val vbeg = out.virtualPos
      writeRecord(o, l, h, numbers)
      val t1 = l.indexOf('\t')
      val t2 = l.indexOf('\t', t1 + 1)
      val t3 = l.indexOf('\t', t2 + 1)
      val t4 = l.indexOf('\t', t3 + 1)
      val beg = l.substring(t1 + 1, t2).toLong - 1
      csi.add(h.contigIdx(l.substring(0, t1)), beg, beg + (t4 - t3 - 1),
        vbeg, out.virtualPos)
      n += 1
    }
    o.flush()
    out.close()
    csi.write(bcfPath + ".csi")
    n
  }

  private def writeRecord(o: DataOutputStream, line: String, h: Header,
      numbers: Map[String, (String, String)]): Unit = {
    val f = line.split("\t", -1)
    val sharedB = new ByteArrayOutputStream(256)
    val s = new DataOutputStream(sharedB)
    def wi32(out: DataOutputStream, v: Int): Unit = {
      out.writeByte(v & 0xff); out.writeByte((v >> 8) & 0xff)
      out.writeByte((v >> 16) & 0xff); out.writeByte((v >>> 24) & 0xff)
    }
    wi32(s, h.contigIdx(f(0)))
    wi32(s, f(1).toInt - 1)
    wi32(s, f(3).length)
    val qualBits = if (f(5) == ".") 0x7f800001
      else java.lang.Float.floatToRawIntBits(f(5).toFloat)
    wi32(s, qualBits)
    val alleles = if (f(4) == ".") Array(f(3))
      else Array(f(3)) ++ f(4).split(",")
    val infoKVs =
      if (f(7) == "." || f(7).isEmpty) Array.empty[String]
      else f(7).split(";")
    wi32(s, (alleles.length << 16) | infoKVs.length)
    val fmtKeys = if (f.length > 8 && f(8).nonEmpty) f(8).split(":")
      else Array.empty[String]
    val nSample = math.max(f.length - 9, 0)
    wi32(s, (fmtKeys.length << 24) | nSample)
    if (f(2) == ".") writeDescriptor(s, 7, 0) else writeTypedStr(s, f(2))
    alleles.foreach(writeTypedStr(s, _))
    if (f(6) == ".") writeDescriptor(s, 1, 0)
    else writeTypedInts(s, f(6).split(";").map(h.dictIdx), Set.empty)
    infoKVs.foreach { kv =>
      val eq = kv.indexOf('=')
      val key = if (eq < 0) kv else kv.substring(0, eq)
      writeTypedInts(s, Array(h.dictIdx(key)), Set.empty)
      if (eq < 0) writeTypedInts(s, Array(1), Set.empty) // Flag
      else {
        val raw = kv.substring(eq + 1)
        numbers.get(key).map(_._2).getOrElse("String") match {
          case "Integer" => writeTypedInts(s,
            raw.split(",").map(v => if (v == ".") MissingI32 else v.toInt),
            Set(MissingI32))
          case "Float" => writeTypedFloats(s,
            raw.split(",").map(v => if (v == ".") MissingF else v.toFloat))
          case _ => writeTypedStr(s, raw)
        }
      }
    }
    // indiv block
    val indivB = new ByteArrayOutputStream(256)
    val iv = new DataOutputStream(indivB)
    fmtKeys.zipWithIndex.foreach { case (key, ki) =>
      writeTypedInts(iv, Array(h.dictIdx(key)), Set.empty)
      val cells = (0 until nSample).map { j =>
        val parts = f(9 + j).split(":", -1)
        if (ki < parts.length) parts(ki) else "."
      }
      if (key == "GT") {
        val enc = cells.map { c =>
          c.split("[/|]", -1).zipWithIndex.map { case (a, i) =>
            val phased = i > 0 && c.length > 1 &&
              c.charAt(indexOfSep(c, i)) == '|'
            val av = if (a == "." || a.isEmpty) 0 else a.toInt + 1
            (av << 1) | (if (phased) 1 else 0)
          }
        }
        val w = enc.map(_.length).max
        val flat = enc.flatMap(e =>
          e ++ Array.fill(w - e.length)(MissingI32 + 1)).toArray
        writeFixedWidthInts(iv, flat, w, nSample)
      } else numbers.get(key).map(_._2).getOrElse("String") match {
        case "Integer" =>
          val vs = cells.map(c => if (c == ".") Array(MissingI32)
            else c.split(",").map(v => if (v == ".") MissingI32 else v.toInt))
          val w = vs.map(_.length).max
          val flat = vs.flatMap(v =>
            v ++ Array.fill(w - v.length)(MissingI32 + 1)).toArray
          writeFixedWidthInts(iv, flat, w, nSample)
        case "Float" =>
          val vs = cells.map(c => if (c == ".") Array(MissingF)
            else c.split(",").map(v => if (v == ".") MissingF else v.toFloat))
          val w = vs.map(_.length).max
          val flat = vs.flatMap(v => v ++ Array.fill(w - v.length)(EovF))
          writeDescriptor(iv, 5, w)
          // descriptor applies per sample; rewrite as one header + cells
          flat.foreach { fl =>
            val bits = java.lang.Float.floatToRawIntBits(fl)
            iv.writeByte(bits & 0xff); iv.writeByte((bits >> 8) & 0xff)
            iv.writeByte((bits >> 16) & 0xff)
            iv.writeByte((bits >>> 24) & 0xff)
          }
        case _ =>
          val w = math.max(cells.map(_.getBytes("UTF-8").length).max, 1)
          writeDescriptor(iv, 7, w)
          cells.foreach { c =>
            val b = c.getBytes("UTF-8")
            iv.write(b)
            (b.length until w).foreach(_ => iv.writeByte(0))
          }
      }
    }
    s.flush(); iv.flush()
    wi32(o, sharedB.size())
    wi32(o, indivB.size())
    o.write(sharedB.toByteArray)
    o.write(indivB.toByteArray)
  }

  /** Position of the separator before allele index i in a GT string. */
  private def indexOfSep(gt: String, i: Int): Int = {
    var seen = 0
    var p = 0
    while (p < gt.length) {
      if (gt.charAt(p) == '/' || gt.charAt(p) == '|') {
        seen += 1
        if (seen == i) return p
      }
      p += 1
    }
    0
  }

  /** One descriptor for all samples (width w), int values with
    * missing/EOV sentinels mapped to the chosen width. */
  private def writeFixedWidthInts(o: DataOutputStream, flat: Array[Int],
      w: Int, nSample: Int): Unit = {
    val fit8 = flat.forall(v => v == MissingI32 || v == MissingI32 + 1 ||
      (v >= -120 && v <= 127))
    val fit16 = flat.forall(v => v == MissingI32 || v == MissingI32 + 1 ||
      (v >= -32000 && v <= 32767))
    val t = if (fit8) 1 else if (fit16) 2 else 3
    writeDescriptor(o, t, w)
    flat.foreach { v =>
      t match {
        case 1 => o.writeByte(
          if (v == MissingI32) MissingI8
          else if (v == MissingI32 + 1) EovI8 else v.toByte)
        case 2 =>
          val x = if (v == MissingI32) MissingI16.toInt
            else if (v == MissingI32 + 1) MissingI16 + 1 else v
          o.writeByte(x & 0xff); o.writeByte((x >> 8) & 0xff)
        case _ =>
          o.writeByte(v & 0xff); o.writeByte((v >> 8) & 0xff)
          o.writeByte((v >> 16) & 0xff); o.writeByte((v >>> 24) & 0xff)
      }
    }
  }
}
