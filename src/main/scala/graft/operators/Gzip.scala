package graft.operators

/** GZIP container surface (RFC 1952) — real corpora travel as `.gz`
  * files, very often CONCATENATED multi-member streams (each shard a
  * member). This is a bounds-checked member walk with reject-don't-
  * guess verification, not a convenience wrapper: every member's
  * header (magic, CM = 8 deflate, FLG with FEXTRA/FNAME/FCOMMENT/
  * FHCRC handling) is parsed explicitly, the DEFLATE body inflates
  * through `java.util.zip.Inflater(nowrap)`, and the 8-byte trailer's
  * CRC32 and ISIZE are VERIFIED against the inflated bytes — a
  * truncated stream, a flipped trailer bit, or garbage between
  * members rejects the whole payload (the fMP4/RIFF discipline).
  */
object Gzip {

  /** gzip one member (deflate level 6, no name/extra fields). */
  def gzipMember(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(data)
    gz.close()
    out.toByteArray
  }

  /** Concatenate `parts` as independent gzip members (the sharded
    * corpus layout: `cat a.gz b.gz > all.gz` is a valid gzip file). */
  def gzipConcat(parts: Seq[Array[Byte]]): Array[Byte] =
    parts.map(gzipMember).foldLeft(Array.emptyByteArray)(_ ++ _)

  final case class GzipStream(nMembers: Int, totalBytes: Long,
      data: Array[Byte])

  /** Walk and inflate every member; None on ANY defect: bad magic or
    * CM, reserved FLG bits, truncation, CRC32 or ISIZE mismatch,
    * trailing garbage that is not another member. */
  def decode(payload: Array[Byte]): Option[GzipStream] = {
    if (payload == null || payload.length < 18) return None
    def u8(i: Int) = payload(i) & 0xff
    def u16(i: Int) = u8(i) | (u8(i + 1) << 8)
    val out = new java.io.ByteArrayOutputStream()
    var pos = 0
    var members = 0
    while (pos < payload.length) {
      if (pos + 18 > payload.length) return None // header + trailer floor
      if (!(u8(pos) == 0x1f && u8(pos + 1) == 0x8b)) return None
      if (u8(pos + 2) != 8) return None // CM must be deflate
      val flg = u8(pos + 3)
      if ((flg & 0xe0) != 0) return None // reserved bits
      var p = pos + 10 // MTIME(4) XFL OS skipped
      if ((flg & 0x04) != 0) { // FEXTRA
        if (p + 2 > payload.length) return None
        val xlen = u16(p); p += 2 + xlen
        if (p > payload.length) return None
      }
      def skipZeroTerm(): Boolean = {
        while (p < payload.length && payload(p) != 0) p += 1
        if (p >= payload.length) false else { p += 1; true }
      }
      if ((flg & 0x08) != 0 && !skipZeroTerm()) return None // FNAME
      if ((flg & 0x10) != 0 && !skipZeroTerm()) return None // FCOMMENT
      if ((flg & 0x02) != 0) { p += 2 } // FHCRC (header crc skipped)
      if (p > payload.length) return None
      val (data, next) =
        inflateMember(payload, p, payload.length).getOrElse(return None)
      out.write(data)
      pos = next
      members += 1
    }
    if (members == 0) None
    else Some(GzipStream(members, out.size().toLong, out.toByteArray))
  }

  /** Inflates the raw-DEFLATE body of one member starting at
    * `src(off)` and verifies the 8-byte trailer that follows it (CRC32,
    * ISIZE), reading nothing at or past `end`. Returns the inflated
    * bytes and the offset just past the trailer, or the defect: a
    * corrupt or truncated body, a truncated trailer, a CRC32 or an
    * ISIZE mismatch. `sizeHint` presizes the output. Shared by
    * [[decode]] and the BGZF block reader. */
  def inflateMember(src: Array[Byte], off: Int, end: Int,
      sizeHint: Int = 8192): Either[String, (Array[Byte], Int)] = {
    def u32(i: Int) = (src(i) & 0xffL) | ((src(i + 1) & 0xffL) << 8) |
      ((src(i + 2) & 0xffL) << 16) | ((src(i + 3) & 0xffL) << 24)
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(src, off, end - off)
      var out = new Array[Byte](math.max(sizeHint, 64))
      var n = 0
      while (!inf.finished()) {
        if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
        val k =
          try inf.inflate(out, n, out.length - n)
          catch { case e: java.util.zip.DataFormatException =>
            return Left(s"corrupt deflate data (${e.getMessage})") }
        if (k == 0 && !inf.finished()) return Left("truncated deflate data")
        n += k
      }
      val tr = off + inf.getBytesRead.toInt
      if (tr + 8 > end) return Left("truncated trailer")
      val crc = new java.util.zip.CRC32()
      crc.update(out, 0, n)
      if (u32(tr) != crc.getValue) return Left("CRC32 mismatch")
      if (u32(tr + 4) != (n & 0xffffffffL)) return Left("ISIZE mismatch")
      Right((if (n == out.length) out else java.util.Arrays.copyOf(out, n),
        tr + 8))
    } finally inf.end()
  }
}
