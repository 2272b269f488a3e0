package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.ISO_8859_1

/** The RIFF container under the WAVE, AVI and WebP codecs of this
  * package (public Microsoft/IBM multimedia format): one bounds-checked
  * chunk walk, one writer, the little-endian reads the codecs share and
  * the WAVE `fmt ` body.
  *
  * A chunk is a 4-byte id, a u32le body size and the body, padded to an
  * even length. A `RIFF` or `LIST` body opens with a 4-byte form or list
  * type and holds chunks. The walk follows the fMP4 discipline: every
  * untrusted size is checked against the enclosing range before it is
  * used. Each codec applies its own rules to the chunk list in file
  * order.
  */
object Riff {

  /** One chunk: its id and the offset and length of its body. */
  final case class Chunk(id: String, body: Int, size: Int) {
    def end: Int = body + size
  }

  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  def u16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  def s16(b: Array[Byte], i: Int): Int = u16(b, i).toShort.toInt
  def u32(b: Array[Byte], i: Int): Long = u16(b, i).toLong |
    (u16(b, i + 2).toLong << 16)
  def fourcc(b: Array[Byte], i: Int): String = new String(b, i, 4, ISO_8859_1)

  /** True when `b` opens with `RIFF`, a size and the form type `form`. */
  def isForm(b: Array[Byte], form: String): Boolean =
    b != null && b.length >= 12 && fourcc(b, 0) == "RIFF" &&
      fourcc(b, 8) == form

  /** The chunks in `[from, until)` in file order. None when a declared
    * size runs past `until`; the walk stops when fewer than 8 bytes
    * remain and steps over each odd body's pad byte. */
  def chunks(b: Array[Byte], from: Int, until: Int)
      : Option[IndexedSeq[Chunk]] = {
    val out = Vector.newBuilder[Chunk]
    var pos = from
    while (pos + 8 <= until) {
      val sz = u32(b, pos + 4)
      if (pos + 8 + sz > until) return None
      out += Chunk(fourcc(b, pos), pos + 8, sz.toInt)
      pos += 8 + sz.toInt + (sz.toInt & 1)
    }
    Some(out.result())
  }

  /** The top-level chunks of a RIFF payload of form `form`; None when
    * the form check fails or a chunk overruns the payload. */
  def read(b: Array[Byte], form: String): Option[IndexedSeq[Chunk]] =
    if (isForm(b, form)) chunks(b, 12, b.length) else None

  /** A RIFF payload of form `form` holding `chunks` in order. */
  def write(form: String, chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    put(out, "RIFF", typed(form, chunks))
    out.toByteArray
  }

  /** A `LIST` chunk of type `tpe` holding `chunks`, to nest in
    * [[write]] or in another list. */
  def list(tpe: String, chunks: Seq[(String, Array[Byte])])
      : (String, Array[Byte]) = "LIST" -> typed(tpe, chunks)

  private def typed(tpe: String, chunks: Seq[(String, Array[Byte])])
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(tpe.getBytes(ISO_8859_1))
    chunks.foreach { case (id, body) => put(out, id, body) }
    out.toByteArray
  }

  private def put(out: java.io.ByteArrayOutputStream, id: String,
      body: Array[Byte]): Unit = {
    out.write(id.getBytes(ISO_8859_1))
    out.write(le32(body.length))
    out.write(body)
    if ((body.length & 1) == 1) out.write(0)
  }

  /** The low 32 bits of `v`, little-endian. */
  def le32(v: Long): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v.toInt)
      .array()

  /** A WAVE `fmt ` body: the 16-byte WAVEFORMAT/PCMWAVEFORMAT fields,
    * then, when `ext` is given, cbSize and the extension's u16 words. */
  def waveFmt(tag: Int, channels: Int, rate: Int, byteRate: Long,
      blockAlign: Int, bits: Int, ext: Option[Seq[Int]] = None)
      : Array[Byte] = {
    val bb = ByteBuffer.allocate(16 + ext.fold(0)(e => 2 + 2 * e.length))
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putShort(tag.toShort).putShort(channels.toShort).putInt(rate)
      .putInt(byteRate.toInt).putShort(blockAlign.toShort)
      .putShort(bits.toShort)
    ext.foreach { e =>
      bb.putShort((2 * e.length).toShort)
      e.foreach(w => bb.putShort(w.toShort))
    }
    bb.array()
  }
}
