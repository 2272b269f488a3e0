package graft

import java.nio.file.{Files, Path}
import java.util.zip.ZipException

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.bcf.Bgzf

/** BGZF read-side integrity: every member read through
  * `Bgzf.BlockStream` is checked against its CRC32 and ISIZE, and a
  * damaged member fails fast with an error naming the file and the
  * member offset. Files come from the engine's own BGZF writer. */
class BgzfSpec extends AnyFunSuite {

  // incompressible bytes: deflate stores them verbatim, so a flipped
  // payload byte changes the output without breaking the deflate stream
  private val data = {
    val b = new Array[Byte](100000)
    new scala.util.Random(20261017L).nextBytes(b)
    b
  }

  private def written(): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new Bgzf.Writer(bos)
    w.write(data)
    w.close()
    bos.toByteArray
  }

  private def memberLen(f: Array[Byte], at: Int): Int =
    ((f(at + 16) & 0xff) | ((f(at + 17) & 0xff) << 8)) + 1

  private def tmp(bytes: Array[Byte]): Path = {
    val p = Files.createTempFile("bgzf-spec", ".gz")
    p.toFile.deleteOnExit()
    Files.write(p, bytes)
  }

  /** Reads the whole file through BlockStream, failing the test instead
    * of hanging when the read does not return within 20 s. */
  private def readAll(p: Path): Array[Byte] = Await.result(Future {
    val in = new Bgzf.BlockStream(p.toString, 0L)
    try in.readAllBytes() finally in.close()
  }, 20.seconds)

  test("a file from the BGZF writer reads back unchanged") {
    assert(readAll(tmp(written())).sameElements(data))
  }

  test("a truncated deflate payload under a consistent BSIZE raises") {
    val f = written()
    val len0 = memberLen(f, 0)
    val keep = (len0 - 26) / 2 // half the deflate body
    val m = new java.io.ByteArrayOutputStream()
    m.write(f, 0, 16)
    val bsize = 18 + keep + 8 - 1
    m.write(bsize & 0xff); m.write((bsize >> 8) & 0xff)
    m.write(f, 18, keep)
    m.write(f, len0 - 8, 8) // the original CRC32 + ISIZE
    m.write(f, len0, f.length - len0)
    val p = tmp(m.toByteArray)
    val e = intercept[ZipException](readAll(p))
    assert(e.getMessage.contains("truncated deflate data"), e.getMessage)
    assert(e.getMessage.contains("offset 0 "), e.getMessage)
    assert(e.getMessage.contains(p.toString), e.getMessage)
  }

  test("a flipped payload byte raises a CRC32 error at its member") {
    val f = written()
    val at = memberLen(f, 0) // second member
    f(at + 18 + 1000) = (f(at + 18 + 1000) ^ 0x5a).toByte
    val p = tmp(f)
    val e = intercept[ZipException](readAll(p))
    assert(e.getMessage.contains("CRC32 mismatch"), e.getMessage)
    assert(e.getMessage.contains(s"offset $at "), e.getMessage)
    assert(e.getMessage.contains(p.toString), e.getMessage)
  }

  test("a wrong ISIZE raises an ISIZE error") {
    val f = written()
    val isizeAt = memberLen(f, 0) - 4
    f(isizeAt) = (f(isizeAt) + 1).toByte
    val e = intercept[ZipException](readAll(tmp(f)))
    assert(e.getMessage.contains("ISIZE mismatch"), e.getMessage)
  }
}
