package graft

import java.io.{BufferedOutputStream, DataOutputStream, OutputStream}
import java.security.{DigestOutputStream, MessageDigest}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Flac, MpegAudio, Multimodal}

/** Pins the MPEG audio, ID3v2 and FLAC bitstreams: the md5 of every
  * writer's output for fixed arguments, and a digest of every decoder's
  * result over each payload's corruption corpus — the clean payload,
  * every truncation and every single-bit flip. Every decoder runs on
  * every corpus input, as the media router probes an audio payload with
  * each codec in turn, and none may throw or run past the time bound.
  * The spec uses only the codecs' public functions, so it checks any
  * frame walk, bit reader or bit writer behind them.
  */
class AudioBitstreamSpec extends AnyFunSuite {

  private def md5(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  /** An ID3v2.3 tag (plain big-endian frame sizes) with one
    * ISO-8859-1 and one UTF-16 text frame, built by hand: the engine
    * writes v2.4 tags only. */
  private val id3v23: Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    for ((id, enc, text) <- Seq(
        ("TIT2", 0, "Plain".getBytes("ISO-8859-1")),
        ("TPE1", 1, "\ufeffWide".getBytes("UTF-16BE")))) {
      val sz = text.length + 1
      body.write(id.getBytes("ISO-8859-1"))
      body.write(sz >> 24); body.write((sz >> 16) & 0xff)
      body.write((sz >> 8) & 0xff); body.write(sz & 0xff)
      body.write(0); body.write(0); body.write(enc)
      body.write(text, 0, text.length)
    }
    val fb = body.toByteArray
    Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, fb.length.toByte) ++ fb
  }

  private val tag = Multimodal.syntheticId3(Seq(
    "TIT2" -> "Title", "TPE1" -> "Artist", "TALB" -> "Album"))

  private val payloads: Seq[(String, Array[Byte])] = Seq(
    "mp1" -> MpegAudio.syntheticMp1(7, 3),
    "mp1_crc" -> MpegAudio.syntheticMp1(7, 3, withCrc = true),
    "mp2_even" -> MpegAudio.syntheticMp2(4, 3),
    "mp2_even_crc" -> MpegAudio.syntheticMp2(4, 3, withCrc = true),
    "mp2_odd" -> MpegAudio.syntheticMp2(5, 2),
    "mp2_odd_crc" -> MpegAudio.syntheticMp2(5, 2, withCrc = true),
    "mp3_tagged" -> Multimodal.syntheticMp3(3, 0, 3, tagLen = 17),
    "id3" -> tag,
    "id3_mp3" -> (tag ++ Multimodal.syntheticMp3(4, 2, 5)),
    "id3v23" -> id3v23,
    "flac_mono" -> Flac.encode(Flac.fixtureWaveform(3, 300), 8000, 64),
    "flac_stereo" -> Flac.encode(Flac.fixtureWaveformStereo(4, 200),
      16000, 64, channels = 2))

  /** md5 of each writer's output, recorded before the MPEG frame walk
    * and the MSB-first bit I/O were shared. */
  private val writerMd5 = Map(
    "mp1" -> "06cdc3746de3ffbde8c6101dfbcbcf7e",
    "mp1_crc" -> "b9666b7e26dfaa65df96b07d4e6c024f",
    "mp2_even" -> "f8abead75162753d1b35222a979ac40e",
    "mp2_even_crc" -> "4a951b00b1fe627f1401134abb5c6f30",
    "mp2_odd" -> "deef8cc1ec15222dd1823e54ff59c4b1",
    "mp2_odd_crc" -> "3fa9923527b41c04a9eced5ef4904743",
    "mp3_tagged" -> "d2766d7f59fdb23c8544a7af87fd4498",
    "id3" -> "e6f2ba10b16ed193732edae901e3dfbe",
    "id3_mp3" -> "8a1d12950015100fbdcb20e337d9e6d1",
    "id3v23" -> "8b3892066749e3f4ddb6d6e20a513864",
    "flac_mono" -> "caa198d3e3f1e3eca9d75ba5d18147da",
    "flac_stereo" -> "f435f022bb11c6ffe13dc1fa92811794")

  /** md5 of every decoder's result over each payload's corpus, recorded
    * at the same commit. */
  private val corpusMd5 = Map(
    "mp1" -> "d7a3a277204927bf4a8a4e32a8ce18cf",
    "mp1_crc" -> "a73949a5f25063e39e703b4e8da76fcb",
    "mp2_even" -> "8a5b9f690feded766e1f9e450852145c",
    "mp2_even_crc" -> "207cfd30a8d42f753614b563ccb39ebd",
    "mp2_odd" -> "17624bc6b0d31e7ac1e00002935b2d0d",
    "mp2_odd_crc" -> "12937a2589d29067d2ae0f6383c6b339",
    "mp3_tagged" -> "e72219f97447b138387df9fa1da83c47",
    "id3" -> "8a576c2a7faa6f56b8a7a392c2e5c162",
    "id3_mp3" -> "591a0b3203683ce528dc9fff8d6eedf1",
    "id3v23" -> "7f985bcbfc1f9d974ff1a4cc1bef54ce",
    "flac_mono" -> "caac460abb6ad63e7da6f474ce878d94",
    "flac_stereo" -> "554758c46484e1bfaaba115ad7b108b9")

  /** Every decoder under test, with its result. */
  private val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
    "mp1" -> (p => MpegAudio.decodeMp1(p)),
    "mp2" -> (p => MpegAudio.decodeMp2(p)),
    "mp3" -> (p => Multimodal.parseMp3(p)),
    "id3" -> (p => Multimodal.parseId3(p)),
    "flac" -> (p => Flac.decode(p)))

  /** The clean payload, every truncation and every single-bit flip. */
  private def corpus(p: Array[Byte]): Iterator[Array[Byte]] =
    Iterator(p) ++ (0 until p.length).iterator.map(p.take) ++
      (0 until p.length * 8).iterator.map { bit =>
        val c = p.clone()
        c(bit / 8) = (c(bit / 8) ^ (0x80 >> (bit % 8))).toByte
        c
      }

  /** Writes a decoded result by value: case classes by name and fields,
    * arrays and collections by content, maps sorted by key. */
  private def put(out: DataOutputStream, x: Any): Unit = x match {
    case a: Array[Double] =>
      out.writeInt(a.length); a.foreach(out.writeDouble)
    case a: Array[Int] => out.writeInt(a.length); a.foreach(out.writeInt)
    case a: Array[_] => out.writeInt(a.length); a.foreach(put(out, _))
    case m: Map[_, _] =>
      put(out, m.toSeq.map { case (k, v) => (k.toString, v) }.sortBy(_._1))
    case s: Iterable[_] => out.writeInt(s.size); s.foreach(put(out, _))
    case p: Product =>
      out.writeUTF(p.productPrefix); out.writeInt(p.productArity)
      p.productIterator.foreach(put(out, _))
    case d: Double => out.writeDouble(d)
    case v => out.writeUTF(String.valueOf(v))
  }

  /** The corpus digest of `p`, and the corpus inputs a decoder threw on. */
  private def digest(p: Array[Byte]): (String, Seq[String]) = {
    val md = MessageDigest.getInstance("MD5")
    val out = new DataOutputStream(new BufferedOutputStream(
      new DigestOutputStream(OutputStream.nullOutputStream(), md)))
    val thrown = Seq.newBuilder[String]
    corpus(p).zipWithIndex.foreach { case (c, i) =>
      for ((name, f) <- decoders) {
        val r = try f(c) catch {
          case t: Throwable => thrown += s"input $i by $name: $t"; t.toString
        }
        put(out, r)
      }
    }
    out.close()
    (md.digest().map(x => f"${x & 0xff}%02x").mkString, thrown.result())
  }

  for ((name, p) <- payloads)
    test(s"$name: writer output is byte-identical") {
      assert(md5(p) == writerMd5(name), s"$name writer md5")
    }

  for ((name, p) <- payloads)
    test(s"$name: no decoder throws on the corpus, and the results are " +
        "pinned") {
      val (got, thrown) = Await.result(Future(digest(p)), 120.seconds)
      assert(thrown.isEmpty, thrown.take(5).mkString("\n"))
      assert(got == corpusMd5(name), s"$name corpus md5")
    }
}
