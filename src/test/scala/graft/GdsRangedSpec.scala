package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.gds.GdsCore
import graft.sources.gds.GdsCore.{GdsFile, Node}

/** Ranged variable-stride decode ([[GdsCore.stringsRange]] /
  * [[GdsCore.varintsRange]] over the chunk-granular element index) must
  * return exactly the slice of the whole-node decode — for every
  * dStr8/dVL_Int node of both real fixtures, across ranges that start
  * and end mid-chunk, cover one element, and cover elements spanning
  * chunk boundaries (1KG carries a 296 kb indel allele that spans many
  * XZ_RA chunks on its own). */
class GdsRangedSpec extends AnyFunSuite {


  private def collectNodes(n: Node): Seq[Node] =
    n +: n.children.flatMap(collectNodes)

  private def ranges(count: Int): Seq[(Int, Int)] = {
    val probes = Seq(
      (0, math.min(5, count)),
      (count / 3, math.min(count / 3 + 7, count)),
      (math.max(count - 3, 0), count),
      (count / 2, math.min(count / 2 + 1, count)),
      (0, count))
    probes.filter { case (a, b) => b > a }
  }

  private def checkFile(path: String): Unit = {
    val f = new GdsFile(path)
    try {
      val nodes = collectNodes(f.root)
      val strNodes = nodes.filter(n =>
        n.cls.contains("dStr8") && n.dims.nonEmpty && n.dataId != 0)
      assert(strNodes.nonEmpty, s"no dStr8 nodes in $path")
      strNodes.foreach { n =>
        val whole = GdsCore.strings(f, n)
        val count = n.dims.head
        ranges(count).foreach { case (e0, e1) =>
          val got = GdsCore.stringsRange(f, n, e0, e1)
          assert(got.toSeq == whole.slice(e0, e1).toSeq,
            s"${n.path}[$e0,$e1) mismatch in $path")
        }
      }
      val vlNodes = nodes.filter(n =>
        n.cls.contains("dVL_Int") && n.dims.nonEmpty && n.dataId != 0)
      vlNodes.foreach { n =>
        val count = n.dims.head
        val whole = GdsCore.varints(f, n, count.toLong)
        ranges(count).foreach { case (e0, e1) =>
          val got = GdsCore.varintsRange(f, n, count.toLong, e0, e1)
          assert(got.toSeq == whole.slice(e0, e1).toSeq,
            s"${n.path}[$e0,$e1) mismatch in $path")
        }
      }
    } finally f.close()
  }

  test("CEU_Exon.gds: ranged == whole for every variable-stride node") {
    checkFile(Fixtures.path("CEU_Exon.gds"))
  }

  test("1KG chr22: ranged == whole incl. the multi-chunk indel allele") {
    checkFile(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
  }

  test("Imputed_dosages.gds: ranged == whole") {
    checkFile(Fixtures.path("Imputed_dosages.gds"))
  }

  test("written container: ranged == whole for dStr8 and dVL_Int nodes") {
    // fixture-free: both nodes span several 128 KiB ZIP_ra chunks, one
    // string is longer than a chunk, and the varints take 1 to 10 bytes
    val rnd = new scala.util.Random(20261018L)
    val strs = (0 until 30000).map(i =>
      if (i == 12345) "A" * 300000
      else rnd.alphanumeric.take(rnd.nextInt(12)).mkString)
    val longs = (0 until 200000).map(_ => rnd.nextLong() >> rnd.nextInt(64))
    val vl = new java.io.ByteArrayOutputStream()
    longs.foreach { x =>
      var z = (x << 1) ^ (x >> 63) // zig-zag, then LEB128
      while ((z & ~0x7fL) != 0) { vl.write(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
      vl.write(z.toInt)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_var").toString
    val c = new graft.sources.gds.GdsWrite.Container("ZIP_ra")
    val rootId = c.allocId()
    val sNode = c.node("dStr8", Seq(strs.length),
      graft.sources.gds.GdsWrite.strPayload(strs))
    val vNode = c.node("dVL_Int", Seq(longs.length), vl.toByteArray)
    c.folderAt(rootId, Seq((sNode, "s", 0), (vNode, "v", 0)))
    c.save(s"$dir/var.gds", rootId)
    val f = new GdsFile(s"$dir/var.gds")
    try {
      val s = f.root("s")
      val v = f.root("v")
      for (n <- Seq(s, v))
        assert(GdsCore.chunkTable(f, n).exists(_.nChunks >= 3), n.path)
      val wholeS = GdsCore.strings(f, s).toSeq
      val wholeV = GdsCore.varints(f, v, longs.length.toLong).toSeq
      assert(wholeS == strs)
      assert(wholeV == longs)
      def ranges(count: Int): Seq[(Int, Int)] =
        Seq((0, count), (count - 1, count), (12345, 12346), (7, 7)) ++
          (1 to 40).map { _ =>
            val e0 = rnd.nextInt(count)
            (e0, e0 + rnd.nextInt(math.min(count - e0, 20000) + 1))
          }
      ranges(strs.length).foreach { case (e0, e1) =>
        assert(GdsCore.stringsRange(f, s, e0, e1).toSeq ==
          wholeS.slice(e0, e1), s"s[$e0,$e1)")
      }
      ranges(longs.length).foreach { case (e0, e1) =>
        assert(GdsCore.varintsRange(f, v, longs.length.toLong, e0, e1).toSeq ==
          wholeV.slice(e0, e1), s"v[$e0,$e1)")
      }
    } finally f.close()
  }

  test("fixed-width dFStr8 nodes decode whole and ranged") {
    // SNPRelate's default string storage is fixed-width NUL-padded
    // (stride = rawSize / count) — no element index needed, ranged
    // reads slice directly
    val vals = (0 until 500).map(i => s"c${i % 23}")
    val width = 8
    val payload = new Array[Byte](vals.length * width)
    vals.zipWithIndex.foreach { case (s, i) =>
      val b = s.getBytes("UTF-8")
      System.arraycopy(b, 0, payload, i * width, b.length)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_fstr").toString
    val c = new graft.sources.gds.GdsWrite.Container()
    val rootId = c.allocId()
    val node = c.node("dFStr8", Seq(vals.length), payload)
    c.folderAt(rootId, Seq((node, "fs", 0)))
    c.save(s"$dir/fs.gds", rootId)
    val f = new GdsFile(s"$dir/fs.gds")
    try {
      val n = f.root("fs")
      assert(GdsCore.strings(f, n).toSeq == vals)
      assert(GdsCore.stringsRange(f, n, 100, 130).toSeq ==
        vals.slice(100, 130))
      assert(GdsCore.stringsRange(f, n, 499, 500).toSeq == Seq(vals.last))
    } finally f.close()
  }

  test("ranged reads pull only the covering chunks' bytes from disk") {
    // the scale guarantee behind variant-range splits: decoding a small
    // slice of a big node must NOT read the node's whole compressed
    // stream from the file (one huge node would otherwise OOM or
    // serialize every executor)
    val f = new GdsFile(Fixtures.path("1KG_phase1_release_v3_chr22.gds"))
    try {
      val g = f.root("genotype")("data")
      val nS = 1092
      val streamLen = f.view(g.dataId).length
      // warm the chunk table + boundary knowledge so the measurement
      // sees steady-state ranged reads, not one-time index builds
      GdsCore.bit2Range(f, g, 0L, 64L)
      val before = GdsCore.fileBytesRead.get()
      // ~100 variants' worth of 2-bit units from the middle of the node
      val u0 = 9000L * nS * 2
      GdsCore.bit2Range(f, g, u0, u0 + 100L * nS * 2)
      val used = GdsCore.fileBytesRead.get() - before
      // the 1KG fixture packs this node into only 3 chunks — a ranged
      // read may touch at most one of them, never the whole stream
      assert(used < streamLen / 2,
        s"ranged decode read $used of $streamLen compressed bytes")
      assert(used > 0)
    } finally f.close()

    // strong bound on our own framing (128 KiB raw chunks), for EVERY
    // chunk codec: a 1000-int slice of a 1M-int node must read ~one
    // chunk, not the stream, and decode the exact values
    val dir = java.nio.file.Files.createTempDirectory("graft_rng").toString
    val payload = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < 1000000) { // varied ints so the codecs can't collapse them
      val v = i * 2654435761L
      payload.write((v & 0xff).toInt); payload.write(((v >> 8) & 0xff).toInt)
      payload.write(((v >> 16) & 0xff).toInt)
      payload.write(((v >> 24) & 0xff).toInt)
      i += 1
    }
    for (coder <- Seq("LZMA_ra", "ZIP_ra", "LZ4_ra")) {
      val path = s"$dir/big_$coder.gds"
      val c = new graft.sources.gds.GdsWrite.Container(coder)
      val rootId = c.allocId()
      val node = c.node("dInt32", Seq(1000000), payload.toByteArray)
      c.folderAt(rootId, Seq((node, "big", 0)))
      c.save(path, rootId)
      val f2 = new GdsFile(path)
      try {
        val n = f2.root("big")
        assert(n.coder.contains(coder), s"$coder not recorded")
        val streamLen = f2.view(n.dataId).length
        GdsCore.intsRange(f2, n, 0, 16) // warm chunk table + uniform probe
        val before = GdsCore.fileBytesRead.get()
        val got = GdsCore.intsRange(f2, n, 500000, 1000)
        val used = GdsCore.fileBytesRead.get() - before
        var k = 0
        while (k < 1000) {
          assert(got(k) == ((500000 + k) * 2654435761L).toInt, s"$coder@$k")
          k += 1
        }
        assert(used < streamLen / 8,
          s"$coder ranged decode read $used of $streamLen compressed bytes")
      } finally f2.close()
    }
  }
}
