package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Vcf
import graft.sources.bcf.{Bcf, Bgzf, Csi}

/** BCF2.2 round trip on the real reference fixture: CEU_Exon.vcf.gz →
  * BCF (our writer, BGZF-framed) → Bcf.read must equal Vcf.read of the
  * original — covering typed-vector encoding, GT phase bits, missing
  * sentinels, Flags, ragged INFO and per-sample fields. */
class BcfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def vcf = Fixtures.path("CEU_Exon.vcf.gz")

  test("vcf -> bcf -> read equals the direct vcf parse (CEU fixture)") {
    val bcfPath = java.nio.file.Files
      .createTempFile("graft_ceu", ".bcf").toString
    Bcf.writeFromVcf(vcf, bcfPath)
    val viaBcf = Bcf.read(spark, bcfPath)
    val direct = Vcf.read(spark, vcf)
    assert(viaBcf.count() == 1348)
    assert(viaBcf.schema == direct.schema)
    val a = viaBcf.collect().map(_.toSeq).toSet
    val b = direct.collect().map(_.toSeq).toSet
    assert((a diff b).isEmpty && (b diff a).isEmpty,
      s"bcf differs: ${(a diff b).take(1)} vs ${(b diff a).take(1)}")
  }

  test("csi-planned byte-range splits equal the single-partition scan") {
    val bcfPath = java.nio.file.Files
      .createTempFile("graft_split", ".bcf").toString
    Bcf.writeFromVcf(vcf, bcfPath) // writes bcfPath + ".csi" alongside
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(bcfPath + ".csi")))
    // tiny split budget → many record-aligned ranges; every range
    // decodes independently (BlockStream seek, no upstream inflate)
    val split = Bcf.read(spark, bcfPath, splitBytes = 8 * 1024)
    assert(split.rdd.getNumPartitions > 1,
      "csi split planning produced a single partition")
    val whole = Bcf.read(spark, bcfPath, splitBytes = Long.MaxValue)
    assert(split.count() == 1348)
    val a = split.collect().map(_.toSeq).toSet
    val b = whole.collect().map(_.toSeq).toSet
    assert((a diff b).isEmpty && (b diff a).isEmpty,
      s"split scan differs: ${(a diff b).take(1)} vs ${(b diff a).take(1)}")
  }

  test("index-less bcf: csi built on first read, splits equal whole scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_noidx")
    val bcfPath = s"$dir/noidx.bcf"
    Bcf.writeFromVcf(vcf, bcfPath)
    java.nio.file.Files.delete(java.nio.file.Paths.get(bcfPath + ".csi"))
    // first read builds the index by one prologue pass — the scan must
    // still split into byte ranges, and persist the csi for next time
    val split = Bcf.read(spark, bcfPath, splitBytes = 8 * 1024)
    assert(split.rdd.getNumPartitions > 1,
      "index-less bcf read did not range-split")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(bcfPath + ".csi")),
      "first read did not persist the built csi")
    val whole = Bcf.read(spark, bcfPath, splitBytes = Long.MaxValue)
    val a = split.collect().map(_.toSeq).toSet
    val b = whole.collect().map(_.toSeq).toSet
    assert(a.size == 1348 && (a diff b).isEmpty && (b diff a).isEmpty)
    // the self-built index carries the same record starts the writer's
    // own csi would have (identical writer + input ⇒ identical layout)
    val twin = s"$dir/twin.bcf"
    Bcf.writeFromVcf(vcf, twin)
    assert(Csi.recordStarts(bcfPath + ".csi").toSeq ==
      Csi.recordStarts(twin + ".csi").toSeq)
  }

  test("csi reader agrees with an htslib-written index (VCF fixture)") {
    // The reference ships CEU_Exon.vcf.gz.csi written by htslib. Every
    // chunk begin must be a record-aligned virtual offset — i.e. land
    // exactly on a data-line start of the bgzipped VCF.
    val starts = Csi.recordStarts(vcf + ".csi")
    assert(starts.nonEmpty)
    val lineStarts = scala.collection.mutable.Set.empty[Long]
    val bs = new Bgzf.BlockStream(vcf, 0L)
    try {
      var atLineStart = true
      var v = bs.virtualPos
      var c = bs.read()
      while (c >= 0) {
        if (atLineStart) lineStarts += v
        atLineStart = c == '\n'
        v = bs.virtualPos
        c = bs.read()
      }
    } finally bs.close()
    val misses = starts.filterNot(lineStarts.contains)
    assert(misses.isEmpty,
      s"${misses.length} csi chunk begins are not line starts: " +
        misses.take(3).mkString(","))
  }

  test("bcf prologue and bgzf framing") {
    val bcfPath = java.nio.file.Files
      .createTempFile("graft_hdr", ".bcf").toString
    Bcf.writeFromVcf(vcf, bcfPath)
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(bcfPath))
    // gzip magic + BGZF BC extra subfield marker
    assert((raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b)
    assert(raw(12) == 'B' && raw(13) == 'C')
    // trailing htslib EOF block
    val eof = graft.sources.bcf.Bgzf.EofBlock
    assert(raw.takeRight(eof.length).sameElements(eof))
    val (header, lines) = Bcf.open(bcfPath)
    assert(header.exists(_.startsWith("#CHROM")))
    assert(header.exists(_.startsWith("##contig=<ID=")))
    val first = lines.next()
    assert(first.startsWith("1\t1105366\trs111751804\tT\tC"))
  }

  test("parallel BGZF writer emits byte-identical output to the serial") {
    // members are independent deflate streams, so batching them across
    // cores must not change a single byte — spanning several 64 KiB
    // blocks plus a partial tail
    val rnd = new scala.util.Random(7)
    val payload = new Array[Byte](5 * 64 * 1024 + 12345)
    rnd.nextBytes(payload)
    // compressible stretches too, not only incompressible noise
    java.util.Arrays.fill(payload, 100000, 200000, 'a'.toByte)
    def through(mk: java.io.OutputStream => java.io.OutputStream)
        : Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val w = mk(bos)
      var off = 0
      while (off < payload.length) { // varied write sizes
        val len = math.min(1 + (off % 7919), payload.length - off)
        w.write(payload, off, len)
        off += len
      }
      w.close()
      bos.toByteArray
    }
    val serial = through(new graft.sources.bcf.Bgzf.Writer(_))
    val parallel =
      through(new graft.sources.bcf.Bgzf.ParallelWriter(_, batch = 3))
    assert(java.util.Arrays.equals(serial, parallel))
  }
}
