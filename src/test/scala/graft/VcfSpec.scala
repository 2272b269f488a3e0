package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Vcf

/** Golden-value and round-trip tests for the VCF reader/writer, mirroring
  * the reference's import/export differential tests (seqVCF2GDS →
  * seqGDS2VCF digest compare, inst/unitTests/test_func.R + test_examples).
  * Exercises: chr-prefix strip, missing markers (.), multi-allelics,
  * phased/unphased GT, Flag / Number=1 / Number=A INFO, FORMAT fields,
  * and missing trailing FORMAT values. */
class VcfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val vcfText =
    """##fileformat=VCFv4.2
      |##INFO=<ID=AC,Number=A,Type=Integer,Description="alt counts">
      |##INFO=<ID=DB,Number=0,Type=Flag,Description="in db">
      |##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">
      |##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">
      |##FORMAT=<ID=DP,Number=1,Type=Integer,Description="sample depth">
      |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO	FORMAT	S1	S2	S3
      |chr1	100	rs1	A	C,G	29.5	PASS	AC=3,1;DB;DP=10	GT:DP	0/1:12	1|2:.	./.:7
      |1	200	.	T	G	.	q10	DP=5	GT	0|0	.	1/1""".stripMargin

  private def writeTemp(): String = {
    val p = Files.createTempFile("graft_test", ".vcf")
    Files.writeString(p, vcfText)
    p.toString
  }

  test("header parse: specs and samples") {
    val (info, fmt, samples) = Vcf.headerSpecs(vcfText.linesIterator.toSeq)
    assert(info.map(_.id) == Seq("AC", "DB", "DP"))
    assert(info.find(_.id == "AC").get.number == "A")
    assert(fmt.map(_.id) == Seq("GT", "DP"))
    assert(samples == Seq("S1", "S2", "S3"))
  }

  test("body parse golden values") {
    val df = Vcf.read(spark, writeTemp()).orderBy("pos")
    val r = df.collect()
    assert(r.length == 2)
    val v1 = r(0)
    assert(v1.getAs[String]("chrom") == "1")          // chr prefix stripped
    assert(v1.getAs[Int]("pos") == 100)
    assert(v1.getAs[String]("id") == "rs1")
    assert(v1.getAs[String]("ref") == "A")
    assert(v1.getAs[collection.Seq[String]]("alts") == Seq("C", "G"))
    assert(v1.getAs[String]("allele") == "A,C,G")
    assert(math.abs(v1.getAs[Float]("qual") - 29.5f) < 1e-6)
    assert(v1.getAs[String]("filter") == "PASS")
    assert(v1.getAs[collection.Seq[Int]]("info_AC") == Seq(3, 1))
    assert(v1.getAs[Boolean]("info_DB"))
    assert(v1.getAs[Int]("info_DP") == 10)
    assert(v1.getAs[collection.Seq[collection.Seq[Any]]]("geno") ==
      Seq(Seq(0L, 1L), Seq(1L, 2L), Seq(null, null)))
    assert(v1.getAs[collection.Seq[Boolean]]("phased") == Seq(false, true, false))
    assert(v1.getAs[collection.Seq[Any]]("fmt_DP") == Seq(12, null, 7))
    val v2 = r(1)
    assert(v2.getAs[String]("chrom") == "1")
    assert(v2.getAs[String]("id") == null)
    assert(v2.getAs[Any]("qual") == null)
    assert(!v2.getAs[Boolean]("info_DB"))
    assert(v2.getAs[Any]("info_AC") == null)
    assert(v2.getAs[collection.Seq[collection.Seq[Any]]]("geno") ==
      Seq(Seq(0L, 0L), Seq(null), Seq(1L, 1L)))    // lone "." → 1 null allele
    assert(v2.getAs[collection.Seq[Boolean]]("phased") == Seq(true, false, false))
  }

  test("plain gzip reads the same rows as plain text") {
    val text = Vcf.read(spark, writeTemp())
    // single-member gzip (not bgzf): one whole-file partition
    val gz = java.nio.file.Files.createTempFile("graft_test", ".vcf.gz")
    val os = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    os.write(vcfText.getBytes("UTF-8")); os.close()
    assert(!graft.sources.bcf.Bgzf.isBgzfFile(gz.toString))
    val viaGz = Vcf.read(spark, gz.toString)
    assert(viaGz.schema == text.schema)
    assert(viaGz.collect().toSeq == text.collect().toSeq &&
      viaGz.count() == 2)
  }

  test("DSv2 multi-path load and header-mismatch validation") {
    // Spark encodes load(a, b) as a JSON-array `paths` option.
    val p1 = writeTemp()
    val p2 = writeTemp()
    val both = spark.read.format("vcf").load(p1, p2)
    assert(both.count() == 4)
    // A file whose header declares different samples must fail fast, not
    // be silently misparsed under the first file's specs.
    val bad = vcfText.replace("S1\tS2\tS3", "S1\tS2\tS3\tS4")
      .replace("0/1:12\t1|2:.\t./.:7", "0/1:12\t1|2:.\t./.:7\t0/0:1")
      .replace("0|0\t.\t1/1", "0|0\t.\t1/1\t0/0")
    val pBad = Files.createTempFile("graft_bad", ".vcf")
    Files.writeString(pBad, bad)
    val e = intercept[Exception] {
      spark.read.format("vcf").load(p1, pBad.toString).collect()
    }
    assert(e.getMessage.contains("header mismatch"))
  }

  test("splittable scan: byte-range partitions equal the single-partition parse") {
    // a larger plain-text VCF: the real CEU fixture, decompressed
    val src = Fixtures.path("CEU_Exon.vcf.gz")
    val tmp = Files.createTempFile("graft_split", ".vcf")
    val in = new java.util.zip.GZIPInputStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(src)))
    java.nio.file.Files.copy(in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    in.close()
    val one = spark.read.format("vcf").load(tmp.toString)
    val split = spark.read.format("vcf")
      .option("splitSize", "65536")          // ~1.4 MB file → ~22 splits
      .load(tmp.toString)
    assert(split.rdd.getNumPartitions > 4,
      s"expected many splits, got ${split.rdd.getNumPartitions}")
    assert(one.count() == 1348 && split.count() == 1348)
    val a = one.select("chrom", "pos", "allele", "geno").collect()
      .map(_.toSeq).toSet
    val b = split.select("chrom", "pos", "allele", "geno").collect()
      .map(_.toSeq).toSet
    assert(a == b)
  }

  test("bgzf scan: compressed-range partitions equal the whole-file parse") {
    // CEU_Exon.vcf.gz is real bgzip output (~15 members of ~17 KB)
    val src = Fixtures.path("CEU_Exon.vcf.gz")
    assert(graft.sources.bcf.Bgzf.isBgzfFile(src))
    val one = spark.read.format("vcf").load(src)
      .select("chrom", "pos", "allele", "geno").collect().map(_.toSeq).toSet
    for (splitSize <- Seq(40000L, 17000L)) {
      val split = spark.read.format("vcf")
        .option("splitSize", splitSize.toString).load(src)
      assert(split.rdd.getNumPartitions > 3,
        s"expected >3 bgzf splits at $splitSize, got ${split.rdd.getNumPartitions}")
      val b = split.select("chrom", "pos", "allele", "geno").collect()
        .map(_.toSeq).toSet
      assert(b == one, s"bgzf split mismatch at splitSize=$splitSize")
    }
    // boundary stress: splitSize exactly equal to the first member size,
    // so the first range ends precisely on a block boundary
    val firstMember = graft.sources.bcf.Bgzf.findBlock(src, 1L)
    val exact = spark.read.format("vcf")
      .option("splitSize", firstMember.toString).load(src)
    assert(exact.select("chrom", "pos", "allele", "geno").collect()
      .map(_.toSeq).toSet == one)
  }

  test("plain split boundary exactly on a line start loses no rows") {
    // craft a file where a data line starts exactly at the split boundary
    val header = "##fileformat=VCFv4.2\n" +
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"g\">\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
    val line = "1\t%07d\t.\tA\tC\t10\tPASS\t.\tGT\t0/1\n"
    val body = (1 to 200).map(i => line.format(i)).mkString
    val p = Files.createTempFile("graft_edge", ".vcf")
    Files.writeString(p, header + body)
    val lineBytes = line.format(1).getBytes("UTF-8").length
    // boundary at header + k whole lines == a line start
    val splitSize = header.getBytes("UTF-8").length + 7 * lineBytes
    val df = spark.read.format("vcf")
      .option("splitSize", splitSize.toString).load(p.toString)
    assert(df.rdd.getNumPartitions > 10)
    assert(df.count() == 200)
    assert(df.select("pos").collect().map(_.getInt(0)).toSet ==
      (1 to 200).toSet)
  }

  test("DSv2 column pruning reaches the vcf scan (no GT parse for chrom/pos)") {
    val src = Fixtures.path("CEU_Exon.vcf.gz")
    val df = spark.read.format("vcf").load(src).select("chrom", "pos")
    // the scan itself must emit only the pruned columns — the genotype
    // tokenizer and INFO regexes are gone from the physical plan
    val scanSchemas = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema().fieldNames.toSeq
    }
    assert(scanSchemas.nonEmpty && scanSchemas.head == Seq("chrom", "pos"),
      scanSchemas.toString)
    assert(df.count() == 1348)
    assert(df.distinct().count() > 1000)
    // count(*) keeps one column flowing
    assert(spark.read.format("vcf").load(src).count() == 1348)
  }

  test("header reconstruction round-trips through the header parser") {
    val (info, fmt, samples) = Vcf.headerSpecs(vcfText.linesIterator.toSeq)
    val rebuilt = Vcf.formatHeader(info, fmt, samples)
    val (info2, fmt2, samples2) = Vcf.headerSpecs(rebuilt)
    assert(info2 == info && fmt2 == fmt && samples2 == samples)
    // full-file round trip: header + body → read → same rows
    val full = (rebuilt ++ vcfText.linesIterator.filterNot(_.startsWith("#")))
      .mkString("\n")
    val p = java.nio.file.Files.createTempFile("graft_full", ".vcf")
    java.nio.file.Files.writeString(p, full)
    val a = Vcf.read(spark, p.toString).collect().map(_.toSeq).toSet
    val b = Vcf.read(spark, writeTemp()).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("format → parse round-trip is lossless on core fields") {
    val parsed = Vcf.read(spark, writeTemp())
    val lines = Vcf.formatLines(parsed,
      when(col("info_DP").isNotNull,
        concat(lit("DP="), col("info_DP").cast("string"))))
    val reparsed = Vcf.parseLines(lines,
      Seq(Vcf.FieldSpec("DP", "1", "Integer")), Nil, nSamples = 3)
    val proj = Seq("chrom", "pos", "id", "allele", "filter", "info_DP")
    val a = parsed.selectExpr(proj: _*).collect().map(_.toSeq).toSet
    val b = reparsed.selectExpr(proj: _*).collect().map(_.toSeq).toSet
    assert(a == b)
    // genotype cube survives including phase and missing
    val ga = parsed.select(col("geno"), col("phased")).collect().map(_.toSeq).toSet
    val gb = reparsed.select(col("geno"), col("phased")).collect().map(_.toSeq).toSet
    assert(ga == gb)
  }

  test("BIGINT info export renders while values fit, raises past 32-bit") {
    import spark.implicits._
    // wide-stored GDS nodes surface as LongType; VCF Integer is 32-bit
    val ok = Seq((1L, Option(7L)), (2L, Option.empty[Long]),
      (3L, Option(-5L))).toDF("variant_id", "info_BIG")
    val txt = ok.orderBy("variant_id").select(Vcf.infoExprFor(ok).as("i"))
      .collect().map(r => Option(r.getString(0)).getOrElse("."))
    assert(txt.toSeq == Seq("BIG=7", ".", "BIG=-5"))
    assert(Vcf.infoSpecsFor(ok.schema) ==
      Seq(Vcf.FieldSpec("BIG", "1", "Integer")))
    val bad = Seq((1L, 5000000000L)).toDF("variant_id", "info_BIG")
    val e = intercept[Exception] {
      bad.select(Vcf.infoExprFor(bad).as("i")).collect()
    }
    assert(e.getMessage.contains("32-bit"),
      s"expected the range-guard message, got: ${e.getMessage}")
  }

  // ---- fixture-free bgzf scans ---------------------------------------------

  private val header = vcfText.linesIterator.takeWhile(_.startsWith("#")).toSeq

  /** Seeded body lines in vcfText's layout; ~5,000 make a few hundred KB
    * of text, several 64 KiB BGZF members. */
  private def body(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val cells = Seq.fill(3)(s"${rnd.nextInt(3)}${if (rnd.nextBoolean()) "|"
        else "/"}${rnd.nextInt(3)}:${rnd.nextInt(50)}")
      (Seq(s"chr${1 + i % 3}", (i * 10).toString, s"rs$i", "A", "C,G",
        rnd.nextInt(100).toString, "PASS",
        s"AC=${rnd.nextInt(9)},${rnd.nextInt(9)};DP=${rnd.nextInt(99)}",
        "GT:DP") ++ cells).mkString("\t")
    }
  }

  private def bgzfVcf(path: java.nio.file.Path, lines: Seq[String]): String = {
    val w = new graft.sources.bcf.Bgzf.Writer(Files.newOutputStream(path))
    try w.write((header ++ lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally w.close()
    path.toString
  }

  test("bgzf splits equal the whole-file read at several split sizes") {
    val src = bgzfVcf(Files.createTempFile("graft_bgzf", ".vcf.gz"),
      body(5000, 91L))
    val len = Files.size(java.nio.file.Paths.get(src))
    val firstMember = graft.sources.bcf.Bgzf.findBlock(src, 1L)
    assert(firstMember * 3 < len, s"want several members: $firstMember/$len")
    val whole = spark.read.format("vcf").load(src)
    assert(whole.rdd.getNumPartitions == 1)
    val rows = whole.collect().toSeq
    assert(rows.length == 5000)
    // one row per line, in file order, through every split layout; the
    // first-member size puts a range end exactly on a member boundary
    for (splitSize <- Seq(firstMember, firstMember / 3, 17000L, 40000L)) {
      val split = spark.read.format("vcf")
        .option("splitSize", splitSize.toString).load(src)
      assert(split.rdd.getNumPartitions > 2, s"splitSize=$splitSize")
      val got = split.collect().toSeq
      val same = got == rows // kept out of the assert: no row dump
      assert(same, s"splitSize=$splitSize: ${got.length} rows")
    }
  }

  test("a directory of .vcf.gz shards reads as its single file") {
    val lines = body(900, 92L)
    val dir = Files.createTempDirectory("graft_vcf_shards")
    lines.grouped(300).zipWithIndex.foreach { case (part, i) =>
      bgzfVcf(dir.resolve(f"part-$i%05d.vcf.gz"), part)
    }
    Files.writeString(dir.resolve("_manifest.json"), "[]")
    val whole = bgzfVcf(Files.createTempFile("graft_vcf_whole", ".vcf.gz"),
      lines)
    val shards = Vcf.read(spark, dir.toString)
    assert(shards.rdd.getNumPartitions == 3)
    val same = shards.collect().toSeq == Vcf.read(spark, whole).collect().toSeq
    assert(same)
  }

  test("a blank body line yields no row") {
    // the text-scan reader used to parse each blank line into a
    // null-padded row; the vcf source skips them
    val p = Files.createTempFile("graft_blank", ".vcf")
    Files.writeString(p, vcfText.replace("\n1\t200", "\n\n1\t200") + "\n\n")
    val rows = Vcf.read(spark, p.toString).collect()
    assert(rows.length == 2 && rows.forall(_.getAs[Any]("pos") != null))
  }

  test("a truncated small bgzf VCF raises naming the file and member") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val whole = Files.readAllBytes(java.nio.file.Paths.get(
      bgzfVcf(Files.createTempFile("graft_bgzf_full", ".vcf.gz"),
        body(2000, 93L))))
    // cut 40 bytes into the second member (the header is in the first)
    val second =
      ((whole(16) & 0xff) | ((whole(17) & 0xff) << 8)) + 1
    assert(second + 40 < whole.length - 28, "want a second member")
    val cut = Files.createTempFile("graft_bgzf_cut", ".vcf.gz")
    Files.write(cut, java.util.Arrays.copyOf(whole, second + 40))
    // far below one split: this used to be a whole-file GZIPInputStream
    val e = intercept[Exception] {
      Await.result(Future(Vcf.read(spark, cut.toString).count()), 60.seconds)
    }
    val msg = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msg.contains(cut.toString) && msg.contains(s"offset $second"), msg)
  }
}
