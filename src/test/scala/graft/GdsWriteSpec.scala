package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.gds.{Gds, GdsWrite}

/** GDS write path: containers we emit must parse back through the SAME
  * reader that round-trips the reference's own fixtures, with identical
  * rows. CEU (real data: multi-allelics, missing calls, '.' ids, ragged
  * filters) is the main oracle; a synthetic 5-allele cube forces the
  * multi-plane (np=2) genotype encoding. */
class GdsWriteSpec extends AnyFunSuite {


  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val core = Seq("variant_id", "chrom", "pos", "id", "allele",
    "qual", "filter", "geno", "phased")

  test("two-level variant numbering equals the global-window numbering") {
    import org.apache.spark.sql.expressions.Window
    // adversarial layout: interleaved chroms, repeated positions (ties
    // broken by allele then id), rows arriving in scrambled order, and a
    // tiny bucket so many buckets exist per chrom
    val src = spark.range(3000).select(
      concat(lit("chr"), col("id") % 4).as("chrom"),
      (col("id") * 131 % 500).cast("int").as("pos"),
      concat(lit("A,"), when(col("id") % 3 === 0, "C")
        .when(col("id") % 3 === 1, "G").otherwise("T")).as("allele"),
      concat(lit("rs"), col("id")).as("id"),
      lit(0L).as("variant_id"))
      .repartition(7)
    val fast = graft.api.SeqArray.numberVariants(src, bucket = 16L)
    val slow = src.withColumn("variant_id",
      row_number().over(Window.orderBy(col("chrom"), col("pos"),
        col("allele"), col("id"))).cast("long"))
    // compare (key → id) maps: tie groups (identical sort keys) may
    // permute ids within the group, so compare the sorted id multiset
    // per distinct key — both numberings must agree there
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("chrom", "pos", "allele", "id")
        .agg(sort_array(collect_list("variant_id")).as("vids"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getString(3)) -> r.getSeq[Long](4)).toMap
    assert(keyed(fast) == keyed(slow))
    // and the full numbering is a permutation of 1..n
    assert(fast.select("variant_id").collect().map(_.getLong(0)).sorted
      .sameElements(1L to 3000L))
  }

  test("CEU read → write → read round-trips every core column") {
    val src = Gds.read(spark, Fixtures.path("CEU_Exon.gds"))
      .select(core.map(col): _*)
    val samples = Gds.samples(spark, Fixtures.path("CEU_Exon.gds"))
      .orderBy("sample_ordinal").collect().map(_.getString(1)).toSeq
    val out = java.nio.file.Files
      .createTempDirectory("graft_gdsw").toString + "/ceu.gds"
    GdsWrite.write(src, samples, out)

    val back = Gds.read(spark, out).select(core.map(col): _*)
    assert(back.count() == 1348)
    assert(back.exceptAll(src).count() == 0)
    assert(src.exceptAll(back).count() == 0)
    assert(Gds.samples(spark, out).orderBy("sample_ordinal")
      .collect().map(_.getString(1)).toSeq == samples)
  }

  test("seqApplyToGds: per-variant apply result lands as a new " +
      "annotation/info node and reads back exactly") {
    // the as.is="gdsn" analog: an AC-style derived value computed over
    // the handle streams into annotation/info/MYAC of a fresh container
    val d = graft.api.SeqArray.openGds(spark, Fixtures.path("CEU_Exon.gds"))
    val out = java.nio.file.Files
      .createTempDirectory("graft_gdsn").toString + "/applied.gds"
    val ac = graft.functions.genetics.alleleCount(
      org.apache.spark.sql.functions.col("geno"),
      org.apache.spark.sql.functions.lit(0))
    graft.api.SeqArray.seqApplyToGds(d, "MYAC", ac, out)
    val back = Gds.read(spark, out)
    assert(back.columns.contains("info_MYAC"))
    // node values == recomputing the expression on the ORIGINAL handle
    val expected = d.variants.select(col("variant_id"), ac.as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = back.select(col("variant_id"), col("info_MYAC"))
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue)
    assert(got.length == 1348)
    got.foreach { case (vid, v) => assert(v == expected(vid), s"vid=$vid") }
    // and the container still audits clean
    assert(Gds.check(spark, out).filter(!col("ok")).count() == 0)
  }

  test("5-allele cube forces two genotype bit-planes and round-trips") {
    import spark.implicits._
    // codes up to 4 ⇒ missing sentinel must move to 15 (np=2)
    val df = Seq(
      (1L, "c1", 100, Seq(Seq[java.lang.Long](0L, 4L),
        Seq[java.lang.Long](3L, null), Seq[java.lang.Long](2L, 2L)),
        Seq(true, false, true)),
      (2L, "c1", 200, Seq(Seq[java.lang.Long](1L, 1L),
        Seq[java.lang.Long](null, null), Seq[java.lang.Long](4L, 0L)),
        Seq(false, false, false)),
      (3L, "c2", 300, Seq(Seq[java.lang.Long](0L, 0L),
        Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L)),
        Seq(true, true, false)))
      .toDF("variant_id", "chrom", "pos", "geno", "phased")
      .withColumn("allele", lit("A,C,G,T,TT"))
      .withColumn("id", concat(lit("rs"), col("variant_id")))
      .withColumn("qual",
        when(col("variant_id") === 2, lit(null: java.lang.Float))
          .otherwise((col("variant_id") * 10).cast("float")))
      .withColumn("filter",
        when(col("variant_id") === 3, lit(null: String)).otherwise(lit("PASS")))
      .select(core.map(col): _*)
    val out = java.nio.file.Files
      .createTempDirectory("graft_gdsw").toString + "/multi.gds"
    GdsWrite.write(df, Seq("S1", "S2", "S3"), out)
    val back = Gds.read(spark, out).select(core.map(col): _*)
    assert(back.count() == 3)
    assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)

    // packed lane on the UNALIGNED case (3 samples, np=2 rows): the
    // general bit-walk must agree with pack_2b of the materialized cube
    import graft.functions.genetics.pack2b
    val viaPg = spark.read.format("gds").option("packed", "true").load(out)
      .select(col("variant_id"), col("pg"))
    val viaCube = Gds.read(spark, out)
      .select(col("variant_id"), pack2b(col("geno")).as("pg"))
    assert(viaPg.exceptAll(viaCube).count() == 0 &&
      viaCube.exceptAll(viaPg).count() == 0)
  }

  test("ZIP_ra / LZ4_ra / LZMA_ra codings all round-trip the CEU VCF") {
    // seqStorageOption's own default is ZIP_ra (R/Utilities.R:250-252);
    // a converted container in every supported coding must scan
    // identical to the CEU_Exon.vcf.gz parse (the reference's oracle
    // pairing), and its coder strings must name the requested codec
    import graft.sources.Vcf
    import org.apache.spark.sql.expressions.Window
    val vcf = Vcf.read(spark, Fixtures.path("CEU_Exon.vcf.gz"))
    val cols = Seq("chrom", "pos", "id", "allele", "qual", "filter",
      "geno", "phased")
    val src = vcf.select(
      row_number().over(Window.orderBy("chrom", "pos", "allele"))
        .cast("long").as("variant_id") +: cols.map(col): _*)
    // the two CEU fixtures share the same cohort → same sample axis
    val samples = Gds.samples(spark, Fixtures.path("CEU_Exon.gds"))
      .orderBy("sample_ordinal").collect().map(_.getString(1)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_coders").toString
    for (coder <- Seq("ZIP_ra", "LZ4_ra", "LZMA_ra")) {
      val out = s"$dir/ceu_$coder.gds"
      GdsWrite.write(src, samples, out, storage = coder)
      val back = Gds.read(spark, out).select(cols.map(col): _*)
      val orig = vcf.select(cols.map(col): _*)
      assert(back.count() == 1348, coder)
      assert(back.exceptAll(orig).count() == 0 &&
        orig.exceptAll(back).count() == 0, s"$coder scan != vcf parse")
      assert(Gds.check(spark, out).filter(!col("ok")).count() == 0, coder)
      // the big nodes really carry the requested coder
      val coders = Gds.check(spark, out)
        .filter(col("node") === "genotype/data")
        .select("coder").collect().map(_.getString(0))
      assert(coders.forall(_ == coder), s"$coder: ${coders.mkString(",")}")
    }
  }

  test("triploid 0/0/1 calls overflow into genotype/extra and round-trip") {
    import spark.implicits._
    import graft.sources.gds.GdsCore
    // reference layout (Tutorial.Rmd:149-150): first `ploidy` alleles in
    // the planes, the rest in genotype/extra, indexed by an [N,3] matrix
    // of (sample 1-based, variant 1-based, count)
    val df = Seq(
      (1L, "c1", 100, Seq(Seq[java.lang.Long](0L, 0L, 1L), // triploid
        Seq[java.lang.Long](0L, 1L), Seq[java.lang.Long](1L, 1L)),
        Seq(true, false, true)),
      (2L, "c1", 200, Seq(Seq[java.lang.Long](0L, 0L),
        Seq[java.lang.Long](0L, 0L, 1L, 1L), // tetraploid
        Seq[java.lang.Long](null, null)),
        Seq(false, true, false)),
      (3L, "c2", 300, Seq(Seq[java.lang.Long](1L), // haploid → pads
        Seq[java.lang.Long](0L, 1L), Seq[java.lang.Long](0L, 0L)),
        Seq(false, false, false)))
      .toDF("variant_id", "chrom", "pos", "geno", "phased")
      .withColumn("allele", lit("A,C"))
    val out = java.nio.file.Files
      .createTempDirectory("graft_extra").toString + "/tri.gds"
    GdsWrite.write(df, Seq("S1", "S2", "S3"), out)

    // container-level layout check via the core reader
    val f = new GdsCore.GdsFile(out)
    try {
      val g = f.root("genotype")
      assert(g("data").dims == Seq(3, 3, 2), "ploidy must freeze at 2")
      assert(g("extra.index").dims == Seq(2, 3))
      assert(GdsCore.ints(f, g("extra.index")).toSeq ==
        Seq(1, 1, 1, 2, 2, 2))
      assert(GdsCore.ints(f, g("extra")).toSeq == Seq(1, 1, 1))
      assert(f.root("phase")("extra.index").dims == Seq(2, 3))
    } finally f.close()

    val back = Gds.read(spark, out)
      .select("variant_id", "geno", "phased").collect()
      .map(r => (r.getLong(0), r.getSeq[scala.collection.Seq[Any]](1)
        .map(_.toSeq), r.getSeq[Boolean](2).toSeq))
      .sortBy(_._1)
    assert(back(0)._2 == Seq(Seq(0L, 0L, 1L), Seq(0L, 1L), Seq(1L, 1L)))
    assert(back(1)._2 == Seq(Seq(0L, 0L), Seq(0L, 0L, 1L, 1L),
      Seq(null, null)))
    // haploid call pads to (1, missing) — the in-plane NA code
    assert(back(2)._2 == Seq(Seq(1L, null), Seq(0L, 1L), Seq(0L, 0L)))
    assert(back.map(_._3).toSeq == Seq(Seq(true, false, true),
      Seq(false, true, false), Seq(false, false, false)))
    assert(Gds.check(spark, out).filter(!col("ok")).count() == 0)
  }

  test("packedreal16 DS matrix round-trips and feeds the DS kernels") {
    import spark.implicits._
    // the reference's default imputation-dosage storage
    // ("packedreal16:offset=0,scale=0.0001", ConvVCF2GDS.R:577-583):
    // values on the 1e-4 grid survive the int16 quantization exactly
    val nS = 5
    val src = (1 to 60).map { v =>
      val ds = (0 until nS).map { s =>
        if ((v + s) % 7 == 0) null
        else java.lang.Float.valueOf(
          (((v * 13 + s * 31) % 20001) * 0.0001).toFloat)
      }
      (v.toLong, "c1", v * 10, "A,C", ds)
    }.toDF("variant_id", "chrom", "pos", "allele", "fmt_DS")
    val out = java.nio.file.Files
      .createTempDirectory("graft_ds16").toString + "/ds16.gds"
    GdsWrite.write(src, (1 to nS).map("S" + _), out, dsType = "packedreal16")
    val audit = Gds.check(spark, out)
    assert(audit.filter(col("node") === "annotation/format/DS/data")
      .select("cls").collect()(0).getString(0) == "dPackedReal16")
    assert(audit.filter(!col("ok")).count() == 0)
    val back = Gds.read(spark, out).select("variant_id", "fmt_DS")
    val orig = src.select("variant_id", "fmt_DS")
    assert(back.count() == 60)
    assert(back.exceptAll(orig).count() == 0 &&
      orig.exceptAll(back).count() == 0)
    // the dosage-fallback kernels consume the packed node's decode
    import graft.functions.genetics.{dsAltFreq, dsCalled}
    val stats = Gds.read(spark, out)
      .select(dsAltFreq(col("fmt_DS")).as("af"),
        dsCalled(col("fmt_DS")).as("nc"))
      .agg(min(col("af")), max(col("af")), min(col("nc"))).collect()(0)
    assert(stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 1.0001)
    assert(stats.getInt(2) > 0)
  }

  test("seqCheck audit: every node of the fixtures and of our output decodes") {
    for (p <- Seq(Fixtures.path("CEU_Exon.gds"),
        Fixtures.path("Imputed_dosages.gds"))) {
      val audit = Gds.check(spark, p)
      val bad = audit.filter(!col("ok")).collect()
      assert(bad.isEmpty, s"$p: ${bad.mkString(";")}")
      assert(audit.filter(col("node") === "genotype/data" ||
        col("node") === "sample.id").count() >= 1)
    }
    // our own writer's output passes the same audit
    val src = Gds.read(spark, Fixtures.path("CEU_Exon.gds"))
      .select(core.map(col): _*)
    val samples = Gds.samples(spark, Fixtures.path("CEU_Exon.gds"))
      .orderBy("sample_ordinal").collect().map(_.getString(1)).toSeq
    val out = java.nio.file.Files
      .createTempDirectory("graft_gdsw").toString + "/chk.gds"
    GdsWrite.write(src, samples, out)
    assert(Gds.check(spark, out).filter(!col("ok")).count() == 0)
    // a corrupted genotype stream is caught, not silently decoded
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    var i = bytes.length / 2
    while (i < bytes.length / 2 + 64) { bytes(i) = 0x5a; i += 1 }
    val bad = out + ".corrupt"
    java.nio.file.Files.write(java.nio.file.Paths.get(bad), bytes)
    val corrupt = try {
      Gds.check(spark, bad).filter(!col("ok")).count() > 0
    } catch { case _: Exception => true } // container layer may throw first
    assert(corrupt)
  }

  test("seqRecompress re-codes CEU to ZIP with identical rows") {
    import graft.api.SeqArray
    val out = java.nio.file.Files
      .createTempDirectory("graft_recmp").toString + "/ceu_zip.gds"
    SeqArray.seqRecompress(spark, Fixtures.path("CEU_Exon.gds"), out, "ZIP")
    val src = Gds.read(spark, Fixtures.path("CEU_Exon.gds"))
    val back = Gds.read(spark, out)
    val cols = src.columns.toSet.intersect(back.columns.toSet).toSeq.sorted
    assert(cols.contains("geno") && cols.exists(_.startsWith("info_")))
    val a = back.select(cols.map(col): _*)
    val b = src.select(cols.map(col): _*)
    assert(a.count() == 1348)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // the big nodes really re-coded to zlib chunks
    val coders = Gds.check(spark, out)
      .filter(col("node") === "genotype/data")
      .select("coder").collect().map(_.getString(0))
    assert(coders.forall(_ == "ZIP_ra"), coders.mkString(","))
  }

  test("zero-variant container (seqEmptyFile) round-trips") {
    import spark.implicits._
    val src = Seq.empty[(Long, String, Int, String,
        Seq[Seq[java.lang.Long]], Seq[Boolean])]
      .toDF("variant_id", "chrom", "pos", "allele", "geno", "phased")
    val out = java.nio.file.Files
      .createTempDirectory("graft_empty").toString + "/empty.gds"
    GdsWrite.write(src, Seq("S1", "S2"), out)
    val back = Gds.read(spark, out)
    assert(back.count() == 0)
    assert(Gds.samples(spark, out).count() == 2)
    assert(Gds.check(spark, out).filter(!col("ok")).count() == 0)
  }

  test("written container parses with the independent python decoder") {
    // the scripts/gds_read.py layer decoder recovered the format from
    // the reference fixtures; our containers must satisfy it too
    val src = Gds.read(spark, Fixtures.path("CEU_Exon.gds"))
      .select(core.map(col): _*).limit(10)
    val samples = Gds.samples(spark, Fixtures.path("CEU_Exon.gds"))
      .orderBy("sample_ordinal").collect().map(_.getString(1)).toSeq
    val out = java.nio.file.Files
      .createTempDirectory("graft_gdsw").toString + "/py.gds"
    GdsWrite.write(src, samples, out)
    val py = new ProcessBuilder("python3", "-c",
      s"""
import sys
sys.path.insert(0, '/root/repo/scripts')
from gds_read import streams, folder_children
data = open('$out','rb').read()
ss = streams(data)
kids = folder_children(ss[1])
names = [k['name'] for k in kids]
assert 'variant.id' in names and 'genotype' in names, names
print('OK', len(names))
""").redirectErrorStream(true).start()
    val outTxt = scala.io.Source.fromInputStream(py.getInputStream).mkString
    assert(py.waitFor() == 0 && outTxt.contains("OK"), outTxt)
  }

  test("every fixed-stride storage class round-trips whole and ranged") {
    import graft.sources.gds.GdsCore
    val dir = java.nio.file.Files
      .createTempDirectory("graft_classes").toString

    // ---- integer classes: full signed/unsigned width matrix ----------
    val intCases: Seq[(String, Int, Seq[Long])] = Seq(
      ("dInt8", 1, Seq(-128L, -1L, 0L, 1L, 127L)),
      ("dUInt8", 1, Seq(0L, 1L, 200L, 255L)),
      ("dInt16", 2, Seq(-32768L, -300L, 0L, 300L, 32767L)),
      ("dUInt16", 2, Seq(0L, 1L, 40000L, 65535L)),
      ("dInt32", 4, Seq(Int.MinValue.toLong, -7L, 0L, 7L, Int.MaxValue.toLong)),
      ("dUInt32", 4, Seq(0L, 1L, 2000000000L)),
      ("dInt64", 8, Seq(-2000000000L, -1L, 0L, 1L, 2000000000L)),
      ("dUInt64", 8, Seq(0L, 1L, 2000000000L)))
    for ((cls, w, base) <- intCases) {
      val vs = base ++ base ++ base // >1 element per ranged slice
      val path = s"$dir/int_$cls.gds"
      val c = new GdsWrite.Container()
      val rootId = c.allocId()
      val node = c.node(cls, Seq(vs.length), GdsWrite.intPayloadW(vs, w))
      c.folderAt(rootId, Seq((node, "v", 0)))
      c.save(path, rootId)
      val f = new GdsCore.GdsFile(path)
      try {
        val n = f.root("v")
        assert(GdsCore.ints(f, n).toSeq == vs.map(_.toInt), s"$cls whole")
        assert(GdsCore.intsRange(f, n, base.length.toLong, base.length)
          .toSeq == base.map(_.toInt), s"$cls ranged")
      } finally f.close()
    }

    // ---- float classes: plain + all packed widths, NaN sentinel ------
    val fCases: Seq[(String, Option[(Double, Int, Boolean)], Seq[Float])] =
      Seq(
        ("dFloat32", None, Seq(0f, -1.5f, 2.25f, Float.NaN, 1e30f)),
        ("dFloat64", None, Seq(0f, -1.5f, 2.25f, Float.NaN, 1e30f)),
        ("dPackedReal8", Some((0.02, 1, false)),
          Seq(0f, -1.5f, 2.24f, Float.NaN)),
        ("dPackedReal8U", Some((0.02, 1, true)),
          Seq(0f, 1.5f, 2.24f, Float.NaN)),
        ("dPackedReal16", Some((0.0001, 2, false)),
          Seq(0f, -1.5f, 2.2437f, Float.NaN)),
        ("dPackedReal16U", Some((0.0001, 2, true)),
          Seq(0f, 1.5f, 2.2437f, Float.NaN)),
        ("dPackedReal24", Some((0.0001, 3, false)),
          Seq(0f, -100.5f, 2.2437f, Float.NaN)),
        ("dPackedReal24U", Some((0.0001, 3, true)),
          Seq(0f, 100.5f, 2.2437f, Float.NaN)),
        ("dPackedReal32", Some((0.00001, 4, false)),
          Seq(0f, -100.5f, 2.24371f, Float.NaN)),
        // 30000/1e-5 = 3e9 > 2^31: the unsigned 32-bit code range above
        // Int.MaxValue must not wrap negative (round-4 review find)
        ("dPackedReal32U", Some((0.00001, 4, true)),
          Seq(0f, 100.5f, 30000f, 2.24371f, Float.NaN)))
    for ((cls, packed, base) <- fCases) {
      val vs = base ++ base ++ base
      val payload = packed match {
        case Some((scale, w, unsigned)) =>
          GdsWrite.packedRealPayload(vs, scale, w, unsigned)
        case None if cls == "dFloat32" => GdsWrite.floatPayload(vs)
        case None =>
          val o = new java.io.ByteArrayOutputStream()
          vs.foreach { v =>
            val bits = java.lang.Double.doubleToLongBits(v.toDouble)
            (0 until 8).foreach(k => o.write(((bits >> (8 * k)) & 0xff).toInt))
          }
          o.toByteArray
      }
      val path = s"$dir/f_$cls.gds"
      val c = new GdsWrite.Container()
      val rootId = c.allocId()
      val node = c.node(cls, Seq(vs.length), payload,
        packedScale = packed.map(_._1))
      c.folderAt(rootId, Seq((node, "v", 0)))
      c.save(path, rootId)
      val f = new GdsCore.GdsFile(path)
      try {
        val n = f.root("v")
        def expect(v: Float): Float = packed match {
          case Some((scale, _, _)) =>
            if (v != v) Float.NaN
            else (math.round(v / scale) * scale).toFloat
          case None => v
        }
        def eq(a: Float, b: Float): Boolean = (a != a && b != b) || a == b
        val whole = GdsCore.floats(f, n)
        val want = vs.map(expect)
        assert(whole.length == vs.length, cls)
        whole.indices.foreach(i =>
          assert(eq(whole(i), want(i)), s"$cls whole@$i: ${whole(i)} want ${want(i)}"))
        val ranged = GdsCore.floatsRange(f, n, base.length.toLong, base.length)
        ranged.indices.foreach(i =>
          assert(eq(ranged(i), want(i)), s"$cls ranged@$i"))
      } finally f.close()
    }

    // a packed class with no stored scale must refuse, not guess
    val path = s"$dir/noscale.gds"
    val c = new GdsWrite.Container()
    val rootId = c.allocId()
    val node = c.node("dPackedReal24", Seq(1),
      GdsWrite.packedRealPayload(Seq(1f), 0.0001, 3, unsigned = false))
    c.folderAt(rootId, Seq((node, "v", 0)))
    c.save(path, rootId)
    val f = new GdsCore.GdsFile(path)
    try intercept[UnsupportedOperationException] {
      GdsCore.floats(f, f.root("v"))
    } finally f.close()
  }

  test("wide integer values surface as lossless BIGINT columns") {
    import org.apache.spark.sql.types.LongType
    import graft.sources.gds.GdsCore
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_wideint").toString

    // decode primitives: unsigned codes above the signed range survive
    val wideCases: Seq[(String, Int, Seq[Long])] = Seq(
      ("dUInt32", 4, Seq(0L, 1L, 4000000000L, 0xffffffffL)),
      ("dInt64", 8, Seq(Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue)),
      ("dUInt64", 8, Seq(0L, 1L, Long.MaxValue)))
    for ((cls, w, base) <- wideCases) {
      val vs = base ++ base ++ base
      val path = s"$dir/wide_$cls.gds"
      val c = new GdsWrite.Container()
      val rootId = c.allocId()
      val node = c.node(cls, Seq(vs.length), GdsWrite.intPayloadW(vs, w))
      c.folderAt(rootId, Seq((node, "v", 0)))
      c.save(path, rootId)
      val f = new GdsCore.GdsFile(path)
      try {
        val n = f.root("v")
        assert(GdsCore.longs(f, n).toSeq == vs, s"$cls whole")
        assert(GdsCore.longsRange(f, n, base.length.toLong, base.length)
          .toSeq == base, s"$cls ranged")
      } finally f.close()
    }

    // a LongType info column round-trips write → read as dInt64/BIGINT
    // (2^53+1 would corrupt through any double path; null → NA sentinel)
    val big = 9007199254740993L
    val df = Seq(
      (1L, "c1", 100, Some(big)),
      (2L, "c1", 200, None: Option[Long]),
      (3L, "c2", 300, Some(-big)))
      .toDF("variant_id", "chrom", "pos", "info_BIG")
      .withColumn("allele", lit("A,C"))
    GdsWrite.write(df, Seq("S1"), s"$dir/roundtrip.gds")
    val back = Gds.read(spark, s"$dir/roundtrip.gds")
    assert(back.schema("info_BIG").dataType == LongType)
    val got = back.select("variant_id", "info_BIG").orderBy("variant_id")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
    assert(got.toSeq == Seq((1L, big), (2L, null), (3L, -big)))

    // hand-built dUInt32 INFO node + wide sample.annotation column:
    // the DataFrame read paths dispatch the wide classes, not only the
    // decode primitives
    val path = s"$dir/tree.gds"
    val c = new GdsWrite.Container()
    val rootId = c.allocId()
    val vid = c.node("dInt32", Seq(3), GdsWrite.intPayload(Seq(1, 2, 3)))
    val intAttrs = new GdsWrite.Attrs().str("Number", "1")
      .str("Type", "Integer")
    val u32 = c.node("dUInt32", Seq(3),
      GdsWrite.intPayloadW(Seq(7L, 4000000000L, 0xffffffffL), 4), intAttrs)
    val sid = c.node("dStr8", Seq(3),
      GdsWrite.strPayload(Seq("S1", "S2", "S3")))
    // raw bit pattern -1L = 2^64-1: the value a signed surface would
    // corrupt to -1; DECIMAL(20,0) must rebuild it exactly
    val cohort = c.node("dUInt64", Seq(3),
      GdsWrite.intPayloadW(Seq(5000000000L, Long.MaxValue, -1L), 8))
    val annIdx = c.folder(Seq((u32, "U32", 0)))
    val ann = c.folder(Seq((annIdx, "info", 2)))
    val sann = c.folder(Seq((cohort, "cohort", 0)))
    c.folderAt(rootId, Seq((vid, "variant.id", 0),
      (sid, "sample.id", 0), (sann, "sample.annotation", 2),
      (ann, "annotation", 2)))
    c.save(path, rootId)
    val tree = Gds.read(spark, path).select("variant_id", "info_U32")
    assert(tree.schema("info_U32").dataType == LongType)
    assert(tree.orderBy("variant_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 7L), (2L, 4000000000L), (3L, 0xffffffffL)))
    val samples = Gds.samples(spark, path).orderBy("sample_ordinal")
    assert(samples.schema("cohort").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 0))
    assert(samples.collect().map(_.getDecimal(2).toBigInteger.toString)
      .toSeq == Seq("5000000000", Long.MaxValue.toString,
        "18446744073709551615"))
  }

  test("dUInt64 INFO values above 2^63-1 surface exactly as DECIMAL(20,0)") {
    import graft.sources.gds.GdsCore
    val dir = java.nio.file.Files
      .createTempDirectory("graft_u64info").toString
    val path = s"$dir/u64.gds"
    // raw signed patterns whose unsigned readings cross every boundary:
    // 0, 1, 2^63-1, 2^63 (MinValue), 2^64-1 (-1L)
    val raw = Seq(0L, 1L, Long.MaxValue, Long.MinValue, -1L)
    val expected = Seq("0", "1", "9223372036854775807",
      "9223372036854775808", "18446744073709551615")
    val c = new GdsWrite.Container()
    val rootId = c.allocId()
    val vid = c.node("dInt32", Seq(raw.length),
      GdsWrite.intPayload(raw.indices.map(_ + 1)))
    val intAttrs = new GdsWrite.Attrs().str("Number", "1")
      .str("Type", "Integer")
    val u64 = c.node("dUInt64", Seq(raw.length),
      GdsWrite.intPayloadW(raw, 8), intAttrs)
    val sid = c.node("dStr8", Seq(1), GdsWrite.strPayload(Seq("S1")))
    val annIdx = c.folder(Seq((u64, "U64", 0)))
    val ann = c.folder(Seq((annIdx, "info", 2)))
    c.folderAt(rootId, Seq((vid, "variant.id", 0),
      (sid, "sample.id", 0), (ann, "annotation", 2)))
    c.save(path, rootId)
    // the helper itself
    assert(raw.map(GdsCore.unsignedDecimal(_).toString) == expected)
    val back = Gds.read(spark, path).select("variant_id", "info_U64")
    assert(back.schema("info_U64").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 0))
    assert(back.orderBy("variant_id").collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toBigInteger.toString))
      .toSeq == raw.indices.map(i => ((i + 1).toLong, expected(i))))

    // and the WRITE direction: the DECIMAL(20,0) read surface must go
    // back through GdsWrite (dUInt64 raw bits), or a read->rewrite flow
    // on such a container hard-fails
    import org.apache.spark.sql.functions.{col, lit}
    val dfOut = back
      .withColumn("chrom", lit("c1"))
      .withColumn("pos", (col("variant_id") * 10).cast("int"))
      .withColumn("allele", lit("A,C"))
    val path2 = s"$dir/u64_rewrite.gds"
    GdsWrite.write(dfOut, Seq("S1"), path2)
    val again = Gds.read(spark, path2)
      .select("variant_id", "info_U64").orderBy("variant_id")
    assert(again.schema("info_U64").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 0))
    assert(again.collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toBigInteger.toString))
      .toSeq == raw.indices.map(i => ((i + 1).toLong, expected(i))))
  }

  test("a packed-class dosage node reads through Gds.read, not only the " +
      "decode primitives") {
    // SNP-GDS dosage container whose genotype node is dPackedReal16U —
    // the DataFrame read path must dispatch the new classes (round-4
    // review find: they decoded in GdsCore but valueReaderRange /
    // snpGenoIsDosage whitelisted the old class list)
    val scale = 0.0001
    val ds = Seq(0.5f, Float.NaN, 1.25f, 2.0f, 0.0f, 1.5f) // 2 snps × 3
    val dir = java.nio.file.Files
      .createTempDirectory("graft_packedsnp").toString
    val path = s"$dir/packed.gds"
    val c = new GdsWrite.Container()
    val rootId = c.allocId()
    val sampleId = c.node("dStr8", Seq(3),
      GdsWrite.strPayload(Seq("S1", "S2", "S3")))
    val snpId = c.node("dInt32", Seq(2), GdsWrite.intPayload(Seq(1, 2)))
    val rsId = c.node("dStr8", Seq(2), GdsWrite.strPayload(Seq("r1", "r2")))
    val snpPos = c.node("dInt32", Seq(2),
      GdsWrite.intPayload(Seq(100, 200)))
    val snpChrom = c.node("dStr8", Seq(2),
      GdsWrite.strPayload(Seq("1", "1")))
    val snpAllele = c.node("dStr8", Seq(2),
      GdsWrite.strPayload(Seq("A/C", "G/T")))
    val genotype = c.node("dPackedReal16U", Seq(2, 3),
      GdsWrite.packedRealPayload(ds, scale, width = 2, unsigned = true),
      new GdsWrite.Attrs().nul("snp.order"), packedScale = Some(scale))
    c.folderAt(rootId,
      Seq((sampleId, "sample.id", 0), (snpId, "snp.id", 0),
        (rsId, "snp.rs.id", 0), (snpPos, "snp.position", 0),
        (snpChrom, "snp.chromosome", 0), (snpAllele, "snp.allele", 0),
        (genotype, "genotype", 0)),
      new GdsWrite.Attrs().str("FileFormat", "SNP_ARRAY"))
    c.save(path, rootId)
    val back = Gds.read(spark, path).orderBy("variant_id")
      .select("ds").collect()
      .flatMap(_.getSeq[Any](0))
    val want = ds.map(v =>
      if (v.isNaN) null else java.lang.Float.valueOf(v))
    assert(back.toSeq == want.toSeq)
  }

  // ---- partition-encoder seams (fixture-free) ---------------------------

  private def bytesOf(path: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))

  private def md5(path: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytesOf(path))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Most common call length of a row (ties → the shorter). */
  private def majority(geno: Seq[Seq[java.lang.Long]]): Int =
    if (geno.isEmpty) 2
    else geno.groupBy(_.length).maxBy(p => (p._2.size, -p._1))._1

  test("partition count, empty partitions and one-shard export leave the " +
      "container bytes unchanged") {
    import SeededGdsFrames._
    val dir = java.nio.file.Files.createTempDirectory("graft_seams").toString
    // md5 of these frames' files from the earlier row-streaming writer:
    // the encoder must not move a byte of the format
    val pinned = Map(specs(0) -> "a4c53d5aec90b9c77c9b6a9aae0d4bfa",
      specs(1) -> "1f176cb28e2875c53d16f81429d0589d")
    var redone = 0
    for (s <- specs) {
      val files = Seq(1, 3, 8).map { parts =>
        val out = s"$dir/f${s.seed}-p$parts.gds"
        GdsWrite.write(frame(spark, s, parts), s.samples, out,
          dsType = "packedreal16")
        // variant_id (= 1-based row number) of each partition's first row
        val heads = frame(spark, s, parts).rdd
          .mapPartitions(it => it.take(1).map(_.getLong(0).toInt)).collect()
        val rs = rows(s)
        val first = rs.headOption.map(r =>
          majority(r.getSeq[Seq[java.lang.Long]](7)))
        redone += heads.count(v => first.exists(_ !=
          majority(rs(v - 1).getSeq[Seq[java.lang.Long]](7))))
        out
      }
      val one = bytesOf(files.head)
      files.tail.foreach(f => assert(java.util.Arrays.equals(bytesOf(f), one),
        s"$f differs from ${files.head}"))
      val shards = GdsWrite.writeSharded(frame(spark, s, 3), s.samples,
        s"$dir/sharded-${s.seed}", numShards = 1, dsType = "packedreal16")
      if (s.nVar == 0) assert(shards.isEmpty) // an empty shard writes no file
      else {
        assert(shards.map(_._2) == Seq(s.nVar.toLong))
        assert(java.util.Arrays.equals(bytesOf(shards.head._1), one),
          s"one-shard export of seed ${s.seed} differs")
      }
      pinned.get(s).foreach(m =>
        assert(md5(files.head) == m, s"seed ${s.seed}"))
      // the writer's reader still sees the frame
      assert(Gds.read(spark, files.head).count() == s.nVar)
    }
    // some partition started on a row of another ploidy and was encoded
    // again at the container's
    assert(redone > 0)
  }

  test("the independent python decoder reads a multi-partition write's " +
      "genotype planes as the input rows' 2-bit codes") {
    import SeededGdsFrames._
    val s = specs.head
    val out = java.nio.file.Files.createTempDirectory("graft_gdspy")
      .toString + "/seams.gds"
    GdsWrite.write(frame(spark, s, 8), s.samples, out, storage = "ZIP_ra")
    val scripts = new java.io.File("scripts").getAbsolutePath
    // one line per variant: its 2-bit codes, plane-major then sample then
    // allele slot, read LSB-first from the packed stream
    val py = new ProcessBuilder("python3", "-c", s"""
import sys
sys.path.insert(0, '$scripts')
from gds_read import streams, node_bytes
st = streams(open('$out', 'rb').read())
geno, rec = node_bytes(st, ['genotype', 'data'])
planes, _ = node_bytes(st, ['genotype', '@data'])
n_var, n_s, ploidy = rec['dims']
bit = 0
for v in range(n_var):
    codes = []
    for _ in range(planes[v] * n_s * ploidy):
        codes.append(str((geno[bit >> 3] >> (bit & 7)) & 3))
        bit += 2
    print(''.join(codes))
assert (bit + 7) // 8 == len(geno), (bit, len(geno))
""").redirectErrorStream(true).start()
    val got = scala.io.Source.fromInputStream(py.getInputStream).getLines()
      .toList
    assert(py.waitFor() == 0, got.mkString("\n"))
    val rs = rows(s)
    val ploidy = majority(rs.head.getSeq[Seq[java.lang.Long]](7))
    val want = rs.map { r =>
      val g = r.getSeq[Seq[java.lang.Long]](7)
      val codes = g.flatMap(_.take(ploidy).filter(_ != null).map(_.intValue))
      var np = 1
      while ((1 << (2 * np)) - 1 <= (0 +: codes).max) np += 1
      val miss = (1 << (2 * np)) - 1
      (0 until np).flatMap(k => g.flatMap(call => (0 until ploidy).map { a =>
        val c = if (a >= call.length || call(a) == null) miss
          else call(a).intValue
        (c >> (2 * k)) & 3
      })).mkString
    }
    assert(got == want)
  }

  test("writer defects raised inside an encoding task keep their message") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gdserr").toString
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    def failure(df: org.apache.spark.sql.DataFrame, samples: Seq[String]) =
      messages(intercept[Exception](GdsWrite.write(df.repartition(2),
        samples, s"$dir/bad.gds")))
    val call = Seq[java.lang.Long](0L, 1L)
    val ok = (1 to 4).map(v => (v.toLong, "c1", v, "A,G", Seq(call, call)))
    val frame = ok.toDF("variant_id", "chrom", "pos", "allele", "geno")
    assert(failure(frame, Seq("S1")).contains("geno width 2 != 1"))
    val fmt = ok.map { case (v, c, p, a, g) =>
      (v, c, p, a, if (v == 3) Seq(7) else Seq(7, 8)) }
      .toDF("variant_id", "chrom", "pos", "allele", "fmt_DP")
    assert(failure(fmt, Seq("S1", "S2")).contains("fmt width 1 != 2"))
    val wide = frame.withColumn("variant_id",
      when(col("variant_id") === 2, lit(3000000000L))
        .otherwise(col("variant_id")))
    assert(failure(wide, Seq("S1", "S2"))
      .contains("variant_id 3000000000 exceeds dInt32"))
  }
}
