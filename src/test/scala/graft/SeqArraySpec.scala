package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{SeqArray, SeqVarData}

/** End-to-end exercise of the SeqArray compat façade: a reference user's
  * typical session — open, filter by chromosome/position/condition,
  * project derived variables, aggregate, window, merge, digest — mapped
  * 1:1 (the man-page smoke tests of the reference,
  * inst/unitTests/test_examples.R, in spirit). */
class SeqArraySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** SynthGeno reshaped to the façade's canonical columns. */
  private lazy val gds: SeqVarData = {
    val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
    val full = transform(sequence(lit(1), col("nall").cast("int")),
      i => element_at(letters, i))
    // the façade contract (like the reference's variant.id) is a UNIQUE id;
    // SynthGeno vids collide, so dedupe for the fixture
    SeqVarData(graft.genomics.SynthGeno
      .variants(spark, "/root/testdata/sf0.001")
      .select(col("vid").as("variant_id"), col("chrom"), col("pos"),
        array_join(full, ",").as("allele"), col("geno"), col("phased"))
      .dropDuplicates("variant_id"))
  }

  test("filter chain narrows the selection like the reference's intersect") {
    val all = gds.variants.count()
    val c0 = gds.setFilterChrom(Seq("c0"))
    val c0win = c0.setFilterChrom(Seq("c0"), fromBp = 0, toBp = 50000)
    val cond = c0win.setFilterCond(minMaf = 0.1)
    val counts = Seq(all, c0.variants.count(), c0win.variants.count(),
      cond.variants.count())
    assert(counts == counts.sorted.reverse)   // monotone narrowing
    assert(counts.last > 0)
    // "pop": the earlier reference is untouched
    assert(c0.variants.count() == counts(1))
  }

  test("getData projects stored and derived variables") {
    val sel = gds.setFilterChrom(Seq("c1"))
    assert(sel.getData("$num_allele").filter(col("value") < 2).count() == 0)
    assert(sel.getData("$ref").filter(col("value") =!= "A").count() == 0)
    val cp = sel.getData("$chrom_pos").collect()(0).getString(1)
    assert(cp.startsWith("c1:"))
    val dos = sel.getData("$dosage_alt").collect()(0)
      .getSeq[Any](1)
    assert(dos.length == graft.genomics.SynthGeno.nSamples)
  }

  test("aggregates match the direct kernel results") {
    val af = gds.alleleFreq(0)
    val direct = gds.variants.select(col("variant_id"),
      graft.functions.genetics.alleleFreq(col("geno"), lit(0)).as("af"))
    assert(af.exceptAll(direct).count() == 0)
    assert(gds.missing(perVariant = false).count() ==
      graft.genomics.SynthGeno.nSamples)
  }

  test("two-level digest is invariant to partitioning and materializes no giant cell") {
    import graft.operators.Digest
    val src = gds.variants.select(col("variant_id"),
      concat_ws(":", col("chrom"), col("pos")).as("s"))
    val one = Digest.twoLevel(src.repartition(1), Seq(lit(1).as("g")),
      col("s")).select("n", "digest").collect()(0)
    val many = Digest.twoLevel(src.repartition(13), Seq(lit(1).as("g")),
      col("s")).select("n", "digest").collect()(0)
    assert(one == many)
    assert(one.getLong(0) == src.count())
    // and the facade path returns the same digest for any layout
    val d1 = SeqArray.digest(gds, "position")
    val d2 = SeqArray.digest(SeqVarData(gds.variants.repartition(7)),
      "position")
    assert(d1 == d2 && d1.length == 32)
  }

  test("per-sample missing counts absent (null) calls as fully missing") {
    import spark.implicits._
    // 2 samples, ploidy 2. Row 1: sample1's call is absent entirely (null
    // array — what VCF import yields for a missing GT cell). Row 2:
    // sample0 has one missing allele.
    val df = Seq(
      (1L, Seq(Seq[java.lang.Long](0L, 1L), null)),
      (2L, Seq(Seq[java.lang.Long](null, 1L), Seq[java.lang.Long](0L, 0L))))
      .toDF("variant_id", "geno")
    val m = SeqVarData(df).missing(perVariant = false)
      .orderBy("sample").collect()
    assert(m(0).getDouble(1) == 0.25)  // sample0: (0 + 1) / 4
    assert(m(1).getDouble(1) == 0.5)   // sample1: (2 + 0) / 4
  }

  test("range filter keeps variants at pos == end (closed intervals)") {
    import spark.implicits._
    val vs = Seq((1L, "c0", 100L), (2L, "c0", 200L), (3L, "c0", 201L))
      .toDF("variant_id", "chrom", "pos")
    val ranges = Seq(("c0", 50L, 200L)).toDF("chrom", "start", "end")
    val kept = SeqVarData(vs).setFilterRanges(ranges)
      .variants.select("variant_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L))
  }

  test("sample-axis selection restricts every per-sample column") {
    val sel = gds.setFilterSamples(Seq(1, 4))
    val r = sel.variants.select(col("geno"), col("phased")).collect()(0)
    assert(r.getSeq[Any](0).length == 2 && r.getSeq[Boolean](1).length == 2)
    // aggregates now run over the restricted cube
    val full = gds.alleleCount(0).agg(sum(col("ac"))).collect()(0).getLong(0)
    val part = sel.alleleCount(0).agg(sum(col("ac"))).collect()(0).getLong(0)
    assert(part < full)
  }

  test("range filter and apply engine") {
    import spark.implicits._
    val ranges = Seq(("c0", 0L, 20000L), ("c1", 50000L, 99999L))
      .toDF("chrom", "start", "end")
    val sel = gds.setFilterRanges(ranges)
    assert(sel.variants.count() > 0)
    val outside = sel.variants.filter(
      !(col("chrom") === "c0" && col("pos").between(0, 20000)) &&
      !(col("chrom") === "c1" && col("pos").between(50000, 99999))).count()
    assert(outside == 0)
    // seqApply / seqBlockApply analogs
    val perVariant = gds.applyVariants(r =>
      r.getAs[Long]("variant_id") % 7)
    assert(perVariant.count() == gds.variants.count())
    val blocks = gds.blockApplyVariants(it => Iterator(it.size.toLong))
    assert(blocks.collect().sum == gds.variants.count())
  }

  test("unitApply == declarative window aggregation") {
    import spark.implicits._
    val viaUdf = gds.unitApply(2000, 1000) { (c, ws, it) =>
      (c, ws, it.size.toLong)
    }.collect().toSet
    val viaSql = gds.unitSlidingWindows(2000, 1000, dupRm = false)
      .select(col("chrom"), col("win_start"), size(col("members")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaUdf == viaSql && viaUdf.nonEmpty)
  }

  test("windows, merge, digest, summary, VCF export run end-to-end") {
    val win = gds.unitSlidingWindows(2000, 1000)
    assert(win.count() > 0)
    val a = gds.setFilter(col("variant_id") % 2 === 0)
    val b = gds.setFilter(col("variant_id") % 3 === 0)
    val merged = SeqArray.merge(a, b)
    assert(merged.variants.filter(col("geno_a").isNotNull &&
      col("geno_b").isNotNull).count() > 0)
    val d1 = SeqArray.digest(gds, "position")
    val d2 = SeqArray.digest(gds, "position")
    assert(d1 == d2 && d1.length == 32)
    assert(SeqArray.summary(gds).count() > 0)
    val lines = gds.toVcfLines().collect()
    assert(lines.nonEmpty &&
      lines(0).getString(0).split("\t").length >= 10)
  }

  test("seqAsVCF-shaped view matches the CEU fixture's first record") {
    val ceu = SeqArray.openGds(spark,
      Fixtures.path("CEU_Exon.gds"))
    val v = ceu.asVcf(chrPrefix = "chr").orderBy("variant_id")
    val f = v.schema("fixed").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(f.fieldNames.toSeq == Seq("REF", "ALT", "QUAL", "FILTER"))
    val r = v.limit(1).collect()(0)
    // #CHROM 1, POS 1105366, rs111751804, REF T, ALT C, AC=4, AN=114
    assert(r.getAs[String]("chrom") == "chr1")
    assert(r.getAs[Number]("start").longValue == 1105366L)
    assert(r.getAs[Number]("end").longValue == 1105366L) // len(REF)=1
    assert(r.getAs[String]("id") == "rs111751804")
    val fixed = r.getAs[org.apache.spark.sql.Row]("fixed")
    assert(fixed.getAs[String]("REF") == "T")
    assert(fixed.getSeq[String](fixed.fieldIndex("ALT")).toSeq == Seq("C"))
    val info = r.getAs[org.apache.spark.sql.Row]("info")
    assert(info.getAs[Number]("AC").intValue == 4)
    assert(info.getAs[Number]("AN").intValue == 114)
    val geno = r.getAs[org.apache.spark.sql.Row]("geno")
    val gt = geno.getSeq[String](geno.fieldIndex("GT")).toSeq
    assert(gt.length == 90)
    // samples 1-2 are ./. and sample 3 is 0/0 in the VCF body
    assert(gt(0) == "./." && gt(2) == "0/0")
    // info/geno selections subset the structs; unknown names drop
    val sel = ceu.asVcf(info = Some(Seq("AC", "NOPE")),
      geno = Some(Seq("DP")))
    val selInfo = sel.schema("info").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(selInfo.fieldNames.toSeq == Seq("AC"))
    val selGeno = sel.schema("geno").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(selGeno.fieldNames.toSeq == Seq("GT", "DP"))
  }
}
