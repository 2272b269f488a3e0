package graft.sources.gds

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import GdsCore._

/** SNP-GDS (SNPRelate) container support — the file-level half of
  * `seqSNP2GDS`/`seqGDS2SNP` (reference R/Conversion.R:555-832, code
  * kernel src/ConvToGDS.cpp FC_SNP2GDS: genotype value = count of the
  * FIRST allele in `snp.allele` "A/B", i.e. 0→hom-B (1,1), 1→het (0,1),
  * 2→hom-A (0,0), other→missing; REF=A, ALT=B).
  *
  * Same CoreArray container as SeqArray GDS, different node tree:
  * `sample.id, snp.id, snp.rs.id, snp.position, snp.chromosome,
  * snp.allele, genotype(dBit2 [nSnp, nSample])`. The genotype matrix is
  * fixed-stride, so the read distributes as contiguous snp ranges over
  * `spark.range` — each task decodes only its 2-bit slice (snp-major;
  * a `sample.order` matrix is strided and documented as the slow path).
  */
object SnpGds {

  /** variants(variant_id, chrom, pos, id, allele, geno) from a SNP-GDS
    * container; geno pairs per FC_SNP2GDS, missing = (null, null).
    * Delegates to the DSv2 gds source, which auto-detects the SNP tree
    * and assembles rows directly as InternalRows — ~25× faster than a
    * typed-encoder mapPartitions at 600k variants. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("gds").load(path)

  /** Writes a SNP-GDS container from a canonical variants frame
    * (`variant_id, chrom, pos, id, allele, geno`): genotype code =
    * REF-allele count (any-missing folds to 3 — the same fold as
    * `pack_2b`/PLINK BED, which SNP-GDS's one-code-per-call model
    * forces), `snp.allele` = "REF/ALT". Single container file ⇒ driver
    * streaming; [[writeSharded]] is the executor-side scale path. */
  def write(df: DataFrame, sampleIds: Seq[String], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    writeRows(df.select(col("variant_id"), col("chrom"), col("pos"),
      col("id"), col("allele"), col("geno")).toLocalIterator().asScala,
      sampleIds, path)
  }

  /** Executor-side sharded SNP-GDS export: one container per (chrom,
    * pos) range shard + `_manifest.json`, no driver iterator (see
    * [[graft.sources.Sharded]]). */
  def writeSharded(df: DataFrame, sampleIds: Seq[String], dir: String)
      : Seq[(String, Long)] = {
    val sel = df.select(col("variant_id"), col("chrom"), col("pos"),
      col("id"), col("allele"), col("geno"))
    graft.sources.Sharded.export(sel, dir, ".gds",
      (it, f) => writeRows(it, sampleIds, f))
  }

  private def writeRows(it: Iterator[org.apache.spark.sql.Row],
      sampleIds: Seq[String], path: String): Long = {
    val bitsP = new GdsWrite.BitPacker(2)
    val nS = sampleIds.length
    writeTree(it, sampleIds, path, "dBit2", bitsP.bytes) { r =>
      val g = r.getSeq[scala.collection.Seq[Any]](5)
      require(g.length == nS, s"geno width ${g.length} != $nS")
      g.foreach { sa =>
        var refs = 0
        var miss = false
        sa.foreach {
          case null => miss = true
          case v: java.lang.Long => if (v.longValue() == 0L) refs += 1
        }
        bitsP.add(if (miss || refs > 2) 3 else refs)
      }
    }
  }

  /** One SNP-GDS container: `sample.id`, the five snp nodes from
    * columns 0–4 of each row, a `genoCls` genotype node [nSnp, nSample]
    * whose payload `genoBytes` holds once `addGeno` has seen every row,
    * and the `SNP_ARRAY` root folder. Returns the snp count. */
  private def writeTree(it: Iterator[org.apache.spark.sql.Row],
      sampleIds: Seq[String], path: String, genoCls: String,
      genoBytes: => Array[Byte])(
      addGeno: org.apache.spark.sql.Row => Unit): Long = {
    val vids = ArrayBuffer.empty[Int]
    val chroms = ArrayBuffer.empty[String]
    val poss = ArrayBuffer.empty[Int]
    val rsids = ArrayBuffer.empty[String]
    val alleles = ArrayBuffer.empty[String]
    val nS = sampleIds.length

    while (it.hasNext) {
      val r = it.next()
      vids += r.getLong(0).toInt
      chroms += r.getString(1)
      poss += r.getInt(2)
      rsids += (if (r.isNullAt(3)) "" else r.getString(3))
      alleles += r.getString(4).replaceFirst(",", "/").takeWhile(_ != ',')
      addGeno(r)
    }
    val nSnp = vids.length

    val c = new GdsWrite.Container
    val rootId = c.allocId()
    val sampleId = c.node("dStr8", Seq(nS), GdsWrite.strPayload(sampleIds))
    val snpId = c.node("dInt32", Seq(nSnp), GdsWrite.intPayload(vids))
    val rsId = c.node("dStr8", Seq(nSnp), GdsWrite.strPayload(rsids))
    val snpPos = c.node("dInt32", Seq(nSnp), GdsWrite.intPayload(poss))
    val snpChrom = c.node("dStr8", Seq(nSnp), GdsWrite.strPayload(chroms))
    val snpAllele = c.node("dStr8", Seq(nSnp), GdsWrite.strPayload(alleles))
    val genotype = c.node(genoCls, Seq(nSnp, nS), genoBytes,
      new GdsWrite.Attrs().nul("snp.order"))
    c.folderAt(rootId,
      Seq((sampleId, "sample.id", 0), (snpId, "snp.id", 0),
        (rsId, "snp.rs.id", 0), (snpPos, "snp.position", 0),
        (snpChrom, "snp.chromosome", 0), (snpAllele, "snp.allele", 0),
        (genotype, "genotype", 0)),
      new GdsWrite.Attrs().str("FileFormat", "SNP_ARRAY"))
    c.save(path, rootId)
    nSnp.toLong
  }

  /** Dosage SNP-GDS (the FC_Dosage2GDS source shape): genotype node is
    * dFloat32 REF-allele dosage in [0, 2], NaN = missing. Input column
    * `ds` = ARRAY<FLOAT> per sample. */
  def writeDosage(df: DataFrame, sampleIds: Seq[String], path: String)
      : Unit = {
    import scala.jdk.CollectionConverters._
    writeDosageRows(df.select(col("variant_id"), col("chrom"), col("pos"),
      col("id"), col("allele"), col("ds")).toLocalIterator().asScala,
      sampleIds, path)
  }

  /** Executor-side sharded dosage export (see [[writeSharded]]). */
  def writeDosageSharded(df: DataFrame, sampleIds: Seq[String], dir: String)
      : Seq[(String, Long)] = {
    val sel = df.select(col("variant_id"), col("chrom"), col("pos"),
      col("id"), col("allele"), col("ds"))
    graft.sources.Sharded.export(sel, dir, ".gds",
      (it, f) => writeDosageRows(it, sampleIds, f))
  }

  private def writeDosageRows(it: Iterator[org.apache.spark.sql.Row],
      sampleIds: Seq[String], path: String): Long = {
    val values = ArrayBuffer.empty[Float]
    val nS = sampleIds.length
    writeTree(it, sampleIds, path, "dFloat32",
        GdsWrite.floatPayload(values.toSeq)) { r =>
      val ds = r.getSeq[Any](5)
      require(ds.length == nS, s"ds width ${ds.length} != $nS")
      ds.foreach {
        case null => values += Float.NaN
        case v: java.lang.Float => values += v.floatValue()
        case v: java.lang.Double => values += v.floatValue()
      }
    }
  }

  /** `seqSNP2GDS`: SNP-GDS → SeqArray GDS container. `majorRef` mirrors
    * the reference's `major.ref=TRUE` (FC_SNP2GDS_Ref/FC_SNP2GDS,
    * src/ConvToGDS.cpp:171-260): per snp, when allele A's mean dosage
    * puts it in the minority (sum of codes < #valid calls), REF/ALT swap
    * — alleles reverse to "B,A" and every genotype code flips 0↔1. */
  def toSeqArray(spark: SparkSession, snpPath: String, outPath: String,
      majorRef: Boolean = false): Unit = {
    val (df, samples) = seqArrayFrame(spark, snpPath, majorRef)
    GdsWrite.write(df, samples, outPath)
  }

  /** `seqSNP2GDS` at scale: executor-side sharded SeqArray export. */
  def toSeqArraySharded(spark: SparkSession, snpPath: String,
      outDir: String, majorRef: Boolean = false): Seq[(String, Long)] = {
    val (df, samples) = seqArrayFrame(spark, snpPath, majorRef)
    GdsWrite.writeSharded(df, samples, outDir)
  }

  /** The converted variants frame + sample axis shared by the single-
    * file and sharded seqSNP2GDS paths. */
  private def seqArrayFrame(spark: SparkSession, snpPath: String,
      majorRef: Boolean): (DataFrame, Seq[String]) = {
    val isDosage = {
      val f = new GdsFile(snpPath)
      try GdsSchema.snpGenoIsDosage(f.root) finally f.close()
    }
    if (isDosage) {
      // FC_Dosage2GDS's inverse mapping (ConvToGDS.cpp:255-318,
      // Conversion.R:762-766): SeqArray fmt DS = 2 - REF dosage
      // ("Estimated alternate allele dosage"), no genotype node
      val df = read(spark, snpPath)
        .select(col("variant_id"), col("chrom"), col("pos"), col("id"),
          col("allele"),
          transform(col("ds"), d => (lit(2.0f) - d).cast("float"))
            .as("fmt_DS"))
      val f = new GdsFile(snpPath)
      val samples = try strings(f, f.root("sample.id")).toSeq
        finally f.close()
      return (df, samples)
    }
    val df0 = read(spark, snpPath)
    val df = if (!majorRef) df0 else {
      // per snp: Σ REF counts vs #valid calls (reference: sum < nvalid)
      val refSum = expr(
        """aggregate(geno, 0L, (acc, sa) ->
          |  acc + CASE WHEN sa[0] IS NULL THEN 0L
          |             ELSE 2 - sa[0] - sa[1] END)""".stripMargin)
      val nValid = expr("size(filter(geno, sa -> sa[0] IS NOT NULL))")
      val rev = refSum < nValid.cast("long")
      // swapped call: new REF count = old ALT count; pairs stay
      // normalized ((0,0)/(0,1)/(1,1)) as FC_SNP2GDS emits them
      val swapped = transform(col("geno"), sa => {
        val altCount = element_at(sa, 1) + element_at(sa, 2)
        when(element_at(sa, 1).isNull, sa)
          .when(altCount === 2, array(lit(0L), lit(0L)))
          .when(altCount === 1, array(lit(0L), lit(1L)))
          .otherwise(array(lit(1L), lit(1L)))
      })
      df0.select(col("variant_id"), col("chrom"), col("pos"), col("id"),
        when(rev, concat_ws(",", reverse(split(col("allele"), ","))))
          .otherwise(col("allele")).as("allele"),
        when(rev, swapped).otherwise(col("geno")).as("geno"))
    }
    val f = new GdsFile(snpPath)
    val samples = try strings(f, f.root("sample.id")).toSeq finally f.close()
    (df, samples)
  }

  /** `seqGDS2SNP`: SeqArray GDS → SNP-GDS container (biallelic fold). */
  def fromSeqArray(spark: SparkSession, gdsPath: String, outPath: String)
      : Unit = {
    val df = Gds.read(spark, gdsPath)
      .select(col("variant_id"), col("chrom"), col("pos"), col("id"),
        col("allele"), col("geno"))
    val f = new GdsFile(gdsPath)
    val samples = try strings(f, f.root("sample.id")).toSeq finally f.close()
    write(df, samples, outPath)
  }
}
