package graft.sources.bed

import java.io.RandomAccessFile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PLINK 1.x BED triplet (.bed/.bim/.fam) reader/writer — the file-level
  * half of `seqBED2GDS`/`seqGDS2BED` (reference R/Conversion.R:833-1447,
  * decode kernel src/ConvToGDS.cpp:70-133: bed code → alleles via
  * cvt1={1,3,1,0}/cvt2={1,3,0,0}, i.e. 0b00=hom-ALT, 0b01=missing,
  * 0b10=het, 0b11=hom-REF, with REF=A2 and ALT=A1).
  *
  * Spark-first layout: the .bed genotype matrix is FIXED-WIDTH per
  * variant in SNP-major mode, so it splits perfectly — `spark.range`
  * hands each task a contiguous variant range and every task seeks
  * straight to `3 + vidx*rowBytes` and bulk-reads its slice. No shuffle
  * touches the matrix; the only shuffle is the vidx join against the
  * .bim metadata (itself read splittably as text). Genotypes surface as
  * the engine's 2-bit packed REF-dosage BINARY (`pg`), which
  * `unpack_2b`/`geno_stats_packed` consume directly — BED's 2-bit codes
  * are translated per BYTE (4 samples at a time) through a 256-entry
  * table, never per sample.
  */
object Bed {

  /** bed 2-bit code → engine 2-bit code (REF dosage, 3=missing):
    * 0b00 hom-ALT → 0, 0b01 missing → 3, 0b10 het → 1, 0b11 hom-REF → 2. */
  private val Code: Array[Int] = Array(0, 3, 1, 2)
  private val CodeInv: Array[Int] = Array(0, 2, 3, 1) // engine → bed

  private def byteTable(code: Array[Int]): Array[Byte] =
    Array.tabulate(256) { b =>
      var out = 0
      var s = 0
      while (s < 4) {
        out |= code((b >> (2 * s)) & 3) << (2 * s)
        s += 1
      }
      out.toByte
    }
  private val BedToEngine = byteTable(Code)
  private val EngineToBed = byteTable(CodeInv)

  final case class Fam(family: String, id: String, father: String,
      mother: String, sex: String, pheno: String)

  /** .fam rows (small — one per sample; driver-side like the reference's
    * read.table, R/Conversion.R:900-922). */
  def readFam(path: String): Seq[Fam] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).map { l =>
      val f = l.trim.split("\\s+")
      require(f.length >= 6, s"bad .fam line: $l")
      Fam(f(0), f(1), f(2), f(3), f(4), f(5))
    }.toList

  /** Sample ids per the reference's rule (R/Conversion.R:908-915):
    * individual id when unique, else family-individual. */
  def sampleIds(fam: Seq[Fam]): Seq[String] = {
    val ids = fam.map(_.id)
    if (ids.distinct.length == ids.length) ids
    else {
      val combined = fam.map(f => s"${f.family}-${f.id}")
      require(combined.distinct.length == combined.length,
        "Sample IDs in PLINK BED are not unique!")
      combined
    }
  }

  /** variants(vid, chrom, pos, id, allele, pg) from `prefix`.bed/.bim/.fam.
    * `vid` is the 0-based variant index (bim row = bed row), `allele` is
    * "REF,ALT" (= A2,A1), `pg` the engine-coded 2-bit matrix. When the
    * .bed rows and the .bim lines differ in number, the first action on
    * the frame raises an error naming the fileset and an unmatched row. */
  def read(spark: SparkSession, prefix: String): DataFrame = {
    val bedPath = prefix + ".bed"
    val fam = readFam(prefix + ".fam")
    val n = fam.length
    val rowBytes = (n + 3) / 4

    val head = {
      val raf = new RandomAccessFile(bedPath, "r")
      try { val b = new Array[Byte](3); raf.readFully(b); b }
      finally raf.close()
    }
    require((head(0) & 0xff) == 0x6c && (head(1) & 0xff) == 0x1b,
      f"Invalid PLINK BED magic (0x${head(0)}%02x,0x${head(1)}%02x)")
    require((head(2) & 0xff) == 0x01,
      "sample-major PLINK BED is not supported (re-export with plink " +
        "--make-bed, which writes SNP-major)")
    val fileLen = new java.io.File(bedPath).length()
    require((fileLen - 3) % rowBytes == 0,
      s".bed size ${fileLen - 3} is not a multiple of rowBytes=$rowBytes")
    val nVariants = (fileLen - 3) / rowBytes

    // .bim: splittable text scan; the line number IS the bed row index.
    // monotonically_increasing_id is (input split << 33) + the line's
    // place in its split, so the line number adds the line count of the
    // earlier splits — the two-level prefix of SeqArray.numberVariants,
    // lazy like the rest of the frame (no counting job while it is built)
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val lines = spark.read.text(prefix + ".bim")
      .select(monotonically_increasing_id().as("__id"), col("value"))
      .withColumn("__split", shiftrightunsigned(col("__id"), 33))
    val offsets = lines.groupBy(col("__split"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", sum(col("__n")).over(Window.orderBy(col("__split"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) -
        col("__n"))
      .select(col("__split"), col("__off"))
    val bim = lines.join(broadcast(offsets), Seq("__split"))
      .select(
        (col("__off") + col("__id").bitwiseAND((1L << 33) - 1)).as("vid"),
        col("value"))
      .as[(Long, String)].map { case (i, l) =>
        val f = l.trim.split("\\s+")
        require(f.length >= 6, s"bad .bim line: $l")
        (i, f(0), f(3).toInt, f(1), s"${f(5)},${f(4)}") // REF=A2, ALT=A1
      }.toDF("vid", "chrom", "pos", "id", "allele")

    val par = spark.sparkContext.defaultParallelism
    val matrix = spark.range(0, nVariants, 1,
        math.min(par, math.max(1, (nVariants / 1024).toInt + 1)))
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val raf = new RandomAccessFile(bedPath, "r")
          val chunkRows = math.max(1, 4 * 1024 * 1024 / rowBytes)
          new Iterator[(Long, Array[Byte])] {
            private var buf = Array.emptyByteArray
            private var bufStart = -1L
            private var bufRows = 0
            override def hasNext: Boolean = {
              val h = it.hasNext
              if (!h) raf.close()
              h
            }
            override def next(): (Long, Array[Byte]) = {
              val v: Long = it.next()
              if (bufStart < 0 || v < bufStart || v >= bufStart + bufRows) {
                bufRows = math.min(chunkRows.toLong, nVariants - v).toInt
                buf = new Array[Byte](bufRows * rowBytes)
                raf.seek(3 + v * rowBytes)
                raf.readFully(buf)
                bufStart = v
              }
              val off = ((v - bufStart) * rowBytes).toInt
              val out = new Array[Byte](rowBytes)
              var i = 0
              while (i < rowBytes) {
                out(i) = BedToEngine(buf(off + i) & 0xff)
                i += 1
              }
              (v, out)
            }
          }
        }
      }.toDF("vid", "pg")

    // every .bim line must meet a .bed row: a full outer join keeps the
    // unmatched ones, and the filter raises on the first it evaluates
    // (lazily, with the rows; no extra job)
    def unmatched(what: Column, why: String): Column =
      raise_error(concat(lit(s"PLINK fileset $prefix: "), what, lit(why)))
    bim.join(matrix, Seq("vid"), "full_outer")
      .filter(
        when(col("pg").isNull, unmatched(
          concat(lit(".bim line "), (col("vid") + 1).cast("string")),
          s" has no .bed row (the .bed holds $nVariants rows)"))
        .when(col("chrom").isNull, unmatched(
          concat(lit(".bed row "), (col("vid") + 1).cast("string")),
          " has no .bim line"))
        .otherwise(lit(true)))
      .select(col("vid"), col("chrom"), col("pos"), col("id"),
        col("allele"), col("pg"))
  }

  /** Writes `prefix`.bed/.bim/.fam from a variants frame with columns
    * (chrom, pos, id, allele "REF,ALT[,…]", pg) ordered by `orderCol` and
    * the sample id list. A BED triplet is a single file per component, so
    * rows stream through the driver in order (`toLocalIterator` — one
    * partition in memory at a time); multi-allelic rows fold to REF vs
    * first ALT, which is all the 2-bit codes ever carried.
    * [[writeSharded]] is the executor-side scale path. */
  def write(df: DataFrame, orderCol: String, samples: Seq[String],
      prefix: String): Unit = {
    import scala.jdk.CollectionConverters._
    writeRows(df.orderBy(col(orderCol))
      .select(col("chrom"), col("pos"), col("id"), col("allele"), col("pg"))
      .toLocalIterator().asScala, samples, prefix)
  }

  /** Executor-side sharded BED export: one `part-NNNNN.{bed,bim,fam}`
    * triplet per (chrom, pos) range shard (each a complete PLINK fileset over
    * the full sample axis) + `_manifest.json`; no driver iterator
    * (see [[graft.sources.Sharded]]). */
  def writeSharded(df: DataFrame, orderCol: String, samples: Seq[String],
      dir: String): Seq[(String, Long)] = {
    val sel = df.select(col("chrom"), col("pos"), col("id"),
      col("allele"), col("pg"), col(orderCol).as("__order"))
    graft.sources.Sharded.export(sel, dir, ".bed",
      (it, f) => writeRows(it, samples, f.stripSuffix(".bed")),
      sortCol = "__order")
  }

  private def writeRows(it: Iterator[org.apache.spark.sql.Row],
      samples: Seq[String], prefix: String): Long = {
    val fam = new java.io.PrintWriter(prefix + ".fam")
    try samples.foreach(s => fam.println(s"$s $s 0 0 0 -9"))
    finally fam.close()

    var n = 0L
    val rowBytes = (samples.length + 3) / 4
    val bim = new java.io.PrintWriter(prefix + ".bim")
    val bed = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(prefix + ".bed"), 1 << 20)
    try {
      bed.write(Array(0x6c, 0x1b, 0x01).map(_.toByte))
      while (it.hasNext) {
        val r = it.next()
        val alleles = r.getString(3).split(",")
        val a1 = if (alleles.length > 1) alleles(1) else "0" // ALT
        bim.println(s"${r.getString(0)}\t${r.getString(2)}\t0\t${r.get(1)}" +
          s"\t$a1\t${alleles(0)}")
        val pg = r.getAs[Array[Byte]](4)
        require(pg.length == rowBytes,
          s"pg length ${pg.length} != rowBytes $rowBytes")
        var i = 0
        while (i < rowBytes) {
          bed.write(EngineToBed(pg(i) & 0xff))
          i += 1
        }
        n += 1
      }
    } finally { bim.close(); bed.close() }
    n
  }
}
