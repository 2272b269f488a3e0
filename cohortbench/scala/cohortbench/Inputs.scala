package cohortbench

import java.io.{BufferedReader, FileInputStream, FileOutputStream, InputStreamReader}
import java.security.MessageDigest
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded bgzf VCF of a [[CohortSpec]] cohort, written with the engine's
  * BGZF writer; unphased GT only, so every field the export rebuilds
  * (ID/QUAL/FILTER/INFO as ".") reads back byte-identical. */
object VcfGen {
  private val header = Seq(
    "##fileformat=VCFv4.2",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">")
  private val Gt = Array("0/0", "1/0", "0/1", "1/1")

  def line(spec: CohortSpec, v: Int): String = {
    val vh = Rng.h(spec.seed, v)
    val p = Cohort.altFreq(spec, v)
    val a = Cohort.allele(spec, v)
    val sb = new java.lang.StringBuilder(spec.nSamples * 4 + 64)
    sb.append(Cohort.chrom(spec, v)).append('\t').append(Cohort.pos(spec, v))
      .append("\t.\t").append(a.charAt(0)).append('\t').append(a.charAt(2))
      .append("\t.\t.\t.\tGT")
    var s = 0
    while (s < spec.nSamples) {
      val g = Cohort.call(vh, p, s)
      sb.append('\t').append(if (g < 0) "./." else Gt(g))
      s += 1
    }
    sb.toString
  }

  /** Writes the VCF; returns the md5 of its body lines (the digest the
    * re-exported file must reproduce). */
  def write(spec: CohortSpec, path: String): String = {
    val md = MessageDigest.getInstance("MD5")
    val out = new graft.sources.bcf.Bgzf.ParallelWriter(
      new FileOutputStream(path))
    try {
      def ln(s: String): Unit = {
        out.write(s.getBytes("UTF-8")); out.write('\n')
      }
      header.foreach(ln)
      ln((Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT") ++ Cohort.sampleIds(spec)).mkString("\t"))
      var v = 0
      while (v < spec.nVariants) {
        val l = line(spec, v)
        md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
        ln(l)
        v += 1
      }
    } finally out.close()
    hex(md.digest())
  }

  /** md5 of a (b)gzip or plain VCF's body lines, read without the engine. */
  def digest(path: String): (String, Int) = {
    val md = MessageDigest.getInstance("MD5")
    val raw = new FileInputStream(path)
    val in = if (path.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16)
      else raw
    val r = new BufferedReader(new InputStreamReader(in, "UTF-8"), 1 << 20)
    var n = 0
    try {
      var l = r.readLine()
      while (l != null) {
        if (!l.startsWith("#")) {
          md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
          n += 1
        }
        l = r.readLine()
      }
    } finally r.close()
    (hex(md.digest()), n)
  }

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
}

/** Seeded stand-ins for the two board tables the chosen queries read,
  * with the schema of the repository's testdata (TESTDATA.md):
  * `documents` (a 40-word vocabulary, one document in eight a near copy
  * of an earlier one, so dedup and LSH find clusters) and `lineitem` (the
  * key columns `SynthGeno` builds its genotype cube from, plus the rest
  * of the row). */
object BoardData {
  private val Vocab = ("a the row table query scan join agg sort hash " +
    "window group order line part key value data column batch stream " +
    "merge filter vector spark fast slow big small customer").split(" ")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")

  final case class Spec(seed: Long, nDocs: Int, nOrders: Int)

  def documents(spark: SparkSession, s: Spec): org.apache.spark.sql.DataFrame = {
    def words(d: Int): Array[String] = {
      val n = 20 + (Rng.h(s.seed, d, 1L) % 70).toInt.abs
      Array.tabulate(n)(i =>
        Vocab((Rng.h(s.seed, d, 100L + i) >>> 1).%(Vocab.length).toInt))
    }
    val rows = (0 until s.nDocs).map { d =>
      val h = Rng.h(s.seed, d, 2L)
      val w =
        if (d >= 8 && (h & 7) == 0) {
          // near copy of an earlier document: 1–3 word substitutions
          val src = words(((h >>> 8) % d).toInt.abs)
          val edits = 1 + ((h >>> 40) % 3).toInt.abs
          (0 until edits).foreach { e =>
            val x = Rng.h(s.seed, d, 200L + e)
            src(((x >>> 1) % src.length).toInt) =
              Vocab(((x >>> 33) % Vocab.length).toInt)
          }
          src
        } else words(d)
      val text = w.mkString(" ")
      Row(d.toLong, text, Langs(((h >>> 20) % Langs.length).toInt.abs),
        s"src${d % 20}", text.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
  }

  def lineitem(spark: SparkSession, s: Spec): org.apache.spark.sql.DataFrame = {
    val seed = s.seed
    // 1–7 lines per order, keys from the counter hash (pure SQL math)
    def hk(a: Long) = xxhash64(lit(seed), lit(a), col("o"))
    spark.range(s.nOrders).toDF("o")
      .withColumn("nl", pmod(hk(1), lit(7)) + 1)
      .select(col("o"), explode(sequence(lit(1L), col("nl"))).as("ln"))
      .select(
        col("o").as("l_orderkey"),
        pmod(xxhash64(lit(seed), lit(2), col("o"), col("ln")), lit(2000L))
          .as("l_partkey"),
        pmod(xxhash64(lit(seed), lit(3), col("o"), col("ln")), lit(100L))
          .as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (pmod(xxhash64(lit(seed), lit(4), col("o"), col("ln")), lit(50L)) + 1)
          .cast("double").as("l_quantity"),
        (pmod(xxhash64(lit(seed), lit(5), col("o"), col("ln")),
          lit(10000000L)) / 100.0 + 900.0).as("l_extendedprice"),
        (pmod(xxhash64(lit(seed), lit(6), col("o"), col("ln")), lit(11L))
          / 100.0).as("l_discount"),
        (pmod(xxhash64(lit(seed), lit(7), col("o"), col("ln")), lit(9L))
          / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(xxhash64(lit(seed), lit(8), col("o"), col("ln")), lit(3L))
            + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (pmod(xxhash64(lit(seed), lit(9), col("o"), col("ln")), lit(2L))
            + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(788918400L) + pmod(xxhash64(lit(seed),
          lit(10), col("o"), col("ln")), lit(2500L)) * 86400L)
          .as("l_shipdate"))
  }

  /** Writes both tables as single-file parquet under `dir`. */
  def write(spark: SparkSession, s: Spec, dir: String): Unit = {
    documents(spark, s).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    lineitem(spark, s).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
  }

  def lineitemRows(spark: SparkSession, dir: String): Long =
    spark.read.parquet(s"$dir/lineitem.parquet").count()
}
