package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.genetics._
import graft.genomics.SynthGeno
import graft.sources.bed.Bed

class BedSpec extends AnyFunSuite {
  lazy val spark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  test("hand-built .bed decodes per the reference cvt tables") {
    // 6 samples, 2 variants; bed codes per sample:
    //   v0: 00 01 10 11 00 10  → engine 0 3 1 2 0 1 → dosage 0 . 1 2 0 1
    //   v1: 11 11 01 00 10 01  → engine 2 2 3 0 1 3 → dosage 2 2 . 0 1 .
    val dir = java.nio.file.Files.createTempDirectory("graft_bed").toString
    val p = s"$dir/tiny"
    // rowBytes = ceil(6/4) = 2; sample s sits at bits (s%4)*2 of byte s/4
    def packBed(codes: Seq[Int]): Array[Byte] = {
      val out = new Array[Byte]((codes.length + 3) / 4)
      codes.zipWithIndex.foreach { case (c, i) =>
        out(i >> 2) = (out(i >> 2) | (c << ((i & 3) << 1))).toByte
      }
      out
    }
    val bed = new java.io.FileOutputStream(p + ".bed")
    bed.write(Array(0x6c, 0x1b, 0x01).map(_.toByte))
    bed.write(packBed(Seq(0, 1, 2, 3, 0, 2)))
    bed.write(packBed(Seq(3, 3, 1, 0, 2, 1)))
    bed.close()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p + ".fam"),
      (1 to 6).map(i => s"F$i I$i 0 0 1 -9").mkString("\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p + ".bim"),
      "1\trs1\t0\t100\tC\tA\n1\trs2\t0\t200\tG\tT\n")

    val df = Bed.read(spark, p).orderBy("vid")
      .select(col("vid"), col("chrom"), col("pos"), col("id"), col("allele"),
        unpack2b(col("pg"), lit(6)).as("dos"))
      .collect()
    assert(df(0).getString(4) == "A,C" && df(1).getString(4) == "T,G")
    assert(df(0).getInt(2) == 100 && df(1).getString(3) == "rs2")
    assert(df(0).getSeq[Any](5) == Seq(0, null, 1, 2, 0, 1))
    assert(df(1).getSeq[Any](5) == Seq(2, 2, null, 0, 1, null))
    assert(Bed.sampleIds(Bed.readFam(p + ".fam")) ==
      (1 to 6).map(i => s"I$i"))
  }

  test("write → read round-trips the SynthGeno cube") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bed").toString
    val p = s"$dir/synth"
    val src = SynthGeno.variants(spark, "/root/testdata/sf0.001")
      .select(col("vid"), col("chrom"), col("pos"),
        col("vid").cast("string").as("id"),
        lit("A,C").as("allele"), pack2b(col("geno")).as("pg"))
    Bed.write(src, "vid", (0 until SynthGeno.nSamples).map(s => s"S$s"), p)

    val back = Bed.read(spark, p)
    assert(back.count() == src.count())
    // bed row order = vid order, so the bim id column carries vid through
    val a = src.select(col("vid"), col("chrom"), col("pos"), col("pg"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1)
    val b = back.select(col("id"), col("chrom"), col("pos"), col("pg"))
      .collect().map(r => (r.getString(0).toLong, r.getString(1),
        r.getInt(2).toLong, r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(Bed.sampleIds(Bed.readFam(p + ".fam")) ==
      (0 until SynthGeno.nSamples).map(s => s"S$s"))
  }

  /** A 5-sample fileset of `bedRows` .bed rows and `bimLines` .bim
    * lines; returns its prefix. */
  private def fileset(bedRows: Int, bimLines: Int): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_bed").toString +
      "/mismatch"
    val bed = new java.io.FileOutputStream(p + ".bed")
    bed.write(Array(0x6c, 0x1b, 0x01).map(_.toByte))
    for (v <- 0 until bedRows) bed.write(Array[Byte](v.toByte, 3))
    bed.close()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p + ".fam"),
      (1 to 5).map(i => s"F$i I$i 0 0 1 -9").mkString("\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p + ".bim"),
      (0 until bimLines).map(v => s"1\trs$v\t0\t${100 + v}\tC\tA\n").mkString)
    p
  }

  test("a .bed/.bim row-count mismatch raises, naming the fileset and " +
      "the unmatched row") {
    assert(Bed.read(spark, fileset(3, 3)).count() == 3)
    for (((bedRows, bimLines), row) <- Seq(
        (2, 3) -> ".bim line 3", // the .bed lost its last row
        (3, 2) -> ".bed row 3", // the .bim lost its last line
        (3, 4) -> ".bim line 4")) { // the .bim has an extra line
      val p = fileset(bedRows, bimLines)
      val df = Bed.read(spark, p) // lazy: the mismatch shows at the action
      val e = intercept[Exception](df.collect())
      val msg = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msg.contains(p) && msg.contains(row), msg)
    }
  }

  test("Bed.read runs no Spark job over a .bim of several input splits") {
    val p = fileset(400, 400)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(Option(js.properties)
          .flatMap(ps => Option(ps.getProperty("spark.job.description")))
          .getOrElse("")); ()
      }
    }
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.sparkContext.addSparkListener(listener)
    try {
      // ~8 KB of .bim lines: four or more input splits of 2 KB
      assert(spark.read.text(p + ".bim").rdd.getNumPartitions > 1)
      val df = Bed.read(spark, p)
      // the listener bus delivers in order: once a sentinel job shows,
      // every job started before it has shown too
      spark.sparkContext.setJobDescription("sentinel")
      spark.sparkContext.parallelize(Seq(1)).count()
      spark.sparkContext.setJobDescription(null)
      var waited = 0
      while (!jobs.contains("sentinel") && waited < 10000) {
        Thread.sleep(50); waited += 50
      }
      assert(jobs.contains("sentinel"), "the listener saw no job at all")
      assert(jobs.size == 1, s"Bed.read ran jobs: $jobs")
      // the lines keep their file order across the splits
      val got = df.select(col("vid"), col("id"), col("pos")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sortBy(_._1)
      assert(got.toSeq == (0 until 400).map(v => (v.toLong, s"rs$v", 100 + v)))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("dup sample ids fall back to family-individual") {
    val fam = Seq(Bed.Fam("F1", "A", "0", "0", "1", "-9"),
      Bed.Fam("F2", "A", "0", "0", "1", "-9"))
    assert(Bed.sampleIds(fam) == Seq("F1-A", "F2-A"))
  }
}
