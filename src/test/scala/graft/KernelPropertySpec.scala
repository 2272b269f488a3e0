package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.genetics._
import graft.HofTwins._
import graft.functions.textfns._
import graft.FrameModes.frames

/** Property-based differential tests: random genotype cubes and documents
  * through BOTH the codegen kernels and their declarative HOF oracles (or,
  * for kernels without a HOF twin, plain Scala over the generated `Seq`) —
  * the randomized differential strategy of the reference's test suite
  * (inst/unitTests/test_func.R:92-283) aimed at the custom expressions.
  * Deterministic seeds keep failures reproducible. */
class KernelPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def draw[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val alleleGen: Gen[java.lang.Long] = Gen.frequency(
    (6, Gen.choose(0L, 3L).map(java.lang.Long.valueOf)),
    (2, Gen.const(null.asInstanceOf[java.lang.Long])))

  private def cubeGen(ploidy: Gen[Int]): Gen[Seq[Seq[java.lang.Long]]] = for {
    nSamples <- Gen.choose(1, 6)
    p <- ploidy
    cube <- Gen.listOfN(nSamples, Gen.listOfN(p, alleleGen))
  } yield cube.map(_.toSeq).toSeq

  test("genotype kernels agree with HOF oracles on random cubes") {
    for (round <- 1 to 6) {
      val cubes = (1 to 50).map(i =>
        draw(cubeGen(Gen.choose(1, 3)), round * 1000L + i))
      val rows = cubes.zipWithIndex.map { case (g, i) =>
        (i.toLong, g, g.indices.map(_ % 2 == 0)) }
      for ((mode, df) <- frames(spark, rows, "vid", "geno", "phased")) {
        val bad = df.select(
            nCalledAlleles(col("geno")).as("a1"),
            nCalledAllelesHof(col("geno")).cast("long").as("b1"),
            alleleCount(col("geno"), lit(1)).as("a2"),
            alleleCountHof(col("geno"), lit(1)).cast("long").as("b2"),
            dosageAlt(col("geno")).as("a3"),
            dosageAltHof(col("geno")).cast("array<long>").as("b3"),
            gtStrings(col("geno"), col("phased"), ";").as("a4"),
            gtStringsHof(col("geno"), col("phased"), ";").as("b4"))
          .filter(col("a1") =!= col("b1") || col("a2") =!= col("b2") ||
            !(col("a3") === col("b3")) || col("a4") =!= col("b4"))
          .count()
        assert(bad == 0, s"$mode round=$round")
      }
    }
  }

  test("group counts and f2 carriers agree with Seq references on random " +
      "cubes") {
    // null calls and short (haploid) calls next to diploid/triploid ones
    val callGen: Gen[Seq[java.lang.Long]] = Gen.frequency(
      (6, Gen.choose(1, 3).flatMap(p => Gen.listOfN(p, alleleGen))
        .map(_.toSeq)),
      (1, Gen.const(null.asInstanceOf[Seq[java.lang.Long]])))
    val rowGen = for {
      n <- Gen.choose(0, 8)
      g <- Gen.listOfN(n, callGen)
      d <- Gen.listOfN(n, Gen.frequency(
        (5, Gen.choose(0L, 2L).map(java.lang.Long.valueOf)),
        (2, Gen.const(null.asInstanceOf[java.lang.Long]))))
    } yield (g.toSeq, d.toSeq)
    type Call = Seq[java.lang.Long]
    // [lo, hi) inside, across either end of, beyond and empty on the cube
    val bounds = Seq((0, 8), (-2, 3), (2, 20), (-5, -1), (9, 12), (3, 2))
    def slice(g: Seq[Call], lo: Int, hi: Int): Seq[Call] =
      (math.max(lo, 0) until math.min(hi, g.size)).map(g)
    def groupGeno(g: Seq[Call], lo: Int, hi: Int): Seq[Long] = {
      val alts = slice(g, lo, hi)
        .filter(c => c != null && c.size >= 2 && c(0) != null && c(1) != null)
        .map(c => c.take(2).count(_ != 0L).toLong)
      Seq(alts.size.toLong, alts.sum, alts.count(_ == 1L).toLong)
    }
    def groupAllele(g: Seq[Call], lo: Int, hi: Int): Seq[Long] = {
      val al = slice(g, lo, hi).filter(_ != null).flatten.filter(_ != null)
      Seq(al.size.toLong, al.count(_ != 0L).toLong)
    }
    def f2(d: Seq[java.lang.Long]): Seq[Long] = {
      val carriers = d.indices.filter(i => d(i) != null && d(i) > 0L)
      Seq(d.filter(_ != null).map(_.longValue).sum,
        carriers.headOption.fold(-1L)(_.toLong),
        carriers.lastOption.fold(-1L)(_.toLong))
    }
    val cols = col("vid") +: f2Carriers(col("d")) +:
      bounds.flatMap { case (lo, hi) =>
        Seq(groupGenoCounts(col("geno"), lo, hi),
          groupAlleleCounts(col("geno"), lo, hi))
      }
    for (round <- 1 to 6) {
      val rows = (1 to 50).map(i => draw(rowGen, 8100L * round + i))
      val data = rows.zipWithIndex.map { case ((g, d), i) => (i.toLong, g, d) }
      for ((mode, df) <- frames(spark, data, "vid", "geno", "d")) {
        df.select(cols: _*).collect().foreach { r =>
          val (g, d) = rows(r.getLong(0).toInt)
          val got = (1 until r.length).map(r.getSeq[Long](_))
          val want = f2(d) +: bounds.flatMap { case (lo, hi) =>
            Seq(groupGeno(g, lo, hi), groupAllele(g, lo, hi)) }
          assert(got == want, s"$mode round=$round geno=$g d=$d")
        }
      }
    }
  }

  test("geno_stats over stored gds planes == GenoStats over the copied " +
      "rows, random containers, both execution modes") {
    import spark.implicits._
    import graft.functions.expressions.GenoStatsRaw
    val nullCode = null.asInstanceOf[java.lang.Long]
    // `len` alleles with codes 0..maxCode and partial missingness; a call
    // shorter than the file's ploidy is padded missing (haploid calls in a
    // diploid file), and a code of 3 or 4 puts a site on two planes
    def callGen(len: Gen[Int], maxCode: Long): Gen[Seq[java.lang.Long]] =
      len.flatMap(n => Gen.listOfN(n, Gen.frequency(
        (6, Gen.choose(0L, maxCode).map(java.lang.Long.valueOf)),
        (1, Gen.const(nullCode)))).map(_.toSeq))
    def siteGen(nS: Int, ploidy: Int, full: Boolean) = for {
      maxCode <- Gen.oneOf(1L, 2L, 4L)
      len = if (full) Gen.const(ploidy)
        else Gen.frequency((8, Gen.const(ploidy)), (1, Gen.choose(1, ploidy)))
      row <- Gen.listOfN(nS, callGen(len, maxCode))
    } yield (maxCode, row.toSeq)
    val fileGen = for {
      nS <- Gen.frequency((4, Gen.choose(1, 9)), (1, Gen.choose(30, 70)))
      ploidy <- Gen.frequency((4, Gen.const(2)), (1, Gen.const(1)),
        (1, Gen.const(3)))
      nVar <- Gen.choose(5, 30)
      // the first site fixes the container ploidy, so its calls are full
      first <- siteGen(nS, ploidy, full = true)
      rest <- Gen.listOfN(nVar - 1, siteGen(nS, ploidy, full = false))
      n <- Gen.choose(1, nS)
      sel <- Gen.pick(n, 0 until nS)
    } yield (nS, first +: rest, new scala.util.Random(nS).shuffle(sel.toSeq))
    def planes(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[GenoStatsRaw])))
    val ks = -1 to 5
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.select(col("variant_id") +:
        ks.map(k => genoStats(col("geno"), lit(k))): _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (1 to ks.size).map(r.getSeq[Long](_))).toMap
    val alleles = Map(1L -> "A,G", 2L -> "A,C,G", 4L -> "A,C,G,T,AT")
    for (round <- 1 to 10) {
      val (nS, sites, sel) = draw(fileGen, 51000L + round)
      val path = java.nio.file.Files.createTempDirectory("graft_planes")
        .toString + "/r.gds"
      graft.sources.gds.GdsWrite.write(
        sites.zipWithIndex.map { case ((maxCode, row), v) =>
          (v + 1L, "1", (v + 1) * 10, alleles(maxCode), row)
        }.toDF("variant_id", "chrom", "pos", "allele", "geno"),
        (0 until nS).map(i => s"S$i"), path, "ZIP_ra")
      for ((what, rel) <- Seq(
          "all" -> spark.read.format("gds").load(path),
          s"samples=${sel.mkString(",")}" -> spark.read.format("gds")
            .option("samples", sel.mkString(",")).load(path))) {
        val copy = spark.createDataFrame(rel.rdd, rel.schema)
        for ((mode, wholeStage, factory) <- Seq(
            ("interpreted", "false", "NO_CODEGEN"),
            ("codegen", "true", "CODEGEN_ONLY"))) {
          spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
          spark.conf.set("spark.sql.codegen.factoryMode", factory)
          try {
            val got = stats(rel)
            val want = stats(copy)
            val ctx = s"$mode round=$round nS=$nS $what"
            assert(planes(got) && !planes(want), ctx)
            assert(rows(got) == rows(want), ctx)
          } finally {
            spark.conf.unset("spark.sql.codegen.wholeStage")
            spark.conf.unset("spark.sql.codegen.factoryMode")
          }
        }
      }
    }
  }

  test("2-bit codec: unpack∘pack == ref dosage on random diploid cubes") {
    for (round <- 1 to 6) {
      val cubes = (1 to 50).map(i =>
        draw(cubeGen(Gen.const(2)), 7000L * round + i))
      val rows = cubes.zipWithIndex.map { case (g, i) => (i.toLong, g) }
      for ((mode, df) <- frames(spark, rows, "vid", "geno")) {
        val bad = df.select(
            unpack2b(pack2b(col("geno")), size(col("geno"))).as("up"),
            dosageRef(col("geno")).cast("array<int>").as("dr"))
          .filter(!(col("up") === col("dr"))).count()
        assert(bad == 0, s"$mode round=$round")
      }
    }
  }

  test("code_count_packed == unpack-and-count on random diploid cubes") {
    for (round <- 1 to 4) {
      val cubes = (1 to 50).map(i =>
        draw(cubeGen(Gen.const(2)), 9100L * round + i))
      val rows = cubes.zipWithIndex.map { case (g, i) => (i.toLong, g) }
      for ((mode, in) <- frames(spark, rows, "vid", "geno")) {
        val df = in
          .select(pack2b(col("geno")).as("pg"), size(col("geno")).as("n"))
        // the kernel's 4 class counts vs counting the HOF-unpacked codes
        // (null = missing = code 3); widths here exercise the partial-byte
        // tail path the per-byte tables skip
        val bad = df.select((0 to 3).map { c =>
            (codeCountPacked(col("pg"), col("n"), c) =!=
              size(filter(unpack2b(col("pg"), col("n")), x =>
                if (c == 3) x.isNull else x === c))).as(s"bad$c")
          }: _*)
          .filter((0 to 3).map(c => col(s"bad$c")).reduce(_ || _)).count()
        assert(bad == 0, s"$mode round=$round")
      }
    }
  }

  test("packed kernels reject an n that needs more bytes than the value " +
      "holds") {
    // 2 bytes carry 8 samples: n = 8 reads them all, n = 9 needs a third
    val rows = Seq((Array[Byte](0x1b, 0x1b), 8), (Array[Byte](0x1b, 0x1b), 9))
    val kernels = Seq(
      "geno_stats_packed" -> genoStatsPacked(col("pg"), col("n")),
      "code_count_packed" -> codeCountPacked(col("pg"), col("n"), 1),
      "unpack_2b" -> unpack2b(col("pg"), col("n")))
    for ((mode, df) <- frames(spark, rows, "pg", "n");
         (fn, k) <- kernels) {
      assert(df.filter(col("n") === 8).select(k).collect().length == 1,
        s"$fn $mode: n covered by the bytes")
      val e = intercept[Exception](
        df.filter(col("n") === 9).select(k).collect())
      val bad = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).collectFirst {
          case iae: IllegalArgumentException => iae.getMessage
        }
      assert(bad.exists(m => m.contains(fn) && m.contains("n = 9") &&
        m.contains("has 2")), s"$fn $mode: $e")
    }
  }

  test("round-4 kernels agree with HOF oracles on random inputs") {
    import graft.functions.vectorfns.srpBucket
    // sample_cells: arbitrary ragged cubes + a per-sample field column
    for (round <- 1 to 4) {
      val cubes = (1 to 40).map(i =>
        draw(cubeGen(Gen.choose(1, 3)), 11000L * round + i))
      val rows = cubes.zipWithIndex.map { case (g, i) =>
        (i.toLong, g, g.indices.map(_ % 2 == 0),
          g.indices.map(s => if ((i + s) % 4 == 0) null else s"f$s"))
      }
      val gtArr = split(gtStrings(col("geno"), col("phased"), "\t"), "\t")
      val oracle = array_join(
        transform(sequence(lit(1), size(col("geno"))), i =>
          concat(element_at(gtArr, i), lit(":"),
            coalesce(element_at(col("fld"), i), lit(".")))), "\t")
      for ((mode, df) <- frames(spark, rows, "vid", "geno", "phased", "fld")) {
        val bad = df.select(
            sampleCells(col("geno"), col("phased"), "\t",
              Seq(col("fld"))).as("a"),
            oracle.as("b"))
          .filter(col("a") =!= col("b")).count()
        assert(bad == 0, s"sample_cells $mode round=$round")
      }
    }
    // srp_bucket: random null-free quantized vectors (non-empty — the
    // HOF oracle's sequence(1, size) steps backwards on size 0), all 4
    // tables
    val vecGen = Gen.choose(1, 80).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1000L, 1000L)))
    for (round <- 1 to 4) {
      val vecs = (1 to 60).map(i => draw(vecGen, 13000L * round + i))
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      for ((mode, df) <- frames(spark, rows, "id", "qv")) {
        val bad = df.select(
            (0 until 4).map(t => (srpBucket(col("qv"), 16, t) =!=
              srpBucketHof(col("qv"), 16, t)).as(s"d$t")): _*)
          .filter((0 until 4).map(t => col(s"d$t")).reduce(_ || _)).count()
        assert(bad == 0, s"srp $mode round=$round")
      }
    }
    // minhash_sig: random shingle sets incl. empty
    val shingleGen = Gen.choose(0, 25).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("a b c", "b c d", "x y z", "q w e", "spark sql x")))
    for (round <- 1 to 4) {
      val sets = (1 to 60).map(i => draw(shingleGen, 17000L * round + i))
      val rows = sets.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      for ((mode, df) <- frames(spark, rows, "id", "sh")) {
        val bad = df.select(
            minhashSignature(col("sh"), 8).as("a"),
            minhashSignatureHof(col("sh"), 8).as("b"))
          .filter(!(col("a") === col("b"))).count()
        assert(bad == 0, s"minhash $mode round=$round")
      }
    }
  }

  test("text kernels agree with HOF oracles on random token soup") {
    val word = Gen.oneOf("spark", "sort", "a", "b", "xy", "zq", "data")
    val textGen = Gen.choose(0, 30)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    for (round <- 1 to 6) {
      val texts = (1 to 60).map(i => draw(textGen, 9000L * round + i))
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      for ((mode, df) <- frames(spark, rows, "id", "text")) {
        val bad = df.select(
            shingles(col("text"), 3).as("a1"),
            wordShingles(tokens(col("text")), 3).as("b1"),
            simhash16Text(col("text")).as("a2"),
            simhash16(tokens(col("text"))).as("b2"))
          .filter(!(col("a1") === col("b1")) || col("a2") =!= col("b2"))
          .count()
        assert(bad == 0, s"$mode round=$round")
      }
    }
  }

  test("similarityJoin == brute force on random tiny-vocab corpora") {
    import spark.implicits._
    // a 6-word vocabulary maximizes shingle collisions — the adversarial
    // case for the prefix/position/length filters; thresholds cover a
    // double BELOW its rational (0.6), exact (0.5), and ABOVE (0.8 —
    // the case where an unguarded ceil over-prunes)
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val docGen = Gen.choose(5, 14).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    for ((threshold, round) <- Seq(0.5, 0.6, 0.8).zipWithIndex) {
      // 25 random bases + a near-duplicate of each (one word appended /
      // first word dropped) so every threshold, 0.8 included, has true
      // pairs to miss — without them the lossless check is vacuous
      val bases = (1 to 25).map(i => draw(docGen, 17000L * (round + 1) + i))
      val texts = bases ++ bases.zipWithIndex.map { case (t, i) =>
        if (i % 2 == 0) t + " " + draw(word, 900L * round + i)
        else t.split(" ").drop(1).mkString(" ")
      }
      val docs = texts.zipWithIndex
        .map { case (t, i) => (f"d$i%03d", t) }.toDF("doc_id", "text")
      val got = graft.pipeline.TrainingData
        .similarityJoin(docs, threshold = threshold)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val sh = docs.select(col("doc_id"), shingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      val want = sh.as("a").join(sh.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .filter(jaccard(col("a.sh"), col("b.sh")) >= threshold)
        .select(col("a.doc_id"), col("b.doc_id")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == want,
        s"threshold=$threshold missed=${want -- got} extra=${got -- want}")
    }
  }

  test("similarityJoin golden: 0.8-threshold prefix boundary pair") {
    import spark.implicits._
    // base = 12 distinct words (10 distinct shingles); variant drops the
    // first two words (8 shared shingles; jac = 8/10 = exactly 0.8).
    // The two base-only shingles have df=1 and fill the head of base's
    // rarest-first order, so the pair survives ONLY through the last
    // prefix slot and the position/length filters at their exact
    // bounds — the adversarial boundary for every pruning filter at a
    // threshold whose double sits above its rational value.
    val words = (1 to 12).map(i => f"t$i%02d")
    val docs = Seq(
      ("a", words.mkString(" ")),
      ("b", words.drop(2).mkString(" "))).toDF("doc_id", "text")
    val got = graft.pipeline.TrainingData
      .similarityJoin(docs, threshold = 0.8).collect()
    assert(got.length == 1, s"expected the boundary pair, got ${got.toSeq}")
    assert(got(0).getString(0) == "a" && got(0).getString(1) == "b")
    assert(math.abs(got(0).getDouble(2) - 0.8) < 1e-12)
  }

  test("PQ/LD kernels agree with HOF oracles on random vectors") {
    import graft.functions.vectorfns._
    // l2 + pq: null-free vectors (the pipeline never produces null
    // components; the HOF twins propagate nulls differently by design)
    val m = 3; val dsub = 2
    val dimGen = Gen.choose(-50L, 50L)
    val vecGen = Gen.listOfN(m * dsub, dimGen)
    val cbGen = Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, vecGen))
    for (round <- 1 to 4) {
      val rows = (1 to 60).map { i =>
        (i.toLong, draw(vecGen, 21000L * round + i),
          draw(vecGen, 22000L * round + i),
          draw(cbGen, 23000L * round + i))
      }
      for ((mode, df) <- frames(spark, rows, "id", "va", "vb", "cbs")) {
        val bad = df.select(
            l2Long(col("va"), col("vb")).as("a1"),
            l2LongHof(col("va"), col("vb")).as("b1"),
            pqEncode(col("va"), col("cbs"), m, dsub).as("a2"),
            pqEncodeHof(col("va"), col("cbs"), m, dsub).as("b2"))
          .filter(col("a1") =!= col("b1") || !(col("a2") === col("b2")))
          .count()
        assert(bad == 0, s"pq $mode round=$round")
      }
    }
    // adc: per-row distance tables + in-range codes
    val dtabGen = Gen.listOfN(m, Gen.choose(2, 4).flatMap(k =>
      Gen.listOfN(k, Gen.choose(0L, 1000L))))
    for (round <- 1 to 4) {
      val rows = (1 to 60).map { i =>
        val dtab = draw(dtabGen, 31000L * round + i)
        val codes = dtab.zipWithIndex.map { case (r, j) =>
          (i + j) % r.length }
        (i.toLong, dtab, codes)
      }
      for ((mode, df) <- frames(spark, rows, "id", "dtab", "codes")) {
        val bad = df.select(
            pqAdc(col("dtab"), col("codes")).as("a"),
            pqAdcHof(col("dtab"), col("codes")).as("b"))
          .filter(col("a") =!= col("b")).count()
        assert(bad == 0, s"adc $mode round=$round")
      }
    }
    // ld_pair_stats: nullable dosage-like vectors (the kernel's whole
    // point is the both-non-null pairwise-complete rule)
    val dGen: Gen[java.lang.Long] = Gen.frequency(
      (5, Gen.choose(0L, 2L).map(java.lang.Long.valueOf)),
      (2, Gen.const(null.asInstanceOf[java.lang.Long])))
    val dvGen = Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, dGen))
    for (round <- 1 to 4) {
      val rows = (1 to 60).map { i =>
        (i.toLong, draw(dvGen, 41000L * round + i).toSeq,
          draw(dvGen, 42000L * round + i).toSeq)
      }
      for ((mode, df) <- frames(spark, rows, "id", "da", "db")) {
        val bad = df.select(
            ldPairStats(col("da"), col("db")).as("a"),
            ldPairStatsHof(col("da"), col("db")).as("b"))
          .filter(!(col("a") === col("b"))).count()
        assert(bad == 0, s"ld $mode round=$round")
      }
    }
  }

  private def byId(df: org.apache.spark.sql.DataFrame,
      c: org.apache.spark.sql.Column): Map[Long, Seq[Any]] =
    df.select(col("id"), c).collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap

  test("cdc_chunks kernel agrees with its HOF oracle on random ASCII") {
    // same ASCII regime as the winnow test; small d forces many cuts,
    // lengths straddle both the empty-text and the n<k single-chunk edges
    val charGen = Gen.choose(32, 126).map(_.toChar)
    val textGen = Gen.choose(0, 40)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    for (round <- 1 to 6) {
      val texts = (1 to 80).map(i => draw(textGen, 15000L * round + i))
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      for ((mode, df) <- frames(spark, rows, "id", "text"))
        assert(byId(df, cdcChunks(col("text"), 8, 4)) ==
          byId(df, cdcChunksHof(col("text"), 8, 4)), s"cdc $mode round=$round")
    }
  }

  test("winnow_fps kernel agrees with its HOF oracle on random ASCII") {
    // printable ASCII (the HOF twin indexes UTF-16 chars; the kernel walks
    // code points — identical off the supplementary planes, and the corpus
    // is ASCII); lengths straddle the k+w-1 empty-result boundary
    val charGen = Gen.choose(32, 126).map(_.toChar)
    val textGen = Gen.choose(0, 40)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    for (round <- 1 to 6) {
      val texts = (1 to 80).map(i => draw(textGen, 13000L * round + i))
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val dfs = frames(spark, rows, "id", "text")
      // the HOF twin re-evaluates its captured arrays inside each lambda
      // call, so its oracle runs once, over the local frame; the kernel
      // runs over both
      val want = byId(dfs.head._2, winnowFpsHof(col("text"), 8, 4))
      for ((mode, df) <- dfs)
        assert(byId(df, winnowFps(col("text"), 8, 4)) == want,
          s"winnow $mode round=$round")
    }
  }
}
