package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.HofTwins._
import graft.operators.MergeVariants._

/** Golden + differential tests for the merge kernels (allele-set union and
  * genotype index remap), mirroring the reference's multi-file merge cases
  * (SEQ_MergeAllele/SEQ_MergeGeno, src/FileMerge.cpp). */
class MergeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df = {
    import spark.implicits._
    Seq(
      ("A,C,G", "A,G,T",
        Seq(Seq[java.lang.Long](0L, 2L), Seq[java.lang.Long](1L, null))),
      ("A,C", "A,C",
        Seq(Seq[java.lang.Long](1L, 1L), Seq[java.lang.Long](null, null)))
    ).toDF("sa", "sb", "gb")
  }

  test("allele union golden: order preserved, right-only appended") {
    val r = df.select(alleleUnion(col("sa"), col("sb"))).collect()
    assert(r(0).getString(0) == "A,C,G,T")
    assert(r(1).getString(0) == "A,C")
  }

  test("remap golden: indices re-coded into the union list") {
    // gb is coded in sb ("A,G,T"); union(sa,sb) = "A,C,G,T":
    //   0 (A) -> 0, 1 (G) -> 2, 2 (T) -> 3, null stays null
    val r = df.select(remapGeno(col("gb"), col("sb"),
      alleleUnion(col("sa"), col("sb"))).as("rg")).collect()
    assert(r(0).getSeq[collection.Seq[Any]](0) ==
      Seq(Seq(0L, 3L), Seq(2L, null)))
    assert(r(1).getSeq[collection.Seq[Any]](0) ==
      Seq(Seq(1L, 1L), Seq(null, null)))
  }

  test("codegen merge kernels == declarative HOF reference") {
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val diff = df.select(
            alleleUnion(col("sa"), col("sb")).as("u1"),
            alleleUnionHof(col("sa"), col("sb")).as("u2"),
            remapGeno(col("gb"), col("sb"),
              alleleUnionHof(col("sa"), col("sb"))).as("r1"),
            remapGenoHof(col("gb"), col("sb"),
              alleleUnionHof(col("sa"), col("sb"))).as("r2"))
          .filter(col("u1") =!= col("u2") || !(col("r1") === col("r2")))
          .count()
        assert(diff == 0, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("mergeN(3) == the iterated pairwise fold, bit-for-bit " +
      "(allele order, remapped indices, per-file presence)") {
    import spark.implicits._
    def mk(rows: Seq[(Long, String, Seq[Seq[java.lang.Long]],
        Seq[Boolean])]) =
      rows.toDF("vid", "alleles", "geno", "phased")
    def g(a: java.lang.Long, b: java.lang.Long) = Seq(Seq(a, b))
    // overlapping vids, three different ALT orderings, missing calls
    val a = mk(Seq(
      (1L, "A,C,G", g(0L, 2L), Seq(true)),
      (2L, "A,C,G", g(1L, null), Seq(false)),
      (3L, "A,C", g(0L, 1L), Seq(true)),
      (4L, "A,C,G,T", g(3L, 0L), Seq(false))))
    val b = mk(Seq(
      (2L, "A,G,C", g(1L, 2L), Seq(true)),
      (3L, "A,T", g(1L, 1L), Seq(false)),
      (5L, "A,G", g(0L, 1L), Seq(true))))
    val c = mk(Seq(
      (3L, "A,C,T", g(2L, null), Seq(false)),
      (4L, "A,T,G,C", g(1L, 3L), Seq(true)),
      (5L, "A,G", g(null, null), Seq(false)),
      (6L, "A,C", g(1L, 0L), Seq(true))))
    val got = mergeN(Seq(a, b, c))
      .orderBy(col("vid"), col("file")).collect().map(_.toString).toSeq
    // iterated pairwise reference: full-outer join chain, allele fold
    // in file order, per-file remap into the final merged list
    def ren(df: org.apache.spark.sql.DataFrame, i: Int) = df.select(
      col("vid"), col("alleles").as(s"s$i"), col("geno").as(s"g$i"),
      col("phased").as(s"p$i"))
    val ab = ren(a, 0).join(ren(b, 1), Seq("vid"), "full_outer")
      .withColumn("m01",
        when(col("s0").isNotNull && col("s1").isNotNull,
          alleleUnion(col("s0"), col("s1")))
          .otherwise(coalesce(col("s0"), col("s1"))))
    val abc = ab.join(ren(c, 2), Seq("vid"), "full_outer")
      .withColumn("m",
        when(col("m01").isNotNull && col("s2").isNotNull,
          alleleUnion(col("m01"), col("s2")))
          .otherwise(coalesce(col("m01"), col("s2"))))
    val exp = (0 to 2).map { i =>
      abc.filter(col(s"s$i").isNotNull).select(col("vid"),
        lit(i).as("file"), col("m").as("alleles"),
        remapGeno(col(s"g$i"), col(s"s$i"), col("m")).as("geno"),
        col(s"p$i").as("phased"))
    }.reduce(_ unionByName _)
      .orderBy(col("vid"), col("file")).collect().map(_.toString).toSeq
    assert(got == exp)
    assert(got.size == 11) // 4 + 3 + 4 per-file rows survive
  }

  test("mergeN(4) fuzz: random allele orders/subsets/missingness == " +
      "the iterated pairwise fold, three seeds") {
    import spark.implicits._
    for (seed <- Seq(7L, 42L, 1234L)) {
      val rnd = new scala.util.Random(seed)
      val letters = Seq("A", "C", "G", "T")
      def mkFile(): org.apache.spark.sql.DataFrame = {
        val rows = (1L to 30L).filter(_ => rnd.nextDouble() < 0.6)
          .map { vid =>
            // REF fixed at A; ALTs a random non-empty ordered subset
            val alts = rnd.shuffle(letters.tail)
              .take(1 + rnd.nextInt(3))
            val alleles = ("A" +: alts).mkString(",")
            val n = alts.length + 1
            val geno = Seq.fill(2)(Seq.fill(2)(
              if (rnd.nextDouble() < 0.2) null
              else java.lang.Long.valueOf(rnd.nextInt(n).toLong)))
            val phased = Seq.fill(2)(rnd.nextBoolean())
            (vid, alleles, geno, phased)
          }
        rows.toDF("vid", "alleles", "geno", "phased")
      }
      val files = Seq.fill(4)(mkFile())
      val got = mergeN(files)
        .orderBy(col("vid"), col("file")).collect()
        .map(_.toString).toSeq
      // iterated pairwise: fold the merged-allele chain left to right,
      // then remap each file against the final merged list
      def ren(df: org.apache.spark.sql.DataFrame, i: Int) = df.select(
        col("vid"), col("alleles").as(s"s$i"), col("geno").as(s"g$i"),
        col("phased").as(s"p$i"))
      val joined = files.zipWithIndex.map((ren _).tupled)
        .reduceLeft((l, r) => l.join(r, Seq("vid"), "full_outer"))
      val m = files.indices.tail.foldLeft(col("s0")) { (acc, i) =>
        when(acc.isNotNull && col(s"s$i").isNotNull,
          alleleUnion(acc, col(s"s$i")))
          .otherwise(coalesce(acc, col(s"s$i")))
      }
      val withM = joined.withColumn("m", m)
      val exp = files.indices.map { i =>
        withM.filter(col(s"s$i").isNotNull).select(col("vid"),
          lit(i).as("file"), col("m").as("alleles"),
          remapGeno(col(s"g$i"), col(s"s$i"), col("m")).as("geno"),
          col(s"p$i").as("phased"))
      }.reduce(_ unionByName _)
        .orderBy(col("vid"), col("file")).collect()
        .map(_.toString).toSeq
      assert(got == exp, s"seed=$seed")
      assert(got.nonEmpty, s"seed=$seed produced an empty merge")
    }
  }

  test("mergeNSamples(3) == the iterated pairwise sample union " +
      "(concat in file order, all-missing fill for absent variants)") {
    import spark.implicits._
    def g(pairs: (java.lang.Long, java.lang.Long)*) =
      pairs.map(p => Seq(p._1, p._2))
    def mk(rows: Seq[(Long, Seq[Seq[java.lang.Long]], Seq[Boolean])]) =
      rows.toDF("vid", "geno", "phased")
    val a = mk(Seq( // 2 samples
      (1L, g((0L, 1L), (1L, 1L)), Seq(true, false)),
      (2L, g((0L, 0L), (null, null)), Seq(false, false))))
    val b = mk(Seq( // 1 sample
      (1L, g((2L, 0L)), Seq(true)),
      (3L, g((1L, 1L)), Seq(false))))
    val c = mk(Seq( // 2 samples
      (2L, g((1L, 0L), (0L, 0L)), Seq(true, true)),
      (3L, g((null, 0L), (2L, 2L)), Seq(false, true))))
    val got = mergeNSamples(Seq(a, b, c), Seq(2, 1, 2))
      .orderBy(col("vid")).collect().map(_.toString).toSeq
    // pairwise reference: two iterated full-outer joins with fills
    def ren(df: org.apache.spark.sql.DataFrame, i: Int) = df.select(
      col("vid"), col("geno").as(s"g$i"), col("phased").as(s"p$i"))
    def nulls(k: Int) = array(Seq.fill(k)(
      array(lit(null).cast("long"), lit(null).cast("long"))): _*)
    def falses(k: Int) = array(Seq.fill(k)(lit(false)): _*)
    val ab = ren(a, 0).join(ren(b, 1), Seq("vid"), "full_outer")
      .select(col("vid"),
        concat(coalesce(col("g0"), nulls(2)),
          coalesce(col("g1"), nulls(1))).as("gab"),
        concat(coalesce(col("p0"), falses(2)),
          coalesce(col("p1"), falses(1))).as("pab"))
    val abc = ab.join(ren(c, 2), Seq("vid"), "full_outer")
      .select(col("vid"),
        concat(coalesce(col("gab"), nulls(3)),
          coalesce(col("g2"), nulls(2))).as("geno"),
        concat(coalesce(col("pab"), falses(3)),
          coalesce(col("p2"), falses(2))).as("phased"))
    val exp = abc.orderBy(col("vid")).collect().map(_.toString).toSeq
    assert(got == exp)
    assert(got.size == 3)
  }

  test("q298/q307 expression-carve restructure == the round-11 " +
      "mergeN/mergeNSamples shape on sf0.001 (dedup decode included)") {
    // round-12 optimization twin: both queries replaced the union +
    // groupBy merge (file membership is a deterministic vid-modulus
    // function) and the max(struct) dedup (argmax on the injective
    // serialized key + decode). This rebuilds the OLD pipeline verbatim
    // and compares row sets.
    import org.apache.spark.sql.graft.Bridge
    import graft.genomics.SynthGeno
    import graft.functions.genetics._
    val dir = "/root/testdata/sf0.001"
    val gs = Bridge.column(graft.functions.expressions.GenoKeyExpr(
      Bridge.expression(col("geno"))))
    val ps = array_join(col("phased").cast("array<string>"), ",")
    val dedup = SynthGeno.variants(spark, dir)
      .withColumn("k", concat_ws("~", col("nall").cast("string"), gs, ps))
      .groupBy(col("vid"))
      .agg(max(struct(col("k"), col("nall"), col("geno"),
        col("phased"))).as("m"))
      .select(col("vid"), col("m.nall").as("nall"),
        col("m.geno").as("geno"), col("m.phased").as("phased"))
    val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
    val full = transform(sequence(lit(1), col("nall").cast("int")),
      i => element_at(letters, i))
    val v = dedup.select(
      col("vid"), col("geno"), col("phased"), col("nall"),
      array_join(full, ",").as("stra"),
      array_join(
        concat(slice(full, 1, 1), reverse(slice(full, 2, 3))), ",")
        .as("strb"),
      array_join(concat(slice(full, 1, 1),
        array(element_at(full, col("nall").cast("int"))),
        slice(full, lit(2), col("nall").cast("int") - 2)), ",")
        .as("strc"))
    def carve298(m: Int, alleles: String) =
      v.filter(col("vid") % m === 0)
        .select(col("vid"), col(alleles).as("alleles"), col("geno"),
          col("phased"))
    val old298 = mergeN(
        Seq(carve298(2, "stra"), carve298(3, "strb"), carve298(5, "strc")))
      .select(col("vid"), col("file"), col("alleles"),
        gtStrings(col("geno"), col("phased"), ";").as("gts"))
      .collect().map(_.toString).sorted.toSeq
    val new298 = graft.SparkEntry.queries("q298_merge_nway")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(new298 == old298)
    assert(new298.nonEmpty)
    def carve307(m: Int, from: Int, n: Int) =
      v.filter(col("vid") % m === 0)
        .select(col("vid"), slice(col("geno"), from, n).as("geno"),
          slice(col("phased"), from, n).as("phased"))
    val old307 = mergeNSamples(
        Seq(carve307(2, 1, 3), carve307(3, 4, 2), carve307(1, 6, 3)),
        Seq(3, 2, 3))
      .select(col("vid"),
        gtStrings(col("geno"), col("phased"), ";").as("gts"),
        nCalledAlleles(col("geno")).as("n_called"))
      .collect().map(_.toString).sorted.toSeq
    val new307 =
      graft.SparkEntry.queries("q307_merge_nway_samples")(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    assert(new307 == old307)
    assert(new307.nonEmpty)
  }
}
