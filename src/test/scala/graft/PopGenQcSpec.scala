package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graphs, Multimodal, PopGen}

/** Round-8 second-wave gates: ROH gaps-and-islands semantics (incl.
  * the duplicate-locus collapse that makes the islands deterministic),
  * histogram-quantile error bounds, and deterministic label
  * propagation on a known community graph. */
class PopGenQcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("rohRuns golden: run splitting, minSites floor, span arithmetic") {
    import spark.implicits._
    // sample 0, chrom c0: hom at pos 1,2,3 (run of 3), het at 4,
    // hom at 5,6 (run of 2, below minSites=3), het at 7, hom at
    // 10,11,12,13 (run of 4). Runs are SITE-adjacent — only a het
    // locus breaks them, a position gap alone does not.
    val sites = Seq(
      (0, "c0", 1L, 10L, true), (0, "c0", 2L, 20L, true),
      (0, "c0", 3L, 30L, true), (0, "c0", 4L, 40L, false),
      (0, "c0", 5L, 50L, true), (0, "c0", 6L, 60L, true),
      (0, "c0", 7L, 65L, false),
      (0, "c0", 10L, 70L, true), (0, "c0", 11L, 80L, true),
      (0, "c0", 12L, 90L, true), (0, "c0", 13L, 95L, true)
    ).toDF("s", "chrom", "pos", "vid", "hom")
    val r = PopGen.rohRuns(sites, minSites = 3).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_runs") == 2L)
    assert(row.getAs[Long]("max_run_sites") == 4L)
    assert(row.getAs[Long]("roh_sites") == 7L)
    // spans: (3-1) + (13-10) = 5
    assert(row.getAs[Long]("roh_span") == 5L)
  }

  test("rohRuns collapses duplicate (pos, vid) loci: any het call at " +
      "a locus breaks the run, and the result is partition-invariant") {
    import spark.implicits._
    // pos 2 carries TWO calls at the same vid — one hom, one het —
    // so the locus is NOT hom and splits {1,2,3} into two singletons
    val sites = Seq(
      (0, "c0", 1L, 10L, true),
      (0, "c0", 2L, 20L, true), (0, "c0", 2L, 20L, false),
      (0, "c0", 3L, 30L, true)
    ).toDF("s", "chrom", "pos", "vid", "hom")
    val r = PopGen.rohRuns(sites, minSites = 1).collect()
    assert(r.head.getAs[Long]("n_runs") == 2L)
    assert(r.head.getAs[Long]("roh_sites") == 2L)
    // duplicate hom calls at one locus count the locus ONCE
    val dup = Seq(
      (0, "c0", 1L, 10L, true), (0, "c0", 1L, 10L, true),
      (0, "c0", 2L, 20L, true)
    ).toDF("s", "chrom", "pos", "vid", "hom")
    val rd = PopGen.rohRuns(dup, minSites = 1).collect()
    assert(rd.head.getAs[Long]("roh_sites") == 2L)
    // partition invariance: a different physical layout must not
    // change the islands
    val r16 = PopGen.rohRuns(sites.repartition(16), minSites = 1)
      .collect()
    assert(r16.toSeq.map(_.toSeq).sortBy(_.toString) ==
      r.toSeq.map(_.toSeq).sortBy(_.toString))
  }

  test("q313 histogram quantile: estimate bounds the exact percentile " +
      "from above by at most one bucket width") {
    val dir = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("q313_quantile_hist")(spark, dir)
      .collect().map(r => (r.getAs[String]("metric"),
        r.getAs[Long]("p")) -> r.getAs[Double]("est")).toMap
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    def exact(c: String, p: Long): Double = {
      val vs = li.select(col(c).cast("double")).collect()
        .map(_.getDouble(0)).sorted
      vs((((p * vs.length) + 99) / 100 - 1).toInt)
    }
    for ((m, c, w) <- Seq(("price", "l_extendedprice", 512.0),
        ("qty", "l_quantity", 1.0)); p <- Seq(50L, 90L, 99L)) {
      val e = est((m, p)); val x = exact(c, p)
      assert(e > x && e - x <= w, s"$m p$p: est $e exact $x width $w")
    }
  }

  test("labelPropagation golden: two cliques joined by a bridge " +
      "settle on the clique min ids; ties break to the smaller label") {
    import spark.implicits._
    // cliques {1,2,3} and {10,11,12}, bridge 3-10
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("src", "dst")
    val lab = Graphs.labelPropagation(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab(1) == 1L && lab(2) == 1L)
    assert(lab(11) == 10L && lab(12) == 10L)
    // every node got a label and labels came from node ids
    assert(lab.size == 6 && lab.values.forall(lab.keySet.contains))
  }

  test("stss: sync-sample indices parse 0-based; absent box means " +
      "None (all-sync per spec); corrupt count rejects") {
    // every 2nd of 7 frames sync → samples 1,3,5,7 → idx 0,2,4,6
    val b = Multimodal.syntheticMp4(durMs = 2000, width = 320,
      height = 180, mdatLen = 10, frames = 7, frameSizeBase = 100,
      syncEvery = 2)
    assert(Multimodal.parseMp4SyncIdx(b).contains(Seq(0L, 2L, 4L, 6L)))
    // no stss box → None
    val plain = Multimodal.syntheticMp4(durMs = 2000, width = 320,
      height = 180, mdatLen = 10, frames = 7, frameSizeBase = 100)
    assert(Multimodal.parseMp4SyncIdx(plain).isEmpty)
    // the frame index itself is unchanged by the extra box
    assert(Multimodal.parseMp4Frames(b).length == 7)
    // corrupt: declared count far beyond the box's bytes → rejected
    // (None), never allocated
    val i = {
      def find(from: Int): Int =
        if (b.slice(from, from + 4).map(_.toChar).mkString == "stss")
          from
        else find(from + 1)
      find(0)
    }
    val bad = b.clone()
    bad(i + 8) = 0x7f.toByte // count ≈ 2^31
    assert(Multimodal.parseMp4SyncIdx(bad).isEmpty)
  }

  test("mendel consistency golden: known trio genotypes classify") {
    import spark.implicits._
    // variant A: child (0,1), p1 (0,0), p2 (1,1) → consistent
    // variant B: child (1,1), p1 (0,0), p2 (1,1) → ERROR (no 1 from p1)
    // variant C: child has a missing allele → not tested
    // samples 3..7 uncalled → trio 2 never tested
    val nul: java.lang.Long = null
    def g(a: Any*): Seq[Seq[java.lang.Long]] =
      a.grouped(2).map(_.map {
        case null => nul
        case x: Int => java.lang.Long.valueOf(x.toLong)
      }.toSeq).toSeq
    val pad = Seq.fill(5 * 2)(null)
    val rows = Seq(
      ("A", g(Seq(0, 1, 0, 0, 1, 1) ++ pad: _*)),
      ("B", g(Seq(1, 1, 0, 0, 1, 1) ++ pad: _*)),
      ("C", g(Seq(null, 1, 0, 0, 1, 1) ++ pad: _*))
    ).toDF("vid", "geno")
    def a(i: Int, j: Int) = element_at(element_at(col("geno"), i + 1), j)
    def called(i: Int) = a(i, 1).isNotNull && a(i, 2).isNotNull
    def inG(c: org.apache.spark.sql.Column, p: Int) =
      c === a(p, 1) || c === a(p, 2)
    val tested = called(0) && called(1) && called(2)
    val err = tested && !((inG(a(0, 1), 1) && inG(a(0, 2), 2)) ||
      (inG(a(0, 2), 1) && inG(a(0, 1), 2)))
    val out = rows.select(col("vid"), tested.as("t"), err.as("e"))
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(out("A") == (true, false))
    assert(out("B") == (true, true))
    assert(out("C") == (false, false))
  }

  test("sampleSwapScan golden: a deliberate column swap is detected, " +
      "unswapped columns match themselves; pair order is unordered") {
    import spark.implicits._
    // 3 samples, geno2 = geno with columns 0 and 1 SWAPPED; sample 2
    // is recalled with flipped allele ORDER (must still count as same)
    val g = Seq(
      Seq(Seq(0L, 0L), Seq(1L, 1L), Seq(0L, 1L)),
      Seq(Seq(0L, 1L), Seq(0L, 0L), Seq(1L, 1L)),
      Seq(Seq(1L, 1L), Seq(0L, 1L), Seq(0L, 0L)))
    val rows = (0 until 3).map { k =>
      val gg = g(k)
      (k.toLong, gg, Seq(gg(1), gg(0), gg(2).reverse))
    }
    val v = rows.toDF("vid", "geno", "geno2")
    val r = PopGen.sampleSwapScan(v, 3).collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getBoolean(5))).toMap
    assert(r(0) == (1L, true))  // sample 0 now lives in column 1
    assert(r(1) == (0L, true))
    assert(r(2) == (2L, false)) // flipped order is NOT a swap
  }

  test("rohRuns fuzz: random cubes with duplicate loci match a " +
      "brute-force reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x812L)
    for (trial <- 1 to 3) {
      // duplicate (pos, vid) pairs on purpose; hom mixed per locus
      val sites = (0 until 400).map { k =>
        val s = rnd.nextInt(3)
        val chrom = "c" + rnd.nextInt(2)
        val pos = rnd.nextInt(40).toLong
        val vid = pos * 10 + rnd.nextInt(3)
        (s, chrom, pos, vid, rnd.nextBoolean())
      }
      val minSites = 1 + rnd.nextInt(3)
      val got = graft.operators.PopGen.rohRuns(
          sites.toDF("s", "chrom", "pos", "vid", "hom"), minSites)
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toMap
      // brute force: collapse loci (all-calls-hom), site-adjacent runs
      val want = sites.groupBy(t => (t._1, t._2)).toSeq
        .flatMap { case ((s, _), rows) =>
          val loci = rows.groupBy(r => (r._3, r._4)).toSeq
            .map { case ((pos, vid), rs) => (pos, vid, rs.forall(_._5)) }
            .sortBy(l => (l._1, l._2))
          val runs = scala.collection.mutable
            .ArrayBuffer.empty[Seq[(Long, Long)]]
          var cur = List.empty[(Long, Long)]
          for ((pos, vid, hom) <- loci) {
            if (hom) cur = cur :+ ((pos, vid))
            else { if (cur.nonEmpty) runs += cur; cur = Nil }
          }
          if (cur.nonEmpty) runs += cur
          runs.filter(_.size >= minSites)
            .map(rn => s -> (rn.size.toLong,
              rn.map(_._1).max - rn.map(_._1).min))
        }
        .groupBy(_._1)
        .map { case (s, rs) =>
          val v = rs.map(_._2)
          s -> (v.size.toLong, v.map(_._1).max, v.map(_._1).sum,
            v.map(_._2).sum)
        }
      assert(got == want, s"trial $trial minSites $minSites")
    }
  }

  test("labelPropagation fuzz: random graphs match a brute-force " +
      "synchronous reference (neighbors + self, min-label ties)") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x318L)
    for (trial <- 1 to 3) {
      val n = 6 + rnd.nextInt(6)
      val edges = (0 until n * 2).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        val iters = 1 + rnd.nextInt(3)
        val got = Graphs.labelPropagation(
            edges.toDF("src", "dst"), iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // brute force sync LPA with retention
        val und = (edges ++ edges.map(_.swap)).distinct
        val nodes = und.map(_._1).distinct.sorted
        val adj = und.groupBy(_._1).map { case (k, v) =>
          k -> v.map(_._2)
        }
        var lab = nodes.map(x => x -> x).toMap
        for (_ <- 1 to iters)
          lab = nodes.map { v =>
            val votes = (adj(v).map(lab) :+ lab(v))
              .groupBy(identity).map { case (l, c) => (l, c.size) }
            v -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
          }.toMap
        assert(got == lab, s"trial $trial iters $iters n $n")
      }
    }
  }
}
