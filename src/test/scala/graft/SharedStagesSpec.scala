package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.storage.StorageLevel

import graft.core.SharedStages
import graft.HofTwins._
import graft.pipeline.TrainingData

/** Shared-stage specs: the [[SharedStages]] registry itself (names,
  * caps, FIFO eviction, clearAll, one build under concurrent callers),
  * and the stage owners (trained k-means quantizer, BPE merge list, ROH
  * run substrate) must (a) return byte-identical results to the
  * uncached builders and (b) actually share — second
  * semantically-identical call is a telemetry hit, different key a miss.
  */
class SharedStagesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("SharedStages declares the 14 stages Bench emits, with their caps") {
    assert(SharedStages.all.map(_.name) == Seq("ld_shared_stage",
      "sa_shared_stage", "ehh_shared_stage", "sa_build_stage",
      "dedup_shared_stage", "kmeans_shared_stage", "bpe_shared_stage",
      "ceu_shared_stage", "roh_shared_stage", "simjoin_shared_stage",
      "site_shared_stage", "lsh_shared_stage", "merge_shared_stage",
      "cand_shared_stage"))
    val caps = Map("ld_shared_stage" -> 24, "dedup_shared_stage" -> 12,
      "site_shared_stage" -> 2, "ceu_shared_stage" -> 2)
    for (st <- SharedStages.all)
      assert(st.cap == caps.getOrElse(st.name, 4), st.name)
  }

  test("a stage past its cap evicts FIFO: the oldest value is " +
      "unpersisted and its next lookup is a miss") {
    val st = SharedStages.site // cap 2
    st.clear()
    val dfs = (0 until 3).map(i => spark.range(1000L + i).toDF())
    def lookup(i: Int) = st.get(s"fifo-$i")(dfs(i).persist())
    val (h0, m0) = st.telemetry
    (0 until 3).foreach(lookup)
    assert(st.size == 2)
    assert(dfs(0).storageLevel == StorageLevel.NONE)
    assert(dfs(1).storageLevel != StorageLevel.NONE)
    assert(dfs(2).storageLevel != StorageLevel.NONE)
    // entries 1 and 2 are still cached: hits
    assert((lookup(1) eq dfs(1)) && (lookup(2) eq dfs(2)))
    val (h1, m1) = st.telemetry
    assert(h1 - h0 == 2 && m1 - m0 == 3)
    lookup(0)
    val (h2, m2) = st.telemetry
    assert(h2 == h1 && m2 - m1 == 1, "an evicted key must miss")
    assert(st.telemetryByKey.find(_._1 == "fifo-0").map(r => (r._2, r._3))
      == Some((0L, 2L)))
    assert(dfs(1).storageLevel == StorageLevel.NONE,
      "re-adding key 0 evicts key 1, the oldest left")
    st.clear()
    assert(dfs.forall(_.storageLevel == StorageLevel.NONE))
  }

  test("clearAll empties and unpersists every stage, ceu included") {
    import SharedStages._
    clearAll()
    var i = 0
    def fresh() = { i += 1; spark.range(2000L + i).toDF().persist() }
    val frameStages = Seq(ld, sa, ehh, saBuild, dedup, kmeans, roh,
      simjoin, site, merge, cand)
    val held = frameStages.map(st => st.get(("clearAll", st.name))(fresh()))
    val c = ceu.get(spark)(fresh())
    val (sigs, cand2) = lsh.get("clearAll")((fresh(), fresh()))
    bpe.get("clearAll")(Seq((1, "a", "b", "ab", 2L)))
    val frames = held ++ Seq(c, sigs, cand2)
    assert(frames.forall(_.storageLevel != StorageLevel.NONE))
    assert(all.forall(_.size >= 1))
    clearAll()
    assert(all.forall(_.size == 0))
    assert(frames.forall(_.storageLevel == StorageLevel.NONE))
  }

  test("four concurrent callers of one key build it once") {
    val st = SharedStages.kmeans
    st.clear()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val (h0, m0) = st.telemetry
    val got = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (0 until 4).map(_ => new Thread(() => {
      start.await()
      got.add(st.get("concurrent") {
        builds.incrementAndGet()
        Thread.sleep(200)
        spark.range(3000L).toDF().persist()
      })
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000))
    val (h1, m1) = st.telemetry
    assert(builds.get == 1)
    assert(m1 - m0 == 1 && h1 - h0 == 3,
      s"expected 1 miss / 3 hits, got ${m1 - m0} / ${h1 - h0}")
    assert(got.size == 4 && got.toArray.forall(_ eq got.peek()))
    st.clear()
  }

  test("kmeansShared == kmeansTrain, and same-key callers share") {
    import spark.implicits._
    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(4)(j => ((i * 7 + j * 3) % 11).toLong)))
      .toDF("vec_id", "qv")
    SharedStages.kmeans.clear()
    val (h0, m0) = TrainingData.kmeansSharedTelemetry
    val direct = TrainingData.kmeansTrain(vecs, 4, 2)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    val shared1 = TrainingData.kmeansShared(vecs, 4, 2)
    val got1 = shared1.orderBy("vec_id").collect()
      .map(_.toString).toSeq
    assert(got1 == direct, "shared stage must equal the direct build")
    // a SEMANTICALLY identical but separately-constructed input plan
    // must hit (canonicalized-plan keying)
    val vecs2 = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(4)(j => ((i * 7 + j * 3) % 11).toLong)))
      .toDF("vec_id", "qv")
    val shared2 = TrainingData.kmeansShared(vecs2, 4, 2)
    assert(shared2 eq shared1, "same key must return the same handle")
    val (h1, m1) = TrainingData.kmeansSharedTelemetry
    assert(h1 - h0 == 1 && m1 - m0 == 1,
      s"expected 1 hit / 1 miss, got ${h1 - h0} / ${m1 - m0}")
    // different params = different key = a build, not a hit
    val shared3 = TrainingData.kmeansShared(vecs, 4, 1)
    assert(!(shared3 eq shared1))
    val (h2, m2) = TrainingData.kmeansSharedTelemetry
    assert(h2 == h1 && m2 - m1 == 1)
    SharedStages.kmeans.clear()
  }

  test("bpeMergesShared == bpeTrain trajectory, and same-key callers " +
      "share") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat on the mat"),
      (2L, "the cat ate the rat"), (3L, "a cat and a mat"))
      .toDF("doc_id", "text")
    SharedStages.bpe.clear()
    val direct = TrainingData.bpeTrain(docs, nMerges = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val shared = TrainingData.bpeMergesShared(docs, nMerges = 3)
    assert(shared == direct,
      "shared merge trajectory must equal the direct training loop")
    val (h0, m0) = TrainingData.bpeSharedTelemetry
    val docs2 = Seq((1L, "the cat sat on the mat"),
      (2L, "the cat ate the rat"), (3L, "a cat and a mat"))
      .toDF("doc_id", "text")
    val again = TrainingData.bpeMergesShared(docs2, nMerges = 3)
    assert(again == shared)
    val (h1, m1) = TrainingData.bpeSharedTelemetry
    assert(h1 - h0 == 1 && m1 == m0, "second caller must be a hit")
    SharedStages.bpe.clear()
  }

  test("homRunRows shared substrate: run ids match a hand-checked " +
      "trajectory and same-key callers share") {
    import graft.operators.PopGen
    import spark.implicits._
    // two samples: s0 = hom, hom, het, hom (runs {1,2}, {4});
    // s1 = missing, hom, hom, hom (one run {2,3,4})
    val v = Seq(
      (1L, "c0", 10L, Seq(Some(0L), None)),
      (2L, "c0", 20L, Seq(Some(2L), Some(0L))),
      (3L, "c0", 30L, Seq(Some(1L), Some(2L))),
      (4L, "c0", 40L, Seq(Some(0L), Some(2L))))
      .toDF("vid", "chrom", "pos", "d")
    SharedStages.roh.clear()
    val rows = PopGen.homRunRows(v)
      .select("s", "pos", "hom", "rid")
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getBoolean(2), r.getLong(3))).toSet
    assert(rows == Set(
      (0, 10L, true, 1L), (0, 20L, true, 1L), (0, 30L, false, 1L),
      (0, 40L, true, 2L),
      (1, 10L, false, 0L), (1, 20L, true, 1L), (1, 30L, true, 1L),
      (1, 40L, true, 1L)), rows.toString)
    val (h0, m0) = PopGen.rohSharedTelemetry
    val v2 = Seq(
      (1L, "c0", 10L, Seq(Some(0L), None)),
      (2L, "c0", 20L, Seq(Some(2L), Some(0L))),
      (3L, "c0", 30L, Seq(Some(1L), Some(2L))),
      (4L, "c0", 40L, Seq(Some(0L), Some(2L))))
      .toDF("vid", "chrom", "pos", "d")
    PopGen.homRunRows(v2)
    val (h1, m1) = PopGen.rohSharedTelemetry
    assert(h1 - h0 == 1 && m1 == m0,
      "semantically identical input must be a cache hit")
    SharedStages.roh.clear()
  }

  test("TokensExpr == filter(split) twin on adversarial whitespace, " +
      "both execution modes") {
    import graft.functions.textfns._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20261118L)
    val seps = " \t\n\f\r"
    val cases = Seq("", " ", "a", " a", "a ", "  a  b  ", "a\tb\nc",
      "\r\n\r\n", "héllo wörld", "a b", // NBSP is NOT \s
      "🎉 emoji  test", "x" * 500) ++
      (0 until 50).map { _ =>
        (0 until rnd.nextInt(60)).map(_ =>
          if (rnd.nextInt(3) == 0) seps(rnd.nextInt(seps.length))
          else ('a' + rnd.nextInt(26)).toChar).mkString
      }
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.select(col("id"), tokens(col("text")).as("t"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        val ref = df.select(col("id"), tokensHof(col("text")).as("t"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        assert(got == ref, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("SpanGramsExpr == transform+slice+array_join twin, both modes") {
    import graft.functions.textfns._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20261119L)
    val cases = Seq(Seq.empty[String], Seq("a"), Seq("a", "b"),
      Seq("a", "b", "c", "d", "e")) ++
      (0 until 40).map(_ => (0 until rnd.nextInt(30)).map(_ =>
        "w" + rnd.nextInt(9)))
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "toks")
    val l = 3
    val twin = when(size(col("toks")) >= l,
      transform(sequence(lit(1), size(col("toks")) - (l - 1)),
        i => array_join(slice(col("toks"), i, lit(l)), " ")))
      .otherwise(array().cast("array<string>"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.select(col("id"), spanGrams(col("toks"), l).as("g"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        val ref = df.select(col("id"), twin.as("g"))
          .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
        assert(got == ref, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("HapCountsExpr == distinct-count HOF original on seeded random " +
      "allele matrices, both modes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    import spark.implicits._
    val rnd = new scala.util.Random(20261122L)
    val h = 6
    val rows = (0 until 60).map { w =>
      val k = rnd.nextInt(8) + 1
      (w.toLong, (0 until k).map(i =>
        (i.toLong, i.toLong * 7, (0 until h).map(_ =>
          Seq("0", "1", "2", "m")(rnd.nextInt(4))))))
    }
    val df = rows.toDF("win", "vs")
    val kernel = Bridge.column(graft.functions.expressions.HapCountsExpr(
      Bridge.expression(col("vs")), Bridge.expression(lit(h))))
    val hapArr = transform(sequence(lit(0), lit(h - 1)), s =>
      array_join(transform(col("vs"),
        x => element_at(x.getField("_3"), (s + 1).cast("int"))), ","))
    val twin = sort_array(transform(array_distinct(col("haps")),
      x => size(filter(col("haps"), y => y === x)).cast("long")),
      asc = false)
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.select(col("win"), kernel.as("cs"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        val ref = df.withColumn("haps", hapArr)
          .select(col("win"), twin.as("cs"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        assert(got == ref, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("HapCountsExpr LONG-token branch == distinct-count HOF original " +
      "on seeded random matrices with -1 missing codes, both modes") {
    // the garudH production path feeds ARRAY<BIGINT> token matrices
    // (missing -> -1); the kernel's getLong/append branch needs the
    // same differential pin as the string branch above
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    import spark.implicits._
    val rnd = new scala.util.Random(20261212L)
    val h = 6
    val rows = (0 until 60).map { w =>
      val k = rnd.nextInt(8) + 1
      (w.toLong, (0 until k).map(i =>
        (i.toLong, i.toLong * 7, (0 until h).map(_ =>
          Seq(0L, 1L, 2L, -1L)(rnd.nextInt(4))))))
    }
    val df = rows.toDF("win", "vs")
    val kernel = Bridge.column(graft.functions.expressions.HapCountsExpr(
      Bridge.expression(col("vs")), Bridge.expression(lit(h))))
    // per-slot long tokens rendered to strings are an injective
    // haplotype id, so the string-join HOF twin counts identically
    val hapArr = transform(sequence(lit(0), lit(h - 1)), s =>
      array_join(transform(col("vs"),
        x => element_at(x.getField("_3"), (s + 1).cast("int"))
          .cast("string")), ","))
    val twin = sort_array(transform(array_distinct(col("haps")),
      x => size(filter(col("haps"), y => y === x)).cast("long")),
      asc = false)
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.select(col("win"), kernel.as("cs"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        val ref = df.withColumn("haps", hapArr)
          .select(col("win"), twin.as("cs"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        assert(got == ref, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("DupPairStatsExpr == unrolled pairwise-complete sums on seeded " +
      "random twin cubes, both modes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    import spark.implicits._
    val rnd = new scala.util.Random(20261121L)
    def cube() = Seq.fill(8)(Seq.fill(2)(
      if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(3).toLong)))
    val rows = (0 until 200).map(i => (i.toLong, cube(), cube()))
    val df = rows.toDF("vid", "geno", "geno2")
    def d(g: String, i: Int) = {
      val a0 = element_at(element_at(col(g), i + 1), 1)
      val a1 = element_at(element_at(col(g), i + 1), 2)
      when(a0.isNotNull && a1.isNotNull,
        when(a0 =!= 0, 1L).otherwise(0L)
          + when(a1 =!= 0, 1L).otherwise(0L))
    }
    def terms(f: Int => org.apache.spark.sql.Column) =
      (0 until 8).map(f).reduce(_ + _)
    val both = (i: Int) => d("geno", i).isNotNull && d("geno2", i).isNotNull
    val x = (i: Int) => when(both(i), d("geno", i)).otherwise(0L)
    val y = (i: Int) => when(both(i), d("geno2", i)).otherwise(0L)
    val st = Bridge.column(graft.functions.expressions.DupPairStatsExpr(
      Bridge.expression(col("geno")), Bridge.expression(col("geno2"))))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.select(col("vid"), st.as("st"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        val ref = df.select(col("vid"),
            terms(i => when(both(i), 1L).otherwise(0L)).as("n"),
            terms(x).as("sx"), terms(y).as("sy"),
            terms(i => x(i) * y(i)).as("sxy"),
            terms(i => x(i) * x(i)).as("sxx"),
            terms(i => y(i) * y(i)).as("syy"))
          .collect().map(r => r.getLong(0) -> (1 to 6).map(r.getLong))
          .toMap
        got.foreach { case (k, v) => assert(v == ref(k), s"mode=$mode vid=$k") }
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("GenoKeyExpr == nested transform/array_join twin, both modes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    import spark.implicits._
    val rnd = new scala.util.Random(20261120L)
    val cases: Seq[Seq[Option[Seq[Option[Long]]]]] =
      Seq(Seq.empty, Seq(None), Seq(Some(Seq(None, None))),
        Seq(Some(Seq(Some(0L), Some(2L))), None,
          Some(Seq(Some(1L), None)))) ++
        (0 until 40).map(_ => (0 until rnd.nextInt(6)).map(_ =>
          if (rnd.nextInt(8) == 0) None
          else Some((0 until 2).map(_ =>
            if (rnd.nextInt(5) == 0) None
            else Some(rnd.nextInt(4).toLong)))))
    val df = cases.zipWithIndex.map { case (g, i) => (i.toLong, g) }
      .toDF("id", "geno")
    val kernel = Bridge.column(graft.functions.expressions.GenoKeyExpr(
      Bridge.expression(col("geno"))))
    val twin = array_join(transform(col("geno"), sa =>
      array_join(transform(sa, a =>
        coalesce(a.cast("string"), lit("x"))), "|")), ";")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val rows = df.select(col("id"), kernel.as("k"), twin.as("t"))
          .collect()
        rows.foreach(r => assert(r.getString(1) == r.getString(2),
          s"mode=$mode id=${r.getLong(0)}: " +
            s"'${r.getString(1)}' vs '${r.getString(2)}'"))
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("sampleQcPacked kernel: CODEGEN_ONLY == NO_CODEGEN == the HOF " +
      "singleton-set original on seeded random cubes (differential)") {
    import graft.functions.genetics._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20261117L)
    val rows = (0 until 300).map { i =>
      val geno = Seq.fill(8)(Seq.fill(2)(
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(4).toLong)))
      (i.toLong, geno)
    }
    val df = rows.toDF("vid", "geno")
    // the q143 original, replayed verbatim as the reference
    val fl = flatten(col("geno"))
    val singletons = filter(array_distinct(fl), a =>
      a.isNotNull && a > 0 && size(filter(fl, x => x === a)) === 1)
    def sing(a: org.apache.spark.sql.Column) = when(a.isNotNull &&
      array_contains(col("ss"), a), 1L).otherwise(0L)
    val ref = df.select(col("vid"), col("geno"), singletons.as("ss"),
        explode(sequence(lit(0), lit(7))).as("smp"))
      .select(col("vid"), col("smp"), col("ss"),
        element_at(element_at(col("geno"), col("smp") + 1), 1).as("a1"),
        element_at(element_at(col("geno"), col("smp") + 1), 2).as("a2"))
      .select(col("vid"), col("smp"),
        (col("a1").isNotNull && col("a2").isNotNull).as("called"),
        (col("a1").isNotNull && col("a2").isNotNull &&
          col("a1") =!= col("a2")).as("het"),
        (sing(col("a1")) + sing(col("a2"))).as("sing"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getBoolean(2), r.getBoolean(3), r.getLong(4))))
      .toMap
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = df.select(col("vid"),
            posexplode_outer(sampleQcPacked(col("geno")))
              .as(Seq("smp", "p")))
          .collect().map(r => (r.getLong(0), r.getInt(1)) -> {
            val p = r.getLong(2)
            ((p & 1L) == 1L, ((p >> 1) & 1L) == 1L, p >> 2)
          }).toMap
        assert(got == ref, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
