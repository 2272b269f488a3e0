package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.HofTwins._
import graft.functions.textfns._

/** Differential + golden tests for the text kernels: the codegen shingle
  * and simhash expressions must agree with their declarative HOF oracles
  * on the real documents table, in both execution modes. */
class TextSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("codegen shingles == declarative oracle, both modes") {
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val diff = docs.select(
            shingles(col("text"), 3).as("a"),
            wordShingles(tokens(col("text")), 3).as("b"))
          .filter(!(col("a") === col("b"))).count()
        assert(diff == 0, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("fused minhash signature == declarative oracle, both modes") {
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val sh = shingles(col("text"), 3)
        val diff = docs.filter(size(shingles(col("text"), 3)) > 0)
          .select(minhashSignature(sh, 12).as("a"),
            minhashSignatureHof(sh, 12).as("b"))
          .filter(!(col("a") === col("b"))).count()
        assert(diff == 0, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("codegen simhash == declarative oracle, both modes") {
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val diff = docs.select(
            simhash16Text(col("text")).as("a"),
            simhash16(tokens(col("text"))).as("b"))
          .filter(col("a") =!= col("b")).count()
        assert(diff == 0, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("shingle golden values and edge cases") {
    for ((mode, df) <- FrameModes.frames(spark, Seq("a b c d", "a b",
        "  a   b c  ", "a b a b c").zipWithIndex, "text", "i")) {
      val r = df.orderBy("i").select(shingles(col("text"), 3)).collect()
      assert(r(0).getSeq[String](0) == Seq("a b c", "b c d"), mode)
      assert(r(1).getSeq[String](0) == Seq(), mode) // fewer than n tokens
      assert(r(2).getSeq[String](0) == Seq("a b c"), mode) // whitespace runs
      assert(r(3).getSeq[String](0) == Seq("a b a", "b a b", "a b c"), mode)
    }
  }

  test("connected components label chains, cliques, and singletons") {
    import spark.implicits._
    // a 5-node CHAIN (diameter 4 forces several propagation rounds),
    // a separate triangle, and an isolated node
    val edges = Seq(
      ("b", "c"), ("c", "d"), ("d", "e"), ("a", "b"), // chain a-b-c-d-e
      ("x", "y"), ("y", "z"), ("x", "z")) // triangle
      .toDF("doc_a", "doc_b")
    val nodes = Seq("a", "b", "c", "d", "e", "x", "y", "z", "solo")
      .toDF("doc_id")
    val got = graft.pipeline.TrainingData
      .connectedComponents(edges, nodes)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x", "solo" -> "solo"))
  }

  test("connected components converge on a 40-link chain (doubling)") {
    import spark.implicits._
    // diameter 40 > maxIters=25: plain one-hop label propagation would
    // exhaust the round budget; pointer doubling converges in O(log d).
    // Ids are zero-padded so lexicographic min == numeric min.
    val ids = (0 to 40).map(i => f"n$i%02d")
    val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("doc_a", "doc_b")
    val got = graft.pipeline.TrainingData
      .connectedComponents(edges, ids.toDF("doc_id"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(got.length == 41 && got.forall(_._2 == "n00"),
      got.filter(_._2 != "n00").take(5).mkString(","))
  }

  test("sequence packing crosses bucket and window boundaries exactly") {
    import spark.implicits._
    // bucketSize=4 forces the two-level cumsum across buckets {0..3},
    // {4..7}, {8,9} — the sf0.01 oracle run never leaves bucket 0, so
    // this is the only coverage of the broadcast-prefix path. seqLen=5
    // with 3 tokens per doc makes every window boundary fall mid-doc.
    val docs = (0L to 9L).map(i => (i, "w w w")).toDF("doc_id", "text")
    val got = graft.pipeline.TrainingData
      .packSequences(docs, seqLen = 5, bucketSize = 4L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // doc i spans tokens [3i, 3i+3): windows 5-wide
    val want = (0L to 9L).map(i =>
      (i, 3 * i, (3 * i) / 5, (3 * i + 2) / 5, (3 * i + 2) / 5 - (3 * i) / 5 + 1))
    assert(got.toSeq == want, got.mkString(","))
    // zero-token doc sits at its offset with zero windows
    val z = graft.pipeline.TrainingData
      .packSequences(Seq((0L, "a b"), (1L, " "), (2L, "c")).toDF("doc_id", "text"),
        seqLen = 2, bucketSize = 4L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(z.toSeq == Seq((0L, 2L, 0L, 1L), (1L, 0L, 2L, 0L), (2L, 1L, 2L, 1L)))
  }

  test("token budget sampling includes the boundary doc and drops unbudgeted groups") {
    import spark.implicits._
    val docs = Seq(
      (1L, "g1", "a b c"), (2L, "g1", "d e f"), (3L, "g1", "g h i"),
      (4L, "g2", "j k"), (5L, "g3", "l m n o")
    ).toDF("doc_id", "source", "text")
    // g1 budget 4: hash order decides which docs start under 4 tokens —
    // exactly the docs whose running start offset < 4 (the second doc
    // starts at 3 < 4 and CROSSES the boundary; the third starts at 6)
    val budgets = Seq(("g1", 4L), ("g2", 100L)).toDF("source", "budget")
    val got = graft.pipeline.TrainingData
      .tokenBudgetSample(docs, "source", budgets)
      .select("doc_id").as[Long].collect().sorted
    // g3 has no budget row → dropped entirely; g2 keeps its only doc
    assert(!got.contains(5L) && got.contains(4L))
    // g1: exactly the docs starting under budget — 2 of 3
    assert(got.count(id => id <= 3L) == 2, got.mkString(","))
    // zero budget keeps nothing
    val none = graft.pipeline.TrainingData
      .tokenBudgetSample(docs, "source",
        Seq(("g1", 0L)).toDF("source", "budget"))
      .count()
    assert(none == 0)
  }

  test("semDedup keeps one member per duplicate group, furthest from centroid") {
    import spark.implicits._
    // two tight groups of 3 near-identical vectors plus 2 singletons.
    // Ids interleave so k-means' smallest-two-ids init (10, 11) seeds
    // ONE centroid per group — each orthogonal group then converges to
    // its own cluster and τ=0.99 links only true near-dups.
    def v(base: Seq[Long], jitter: Long) =
      base.map(x => x + jitter)
    val a = Seq(1000L, 0L, 0L, 0L)
    val b = Seq(0L, 1000L, 0L, 0L)
    val grpA = Seq(10L, 12L, 14L)
    val grpB = Seq(11L, 13L, 15L)
    val rows = (
      grpA.zipWithIndex.map { case (id, j) => (id, v(a, j)) } ++
      grpB.zipWithIndex.map { case (id, j) => (id, v(b, j)) } ++
      Seq((30L, Seq(700L, 700L, 0L, 0L)), (31L, Seq(0L, 700L, 700L, 0L)))
    ).toDF("vec_id", "qv")
    val out = graft.pipeline.TrainingData
      .semDedup(rows, k = 2, iters = 2, tau = 0.99)
      .select("vec_id", "component", "kept")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._1)
    val byId = out.map(t => t._1 -> t).toMap
    // every component keeps exactly one member
    assert(out.groupBy(_._2).values.forall(_.count(_._3 == 1) == 1),
      out.mkString(","))
    // each near-dup triple is one component labeled by its min id
    assert(grpA.forall(id => byId(id)._2 == 10L), out.mkString(","))
    assert(grpB.forall(id => byId(id)._2 == 11L), out.mkString(","))
    // singletons survive as their own kept components
    assert(Seq(30L, 31L).forall(id =>
      byId(id)._2 == id && byId(id)._3 == 1), out.mkString(","))
  }

  test("corpus stats compute exact rank-based percentiles") {
    import spark.implicits._
    val d = Seq(
      (1L, "g1", "a b", 10L), (2L, "g1", "c", 20L),
      (3L, "g1", "d e f", 30L), (4L, "g1", "g", 40L),
      (5L, "g2", "x y z", 7L)
    ).toDF("doc_id", "source", "text", "n_chars")
    val r = graft.pipeline.TrainingData.corpusStats(d)
      .orderBy("source").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getDouble(3), x.getLong(4), x.getLong(5)))
    // g1: 4 docs → p50 at 0-based floor(3*.5)=1 → 20; p90 at
    // floor(3*.9)=2 → 30; 7 tokens total
    assert(r(0) == ("g1", 4L, 7L, 1.75, 20L, 30L))
    // singleton group: every percentile is the single value
    assert(r(1) == ("g2", 1L, 3L, 3.0, 7L, 7L))
  }

  test("duplicated span removal excises cross-doc 5-gram spans") {
    import spark.implicits._
    val d = Seq(
      (1L, "x a b c d e y"),          // shares "a b c d e" with 2 and 5
      (2L, "a b c d e z w"),
      (3L, "p q r s t u v"),          // no shared span — untouched
      (4L, "a b c"),                  // shorter than l — untouched
      (5L, "a b c d e a b c d e")     // two occurrences, fully covered
    ).toDF("doc_id", "text")
    val r = graft.pipeline.TrainingData.removeDuplicatedSpans(d, l = 5)
      .orderBy("doc_id")
      .collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r(0) == (7L, 5L, "x y"))
    assert(r(1) == (7L, 5L, "z w"))
    assert(r(2) == (7L, 0L, "p q r s t u v"))
    assert(r(3) == (3L, 0L, "a b c"))
    assert(r(4) == (10L, 10L, ""))
  }

  test("pii redaction golden values on real-world shapes") {
    import spark.implicits._
    // the q79 oracle checks engine parity on synthetic spliced PII; this
    // pins the behavior on realistic shapes the corpus can't produce
    val d = Seq(
      (1L, "write a@b.io or alice.smith+x@corp.example.org today"),
      (2L, "host 192.168.0.1 and 10.0.300.7 but not 1.2.3.4567"),
      (3L, "call 555-123-4567 or 555.123.4567 not 55-123-4567"),
      (4L, "clean text, no pii at all"),
      (5L, "mixed: bob@x.co at 8.8.8.8 tel 800-555-0100")
    ).toDF("doc_id", "text")
    val r = graft.pipeline.TrainingData.redactPii(d)
      .orderBy("doc_id")
      .select("text", "n_emails", "n_ips", "n_phones")
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r(0) == ("write <EMAIL> or <EMAIL> today", 2L, 0L, 0L))
    // no 0-255 octet-range check by design; a 4-digit tail is NOT an ip
    assert(r(1) == ("host <IP> and <IP> but not 1.2.3.4567", 0L, 2L, 0L))
    // dotted phones match phone, not ip (only 3 groups); 2-digit area
    // code matches neither
    assert(r(2) == ("call <PHONE> or <PHONE> not 55-123-4567", 0L, 0L, 2L))
    assert(r(3) == ("clean text, no pii at all", 0L, 0L, 0L))
    assert(r(4) == ("mixed: <EMAIL> at <IP> tel <PHONE>", 1L, 1L, 1L))
  }

  test("repetition stats golden values") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a b a b"),       // run of 3; "a a"×2 and "a b"×2
      (2L, "x y x y x y"),       // "x y"×3 covers all 6 chars
      (3L, "a b c d e a b c d e a b c d e"), // 5-gram ×3 ⇒ dup5 = 1
      (4L, "solo"),              // no grams at all
      (5L, " ")                  // no words at all
    ).toDF("doc_id", "text")
    val got = graft.pipeline.TrainingData.repetitionStats(d)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // doc 1: top gram ties "a a"/"a b" ×2 → lex min "a a", occurrences
    // at 0,1 cover words {0,1,2} = 3 of 6 chars; no dup 5-gram
    assert(got(0) == ((1L, 6L, 3L, 0.5, 0.0)))
    // doc 2: "x y" ×3 covers every word
    assert(got(1) == ((2L, 6L, 1L, 1.0, 0.0)))
    // doc 3: top gram "a b" ×3 covers {0,1,5,6,10,11} = 6 of 15; every
    // 5-gram repeats, union-covering all 15 words — coverage stays ≤ 1
    // where a per-occurrence sum would score 55/15
    assert(got(2) == ((3L, 15L, 1L, 6.0 / 15, 1.0)))
    assert(got(3) == ((4L, 1L, 1L, 0.0, 0.0)))
    assert(got(4) == ((5L, 0L, 0L, 0.0, 0.0)))
  }

  test("c4 line clean kernel == HOF twin, both modes, incl. crafted lines") {
    import spark.implicits._
    val crafted = Seq(
      "Plain good sentence here.",       // kept
      "Ends with bang!",                 // 3 words, kept
      "Ends with quote\"",               // 3 words, kept
      "short.",                          // 1 word, dropped
      "two words.",                      // dropped
      "no punctuation at all",           // dropped
      "Please enable JavaScript now.",   // dropped (case-insensitive)
      "javascript reference mid line.",  // dropped
      "Trailing spaces still count.   ", // kept (\s* tolerance)
      "",                                // dropped
      "   ",                             // dropped
      "Question form works too?")        // kept
      .mkString("\n")
    val craftedDf = Seq((0L, crafted)).toDF("doc_id", "text")
    for ((mode, df) <- FrameModes.frames(spark, Seq((0L, crafted)),
        "doc_id", "text")) {
      val kept = df
        .select(c4CleanLines(col("text"), 3).as("c"))
        .head.getString(0).split("\n").toSeq
      assert(kept == Seq("Plain good sentence here.", "Ends with bang!",
        "Ends with quote\"", "Trailing spaces still count.   ",
        "Question form works too?"), mode)
    }
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val diff = docs.select(col("text"))
          .union(craftedDf.select(col("text")))
          .select(c4CleanLines(col("text"), 3).as("a"),
            c4CleanLinesHof(col("text"), 3).as("b"))
          .filter(col("a") =!= col("b")).count()
        assert(diff == 0, s"mode=$mode")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("boilerplate removal drops common lines, keeps order, empty-doc safe") {
    import spark.implicits._
    val d = Seq(
      (1L, "unique one.\ncommon line\nunique two."),
      (2L, "common line\nother text."),
      (3L, "common line"), // nothing survives
      (4L, "solo doc line."))
      .toDF("doc_id", "text")
    val got = graft.pipeline.TrainingData
      .removeBoilerplateLines(d, maxDf = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "clean_text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) == ((1L, 3L, 2L, "unique one.\nunique two.")))
    assert(got(1) == ((2L, 2L, 1L, "other text.")))
    assert(got(2) == ((3L, 1L, 0L, "")))
    assert(got(3) == ((4L, 1L, 1L, "solo doc line.")))
  }

  test("temperature sampling flattens the source distribution") {
    import spark.implicits._
    // 160 docs in 'big', 10 in 'small': count ratio 16:1, √-weight
    // ratio ~4:1 — the α=1/2 mixture must up-sample the rare source
    val df = ((0L until 160L).map((_, "big")) ++
      (1000L until 1010L).map((_, "small"))).toDF("doc_id", "source")
    val got = graft.pipeline.TrainingData
      .temperatureSample(df, "source", 50)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // w_big = ⌊√160e6⌋ = 12649, w_small = ⌊√10e6⌋ = 3162, Σ = 15811
    // quota_big = 50·12649 // 15811 = 40, quota_small = 50·3162 // 15811 = 9
    assert(got == Map("big" -> 40L, "small" -> 9L))
  }

  test("markup strip golden values: tags, double-escaped entities, whitespace") {
    import spark.implicits._
    val d = Seq(
      (1L, "<p class=\"x\">hello <b>world</b></p>"),
      (2L, "a &lt;tag&gt; literal &amp;lt; stays; q&#39;s &quot;ok&quot;&nbsp;end"),
      (3L, "no markup at all"),
      (4L, "<br/><br/>  spaced   out  "),
      (5L, "unclosed < no close but <em>this</em> is")
    ).toDF("doc_id", "text")
    val r = graft.pipeline.TrainingData.stripMarkup(d)
      .orderBy("doc_id").select("text", "n_tags").collect()
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r(0) == ("hello world", 4L))
    // &amp;lt; decodes to the LITERAL text "&lt;" (amp is decoded last)
    assert(r(1) == ("a <tag> literal &lt; stays; q's \"ok\" end", 0L))
    assert(r(2) == ("no markup at all", 0L))
    assert(r(3) == ("spaced out", 2L))
    // "< no close" has no matching '>' before the next '<', so it is NOT
    // a tag; the '<em>' pair still strips
    assert(r(4) == ("unclosed < no close but this is", 2L))
  }

  test("corpus diff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val cur = Seq((2L, "b"), (3L, "C!"), (4L, "d")).toDF("doc_id", "text")
    val r = graft.pipeline.TrainingData.corpusDiff(prev, cur)
      .orderBy("doc_id")
      .select("doc_id", "status").as[(Long, String)].collect()
    assert(r.toSeq == Seq((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
  }

  test("shard shuffle: stable partition of the corpus, dense pos per shard") {
    import spark.implicits._
    val d = (1L to 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val r = graft.pipeline.TrainingData.shuffleToShards(d, nShards = 4,
      seed = 7)
    assert(r.count() == 200)
    // every row lands in exactly one shard; pos is 1..n within each shard
    val perShard = r.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .as[(Long, Long, Long, Long)].collect()
    assert(perShard.map(_._2).sum == 200)
    perShard.foreach { case (_, n, lo, hi) =>
      assert(lo == 1L && hi == n)
    }
    // deterministic: a second run assigns identical (shard, pos)
    val again = graft.pipeline.TrainingData.shuffleToShards(d, nShards = 4,
      seed = 7)
    assert(r.select("doc_id", "shard", "pos")
      .except(again.select("doc_id", "shard", "pos")).count() == 0)
    // a different seed produces a different order
    val other = graft.pipeline.TrainingData.shuffleToShards(d, nShards = 4,
      seed = 8)
    assert(r.select("doc_id", "shard", "pos")
      .except(other.select("doc_id", "shard", "pos")).count() > 0)
  }

  test("vocab build: ranks, ids, and exact coverage") {
    import spark.implicits._
    val d = Seq(
      (1L, "b b b a a c"),
      (2L, "a b rare"),
      (3L, "a c")
    ).toDF("doc_id", "text")
    // tf: a=4 b=4 c=2 rare=1 (total 11); minCount 2 drops rare
    val r = graft.pipeline.TrainingData.buildVocab(d, minCount = 2L)
      .orderBy("id")
      .select("token", "id", "tf", "df", "coverage")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(r.toSeq == Seq(
      ("a", 0L, 4L, 3L, 4.0 / 11),
      ("b", 1L, 4L, 2L, 8.0 / 11),
      ("c", 2L, 2L, 2L, 10.0 / 11)))
  }

  test("url normalization golden values") {
    import spark.implicits._
    val d = Seq(
      (1L, "HTTPS://WWW.Example.COM/Path/One"),
      (2L, "https://example.com/Path/One#section-2"),
      (3L, "https://example.com/Path/One?utm_source=tw&id=9"),
      (4L, "https://example.com/Path/One?id=9&utm_campaign=x"),
      (5L, "https://example.com/Path/One/"),
      (6L, "https://example.com/CASE/sensitive/path"),
      // consecutive LEADING utm params — the most common real tracking
      // pattern; the run must collapse in one match or the second one
      // (no longer preceded by ? or &) survives every rule
      (7L, "https://example.com/Path/One?utm_source=x&utm_medium=y&id=9"),
      (8L, "https://example.com/Path/One?utm_source=x&utm_medium=y")
    ).toDF("doc_id", "url")
    val r = d.select(col("doc_id"),
        graft.pipeline.TrainingData.normalizeUrl(col("url")).as("u"))
      .orderBy("doc_id").as[(Long, String)].collect().map(_._2)
    assert(r(0) == "https://example.com/Path/One")
    assert(r(1) == "https://example.com/Path/One")
    assert(r(2) == "https://example.com/Path/One?id=9")
    assert(r(3) == "https://example.com/Path/One?id=9")
    assert(r(4) == "https://example.com/Path/One")
    // path case is preserved (RFC 3986: only scheme+host fold)
    assert(r(5) == "https://example.com/CASE/sensitive/path")
    assert(r(6) == "https://example.com/Path/One?id=9")
    assert(r(7) == "https://example.com/Path/One")
  }

  test("intra-doc line dedup keeps first occurrence, preserves order") {
    import spark.implicits._
    val d = Seq(
      (1L, "nav\nbody a\nnav\nbody b\nnav"),
      (2L, "only\nunique\nlines"),
      (3L, "x\nx\nx")
    ).toDF("doc_id", "text")
    val r = graft.pipeline.TrainingData.dedupLinesInDoc(d)
      .orderBy("doc_id")
      .select("text", "n_lines", "n_kept")
      .as[(String, Long, Long)].collect()
    assert(r(0) == ("nav\nbody a\nbody b", 5L, 3L))
    assert(r(1) == ("only\nunique\nlines", 3L, 3L))
    assert(r(2) == ("x", 3L, 1L))
  }

  test("vocab encoding maps tokens to ids in order, OOV to -1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b a c b zzz"),
      (2L, "a a a")
    ).toDF("doc_id", "text")
    val vocab = Seq(("a", 0L), ("b", 1L), ("c", 2L)).toDF("token", "id")
    val r = graft.pipeline.TrainingData.encodeWithVocab(docs, vocab)
      .orderBy("doc_id")
      .select("ids", "n_tokens", "n_oov")
      .as[(String, Long, Long)].collect()
    assert(r(0) == ("1,0,2,1,-1", 5L, 1L))
    assert(r(1) == ("0,0,0", 3L, 0L))
  }

  test("bloom decontamination == exact anti-join, incl. forced false positives") {
    val d = graft.pipeline.TrainingData.trainValSplit(
      docs.select(col("doc_id"), col("text")))
    val train = d.filter(col("split") === "train")
    val eval = d.filter(col("split") === "val")
    val exact = graft.pipeline.TrainingData.decontaminate(train, eval)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // fpp 0.5 forces the sketch to flag many clean rows, so the verify
    // anti-join's false-positive removal is genuinely exercised
    for (fpp <- Seq(0.001, 0.5)) {
      val bloom = graft.pipeline.TrainingData
        .decontaminateBloom(train, eval, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bloom == exact, s"fpp=$fpp")
    }
    // empty eval side: everything passes through untouched
    val none = graft.pipeline.TrainingData.decontaminateBloom(
      train, eval.filter(lit(false)))
    assert(none.count() == train.count())
  }

  test("span corruption reconstructs the original token stream") {
    // lossless-ness property: substituting each <extra_id_k> sentinel
    // in `input` with target's k-th span must reproduce the normalized
    // token stream exactly, for EVERY document — the invariant that
    // makes the (input, target) pair a valid denoising example. The
    // real corpus (incl. short and punctuation-heavy docs) is the
    // fuzz source.
    val rows = graft.pipeline.TrainingData
      .spanCorrupt(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select("doc_id", "text", "input", "target", "n_masked_spans")
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val norm = r.getString(1).trim.split("\\s+")
        .filter(_.nonEmpty).mkString(" ")
      val nMasked = r.getLong(4)
      if (nMasked == 0) {
        assert(r.getString(2).trim == norm, s"doc ${r.getLong(0)}")
        assert(r.getString(3) == "", s"doc ${r.getLong(0)}")
      } else {
        // parse target: "<extra_id_k> tok tok <extra_id_k+1> ..." —
        // split on the sentinels, index by k
        val parts = r.getString(3).split("<extra_id_\\d+> ?")
          .filter(_.nonEmpty).map(_.trim)
        assert(parts.length == nMasked, s"doc ${r.getLong(0)}")
        var rebuilt = r.getString(2)
        for ((span, k) <- parts.zipWithIndex)
          rebuilt = rebuilt.replace(s"<extra_id_$k>", span)
        val got = rebuilt.trim.split("\\s+").filter(_.nonEmpty)
          .mkString(" ")
        assert(got == norm, s"doc ${r.getLong(0)}: $got != $norm")
      }
    }
  }

  test("FIM transform reassembles to the original token stream") {
    val fim = SparkEntry.queries("q117_fim_transform")(
      spark, "/root/testdata/sf0.001")
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select("doc_id", "text", "fim_text", "fim_applied").collect()
    assert(fim.nonEmpty && fim.exists(_.getLong(3) == 1L))
    for (r <- fim if r.getLong(3) == 1L) {
      val m = "<PRE>(.*)<SUF>(.*)<MID>(.*)".r
      r.getString(2) match {
        case m(pre, suf, mid) =>
          val got = s"$pre $mid $suf".trim.split("\\s+")
            .filter(_.nonEmpty).mkString(" ")
          val norm = r.getString(1).trim.split("\\s+")
            .filter(_.nonEmpty).mkString(" ")
          assert(got == norm, s"doc ${r.getLong(0)}")
          assert(mid.trim.nonEmpty, s"doc ${r.getLong(0)}: empty middle")
        case other => fail(s"doc ${r.getLong(0)}: unparseable $other")
      }
    }
  }

  test("CDC chunking is edit-robust: a prepended header only disturbs " +
      "the prefix chunks") {
    import spark.implicits._
    // the property CDC exists for (and whole-doc fingerprints lack):
    // cut positions are content-defined, so all grams fully inside the
    // original text hash identically after a prefix edit — every chunk
    // from the first preserved cut onward keeps its fingerprint
    val rows = docs.select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 400).limit(5)
      .as[(Long, String)].collect()
    assert(rows.length == 5)
    for ((id, text) <- rows) {
      val edited = "PREPENDED BOILERPLATE HEADER 12345. " + text
      val df = Seq(("orig", text), ("edit", edited)).toDF("k", "text")
        .select(col("k"), cdcChunks(col("text"), 8, 64).as("fps"))
      val m = df.as[(String, Seq[String])].collect().toMap
      val (o, e) = (m("orig"), m("edit"))
      assert(o.size >= 4, s"doc $id chunked too coarsely (${o.size})")
      val common = o.toSet.intersect(e.toSet).size
      assert(common >= o.size - 2,
        s"doc $id: only $common/${o.size} chunks survived a prefix edit")
      // the whole-document fingerprint sees an unrelated document
      assert(o != e)
    }
  }

  test("CDC chunks partition the text: fingerprints replay from an " +
      "independent plain-Scala chunker") {
    import spark.implicits._
    // NOTE: the HOF twin is only usable on SHORT inputs — interpreted
    // nested HOFs re-evaluate subtrees per element (no CSE), so its cost
    // grows combinatorially with length; the KernelPropertySpec fuzz runs
    // it on ≤40-char strings. Here a plain-Scala reimplementation checks
    // a long document instead.
    // high-entropy text (a repeating phrase has ~44 distinct grams and a
    // (31/32)^44 ≈ 25% chance of NO cut at all — a 1-chunk doc is a valid
    // but useless fixture)
    val text = (1 to 200)
      .map(i => "w" + (i * 2654435761L % 9973)).mkString(" ")
    val fps = Seq(text).toDF("text")
      .select(cdcChunks(col("text"), 8, 32).as("f"))
      .as[Seq[String]].collect().head
    // independent chunker: same published algorithm, direct Scala
    import graft.functions.expressions.WinnowFpExpr.{B, M}
    val k = 8; val d = 32
    val cps = text.toCharArray.map(_.toLong)
    val p0 = graft.functions.expressions.WinnowFpExpr.headPow(k)
    var h = 0L
    for (i <- 0 until k) h = (h * B + cps(i)) % M
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until cps.length - k + 1) {
      if (h % d == 0 && i + k < cps.length) cuts += (i + k)
      if (i + 1 < cps.length - k + 1)
        h = ((h + M - cps(i) * p0 % M) % M * B + cps(i + k)) % M
    }
    val bounds: Seq[Int] = (0 +: cuts.toSeq) :+ cps.length
    val want = bounds.sliding(2).map { w =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(text.substring(w(0), w(1)).getBytes("UTF-8"))
      md.map("%02x".format(_)).mkString
    }.toSeq
    assert(fps == want && fps.size >= 5, s"${fps.size} vs ${want.size}")
    // and the chunks reassemble the full document
    assert(bounds.last == text.length && bounds.head == 0)
  }

  test("containmentPairs: quote-inclusion scores containment 1.0 where " +
      "Jaccard dilutes") {
    import spark.implicits._
    val small = (1 to 40).map(i => "w" + (i * 37 % 101)).mkString(" ")
    val big = small + " " + (1 to 20).map(i => "x" + i).mkString(" ")
    val d = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val got = graft.pipeline.TrainingData
      .containmentPairs(d, thrNum = 4, thrDen = 5)
      .select("doc_a", "doc_b", "n_a", "n_b", "n_common", "containment")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(got.length == 1, got.toSeq.toString)
    val (a, b, na, nb, nc, cont) = got.head
    assert(a == 1L && b == 2L && nc == na && cont == 1.0,
      got.toSeq.toString)
    // the Jaccard view of the same pair is diluted below the 0.8 gate
    assert(nc.toDouble / (na + nb - nc) < 0.7)
  }

  test("blocklistGate: exact counts and the integer-ratio keep gate") {
    import spark.implicits._
    val d = Seq(
      (1L, "clean text with twenty tokens " + ("pad " * 15).trim),
      (2L, "junk junk junk here now"),
      (3L, "one junk in twenty tokens " + ("pad " * 15).trim)
    ).toDF("doc_id", "text")
    val got = graft.pipeline.TrainingData
      .blocklistGate(d, Seq("junk"), maxNum = 1, maxDen = 20)
      .select("doc_id", "n_tokens", "n_flagged", "keep")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 20L, 0L, true)), got.toSeq.toString)
    assert(got(1) == ((2L, 5L, 3L, false)), got.toSeq.toString)
    // exactly at the 1/20 boundary: 1 flagged in 20 tokens keeps
    assert(got(2) == ((3L, 20L, 1L, true)), got.toSeq.toString)
  }

  test("dsirSelect: exact masses and keep decisions on a hand corpus") {
    import spark.implicits._
    // two 'en' docs sharing vocab {aa,bb}, two 'de' docs sharing {cc,dd};
    // no md5-prefix bucket collisions between the four tokens (asserted),
    // so the masses are exact small integers
    val buckets = Seq("aa", "bb", "cc", "dd")
      .map(t => java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(1).map("%02x".format(_)).head)
    assert(buckets.distinct.size == 4, s"bucket collision: $buckets")
    val d = Seq(
      (1L, "en", "aa bb"), (2L, "en", "aa bb"),
      (3L, "de", "cc dd"), (4L, "de", "cc dd")).toDF("doc_id", "lang", "text")
    val got = graft.pipeline.TrainingData
      .dsirSelect(d, isTarget = col("lang") === "en")
      .select("doc_id", "tgt_mass", "raw_mass", "keep")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // tgt_c(aa)=tgt_c(bb)=2, raw_c=2 for all four tokens;
    // tgt_tot=4, raw_tot=8. en doc: 4*8 > 4*4 keep; de doc: 0*8 > 4*4 no.
    assert(got.toSeq == Seq(
      (1L, 4L, 4L, true), (2L, 4L, 4L, true),
      (3L, 0L, 4L, false), (4L, 0L, 4L, false)))
  }

  test("collocations: PMI ranks the bound pair above frequent-but-" +
      "independent pairs, exact counts") {
    import spark.implicits._
    // 'new york' always co-occurs; filler docs reuse every OTHER word in
    // fresh contexts, so their unigram counts grow while the pair stays
    // bound — PMI must rank 'new york' strictly first (by hand: score =
    // N/12 vs ≤ N/18 for every other qualifying pair)
    val main = (1 to 6).map(i =>
      (i.toLong, "the cat saw new york and the dog saw new york today"))
    val filler = (7 to 12).map(i =>
      (i.toLong, "the cat and the dog ran as it saw me"))
    val d = (main ++ filler).toDF("doc_id", "text")
    val got = graft.pipeline.TrainingData
      .collocations(d, minCount = 5, k = 20)
      .select("w1", "w2", "pair_n")
      .as[(String, String, Long)].collect().toSeq
    // exact count for the bound pair
    assert(got.contains(("new", "york", 12L)), got.toString)
    // PMI ordering: 'new york' (score N/12) strictly outranks the
    // diluted 'the cat' / 'saw new' (N/30, N/18) — rare fully-bound
    // filler pairs like 'as it' (N/6) may legitimately sit above it
    val idx = got.map(r => (r._1, r._2)).zipWithIndex.toMap
    assert(idx(("new", "york")) < idx(("the", "cat")), got.toString)
    assert(idx(("new", "york")) < idx(("saw", "new")), got.toString)
  }
}
