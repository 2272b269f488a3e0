package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Streaming correctness: the watermarked windowed aggregation must produce
  * the same result via MemoryStream micro-batches as the identical plan on
  * a static DataFrame (Spark's unified batch/stream contract) — the
  * streaming analog of the reference's serial==parallel equivalence tests. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(s: Int) = new Timestamp(s * 1000L)

  private val rows = Seq(
    (ts(5), "a", 1.0), (ts(15), "a", 2.0), (ts(25), "b", 3.0),
    (ts(35), "a", 4.0), (ts(61), "b", 5.0), (ts(59), "a", 6.0))

  test("streaming windowed agg == batch windowed agg") {
    import spark.implicits._
    val stream = MemoryStream[(Timestamp, String, Double)](spark)
    val sdf = EventStream.windowedCounts(
      stream.toDF().toDF("ts", "event_type", "value"), "30 seconds", "10 seconds")
    val q = sdf.writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows.take(3))
      q.processAllAvailable()
      stream.addData(rows.drop(3))
      q.processAllAvailable()
      // push watermark far ahead so every window closes and is emitted
      stream.addData(Seq((ts(1000), "z", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .filter(col("event_type") =!= "z")
        .collect().map(_.toSeq).toSet
      val batch = EventStream.windowedCounts(
          rows.toDF("ts", "event_type", "value"), "30 seconds", "10 seconds")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming session windows == batch, and == the lag-gap rule") {
    import spark.implicits._
    // user 1: 5,12,40 s (gap 10 s → sessions {5,12}, {40});
    // user 2: 8,30,36 s → sessions {8}, {30,36}
    // batch split is chronological — an out-of-order split would push
    // the watermark past user 2's opening event and drop it by design
    val evs = Seq((ts(5), 1L), (ts(12), 1L), (ts(8), 2L),
      (ts(40), 1L), (ts(30), 2L), (ts(36), 2L))
    val stream = MemoryStream[(Timestamp, Long)](spark)
    val sdf = EventStream.sessionWindows(
      stream.toDF().toDF("ts", "user_id"), "10 seconds", "5 seconds")
    val q = sdf.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(evs.take(3)); q.processAllAvailable()
      stream.addData(evs.drop(3)); q.processAllAvailable()
      stream.addData(Seq((ts(1000), 99L))); q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .filter(col("user_id") =!= 99L).collect().map(_.toSeq).toSet
      val batch = EventStream.sessionWindows(
          evs.toDF("ts", "user_id"), "10 seconds", "5 seconds")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch && batch.size == 4)
      // the q194 lag-gap batch rule agrees on sessions-per-user
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val lagCounts = evs.toDF("ts", "user_id")
        .withColumn("brk", when(unix_timestamp(col("ts"))
            - unix_timestamp(lag(col("ts"), 1).over(ord)) >= 10, 1L)
          .otherwise(0L))
        .groupBy(col("user_id"))
        .agg((sum(col("brk")) + 1).as("n_sessions"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val swCounts = spark.table("sess_out")
        .filter(col("user_id") =!= 99L)
        .groupBy(col("user_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lagCounts == swCounts)
    } finally q.stop()
  }

  test("streaming VCF ingestion == batch parse on the CEU fixture") {
    import spark.implicits._
    val src = Fixtures.path("CEU_Exon.vcf.gz")
    val all = {
      val in = new java.util.zip.GZIPInputStream(
        java.nio.file.Files.newInputStream(java.nio.file.Paths.get(src)))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val header = all.takeWhile(_.startsWith("#"))
    val body = all.drop(header.length)

    val mem = MemoryStream[String](spark)
    val q = EventStream.vcfIngest(mem.toDF().toDF("value"), header)
      .writeStream.format("memory").queryName("vcf_ingest")
      .outputMode(OutputMode.Append).start()
    try {
      // two micro-batches, split mid-file
      mem.addData(body.take(700))
      q.processAllAvailable()
      mem.addData(body.drop(700))
      q.processAllAvailable()
      val streamed = spark.table("vcf_ingest")
        .select(col("chrom"), col("pos"), col("allele"), col("geno"))
      val batch = graft.sources.Vcf.read(spark, src)
        .select(col("chrom"), col("pos"), col("allele"), col("geno"))
      assert(streamed.count() == 1348)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming VCF ingestion → packed-lane stats == native GDS " +
      "packed lane on the CEU fixture") {
    import spark.implicits._
    // the genomic path end-to-end on a stream: live import → 2-bit
    // packed encode → fused AF/AC/missing kernel, verified per-variant
    // against the SAME stats decoded from the native CoreArray
    // container's stored bit-planes (a chain that crosses ingestion,
    // the storage coding, and the aggregate kernel in one gate)
    val src = Fixtures.path("CEU_Exon.vcf.gz")
    val all = {
      val in = new java.util.zip.GZIPInputStream(
        java.nio.file.Files.newInputStream(java.nio.file.Paths.get(src)))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val header = all.takeWhile(_.startsWith("#"))
    val body = all.drop(header.length)

    val mem = MemoryStream[String](spark)
    val q = EventStream.genoStatsStream(mem.toDF().toDF("value"), header)
      .writeStream.format("memory").queryName("vcf_geno_stats")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(body.take(500))
      q.processAllAvailable()
      mem.addData(body.drop(500))
      q.processAllAvailable()
      val streamed = spark.table("vcf_geno_stats")
      val nSamples = graft.sources.Vcf.headerSpecs(header)._3.length
      val st = graft.functions.genetics.genoStatsPacked(
        col("pg"), lit(nSamples))
      val batch = spark.read.format("gds").option("packed", "true")
        .load(Fixtures.path("CEU_Exon.gds"))
        .select(col("chrom"), col("pos"), col("allele"),
          element_at(st, 2).as("n_called"),
          element_at(st, 3).as("ac_ref"),
          element_at(st, 4).as("miss_calls"))
      assert(streamed.count() == 1348)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streaming c4 cleaning == batch cleaning across micro-batches") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Good sentence stays right here.\nenable javascript now."),
      (2L, "no punctuation line\nAnother keeper line stands."),
      (3L, "Lorem ipsum dolor sit amet.\nFine line survives anyway."),
      (4L, "{ brace } doc gets flagged.\nStill cleaned normally."))
    val stream = MemoryStream[(Long, String)](spark)
    val out = EventStream.cleanStream(
      stream.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("clean_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(docs.take(2))
      q.processAllAvailable()
      stream.addData(docs.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("clean_out")
        .select("doc_id", "clean_text", "n_kept", "doc_dropped",
          "n_tokens")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getBoolean(3), r.getLong(4))).toSet
      val batch = EventStream.cleanStream(docs.toDF("doc_id", "text"))
        .select("doc_id", "clean_text", "n_kept", "doc_dropped",
          "n_tokens")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getBoolean(3), r.getLong(4))).toSet
      assert(streamed == batch)
      // the lorem-ipsum and brace docs are flagged, the rest keep lines
      assert(streamed.count(_._4) == 2)
    } finally q.stop()
  }

  test("streaming span-corruption examples == batch across micro-batches") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "short doc"),
      (4L, ""))
    val stream = MemoryStream[(Long, String)](spark)
    val out = EventStream.exampleStream(
      stream.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("ex_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(docs.take(2))
      q.processAllAvailable()
      stream.addData(docs.drop(2))
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "input", "target", "n_spans", "n_masked_spans",
          "n_masked_tokens")
        .collect().map(_.toSeq).toSet
      val streamed = canon(spark.table("ex_out"))
      val batch = canon(EventStream.exampleStream(
        docs.toDF("doc_id", "text")))
      assert(streamed == batch)
      // the long docs carry sentinels (md5 determinism, not luck): the
      // batch q111 oracle pins exact values at sf scale; here just
      // require a non-degenerate example set
      assert(batch.nonEmpty && batch.size == 4)
    } finally q.stop()
  }

  test("streaming exact dedup == batch dedup fingerprint set") {
    import spark.implicits._
    // duplicates differ in token ORDER and MULTIPLICITY — the
    // fingerprint is order-insensitive and set-based (q32 semantics),
    // so all three "aa bb" variants collapse to one admitted document
    val docs = Seq(
      (ts(1), "aa bb"), (ts(2), "unique one"), (ts(3), "bb aa"),
      (ts(10), "aa bb aa"), (ts(12), "another text"), (ts(14), "unique one"))
    val stream = MemoryStream[(Timestamp, String)](spark)
    val out = EventStream.dedupStream(
      stream.toDF().toDF("ts", "text"), "1 minute")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // duplicates split ACROSS micro-batches: admission state must
      // carry over, not reset per batch
      stream.addData(docs.take(3))
      q.processAllAvailable()
      stream.addData(docs.drop(3))
      q.processAllAvailable()
      val streamedFps = spark.table("dedup_out")
        .select(col("fp")).as[String].collect().toSet
      val batchFps = EventStream.dedupStream(
          docs.toDF("ts", "text"), "1 minute")
        .select(col("fp")).as[String].collect().toSet
      assert(streamedFps == batchFps)
      assert(streamedFps.size == 3) // {aa bb}, {unique one}, {another text}
      assert(spark.table("dedup_out").count() == 3)
    } finally q.stop()
  }

  test("streaming near-dup admission == batch twin across micro-batches") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (ts(1), 1L, base),                       // admitted
      (ts(2), 2L, "one two three four five six seven"), // admitted
      (ts(3), 3L, base),                       // exact copy of 1 → dropped
      // near-dup of 1 (append one word: all of 1's shingles survive)
      (ts(70), 4L, base + " lambda"),          // dropped on band collision
      (ts(72), 5L, "red green blue cyan magenta yellow"), // admitted
      (ts(74), 6L, "zz")                       // too short to shingle → admitted
    )
    val sentinel = (ts(900), 99L, "sentinel words never emitted here today")
    val stream = MemoryStream[(Timestamp, Long, String)](spark)
    val out = EventStream.nearDupStream(
      stream.toDF().toDF("ts", "doc_id", "text"), "1 minute")
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // near-dups split ACROSS micro-batches: band state must carry over
      stream.addData(docs.take(3))
      q.processAllAvailable()
      stream.addData(docs.drop(3) :+ sentinel)
      q.processAllAvailable()
      val streamed = spark.table("neardup_out")
        .select(col("doc_id")).as[Long].collect().toSet
      val batch = EventStream.nearDupStream(
          (docs :+ sentinel).toDF("ts", "doc_id", "text"), "1 minute")
        .select(col("doc_id")).as[Long].collect().toSet
      // the sentinel only advances the watermark; its own group is
      // still pending when the query stops
      assert(streamed == Set(1L, 2L, 5L, 6L), streamed.toSeq.sorted)
      assert(batch == Set(1L, 2L, 5L, 6L, 99L), batch.toSeq.sorted)
    } finally q.stop()
  }

  test("streaming chunk novelty == batch twin across micro-batches") {
    import spark.implicits._
    // long high-entropy docs so CDC actually cuts; doc 3 re-wraps doc 1's
    // content behind a new header — whole-doc fingerprints see a new doc,
    // chunk novelty sees ~zero new chunks
    val body = (1 to 120).map(i => "w" + (i * 2654435761L % 9973))
      .mkString(" ")
    val other = (1 to 120).map(i => "v" + (i * 48271 % 9973)).mkString(" ")
    val docs = Seq(
      (ts(1), 1L, body),
      (ts(2), 2L, other),
      (ts(60), 3L, "SYNDICATED REPOST HEADER. " + body))
    val sentinel = (ts(900), 99L,
      (1 to 60).map(i => "s" + i).mkString(" "))
    val stream = MemoryStream[(Timestamp, Long, String)](spark)
    val out = EventStream.chunkNoveltyStream(
      stream.toDF().toDF("ts", "doc_id", "text"), "1 minute")
    val q = out.writeStream.format("memory").queryName("chunknov_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // chunk state must carry across micro-batches
      stream.addData(docs.take(2))
      q.processAllAvailable()
      stream.addData(docs.drop(2) :+ sentinel)
      q.processAllAvailable()
      val streamed = spark.table("chunknov_out")
        .select(col("doc_id"), col("n_new")).as[(Long, Long)]
        .collect().toMap
      val batch = EventStream.chunkNoveltyStream(
          (docs :+ sentinel).toDF("ts", "doc_id", "text"), "1 minute")
        .select(col("doc_id"), col("n_new")).as[(Long, Long)]
        .collect().toMap
      // sentinel advances the watermark; its group is pending at stop
      assert(streamed.keySet == Set(1L, 2L, 3L), streamed.toString)
      assert(batch.keySet == Set(1L, 2L, 3L, 99L), batch.toString)
      assert(streamed.view.filterKeys(_ != 99L).toMap ==
        batch.view.filterKeys(_ != 99L).toMap)
      // originals are all-new; the re-wrap contributes at most the
      // header-disturbed prefix chunks
      assert(streamed(1L) >= 5L && streamed(2L) >= 5L)
      assert(streamed(3L) <= 2L, s"re-wrap novelty ${streamed(3L)}")
    } finally q.stop()
  }

  test("stateful transition extraction == batch lag rule across batches") {
    import spark.implicits._
    var nextId = 0L
    def te(u: Long, t: Int, et: String) = {
      nextId += 1
      EventStream.TypedEvent(u, ts(t), et, nextId)
    }
    // user 1's chain spans the micro-batch boundary (c follows b);
    // user 3 appears only in batch 2 (no prior state → first event
    // emits nothing)
    val b1 = Seq(te(1, 1, "a"), te(1, 2, "b"), te(2, 1, "x"))
    val b2 = Seq(te(1, 3, "c"), te(2, 4, "x"), te(3, 5, "q"))
    val stream = MemoryStream[EventStream.TypedEvent](spark)
    val q = EventStream.transitionStream(stream.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      val got = spark.table("trans_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sorted.toSeq
      // batch twin: the q214 lag rule over the full event set
      val batch = (b1 ++ b2).groupBy(_.user_id).toSeq.flatMap {
        case (u, es) =>
          val s = es.sortBy(e => (e.ts.getTime, e.event_id))
          s.zip(s.drop(1)).map(p => (u, p._1.event_type, p._2.event_type))
      }.sorted
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("stream-stream interval join: attribution pairs == the batch " +
      "join, late view beyond the watermark drops") {
    import spark.implicits._
    def ev(id: Long, u: Long, t: Int) = (id, u, ts(t))
    val views1 = Seq(ev(1, 1, 10), ev(2, 1, 50), ev(3, 2, 10))
    val buys1 = Seq(ev(100, 1, 60))               // pairs with views 1, 2
    val views2 = Seq(ev(4, 2, 70))
    val buys2 = Seq(ev(101, 2, 80), ev(102, 1, 200)) // 101→{3,4}; 102→none (horizon)
    val vs = MemoryStream[(Long, Long, Timestamp)](spark)
    val ps = MemoryStream[(Long, Long, Timestamp)](spark)
    def named(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_id", "user_id", "ts")
    val out = EventStream.attributionJoin(named(vs.toDF()),
      named(ps.toDF()), horizon = "90 SECONDS", lateness = "10 seconds")
    val q = out.writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append()).start()
    try {
      vs.addData(views1); ps.addData(buys1); q.processAllAvailable()
      vs.addData(views2); ps.addData(buys2); q.processAllAvailable()
      val got = spark.table("attr_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sorted.toSeq
      // batch twin: the identical plan on static frames
      val batch = EventStream.attributionJoin(
          (views1 ++ views2).toDF("event_id", "user_id", "ts"),
          (buys1 ++ buys2).toDF("event_id", "user_id", "ts"),
          "90 SECONDS", "10 seconds")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sorted.toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.map(x => (x._2, x._3)) ==
        Seq((100L, 1L), (100L, 2L), (101L, 3L), (101L, 4L)))
      assert(got.find(_._2 == 100L).get._4 == 50000L) // 60s−10s in ms
    } finally q.stop()
  }

  test("streaming skyline: admissions == at-arrival Pareto replay, " +
      "state holds the batch frontier") {
    import spark.implicits._
    def mp(g: String, i: Long, t: Int, rev: Long, lat: Long) =
      EventStream.MetricPoint(g, i, ts(t), rev, lat)
    val b1 = Seq(mp("x", 1, 1, 100, 10), mp("x", 2, 2, 90, 5),
      mp("y", 10, 1, 50, 50))
    val b2 = Seq(mp("x", 3, 3, 100, 5), // dominates items 1 AND 2
      mp("x", 4, 4, 80, 20), // dominated at arrival → silent
      mp("x", 5, 5, 100, 5), // ties item 3 on both dims → admitted
      mp("y", 11, 2, 50, 60)) // dominated (worse lat, equal rev)
    val stream = MemoryStream[EventStream.MetricPoint](spark)
    val q = EventStream.skylineStream(stream.toDS())
      .writeStream.format("memory").queryName("sky_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      val got = spark.table("sky_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      // batch twin: fold all points in (ts, item) order per group,
      // admitting exactly the at-arrival Pareto survivors
      val batch = (b1 ++ b2).groupBy(_.group).toSeq.flatMap {
        case (g, ps) =>
          var f = List.empty[(Long, Long, Long)]
          val adm = Seq.newBuilder[(String, Long)]
          for (p <- ps.sortBy(x => (x.ts.getTime, x.item))) {
            val dom = f.exists { case (_, r, l) =>
              r >= p.rev && l <= p.lat && (r > p.rev || l < p.lat) }
            if (!dom) {
              adm += ((g, p.item))
              f = (p.item, p.rev, p.lat) :: f.filterNot { case (_, r, l) =>
                p.rev >= r && p.lat <= l && (p.rev > r || p.lat < l) }
            }
          }
          adm.result()
      }.sorted
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got == Seq(("x", 1L), ("x", 2L), ("x", 3L), ("x", 5L),
        ("y", 10L)))
    } finally q.stop()
  }

  test("stateful sessionization accumulates per user") {
    import spark.implicits._
    val events = Seq(
      EventStream.Event(1L, ts(1), 2.0), EventStream.Event(1L, ts(2), 3.0),
      EventStream.Event(2L, ts(3), 5.0))
    val stream = MemoryStream[EventStream.Event](spark)
    stream.addData(events)
    val out = EventStream.sessionize(stream.toDS(), gapMs = 2000)
    // A query with processing-time timeouts re-triggers forever, so neither
    // processAllAvailable nor AvailableNow quiesces — poll the sink until
    // the open sessions appear and then time out into closed ones.
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Update()).start()
    try {
      def snap(): Set[(Long, Int, Double, Boolean)] =
        spark.table("sess_out").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
            r.getBoolean(3))).toSet
      val open = Set((1L, 2, 5.0, false), (2L, 1, 5.0, false))
      val closed = Set((1L, 2, 5.0, true), (2L, 1, 5.0, true))
      val deadline = System.currentTimeMillis() + 90000
      while (!closed.subsetOf(snap()) && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      assert(open.subsetOf(snap()), s"open sessions missing: ${snap()}")
      assert(closed.subsetOf(snap()), s"closed sessions missing: ${snap()}")
    } finally q.stop()
  }

  test("streaming FLAC decode == batch over a binary payload stream") {
    import spark.implicits._
    import graft.operators.{Flac, Multimodal}
    // the compressed-audio lane is a stateless partition map, so it
    // must run unchanged under structured streaming (the readStream →
    // decode → writeStream ingestion shape); one corrupt payload is
    // spliced in and must drop on BOTH paths
    val rows = (0L until 20L).map { id =>
      val n = (id % 50 + 30).toInt
      val payload =
        if (id == 13L) Array[Byte]('f', 'L', 'a', 'C', 9, 9)
        else Flac.encode(Flac.fixtureWaveform(id, n), 8000)
      Multimodal.MediaRow(id, "audio", payload)
    }
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.decodeFlacAll(stream.toDS())
      .writeStream.format("memory").queryName("flac_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows.take(10)); q.processAllAvailable()
      stream.addData(rows.drop(10)); q.processAllAvailable()
      val got = spark.table("flac_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
        .sorted.toSeq
      val batch = Multimodal.decodeFlacAll(
          spark.createDataset(rows)).collect()
        .map(f => (f.doc_id, f.n_frames, f.sum_sq)).sorted.toSeq
      assert(got == batch)
      assert(!got.exists(_._1 == 13L), "corrupt payload must drop")
      assert(got.size == 19)
    } finally q.stop()
  }

  test("streaming µ-law + AVI decode == batch (stateless decode lanes)") {
    import spark.implicits._
    import graft.operators.{Avi, G711, Multimodal}
    val ulaw = (0L until 12L).map(id => Multimodal.MediaRow(id, "audio",
      G711.syntheticUlawWav(id, (id % 40 + 20).toInt, 8000)))
    val avis = (100L until 110L).map { id =>
      val frames = (0 until 3).map(f =>
        Avi.solidDib(16, 12, ((id + f * 11) % 256).toInt))
      Multimodal.MediaRow(id, "video",
        Avi.write(frames, 16, 12, 30, 1, "DIB ", dib = true))
    }
    val su = MemoryStream[Multimodal.MediaRow](spark)
    val qu = Multimodal.decodeUlawAll(su.toDS())
      .writeStream.format("memory").queryName("ulaw_out")
      .outputMode(OutputMode.Append()).start()
    val sa = MemoryStream[Multimodal.MediaRow](spark)
    val qa = Multimodal.decodeAviFramesAll(sa.toDS())
      .writeStream.format("memory").queryName("avi_out")
      .outputMode(OutputMode.Append()).start()
    try {
      su.addData(ulaw.take(6)); qu.processAllAvailable()
      su.addData(ulaw.drop(6)); qu.processAllAvailable()
      sa.addData(avis); qa.processAllAvailable()
      val gotU = spark.table("ulaw_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .sorted.toSeq
      val batchU = Multimodal.decodeUlawAll(spark.createDataset(ulaw))
        .collect().map(f => (f.doc_id, f.n_frames, f.sum_sq))
        .sorted.toSeq
      assert(gotU == batchU && gotU.size == 12)
      val gotA = spark.table("avi_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(6)))
        .sorted.toSeq
      val batchA = Multimodal.decodeAviFramesAll(
          spark.createDataset(avis)).collect()
        .map(f => (f.doc_id, f.frame_idx, f.brightness)).sorted.toSeq
      assert(gotA == batchA && gotA.size == 30)
    } finally { qu.stop(); qa.stop() }
  }

  test("streaming A-law + MS-ADPCM decode == batch (stateless decode " +
      "lanes; one cross-codec payload spliced in must drop on both)") {
    import spark.implicits._
    import graft.operators.{Flac, G711, MsAdpcm, Multimodal}
    val alaw = (0L until 12L).map { id =>
      val payload =
        if (id == 7L) G711.syntheticUlawWav(id, 30, 8000) // wrong tag
        else G711.syntheticAlawWav(id, (id % 40 + 20).toInt, 8000)
      Multimodal.MediaRow(id, "audio", payload)
    }
    val ms = (100L until 110L).map { id =>
      Multimodal.MediaRow(id, "audio", MsAdpcm.encode(
        Flac.fixtureWaveform(id, (id % 60 + 40).toInt), 8000))
    }
    val sl = MemoryStream[Multimodal.MediaRow](spark)
    val ql = Multimodal.decodeAlawAll(sl.toDS())
      .writeStream.format("memory").queryName("alaw_out")
      .outputMode(OutputMode.Append()).start()
    val sm = MemoryStream[Multimodal.MediaRow](spark)
    val qm = Multimodal.decodeMsAdpcmAll(sm.toDS())
      .writeStream.format("memory").queryName("msadpcm_out")
      .outputMode(OutputMode.Append()).start()
    try {
      sl.addData(alaw.take(6)); ql.processAllAvailable()
      sl.addData(alaw.drop(6)); ql.processAllAvailable()
      sm.addData(ms); qm.processAllAvailable()
      val gotL = spark.table("alaw_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .sorted.toSeq
      val batchL = Multimodal.decodeAlawAll(spark.createDataset(alaw))
        .collect().map(f => (f.doc_id, f.n_frames, f.sum_sq))
        .sorted.toSeq
      assert(gotL == batchL && gotL.size == 11)
      assert(!gotL.exists(_._1 == 7L), "mu-law payload must drop")
      val gotM = spark.table("msadpcm_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .sorted.toSeq
      val batchM = Multimodal.decodeMsAdpcmAll(spark.createDataset(ms))
        .collect().map(f => (f.doc_id, f.n_frames, f.sum_sq))
        .sorted.toSeq
      assert(gotM == batchM && gotM.size == 10)
    } finally { ql.stop(); qm.stop() }
  }

  test("stateful funnel: appended (user, step) rows == the batch " +
      "funnel across a micro-batch boundary, ties resolved by event_id") {
    import spark.implicits._
    var nextId = 0L
    def te(u: Long, t: Int, et: String) = {
      nextId += 1
      EventStream.TypedEvent(u, ts(t), et, nextId)
    }
    // user 1 converts ACROSS the boundary (view+click in b1, purchase
    // in b2); user 2 clicks before any view (click must not count);
    // user 3 purchases with no prior click (stops at step 1);
    // user 4 is the ADVICE tie case: view then click at the SAME
    // timestamp — event_id order says view first, so the click counts
    // step 2 (the alphabetical sort would replay click first and
    // never advance); user 5 is the inverse tie (click id-before
    // view at one ts → no step 2)
    val b1 = Seq(te(1, 1, "view"), te(1, 2, "click"),
      te(2, 1, "click"), te(3, 1, "view"),
      te(4, 7, "view"), te(4, 7, "click"))
    val b2 = Seq(te(1, 3, "purchase"), te(2, 2, "view"),
      te(3, 2, "purchase"),
      te(5, 9, "click"), te(5, 9, "view"))
    val stream = MemoryStream[EventStream.TypedEvent](spark)
    val q = EventStream.funnelStream(stream.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      val got = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      // batch twin: per-user max step from the full stream, one row
      // per step reached (the q321 counting rule)
      def maxStep(es: Seq[EventStream.TypedEvent]): Int = {
        var st = 0
        for (e <- es.sortBy(e => (e.ts.getTime, e.event_id)))
          st = e.event_type match {
            case "view" if st < 1 => 1
            case "click" if st == 1 => 2
            case "purchase" if st == 2 => 3
            case _ => st
          }
        st
      }
      val batch = (b1 ++ b2).groupBy(_.user_id).toSeq.flatMap {
        case (u, es) => (1 to maxStep(es)).map(st => (u, st))
      }.sorted
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.contains((1L, 3)) && !got.contains((2L, 2))
        && got.filter(_._1 == 3L).map(_._2).max == 1)
      // the tie pairs: id-order view→click advances, click→view doesn't
      assert(got.contains((4L, 2)), "same-ts view→click must count")
      assert(!got.contains((5L, 2)), "same-ts click→view must not count")
    } finally q.stop()
  }

  test("streaming MPEG-1 Layer II decode == batch (a truncated payload " +
      "drops on both paths)") {
    import spark.implicits._
    import graft.operators.{MpegAudio, Multimodal}
    val rows = (0L until 12L).map { id =>
      val payload = MpegAudio.syntheticMp2(id, (id % 4 + 2).toInt)
      Multimodal.MediaRow(id, "audio",
        if (id == 7L) payload.dropRight(3) else payload)
    }
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = MpegAudio.decodeMp2Bands(stream.toDS())
      .writeStream.format("memory").queryName("mp2_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows.take(6)); q.processAllAvailable()
      stream.addData(rows.drop(6)); q.processAllAvailable()
      val got = spark.table("mp2_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
          r.getLong(4))).sorted.toSeq
      val batch = MpegAudio.decodeMp2Bands(spark.createDataset(rows))
        .collect().map(b => (b.doc_id, b.sb, b.n_frames, b.amp_q9,
          b.eng_q12)).sorted.toSeq
      assert(got == batch)
      assert(!got.exists(_._1 == 7L), "truncated payload must drop")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming archive-shard walk == batch (tar + zip + tgz through " +
      "one sniff-routed pass; a corrupt shard drops on both paths)") {
    import spark.implicits._
    import graft.operators.{Archives, Gzip, Multimodal}
    val rows = (0L until 18L).map { id =>
      val members = Seq(
        "doc.txt" -> s"text of document $id with id-dependent tail ${
          "x" * (id % 7).toInt}".getBytes("UTF-8"),
        "meta.json" -> s"""{"id":$id}""".getBytes("UTF-8"))
      val payload = (id % 3) match {
        case 0 => Archives.tarWrite(members)
        case 1 => Archives.zipWrite(members)
        case _ => Gzip.gzipMember(Archives.tarWrite(members))
      }
      if (id == 11L) payload(payload.length / 2) =
        (payload(payload.length / 2) ^ 0x40).toByte // corrupt ONE shard
      Multimodal.MediaRow(id, "archive", payload)
    }
    val stream = MemoryStream[Multimodal.MediaRow](spark)
    val q = Multimodal.archiveMembersAll(stream.toDS())
      .writeStream.format("memory").queryName("arch_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(rows.take(9)); q.processAllAvailable()
      stream.addData(rows.drop(9)); q.processAllAvailable()
      val got = spark.table("arch_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).sorted.toSeq
      val batch = Multimodal.archiveMembersAll(
          spark.createDataset(rows)).collect()
        .map(m => (m.doc_id, m.name, m.n_bytes, m.member_md5))
        .sorted.toSeq
      assert(got == batch)
      assert(!got.exists(_._1 == 11L), "corrupt shard must drop")
      assert(got.size == 17 * 2, "two members per clean shard")
    } finally q.stop()
  }
}
