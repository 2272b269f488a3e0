package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import graft.core.SharedStages

/** The one harness runner; [[parseMode]] lists its modes (README
  * "Verification" says what each does). Every mode, and [[Verify]], uses
  * [[session]], [[selected]] and the scan directory `SPARK_GRAFT_SF_DIR`;
  * the timed modes use [[timeNoop]]. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = parseMode(args.toSeq)
    val picked = selected()
    val spark = mode match {
      // SPARK_GRAFT_SHUFFLE_PARTITIONS: probe at a CLUSTER-like partition
      // count (clusters run thousands) — catches plan-size/driver-side
      // per-partition costs that local core-count partitioning hides
      case Mode.Scale => session(sys.env.getOrElse(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", Cpus))
      case _ => session()
    }
    try mode match {
      case Mode.Board => board(spark, sfDir, picked)
      case Mode.Time(reps) => timeReps(spark, sfDir, picked, reps)
      case p: Mode.Plan => plan(spark, sfDir, picked, p)
      case Mode.Audit => audit(spark, sfDir, picked)
      case Mode.Scale =>
        if (!ScaleProbe.run(spark, sfDir)) { spark.stop(); sys.exit(1) }
    } finally spark.stop()
  }

  sealed trait Mode
  object Mode {
    case object Board extends Mode
    final case class Time(reps: Int) extends Mode
    /** `--exec`: collect first and print the FINAL adaptive plan
      * (isFinalPlan=true) — the only way to see AQE decisions: runtime
      * broadcast conversions, skew splits, `ReusedExchange` stage sharing.
      * `--fmt`: explain("formatted"), the plans/r11 artifact format.
      * `""`: the initial plan. */
    final case class Plan(flag: String) extends Mode
    case object Audit extends Mode
    case object Scale extends Mode
  }

  def parseMode(args: Seq[String]): Mode = args match {
    case Seq() | Seq("board") => Mode.Board
    case Seq("time") => Mode.Time(2)
    case Seq("time", n) if n.toIntOption.exists(_ > 0) => Mode.Time(n.toInt)
    case Seq("plan") => Mode.Plan("")
    case Seq("plan", f @ ("--exec" | "--fmt")) => Mode.Plan(f)
    case Seq("audit") => Mode.Audit
    case Seq("scale") => Mode.Scale
    case _ => throw new IllegalArgumentException(
      "usage: runMain graft.Bench [board | time [reps] | plan [--exec|--fmt] | audit | scale]")
  }

  type QueryFn = (SparkSession, String) => DataFrame

  /** The queries `names` picks, in the given order; a name that is not a
    * key of [[SparkEntry.queries]] is an error, never an empty pick. */
  def select(names: Seq[String]): Seq[(String, QueryFn)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    names.distinct.map(n => n -> all(n))
  }

  private val Only = sys.env.get("SPARK_GRAFT_ONLY")

  /** The local-iteration filter: the queries
    * named by the comma list `only` (default `SPARK_GRAFT_ONLY`), e.g.
    * `SPARK_GRAFT_ONLY=q126_ld_prune`; every query, in registry order,
    * when it is unset. */
  def selected(only: Option[String] = Only)
      : Seq[(String, QueryFn)] = only match {
    case None => SparkEntry.queries.toSeq
    case Some(list) =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(names.nonEmpty, "SPARK_GRAFT_ONLY names no query")
      select(names)
  }

  val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[SPARK_GRAFT_CPUS]` with one shuffle partition per core unless
    * the caller says otherwise. */
  def session(shufflePartitions: String = Cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds to build `df` and write it to the noop sink, which forces
    * full evaluation of every output column (count() would let Catalyst
    * prune the computed projections away). Returns the NEGATED elapsed
    * time when the query threw — a failed query must not contribute a
    * plausible-looking duration. `cold` first clears every shared stage
    * (shared stages carry work across queries by design; a cold run
    * measures the query's own compute). */
  def timeNoop(name: String, df: => DataFrame, cold: Boolean = false)
      : Double = {
    if (cold) SharedStages.clearAll()
    val t0 = System.nanoTime()
    val failed =
      try { df.write.format("noop").mode("overwrite").save(); false }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        true
      }
    val dt = (System.nanoTime() - t0) / 1e9
    if (failed) -dt else dt
  }

  /** JSON string literal of `s`: escapes backslash, quote and ALL control
    * chars (< 0x20) — a tab or CR in oracle SQL or an outside path would
    * otherwise make a consumer's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Board-warmup owners: one cheap consumer per MULTI-consumer shared
    * stage (the dedup cluster labels × 2 keys, the LD pair-stats stage,
    * the suffix-array occurrence table, the EHH haplotype vectors, …). */
  val warmupOwners: Seq[String] = Seq("q72_dedup_clusters",
    "q161_corpus_release", "q108_ld_r2", "q280_sa_substring_dedup",
    "q284_ehh_decay", "q63_kmeans_train", "q127_bpe_train",
    "q227_ceu_family_kinship", "q112_roh", "q68_ngram_jaccard",
    "q312_roh_runs", "q33_minhash_lsh", "q307_merge_nway_samples")

  private def board(spark: SparkSession, sfDir: String,
      picked: Seq[(String, QueryFn)]): Unit = {
    def run1(name: String, fn: QueryFn): Double =
      timeNoop(name, fn(spark, sfDir))
    // Min-of-N: first runs pay Janino/JIT compilation and are hostage to
    // host-load bursts (round 3's driver bench recorded 3-30× slowdowns
    // on a contended host). EVERY query runs twice and keeps its minimum;
    // queries whose two runs still disagree by >20% get a tie-break third
    // run within a bounded budget — one contended pass can no longer
    // poison the headline number.
    // Query families share session-scoped stages (graft.core.SharedStages
    // — the cross-query CTE fusion): whichever runs first prices the
    // stage, the rest ride it, so their minima are warm-stage numbers BY
    // DESIGN. The scale mode clears every stage per run and keeps the
    // cold compute ratios.
    // Board-warmup: force-build each MULTI-consumer shared stage (see
    // warmupOwners) BEFORE the timed loop, so the cold Janino/persist
    // builds land HERE — not on whichever consumer registration order
    // happens to run first (round 10's q62 board figure wandered 1.97 →
    // 4.45 s purely because q369's module append shifted which query
    // paid the cold build). The cost is reported as warmup_sec in the
    // artifact instead of hiding in a query's number. Skipped under
    // SPARK_GRAFT_ONLY (the local-iteration filter wants the cold number
    // it asks for).
    // Warmup owners run CONCURRENTLY (guide §2.6 — overlap independent
    // jobs): each cold build is a chain of small stages whose tail
    // leaves most cores idle, so at 32 cores the sequential warmup ran
    // ~1.2× SLOWER than at 8 (round-11 verdict item 7; measured 99 s
    // vs 85 s quiet-host — per-stage overhead at local-bench data
    // sizes, amplified to 511 s vs 186 s under the driver's host
    // contention). Four in flight backfill each other's stragglers;
    // each shared stage has its own lock, so owners of different
    // stages build side by side, and Spark's FIFO scheduler interleaves
    // the jobs. warmup_sec is the WALL time of the pool (the real cost a
    // board pass pays).
    val warmupSec = if (Only.isDefined) 0.0 else {
      val owners = select(warmupOwners)
      val t0 = System.nanoTime()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futs = owners.map { case (n, fn) =>
          scala.concurrent.Future { run1(s"warmup:$n", fn) } }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
      (System.nanoTime() - t0) / 1e9
    }
    val fns = picked.toMap
    val first = picked.map { case (name, fn) =>
      name -> run1(name, fn)
    }.toMap
    val second = picked.map { case (name, fn) =>
      name -> run1(name, fn)
    }.toMap
    def best(a: Double, b: Double): Double =
      if (a < 0) b else if (b < 0) a else math.min(a, b)
    val results = scala.collection.mutable.Map(
      first.map { case (n, t) => n -> best(t, second(n)) }.toSeq: _*)
    // Sub-second rows are the noisiest (r5 showed ±30–70% run-to-run on
    // them even with min-of-2, all ≤0.4 s absolute): they get an
    // unconditional third run — min-of-3 for ~nothing, so
    // round-over-round deltas on unchanged queries stay signal.
    for ((name, t) <- results.toSeq if t >= 0 && t <= 1.0) {
      val t3 = run1(name, fns(name))
      if (t3 >= 0 && t3 < t) results(name) = t3
    }
    var budget = 120.0
    for ((name, t) <- results.toSeq.sortBy(-_._2)
        if t > 1.0 && budget > 0) {
      val worst = math.max(math.abs(first(name)), math.abs(second(name)))
      if (worst > t * 1.2) {
        val t3 = run1(name, fns(name))
        budget -= math.abs(t3)
        if (t3 >= 0 && t3 < t) results(name) = t3
      }
    }
    val qs = results.map { case (k, v) => jsonString(k) + ":" + v }
      .mkString("{", ",", "}")
    // Failed queries (negative sentinel) are excluded from the headline.
    val total = results.values.filter(_ >= 0).sum
    // Shared-stage telemetry: minima that rode a warm shared stage are
    // warm numbers BY DESIGN — the artifact says so instead of leaving
    // readers to infer it. Per-key breakdowns: a key with misses > 1 in
    // one board pass was FIFO-evicted mid-board — the direct
    // undersized-cache signal the aggregate counters can only hint at.
    // Labels embed carry/id/text column names, hence the escaping.
    def keyJson(rows: Seq[(String, Long, Long)]): String =
      rows.map { case (k, h, m) =>
        s"""${jsonString(k)}:{"hits":$h,"misses":$m}"""
      }.mkString("{", ",", "}")
    val stages = SharedStages.all.map { st =>
      val (h, m) = st.telemetry
      s""""${st.name}":{"hits":$h,"misses":$m},"""
    }.mkString
    val ldKeys = keyJson(SharedStages.ld.telemetryByKey)
    val ddKeys = keyJson(SharedStages.dedup.telemetryByKey)
    val sf = jsonString(sfDir)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""warmup_sec":$warmupSec,""" +
        stages +
        s""""ld_shared_keys":$ldKeys,""" +
        s""""dedup_shared_keys":$ddKeys,""" +
        s""""sf":$sf}"""
    // The full artifact (380-query map + shared-stage telemetry, ~14 KB)
    // goes to a file: the driver's stdout tail-capture keeps only the last
    // 2000 characters (measured across BENCH_r01..r11 — every `tail` field
    // is exactly 2000 chars), which clipped the one-line form for two
    // rounds running (PERF_r11: prev/now_bench_ok=false, geomean null).
    // The round-11 verdict ("Next round" item 1) mandates this split:
    // stdout carries a COMPACT headline that survives the tail-capture;
    // target/bench.json carries everything, including the per-query map
    // whose keys are unchanged from rounds 1-11 (nothing removed or
    // renamed — the map just moved out of the clipped channel).
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: ${e.getMessage}")
    }
    val nFailed = results.values.count(_ < 0)
    println(
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""n":${results.size},"failed":$nFailed,""" +
        s""""warmup_sec":$warmupSec,"sf":$sf,""" +
        s""""queries_file":"target/bench.json"}""")
  }

  /** Each selected query `reps` times in sequence per rep, in the
    * SPARK_GRAFT_ONLY order (the warmup-diagnosis shape: rep 1 prices
    * the cold shared-stage builds, rep 2 the warm rides). */
  private def timeReps(spark: SparkSession, sfDir: String,
      picked: Seq[(String, QueryFn)], reps: Int): Unit =
    (1 to reps).foreach { i =>
      val tRep = System.nanoTime()
      picked.foreach { case (name, fn) =>
        println(f"[time] $name rep$i: ${timeNoop(name, fn(spark, sfDir))}%.3f s")
      }
      if (picked.size > 1)
        println(f"[time] TOTAL rep$i: ${(System.nanoTime() - tRep) / 1e9}%.3f s")
    }

  /** The full plan of each selected query, for iterating on a single
    * operator's shape ([[audit]] gives the one-screen board overview). */
  private def plan(spark: SparkSession, sfDir: String,
      picked: Seq[(String, QueryFn)], p: Mode.Plan): Unit =
    for ((q, fn) <- picked) {
      println(s"===== $q =====")
      val df = fn(spark, sfDir)
      if (p.flag == "--exec") {
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else println(df.queryExecution.explainString(
        if (p.flag == "--fmt") FormattedMode else SimpleMode))
    }

  /** Builders that legitimately run jobs at construction time — every
    * one is a DOCUMENTED iterative/driver-paced algorithm whose round
    * count is data-dependent (the plan cannot be declared without
    * materializing each round), or a consumer of such a shared stage:
    *  - BPE merge training loop (TrainingData.bpe*: one collect+count
    *    per merge round): q127, q128, q199
    *  - connected-components pointer doubling over the near-dup
    *    subgraph (localCheckpoint per round, cluster swap documented):
    *    q160, q161, q76 (SemDeDup cluster stage)
    *  - union-find family reconstruction (sample-axis-sized driver
    *    state, PopGen.scala:1182): q172, q271
    *  - suffix-array prefix doubling (denseRankCounted's offsets
    *    collect + localCheckpoint per round, SuffixArray.scala): q274,
    *    q275, q280, q281
    *  - PageRank / iterated graph rounds (edge set checkpointed once,
    *    per-round linear joins): q282
    *  - Bloom-filter build for decontamination (aggregate to a
    *    driver-broadcast bitset): q85
    * Everything else must build ZERO jobs beyond parquet read setup —
    * an eager count()/collect() in a plain relational builder is the
    * round-7 q294 defect class this rule exists to catch. */
  val eagerBuilders: Set[String] = Set(
    "q127_bpe_train", "q128_bpe_encode", "q199_bpe_fertility",
    "q160_dedup_impact", "q161_corpus_release", "q76_semdedup",
    "q172_family_split", "q271_ceu_family_recovery",
    "q274_longest_repeat", "q275_sa_gram_blocks",
    "q280_sa_substring_dedup", "q281_substring_removal_rebuild",
    "q282_pagerank", "q85_decontaminate_bloom",
    // multiplicative-weights loop: the per-source aggregate is
    // localCheckpoint'd once before the 5 rounds (q282's discipline)
    "q316_mixture_reweight",
    // label propagation: edge set checkpointed once + per-round label
    // checkpoints (q282's discipline)
    "q318_label_propagation",
    // shared-stage siblings: whichever of the SA/cluster consumers
    // builds FIRST prices the stage for the rest, so cold-order
    // variants flag these too
    "q216_dup_source_flow", "q263_dedup_cost_curve",
    "q278_dup_quality_interaction")

  /** Expression-node budget for the ANALYZED plan — the plan-SIZE red
    * flag (sibling to the eager-action rule): a plan
    * whose expression tree grows with a DATA dimension (the S²-literal
    * pair-fan class — 10⁶ literal children at the guard bound) blows up
    * Catalyst analysis/codegen long before the data would. Every fan-out
    * must be a generator (`sequence()`+explode), never a literal array.
    * The budget is calibrated ~4× above the board's largest legitimate
    * plan (the cohort-width balanced-sum trees at the 8-sample fixture
    * and the BPE/packed-lane expression chains), so growth that scales
    * with samples² or vocab size trips it immediately. */
  val PlanNodeBudget = 20000

  /** Whole-board plan audit, one build per query, two reports:
    *
    * `FLAG <query>: <flags>` for every query whose physical plan contains
    * a nested-loop join, a cartesian product, or a global sort outside
    * TakeOrdered — the shapes that do not survive a 100× scale-up — whose
    * analyzed plan exceeds [[PlanNodeBudget]], or whose BUILDER launches
    * Spark jobs (driver-side eager actions like `df.count()` embedded as
    * plan literals: extra unfusable jobs and doubled scans; round 7's
    * q294 shipped exactly that — this rule catches the class
    * mechanically). The expected output is ONLY the known-benign set:
    * BroadcastNestedLoopJoins from crossJoins against broadcast ≤k-row
    * aggregates (centroid tables, totals rows, bucket maps) and
    * broadcast probe sets on non-equi predicates (kNN's
    * `vec_id =!= probe_id`), each documented at its query, plus
    * eager-jobs flags on the builders listed in [[eagerBuilders]] —
    * those price a session-scoped materialization whose
    * localCheckpoint is the documented cluster-swap point, not a
    * per-row action. A new FLAG on any other query is a regression;
    * `PlanSpec` pins the per-query shapes. `ERR <query>: <message>`
    * when the plan cannot be built (the query also gets a
    * `HOF <query>\tERROR <message>` line).
    *
    * `HOF <query>\t<class>=<count> …` for every query whose optimized
    * plan holds a Spark HOF (`transform`/`filter`/`aggregate`/…) or any
    * other non-graft `CodegenFallback` expression: those run INTERPRETED
    * per row, so the expensive sites can be ranked against bench
    * seconds and kernel-ized (the DosageStatsExpr / SampleQcExpr
    * discipline). */
  private def audit(spark: SparkSession, sfDir: String,
      picked: Seq[(String, QueryFn)]): Unit = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart)
            : Unit = {
          // parquet footer/schema-inference jobs fire on every
          // spark.read.parquet — read SETUP, not an eager action;
          // everything else (count/collect/checkpoint/AQE-subjob at
          // build time) counts
          val setup = js.stageInfos.nonEmpty &&
            js.stageInfos.forall(_.name.startsWith("parquet at "))
          if (!setup) { jobs.incrementAndGet(); () }
        }
      })
    for ((name, fn) <- picked.sortBy(_._1)) try {
      val before = jobs.get()
      val df = fn(spark, sfDir)
      // builders block on any eager action they run, so by the time
      // fn returns the job-start event is posted; the tiny sleep
      // covers listener-bus delivery lag
      Thread.sleep(20)
      val eager = jobs.get() - before
      val hits = scala.collection.mutable.Map.empty[String, Int]
      df.queryExecution.optimizedPlan.foreach { node =>
        node.expressions.foreach(_.foreach {
          case h: HigherOrderFunction =>
            val k = "HOF:" + h.getClass.getSimpleName
            hits(k) = hits.getOrElse(k, 0) + 1
          case c: CodegenFallback
              if !c.getClass.getName.contains("graft") =>
            val k = "FB:" + c.getClass.getSimpleName
            hits(k) = hits.getOrElse(k, 0) + 1
          case _ =>
        })
      }
      val p = df.queryExecution.explainString(SimpleMode)
      val exprNodes = df.queryExecution.analyzed.map(n =>
        n.expressions.map(e => e.collect { case x => x }.size).sum).sum
      // SimpleMode prints SortExec as `Sort [keys], <global>, 0` —
      // a global sort is the line-local `], true, 0` (PlanSpec pins
      // the same format when asserting `false, 0` for local sorts);
      // TakeOrderedAndProject prints no Sort node, so no mask needed
      val flags = Seq(
        "nested-loop" -> p.contains("BroadcastNestedLoopJoin"),
        "cartesian" -> p.contains("CartesianProduct"),
        "global-sort" -> p.linesIterator.exists(l =>
          l.contains("Sort [") && l.contains("], true, 0")),
        s"eager-jobs($eager)" ->
          (eager > 0 && !eagerBuilders.contains(name)),
        s"plan-size($exprNodes)" -> (exprNodes > PlanNodeBudget)
      ).filter(_._2).map(_._1)
      if (hits.nonEmpty)
        println(s"HOF $name\t" + hits.toSeq.sortBy(-_._2)
          .map { case (k, n) => s"$k=$n" }.mkString(" "))
      if (flags.nonEmpty) println(s"FLAG $name: ${flags.mkString(",")}")
    } catch { case e: Throwable =>
      val m = String.valueOf(e.getMessage)
      println(s"ERR $name: ${m.take(100)}")
      println(s"HOF $name\tERROR ${m.take(80)}")
    }
    println("AUDIT DONE")
  }
}
