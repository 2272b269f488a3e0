package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale-critical physical-plan properties
  * the engine is designed around (SURVEY.md §4, builder brief). A change
  * that silently turns a broadcast join into a shuffle, or un-pushes a
  * parquet filter, should fail here — not at 100 TB.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution
      .explainString(SimpleMode)

  test("q02: id-set filter is a broadcast left-semi join, no fact shuffle") {
    val p = plan("q02_filter_ids")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q03: range predicates reach the parquet scan") {
    val p = plan("q03_filter_range")
    assert(p.contains("PushedFilters: [In(l_returnflag"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
  }

  test("q03: scan is pruned to the referenced columns") {
    val p = plan("q03_filter_range")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_orderkey") && !read.contains("l_comment"))
  }

  test("q08: interval join is banded equi-join, not nested-loop") {
    val p = plan("q08_range_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q14: star join broadcasts every dimension") {
    val p = plan("q14_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q36: top-k per probe applies partial WindowGroupLimit before shuffle") {
    val p = plan("q36_knn_brute")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q79: pii redaction is a pure projection — no exchange, no join") {
    val p = plan("q79_pii_redact")
    assert(!p.contains("Exchange"), "redaction must not shuffle")
    assert(!p.contains("Join"))
  }

  test("q80: int8 scan broadcasts probes; corpus is never shuffled to join") {
    // the brute-force scan is BY DESIGN a broadcast loop over the tiny
    // probe side (the <> condition admits no hash join) — what must
    // never appear is a corpus-side shuffle join or unbroadcast product
    val p = plan("q80_int8_ann")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "exactly one exchange: the probe-partitioned top-k window")
  }

  test("q81: span removal shuffles on content keys, no pair enumeration") {
    val p = plan("q81_dup_span_removal")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the duplicate-gram aggregate must partial-aggregate map-side
    assert(p.contains("partial_count"))
  }

  test("q37/q39: ANN candidate joins are equi-joins on (table, bucket)") {
    val p37 = plan("q37_ann_lsh")
    assert(p37.contains("BroadcastHashJoin [tab"))
    assert(!p37.contains("BroadcastNestedLoopJoin")
      && !p37.contains("CartesianProduct"))
    val p39 = plan("q39_embed_neardup")
    assert(p39.contains("tab") && p39.contains("bucket"))
    assert(!p39.contains("BroadcastNestedLoopJoin")
      && !p39.contains("CartesianProduct"))
  }

  test("q25: dup.rm has no chrom-partitioned window (parallelism cap)") {
    // the previous-window compare must be a (chrom, win_start) join, not
    // lag() over partitionBy(chrom) — 24 chromosomes would cap the pass
    val p = plan("q25_sliding_windows")
    assert(!p.contains("RunningWindowFunction") && !p.contains("lag("),
      p.linesIterator.filter(_.contains("lag")).mkString("\n"))
  }

  test("q10: global top-k avoids a total sort") {
    val p = plan("q10_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!"(?m)^\\s*\\+- Sort ".r.findFirstIn(p).isDefined)
  }

  test("q01: aggregation is partial before the exchange (map-side combine)") {
    val p = plan("q01_agg_pricing")
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("q23: per-sample margin partially aggregates before its shuffle") {
    // the explode emits one INT per (variant, sample) and the hash
    // aggregate collapses to n_samples rows per partition pre-exchange —
    // the shuffle never carries genotype arrays.
    val p = plan("q23_sample_missing")
    val preExchange = p.linesIterator.takeWhile(!_.contains("Exchange"))
      .mkString("\n")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    assert(preExchange.contains("HashAggregate"))
  }

  test("chrom-partitioned storage prunes partitions for chrom filters") {
    // the §1.5/§4 storage claim: partitioning the variants table by chrom
    // turns seqSetFilterChrom into partition pruning, the Spark analog of
    // the reference's persisted chromosome RLE index.
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    graft.genomics.SynthGeno.variants(spark, dir)
      .write.partitionBy("chrom").mode("overwrite").parquet(tmp)
    val sel = spark.read.parquet(tmp).filter(col("chrom") === "c2")
    val p = sel.queryExecution.explainString(SimpleMode)
    assert(p.contains("PartitionFilters") && p.contains("c2"))
    val scanned = sel.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.partitionCount
    assert(scanned == 1)
  }

  test("kernel queries stay inside whole-stage codegen") {
    for (q <- Seq("q20_allele_freq", "q22_gt_strings", "q34_simhash")) {
      val p = SparkEntry.queries(q)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.CodegenMode)
      assert(p.contains("WholeStageCodegen"), q)
    }
  }

  test("q61/q63: IVF plans broadcast centroids and probe lists only") {
    // every join in the IVF search and k-means build must broadcast the
    // SMALL side (centroids: k rows; probe lists: probes×nprobe) — a
    // sort-merge join here would shuffle the corpus once per iteration
    // clear the shared trained-quantizer stage: this test pins the
    // BUILD plan's shape, not the cached InMemoryRelation a warm
    // session would substitute
    graft.core.SharedStages.kmeans.clear()
    for (q <- Seq("q61_ivf_search", "q63_kmeans_train")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
      assert(p.contains("BroadcastExchange") ||
        p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("q64/q65: sampling is projection-only / WindowGroupLimit-capped") {
    // the split must not shuffle (pure projection + partial agg), and
    // quota sampling must cap per-group rows BEFORE its exchange
    val p64 = plan("q64_split_assign")
    assert(p64.contains("partial_count") || p64.contains("partial_sum"))
    assert(!p64.contains("Join"), "split must not join")
    val p65 = plan("q65_quota_sample")
    assert(p65.contains("WindowGroupLimit"), p65)
  }

  test("q62: dedup pipeline joins near-dup candidates on band keys") {
    val p = plan("q62_dedup_pipeline")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q68/q70: similarity pair joins stay equi-joins") {
    // the pair-generating joins must hash on their candidate keys
    // (prefix shingle / sketch byte-band) — a nested-loop or cartesian
    // fallback here is the O(n²) failure the prefix/band filters exist
    // to prevent
    for (q <- Seq("q68_ngram_jaccard", "q70_simhash_neardup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("q84: media block pairing is an equi-join on (index, hash)") {
    val p = plan("q84_media_block_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("__h"), "join must key on the block hash")
  }

  test("bloom decontamination: clean mass filters join-free, one anti-join") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("w"), col("id") % 50, lit(" body text here.")).as("text"))
    val eval = docs.filter(col("doc_id") % 10 === 0)
    val p = graft.pipeline.TrainingData.decontaminateBloom(docs, eval)
      .queryExecution.explainString(SimpleMode)
    // the 100 TB side: might_contain is a plain filter; the ONLY join in
    // the whole plan is the candidate-side broadcast anti-join
    assert("(?m)Join".r.findAllIn(p).size ==
      "BroadcastHashJoin".r.findAllIn(p).size, p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("might_contain"), p)
  }

  test("q87: boilerplate removal is anti-join + linear aggregates, no pairs") {
    val p = plan("q87_boilerplate_lines")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftAnti"), "common lines must drop via anti-join")
    assert(p.contains("partial_count"), "df counts must combine map-side")
  }

  test("q88: top n-grams resolve via TakeOrdered, partial counts first") {
    val p = plan("q88_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("partial_count"))
    assert(!p.contains("rangepartitioning"), "no global sort for a top-k")
  }

  test("q89: temperature mix joins quotas broadcast, one window shuffle") {
    val p = plan("q89_temperature_mix")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q90: frame sampling is a narrow explode — no exchange, no join") {
    val p = plan("q90_frame_sample")
    assert(!p.contains("Exchange"))
    assert(!p.contains("Join"))
  }

  test("q86: c4 cleaning is a pure projection — no exchange, no join") {
    val p = plan("q86_c4_line_clean")
    assert(!p.contains("Exchange"), "line cleaning must not shuffle")
    assert(!p.contains("Join"))
  }

  test("sharded export: one range exchange + partition-local sort only") {
    import org.apache.spark.sql.functions._
    val src = spark.range(1000).select(col("id").as("variant_id"),
      concat(lit("c"), col("id") % 5).as("chrom"),
      (col("id") % 100).cast("int").as("pos"))
    val p = graft.sources.Sharded.shardPlan(src)
      .queryExecution.explainString(SimpleMode)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("rangepartitioning"), p)
    // the shard sort must stay partition-local — a global sort would
    // add a second exchange and defeat the one-shuffle export
    assert("Sort \\[".r.findAllIn(p).size == 1)
    assert(p.contains("false, 0") || !p.contains("Sort [variant_id"))
  }

  test("variant numbering: fact table never funnels through one partition") {
    import org.apache.spark.sql.functions._
    val src = spark.range(5000).select(
      concat(lit("chr"), col("id") % 3).as("chrom"),
      (col("id") * 7 % 100000).cast("int").as("pos"),
      concat(lit("A,"), when(col("id") % 2 === 0, "T").otherwise("G"))
        .as("allele"),
      concat(lit("rs"), col("id")).as("id"),
      lit(0L).as("variant_id"))
    val p = graft.api.SeqArray.numberVariants(src, bucket = 64L)
      .queryExecution.explainString(SimpleMode)
    // the row_number window shuffles on (chrom, bucket) — never a global
    // single-partition exchange of the fact table; the ONE SinglePartition
    // exchange allowed is the cumsum over the per-bucket COUNT aggregate
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    assert(single <= 1, p)
    assert(p.contains("hashpartitioning(chrom"), p)
    if (single == 1) {
      // the single-partition branch must sit above an aggregate (bucket
      // counts), i.e. a HashAggregate appears between it and the scan
      val after = p.substring(p.indexOf("Exchange SinglePartition"))
      assert(after.contains("HashAggregate"), p)
    }
    // offsets come back broadcast — the fact table is not re-shuffled
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q94: markup strip is a pure projection — no exchange, no join") {
    val p = plan("q94_markup_strip")
    assert(!p.contains("Exchange"))
    assert(!p.contains("Join"))
  }

  test("q95: corpus diff is one id-keyed join shipping fingerprints") {
    val p = plan("q95_corpus_diff")
    assert(p.contains("FullOuter"), p)
    // the join must carry md5 fingerprints, not document bodies: no
    // `text` column survives past the scan-side projections
    val joinLine = p.linesIterator.find(_.contains("FullOuter")).get
    assert(!joinLine.contains("text#"), joinLine)
  }

  test("q96: shard shuffle is one exchange on the shard key") {
    val p = plan("q96_shard_shuffle")
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"))
  }

  test("q98: url dedup is normalize-projection + one group-key shuffle") {
    val p = plan("q98_url_dedup")
    assert(!p.contains("Join"))
    assert("Exchange hashpartitioning\\(norm_url".r.findAllIn(p).size == 1,
      p)
  }

  test("q100: vocab encode joins the broadcast vocab, never shuffles it") {
    val p = plan("q100_encode_ids")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q97: vocab ranking windows partition by tf — no global window") {
    val p = plan("q97_vocab_build")
    // per-tf windows only: every Window operator must declare a
    // partition spec (a global rank would show `Window [...], [tf ...]`
    // with an empty partition list and run on one task)
    val winLines = p.linesIterator.filter(_.trim.startsWith("Window "))
      .toSeq.filterNot(_.contains("windowspecdefinition(tf#"))
    // the one permitted unpartitioned window is the per-tf prefix table
    // (rows = distinct tf values, broadcast afterwards)
    assert(winLines.size <= 1, winLines.mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q105: PQ encode and ADC scan never shuffle the corpus to join") {
    // codebook and probe distance tables ride broadcasts; the only hash
    // exchanges are the two probe-partitioned rank windows
    val p = plan("q105_pq_adc")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning\\(probe_id".r.findAllIn(p).size >= 1,
      p)
  }

  test("q114: IVF-PQ joins ride broadcasts — corpus never shuffled to join") {
    graft.core.SharedStages.kmeans.clear()
    val p = plan("q114_ivf_pq")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q114: exact L2 evaluates only ABOVE the ADC shortlist filter") {
    // ADC+R contract: the full candidate stream is ranked by ADC table
    // lookups alone; exact L2 (L2DistLong) may only run on the
    // ≤ PQ_RERANK shortlist (refine-from-storage). A plan that prices
    // full-dimension L2 per candidate negates PQ's compute win at scale.
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val opt = SparkEntry.queries("q114_ivf_pq")(spark, dir)
      .queryExecution.optimizedPlan
    val raFilters = opt.collect {
      case f: Filter if f.condition.references.exists(_.name == "__ra") => f
    }
    assert(raFilters.nonEmpty, "ADC shortlist (__ra) filter not found")
    raFilters.foreach { f =>
      val l2Below = f.child.collect { case n => n }
        .flatMap(_.expressions)
        .flatMap(_.collect {
          case e: graft.functions.expressions.L2DistLong => e
        })
      assert(l2Below.isEmpty,
        "exact L2 computed below the ADC shortlist filter")
    }
  }

  test("q106: HWE chi-square is a pure projection — no exchange, no join") {
    val p = plan("q106_hwe")
    // one round-robin fan-out of the single-row-group scan is the only
    // permitted exchange (SynthGeno's documented repartition)
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("q108: windowed LD is a banded EQUI-join — no nested-loop pairing") {
    val p = plan("q108_ld_r2")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p)
  }

  test("q109: KING kinship partial-aggregates before its one pair shuffle") {
    val p = plan("q109_king")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(i#".r.findAllIn(p).size == 1, p)
    // map-side partial aggregation must collapse the per-variant counter
    // rows to #pairs per partition before the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q112: ROH runs one (sample, chrom) exchange reused by every stage") {
    // materialize the shared ROH substrate first: this lock pins the
    // WARM consumer shape (under AQE an UNmaterialized cached plan has
    // unknown output partitioning, so a cold consumer plans extra
    // exchanges it never executes warm — and suite order must not
    // decide which shape the test sees)
    SparkEntry.queries("q112_roh")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val p = plan("q112_roh")
    assert(!p.contains("Join"), p)
    // the lag window, the running-sum window, and both aggregations all
    // cluster on (s, chrom) prefixes — ONE hash exchange (inside the
    // shared substrate's cached build) serves them all: the consumer
    // side above the InMemoryRelation must plan ZERO further hash
    // exchanges (counted on the consumer part only — the cached plan's
    // Final/Initial AQE print would double-count its own exchange)
    val consumer = p.split("InMemoryRelation", 2)(0)
    assert(consumer.contains("InMemoryTableScan"), p)
    assert("Exchange hashpartitioning".r.findAllIn(consumer).isEmpty, p)
  }

  test("q113: genotype concordance is a pure projection") {
    val p = plan("q113_gtcheck")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("q116: Mendelian check is a pure projection") {
    val p = plan("q116_mendel")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("q110: window burden partial-aggregates before its one exchange") {
    val p = plan("q110_burden")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(chrom".r.findAllIn(p).size == 1, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q26/q110: genotype kernels evaluate below the window-key explode") {
    // a kernel in the projection above the Generate runs once per
    // (variant, window) row, about twice per variant
    import org.apache.spark.sql.catalyst.expressions.{Explode, Sequence}
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.functions.expressions.{DosageAltExpr, GenoStats}
    def kernels(nodes: Seq[SparkPlan]): Set[String] =
      nodes.flatMap(_.expressions).flatMap(_.collect {
        case e: GenoStats => e.prettyName
        case e: DosageAltExpr => e.prettyName
      }).toSet
    for ((q, want) <- Seq("q26_unit_filter_cond" -> Set("geno_stats"),
        "q110_burden" -> Set("geno_stats", "dosage_alt"))) {
      val exec = SparkEntry.queries(q)(spark, dir).queryExecution
        .executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
      val keyGens = exec.collect {
        case g @ GenerateExec(Explode(_: Sequence), _, _, _, _) => g
      }
      assert(keyGens.size == 1, s"$q\n$exec")
      val key = keyGens.head
      // the plan nodes on the path from the root down to the key explode
      def above(p: SparkPlan): Seq[SparkPlan] =
        if (p eq key) Nil
        else p +: p.children.filter(_.exists(_ eq key)).flatMap(above)
      assert(kernels(above(exec)).isEmpty, s"$q\n$exec")
      assert(kernels(key.child.collect { case n => n }) == want, s"$q\n$exec")
    }
  }


  test("q111: span corruption is a pure projection — no exchange, no join") {
    val p = plan("q111_span_corrupt")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("q117: FIM transform is a pure projection — no exchange, no join") {
    val p = plan("q117_fim_transform")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("q118: length batching windows partition by bucket — no global sort") {
    val p = plan("q118_length_batches")
    assert(!p.contains("Join"), p)
    // every Window declares the bucket partition key
    val winLines = p.linesIterator.filter(_.trim.startsWith("Window "))
      .toSeq.filterNot(_.contains("windowspecdefinition(bucket#"))
    assert(winLines.isEmpty, winLines.mkString("\n"))
  }

  test("q120/q123: Fst and trend test are pure projections") {
    for (q <- Seq("q120_fst", "q123_assoc_trend")) {
      val p = plan(q)
      assert(!p.contains("Join"), p)
      assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
    }
  }

  test("q163/q165/q166: W&C Fst, imputation, PCA loadings are pure " +
      "projections") {
    for (q <- Seq("q163_wc_fst", "q165_impute_mean", "q166_pca_loadings")) {
      val p = plan(q)
      assert(!p.contains("Join"), p)
      assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
    }
  }

  test("q164: IBS partial-aggregates the pair terms before its one " +
      "exchange") {
    val p = plan("q164_ibs")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q173: the GWAS pipeline is one linear chain — banded prune " +
      "join + one anti-join, trend stats as a projection above them") {
    val p = plan("q173_gwas_pipeline")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // exactly the banded LD pair join and the victims anti-join — a
    // third join would mean the trend stage re-joined the cube (the
    // shape the keepInput/carry threading exists to avoid)
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(p).size
    assert(joins == 2, s"expected 2 joins, got $joins:\n$p")
    assert("LeftAnti".r.findAllIn(p).size == 1, p)
    // scans: the pruned chain + the two sides of the banded self-join
    assert("FileScan".r.findAllIn(p).size == 3, p)
  }

  test("q121/q122/q124: GRM, inbreeding, PRS partial-aggregate before " +
      "their one counter exchange") {
    for (q <- Seq("q121_grm", "q122_inbreeding", "q124_prs")) {
      val p = plan(q)
      assert(!p.contains("Join"), p)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
      // map-side partial aggregation collapses the per-(variant,pair/
      // sample) counter rows before the shuffle
      assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    }
  }

  test("q131: bitext mining broadcasts probes; WindowGroupLimit caps " +
      "per-probe candidates before the shuffle") {
    val p = plan("q131_bitext_margin")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q129/q132/q133: regression, CMH, and r̂² are pure projections") {
    for (q <- Seq("q129_linreg_gwas", "q132_cmh_assoc",
        "q133_impute_rhat2")) {
      val p = plan(q)
      assert(!p.contains("Join"), p)
      assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
    }
  }

  test("q138: sessionization runs one user_id exchange for every stage") {
    val p = plan("q138_sessionize")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q134: IBD segments run one (i,j,chrom) exchange for every stage") {
    val p = plan("q134_ibd_segments")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q130: LD-partner profile is banded equi-join + one vid " +
      "aggregation — no nested loop") {
    val p = plan("q130_ld_partners")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning\\(vid#".r.findAllIn(p).size == 1, p)
  }

  test("q126: LD pruning pairs via banded equi-join, prunes via " +
      "anti-join — never a nested loop") {
    val p = plan("q126_ld_prune")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q125: LM scoring joins the vocabulary-sized count table on the " +
      "token key — equi-join, no pair enumeration") {
    val p = plan("q125_lm_score")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("q142: CDC chunk dedup shuffles on the chunk key only — no pair " +
      "enumeration, no nested loop") {
    val p = plan("q142_cdc_chunks")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q141: DSIR bucket counts ride broadcast HASH joins — nothing " +
      "shuffles to meet a join at test scale") {
    val p = plan("q141_dsir_select")
    // bucket join + doc-key join both hash-broadcast (masses are tiny
    // here); a SortMergeJoin would mean the token stream or doc table
    // shuffled to meet a join side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q144: collocations resolve via TakeOrdered with broadcast " +
      "unigram joins — no global sort, no nested loop") {
    val p = plan("q144_collocations")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q145: char-class profile is a pure projection — no exchange, " +
      "no join") {
    val p = plan("q145_charclass_profile")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q143: sample QC partially aggregates the per-cell margin before " +
      "its one small shuffle") {
    val p = plan("q143_sample_qc")
    assert(!p.contains("SortMergeJoin"), p)
    // explainString prints top-down, so the PARTIAL aggregate must
    // appear BELOW (after) the first exchange in the string
    val firstExchange = p.indexOf("Exchange")
    assert(firstExchange >= 0, p)
    assert(p.indexOf("HashAggregate", firstExchange) > 0,
      "no partial HashAggregate below the exchange:\n" + p)
  }

  test("q146: containment pairs ride the band-key equi-join — no " +
      "nested loop, no cartesian") {
    val p = plan("q146_containment_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q147: blocklist gate is a pure projection — no exchange, no join") {
    val p = plan("q147_blocklist_gate")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q148: covariance is ONE partial-aggregated pass — no join, " +
      "no O(n) shuffle") {
    val p = plan("q148_embed_cov")
    assert(!p.contains("Join"), p)
    // partial HashAggregate appears below the single-row exchange
    assert(p.contains("HashAggregate"), p)
  }

  test("q161: the corpus-release rehearsal runs ONE corpus pass — " +
      "bloom union's branches reuse the fingerprint shuffle") {
    val df = SparkEntry.queries("q161_corpus_release")(spark, dir)
    val init = df.queryExecution.explainString(SimpleMode)
    // nothing in the full chain may enumerate pairs or nested-loop
    assert(!init.contains("CartesianProduct"), init)
    assert(!init.contains("BroadcastNestedLoopJoin"), init)
    // the corpus scan is pruned to (doc_id, text) — never lang/n_chars
    val reads = init.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
      !r.contains("lang") && !r.contains("n_chars")), init)
    // the scale property: decontaminateBloom's clean/candidate UNION is
    // one corpus pass at runtime — AQE materializes the exact-dedup
    // fingerprint shuffle once and the sibling branch reads a
    // ReusedExchange of it (sf0.001, cheap to execute)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("ReusedExchange"),
      "bloom union branches must reuse the upstream shuffle:\n" + fin)
  }

  test("q260: skyline's only unpartitioned window runs over the " +
      "distinct-latency AGGREGATE, never the supplier table") {
    val p = plan("q260_skyline")
    // the ordered prefix-max window must sit ABOVE a HashAggregate
    // (the per-latency-class maxima) in every path that reaches it —
    // a Window directly over the joined fact rows would be the
    // data-sized global window this query exists to avoid
    val lines = p.linesIterator.toSeq
    val wIdx = lines.indexWhere(_.contains("Window ["))
    assert(wIdx >= 0, p)
    val below = lines.drop(wIdx)
    val aggIdx = below.indexWhere(_.contains("HashAggregate"))
    val joinIdx = below.indexWhere(_.contains("Join"))
    assert(aggIdx >= 0 && (joinIdx < 0 || aggIdx < joinIdx),
      "prefix-max window must consume the class aggregate:\n" + p)
  }

  test("q259/q269: the day-summary windows and trend sums partial-" +
      "aggregate the events scan before any exchange") {
    for (q <- Seq("q259_changepoint", "q269_group_trend")) {
      val p = plan(q)
      val firstAgg = p.linesIterator
        .find(_.contains("HashAggregate")).getOrElse("")
      assert(p.contains("HashAggregate"), p)
      // exactly one FileScan of events, pruned to the two used columns
      val read = p.linesIterator.find(_.contains("ReadSchema")).get
      assert(read.contains("ts") && read.contains("event_type")
        && !read.contains("props") && !read.contains("value"), read)
      assert(firstAgg.nonEmpty)
    }
  }

  test("q294: referential-integrity audit builds ZERO Spark jobs " +
      "(round-7's eager fact.count() class) and scans each fact " +
      "table once per FK edge") {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val setup = js.stageInfos.nonEmpty &&
          js.stageInfos.forall(_.name.startsWith("parquet at "))
        if (!setup) { jobs.incrementAndGet(); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = SparkEntry.queries("q294_ref_integrity")(spark, dir)
      Thread.sleep(50)
      assert(jobs.get() == 0,
        "plan construction must not run driver-side actions")
      val p = df.queryExecution.explainString(SimpleMode)
      // 3 lineitem edges + orders as fact once and as dim once +
      // customer/supplier once each way + part once + nation twice
      def scans(t: String) = p.linesIterator.count(l =>
        l.contains("FileScan") && l.contains(s"/$t.parquet"))
      assert(scans("lineitem") == 3, p.linesIterator
        .filter(_.contains("FileScan")).mkString("\n"))
      assert(scans("orders") == 2 && scans("customer") == 2
        && scans("supplier") == 2 && scans("part") == 1
        && scans("nation") == 2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q298: the N-way merge is ONE dedup pass — join-free, union-free, " +
      "zero consumer exchanges above the shared dedup table") {
    // materialize the shared deduped-variants substrate first (the
    // q112 discipline: the lock pins the WARM consumer shape)
    SparkEntry.queries("q298_merge_nway")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val p = plan("q298_merge_nway")
    assert(!p.contains("Join"), "merge must not plan any join\n" + p)
    // round 12: file membership / merged alleles / per-file rows are
    // per-row functions of (vid, nall), so the union + second groupBy
    // of the mergeN shape is gone — the consumer is filter + project +
    // explode over the shared dedup table, zero further exchanges
    assert(!p.contains("Union"), "single-pass merge must not union\n" + p)
    val consumer = p.split("InMemoryRelation", 2)(0)
    assert(consumer.contains("InMemoryTableScan"), p)
    assert("Exchange hashpartitioning".r.findAllIn(consumer).isEmpty, p)
  }

  test("q300: the sketched profile is ONE scan of lineitem for all " +
      "columns (q295's per-column-scan trade-off retired at scale)") {
    val p = plan("q300_table_profile_sketch")
    assert(p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("/lineitem.parquet")) == 1, p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"))
    // register aggregate partially aggregates before its exchange
    val firstAgg = p.linesIterator.find(_.contains("HashAggregate"))
    assert(firstAgg.nonEmpty)
  }

  test("q102: the composed cleaning pipeline stays at two exchanges " +
      "over one pruned scan") {
    val p = plan("q102_clean_pipeline")
    // strip/split are projections that fuse into the scan; only the
    // dedup fingerprint window and the shard window may exchange
    assert("Exchange".r.findAllIn(p).size == 2, p)
    assert("FileScan".r.findAllIn(p).size == 1)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text")
      && !read.contains("lang") && !read.contains("n_chars"))
    assert(!p.contains("Join"), "the pipeline is join-free")
  }

  test("q312: ROH locus collapse + islands share ONE (s, chrom) " +
      "exchange beyond the fan-out repartition; join-free") {
    // materialize the shared site-flag substrate first (the q112
    // discipline): the lock pins the WARM consumer shape, not the
    // extra exchanges a cold AQE cached plan makes consumers add
    SparkEntry.queries("q312_roh_runs")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val p = plan("q312_roh_runs")
    // the fan-out repartition and the (s, chrom) pre-sort live inside
    // the shared substrate's cached build; the consumer side above the
    // InMemoryRelation keeps exactly ONE hash exchange (the final
    // per-sample aggregate) — a groupBy-based locus collapse would add
    // a 4-key hash exchange here (consumer-part count only: the cached
    // plan's Final/Initial AQE print would double-count its own)
    val consumer = p.split("InMemoryRelation", 2)(0)
    assert(consumer.contains("InMemoryTableScan"), p)
    assert("Exchange hashpartitioning".r.findAllIn(consumer).size == 1, p)
    assert(!p.contains("Join"), "roh is join-free")
  }

  test("q313: histogram quantiles read ONE scan pruned to the two " +
      "metric columns; bucket aggregate is partial before its exchange") {
    val p = plan("q313_quantile_hist")
    assert("FileScan".r.findAllIn(p).size == 1, p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_extendedprice") && read.contains("l_quantity")
      && !read.contains("l_orderkey"))
    // map-side combine: explain prints ROOT-FIRST, so the subtree BELOW
    // the bucket exchange is the text AFTER the first Exchange line —
    // a partial-mode HashAggregate must sit there, between the exchange
    // and the FileScan (the takeWhile-before-Exchange form asserted the
    // FINAL aggregate above the exchange and passed vacuously)
    val lines = p.linesIterator.toSeq
    val firstEx = lines.indexWhere(_.contains("Exchange"))
    assert(firstEx >= 0, p)
    val below = lines.drop(firstEx + 1).mkString("\n")
    assert(below.contains("HashAggregate") && below.contains("partial_"),
      s"no partial map-side aggregate below the bucket exchange:\n$p")
    assert(below.contains("FileScan"), p)
  }

  test("q340/q341: FLAC decode lanes are shuffle-free partition maps") {
    for (q <- Seq("q340_flac_decode", "q341_flac_vad")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      assert(!p.contains("Join"), s"$q joins:\n$p")
    }
  }

  test("q351/q352/q353: µ-law and AVI lanes are shuffle-free") {
    for (q <- Seq("q351_ulaw_decode", "q352_avi_frames",
        "q353_avi_mjpeg", "q355_adpcm_decode")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
      assert(!p.contains("Join"), s"$q joins:\n$p")
    }
  }

  test("q344: token chunking is a pure generator fan — no exchange") {
    val p = plan("q344_token_chunks")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), "the chunk fan must be a generator")
  }

  test("q345: chunk dedup shuffles on the fingerprint only — no join") {
    val p = plan("q345_chunk_dedup")
    assert(!p.contains("Join"), p)
    // distinct-count aggregates plan as two keyed exchanges at most
    // ((md5, doc) then (md5)); anything more is a regression
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("q347: as-of attribution is ONE user-keyed window exchange") {
    val p = plan("q347_last_touch")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning\\(__k".r.findAllIn(p).size == 1, p)
  }

  // ---- genotype stats over the stored 2-bit planes ----------------------

  /** 40 biallelic diploid variants × 6 samples with partial missing
    * calls, written by GdsWrite; with `extra`, sample 0's call at variant
    * 3 carries a third allele, which lands in `genotype/extra`. */
  private def cohortGds(extra: Boolean): String = {
    import spark.implicits._
    val rows = (1 to 40).map { v =>
      (v.toLong, "1", v * 100, "A,G", (0 until 6).map { s =>
        val call = Seq[java.lang.Long]((v + s) % 2L,
          if ((v * s) % 7 == 3) null else java.lang.Long.valueOf(1L))
        if (extra && v == 3 && s == 0) call :+ java.lang.Long.valueOf(0L)
        else call
      })
    }
    val out = java.nio.file.Files.createTempDirectory("graft_planes")
      .toString + "/c.gds"
    graft.sources.gds.GdsWrite.write(
      rows.toDF("variant_id", "chrom", "pos", "allele", "geno"),
      (0 until 6).map(i => s"S$i"), out, "ZIP_ra")
    out
  }
  private lazy val planesGds = cohortGds(extra = false)

  private def has(df: DataFrame, p: Expression => Boolean) =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(p)))
  private def planesKernel(df: DataFrame) =
    has(df, _.isInstanceOf[graft.functions.expressions.GenoStatsRaw])
  private def genoStatsKernel(df: DataFrame) =
    has(df, _.isInstanceOf[graft.functions.expressions.GenoStats])
  private def scanColumns(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case s: DataSourceV2ScanRelation => s.output.map(_.name)
    }

  test("gds: alleleFreq, missing and setFilterCond count on the planes " +
      "column; the scan reads no geno") {
    import graft.sources.gds.GdsSchema.PlanesCol
    val sv = graft.api.SeqArray.openGds(spark, planesGds)
    assert(!sv.variants.columns.contains(PlanesCol))
    assert(!sv.variants.select("*").columns.contains(PlanesCol))
    for ((what, df) <- Seq("alleleFreq" -> sv.alleleFreq(0),
        "missing" -> sv.missing(),
        "setFilterCond" ->
          sv.setFilterCond(0.05, 0.5).variants.select("variant_id"))) {
      assert(planesKernel(df) && !genoStatsKernel(df), what)
      val scans = scanColumns(df)
      assert(scans.size == 1 && scans.head.contains(PlanesCol) &&
        !scans.head.contains("geno"), s"$what: $scans")
    }
  }

  test("gds: GenoStats stays on a non-gds frame, a sample-sliced geno, " +
      "genotype/extra entries and SNP-GDS") {
    import graft.api.{SeqArray, SeqVarData}
    val sv = SeqArray.openGds(spark, planesGds)
    val snp = planesGds.stripSuffix(".gds") + ".snp.gds"
    SeqArray.seqGDS2SNP(spark, planesGds, snp)
    for ((what, df) <- Seq(
        "non-gds frame" -> SeqVarData(spark.createDataFrame(
          sv.variants.rdd, sv.variants.schema)).alleleFreq(0),
        "setFilterSamples" -> sv.setFilterSamples(Seq(0, 2, 4)).missing(),
        "genotype/extra" ->
          SeqArray.openGds(spark, cohortGds(extra = true)).alleleFreq(0),
        "SNP-GDS" -> SeqVarData(spark.read.format("gds").load(snp))
          .alleleFreq(0))) {
      assert(genoStatsKernel(df) && !planesKernel(df), what)
      assert(scanColumns(df).forall(!_.contains(
        graft.sources.gds.GdsSchema.PlanesCol)), what)
    }
  }
}
