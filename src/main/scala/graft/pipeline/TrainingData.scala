package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SharedStages
import graft.functions.textfns._
import graft.functions.vectorfns._

/** The training-data pipeline as a PUBLIC API over arbitrary
  * DataFrames — the same oracle-checked logic the
  * `q32/q62/q63/q64/q65/q68/q69/q70/q71` queries run (those queries
  * delegate here, so the driver's DuckDB gate continuously proves these
  * functions exact).
  *
  * Scale notes (100 TB) are per function; none enumerates pairs beyond
  * LSH candidates, none collects to the driver, and all determinism
  * comes from content hashes — never `rand()`.
  */
object TrainingData {

  /** Exact dedup: keep the smallest-id row per order-insensitive
    * content fingerprint. One shuffle on the 128-bit fingerprint. */
  def exactDedupKeepFirst(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(!docs.columns.exists(Set("__fp", "__keep")),
      "exactDedupKeepFirst uses internal columns __fp/__keep; " +
        "the input already has one")
    val w = Window.partitionBy(col("__fp"))
    docs
      .withColumn("__fp", fingerprint(tokens(col(textCol))))
      .withColumn("__keep", col(idCol) === min(col(idCol)).over(w))
      .filter(col("__keep")).drop("__keep", "__fp")
  }

  /** Domain-level quality propagation — the "bad source" gate every
    * large crawl pipeline runs (C4 / RefinedWeb block domains, not just
    * documents: a source whose content keeps duplicating is boilerplate
    * or spam, and its NON-duplicated pages are suspect too). Per
    * document: the exact-dedup content fingerprint marks it duplicated
    * when the fingerprint occurs more than once corpus-wide; per
    * source: document and duplicated-document counts; the gate flags a
    * source when dup_docs·1000 > `dupMaxPermille`·docs (exact
    * cross-multiplied integers — no division) and `keep` clears every
    * document of a flagged source. Emits the input plus (src_docs,
    * src_dup_docs, src_flagged, keep).
    *
    * Shuffle budget: one fingerprint-key exchange (the same window as
    * [[exactDedupKeepFirst]] — under AQE the sibling branch reuses its
    * shuffle), one #sources-row aggregate, and a source-key join back.
    * The source table carries NO broadcast hint: domains grow with the
    * corpus (millions at 100 TB), so pinning it would pin an unbounded
    * table to the driver — AQE broadcasts it while small (the
    * collocations lesson, SCALE.md). */
  def sourceReputation(docs: DataFrame, dupMaxPermille: Long = 150L,
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    require(!docs.columns.exists(_.startsWith("__")),
      "sourceReputation uses internal __ columns; the input already has one")
    val w = Window.partitionBy(col("__fp"))
    val flagged = docs
      .withColumn("__fp", fingerprint(tokens(col(textCol))))
      .withColumn("__isdup",
        when(count(lit(1)).over(w) > 1, 1L).otherwise(0L))
    val src = flagged.groupBy(col(srcCol))
      .agg(count(lit(1)).as("src_docs"),
        sum(col("__isdup")).as("src_dup_docs"))
      .withColumn("src_flagged",
        col("src_dup_docs") * 1000L > lit(dupMaxPermille) * col("src_docs"))
    flagged.drop("__fp", "__isdup")
      .join(src, Seq(srcCol))
      .withColumn("keep", !col("src_flagged"))
  }

  /** Verified near-duplicate PAIRS: MinHash+LSH band candidates among
    * `docs`, kept at exact shingle-Jaccard ≥ `threshold`, as
    * (doc_a, doc_b) with doc_a < doc_b. The only corpus-scale shuffle is
    * the band-key equi-join; Jaccard runs on candidates only. */
  /** Shared LSH candidate generation: band-key self-join (ordered ids,
    * deduped) with both candidates' texts re-attached — so the
    * (interpreted-HOF) shingle reconstruction downstream runs only on
    * candidate rows. One band-key shuffle; serves [[nearDupPairs]] and
    * [[containmentPairs]], which must never diverge on candidates. */
  private def candidateTextPairs(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, minhashK: Int, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val cand = candPairsShared(docs, idCol, textCol, shingleN, minhashK,
      bands, rowsPerBand)
    val texts = docs.select(col(idCol), col(textCol))
    cand
      .join(texts.withColumnRenamed(idCol, "doc_a")
        .withColumnRenamed(textCol, "text_a"), "doc_a")
      .join(texts.withColumnRenamed(idCol, "doc_b")
        .withColumnRenamed(textCol, "text_b"), "doc_b")
  }

  /** The deduplicated LSH candidate-pair table (doc_a, doc_b) behind
    * [[candidateTextPairs]], as a [[graft.core.SharedStages]] stage: the
    * band-key self-join + pair dedup is the expensive stage of every
    * direct near-dup lane that does not already ride the cluster-label
    * cache — the q149 recall audit's `found` side, the q146 containment
    * pass, the q67-style drop lists — and the cluster-label build
    * itself populates it on the way, so one warmup build serves all.
    * The per-pair TEXT joins stay in the consumer (row-sized; shingle
    * verification re-derives from raw text on candidate rows only —
    * the house discipline). */
  private def candPairsShared(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, minhashK: Int, bands: Int,
      rowsPerBand: Int): DataFrame =
    SharedStages.cand.get((docs.queryExecution.analyzed.canonicalized,
      idCol, textCol, shingleN, minhashK, bands, rowsPerBand)) {
      val bnd = bandKeys(docs, idCol, textCol, shingleN, minhashK,
        bands, rowsPerBand)
      bnd.as("a").join(bnd.as("b"),
          col(s"a.band") === col(s"b.band") &&
            col(s"a.bkey") === col(s"b.bkey") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("doc_a"),
          col(s"b.$idCol").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** (hits, misses) of the shared LSH candidate-pair stage. */
  def candSharedTelemetry: (Long, Long) = SharedStages.cand.telemetry

  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, minhashK: Int = 12,
      bands: Int = 4, rowsPerBand: Int = 3, threshold: Double = 0.5)
      : DataFrame =
    candidateTextPairs(docs, idCol, textCol, shingleN, minhashK, bands,
      rowsPerBand)
      .filter(jaccard(shingles(col("text_a"), shingleN),
        shingles(col("text_b"), shingleN)) >= threshold)
      .select(col("doc_a"), col("doc_b"))

  /** Ids to DROP as near-duplicates: the larger id of each verified
    * [[nearDupPairs]] pair (single-pass keep-first policy). */
  def nearDupDrops(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, minhashK: Int = 12,
      bands: Int = 4, rowsPerBand: Int = 3, threshold: Double = 0.5)
      : DataFrame =
    nearDupPairs(docs, idCol, textCol, shingleN, minhashK, bands,
      rowsPerBand, threshold)
      .select(col("doc_b").as(idCol)).distinct()

  /** Connected components of an undirected (doc_a, doc_b) edge set, run
    * to the FIXPOINT: every node labeled with the smallest id reachable
    * from it — engine-independent, which is what lets a SQL recursive
    * CTE replay it exactly. Each driver round combines min-label
    * propagation (one edge join + min aggregate) with POINTER DOUBLING
    * (follow your label's current label), so convergence takes
    * O(log diameter) rounds instead of O(diameter) — a chain of 2^25
    * progressive near-dups converges where plain propagation would need
    * one round per link. Labels start at own id and only decrease, and
    * every step keeps them inside the component, so the fixpoint is the
    * component minimum. `localCheckpoint` truncates the growing lineage
    * (a cluster deployment would use a reliable checkpoint dir).
    *
    * Only nodes touched by an edge iterate: an isolated node's label
    * can never change, so it joins the result directly as its own
    * singleton component. In a dedup run duplicates are a small
    * minority, so at corpus scale the per-round joins and checkpoints
    * run over the dup subgraph, not the 100 TB node set.
    * Returns (`idCol`, cluster). */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      idCol: String = "doc_id", maxIters: Int = 25): DataFrame = {
    // pre-partitioned by dst BEFORE the checkpoint: every pointer-
    // doubling round joins sym on dst, and a checkpoint preserves its
    // physical partitioning — one edge shuffle at build instead of one
    // per round (the pageRankInt discipline)
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("dst"))
      .transform(graft.core.Checkpoints.truncate[org.apache.spark.sql.Row])
    val allNodes = nodes.select(col(idCol).as("id")).distinct()
      .transform(graft.core.Checkpoints.truncate[org.apache.spark.sql.Row])
    val touched = sym.select(col("src").as("id")).distinct()
    val isolated = allNodes.join(touched, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("id").as("cluster"))
    var labels = allNodes.join(touched, Seq("id"), "left_semi")
      .withColumn("lbl", col("id"))
      .transform(graft.core.Checkpoints.truncate[org.apache.spark.sql.Row])
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val lp = labels
        .join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("lbl"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("mid"))
        .transform(graft.core.Checkpoints.truncate[org.apache.spark.sql.Row])
      val byId = lp.select(col("id").as("lid"), col("mid").as("llbl"))
      val updated = lp.join(byId, lp("mid") === byId("lid"), "left")
        .select(col("id"), col("lbl"),
          least(col("mid"), coalesce(col("llbl"), col("mid"))).as("nxt"))
        .transform(graft.core.Checkpoints.truncate[org.apache.spark.sql.Row])
      converged = updated.filter(col("nxt") < col("lbl")).isEmpty
      labels = updated.select(col("id"), col("nxt").as("lbl"))
      it += 1
    }
    require(converged,
      s"connected components did not converge in $maxIters rounds")
    labels.select(col("id").as(idCol), col("lbl").as("cluster"))
      .union(isolated)
  }

  /** (id, cluster) labels of the verified near-dup component graph —
    * [[dedupClusters]] without the size aggregation.
    *
    * A [[graft.core.SharedStages]] stage: the cluster labels are the
    * substrate of MANY consumers (cluster report, impact accounting,
    * source-flow matrix, leakage-safe folds, dup×quality interaction,
    * keep-one clean) and the LSH + connected-components chain is the
    * expensive stage in all of them — a real pipeline labels its
    * corpus ONCE. */
  private def clusterLabels(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, minhashK: Int, bands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame =
    SharedStages.dedup.get((docs.queryExecution.analyzed.canonicalized,
      idCol, textCol, shingleN, minhashK, bands, rowsPerBand,
      threshold)) {
      val pairs = nearDupPairs(docs, idCol, textCol, shingleN,
        minhashK, bands, rowsPerBand, threshold)
      connectedComponents(pairs, docs.select(col(idCol)), idCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** (hits, misses) of the shared cluster-label stage. */
  def dedupSharedTelemetry: (Long, Long) = SharedStages.dedup.telemetry

  /** Near-duplicate CLUSTERS: connected components over the verified
    * [[nearDupPairs]] graph, for every document (a doc with no near-dup
    * is its own singleton) — the grouping dedup reporting and auditing
    * work with. Returns `docs`' id column plus (cluster, cluster_size). */
  def dedupClusters(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, minhashK: Int = 12,
      bands: Int = 4, rowsPerBand: Int = 3, threshold: Double = 0.5)
      : DataFrame = {
    val comp = clusterLabels(docs, idCol, textCol, shingleN, minhashK,
      bands, rowsPerBand, threshold)
    val sizes = comp.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "cluster")
      .select(col(idCol), col("cluster"), col("cluster_size"))
  }

  /** Corpus clean by CLUSTER: keep exactly ONE document — the smallest
    * id — per near-duplicate component. The component label IS the
    * smallest reachable id, so keepers are simply the rows whose id
    * equals their cluster label. Strictly more aggressive than the
    * pairwise keep-first of [[dedupCorpus]]: with verified edges a~c
    * and b~c only (a<b<c), pairwise keeps BOTH a and b — two transitive
    * near-dups survive — while the cluster policy keeps only a. Choose
    * pairwise for retention, cluster when no two near-dup survivors may
    * coexist. */
  def dedupCorpusByCluster(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, minhashK: Int = 12,
      bands: Int = 4, rowsPerBand: Int = 3, threshold: Double = 0.5)
      : DataFrame = {
    val keep = clusterLabels(docs, idCol, textCol, shingleN, minhashK,
      bands, rowsPerBand, threshold)
      .filter(col(idCol) === col("cluster"))
      .select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Full corpus clean (the q62 pipeline): exact dedup, then near-dup
    * removal over the survivors. Returns the surviving rows of `docs`
    * with their original columns. */
  def dedupCorpus(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, minhashK: Int = 12,
      bands: Int = 4, rowsPerBand: Int = 3, threshold: Double = 0.5)
      : DataFrame = {
    val exact = exactDedupKeepFirst(docs, idCol, textCol)
    val drops = nearDupDrops(exact, idCol, textCol, shingleN, minhashK,
      bands, rowsPerBand, threshold)
    exact.join(drops, Seq(idCol), "left_anti")
  }

  /** Deterministic split assignment from the md5 nibble of the id —
    * a pure projection, reproducible across runs and cluster sizes.
    * `holdout` nibbles (of `0`-`f`) map to `val`, the rest to `train`;
    * the default c-f holds out 4/16 = 25%. */
  def trainValSplit(df: DataFrame, idCol: String = "doc_id",
      holdout: Seq[String] = Seq("c", "d", "e", "f")): DataFrame = {
    require(!df.columns.contains("split"),
      "trainValSplit writes a `split` column; the input already has one")
    df.withColumn("split",
      when(substring(md5(col(idCol).cast("string").cast("binary")), 1, 1)
        .isin(holdout: _*), "val").otherwise("train"))
  }

  /** Per-group quota sample: the `quota` hash-first rows of every group
    * — membership never changes as the corpus grows at the tail.
    * WindowGroupLimit caps each map task at `quota` rows per group
    * before the shuffle. Adds the hash rank as `rk`. */
  def quotaSample(df: DataFrame, groupCol: String, quota: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(!df.columns.contains("rk"),
      "quotaSample writes an `rk` column; the input already has one")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= quota)
  }

  /** Token-budget mixture sampling: per group, take documents in
    * content-hash order until the group's token budget is spent — the
    * "mix N tokens of web, M tokens of code" operation (training
    * mixtures are token-budgeted, not row-budgeted). `budgets` is a
    * (`groupCol`, `budget`) frame, broadcast-joined so any number of
    * groups scales; groups without a budget row drop entirely. The doc
    * that CROSSES the boundary is included (its start offset is within
    * budget), bounding overshoot by one document while guaranteeing
    * progress for any positive budget. Hash order keeps membership
    * stable as the corpus grows at the tail. Adds `cum_tokens`, the
    * group running total including the row. The per-group running sum
    * windows only (id, group, count) metadata — the text rejoins by id
    * afterwards, so the window shuffle never carries document bodies. */
  def tokenBudgetSample(df: DataFrame, groupCol: String,
      budgets: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(!df.columns.contains("cum_tokens"),
      "tokenBudgetSample writes a `cum_tokens` column; " +
        "the input already has one")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = df
      .select(col(idCol), col(groupCol),
        tokenCount(col(textCol)).cast("long").as("__nt"))
      .withColumn("cum_tokens", sum(col("__nt")).over(w))
      .join(broadcast(budgets), Seq(groupCol))
      .filter(col("cum_tokens") - col("__nt") < col("budget"))
      .select(col(idCol), col("cum_tokens"))
    df.join(kept, Seq(idCol))
  }

  /** Concatenate-and-cut sequence packing (the standard LM pretraining
    * layout): documents ordered by id form one virtual token stream cut
    * into fixed `seqLen`-token context windows; each document reports
    * its global token offset (`start_tok`), the first and last window
    * it touches, and how many windows it spans — the bookkeeping a
    * loader needs to slice shards without re-tokenizing. Zero-token
    * docs span 0 windows. Only token COUNTS move (never text), and the
    * running sum is two-level: a per-bucket cumsum (buckets =
    * id DIV `bucketSize`) plus a broadcast cumsum over the tiny
    * per-bucket totals — no single-partition global window, so the
    * plan holds at 100 TB where a naive `Window.orderBy(id)` would
    * funnel every row through one task. All arithmetic is integer
    * (`DIV`), replayable exactly in SQL. */
  def packSequences(docs: DataFrame, seqLen: Int,
      idCol: String = "doc_id", textCol: String = "text",
      bucketSize: Long = 4096L): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val counts = docs.select(col(idCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__b", expr(s"$idCol DIV $bucketSize"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefix = counts.groupBy(col("__b"))
      .agg(sum(col("n_tokens")).as("__bt"))
      .withColumn("__pre", sum(col("__bt")).over(wB) - col("__bt"))
      .select(col("__b"), col("__pre"))
    counts.withColumn("__cum", sum(col("n_tokens")).over(wIn))
      .join(broadcast(prefix), "__b")
      .withColumn("end_tok", col("__pre") + col("__cum"))
      .withColumn("start_tok", col("end_tok") - col("n_tokens"))
      .withColumn("first_seq", expr(s"start_tok DIV $seqLen"))
      .withColumn("last_seq", when(col("n_tokens") === 0,
        col("first_seq")).otherwise(expr(s"(end_tok - 1) DIV $seqLen")))
      .select(col(idCol), col("n_tokens"), col("start_tok"),
        col("first_seq"), col("last_seq"),
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(col("last_seq") - col("first_seq") + 1).as("n_seqs"))
  }

  /** (id, band, bkey) LSH band rows of `docs` — the near-dup candidate
    * key shared by [[nearDupDrops]] and [[decontaminateNear]]. */
  private def bandKeys(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, minhashK: Int, bands: Int, rowsPerBand: Int)
      : DataFrame =
    // repartition first: the testdata parquet is single-row-group
    // (1-task scan) and the shingle+minhash kernels would fuse into
    // that one task — the signature pass ran on one core at any
    // SPARK_GRAFT_CPUS (at cluster scale a multi-file corpus scan is
    // already parallel and AQE coalescing keeps this exchange cheap)
    docs.repartition(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col(idCol), shingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col(idCol), minhashSignature(col("sh"), minhashK).as("sig"))
      .select(col(idCol),
        posexplode(lshBands(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bkey")))

  /** NEAR-duplicate decontamination: drop from `train` every document
    * with a verified near-duplicate (shingle-Jaccard ≥ `threshold`) in
    * `eval` — exact-match decontamination misses paraphrased leakage.
    * Candidates come from a band-key equi-join of the two sides' LSH
    * signatures (never an all-pairs comparison); Jaccard runs on
    * candidates only. */
  def decontaminateNear(train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3, minhashK: Int = 12, bands: Int = 4,
      rowsPerBand: Int = 3, threshold: Double = 0.5): DataFrame = {
    val bTrain = bandKeys(train, idCol, textCol, shingleN, minhashK,
      bands, rowsPerBand)
    val bEval = bandKeys(eval, idCol, textCol, shingleN, minhashK,
      bands, rowsPerBand)
      .select(col(idCol).as("__eid"), col("band"), col("bkey"))
    val cand = bTrain.join(bEval, Seq("band", "bkey"))
      .select(col(idCol), col("__eid")).distinct()
    val contaminated = cand
      .join(train.select(col(idCol), col(textCol).as("__ttext")), idCol)
      .join(eval.select(col(idCol).as("__eid"),
        col(textCol).as("__etext")), "__eid")
      .filter(jaccard(shingles(col("__ttext"), shingleN),
        shingles(col("__etext"), shingleN)) >= threshold)
      .select(col(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: drop from `train` every document whose
    * content fingerprint appears in `eval` — the standard "remove
    * test-set leakage from the training corpus" pass. Order-insensitive
    * exact matching (the q32 fingerprint), one broadcast-or-shuffled
    * left-anti join on the 128-bit key; the eval side is typically the
    * small side and broadcasts. */
  def decontaminate(train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(!train.columns.contains("__fp"),
      "decontaminate uses an internal __fp column; the input already " +
        "has one")
    val evalFps = eval
      .select(fingerprint(tokens(col(textCol))).as("__fp")).distinct()
    train
      .withColumn("__fp", fingerprint(tokens(col(textCol))))
      .join(evalFps, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** [[decontaminate]] with a broadcast Bloom-filter prefilter — the
    * shape that survives an eval side too large to broadcast as a join
    * hash table. A distributed `BloomFilterAggregate` pass condenses the
    * eval fingerprints into a ~`1.44·n·log2(1/fpp)`-bit sketch (only
    * those bytes reach the driver), which ships back inside a literal
    * `BloomFilterMightContain` — so the 100 TB train side is a pure
    * codegen filter with NO join: rows the sketch rejects are
    * definitely clean (a Bloom filter has no false negatives) and skip
    * the join entirely; only the ~`fpp` false-positive fraction plus
    * the true leaks reach the exact anti-join that removes false
    * positives. Result is bit-identical to [[decontaminate]]. This is
    * Spark's own runtime-filter pattern (InjectRuntimeFilter), applied
    * where the optimizer can't see it — across the two passes of a
    * decontamination pipeline.
    *
    * The clean/candidate split is a UNION of two filters over the same
    * upstream, which LOOKS like a double corpus pass in the initial
    * plan — it is not: the upstream's shuffle is canonically identical
    * in both branches, so AQE's stage cache materializes it ONCE and
    * the second branch reads a `ReusedExchange` (plan-locked in
    * `PlanSpec`). The scan + fingerprint + shuffle write happen once
    * at any scale; only a narrow post-shuffle filter runs per branch. */
  def decontaminateBloom(train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      fpp: Double = 0.001): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types.BinaryType
    require(!train.columns.contains("__fp") &&
      !train.columns.contains("__cand"),
      "decontaminateBloom uses internal __fp/__cand columns; the input " +
        "already has one")
    val evalFps = eval
      .select(fingerprint(tokens(col(textCol))).as("__fp")).distinct()
    val n = evalFps.count()
    if (n == 0) return train
    // optimal bit count for the target false-positive rate: -n·ln p / ln²2
    val bits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val sketch = evalFps.select(Bridge.column(
      new BloomFilterAggregate(Bridge.expression(xxhash64(col("__fp"))),
        Literal(n), Literal(bits)).toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val fpd = train.withColumn("__fp", fingerprint(tokens(col(textCol))))
    val cand = Bridge.column(new BloomFilterMightContain(
      Literal(sketch, BinaryType),
      Bridge.expression(xxhash64(col("__fp")))))
    val flagged = fpd.withColumn("__cand", cand)
    flagged.filter(!col("__cand")).drop("__cand", "__fp")
      .unionByName(flagged.filter(col("__cand"))
        .join(evalFps, Seq("__fp"), "left_anti")
        .drop("__cand", "__fp"))
  }

  /** GPT-3-style contamination report: for each EVAL document, the
    * fraction of its distinct word n-grams that appear anywhere in
    * `train` (the papers use 13-grams; `n` is configurable). Unlike
    * [[decontaminate]] (which drops), this MEASURES leakage — the
    * number reviewers ask for. Gram sets explode linearly (codegen
    * shingle kernel), the train gram set dedups with map-side partial
    * aggregation, one semi-join on the gram key, and hits/total is a
    * single exact division. Eval documents with fewer than `n` tokens
    * have no grams and are absent from the report. */
  def contaminationReport(train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): DataFrame = {
    val evalGrams = eval.select(col(idCol),
      explode(shingles(col(textCol), n)).as("__g"))
    val trainGrams = train
      .select(explode(shingles(col(textCol), n)).as("__g")).distinct()
    val tot = evalGrams.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"))
    val hit = evalGrams.join(trainGrams, Seq("__g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq(idCol), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("overlap",
        col("n_hit").cast("double") / col("n_grams"))
  }

  /** Temperature-weighted mixture sampling (the multilingual-corpus
    * rebalancing rule, α = 1/2): group `s` receives a quota
    * `totalBudget · w_s / Σw` with `w_s = ⌊√(n_s · 10⁶)⌋` — i.e.
    * sampling probability ∝ n_s^α, flattening the source distribution
    * so rare groups up-sample. α is fixed at 1/2 because a single
    * correctly-rounded IEEE `sqrt` per GROUP is the only power any SQL
    * engine replays bit-for-bit (general `pow(n, α)` is not exactly
    * reproducible); all remaining arithmetic is integer (the weight
    * sum is order-independent, quotas use integer division). Members
    * are chosen per group by md5-hash order — deterministic, no
    * `rand()`, stable under reruns. One group-key count, a broadcast
    * quota frame, one window shuffle on the group key. */
  def temperatureSample(df: DataFrame, groupCol: String,
      totalBudget: Long, idCol: String = "doc_id"): DataFrame = {
    require(!df.columns.exists(c => c.startsWith("__")),
      "temperatureSample uses internal __ columns")
    val weights = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w",
        floor(sqrt((col("__n") * 1000000L).cast("double"))).cast("long"))
    val quotas = weights
      .crossJoin(broadcast(weights.agg(sum(col("__w")).as("__tot"))))
      .withColumn("__quota", expr(s"($totalBudget * __w) div __tot"))
      .select(col(groupCol), col("__quota"))
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(col(groupCol))
          .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      .join(broadcast(quotas), Seq(groupCol))
      .filter(col("__rn") <= col("__quota"))
      .drop("__rn", "__quota")
  }

  /** CCNet-style cross-document boilerplate removal: a LINE is dropped
    * from every document when it appears in more than `maxDf` distinct
    * documents (cookie banners, nav menus, copyright footers — the
    * line-granular sibling of [[removeDuplicatedSpans]]'s 5-gram
    * spans). Adds `n_lines`, `n_kept`, `clean_text` (survivors re-join
    * in original order; empty when nothing survives). Three linear
    * shuffles at any scale — line-key document-frequency aggregate
    * (partial map-side: boilerplate collapses before the exchange),
    * line-key anti-join, doc-key rebuild; never a pair enumeration. */
  def removeBoilerplateLines(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxDf: Int = 2): DataFrame = {
    require(!docs.columns.exists(c => c.startsWith("__")),
      "removeBoilerplateLines uses internal __ columns")
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val common = lines.groupBy(col("__line"))
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__line"))
    val rebuilt = lines.join(common, Seq("__line"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            s => s.getField("__line")),
          "\n").as("clean_text"))
    docs
      .select(col(idCol),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .na.fill(0L, Seq("n_kept"))
      .na.fill("", Seq("clean_text"))
  }

  /** Dedup-quality evaluation harness: LSH RECALL against the engine's
    * own exact similarity join, bucketed by true Jaccard. [[nearDupPairs]]
    * verifies its candidates, so its precision is 1 by construction and
    * the open question a pipeline owner must answer is recall — which
    * pairs the band join never surfaces. [[similarityJoin]] (PPJoin,
    * lossless) provides ground truth AT SCALE, so this report needs no
    * sampling: per jac-decile bucket, `n_exact` true pairs, `n_found` by
    * LSH, and recall — the classic LSH S-curve, measurable on the real
    * corpus. All counts exact; recall is the one presented division.
    *
    * Scale (100 TB): the exact join IS the expensive operator (priced
    * honestly, prefix-filtered); the report adds one pair-keyed left
    * join and a ≤ 10-row aggregate on top. */
  /** [[similarityJoin]] as a [[graft.core.SharedStages]] stage: the
    * exact prefix-filter join is the expensive stage of BOTH the n-gram
    * Jaccard report and the LSH recall audit (which compares the LSH
    * candidates against exactly this pair set) — a real pipeline
    * computes its ground-truth pairs once. */
  def similarityJoinShared(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3,
      threshold: Double = 0.6): DataFrame =
    SharedStages.simjoin.get((docs.queryExecution.analyzed.canonicalized,
      idCol, textCol, shingleN, threshold)) {
      similarityJoin(docs, idCol, textCol, shingleN, threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** (hits, misses) of the shared exact similarity-join stage. */
  def simjoinSharedTelemetry: (Long, Long) = SharedStages.simjoin.telemetry

  def lshRecallReport(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, minhashK: Int = 12,
      bands: Int = 4, rowsPerBand: Int = 3, threshold: Double = 0.6)
      : DataFrame = {
    val exact = similarityJoinShared(docs, idCol, textCol, shingleN,
      threshold)
    val found = nearDupPairs(docs, idCol, textCol, shingleN, minhashK,
      bands, rowsPerBand, threshold).withColumn("__hit", lit(1L))
    exact.join(found, Seq("doc_a", "doc_b"), "left")
      .select(floor(col("jac") * 10).cast("int").as("jac_bucket"),
        col("__hit"))
      .groupBy(col("jac_bucket"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_found"))
      .withColumn("recall",
        col("n_found").cast("double") / col("n_exact"))
  }

  /** ASYMMETRIC near-dup detection — shingle CONTAINMENT pairs (Broder
    * 1997's containment coefficient): |A∩B| / min(|A|,|B|) ≥ thr. Jaccard
    * misses quote-inclusion (a short doc pasted inside a long one drives
    * the union up and Jaccard down; its containment stays ≈ 1), which is
    * exactly the partial-duplication mode span dedup targets at the
    * passage level and this op surfaces at the document level. Candidates
    * come from the SAME LSH band join as [[nearDupPairs]] (recall is the
    * band recall); the exact intersect count runs on candidates only,
    * via |A|+|B|−|A∪B| — no set-intersect primitive needed, so any SQL
    * engine replays it. The gate is integer cross-multiplication
    * (n_common·thrDen ≥ thrNum·min) — engine-exact; the fractions are
    * presented as single IEEE divisions.
    *
    * Scale (100 TB): one band-key self-join (the standard near-dup
    * shuffle), shingle arrays rebuilt only on candidate rows. */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, minhashK: Int = 12,
      bands: Int = 4, rowsPerBand: Int = 3,
      thrNum: Int = 4, thrDen: Int = 5): DataFrame = {
    val sa = shingles(col("text_a"), shingleN)
    val sb = shingles(col("text_b"), shingleN)
    candidateTextPairs(docs, idCol, textCol, shingleN, minhashK, bands,
      rowsPerBand)
      .select(col("doc_a"), col("doc_b"),
        size(sa).cast("long").as("n_a"),
        size(sb).cast("long").as("n_b"),
        (size(sa) + size(sb) -
          size(array_distinct(concat(sa, sb)))).cast("long").as("n_common"))
      .filter(col("n_common") * thrDen >=
        lit(thrNum) * least(col("n_a"), col("n_b")))
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")))
  }

  /** Blocklist quality gate (the C4/Dolma "bad words" pass, distinct from
    * the structural line rules of [[c4Clean]]): exact whole-word counts of
    * a fixed term list, with an integer-ratio keep gate — keep while
    * flagged tokens stay ≤ num/den of the document. Pure projection: no
    * shuffle at any scale; the blocklist travels as a literal array. */
  def blocklistGate(docs: DataFrame, blocklist: Seq[String],
      textCol: String = "text", maxNum: Int = 1, maxDen: Int = 20)
      : DataFrame = {
    val toks = tokens(col(textCol))
    val bl = array(blocklist.map(lit): _*)
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_flagged",
        size(filter(toks, t => array_contains(bl, t))).cast("long"))
      .withColumn("keep",
        col("n_flagged") * maxDen <= lit(maxNum) * col("n_tokens"))
  }

  /** Content-defined chunk-level dedup stats (rsync/LBFS chunking,
    * Muthitacharoen SOSP'01): each document splits into content-anchored
    * chunks ([[graft.functions.textfns.cdcChunks]] — cut where the rolling
    * K-gram hash ≡ 0 mod D), and a chunk FINGERPRINT held by ≥ 2 documents
    * marks shared/boilerplate material that whole-document fingerprints
    * miss when headers/footers shift the text. Returns one row per doc:
    * `n_chunks` and `n_shared` (this doc's chunk instances whose
    * fingerprint appears in ≥ minDocs docs).
    *
    * Scale (100 TB): explode + count-distinct per 128-bit chunk key
    * (linear shuffle, partial-aggregated map-side), one equi-join of the
    * chunk instances against the shared-key set, one groupBy(id). Chunk
    * TEXT never shuffles — only md5 fingerprints. The chunk kernel runs
    * once per branch of the final join (twice per document — the same
    * recompute-vs-cache tradeoff as the other two-pass dedup ops here);
    * a cluster run that wants one pass should persist the
    * (id, fingerprints) projection first. */
  def cdcChunkStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, d: Int = 64,
      minDocs: Int = 2): DataFrame = {
    require(!docs.columns.exists(c => c.startsWith("__")),
      "cdcChunkStats uses internal __ columns")
    val ch = docs.select(col(idCol),
      cdcChunks(col(textCol), k, d).as("__fps"))
    val ex = ch.select(col(idCol), explode(col("__fps")).as("__fp"))
    val shared = ex.groupBy(col("__fp"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__fp"))
    val sh = ex.join(shared, Seq("__fp"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    ch.select(col(idCol), size(col("__fps")).cast("long").as("n_chunks"))
      .join(sh, Seq(idCol), "left")
      .na.fill(0L, Seq("n_shared"))
  }

  /** DSIR-shaped importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"), exact-arithmetic
    * variant: hashed token features (bucket = first two md5 nibbles, 256
    * buckets), per-bucket occurrence counts over the TARGET slice (rows
    * where `targetCol`) vs the RAW corpus, and a per-document linear
    * discriminant — `tgt_mass = Σ_tokens tgt[bucket]`,
    * `raw_mass = Σ_tokens raw[bucket]` — selecting documents whose
    * average target-affinity beats the corpus mean:
    * `tgt_mass · raw_total > raw_mass · tgt_total` (all BIGINT, so any
    * SQL engine replays the decision bit-for-bit; the published log-ratio
    * form would put a float Σlog in the gate). Returns every row with
    * `tgt_mass`, `raw_mass`, `keep`.
    *
    * Scale (100 TB): the bucket table is 256 rows — one partial-aggregated
    * explode feeds it, then it broadcasts back onto the token stream as a
    * HASH equi-join and the per-doc masses partial-aggregate before their
    * doc-key exchange (≈ one row per document crosses the wire, never
    * tokens). An earlier shape shipped the bucket table as a 256-entry
    * map literal consumed by an interpreted `aggregate` HOF — the map
    * value was copied into every joined row and the HOF ran outside
    * codegen, and the 10× ScaleProbe measured it 23× (superlinear in
    * practice); the equi-join shape measures 5.1×. Masses aggregate PER
    * `idCol`: rows must carry unique ids (two rows sharing an id would
    * get their combined masses — same id contract as the other id-keyed
    * pipeline ops). BIGINT headroom: mass ≤
    * tokens_per_doc · bucket_count and the gate multiplies by total
    * tokens — at corpus sizes where tokens² approaches 2⁶³ (≈ 3·10⁹
    * tokens) the two gate products must move to DECIMAL(38,0). */
  def dsirSelect(docs: DataFrame, isTarget: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(!docs.columns.exists(c => c.startsWith("__")),
      "dsirSelect uses internal __ columns")
    val toks = tokens(col(textCol))
    def bucket(tk: Column) = substring(md5(tk), 1, 2)
    val tok = docs.select(col(idCol), isTarget.as("__t"),
        explode(toks).as("__tk"))
      .select(col(idCol), col("__t"), bucket(col("__tk")).as("__b"))
    val buckets = tok.groupBy(col("__b")).agg(
      count(lit(1)).as("__raw"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__tgt"))
    val tot = buckets.agg(
      sum(col("__raw")).as("__rawTot"), sum(col("__tgt")).as("__tgtTot"))
    val masses = tok
      .join(broadcast(buckets), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__tgt")).as("tgt_mass"),
        sum(col("__raw")).as("raw_mass"))
    docs.join(masses, Seq(idCol), "left")
      .na.fill(0L, Seq("tgt_mass", "raw_mass"))
      .crossJoin(broadcast(tot))
      .withColumn("keep",
        col("tgt_mass") * col("__rawTot") > col("raw_mass") * col("__tgtTot"))
      .drop("__rawTot", "__tgtTot")
  }

  /** Collocation extraction: corpus bigrams ranked by pointwise mutual
    * information. Counts are exact BIGINTs; the PMI ORDER is the exact
    * rational c_ab·N / (c_a·c_b), surfaced as the single IEEE division
    * `score` (one double op on exact ints — engine-independent), with a
    * (score DESC, bigram) tiebreak so the top-k is deterministic.
    *
    * Scale (100 TB): one bigram-key shuffle (partial-aggregated) + two
    * broadcast joins against the vocabulary-sized unigram table + a
    * distributed TakeOrdered — never a global sort. The broadcast hint
    * is unconditional: a vocabulary too large for the driver needs the
    * hint DROPPED (the planner then picks a shuffle join on the word
    * key — still linear), not a bigger driver. */
  def collocations(docs: DataFrame, textCol: String = "text",
      minCount: Int = 5, k: Int = 50): DataFrame = {
    require(!docs.columns.exists(c => c.startsWith("__")),
      "collocations uses internal __ columns")
    val toks = tokens(col(textCol))
    val uni = docs.select(explode(toks).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val tot = uni.agg(sum(col("__c")).as("__n"))
    // zip_with over two slices, NOT transform+element_at: an interpreted
    // HOF re-evaluates child expressions per element (no CSE), so
    // element_at(tokens(text), i) re-tokenizes the document per pair —
    // measured 7.8 s for this query at sf0.1; the zip_with children
    // evaluate once and the lambda touches only its own variables.
    // Guard: slice with a non-positive length (docs under 2 tokens)
    // must map to an explicit empty pair list.
    val pairs = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val bi = docs.select(explode(pairs).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minCount)
    // the unigram joins carry NO broadcast hint: the vocabulary grows
    // with the corpus (Heaps-law sublinear, but unbounded — 100 TB web
    // text has billions of distinct tokens), so pinning it broadcast
    // would pin an unbounded table to the driver. AQE broadcasts it
    // while it is small and falls back to a linear vocab-key shuffle
    // join when it is not; the 10× probe measured 8.5× with the pinned
    // broadcasts and 5.95× hint-free (the vocab build+ship was the
    // superlinear term), 24× at 30× — sub-linear throughout.
    bi.join(uni.withColumnRenamed("__w", "w1")
        .withColumnRenamed("__c", "c1"), Seq("w1"))
      .join(uni.withColumnRenamed("__w", "w2")
        .withColumnRenamed("__c", "c2"), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("score",
        (col("pair_n") * col("__n")).cast("double") /
          (col("c1") * col("c2")))
      .select(col("w1"), col("w2"), col("pair_n"), col("c1"), col("c2"),
        col("score"))
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Corpus-wide top-k word n-grams by DOCUMENT frequency (tokenizer /
    * corpus-inspection prep): each document contributes its distinct
    * n-grams once (the codegen shingle kernel), counts partial-aggregate
    * map-side, and the top-k resolves through a distributed
    * TakeOrdered with a tie-free (count desc, gram) order. One linear
    * shuffle on the gram key — never a global sort. */
  def topNgramsByDf(docs: DataFrame, textCol: String = "text",
      n: Int = 2, k: Int = 20): DataFrame =
    docs
      .select(explode(shingles(col(textCol), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram"))
      .limit(k)

  /** C4-style cleaning (Raffel et al. 2019 §2.2), line level + document
    * level: lines survive [[graft.functions.textfns.c4CleanLines]]'s
    * keep rule (terminal punctuation, ≥ `minWords` words, no
    * "javascript"); the whole document is flagged `doc_dropped` when
    * the RAW text mentions "lorem ipsum" (case-insensitive) or contains
    * a curly brace (code), or fewer than `minLines` lines survive.
    * Adds `clean_text`, `n_lines`, `n_kept`, `doc_dropped`. Pure
    * projection — one codegen line-scan kernel per row, no shuffle at
    * any scale. */
  def c4Clean(docs: DataFrame, textCol: String = "text",
      minWords: Int = 3, minLines: Int = 1): DataFrame = {
    val cleaned = c4CleanLines(col(textCol), minWords)
    docs
      .withColumn("clean_text", cleaned)
      .withColumn("n_lines", size(split(col(textCol), "\n")).cast("long"))
      .withColumn("n_kept",
        when(length(col("clean_text")) === 0, lit(0L))
          .otherwise(size(split(col("clean_text"), "\n")).cast("long")))
      .withColumn("doc_dropped",
        contains(lower(col(textCol)), lit("lorem ipsum")) ||
          contains(col(textCol), lit("{")) ||
          col("n_kept") < minLines)
  }

  /** EXACT n-gram Jaccard similarity self-join: every pair of documents
    * with shingle-Jaccard ≥ `threshold`, as (doc_a, doc_b, jac) with
    * doc_a < doc_b — unlike [[nearDupDrops]] the output is complete,
    * not just what LSH bands catch. AllPairs/PPJoin candidate
    * generation: shingle sets ordered rarest-first by global document
    * frequency, only the first |sh| − ⌈t·|sh|⌉ + 1 shingles explode
    * (prefix filter), the inverted-index join applies the lossless
    * length filter t·max ≤ min and the PPJoin position filter
    * min(|a|−i, |b|−j)+1 ≥ ⌈t/(1+t)·(|a|+|b|)⌉, and exact Jaccard runs
    * on candidates only, against the already-collected shingle arrays.
    * Corpus-scale shuffles are all linear (explode, count, re-collect,
    * prefix-posting join); no pair outside shared-prefix postings is
    * ever enumerated. EVERY pruning bound subtracts a RELATIVE margin
    * (size·1e-12 — far above the ~2.3e-16 relative error a rounded
    * product can carry, at any corpus size) before its ceil/compare, so
    * double rounding can only loosen a filter, never tighten one; an
    * absolute epsilon would stop covering the product error once sets
    * reach ~1e7 elements. Loosening is safe — a too-long prefix or
    * too-low bound only adds candidates the exact verify then rejects. */
  def similarityJoin(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    val t = threshold
    val sh = docs.select(col(idCol),
        shingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    val posting = sh.select(col(idCol), explode(col("sh")).as("tok"))
    val dfreq = posting.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ordered = posting.join(dfreq, "tok")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("o"))
      .select(col(idCol), transform(col("o"), x => x.getField("tok")).as("sh"))
    def relaxed(bound: Column, scale: Column): Column = // size-relative
      bound - scale * lit(1e-12)
    val pref = ordered.select(col(idCol), size(col("sh")).as("len"),
      posexplode(slice(col("sh"), lit(1),
        (size(col("sh")) - ceil(relaxed(lit(t) * size(col("sh")),
          size(col("sh")))) + 1).cast("int"))).as(Seq("pos0", "tok")))
    val pairLen = col("a.len") + col("b.len")
    val overlapNeeded = // α = ⌈t/(1+t)·(|a|+|b|)⌉, rounded DOWN-safe
      ceil(relaxed(lit(t / (1 + t)) * pairLen, pairLen))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok")
          && col(s"a.$idCol") < col(s"b.$idCol")
          && relaxed(lit(t) * col("a.len"), col("a.len")) <= col("b.len")
          && relaxed(lit(t) * col("b.len"), col("b.len")) <= col("a.len")
          && least(col("a.len") - col("a.pos0") - 1,
               col("b.len") - col("b.pos0") - 1) + 1 >= overlapNeeded)
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(ordered.select(col(idCol).as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(ordered.select(col(idCol).as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= t)
  }

  /** SimHash near-duplicate pairs: (doc_a, doc_b, ham) with hamming
    * distance ≤ `maxHamming` on the 16-bit sketch. Candidates come from
    * an equi-join on the sketch's bytes — pigeonhole-lossless while
    * maxHamming < 2 (one flipped bit leaves a byte intact); a wider
    * production sketch splits into maxHamming+1 bands the same way.
    * One shuffle on the band key, exact hamming on candidates only. */
  def simhashNearDups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 1): DataFrame = {
    require(maxHamming < 2,
      s"two 8-bit bands are pigeonhole-complete only for hamming <= 1; " +
        s"got $maxHamming (use a wider sketch with more bands)")
    val sk = docs.select(col(idCol), simhash16Text(col(textCol)).as("sketch"))
    val bands = sk.select(col(idCol), col("sketch"),
      posexplode(array(col("sketch").bitwiseAND(lit(255L)),
        shiftright(col("sketch"), 8))).as(Seq("band", "bkey")))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        hamming(col("a.sketch"), col("b.sketch")).as("ham"))
      .filter(col("ham") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Fixed-size token windows with overlap — the standard
    * pre-tokenization chunking pass. start_i = clamp(i·stride, 0,
    * n−chunk): the last window aligns to the document end, so no token
    * drops and no chunk is shorter than it must be; a doc with ≤ chunk
    * tokens is one chunk, an empty doc none. Adds (chunk_idx, start,
    * chunk, n_tok). Pure projection + explode — no shuffle. */
  def chunkDocs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", chunk: Int = 512, stride: Int = 384)
      : DataFrame = {
    require(chunk >= 1 && stride >= 1 && stride <= chunk,
      s"need 1 <= stride <= chunk; got chunk=$chunk stride=$stride")
    val toks = tokens(col(textCol))
    val n = size(toks)
    val nChunks = when(n <= chunk, lit(1))
      .otherwise(lit(1) + ceil((n - chunk).cast("double") / stride)
        .cast("int"))
    val parts = when(n > 0, transform(sequence(lit(0), nChunks - 1),
        i => {
          val st = greatest(least(i * stride, n - chunk), lit(0))
          struct(st.as("start"),
            array_join(slice(toks, st + 1, lit(chunk)), " ").as("chunk"),
            least(lit(chunk), n - st).as("n_tok"))
        }))
      .otherwise(array().cast(
        "array<struct<start:int,chunk:string,n_tok:int>>"))
    docs.select(col(idCol), posexplode(parts).as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"), col("c.start").as("start"),
        col("c.chunk").as("chunk"), col("c.n_tok").as("n_tok"))
  }

  /** T5-style span-corruption example generation (Raffel et al. 2020):
    * the token stream is cut into fixed `spanLen` spans, each span is
    * masked iff the first hex nibble of md5(id:spanOrdinal) falls in
    * `maskNibbles` (3/16 ≈ the T5 ~15-20% noise density — deterministic,
    * so examples are reproducible across runs, engines, and cluster
    * sizes, the same md5 device as [[trainValSplit]]), the k-th masked
    * span becomes sentinel `<extra_id_k>` in the input, and the target
    * is the sentinel-prefixed masked spans in order. Pure projection —
    * no shuffle, no join; the per-row work is O(nspans²/2) sentinel
    * ranking over a boolean array, negligible against tokenization.
    *
    * Output: id, input, target, n_spans, n_masked_spans,
    * n_masked_tokens (LongType counters). */
  def spanCorrupt(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", spanLen: Int = 3,
      maskNibbles: Seq[String] = Seq("0", "1", "2")): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1; got $spanLen")
    val toks = tokens(col(textCol))
    val n = size(toks)
    val nspans = ceil(n.cast("double") / spanLen).cast("int")
    def spanToks(sp: Column) = slice(toks, sp * spanLen + 1, lit(spanLen))
    val flags = transform(sequence(lit(0), nspans - 1), sp =>
      substring(md5(concat(col(idCol).cast("string"), lit(":"),
        sp.cast("string"))), 1, 1).isin(maskNibbles: _*))
    // sentinel ordinal of span sp = #masked spans before it
    def sentIdx(flagsC: Column, sp: Column) =
      size(filter(slice(flagsC, lit(1), sp), f => f))
    // guarded span ordinals: sequence(0, -1) is a DESCENDING Spark
    // sequence, and an empty document's [0, -1] would index the empty
    // flags array (caught by the streaming lift's empty-doc case)
    val spanSeq = when(n > 0, sequence(lit(0), nspans - 1))
      .otherwise(array().cast("array<int>"))
    val inputC = array_join(
      transform(spanSeq, sp =>
        when(element_at(col("__flags"), sp + 1),
          concat(lit("<extra_id_"),
            sentIdx(col("__flags"), sp).cast("string"), lit(">")))
          .otherwise(array_join(spanToks(sp), " "))), " ")
    val maskedSpans = filter(spanSeq,
      sp => element_at(col("__flags"), sp + 1))
    val targetC = array_join(
      transform(maskedSpans, sp =>
        concat(lit("<extra_id_"),
          sentIdx(col("__flags"), sp).cast("string"), lit("> "),
          array_join(spanToks(sp), " "))), " ")
    val nMaskedToks = aggregate(maskedSpans, lit(0L),
      (acc, sp) => acc + size(spanToks(sp)))
    docs
      .withColumn("__flags",
        when(n > 0, flags).otherwise(array().cast("array<boolean>")))
      .select(col(idCol),
        when(n > 0, inputC).otherwise(lit("")).as("input"),
        when(n > 0, targetC).otherwise(lit("")).as("target"),
        when(n > 0, nspans).otherwise(lit(0)).cast("long").as("n_spans"),
        size(filter(col("__flags"), f => f)).cast("long")
          .as("n_masked_spans"),
        nMaskedToks.as("n_masked_tokens"))
  }

  /** Winnowed rolling-hash fingerprint sets (the MOSS substring-level
    * document fingerprint): k-codepoint Rabin–Karp hashes, minimum per
    * w-window, distinct + sorted, as `fps ARRAY<BIGINT>`. Codegen O(n)
    * per document; pure projection. */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, w: Int = 4): DataFrame =
    docs.select(col(idCol), winnowFps(col(textCol), k, w).as("fps"))

  /** Gopher-style intra-document repetition signals (Rae et al. 2021
    * §A.1.1 "repetitious text" filters, adapted to word level): per
    * document,
    *   - `max_run`: longest run of consecutive identical words ("batch
    *     batch batch" → 3),
    *   - `top2_frac`: chars of the words COVERED by occurrences of the
    *     most frequent word bigram (ties → lexicographically smallest
    *     gram), over total word chars,
    *   - `dup5_frac`: chars of the words covered by any word 5-gram
    *     occurring ≥ 2 times, over total word chars.
    * Both are positional-union coverage — overlapping occurrences are
    * not double-counted, so the fractions live in [0, 1] (a naive
    * per-occurrence sum exceeds 1 on overlaps: "a b a b a b" holds six
    * bigram occurrences over six words). Char counts are word lengths
    * (separators excluded). Docs with no words score (0, 0.0, 0.0).
    * All counts are exact integers and each fraction is a single
    * BIGINT/BIGINT IEEE division, so a SQL engine replays every bit.
    * At 100 TB: (doc, gram)- and (doc, position)-keyed aggregates and
    * one (doc, word, island) gaps-and-islands aggregate — canonical
    * map-reduce shapes keyed by content, no driver state. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    // null text counts as empty (all-zero stats) — matching the
    // declarative twin's left-join + coalesce shape on such rows
    val st = Bridge.column(graft.functions.expressions
      .RepetitionStatsExpr(
        Bridge.expression(coalesce(col(textCol), lit("")))))
    docs.select(col(idCol), st.as("__st"))
      .select(col(idCol),
        element_at(col("__st"), 1).as("n_words"),
        element_at(col("__st"), 3).as("max_run"),
        when(element_at(col("__st"), 2) > 0,
          element_at(col("__st"), 4).cast("double") /
            element_at(col("__st"), 2))
          .otherwise(lit(0.0)).as("top2_frac"),
        when(element_at(col("__st"), 2) > 0,
          element_at(col("__st"), 5).cast("double") /
            element_at(col("__st"), 2))
          .otherwise(lit(0.0)).as("dup5_frac"))
  }

  /** The declarative (explode/window/groupBy) twin of
    * [[repetitionStats]] — ~6 doc-keyed shuffles vs the kernel's pure
    * projection; kept as the differential oracle
    * (`RepetitionStatsSpec`). */
  def repetitionStatsDeclarative(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs
      .select(col(idCol),
        tokens(coalesce(col(textCol), lit(""))).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("__chars", aggregate(
        transform(col("__toks"), w => length(w).cast("long")),
        lit(0L), (a, x) => a + x))
    val pos = base.select(col(idCol),
      posexplode(col("__toks")).as(Seq("__pos", "__w")))
    val wRun = Window.partitionBy(col(idCol), col("__w"))
      .orderBy(col("__pos"))
    // gaps-and-islands: __pos − row_number is constant exactly along a
    // run of identical words
    val runs = pos
      .withColumn("__isl", col("__pos") - row_number().over(wRun))
      .groupBy(col(idCol), col("__w"), col("__isl"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col(idCol)).agg(max(col("__run")).as("max_run"))
    // gram OCCURRENCES keep their 0-based start — coverage needs it
    def gramOcc(k: Int) = base
      .select(col(idCol), posexplode(when(col("__n") >= k,
        transform(sequence(lit(1L), col("__n") - lit(k - 1L)),
          i => array_join(slice(col("__toks"), i, lit(k)), " ")))
        .otherwise(array().cast("array<string>")))
        .as(Seq("__i", "__g")))
    // positional-union covered chars of the selected grams' occurrences
    def coverage(occ: DataFrame, k: Int, out: String) = occ
      .select(col(idCol),
        explode(sequence(col("__i"), col("__i") + lit(k - 1))).as("__cp"))
      .distinct()
      .join(pos.withColumnRenamed("__pos", "__cp"), Seq(idCol, "__cp"))
      .groupBy(col(idCol))
      .agg(sum(length(col("__w")).cast("long")).as(out))
    val occ2 = gramOcc(2)
    val wTop = Window.partitionBy(col(idCol))
      .orderBy(col("__cnt").desc, col("__g"))
    val topG = occ2.groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") === 1).select(col(idCol), col("__g"))
    val top2 = coverage(occ2.join(topG, Seq(idCol, "__g")), 2, "__top2")
    val occ5 = gramOcc(5)
    val dupG = occ5.groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= 2).select(col(idCol), col("__g"))
    val dup5 = coverage(occ5.join(dupG, Seq(idCol, "__g")), 5, "__dup5")
    base.select(col(idCol), col("__n").as("n_words"), col("__chars"))
      .join(runs, Seq(idCol), "left")
      .join(top2, Seq(idCol), "left")
      .join(dup5, Seq(idCol), "left")
      .select(col(idCol), col("n_words"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        when(col("__chars") > 0,
          coalesce(col("__top2"), lit(0L)).cast("double") / col("__chars"))
          .otherwise(lit(0.0)).as("top2_frac"),
        when(col("__chars") > 0,
          coalesce(col("__dup5"), lit(0L)).cast("double") / col("__chars"))
          .otherwise(lit(0.0)).as("dup5_frac"))
  }

  /** Composite quality gate — the Gopher/RefinedWeb-style rule set over
    * the engine's own signals: token-count bounds, mean-token-length
    * bounds, identical-word runs, top-bigram and duplicated-5-gram
    * coverage ([[repetitionStats]]), and the C4 document flags. Emits
    * `keep` plus a sorted `reasons` array naming every failed rule —
    * the audit trail a curation run needs (a bare boolean can't tell
    * you WHY a third of the corpus vanished). One repetitionStats pass
    * + a doc-key join; every rule itself is a projection. */
  def qualityGate(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minTokens: Long = 20,
      maxTokens: Long = 100000, maxRun: Long = 3,
      maxTop2: Double = 0.15, maxDup5: Double = 0.15,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0): DataFrame = {
    val rep = repetitionStats(docs.select(col(idCol), col(textCol)),
      idCol, textCol)
    val avg = avgTokenLen(col(textCol))
    val reasons = array_sort(filter(array(
      when(col("n_words") < minTokens, lit("too_short")),
      when(col("n_words") > maxTokens, lit("too_long")),
      when(avg < minAvgLen, lit("short_words")),
      when(avg > maxAvgLen, lit("long_words")),
      when(col("max_run") >= maxRun, lit("word_runs")),
      when(col("top2_frac") > maxTop2, lit("top_bigram")),
      when(col("dup5_frac") > maxDup5, lit("dup_grams")),
      when(contains(lower(col(textCol)), lit("lorem ipsum")),
        lit("lorem_ipsum")),
      when(contains(col(textCol), lit("{")), lit("brace"))),
      r => r.isNotNull))
    docs.select(col(idCol), col(textCol))
      .join(rep, Seq(idCol))
      .select(col(idCol), col("n_words"), col("max_run"),
        col("top2_frac"), col("dup5_frac"), reasons.as("reasons"),
        (size(reasons) === 0).as("keep"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication of an
    * embedded corpus. k-means clusters the vectors (the paper's
    * complexity bound: candidate pairs only WITHIN a cluster, never
    * corpus²); within each cluster, pairs with cosine ≥ `tau` form
    * ε-ball duplicate groups (transitively closed — connected
    * components); each group keeps exactly one member — the one
    * FURTHEST from its cluster centroid (lowest centroid cosine, the
    * paper's keep rule; ties → smallest id). Cross-cluster duplicates
    * are missed by design — that is the accepted approximation that
    * makes the method scale. Returns (vec_id, cid, cos, component,
    * kept 0/1) for every input vector; `cos` is the centroid cosine.
    * All comparisons are on exactly-replayable integer-derived values,
    * so a SQL engine reproduces the kept set bit for bit.
    *
    * `clusterCap` bounds the within-cluster pair join: k-means clusters
    * are NOT balanced, and one hot cluster of c members would otherwise
    * enumerate c²/2 candidate pairs (the skew scale-killer at corpus
    * scale). Members are ranked by centroid cosine inside their cluster
    * and banded `clusterCap` at a time; pairs form only within a band,
    * so a cluster contributes ≤ ⌈c/cap⌉·cap²/2 = O(c·cap) candidates.
    * Near-duplicates have near-equal centroid cosine, so they land in
    * the same band — the same rationale as the ANN path's BUCKET_CAP
    * (queries/Similarity.scala); band-straddling pairs are a documented
    * miss, like the paper's own cross-cluster misses. */
  def semDedup(vecs: DataFrame, k: Int, iters: Int, tau: Double,
      clusterCap: Int = 4096): DataFrame = {
    require(clusterCap > 1, "clusterCap must be > 1")
    // the trained quantizer rides the session-scoped shared stage (it
    // is consumed four times below — both sides of the pair self-join,
    // the component node list, the final labeling join — and by the
    // whole ANN ladder); the persist inside kmeansShared is what keeps
    // the iterative chain from re-executing per consumer
    val assigned = kmeansShared(vecs, k, iters)
    val pairs = semDedupCandidates(assigned, clusterCap)
      .filter(cosineQ(dotLong(col("a.qv"), col("b.qv")),
        col("a.nrm"), col("b.nrm")) >= tau)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    val comp = connectedComponents(pairs,
      assigned.select(col("vec_id").as("doc_id")))
    val wk = Window.partitionBy(col("component"))
      .orderBy(col("cos").asc, col("vec_id"))
    assigned.join(comp, assigned("vec_id") === comp("doc_id"))
      .select(col("vec_id"), col("cid"), col("cos"),
        col("cluster").as("component"))
      .withColumn("kept", (row_number().over(wk) === 1).cast("int"))
  }

  /** The capped within-cluster candidate pair join of [[semDedup]],
    * exposed for the candidate-bound property test: self-join of
    * `assigned` (kmeansTrain output) restricted to equal (cid, band),
    * band = centroid-cosine rank DIV `clusterCap`. Aliases the two
    * sides as `a`/`b`. */
  private[graft] def semDedupCandidates(assigned: DataFrame,
      clusterCap: Int): DataFrame = {
    val wb = Window.partitionBy(col("cid"))
      .orderBy(col("cos").asc, col("vec_id"))
    val banded = assigned
      .withColumn("__rn", row_number().over(wb))
      .withColumn("band", expr(s"CAST((__rn - 1) DIV $clusterCap AS BIGINT)"))
      .drop("__rn")
    banded.as("a").join(banded.as("b"),
      col("a.cid") === col("b.cid") &&
        col("a.band") === col("b.band") &&
        col("a.vec_id") < col("b.vec_id"))
  }

  /** Component-wise integer-sum centroids of `assigned` (grouped by
    * `cid`) — exact across engines; cosine is scale-invariant so the
    * sum vector scores identically to the mean. */
  private def centroidSums(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy(col("cid"), col("i")).agg(sum(col("x")).as("sx"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("i"), col("sx")))).as("pairs"))
      .select(col("cid"),
        transform(col("pairs"), p => p.getField("sx")).as("cv"))
      .withColumn("cnrm", dotLong(col("cv"), col("cv")))

  /** Nearest-centroid assignment (max cosine, tie → smallest cid).
    * Implemented as an argmax AGGREGATE, not a window: `max_by` over
    * the lexicographic (cos, −cid) key combines map-side, so the
    * exchange carries n rows instead of the window's n·k — per k-means
    * iteration that is the difference between shuffling the corpus and
    * shuffling it k times. Null cosines (zero vectors) order below any
    * real score in both the struct comparator and the window it
    * replaced, and an all-null row still resolves to the smallest cid. */
  private def assignTo(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("qv"), col("nrm"), col("cid"),
        cosineQ(dotLong(col("qv"), col("cv")), col("nrm"), col("cnrm"))
          .as("cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("qv"), col("nrm"), col("cid"), col("cos")),
        struct(col("cos"), (-col("cid")).as("negCid"))).as("best"))
      .select(col("vec_id"), col("best.qv").as("qv"),
        col("best.nrm").as("nrm"), col("best.cid").as("cid"),
        col("best.cos").as("cos"))

  /** Lloyd k-means over quantized vectors (`vec_id`, `qv ARRAY<BIGINT>`):
    * init = the k smallest vec_ids as singleton clusters, `iters`
    * centroid updates, then a final assignment. Returns (vec_id, qv,
    * nrm, cid, cos). Exact across engines — centroids stay integer sums
    * (never divided), so the computation replays bit-for-bit in SQL.
    * Per iteration: one k·dims-row shuffle + one broadcast assign; the
    * corpus is scanned iters+1 times and never shuffled. */
  /** [[kmeansTrain]] as a [[graft.core.SharedStages]] stage: the
    * trained coarse quantizer is the substrate of the whole ANN ladder
    * — IVF search, IVF-PQ, the nprobe curve, SemDeDup — and the
    * iterative Lloyd chain (one k·dims shuffle + one broadcast assign
    * per round) is the expensive stage in all of them. A real pipeline
    * trains the index ONCE and serves every search from it; this is
    * that artifact as a DataFrame. */
  def kmeansShared(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    SharedStages.kmeans.get((vecs.queryExecution.analyzed.canonicalized,
      k, iters)) {
      kmeansTrain(vecs, k, iters)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** (hits, misses) of the shared trained-quantizer stage. */
  def kmeansSharedTelemetry: (Long, Long) = SharedStages.kmeans.telemetry

  def kmeansTrain(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = vecs.select(col("vec_id"), col("qv"))
      .withColumn("nrm", dotLong(col("qv"), col("qv")))
    // the k SMALLEST ids — works for arbitrary (sparse, offset) id
    // spaces, not only 0-based dense ones; orderBy+limit plans as a
    // distributed TakeOrdered, never a global sort
    val init = e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cv"),
        col("nrm").as("cnrm"))
    var assigned = assignTo(e, init)
    for (_ <- 1 to iters)
      assigned = assignTo(e, centroidSums(assigned))
    assigned
  }

  /** Per-group corpus report — the numbers a mixture designer reads
    * before setting sampling quotas: doc count, total/mean tokens, and
    * EXACT rank-based percentiles of `valueCol` (p50/p90 = the value at
    * 0-based order position floor((n−1)·p), doc_id tie-break). Exact
    * ranks instead of an engine's percentile function: every engine
    * defines interpolation differently, a rank position is the same
    * everywhere. One shuffle on the group key (window + aggregate share
    * it); group cardinality is tiny by construction, the window is over
    * group-sized partitions. For a skewed 100 TB corpus the same report
    * runs per-shard and merges, or swaps the exact rank for a t-digest;
    * exactness is the point here. Returns (`groupCol`, n_docs,
    * total_tokens, mean_tokens, p50, p90). */
  def corpusStats(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", idCol: String = "doc_id",
      valueCol: String = "n_chars"): DataFrame = {
    val base = docs.select(col(groupCol), col(idCol), col(valueCol),
      tokenCount(col(textCol)).cast("long").as("__t"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(idCol))
    val ranked = base
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__cnt",
        count(lit(1)).over(Window.partitionBy(col(groupCol))))
    def at(p: Int, out: String) = ranked
      .filter(col("__rn") ===
        floor((col("__cnt") - 1).cast("double") * p / 100) + 1)
      .select(col(groupCol), col(valueCol).cast("long").as(out))
    base.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("total_tokens"))
      .withColumn("mean_tokens",
        col("total_tokens").cast("double") / col("n_docs"))
      .join(at(50, "p50"), Seq(groupCol))
      .join(at(90, "p90"), Seq(groupCol))
  }

  /** Boolean-AND keyword search with tf·idf ranking — the retrieval
    * query over a corpus's inverted index. Returns the top `k` docs
    * containing ALL of `terms`, ranked by Σ_t tf_t · idf_t with the
    * INTEGER idf weight floor(N·10000/df_t): an integer score sums
    * order-independently (a double Σ tf·(N/df) would be
    * addition-order-dependent across engines), and ranking by it
    * equals ranking by the rational within the scale's resolution.
    * Plan: one shuffle on the term key for tf, a broadcast of the
    * |terms|-row df table and the 1-row corpus count, one map-side
    * combining per-doc aggregate, and a distributed TakeOrdered for
    * the top-k — the corpus is never sorted globally. The persisted
    * inverted-index layout (postings written `partitionBy(term)`) is
    * proven to prune in `InvertedIndexSpec`. */
  def keywordSearch(docs: DataFrame, terms: Seq[String], k: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .filter(col("__w").isin(terms: _*))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__tf"))
    val dfT = tf.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val total = docs.agg(count(lit(1)).as("__n"))
    tf.join(broadcast(dfT), Seq("__w"))
      .crossJoin(broadcast(total))
      .withColumn("__idf",
        floor((col("__n") * 10000).cast("double") / col("__df"))
          .cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__m"),
        sum(col("__tf") * col("__idf")).as("score"))
      .filter(col("__m") === terms.length)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Cross-document duplicated-span removal (the Spark-first shape of
    * Lee et al. 2022's exact substring deduplication): any `l`-token
    * span occurring in ≥ 2 DISTINCT documents is excised from every
    * document that contains it (all occurrences — the conservative
    * variant; overlapping spans merge via the positional union, exactly
    * like [[repetitionStats]]' coverage). Documents shorter than `l`
    * tokens pass through untouched. Returns (`idCol`, n_tokens,
    * removed_tokens, text_clean).
    *
    * Scale (100 TB): one shuffle keyed on the span content to find
    * cross-doc duplicates (the suffix-array build this replaces is not
    * distributable), one positional-union distinct, one anti-join, one
    * per-doc rebuild aggregate — all map-side-combining shapes. No
    * driver state, no pair enumeration. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", l: Int = 5): DataFrame = {
    val base = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
    // 0-based span starts, one row per occurrence — the gram fan is a
    // fused codegen kernel (the transform+slice+array_join chain it
    // replaces was an interpreted O(n·l) HOF per document); outer so
    // the inferred size()>0 filter can't re-run the kernel below the
    // fan (the q124 lesson), with short docs dropping on the null gram
    val occ = base.select(col(idCol),
        posexplode_outer(spanGrams(col("__toks"), l))
          .as(Seq("__i", "__g")))
      .filter(col("__g").isNotNull)
    val dupG = occ.groupBy(col("__g"))
      .agg(countDistinct(col(idCol)).as("__d"))
      .filter(col("__d") >= 2).select(col("__g"))
    val covered = occ.join(dupG, Seq("__g"))
      .select(col(idCol),
        explode(sequence(col("__i"), col("__i") + lit(l - 1))).as("__cp"))
      .distinct()
    val pos = base.select(col(idCol),
      posexplode(col("__toks")).as(Seq("__cp", "__w")))
    val rebuilt = pos.join(covered, Seq(idCol, "__cp"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__cp"), col("__w")))),
        p => p.getField("__w")), " ").as("text_clean"))
    val removed = covered.groupBy(col(idCol))
      .agg(count(lit(1)).as("removed_tokens"))
    base.select(col(idCol), col("__n").as("n_tokens"))
      .join(removed, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** PII patterns, deliberately restricted to the regex subset with
    * identical semantics in java.util.regex (Spark) and RE2 (DuckDB,
    * Go-based scanners): character classes, bounded repetition and the
    * ASCII `\b` word boundary — no backreferences, no lookaround.
    * Public so downstream filters can reuse the exact same definitions. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scrubbing — the redaction stage every public-web training
    * pipeline runs before anything else sees the text (emails, IPv4
    * addresses, NANP-style phone numbers → typed placeholder tokens).
    * Counts are taken on the ORIGINAL text, then redaction applies
    * email → ip → phone, in that order (the trailing `\b` in the ipv4
    * pattern keeps dotted phone numbers out of it, so the three match
    * sets are disjoint and order only matters for determinism).
    * Pure per-row projection — `regexp_replace`/`regexp_count` are
    * codegen'd Spark built-ins, so this stage fuses into whatever scan
    * precedes it: zero shuffles at any scale. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_emails", regexp_count(t, lit(PiiEmailRe)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(PiiIpv4Re)).cast("long"))
      .withColumn("n_phones", regexp_count(t, lit(PiiPhoneRe)).cast("long"))
      .withColumn(textCol,
        regexp_replace(
          regexp_replace(
            regexp_replace(t, PiiEmailRe, "<EMAIL>"),
            PiiIpv4Re, "<IP>"),
          PiiPhoneRe, "<PHONE>"))
  }

  /** Deterministic corpus shuffle into training shards — the export
    * step after cleaning/mixing: every row gets a stable (shard, pos)
    * from md5(seed:id), so the "random" order is reproducible across
    * runs, engines, and cluster sizes (never `rand()`), and a training
    * job can stream shard files in pos order. One shuffle on the shard
    * key; the per-shard sort is the per-partition sort a write would do
    * anyway. `nShards` should be ≥ the writing cluster's parallelism —
    * each shard's window sorts only its own ~N/nShards rows. */
  def shuffleToShards(df: DataFrame, nShards: Int, seed: Int = 0,
      idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    for (c <- Seq("__key", "shard", "pos"))
      require(!df.columns.contains(c),
        s"shuffleToShards writes a `$c` column; the input already has one")
    val key = md5(concat(lit(s"$seed:"), col(idCol).cast("string")))
    val shard = conv(substring(key, 1, 8), 16, 10).cast("long") % nShards
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__key"), col(idCol))
    df.withColumn("__key", key)
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__key")
  }

  /** Frequency-ranked vocabulary with ids and corpus coverage — the
    * tokenizer-prep step: whitespace tokens with `tf` (total
    * occurrences) and `df` (documents containing), thresholded at
    * `minCount` total occurrences, ranked by (tf desc, token) with
    * `id` = rank − 1 and `coverage` = cumulative tf at this rank over
    * ALL corpus tokens (including sub-threshold ones), as one exact
    * int/int division.
    *
    * Scale: token counting is a map-side-combined groupBy (one linear
    * shuffle). Ranking never uses a global single-partition window —
    * rank = (rows in strictly-higher tf groups, from a broadcast
    * per-tf prefix table) + (row_number within this tf group ordered
    * by token). The minCount threshold is what bounds the window work:
    * it drops the df=1 long tail BEFORE ranking, exactly as real vocab
    * builds do, so the largest surviving equal-tf group stays small. */
  /** RAG / retrieval-style TOKEN CHUNKER: fixed `window`-token chunks
    * at `stride` tokens (overlap = window − stride), the
    * fixed-size-with-overlap splitter every retrieval index and many
    * packing pipelines run before embedding. Chunk k covers tokens
    * [k·stride, k·stride + window); the last chunk is the first one
    * whose span reaches the end (it may be short); empty docs emit no
    * chunks. Emits (doc_id, chunk_id, n_tokens, chunk_md5) — md5 of
    * the space-joined chunk text is the content fingerprint chunk-level
    * dedup keys on, replayable in any engine.
    *
    * Scale: pure projection + one generator fan (sequence/posexplode —
    * no literal arrays, the pair-fan discipline); no shuffle at all.
    * Downstream dedup shuffles once on the fingerprint. */
  def tokenChunks(docs: DataFrame, window: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window; got window=$window stride=$stride")
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("kmax", expr(
        s"(greatest(n - $window, 0) + ${stride - 1}) div $stride"))
      .select(col(idCol), col("toks"), col("n"),
        posexplode_outer(sequence(lit(0), col("kmax")))
          .as(Seq("__p", "k")))
      .withColumn("start", col("k") * stride)
      .withColumn("n_tokens",
        least(lit(window), col("n") - col("start")).cast("long"))
      .select(col(idCol), col("k").cast("long").as("chunk_id"),
        col("n_tokens"),
        md5(array_join(slice(col("toks"), col("start") + 1,
          col("n_tokens").cast("int")), " ").cast("binary"))
          .as("chunk_md5"))
  }

  def buildVocab(docs: DataFrame, textCol: String = "text",
      minCount: Long = 2L): DataFrame = {
    val tok = docs.select(explode(tokens(col(textCol))).as("token"))
    val counts = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val dfCounts = docs
      .select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val total = tok.agg(count(lit(1)).as("__total"))
    val kept = counts.filter(col("tf") >= minCount).join(dfCounts, "token")
    // per-tf prefix table: rows and tokens in all strictly-higher tf
    // groups (tiny — one row per distinct tf value; broadcast).
    val wTf = Window.orderBy(col("tf").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefix = kept.groupBy(col("tf"))
      .agg(count(lit(1)).as("__n"), sum(col("tf")).as("__toks"))
      .withColumn("__nAbove", sum(col("__n")).over(wTf) - col("__n"))
      .withColumn("__toksAbove",
        sum(col("__toks")).over(wTf) - col("__toks"))
      .select(col("tf"), col("__nAbove"), col("__toksAbove"))
    val wIn = Window.partitionBy(col("tf")).orderBy(col("token"))
    kept
      .withColumn("__rIn", row_number().over(wIn).cast("long"))
      .withColumn("__tIn", sum(col("tf")).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(prefix), "tf")
      .crossJoin(broadcast(total))
      .select(col("token"),
        (col("__nAbove") + col("__rIn") - 1).as("id"),
        col("tf"), col("df"),
        ((col("__toksAbove") + col("__tIn")).cast("double") /
          col("__total")).as("coverage"))
  }

  /** Unigram-LM token-commonness scoring — the log-free cousin of a
    * KenLM perplexity quality filter: each document is scored by how
    * common its tokens are in the corpus itself. Per document:
    * `n_tokens`, `sum_tf` (Σ over token occurrences of that token's
    * corpus frequency), `n_rare` (occurrences with corpus frequency
    * < `minCount`) and `score = sum_tf / n_tokens` — an exact BIGINT
    * sum with ONE final division, so another engine replays it
    * bit-for-bit (a Σlog perplexity would drift in the last ulp and
    * could never be hash-compared). Gibberish/OCR noise scores low
    * (unique junk tokens), templated boilerplate scores high.
    * Documents with zero tokens drop out (no occurrences to score).
    *
    * Scale (100 TB): token counting is one map-side-combined groupBy;
    * the count table is vocabulary-sized (≪ corpus) and joins back on
    * the token key — a linear shuffle join. A cluster deployment can
    * swap that join for a broadcast of the top-K vocabulary with a
    * `coalesce(tf, 1)` floor for the tail, trading exactness of the
    * rare-token tail for zero shuffle on the corpus side. */
  def tokenCommonness(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minCount: Long = 3L): DataFrame = {
    require(!Set("__tok", "__tf").contains(idCol),
      s"idCol '$idCol' collides with an internal column")
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
    val counts = tok.groupBy(col("__tok")).agg(count(lit(1)).as("__tf"))
    tok.join(counts, "__tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__tf")).as("sum_tf"),
        sum(when(col("__tf") < minCount, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("score",
        col("sum_tf").cast("double") / col("n_tokens").cast("double"))
  }

  /** CCNet-style per-language quality bucketing (Wenzek et al. 2020):
    * split each language's documents into head / middle / tail by LM
    * quality score — here [[tokenCommonness]]'s corpus-frequency score,
    * descending (commonest-vocabulary documents are "head", CCNet's
    * lowest-perplexity-first convention). CCNet derives its cutoffs
    * from a SAMPLE, never a global sort — the scale-critical choice
    * this op keeps twice over: the sample is a [[quotaSample]]
    * (hash-first `sampleCap` docs per language, WindowGroupLimit-capped
    * map-side, membership stable as the corpus grows), so the tercile
    * ranking runs over ≤ `sampleCap` rows per language no matter the
    * corpus size, and the full corpus buckets by comparing its score
    * against the #languages-row threshold table — no corpus-wide
    * window anywhere. Thresholds are the sample scores at ranks
    * ⌈n/3⌉ and ⌈2n/3⌉ (ties → the better bucket); a language absent
    * from the sample buckets as head (documented edge, deterministic).
    * Emits (idCol, langCol, n_tokens, score, bucket). */
  def ccnetBuckets(docs: DataFrame, langCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text",
      minCount: Long = 3L, sampleCap: Int = 50): DataFrame = {
    require(sampleCap > 0, "sampleCap must be positive")
    val scored = tokenCommonness(docs, idCol, textCol, minCount)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
    val sample = quotaSample(scored, langCol, sampleCap, idCol).drop("rk")
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("score").desc, col(idCol))
    val ranked = sample
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(langCol))))
    val thresholds = ranked
      .filter(col("__rk") === expr("(__n + 2) div 3") ||
        col("__rk") === expr("(2 * __n + 2) div 3"))
      .groupBy(col(langCol))
      .agg(max(when(col("__rk") === expr("(__n + 2) div 3"),
          col("score"))).as("__t_head"),
        max(when(col("__rk") === expr("(2 * __n + 2) div 3"),
          col("score"))).as("__t_mid"))
    scored.join(thresholds, Seq(langCol), "left")
      .withColumn("bucket",
        when(col("__t_head").isNull || col("score") >= col("__t_head"),
          "head")
        .when(col("score") >= col("__t_mid"), "middle")
        .otherwise("tail"))
      .select(col(idCol), col(langCol), col("n_tokens"), col("score"),
        col("bucket"))
  }

  /** Distributed byte-pair-encoding merge training (Sennrich et al.
    * 2016) — the real tokenizer-training loop, on Spark: lowercase
    * alnum words are counted once (ONE corpus scan; everything after
    * runs on the vocabulary-sized word table), each word becomes a
    * boundary-safe symbol string `(h)(e)(l)(l)(o)`, and each round
    * (1) counts adjacent symbol pairs weighted by word frequency,
    * (2) picks the most frequent pair (ties: lexicographic — fully
    * deterministic, no RNG), (3) merges it corpus-wide with one literal
    * `replace` (left-to-right non-overlapping — exactly BPE's greedy
    * apply; the `)(`-delimited wrapping makes substring collisions
    * impossible since symbols are alnum-only). Returns the merge table
    * (round, left, right, merged, cnt).
    *
    * Scale (100 TB): the corpus is touched exactly once (word count,
    * map-side combined). The per-round loop — a pair-count aggregation
    * and an argmax — runs over the DISTINCT-WORD table, which is
    * vocabulary-sized (millions, not billions) regardless of corpus
    * size; the driver collects one row per round. This is the standard
    * structure of distributed BPE trainers. */
  /** The learned [[bpeTrain]] merge trajectory as a driver value, in a
    * [[graft.core.SharedStages]] stage: the training loop is
    * driver-paced — one pair-count aggregate + argmax collect per
    * round — and THREE board queries (train, encode, fertility) need
    * the identical trajectory; a real pipeline trains its tokenizer
    * once. Rows are (round, lhs, rhs, merged, cnt) in training order. */
  def bpeMergesShared(docs: DataFrame, nMerges: Int,
      textCol: String = "text")
      : Seq[(Int, String, String, String, Long)] =
    SharedStages.bpe.get((docs.queryExecution.analyzed.canonicalized,
      nMerges, textCol)) {
      bpeTrain(docs, nMerges, textCol)
        .orderBy("round").collect()
        .map(r => (r.getAs[Int]("round"), r.getAs[String]("lhs"),
          r.getAs[String]("rhs"), r.getAs[String]("merged"),
          r.getAs[Long]("cnt"))).toSeq
    }

  /** (hits, misses) of the shared BPE merge-trajectory stage. */
  def bpeSharedTelemetry: (Long, Long) = SharedStages.bpe.telemetry

  def bpeTrain(docs: DataFrame, nMerges: Int, textCol: String = "text")
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(lower(col(textCol)), "[^a-z0-9]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("word"), "(.)", "($1)").as("sym"),
        col("cnt"))
    var syms = words.cache()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var done = false
    for (r <- 1 to nMerges if !done) {
      val ls = split(regexp_replace(col("sym"), "^\\(|\\)$", ""), "\\)\\(")
      val pairs = syms
        // guard BEFORE building the index sequence: sequence(0, -1)
        // would generate a DESCENDING range for single-symbol words
        .filter(size(ls) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(0), size(ls) - 2),
          i => struct(element_at(ls, i + 1).as("a"),
            element_at(ls, i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("tot"))
      val best = pairs.orderBy(col("tot").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, tot) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((r, a, b, a + b, tot))
        val next = syms.select(
          call_function("replace", col("sym"),
            lit(s"($a)($b)"), lit(s"(${a + b})")).as("sym"),
          col("cnt")).cache()
        next.count()
        syms.unpersist()
        syms = next
      }
    }
    syms.unpersist()
    merges.toSeq.toDF("round", "lhs", "rhs", "merged", "cnt")
  }

  /** Apply a learned [[bpeTrain]] merge list to the corpus — the encode
    * half of the tokenizer: every word becomes its boundary-safe symbol
    * string, the whole document is one space-joined wrapped string
    * (merges can never cross a word boundary: the pattern `(a)(b)`
    * requires adjacency with no space), and the merges replay IN
    * TRAINING ORDER as literal replaces. Pure projection — zero
    * shuffles, embarrassingly parallel; the merge list is a driver-side
    * constant folded into the plan (the broadcast-free analogue of a
    * tokenizer vocabulary ship). Emits (idCol, n_words, n_subwords,
    * enc_fp) — the fingerprint pins the exact encoded sequence. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = filter(split(lower(col(textCol)), "[^a-z0-9]+"),
      w => w =!= "")
    val wrapped = array_join(
      transform(ws, w => regexp_replace(w, "(.)", "($1)")), " ")
    val enc = merges.foldLeft(wrapped) { case (e, (a, b)) =>
      call_function("replace", e, lit(s"($a)($b)"), lit(s"(${a + b})"))
    }
    docs.select(col(idCol), size(ws).cast("long").as("n_words"),
      enc.as("__enc"))
      .withColumn("n_subwords",
        (length(col("__enc"))
          - length(call_function("replace", col("__enc"), lit("("),
            lit("")))).cast("long"))
      .withColumn("enc_fp", md5(col("__enc").cast("binary")))
      .drop("__enc")
  }

  /** Corpus snapshot diff — dataset versioning for pipeline runs: which
    * documents a new corpus version added, removed, changed, or kept,
    * by id. The compare ships 128-bit content fingerprints, never
    * document bodies, so the single id-keyed sort-merge join carries
    * ~48 bytes/doc regardless of document size; both scans prune to
    * (id, text) and the md5 folds into each side's scan projection.
    * Output: (idCol, status ∈ added|removed|changed|unchanged,
    * fp_prev, fp_cur — null on the absent side). */
  def corpusDiff(prev: DataFrame, cur: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def fps(df: DataFrame, id: String, fp: String) =
      df.select(col(idCol).as(id),
        md5(col(textCol).cast("binary")).as(fp))
    val a = fps(prev, "__ida", "fp_prev")
    val b = fps(cur, "__idb", "fp_cur")
    a.join(b, col("__ida") === col("__idb"), "full_outer")
      .select(
        coalesce(col("__ida"), col("__idb")).as(idCol),
        when(col("__ida").isNull, lit("added"))
          .when(col("__idb").isNull, lit("removed"))
          .when(col("fp_prev") =!= col("fp_cur"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("fp_prev"), col("fp_cur"))
  }

  /** URL canonicalization — the normalization every web-crawl dedup
    * runs before comparing URLs: lowercase the scheme+host (ONLY — the
    * path stays case-sensitive per RFC 3986), drop the fragment, strip
    * `utm_*` tracking parameters, drop a bare trailing slash, and fold
    * `www.`. Pure per-row projection over regexp built-ins (same
    * RE2∩java.regex-safe subset as the PII patterns). */
  def normalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val schemeHost = lower(regexp_extract(noFrag, "^[^/]*//[^/?]*", 0))
    val rest = noFrag.substr(length(schemeHost) + 1, lit(1 << 24))
    val u0 = concat(replace(schemeHost, lit("://www."), lit("://")), rest)
    // The leading run must collapse in ONE match: with a single-param
    // pattern the replace consumes "?utm_a=x&" and resumes PAST it, so a
    // second adjacent utm param is no longer preceded by '?' or '&' and
    // survives every rule. "?utm_a=x&utm_b=y&id=1" → "?id=1".
    val u1 = regexp_replace(u0, "\\?(?:utm_[^&]*&)+", "?")
    val u2 = regexp_replace(u1, "&utm_[^&]*", "")
    val u3 = regexp_replace(u2, "\\?utm_[^&]*$", "")
    regexp_replace(u3, "/$", "")
  }

  /** URL-level dedup — group documents by canonical URL (the cheapest,
    * highest-yield dedup pass in a crawl pipeline: it removes re-crawls
    * and tracking-parameter aliases before any content hashing runs).
    * One shuffle on the normalized URL; members as a sorted csv so the
    * output is order-stable. */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame = {
    for (c <- Seq("norm_url", "n_docs", "keeper", "members"))
      require(!Seq(idCol, urlCol).contains(c),
        s"urlDedup writes a `$c` column; rename the `$c` input column")
    docs.select(col(idCol), normalizeUrl(col(urlCol)).as("norm_url"))
      .groupBy(col("norm_url"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(idCol)).as("keeper"),
        array_join(sort_array(collect_list(col(idCol))), ",")
          .as("members"))
  }

  /** Intra-document repeated-line removal — the within-doc twin of
    * [[removeBoilerplateLines]] (C4 drops every duplicate line *inside*
    * a page too: nav menus, repeated headers). Keeps the FIRST
    * occurrence of each line, preserves order, rebuilds the document.
    * The explode/groupBy pair shuffles on (id, line) then id — both
    * linear in corpus size; no cross-document state at all. */
  def dedupLinesInDoc(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("pos", "line")))
    val first = lines.groupBy(col(idCol), col("line"))
      .agg(min(col("pos")).as("pos"))
    val rebuilt = first.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as(textCol))
    docs.select(col(idCol),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol))
  }

  /** Corpus encoding — map every token to its [[buildVocab]] id
    * (out-of-vocabulary → −1), preserving token order: the final
    * "text → ids" step before packing. The vocab is broadcast (it is
    * vocab-sized, not corpus-sized); the explode/rebuild shuffles are
    * linear in token count. Output: (idCol, n_tokens, n_oov,
    * ids — csv in token order). */
  def encodeWithVocab(docs: DataFrame, vocab: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
    toks.join(broadcast(vocab.select(col("token"), col("id"))),
        Seq("token"), "left")
      .withColumn("id", coalesce(col("id"), lit(-1L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === -1L, 1L).otherwise(0L)).as("n_oov"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("id")))),
          s => s.getField("id").cast("string")), ",").as("ids"))
  }

  /** Markup tag pattern — same regex-subset discipline as the PII
    * patterns (no lookaround, no backreferences) so java.util.regex and
    * RE2 agree byte-for-byte. `<[^<>]*>` deliberately excludes '<'
    * INSIDE the tag (the classic `<[^>]*>` does not): on text with an
    * unclosed angle bracket — "a < b but <em>x</em>" — the classic
    * pattern swallows everything from the stray '<' to the first '>',
    * eating real prose; excluding '<' makes the match restart at the
    * genuine tag. Script/style CONTENT is out of scope here (a real
    * extractor drops those blocks upstream). */
  val MarkupTagRe = "<[^<>]*>"

  /** The fixed entity set decoded after tag removal, in application
    * order. `&amp;` is decoded LAST so `&amp;lt;` becomes the literal
    * text `&lt;` and not a `<` (the standard double-escaping rule). */
  val MarkupEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Markup stripping — the HTML→text extraction step of a web-scale
    * pipeline (the C4/CCNet shape: drop tags, decode the common
    * entities, collapse the whitespace runs the removed tags leave
    * behind). NEWLINES SURVIVE: only horizontal whitespace collapses
    * and spaces hugging a newline drop, so the line-based cleaners
    * downstream ([[c4Clean]], [[removeBoilerplateLines]],
    * [[dedupLinesInDoc]]) still see the document's line structure.
    * Adds `n_tags` (tags removed — a useful "was this page
    * markup-heavy" quality signal) and rewrites `textCol` in place.
    * Pure per-row projection over codegen'd built-ins: zero shuffles,
    * fuses into the preceding scan at any scale. */
  def stripMarkup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    require(!docs.columns.contains("n_tags"),
      "stripMarkup writes an `n_tags` column; the input already has one")
    val t = col(textCol)
    val untagged = regexp_replace(t, MarkupTagRe, " ")
    val decoded = MarkupEntities.foldLeft(untagged) {
      case (c, (ent, rep)) => replace(c, lit(ent), lit(rep))
    }
    docs
      .withColumn("n_tags", regexp_count(t, lit(MarkupTagRe)).cast("long"))
      .withColumn(textCol,
        trim(regexp_replace(
          regexp_replace(decoded, "[ \\t]+", " "), " ?\\n ?", "\n")))
  }

  /** Per-group lexical profile — tokens / types / hapax legomena and
    * their ratios per `byCol` (source, language, shard …), the corpus-
    * composition diagnostic a mixing plan is tuned against. Two linear
    * shuffles: (group, token) counts, then one group rollup, plus a
    * group-keyed doc-count join (≤ #groups rows). Exact integers; two
    * final divisions. */
  def lexicalProfile(docs: DataFrame, textCol: String = "text",
      byCol: String = "source"): DataFrame = {
    val tf = docs
      .select(col(byCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(byCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val nd = docs.groupBy(col(byCol)).agg(count(lit(1)).as("n_docs"))
    tf.groupBy(col(byCol))
      .agg(count(lit(1)).as("n_types"), sum(col("tf")).as("n_tokens"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .join(nd, Seq(byCol))
      .select(col(byCol), col("n_docs"), col("n_types"), col("n_tokens"),
        col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_ratio"))
  }

  /** Per-shard n-gram novelty (the diversity-saturation diagnostic —
    * the Heaps-law signal with NO ordered scan): an n-gram is NOVEL in
    * the lowest-numbered shard containing it; each shard reports the
    * novel fraction of its distinct n-grams. Three linear shuffles:
    * (shard, ngram) distinct, an ngram-PARTITIONED min window (never a
    * global window), one shard rollup. */
  def ngramNovelty(docs: DataFrame, nShards: Int,
      textCol: String = "text", shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs
      .select((col("doc_id") % nShards).as("shard"),
        explode(shingles(col(textCol), shingleN)).as("ng"))
      .distinct()
    val w = Window.partitionBy(col("ng"))
    sh.withColumn("first_shard", min(col("shard")).over(w))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_shard") === col("shard"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_ngrams").cast("double"))
  }

  /** Token-frequency spectrum (the Zipf diagnostic without any global
    * rank): token counts bucketed by the floor-log₂ OCTAVE of tf —
    * under Zipf, types-per-octave decays geometrically and mass-per-
    * octave stays flat. The octave comes from a static integer
    * comparison chain (no floating log, so any engine replays it
    * bit-for-bit). Two linear shuffles (token counts, octave rollup);
    * the total-mass denominator is a broadcast 1-row aggregate. */
  def tokenSpectrum(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val octave = (62 to 0 by -1).foldLeft(lit(null).cast("long")) {
      (acc, k) => if (k == 62) when(col("tf") >= lit(1L << k), k.toLong)
        else acc.when(col("tf") >= lit(1L << k), k.toLong)
    }
    val total = tf.agg(sum(col("tf")).as("__total"))
    tf.withColumn("octave", octave)
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_types"), sum(col("tf")).as("sum_tf"),
        min(col("tf")).as("tf_min"), max(col("tf")).as("tf_max"))
      .crossJoin(broadcast(total))
      .withColumn("share",
        col("sum_tf").cast("double") / col("__total").cast("double"))
      .drop("__total")
  }

  /** Deterministic HyperLogLog (Flajolet et al. 2007) as a REUSABLE
    * typed [[org.apache.spark.sql.expressions.Aggregator]]: the state
    * is the raw register array, so sketches GROUP-MERGE (elementwise
    * max — the property q291 proves for the inline SQL twin) and a
    * fleet summarizes 100 TB by shipping `m` bytes per shard instead
    * of re-scanning. Registered through `functions.udaf` it drops into
    * any `groupBy(...).agg(...)` next to the mixture/report
    * aggregates.
    *
    * Determinism contract (the house idiom, identical to q287's inline
    * SQL so an oracle can replay the registers): hash = first 15 hex
    * chars of md5(UTF-8 value) as a 60-bit integer; bucket = hash mod
    * m; rho = (61 − log2 m) − bitlength(hash div m), with the
    * all-zero pattern mapping to 61 − log2 m. Estimates derive from
    * the registers via [[TrainingData.hllZ]] (exact-BIGINT harmonic
    * sum — register terms are powers of two) and
    * [[TrainingData.hllRawEstimate]]; the small-range linear-counting
    * branch uses ln and therefore stays CLIENT-side (ln is not
    * correctly rounded in IEEE 754 — the iHS rule), see
    * [[TrainingData.hllEstimate]]. */
  final class HllAggregator(m: Int)
      extends org.apache.spark.sql.expressions
        .Aggregator[String, Array[Long], Array[Long]] {
    require(m >= 2 && (m & (m - 1)) == 0 && m <= 65536,
      s"m must be a power of two in [2, 65536]; got $m")
    private val log2m = java.lang.Integer.numberOfTrailingZeros(m)
    private val rhoMax = 61 - log2m

    override def zero: Array[Long] = new Array[Long](m)

    override def reduce(buf: Array[Long], v: String): Array[Long] = {
      if (v != null) {
        val i64 = TrainingData.hll60(v)
        val b = (i64 % m).toInt
        val w = i64 / m
        val rho =
          if (w == 0L) rhoMax.toLong
          else rhoMax - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rho > buf(b)) buf(b) = rho
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }

    override def finish(r: Array[Long]): Array[Long] = r

    override def bufferEncoder
        : org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Long]]()
    override def outputEncoder
        : org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Long]]()
  }

  /** 60-bit deterministic hash: first 15 hex chars of md5(UTF-8). */
  def hll60(v: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8"))
    // first 15 hex chars = 7.5 bytes, big-endian like substr(md5,1,15)
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    (acc << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Exact-BIGINT scaled harmonic sum Σ 2^(rhoMax − M_j) of a register
    * array (the q287 idiom; true Z = this / 2^rhoMax). */
  def hllZ(regs: Array[Long], m: Int): Long = {
    val rhoMax = 61 - java.lang.Integer.numberOfTrailingZeros(m)
    regs.map(r => 1L << (rhoMax - r)).sum
  }

  /** Raw HLL estimate α_m·m²/Z as fixed-arity double arithmetic. */
  def hllRawEstimate(zScaled: Long, m: Int): Double = {
    val rhoMax = 61 - java.lang.Integer.numberOfTrailingZeros(m)
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    alpha * m.toDouble * m.toDouble *
      java.lang.Math.scalb(1.0, rhoMax) / zScaled.toDouble
  }

  /** Bias-corrected estimate: linear counting m·ln(m/V) in the
    * small range (raw ≤ 2.5m with V > 0 empty registers), else raw.
    * ln keeps this CLIENT-side only — never inside an oracle-hashed
    * column. */
  def hllEstimate(regs: Array[Long], m: Int): Double = {
    val z = hllZ(regs, m)
    val raw = hllRawEstimate(z, m)
    val v = regs.count(_ == 0L)
    if (raw <= 2.5 * m && v > 0) m * math.log(m.toDouble / v) else raw
  }
}
