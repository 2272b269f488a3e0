package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{SharedStages, Tables}
import graft.functions.textfns._

/** Text-analysis + deduplication queries over the `documents` table — the
  * training-data-pipeline surface (builder brief): token counting, quality
  * ratios, language-ID scoring, exact dedup via content fingerprints,
  * MinHash+LSH near-dup candidate generation with exact-Jaccard
  * verification, and SimHash sketches. Each has a DuckDB oracle that replays
  * the identical md5-based arithmetic.
  *
  * Scale notes (100 TB): every per-document computation here is a narrow
  * projection (no shuffle). The LSH pipeline shuffles once on the band
  * bucket key — the standard near-dup join — and verifies only the small
  * candidate set; no O(n²) pair enumeration anywhere.
  */
object TextDedup extends QueryModule {

  /** DuckDB tokenisation identical to [[tokens]]. */
  private val tokCte =
    """SELECT doc_id, lang, source, n_chars, text,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
       FROM documents"""

  // --- token counting + length stats (brief: "token counting (whitespace
  // + a BPE-ish regex)"). The BPE-ish pattern segments letter runs, digit
  // runs, and punctuation runs with their leading space — the GPT-2-style
  // pretokenizer shape, in syntax both regex engines agree on. All outputs
  // are exact ints or single int/int divisions. -----------------------------
  private val bpeish = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  private val q30 = Q("q30_text_stats",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = tokens(col("text"))
      d.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        tokenCount(col("text")).as("n_tokens"),
        regexp_count(col("text"), lit(bpeish)).as("n_bpe_tokens"),
        size(array_distinct(toks)).as("n_types"),
        avgTokenLen(col("text")).as("avg_tok_len"))
    },
    Some(s"""WITH t AS ($tokCte)
      SELECT doc_id, lang, source, n_chars,
        len(toks) AS n_tokens,
        len(regexp_extract_all(text, '$bpeish')) AS n_bpe_tokens,
        len(list_distinct(toks)) AS n_types,
        CASE WHEN len(toks) > 0 THEN
          CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
            / len(toks) END AS avg_tok_len
      FROM t"""))

  // --- quality scoring + language-ID (brief: "language-ID (n-gram
  // heuristic), quality scoring"). Stopword ratio over a fixed marker list;
  // language = argmax of per-language marker-hit counts, ties broken by the
  // (score, lang) struct ordering — identical lexicographic max in both
  // engines. ----------------------------------------------------------------
  private val stopwords = Seq("the", "a", "of", "and", "is")
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "nicht"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("el", "la", "que", "de"),
    "fr" -> Seq("le", "la", "et", "que"),
    "zh" -> Seq("de", "shi", "bu", "le"))

  private val q31 = Q("q31_quality_lang",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = tokens(col("text"))
      val sw = array(stopwords.map(lit): _*)
      val scored = array(langMarkers.map { case (lang, ms) =>
        struct(
          size(filter(toks, t => t.isin(ms: _*))).as("score"),
          lit(lang).as("lang"))
      }: _*)
      d.select(col("doc_id"),
        markerRatio(toks, sw).as("stopword_ratio"),
        (length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", ""))
          .cast("double") / col("n_chars")).as("punct_ratio"),
        array_max(scored).getField("lang").as("pred_lang"))
    },
    Some {
      val markersSql = langMarkers.map { case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"{'score': len(list_filter(toks, t -> t IN ($lst))), 'lang': '$lang'}"
      }.mkString(",\n          ")
      val swLst = stopwords.map(m => s"'$m'").mkString(", ")
      s"""WITH t AS ($tokCte)
      SELECT doc_id,
        CASE WHEN len(toks) > 0 THEN
          CAST(len(list_filter(toks, t -> t IN ($swLst))) AS DOUBLE)
            / len(toks) END AS stopword_ratio,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
          AS DOUBLE) / n_chars AS punct_ratio,
        list_max([
          $markersSql]).lang AS pred_lang
      FROM t"""
    })

  // --- exact dedup by order-insensitive content fingerprint (brief:
  // "deduplication: exact (hash-groupBy)"). One shuffle on the 128-bit key;
  // keeper = min doc_id, group members as a sorted csv so the hash compare
  // is order-stable. --------------------------------------------------------
  private val q32 = Q("q32_exact_dedup",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"), fingerprint(tokens(col("text"))).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("keeper"),
          array_join(sort_array(collect_list(col("doc_id"))), ",")
            .as("members"))
    },
    Some(s"""WITH t AS ($tokCte)
      SELECT md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp,
        COUNT(*) AS n_docs, MIN(doc_id) AS keeper,
        string_agg(doc_id, ',' ORDER BY doc_id) AS members
      FROM t GROUP BY 1"""))

  // --- text cleaning / normalization (the standard pre-training
  // normalize pass: strip markup, drop URLs, collapse whitespace). The
  // corpus is synthetic word soup with nothing to clean, so the query
  // first synthesizes deterministic dirt — wraps each document in tags
  // and plants a per-doc URL — then removes it; both engines replay the
  // whole chain, and the outputs prove the dirt is really gone. Pure
  // projection: no shuffle at any scale. -----------------------------------
  private val q35 = Q("q35_text_clean",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val dirty = concat(lit("<p class=\"doc\">"), col("text"),
        lit(" See https://example.com/d/"), col("doc_id"),
        lit("?ref=crawl <br/> tail</p>"))
      val noTags = regexp_replace(dirty, "<[^>]*>", " ")
      val noUrls = regexp_replace(noTags, "https?://\\S+", " ")
      val clean =
        trim(regexp_replace(noUrls, "\\s+", " "))
      d.select(col("doc_id"),
        length(dirty).as("n_dirty"),
        length(clean).as("n_clean"),
        regexp_count(dirty, lit("https?://\\S+")).as("n_urls"),
        regexp_count(clean, lit("https?://\\S+|<[^>]*>"))
          .as("n_residual"),
        substring(clean, 1, 40).as("head"))
    },
    Some("""SELECT doc_id,
        length(dirty) AS n_dirty,
        length(clean) AS n_clean,
        len(regexp_extract_all(dirty, 'https?://\S+')) AS n_urls,
        len(regexp_extract_all(clean, 'https?://\S+|<[^>]*>'))
          AS n_residual,
        substr(clean, 1, 40) AS head
      FROM (SELECT doc_id, dirty,
          trim(regexp_replace(
            regexp_replace(
              regexp_replace(dirty, '<[^>]*>', ' ', 'g'),
              'https?://\S+', ' ', 'g'),
            '\s+', ' ', 'g')) AS clean
        FROM (SELECT doc_id,
            '<p class="doc">' || text || ' See https://example.com/d/' ||
            doc_id || '?ref=crawl <br/> tail</p>' AS dirty
          FROM documents))"""))

  private val SHINGLE_N = 3
  private val MINHASH_K = 12
  private val BANDS = 4
  private val ROWS_PER_BAND = 3

  /** DuckDB chain shared by q33: tokens → shingles → signatures → bands. */
  private val lshCte =
    s"""t AS ($tokCte),
      sh AS (SELECT doc_id,
        CASE WHEN len(toks) >= $SHINGLE_N THEN
          list_distinct(list_transform(range(1, len(toks) - ${SHINGLE_N - 2}),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        ELSE [] END AS sh FROM t),
      sig AS (SELECT doc_id, sh,
        list_transform(range(1, ${MINHASH_K + 1}), i ->
          list_min(list_transform(sh, s ->
            md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
        FROM sh WHERE len(sh) > 0),
      bands AS (SELECT doc_id, b,
        md5(array_to_string(
          sig[b*$ROWS_PER_BAND+1 : b*$ROWS_PER_BAND+$ROWS_PER_BAND], '|'))
          AS bkey
        FROM sig, (SELECT unnest(range(0, $BANDS)) AS b))"""

  /** Corpus MinHash signatures and LSH candidate pairs under the
    * module's banding constants — `sigs` is (doc_id, sh, sig), `cand`
    * the deduplicated (doc_a, doc_b) band-bucket co-occurrences. FOUR
    * query lanes (q33 Jaccard verify, q230 edit-distance verify, q263
    * cost curve, q320 calibration) rebuilt this identical chain from
    * raw text — signature kernel ×2 scans, band explode, band-key
    * self-join, pair dedup, per lane (round-12 baseline: 9.7 s across
    * the four at sf0.1/32c).
    *
    * A [[graft.core.SharedStages]] stage: a real dedup pipeline signs
    * and banks its corpus ONCE and runs every audit off the candidate
    * set. Both tables persist MEMORY_AND_DISK — O(corpus) rows each,
    * orders below the band join they replace. */
  private def lshSigsAndCand(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    SharedStages.lsh.get(d.queryExecution.analyzed.canonicalized) {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // sigs persists WITHOUT the shingle arrays: (doc_id, 12 hashes)
      // is corpus-sized-small, where the sh column (every 3-gram
      // string per doc) dominated the build's serialization cost —
      // consumers that need exact shingle sets re-derive them from
      // raw text on CANDIDATE rows only (the q33 discipline).
      // repartition first: the testdata parquet is single-row-group
      // (1-task scan), and the shingle+minhash kernel chain would
      // otherwise fuse into that one task — the whole cold build ran
      // on one core at any SPARK_GRAFT_CPUS
      val sigs = d
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
        .select(col("doc_id"), shingles(col("text"), SHINGLE_N).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          minhashSignature(col("sh"), MINHASH_K).as("sig"))
        .persist(lvl)
      // _outer: bands of a k-signature are never empty; a plain
      // posexplode's inferred size>0 filter would re-run the band
      // chain below the Generate (the q124/q263 lesson)
      val bands = sigs.select(col("doc_id"),
        posexplode_outer(lshBands(col("sig"), BANDS, ROWS_PER_BAND))
          .as(Seq("band", "bkey")))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band")
            && col("a.bkey") === col("b.bkey")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        .persist(lvl)
      (sigs, cand)
    }
  }

  /** (hits, misses) of the shared LSH signature/candidate stage. */
  def lshSharedTelemetry: (Long, Long) = SharedStages.lsh.telemetry

  // --- MinHash + LSH near-dup pairs (brief: "MinHash+LSH
  // (shingle→minhash→band→bucket-join)"). The only shuffle that scales with
  // n is the band-key self-join; exact Jaccard runs only on candidates. -----
  private val q33 = Q("q33_minhash_lsh",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      // shared signature/candidate stage (see lshSigsAndCand) — the
      // fused-kernel signature build, band explode, band-key self-join
      // and pair dedup are priced once per session across q33/q230/
      // q263/q320
      val (_, cand) = lshSigsAndCand(s, dir)
      // Verification re-derives shingles from raw text AFTER the join, so
      // the (interpreted-HOF) shingle construction runs only on the few
      // candidate rows, not 2× over the whole corpus.
      val texts = d.select(col("doc_id"), col("text"))
      cand
        .join(texts.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("text", "text_a"), "doc_a")
        .join(texts.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("text", "text_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          jaccard(shingles(col("text_a"), SHINGLE_N),
            shingles(col("text_b"), SHINGLE_N)).as("jac"))
        .filter(col("jac") >= 0.5)
    },
    Some(s"""WITH $lshCte,
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
        CAST(len(sa.sh) + len(sb.sh)
             - len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
          / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.doc_a
      JOIN sh sb ON sb.doc_id = cand.doc_b
      WHERE CAST(len(sa.sh) + len(sb.sh)
             - len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
          / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5"""))

  // --- exact n-gram Jaccard similarity join (brief lists "n-gram Jaccard"
  // as its own dedup method — EXACT output, unlike q33's MinHash-LSH which
  // only surfaces pairs the bands happen to catch). AllPairs/PPJoin-style
  // candidate generation: order every document's shingle set rarest-first
  // by global document frequency (ties by shingle text), explode only the
  // first |sh| − ⌈t·|sh|⌉ + 1 shingles (the prefix filter: two sets with
  // Jaccard ≥ t MUST share an element inside those prefixes under any
  // common total order), equi-join the inverted index on the shingle with
  // the lossless length filter t·max(|a|,|b|) ≤ min(|a|,|b|), then verify
  // exact Jaccard on candidates only. Candidate generation is lossless, so
  // the output equals brute-force all-pairs — which is exactly what the
  // DuckDB oracle computes (O(n²) is fine at oracle scale; the Spark plan
  // never enumerates pairs outside shared-prefix postings).
  //
  // 100 TB: two linear shuffles build the frequency-ordered index (explode
  // + count, re-collect); the pair-generating join touches only prefix
  // postings, and rarest-first ordering is what keeps common shingles out
  // of the prefixes — the standard skew defense for similarity joins. The
  // POSITION filter (PPJoin): a true pair's FIRST order-shared shingle
  // sits in both prefixes, and from it at most min(|a|−i, |b|−j)+1
  // overlap remains, which must reach ⌈t/(1+t)·(|a|+|b|)⌉ — measured
  // 2.8× fewer candidates on this corpus (its tiny vocabulary is the
  // adversarial case for AllPairs). Verification reuses the collected
  // shingle arrays rather than recomputing from text per candidate.
  // Every pruning bound in the API subtracts 1e-9 before its ceil/compare
  // so double rounding can only loosen a filter regardless of threshold
  // (0.8's double sits ABOVE the rational and would otherwise shorten
  // the prefix); the final jac ≥ t compare uses the identical double in
  // both engines. -----------------------------------------------------------
  private val JAC_T = 0.6

  private val q68 = Q("q68_ngram_jaccard",
    (s, dir) =>
      // the public pipeline API IS the implementation — delegating keeps
      // the driver's DuckDB gate continuously proving the API exact;
      // the exact pair set rides the session-scoped shared stage (q149's
      // recall audit consumes the identical ground truth)
      graft.pipeline.TrainingData.similarityJoinShared(
        Tables(s, dir, "documents"),
        shingleN = SHINGLE_N, threshold = JAC_T),
    Some(s"""WITH t AS ($tokCte),
      sh AS (SELECT doc_id,
        CASE WHEN len(toks) >= $SHINGLE_N THEN
          list_distinct(list_transform(range(1, len(toks) - ${SHINGLE_N - 2}),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        ELSE [] END AS sh FROM t),
      shv AS (SELECT * FROM sh WHERE len(sh) > 0)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(len(a.sh) + len(b.sh)
             - len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
      FROM shv a JOIN shv b ON a.doc_id < b.doc_id
      WHERE CAST(len(a.sh) + len(b.sh)
             - len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= $JAC_T"""))

  // --- SimHash sketch per document (brief: "SimHash"). Pure projection. ----
  private val q34 = Q("q34_simhash",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"), simhash16Text(col("text")).as("sketch"))
    },
    Some(s"""WITH t AS ($tokCte)
      SELECT doc_id,
        CAST(list_sum(list_transform(range(0, 16), j ->
          CASE WHEN 2 * len(list_filter(toks, tk ->
                 substr(md5(tk), CAST(j+1 AS INT), 1)
                   IN ('8','9','a','b','c','d','e','f'))) >= len(toks)
               THEN 1 << j ELSE 0 END)) AS BIGINT) AS sketch
      FROM t"""))

  // --- SimHash near-dup PAIRS (the joining half of the "SimHash" dedup
  // method — q34 computes the sketch; this finds the duplicates). Pairs
  // within hamming distance 1 on the 16-bit sketch must share one of its
  // two bytes unchanged (pigeonhole), so candidates come from an
  // equi-join on (band, byte) and the exact hamming check runs only on
  // them — lossless, so the DuckDB oracle is plain brute force over all
  // pairs. 100 TB: one shuffle on the band key, candidate-only verify —
  // same shape as the MinHash and prefix-filter joins; a production
  // 64-bit sketch with 4 bands (hamming ≤ 3) is this same plan with
  // different constants. ----------------------------------------------------
  private val HAM_T = 1

  private val q70 = Q("q70_simhash_neardup",
    (s, dir) => graft.pipeline.TrainingData.simhashNearDups(
      Tables(s, dir, "documents"), maxHamming = HAM_T),
    Some(s"""WITH t AS ($tokCte),
      sk AS (SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 16), j ->
            CASE WHEN 2 * len(list_filter(toks, tk ->
                   substr(md5(tk), CAST(j+1 AS INT), 1)
                     IN ('8','9','a','b','c','d','e','f'))) >= len(toks)
                 THEN 1 << j ELSE 0 END)) AS BIGINT) AS sketch
        FROM t)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.sketch, b.sketch)) AS INTEGER) AS ham
      FROM sk a JOIN sk b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sketch, b.sketch)) <= $HAM_T"""))

  // --- winnowed rolling-hash document fingerprints (brief: "document
  // fingerprinting (rolling hash)"): Rabin–Karp hashes of every K-char
  // gram (base B=131, mod M=1e9+7), minimum per W-wide window, distinct +
  // sorted (winnowing, Schleimer et al. SIGMOD'03). Edit-robust — docs
  // sharing any K..K+W−1-char substring share a fingerprint — where q32's
  // md5 key is whole-document and order-insensitive. Codegen kernel does
  // the O(n) rolling+deque pass; the oracle replays the Σ c·(B^j mod M)
  // mod M form, every power pre-reduced so BIGINT never overflows. Pure
  // projection: no shuffle at any scale. -----------------------------------
  private val WIN_K = 8
  private val WIN_W = 4

  private val q69 = Q("q69_winnow_fp",
    (s, dir) => graft.pipeline.TrainingData.winnowFingerprints(
        Tables(s, dir, "documents"), k = WIN_K, w = WIN_W)
      .select(col("doc_id"), size(col("fps")).as("n_fps"),
        array_join(col("fps"), ",").as("fps")),
    Some {
      import graft.functions.expressions.WinnowFpExpr.M
      val pows = graft.functions.expressions.WinnowFpExpr.pows(WIN_K)
      val terms = pows.zipWithIndex
        .map { case (p, j) => s"cps[i+$j] * $p % $M" }
        .mkString(" + ")
      s"""WITH cp AS (SELECT doc_id,
          list_transform(range(1, length(text) + 1),
            i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))
            AS cps
        FROM documents),
      h AS (SELECT doc_id,
          list_transform(range(1, len(cps) - ${WIN_K - 1} + 1),
            i -> ($terms) % $M) AS hashes
        FROM cp WHERE len(cps) >= ${WIN_K + WIN_W - 1}),
      f AS (SELECT doc_id,
          list_sort(list_distinct(
            list_transform(range(1, len(hashes) - ${WIN_W - 1} + 1),
              s -> list_min(hashes[s : s + ${WIN_W - 1}])))) AS fps
        FROM h)
      SELECT doc_id, len(fps) AS n_fps,
        array_to_string(fps, ',') AS fps
      FROM f
      UNION ALL
      SELECT doc_id, 0 AS n_fps, '' AS fps FROM cp
      WHERE len(cps) < ${WIN_K + WIN_W - 1}"""
    })

  // --- document chunking (the standard pre-tokenization pass: split each
  // document into fixed-size token windows with overlap, last window
  // aligned to the end so no token is dropped and no chunk is shorter
  // than it must be). start_i = clamp(i·STRIDE, 0, n−CHUNK); a doc with
  // ≤ CHUNK tokens is one chunk, an empty doc none. Pure projection +
  // explode — no shuffle at any scale, output rows ≈ corpus/STRIDE. -------
  private val CHUNK = 32
  private val STRIDE = 24

  private val q71 = Q("q71_chunk_docs",
    (s, dir) => graft.pipeline.TrainingData.chunkDocs(
      Tables(s, dir, "documents"), chunk = CHUNK, stride = STRIDE),
    Some(s"""WITH t AS ($tokCte),
      c AS (SELECT doc_id, toks, len(toks) AS n,
          CASE WHEN len(toks) <= $CHUNK THEN 1
               ELSE 1 + CAST(ceil((len(toks) - $CHUNK) / $STRIDE.0) AS INT)
          END AS n_chunks
        FROM t WHERE len(toks) > 0),
      e AS (SELECT doc_id, toks, n,
          CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx FROM c),
      st AS (SELECT doc_id, toks, n, chunk_idx,
          GREATEST(LEAST(chunk_idx * $STRIDE, n - $CHUNK), 0) AS s FROM e)
      SELECT doc_id, chunk_idx, CAST(s AS INT) AS start,
        array_to_string(toks[CAST(s + 1 AS INT) : CAST(s + $CHUNK AS INT)],
          ' ') AS chunk,
        CAST(LEAST($CHUNK, n - s) AS INT) AS n_tok
      FROM st"""))

  // --- near-duplicate CLUSTERS: connected components over the verified
  // LSH pair graph (q33's edges), every document labeled with the
  // smallest doc_id reachable from it, plus the cluster size. Pairwise
  // keep-first (q62) can transitively drop docs whose mutual similarity
  // was never verified; keep-one-per-CLUSTER is the production dedup
  // semantics, and components are what dedup reporting/auditing works
  // with. Spark side: min-label propagation run to the fixpoint (one
  // edge join + min aggregate per round, rounds = component diameter —
  // near-clique dup clusters converge in 2-3). The fixpoint is engine-
  // independent, so the DuckDB oracle replays it with a recursive CTE
  // rather than mimicking the iteration count. ------------------------------
  /** Shared DuckDB chain for q72/q73: verified LSH pairs → undirected
    * edges → recursive min-label components → (doc_id, cluster). */
  private val componentsCte =
    s"""$lshCte,
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b
        WHERE CAST(len(sa.sh) + len(sb.sh)
               - len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
      comp(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, c.lbl FROM edges e JOIN comp c ON c.id = e.dst),
      lab AS (SELECT id AS doc_id, min(lbl) AS cluster
        FROM comp GROUP BY 1)"""

  private val q72 = Q("q72_dedup_clusters",
    (s, dir) => graft.pipeline.TrainingData.dedupClusters(
      Tables(s, dir, "documents"),
      shingleN = SHINGLE_N, minhashK = MINHASH_K,
      bands = BANDS, rowsPerBand = ROWS_PER_BAND, threshold = 0.5),
    Some(s"""WITH RECURSIVE $componentsCte
      SELECT doc_id, cluster,
        count(*) OVER (PARTITION BY cluster) AS cluster_size
      FROM lab"""))

  // --- dedup IMPACT report (the "what did dedup buy us" table every
  // corpus release ships): the q72 components bucketed by cluster size,
  // with document and token mass split into keepers vs dropped (keeper =
  // the component's min-id label). One token-count join over the proven
  // cluster table + a ≤max-cluster-size aggregate. -----------------------
  private val q160 = Q("q160_dedup_impact",
    (s, dir) => {
      val cl = graft.pipeline.TrainingData.dedupClusters(
        Tables(s, dir, "documents"),
        shingleN = SHINGLE_N, minhashK = MINHASH_K,
        bands = BANDS, rowsPerBand = ROWS_PER_BAND, threshold = 0.5)
      val tc = Tables(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("nt"))
      cl.join(tc, Seq("doc_id"))
        .withColumn("__keep", col("doc_id") === col("cluster"))
        .groupBy(col("cluster_size"))
        .agg(count_distinct(col("cluster")).as("n_clusters"),
          count(lit(1)).as("n_docs"),
          sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_dropped"),
          sum(col("nt").cast("long")).as("tok_mass"),
          sum(when(!col("__keep"), col("nt").cast("long")).otherwise(0L))
            .as("dropped_tok_mass"))
    },
    Some(s"""WITH RECURSIVE $componentsCte,
      cs AS (SELECT doc_id, cluster,
          count(*) OVER (PARTITION BY cluster) AS cluster_size
        FROM lab)
      SELECT cluster_size,
        CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
        COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN cs.doc_id <> cluster THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dropped,
        CAST(SUM(len(t.toks)) AS BIGINT) AS tok_mass,
        CAST(SUM(CASE WHEN cs.doc_id <> cluster THEN len(t.toks)
          ELSE 0 END) AS BIGINT) AS dropped_tok_mass
      FROM cs JOIN t ON cs.doc_id = t.doc_id
      GROUP BY 1"""))

  // --- keep-one-per-CLUSTER corpus clean: the q72 components reduced to
  // their keepers (a component's label IS its smallest id, so keepers
  // are the rows whose doc_id equals their cluster), with the surviving
  // documents' columns. Strictly more aggressive than q62's pairwise
  // keep-first — exactly one survivor per component, so no two
  // transitive near-dups can coexist in the output. ----------------------
  private val q73 = Q("q73_cluster_dedup",
    (s, dir) => graft.pipeline.TrainingData.dedupCorpusByCluster(
        Tables(s, dir, "documents"),
        shingleN = SHINGLE_N, minhashK = MINHASH_K,
        bands = BANDS, rowsPerBand = ROWS_PER_BAND, threshold = 0.5)
      .select(col("doc_id"), col("lang"), col("source"),
        tokenCount(col("text")).as("n_tokens")),
    Some(s"""WITH RECURSIVE $componentsCte
      SELECT t.doc_id, t.lang, t.source, len(t.toks) AS n_tokens
      FROM t JOIN lab ON lab.doc_id = t.doc_id
      WHERE lab.doc_id = lab.cluster"""))

  // --- the end-to-end training-data dedup PIPELINE: exact-dup removal
  // (keep min doc_id per content fingerprint), then MinHash+LSH near-dup
  // removal over the survivors (verified Jaccard ≥ 0.5; the larger
  // doc_id of each verified pair drops — the standard single-pass
  // keep-first policy), emitting the cleaned corpus. Composes q32's and
  // q33's oracle-checked stages into ONE declarative plan: two
  // fingerprint/band shuffles + one candidate-only verify join — the
  // whole clean step a 100 TB corpus would run before training. ----------
  private val q62 = Q("q62_dedup_pipeline",
    (s, dir) => {
      // the public pipeline API (graft.pipeline.TrainingData) IS the
      // implementation — this query delegates so the driver's DuckDB
      // gate continuously proves the API functions exact
      val d = Tables(s, dir, "documents")
      graft.pipeline.TrainingData.dedupCorpus(d,
          shingleN = SHINGLE_N, minhashK = MINHASH_K,
          bands = BANDS, rowsPerBand = ROWS_PER_BAND, threshold = 0.5)
        .select(col("doc_id"), col("lang"), col("source"),
          tokenCount(col("text")).as("n_tokens"))
    },
    Some(s"""WITH t AS ($tokCte),
      fp AS (SELECT doc_id, lang, source, text, toks,
          md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        FROM t),
      ek AS (SELECT doc_id, lang, source, text, toks FROM fp
        QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)),
      sh AS (SELECT doc_id,
        CASE WHEN len(toks) >= $SHINGLE_N THEN
          list_distinct(list_transform(range(1, len(toks) - ${SHINGLE_N - 2}),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        ELSE [] END AS sh FROM ek),
      shv AS (SELECT * FROM sh WHERE len(sh) > 0),
      sig AS (SELECT doc_id, sh,
        list_transform(range(1, ${MINHASH_K + 1}), i ->
          list_min(list_transform(sh, s ->
            md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
        FROM shv),
      bands AS (SELECT doc_id, b,
        md5(array_to_string(
          sig[b*$ROWS_PER_BAND+1 : b*$ROWS_PER_BAND+$ROWS_PER_BAND], '|'))
          AS bkey
        FROM sig, (SELECT unnest(range(0, $BANDS)) AS b)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      dropped AS (SELECT DISTINCT doc_b AS doc_id FROM cand
        JOIN shv sa ON sa.doc_id = cand.doc_a
        JOIN shv sb ON sb.doc_id = cand.doc_b
        WHERE CAST(len(sa.sh) + len(sb.sh)
               - len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5)
      SELECT doc_id, lang, source, len(toks) AS n_tokens FROM ek
      WHERE doc_id NOT IN (SELECT doc_id FROM dropped)"""))

  // --- Gopher-style repetition signals (Rae et al. 2021 §A.1.1): the
  // quality-filter stage that drops degenerate repetitious documents
  // before training. Delegates to the public pipeline API; the oracle
  // replays the gaps-and-islands run detection and both gram aggregates
  // exactly (integer counts, one IEEE division per fraction). ------------
  // Shared by q74 and q92: the full repetition-stats replay.
  private val repOracle = s"""WITH t AS ($tokCte),
      b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_words,
          CAST(COALESCE(list_sum(list_transform(toks,
            w -> length(w))), 0) AS BIGINT) AS chars
        FROM t),
      e AS (SELECT doc_id, toks,
          unnest(range(1, len(toks) + 1)) AS pos FROM t),
      w AS (SELECT doc_id, pos, toks[pos] AS word FROM e),
      isl AS (SELECT doc_id, word,
          pos - ROW_NUMBER() OVER (PARTITION BY doc_id, word
            ORDER BY pos) AS g
        FROM w),
      runs AS (SELECT doc_id, MAX(cnt) AS max_run FROM
          (SELECT doc_id, COUNT(*) AS cnt FROM isl
           GROUP BY doc_id, word, g)
        GROUP BY doc_id),
      g2 AS (SELECT doc_id, pos,
          array_to_string(list_slice(toks, pos, pos + 1), ' ') AS gr
        FROM e WHERE pos + 1 <= len(toks)),
      topg AS (SELECT doc_id, gr FROM
          (SELECT doc_id, gr, COUNT(*) AS cnt FROM g2
           GROUP BY doc_id, gr
           QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY cnt DESC, gr) = 1)),
      cov2 AS (SELECT DISTINCT g2.doc_id, g2.pos + o AS cp
        FROM g2 JOIN topg USING (doc_id, gr),
          (SELECT unnest(range(0, 2)) AS o)),
      top2 AS (SELECT cov2.doc_id,
          CAST(SUM(length(word)) AS BIGINT) AS t2
        FROM cov2 JOIN w ON w.doc_id = cov2.doc_id AND w.pos = cov2.cp
        GROUP BY cov2.doc_id),
      g5 AS (SELECT doc_id, pos,
          array_to_string(list_slice(toks, pos, pos + 4), ' ') AS gr
        FROM e WHERE pos + 4 <= len(toks)),
      dupg AS (SELECT doc_id, gr FROM g5
        GROUP BY doc_id, gr HAVING COUNT(*) >= 2),
      cov5 AS (SELECT DISTINCT g5.doc_id, g5.pos + o AS cp
        FROM g5 JOIN dupg USING (doc_id, gr),
          (SELECT unnest(range(0, 5)) AS o)),
      dup5 AS (SELECT cov5.doc_id,
          CAST(SUM(length(word)) AS BIGINT) AS d5
        FROM cov5 JOIN w ON w.doc_id = cov5.doc_id AND w.pos = cov5.cp
        GROUP BY cov5.doc_id)
      SELECT b.doc_id, n_words,
        CAST(COALESCE(max_run, 0) AS BIGINT) AS max_run,
        CASE WHEN chars > 0
          THEN CAST(COALESCE(t2, 0) AS DOUBLE) / chars
          ELSE 0.0 END AS top2_frac,
        CASE WHEN chars > 0
          THEN CAST(COALESCE(d5, 0) AS DOUBLE) / chars
          ELSE 0.0 END AS dup5_frac
      FROM b LEFT JOIN runs USING (doc_id)
        LEFT JOIN top2 USING (doc_id) LEFT JOIN dup5 USING (doc_id)"""

  private val q74 = Q("q74_repetition_stats",
    (s, dir) => graft.pipeline.TrainingData
      .repetitionStats(Tables(s, dir, "documents")),
    Some(repOracle))

  // --- composite quality gate (Gopher/RefinedWeb rule set) with an
  // audit-trail reasons column; DuckDB replays the repetition stats
  // (shared CTE with q74) and every threshold rule. ------------------
  private val q92 = Q("q92_quality_gate",
    (s, dir) => graft.pipeline.TrainingData.qualityGate(
        Tables(s, dir, "documents"))
      .select(col("doc_id"), col("n_words"), col("max_run"),
        col("top2_frac"), col("dup5_frac"),
        array_join(col("reasons"), ",").as("reasons"),
        col("keep").cast("long").as("keep")),
    Some(s"""WITH rep AS ($repOracle),
      d AS (SELECT doc_id, text,
          CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) = 0
            THEN NULL
            ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                AS DOUBLE)
              / len(list_filter(string_split_regex(text, '\\s+'),
                  t -> t <> ''))
          END AS avg_len
        FROM documents),
      j AS (SELECT rep.*, d.avg_len, d.text FROM rep
        JOIN d USING (doc_id)),
      r AS (SELECT doc_id, n_words, max_run, top2_frac, dup5_frac,
          list_sort(list_filter([
            CASE WHEN n_words < 20 THEN 'too_short' END,
            CASE WHEN n_words > 100000 THEN 'too_long' END,
            CASE WHEN avg_len < 3.0 THEN 'short_words' END,
            CASE WHEN avg_len > 10.0 THEN 'long_words' END,
            CASE WHEN max_run >= 3 THEN 'word_runs' END,
            CASE WHEN top2_frac > 0.15 THEN 'top_bigram' END,
            CASE WHEN dup5_frac > 0.15 THEN 'dup_grams' END,
            CASE WHEN contains(lower(text), 'lorem ipsum')
              THEN 'lorem_ipsum' END,
            CASE WHEN contains(text, '{') THEN 'brace' END
          ], x -> x IS NOT NULL)) AS rs
        FROM j)
      SELECT doc_id, n_words, max_run, top2_frac, dup5_frac,
        COALESCE(array_to_string(rs, ','), '') AS reasons,
        CAST(len(rs) = 0 AS BIGINT) AS keep
      FROM r"""))

  // --- PII redaction (brief: training-data pipeline ops). The synthetic
  // corpus contains no PII, so the query splices deterministic
  // doc_id-derived emails / IPv4s / phone numbers into each document —
  // BOTH engines build the identical dirty text, then redact it via
  // graft.pipeline.TrainingData.redactPii, so the oracle checks regex
  // semantics (match sets, non-overlap scan order, counts) across
  // java.util.regex and RE2, not just on trivially-clean input. --------
  private val q79 = Q("q79_pii_redact",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val id = col("doc_id")
      val dirty = d.select(col("doc_id"), col("source"), concat(
        col("text"),
        lit(" contact u"), id.cast("string"),
        lit("@ex"), (id % 7).cast("string"), lit(".org"),
        when(id % 3 === 0,
          concat(lit(" cc b"), id.cast("string"), lit("@corp.net")))
          .otherwise(lit("")),
        when(id % 2 === 0,
          concat(lit(" from 10."), (id % 250).cast("string"),
            lit("."), ((id * 7) % 250).cast("string"),
            lit("."), (id % 100).cast("string")))
          .otherwise(lit("")),
        lit(" tel 555-"), lpad((id % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((id * 13) % 10000).cast("string"), 4, "0"))
        .as("text"))
      graft.pipeline.TrainingData.redactPii(dirty)
    },
    Some(s"""WITH p AS (SELECT doc_id, source, text
        || ' contact u' || CAST(doc_id AS VARCHAR)
        || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org'
        || CASE WHEN doc_id % 3 = 0
             THEN ' cc b' || CAST(doc_id AS VARCHAR) || '@corp.net'
             ELSE '' END
        || CASE WHEN doc_id % 2 = 0
             THEN ' from 10.' || CAST(doc_id % 250 AS VARCHAR)
               || '.' || CAST((doc_id * 7) % 250 AS VARCHAR)
               || '.' || CAST(doc_id % 100 AS VARCHAR)
             ELSE '' END
        || ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        || '-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
          AS text
      FROM documents)
      SELECT doc_id, source,
        CAST(len(regexp_extract_all(text,
          '${graft.pipeline.TrainingData.PiiEmailRe}')) AS BIGINT)
          AS n_emails,
        CAST(len(regexp_extract_all(text,
          '${graft.pipeline.TrainingData.PiiIpv4Re}')) AS BIGINT)
          AS n_ips,
        CAST(len(regexp_extract_all(text,
          '${graft.pipeline.TrainingData.PiiPhoneRe}')) AS BIGINT)
          AS n_phones,
        regexp_replace(regexp_replace(regexp_replace(text,
          '${graft.pipeline.TrainingData.PiiEmailRe}', '<EMAIL>', 'g'),
          '${graft.pipeline.TrainingData.PiiIpv4Re}', '<IP>', 'g'),
          '${graft.pipeline.TrainingData.PiiPhoneRe}', '<PHONE>', 'g')
          AS text
      FROM p"""))

  // --- cross-document duplicated-span removal (Lee et al. 2022 exact
  // substring dedup, Spark-first: span-key shuffle instead of a suffix
  // array). Any 5-token span shared by >= 2 distinct docs is excised
  // everywhere it occurs; overlaps merge via positional union. ----------
  private val SPAN_L = 5
  private val q81 = Q("q81_dup_span_removal",
    (s, dir) => graft.pipeline.TrainingData
      .removeDuplicatedSpans(Tables(s, dir, "documents"), l = SPAN_L),
    Some(s"""WITH t AS ($tokCte),
      b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
        FROM t),
      e AS (SELECT doc_id, toks,
          unnest(range(1, len(toks) + 1)) AS pos FROM t),
      g AS (SELECT doc_id, pos,
          array_to_string(list_slice(toks, pos, pos + ${SPAN_L - 1}), ' ')
            AS gr
        FROM e WHERE pos + ${SPAN_L - 1} <= len(toks)),
      dup AS (SELECT gr FROM g
        GROUP BY gr HAVING COUNT(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT g.doc_id, g.pos + o AS cp
        FROM g JOIN dup USING (gr),
          (SELECT unnest(range(0, $SPAN_L)) AS o)),
      w AS (SELECT doc_id, pos AS cp, toks[pos] AS word FROM e),
      keptw AS (SELECT w.doc_id, w.cp, w.word FROM w
        LEFT JOIN cov ON cov.doc_id = w.doc_id AND cov.cp = w.cp
        WHERE cov.doc_id IS NULL),
      reb AS (SELECT doc_id,
          string_agg(word, ' ' ORDER BY cp) AS text_clean
        FROM keptw GROUP BY doc_id),
      rem AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS removed_tokens
        FROM cov GROUP BY doc_id)
      SELECT b.doc_id, n_tokens,
        COALESCE(removed_tokens, 0) AS removed_tokens,
        COALESCE(text_clean, '') AS text_clean
      FROM b LEFT JOIN rem USING (doc_id) LEFT JOIN reb USING (doc_id)"""))

  // --- per-source corpus report with EXACT rank-based percentiles (the
  // mixture-design numbers). Rank positions, not percentile functions:
  // interpolation differs per engine, order statistics do not. ---------
  private val q82 = Q("q82_corpus_stats",
    (s, dir) => graft.pipeline.TrainingData
      .corpusStats(Tables(s, dir, "documents")),
    Some(s"""WITH t AS ($tokCte),
      b AS (SELECT source, doc_id, n_chars,
          CAST(len(toks) AS BIGINT) AS tkn FROM t),
      r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
          COUNT(*) OVER (PARTITION BY source) AS cnt FROM b),
      a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(tkn) AS BIGINT) AS total_tokens FROM b GROUP BY source),
      p50 AS (SELECT source, CAST(n_chars AS BIGINT) AS p50 FROM r
        WHERE rn = CAST(floor(CAST(cnt - 1 AS DOUBLE) * 50 / 100)
          AS BIGINT) + 1),
      p90 AS (SELECT source, CAST(n_chars AS BIGINT) AS p90 FROM r
        WHERE rn = CAST(floor(CAST(cnt - 1 AS DOUBLE) * 90 / 100)
          AS BIGINT) + 1)
      SELECT a.source, n_docs, total_tokens,
        CAST(total_tokens AS DOUBLE) / n_docs AS mean_tokens, p50, p90
      FROM a JOIN p50 USING (source) JOIN p90 USING (source)"""))

  // --- C4-style line + document cleaning (Raffel et al. 2019 §2.2):
  // crafted boilerplate lines splice onto every document so each filter
  // (terminal punctuation, min words, javascript, lorem ipsum, braces)
  // provably fires; the codegen line-scan kernel runs per row with no
  // shuffle, and DuckDB replays the keep rule with RE2 lambdas. -------
  private val q86 = Q("q86_c4_line_clean",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val dirty = concat(
        concat_ws("\n",
          col("text"),
          lit("This synthetic line survives the filters."),
          lit("Please enable JavaScript to continue."),
          lit("too short."),
          lit("no terminal punctuation here")),
        when(col("doc_id") % 11 === 0, lit("\n{ code block }"))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit("\nLorem ipsum dolor sit amet."))
          .otherwise(lit("")))
      graft.pipeline.TrainingData.c4Clean(
          d.select(col("doc_id"), dirty.as("text")))
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          col("doc_dropped").cast("long").as("doc_dropped"),
          substring(col("clean_text"), 1, 40).as("head"))
    },
    Some("""WITH d AS (SELECT doc_id,
        concat_ws(chr(10), text,
          'This synthetic line survives the filters.',
          'Please enable JavaScript to continue.',
          'too short.',
          'no terminal punctuation here')
        || CASE WHEN doc_id % 11 = 0 THEN chr(10) || '{ code block }'
             ELSE '' END
        || CASE WHEN doc_id % 13 = 0
             THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
          AS t
      FROM documents),
      c AS (SELECT doc_id, t,
        list_filter(string_split(t, chr(10)), l ->
          regexp_matches(l, '[.!?"]\s*$')
          AND len(list_filter(string_split_regex(l, '\s+'),
            w -> w <> '')) >= 3
          AND NOT contains(lower(l), 'javascript')) AS kept
      FROM d)
      SELECT doc_id,
        len(string_split(t, chr(10))) AS n_lines,
        len(kept) AS n_kept,
        CAST(contains(lower(t), 'lorem ipsum') OR contains(t, '{')
          OR len(kept) < 1 AS BIGINT) AS doc_dropped,
        substr(array_to_string(kept, chr(10)), 1, 40) AS head
      FROM c"""))

  // --- CCNet-style cross-document boilerplate removal: two spliced
  // banner lines appear in every document (df = corpus size ⇒ dropped);
  // the per-doc unique footer and the original text survive unless the
  // text itself repeats in > maxDf docs (real dups exist in the table —
  // deterministic in both engines). ------------------------------------
  private val q87 = Q("q87_boilerplate_lines",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val dirty = concat_ws("\n",
        col("text"),
        lit("Subscribe to our newsletter today."),
        lit("All rights reserved."),
        concat(lit("Doc "), col("doc_id"), lit(" unique footer line.")))
      graft.pipeline.TrainingData.removeBoilerplateLines(
          d.select(col("doc_id"), dirty.as("text")), maxDf = 2)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          substring(col("clean_text"), 1, 40).as("head"))
    },
    Some("""WITH d AS (SELECT doc_id,
        text || chr(10) || 'Subscribe to our newsletter today.'
          || chr(10) || 'All rights reserved.'
          || chr(10) || 'Doc ' || doc_id || ' unique footer line.' AS t
      FROM documents),
      s AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d),
      l AS (SELECT doc_id, i AS pos, ls[CAST(i + 1 AS INTEGER)] AS line
        FROM s, (SELECT unnest(range(0,
          (SELECT MAX(len(ls)) FROM s))) AS i) WHERE i < len(ls)),
      com AS (SELECT line FROM (SELECT line,
          COUNT(DISTINCT doc_id) AS df FROM l GROUP BY line)
        WHERE df > 2),
      k AS (SELECT doc_id, pos, line FROM l
        WHERE line NOT IN (SELECT line FROM com)),
      r AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
          string_agg(line, chr(10) ORDER BY pos) AS ct
        FROM k GROUP BY doc_id)
      SELECT s.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        COALESCE(n_kept, CAST(0 AS BIGINT)) AS n_kept,
        substr(COALESCE(ct, ''), 1, 40) AS head
      FROM s LEFT JOIN r USING (doc_id)"""))

  // --- corpus-wide top-k bigrams by document frequency (tokenizer /
  // inspection prep): distinct grams per doc from the codegen shingle
  // kernel, map-side partial counts, tie-free (df desc, gram) top-k. --
  private val q88 = Q("q88_top_ngrams",
    (s, dir) => graft.pipeline.TrainingData.topNgramsByDf(
      Tables(s, dir, "documents"), n = 2, k = 20),
    Some(s"""WITH t AS ($tokCte),
      g AS (SELECT doc_id, list_distinct([toks[i+1] || ' ' || toks[i+2]
          for i in range(0, len(toks) - 1)]) AS grams
        FROM t WHERE len(toks) >= 2),
      e AS (SELECT unnest(grams) AS gram FROM g)
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM e
      GROUP BY gram ORDER BY df DESC, gram LIMIT 20"""))

  // --- boolean-AND keyword search, tf·idf-ranked (integer idf weights
  // so the score sum is order-independent in any engine). -------------
  private val SEARCH_TERMS = Seq("spark", "join", "window")
  private val q83 = Q("q83_keyword_search",
    (s, dir) => graft.pipeline.TrainingData.keywordSearch(
      Tables(s, dir, "documents"), SEARCH_TERMS, k = 20),
    Some {
      val inList = SEARCH_TERMS.map(t => s"'$t'").mkString(", ")
      s"""WITH t AS ($tokCte),
      e AS (SELECT doc_id, unnest(toks) AS w FROM t),
      tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM e
        WHERE w IN ($inList) GROUP BY doc_id, w),
      df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf
        GROUP BY w),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
      sc AS (SELECT doc_id,
          CAST(SUM(tf * CAST(floor(CAST(n * 10000 AS DOUBLE) / df)
            AS BIGINT)) AS BIGINT) AS score,
          COUNT(*) AS m
        FROM tf JOIN df USING (w) CROSS JOIN n GROUP BY doc_id)
      SELECT doc_id, score FROM sc WHERE m = ${SEARCH_TERMS.length}
      ORDER BY score DESC, doc_id LIMIT 20"""
    })

  // --- markup stripping (HTML→text extraction, the C4/CCNet WET step):
  // markup is spliced in deterministically from doc_id — opening tag with
  // an attribute, closing tag, self-closing tag, and double-escaped
  // entities — then stripped by the shared pipeline stage; the oracle
  // replays the identical regex + entity-decode chain. Pure projection. --
  private val q94 = Q("q94_markup_strip",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val id = col("doc_id")
      val dirty = d.select(id, col("source"), concat(
        lit("<p class=\"c"), (id % 5).cast("string"), lit("\">"),
        col("text"), lit("</p>"),
        when(id % 4 === 0, lit("<br/>&nbsp;tail &amp;lt; kept"))
          .otherwise(lit("")),
        when(id % 3 === 0, concat(
          lit("<a href=\"/d"), id.cast("string"),
          lit("\">link&quot;s &#39;q&#39;</a>"))).otherwise(lit("")))
        .as("text"))
      graft.pipeline.TrainingData.stripMarkup(dirty)
    },
    Some(s"""WITH p AS (SELECT doc_id, source,
        '<p class="c' || CAST(doc_id % 5 AS VARCHAR) || '">' || text
          || '</p>'
        || CASE WHEN doc_id % 4 = 0
             THEN '<br/>&nbsp;tail &amp;lt; kept' ELSE '' END
        || CASE WHEN doc_id % 3 = 0
             THEN '<a href="/d' || CAST(doc_id AS VARCHAR)
               || '">link&quot;s &#39;q&#39;</a>' ELSE '' END AS text
      FROM documents)
      SELECT doc_id, source,
        CAST(len(regexp_extract_all(text,
          '${graft.pipeline.TrainingData.MarkupTagRe}')) AS BIGINT)
          AS n_tags,
        trim(regexp_replace(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(text,
              '${graft.pipeline.TrainingData.MarkupTagRe}', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          '[ \\t]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g')) AS text
      FROM p"""))

  // --- frequency-ranked vocabulary with ids + corpus coverage
  // (tokenizer prep): tf/df counts, minCount threshold, rank without a
  // global window (per-tf prefix table + within-group row_number), exact
  // coverage division. ---------------------------------------------------
  private val q97 = Q("q97_vocab_build",
    (s, dir) => graft.pipeline.TrainingData.buildVocab(
      Tables(s, dir, "documents"), minCount = 2L),
    Some(s"""WITH t AS ($tokCte),
      e AS (SELECT unnest(toks) AS token FROM t),
      c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM e
        GROUP BY token),
      d AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t)
        GROUP BY token),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM e),
      k AS (SELECT c.token, tf, df FROM c JOIN d USING (token)
        WHERE tf >= 2)
      SELECT token,
        CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) - 1 AS BIGINT)
          AS id,
        tf, df,
        CAST(SUM(tf) OVER (ORDER BY tf DESC, token) AS DOUBLE) / total
          AS coverage
      FROM k CROSS JOIN tot"""))

  // --- URL canonicalization + dedup (the cheapest crawl dedup pass):
  // URLs spliced from doc_id cover the alias classes the normalizer
  // folds — case-varied scheme/host, www, fragments, utm tracking
  // params, trailing slash — then grouped by canonical form. ------------
  private val q98 = Q("q98_url_dedup",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val id = col("doc_id")
      val withUrl = d.select(id,
        concat(
          when(id % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
          lit("Ex"), (id % 13).cast("string"), lit(".COM/Path"),
          (id % 29).cast("string"),
          when(id % 4 === 0,
            concat(lit("?utm_source=a"), (id % 5).cast("string")))
            .otherwise(lit("")),
          when(id % 6 === 0, concat(lit("#frag"), id.cast("string")))
            .otherwise(lit("")),
          when(id % 5 === 0, lit("/")).otherwise(lit("")))
          .as("url"))
      graft.pipeline.TrainingData.urlDedup(withUrl)
    },
    Some("""WITH u AS (SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END
        || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
        || 'Ex' || CAST(doc_id % 13 AS VARCHAR) || '.COM/Path'
        || CAST(doc_id % 29 AS VARCHAR)
        || CASE WHEN doc_id % 4 = 0
             THEN '?utm_source=a' || CAST(doc_id % 5 AS VARCHAR)
             ELSE '' END
        || CASE WHEN doc_id % 6 = 0
             THEN '#frag' || CAST(doc_id AS VARCHAR) ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END AS url
      FROM documents),
      n AS (SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                replace(lower(regexp_extract(regexp_replace(url, '#.*', ''),
                    '^[^/]*//[^/?]*')), '://www.', '://')
                  || substr(regexp_replace(url, '#.*', ''),
                    length(regexp_extract(regexp_replace(url, '#.*', ''),
                      '^[^/]*//[^/?]*')) + 1),
                '\?(?:utm_[^&]*&)+', '?'),
              '&utm_[^&]*', ''),
            '\?utm_[^&]*$', ''),
          '/$', '') AS norm_url
      FROM u)
      SELECT norm_url, COUNT(*) AS n_docs, MIN(doc_id) AS keeper,
        string_agg(doc_id, ',' ORDER BY doc_id) AS members
      FROM n GROUP BY norm_url"""))

  // --- intra-document repeated-line removal (C4's within-page pass):
  // a nav menu line is spliced before AND after the body plus a unique
  // line, the first occurrence of each line survives, order holds. -----
  private val q99 = Q("q99_line_dedup",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val id = col("doc_id")
      val dirty = d.select(id, concat(
        lit("Home | About | Contact\n"),
        col("text"),
        lit("\nHome | About | Contact"),
        when(id % 3 === 0, concat(lit("\nfooter "), id.cast("string"),
          lit("\nHome | About | Contact"))).otherwise(lit("")))
        .as("text"))
      graft.pipeline.TrainingData.dedupLinesInDoc(dirty)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          substring(col("text"), 1, 60).as("head"))
    },
    Some("""WITH d AS (SELECT doc_id,
        'Home | About | Contact' || chr(10) || text || chr(10)
          || 'Home | About | Contact'
        || CASE WHEN doc_id % 3 = 0
             THEN chr(10) || 'footer ' || CAST(doc_id AS VARCHAR)
               || chr(10) || 'Home | About | Contact'
             ELSE '' END AS t
      FROM documents),
      s AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d),
      l AS (SELECT doc_id, i AS pos, ls[CAST(i + 1 AS INTEGER)] AS line
        FROM s, (SELECT unnest(range(0,
          (SELECT MAX(len(ls)) FROM s))) AS i) WHERE i < len(ls)),
      f AS (SELECT doc_id, line, MIN(pos) AS pos FROM l
        GROUP BY doc_id, line),
      r AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
          string_agg(line, chr(10) ORDER BY pos) AS ct
        FROM f GROUP BY doc_id)
      SELECT s.doc_id, CAST(len(ls) AS BIGINT) AS n_lines, n_kept,
        substr(ct, 1, 60) AS head
      FROM s JOIN r USING (doc_id)"""))

  // --- corpus encoding: tokens → vocab ids in order (OOV → −1), the
  // final text→ids step before sequence packing; vocab broadcast. -------
  private val q100 = Q("q100_encode_ids",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      // top-20 vocab only, so OOV (−1) is exercised at every scale
      // factor (a fixed minCount would stop producing OOV as tf grows
      // with corpus size)
      val vocab = graft.pipeline.TrainingData.buildVocab(d, minCount = 1L)
        .filter(col("id") < 20)
      graft.pipeline.TrainingData.encodeWithVocab(d, vocab)
    },
    Some(s"""WITH t AS ($tokCte),
      e AS (SELECT unnest(toks) AS token FROM t),
      c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM e
        GROUP BY token),
      v AS (SELECT token, id FROM (SELECT token,
          CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) - 1 AS BIGINT)
            AS id
        FROM c) WHERE id < 20),
      p AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
        unnest(toks) AS token FROM t),
      j AS (SELECT doc_id, pos, COALESCE(id, -1) AS id
        FROM p LEFT JOIN v USING (token))
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        string_agg(id, ',' ORDER BY pos) AS ids
      FROM j GROUP BY doc_id"""))

  // --- the COMPOSED cleaning pipeline, end to end in ONE Catalyst plan:
  // markup strip → exact dedup (keep-first) → train/val split → shard
  // shuffle. The point is composition: each stage is the same public
  // TrainingData function its standalone query gates, chained with no
  // materialization between stages — the plan stays two exchanges (the
  // dedup fingerprint window + the shard key), everything else fuses
  // into the scan. The oracle replays the whole chain, so a semantic
  // drift in ANY stage (or in how stages compose) breaks the hash. ------
  private val q102 = Q("q102_clean_pipeline",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val id = col("doc_id")
      val dirty = d.select(id, concat(
        lit("<div id=\"d"), id.cast("string"), lit("\">"), col("text"),
        lit("</div>"),
        when(id % 4 === 0, lit(" <b>promo &amp; tail</b>"))
          .otherwise(lit("")))
        .as("text"))
      val cleaned = graft.pipeline.TrainingData.stripMarkup(dirty)
      val deduped = graft.pipeline.TrainingData.exactDedupKeepFirst(cleaned)
      val split = graft.pipeline.TrainingData.trainValSplit(deduped)
      val sharded = graft.pipeline.TrainingData
        .shuffleToShards(split, nShards = 8, seed = 7)
      sharded.select(id, col("n_tags"), col("split"), col("shard"),
        col("pos"), substring(col("text"), 1, 40).as("head"))
    },
    Some(s"""WITH p AS (SELECT doc_id,
        '<div id="d' || CAST(doc_id AS VARCHAR) || '">' || text || '</div>'
        || CASE WHEN doc_id % 4 = 0
             THEN ' <b>promo &amp; tail</b>' ELSE '' END AS text
      FROM documents),
      st AS (SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '${graft.pipeline.TrainingData.MarkupTagRe}')) AS BIGINT)
          AS n_tags,
        trim(regexp_replace(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(text,
              '${graft.pipeline.TrainingData.MarkupTagRe}', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          '[ \\t]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g')) AS text
      FROM p),
      fp AS (SELECT *, md5(array_to_string(list_sort(list_distinct(
          list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))),
          ' ')) AS fp
        FROM st),
      keep AS (SELECT * FROM fp
        QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)),
      sp AS (SELECT *, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
          IN ('c','d','e','f') THEN 'val' ELSE 'train' END AS split
        FROM keep),
      k AS (SELECT *, md5('7:' || CAST(doc_id AS VARCHAR)) AS key FROM sp),
      a AS (SELECT *, CAST(('0x' || substr(key, 1, 8)) AS BIGINT) % 8
          AS shard FROM k)
      SELECT doc_id, n_tags, split, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id)
          AS BIGINT) AS pos,
        substr(text, 1, 40) AS head
      FROM a"""))

  // --- the CORPUS-RELEASE rehearsal: the full clean a 100 TB corpus
  // runs before shipping, composed end-to-end from the same public
  // stage functions the standalone queries gate — markup strip → exact
  // dedup (keep-first) → near-dup CLUSTER keep-one (LSH candidates →
  // verified Jaccard → connected components) → Bloom decontamination
  // against an external benchmark set (simulated: every 13th RAW
  // document — benchmark text leaked into the crawl) → train/val split
  // → shard shuffle. Everything between the CC fixpoint's checkpointed
  // label table and the output is ONE Catalyst plan (exchange count
  // plan-locked); the oracle replays the entire chain, recursive
  // components included, so drift in ANY stage or in how they compose
  // breaks the hash. ----------------------------------------------------
  private val q161 = Q("q161_corpus_release",
    (s, dir) => {
      val raw = Tables(s, dir, "documents")
      val id = col("doc_id")
      val bench = raw.filter(id % 13 === 0).select(id, col("text"))
      val dirty = raw.select(id, concat(
        lit("<div id=\"d"), id.cast("string"), lit("\">"), col("text"),
        lit("</div>"),
        when(id % 4 === 0, lit(" <b>promo &amp; tail</b>"))
          .otherwise(lit("")))
        .as("text"))
      val cleaned = graft.pipeline.TrainingData.stripMarkup(dirty)
      val exact = graft.pipeline.TrainingData.exactDedupKeepFirst(cleaned)
      val near = graft.pipeline.TrainingData.dedupCorpusByCluster(exact,
        shingleN = SHINGLE_N, minhashK = MINHASH_K,
        bands = BANDS, rowsPerBand = ROWS_PER_BAND, threshold = 0.5)
      val decon = graft.pipeline.TrainingData.decontaminateBloom(near, bench)
      val split = graft.pipeline.TrainingData.trainValSplit(decon)
      val sharded = graft.pipeline.TrainingData
        .shuffleToShards(split, nShards = 8, seed = 7)
      sharded.select(id, col("n_tags"), col("split"), col("shard"),
        col("pos"), substring(col("text"), 1, 40).as("head"))
    },
    Some(s"""WITH RECURSIVE p AS (SELECT doc_id,
        '<div id="d' || CAST(doc_id AS VARCHAR) || '">' || text || '</div>'
        || CASE WHEN doc_id % 4 = 0
             THEN ' <b>promo &amp; tail</b>' ELSE '' END AS text
      FROM documents),
      st AS (SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '${graft.pipeline.TrainingData.MarkupTagRe}')) AS BIGINT)
          AS n_tags,
        trim(regexp_replace(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(text,
              '${graft.pipeline.TrainingData.MarkupTagRe}', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          '[ \\t]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g')) AS text
      FROM p),
      fpt AS (SELECT *, md5(array_to_string(list_sort(list_distinct(
          list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))),
          ' ')) AS fp
        FROM st),
      keep AS (SELECT * FROM fpt
        QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)),
      t2 AS (SELECT doc_id, n_tags, fp, text,
          list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
            AS toks
        FROM keep),
      sh2 AS (SELECT doc_id,
        CASE WHEN len(toks) >= $SHINGLE_N THEN
          list_distinct(list_transform(range(1, len(toks) - ${SHINGLE_N - 2}),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        ELSE [] END AS sh FROM t2),
      sig2 AS (SELECT doc_id, sh,
        list_transform(range(1, ${MINHASH_K + 1}), i ->
          list_min(list_transform(sh, s ->
            md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
        FROM sh2 WHERE len(sh) > 0),
      bands2 AS (SELECT doc_id, b,
        md5(array_to_string(
          sig[b*$ROWS_PER_BAND+1 : b*$ROWS_PER_BAND+$ROWS_PER_BAND], '|'))
          AS bkey
        FROM sig2, (SELECT unnest(range(0, $BANDS)) AS b)),
      cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands2 a JOIN bands2 b
          ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      pairs2 AS (SELECT doc_a, doc_b FROM cand2
        JOIN sh2 sa ON sa.doc_id = cand2.doc_a
        JOIN sh2 sb ON sb.doc_id = cand2.doc_b
        WHERE CAST(len(sa.sh) + len(sb.sh)
               - len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),
      edges2 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs2
        UNION ALL SELECT doc_b, doc_a FROM pairs2),
      comp2(id, lbl) AS (
        SELECT doc_id, doc_id FROM t2
        UNION
        SELECT e.src, c.lbl FROM edges2 e JOIN comp2 c ON c.id = e.dst),
      lab2 AS (SELECT id AS doc_id, min(lbl) AS cluster
        FROM comp2 GROUP BY 1),
      surv AS (SELECT t2.* FROM t2
        JOIN lab2 ON lab2.doc_id = t2.doc_id
        WHERE lab2.doc_id = lab2.cluster),
      ev AS (SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(
          list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))),
          ' ')) AS fp
        FROM documents WHERE doc_id % 13 = 0),
      cl AS (SELECT * FROM surv
        WHERE fp NOT IN (SELECT fp FROM ev)),
      sp AS (SELECT *, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
          IN ('c','d','e','f') THEN 'val' ELSE 'train' END AS split
        FROM cl),
      k AS (SELECT *, md5('7:' || CAST(doc_id AS VARCHAR)) AS key FROM sp),
      a AS (SELECT *, CAST(('0x' || substr(key, 1, 8)) AS BIGINT) % 8
          AS shard FROM k)
      SELECT doc_id, n_tags, split, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id)
          AS BIGINT) AS pos,
        substr(text, 1, 40) AS head
      FROM a"""))

  // --- domain-level quality propagation: the "bad source" gate (C4/
  // RefinedWeb block DOMAINS, not just documents) — a source whose
  // content keeps duplicating corpus-wide gets ALL its documents
  // dropped, clean pages included. Exact cross-multiplied permille
  // gate, no division; the oracle replays fingerprint, window count,
  // source rollup, and gate. ---------------------------------------------
  private val q167 = Q("q167_source_reputation",
    (s, dir) => graft.pipeline.TrainingData.sourceReputation(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source")))
      .select(col("doc_id"), col("source"), col("src_docs"),
        col("src_dup_docs"), col("src_flagged"), col("keep")),
    Some("""WITH f AS (SELECT doc_id, source,
        md5(array_to_string(list_sort(list_distinct(
          list_filter(string_split_regex(text, '\s+'), x -> x <> ''))),
          ' ')) AS fp
      FROM documents),
      d AS (SELECT doc_id, source,
        CASE WHEN COUNT(*) OVER (PARTITION BY fp) > 1 THEN 1 ELSE 0 END
          AS isdup FROM f),
      s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS src_docs,
        CAST(SUM(isdup) AS BIGINT) AS src_dup_docs FROM d GROUP BY 1)
      SELECT doc_id, d.source, src_docs, src_dup_docs,
        src_dup_docs * 1000 > 150 * src_docs AS src_flagged,
        NOT (src_dup_docs * 1000 > 150 * src_docs) AS keep
      FROM d JOIN s ON d.source = s.source"""))

  // --- unigram-LM token-commonness quality score (the log-free KenLM
  // perplexity shape — see TrainingData.tokenCommonness for why the
  // score is an exact BIGINT sum ÷ count, never a Σlog): low score =
  // rare-token gibberish, high = templated boilerplate. ------------------
  private val q125 = Q("q125_lm_score",
    (s, dir) => graft.pipeline.TrainingData.tokenCommonness(
      Tables(s, dir, "documents"), minCount = 3L),
    Some(s"""WITH t AS ($tokCte),
      e AS (SELECT doc_id, unnest(toks) AS token FROM t),
      c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM e
        GROUP BY token)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(tf) AS BIGINT) AS sum_tf,
        CAST(SUM(CASE WHEN tf < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        CAST(CAST(SUM(tf) AS BIGINT) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS score
      FROM e JOIN c USING (token)
      GROUP BY doc_id"""))

  // --- CCNet head/middle/tail quality bucketing (Wenzek 2020): per-
  // language tercile thresholds from a quota-capped hash sample (never
  // a corpus-wide sort — the published design's scale choice), then a
  // broadcast-size threshold join buckets the full corpus. The oracle
  // replays the token-commonness score, the capped sample, the tercile
  // ranks, and the gate. -----------------------------------------------
  private val q169 = Q("q169_ccnet_buckets",
    (s, dir) => graft.pipeline.TrainingData.ccnetBuckets(
      Tables(s, dir, "documents")),
    Some(s"""WITH t AS ($tokCte),
      e AS (SELECT doc_id, unnest(toks) AS token FROM t),
      c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM e
        GROUP BY 1),
      sc AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(CAST(SUM(tf) AS BIGINT) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS score
        FROM e JOIN c USING (token) GROUP BY 1),
      sl AS (SELECT sc.*, d.lang FROM sc JOIN documents d USING (doc_id)),
      samp AS (SELECT * FROM (SELECT sl.*,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS qrk
        FROM sl) WHERE qrk <= 50),
      rk2 AS (SELECT lang, score,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY score DESC, doc_id) AS r,
          COUNT(*) OVER (PARTITION BY lang) AS n
        FROM samp),
      thr AS (SELECT lang,
          MAX(CASE WHEN r = (n + 2) // 3 THEN score END) AS t_head,
          MAX(CASE WHEN r = (2*n + 2) // 3 THEN score END) AS t_mid
        FROM rk2 GROUP BY 1)
      SELECT sl.doc_id, sl.lang, n_tokens, score,
        CASE WHEN t_head IS NULL OR score >= t_head THEN 'head'
             WHEN score >= t_mid THEN 'middle' ELSE 'tail' END AS bucket
      FROM sl LEFT JOIN thr USING (lang)"""))

  // --- distributed BPE merge training (Sennrich 2016): the oracle
  // unrolls the same deterministic loop — pair-count → argmax (ties
  // lexicographic) → literal merge — round by round in SQL, so the
  // whole training trajectory is hash-compared, not just the last
  // state. Symbols ride a boundary-safe `(a)(b)` wrapping; `replace`
  // is left-to-right non-overlapping in both engines (BPE's greedy
  // apply). ------------------------------------------------------------
  private val BPE_MERGES = 8
  private val q127 = Q("q127_bpe_train",
    (s, dir) => {
      // rides the session-scoped shared merge trajectory (q127/q128/
      // q199 train the identical tokenizer; a real pipeline trains it
      // once) — the emitted rows are bit-identical to bpeTrain's
      import s.implicits._
      graft.pipeline.TrainingData
        .bpeMergesShared(Tables(s, dir, "documents"),
          nMerges = BPE_MERGES)
        .toDF("round", "lhs", "rhs", "merged", "cnt")
    },
    Some {
      val union = (1 to BPE_MERGES).map { r =>
        s"""SELECT $r AS round, a AS lhs, b AS rhs, a || b AS merged,
           tot AS cnt FROM b$r"""
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeCtes
      $union"""
    })

  /** The shared b1..s8 merge-trajectory CTE body of the q127 oracle
    * (everything after `WITH`), reused by the encode oracle. */
  private def bpeCtes: String = {
    val rounds = (1 to BPE_MERGES).map { r =>
      s"""p$r AS (SELECT struct_extract(u, 'a') AS a,
          struct_extract(u, 'b') AS b,
          CAST(SUM(cnt) AS BIGINT) AS tot
        FROM (SELECT cnt, unnest(list_transform(range(1, len(ls)),
            i -> {'a': ls[i], 'b': ls[i + 1]})) AS u
          FROM (SELECT string_split(
              regexp_replace(sym, '^\\(|\\)$$', '', 'g'), ')(') AS ls,
              cnt
            FROM s${r - 1}) t
          WHERE len(ls) >= 2)
        GROUP BY 1, 2),
      b$r AS (SELECT a, b, tot FROM p$r ORDER BY tot DESC, a, b LIMIT 1),
      s$r AS (SELECT replace(sym, '(' || a || ')(' || b || ')',
          '(' || a || b || ')') AS sym, cnt FROM s${r - 1}, b$r)"""
    }.mkString(",\n")
    s"""s0 AS (SELECT regexp_replace(word, '(.)', '(\\1)', 'g')
        AS sym, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'),
          w -> w <> '')) AS word
        FROM documents)
      GROUP BY 1),
    $rounds"""
  }

  // --- BPE encode: replay the trained merges over every document as a
  // pure projection (no shuffle); the md5 fingerprint pins the exact
  // encoded symbol sequence, so the oracle catches any divergence in
  // merge ORDER, not just subword counts. -------------------------------
  private val q128 = Q("q128_bpe_encode",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.pipeline.TrainingData
        .bpeMergesShared(docs, nMerges = BPE_MERGES)
        .map(t => (t._2, t._3))
      graft.pipeline.TrainingData.bpeEncode(docs, merges)
    },
    Some {
      val encChain = (1 to BPE_MERGES).map { r =>
        s"""d$r AS (SELECT doc_id, n_words,
           CASE WHEN (SELECT COUNT(*) FROM b$r) = 0 THEN enc
                ELSE replace(enc,
                  '(' || (SELECT a FROM b$r) || ')('
                      || (SELECT b FROM b$r) || ')',
                  '(' || (SELECT a || b FROM b$r) || ')') END AS enc
         FROM d${r - 1})"""
      }.mkString(",\n")
      s"""WITH $bpeCtes,
      d0 AS (SELECT doc_id,
          CAST(len(list_filter(string_split_regex(lower(text),
            '[^a-z0-9]+'), w -> w <> '')) AS BIGINT) AS n_words,
          array_to_string(list_transform(
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              w -> w <> ''),
            w -> regexp_replace(w, '(.)', '(\\1)', 'g')), ' ') AS enc
        FROM documents),
      $encChain
      SELECT doc_id, n_words,
        CAST(length(enc) - length(replace(enc, '(', '')) AS BIGINT)
          AS n_subwords,
        md5(enc) AS enc_fp
      FROM d$BPE_MERGES"""
    })

  // --- tokenizer fertility per language (subwords per word under the
  // corpus-trained BPE): the tokenizer-efficiency report a multilingual
  // mixing plan is priced against. Rides the SAME trained merges and
  // encode projection as q127/q128; one doc-keyed lang join + one lang
  // rollup; exact sums, one division. ----------------------------------
  private val q199 = Q("q199_bpe_fertility",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.pipeline.TrainingData
        .bpeMergesShared(docs, nMerges = BPE_MERGES)
        .map(t => (t._2, t._3))
      graft.pipeline.TrainingData.bpeEncode(docs, merges)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"))
        .withColumn("fertility",
          when(col("n_words") > 0, col("n_subwords").cast("double")
            / col("n_words").cast("double")))
    },
    Some {
      val encChain = (1 to BPE_MERGES).map { r =>
        s"""d$r AS (SELECT doc_id, n_words,
           CASE WHEN (SELECT COUNT(*) FROM b$r) = 0 THEN enc
                ELSE replace(enc,
                  '(' || (SELECT a FROM b$r) || ')('
                      || (SELECT b FROM b$r) || ')',
                  '(' || (SELECT a || b FROM b$r) || ')') END AS enc
         FROM d${r - 1})"""
      }.mkString(",\n")
      s"""WITH $bpeCtes,
      d0 AS (SELECT doc_id,
          CAST(len(list_filter(string_split_regex(lower(text),
            '[^a-z0-9]+'), w -> w <> '')) AS BIGINT) AS n_words,
          array_to_string(list_transform(
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
              w -> w <> ''),
            w -> regexp_replace(w, '(.)', '(\\1)', 'g')), ' ') AS enc
        FROM documents),
      $encChain
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_words) AS BIGINT) AS n_words,
        CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
        CASE WHEN SUM(n_words) > 0
          THEN CAST(SUM(n_sub) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)
        END AS fertility
      FROM (SELECT doc_id, n_words,
          CAST(length(enc) - length(replace(enc, '(', '')) AS BIGINT)
            AS n_sub
        FROM d$BPE_MERGES) e
      JOIN documents USING (doc_id)
      GROUP BY lang"""
    })

  // --- content-defined chunk dedup (rsync/LBFS chunking): cut where the
  // rolling K-gram hash ≡ 0 mod D, so chunk identity survives insertions
  // that shift every later byte — the dedup pass that catches shared
  // passages/boilerplate whole-doc fingerprints (q32) and even span keys
  // (q81) miss under offset drift. Kernel = CdcChunksExpr (O(n) rolling
  // hash); oracle replays grams, cuts, substrings and md5s in SQL from
  // the SAME powers table. One linear shuffle on the 128-bit chunk key. --
  private val CDC_K = 8
  private val CDC_D = 64

  private val q142 = Q("q142_cdc_chunks",
    (s, dir) => graft.pipeline.TrainingData.cdcChunkStats(
      Tables(s, dir, "documents"), k = CDC_K, d = CDC_D),
    Some {
      import graft.functions.expressions.WinnowFpExpr.M
      val pows = graft.functions.expressions.WinnowFpExpr.pows(CDC_K)
      val terms = pows.zipWithIndex
        .map { case (p, j) => s"cps[i+$j] * $p % $M" }
        .mkString(" + ")
      s"""WITH cp AS (SELECT doc_id, text, length(text) AS n,
          list_transform(range(1, length(text) + 1),
            i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))
            AS cps
        FROM documents),
      h AS (SELECT doc_id, text, n,
          list_transform(range(1, n - ${CDC_K - 1} + 1),
            i -> ($terms) % $M) AS hashes
        FROM cp),
      cu AS (SELECT doc_id, text, n,
          list_transform(
            list_filter(range(1, len(hashes) + 1),
              i -> hashes[i] % $CDC_D = 0 AND i + ${CDC_K - 1} < n),
            i -> i + ${CDC_K - 1}) AS ce
        FROM h),
      fp AS (SELECT doc_id,
          CASE WHEN n = 0 THEN []::VARCHAR[]
               WHEN n < $CDC_K THEN [md5(text)]
               ELSE list_transform(range(1, len(ce) + 2), j ->
                 md5(substr(text,
                   CAST(CASE WHEN j = 1 THEN 1
                        ELSE ce[j-1] + 1 END AS INT),
                   CAST((CASE WHEN j = len(ce) + 1 THEN n
                         ELSE ce[j] END)
                     - (CASE WHEN j = 1 THEN 1
                        ELSE ce[j-1] + 1 END) + 1 AS INT))))
          END AS fps
        FROM cu),
      ex AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
      nd AS (SELECT fp, COUNT(DISTINCT doc_id) AS ndocs
        FROM ex GROUP BY 1),
      sh AS (SELECT ex.doc_id, COUNT(*) AS n_shared
        FROM ex JOIN nd ON ex.fp = nd.fp WHERE nd.ndocs >= 2 GROUP BY 1)
      SELECT f.doc_id, CAST(len(f.fps) AS BIGINT) AS n_chunks,
        CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared
      FROM fp f LEFT JOIN sh ON f.doc_id = sh.doc_id"""
    })

  // --- shingle CONTAINMENT pairs (Broder's containment coefficient):
  // asymmetric near-dup — |A∩B|/min(|A|,|B|) ≥ 0.8 catches quote-inclusion
  // where Jaccard dilutes below any sane threshold. Same LSH band-join
  // candidates as q33; intersect via |A|+|B|−|A∪B| (engine-replayable);
  // integer cross-multiplied gate; one fraction division. ------------------
  private val q146 = Q("q146_containment_dedup",
    (s, dir) => graft.pipeline.TrainingData.containmentPairs(
      Tables(s, dir, "documents"), shingleN = SHINGLE_N,
      minhashK = MINHASH_K, bands = BANDS, rowsPerBand = ROWS_PER_BAND,
      thrNum = 4, thrDen = 5),
    Some(s"""WITH $lshCte,
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      v AS (SELECT doc_a, doc_b,
          CAST(len(sa.sh) AS BIGINT) AS n_a,
          CAST(len(sb.sh) AS BIGINT) AS n_b,
          CAST(len(sa.sh) + len(sb.sh)
            - len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT)
            AS n_common
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b)
      SELECT doc_a, doc_b, n_a, n_b, n_common,
        CAST(n_common AS DOUBLE) / least(n_a, n_b) AS containment
      FROM v WHERE n_common * 5 >= 4 * least(n_a, n_b)"""))

  // --- blocklist quality gate (the C4/Dolma bad-words pass — term-level,
  // where q86's C4 rules are structural): exact whole-word counts against
  // a fixed list, integer-ratio keep gate. Pure projection. ---------------
  private val Blocklist = Seq("slow", "dup", "junk")

  private val q147 = Q("q147_blocklist_gate",
    (s, dir) => graft.pipeline.TrainingData.blocklistGate(
        Tables(s, dir, "documents"), Blocklist, maxNum = 1, maxDen = 20)
      .select(col("doc_id"), col("n_tokens"), col("n_flagged"), col("keep")),
    Some {
      val lst = Blocklist.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS ($tokCte)
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(toks, t -> t IN ($lst))) AS BIGINT)
          AS n_flagged,
        len(list_filter(toks, t -> t IN ($lst))) * 20 <= len(toks) AS keep
      FROM t"""
    })

  // --- LSH recall evaluation (the dedup-quality report every pipeline
  // owner needs): exact PPJoin pairs as ground truth, MinHash-LSH verified
  // pairs as the system under test, recall per true-Jaccard decile — the
  // LSH S-curve measured on the real corpus, no sampling. Precision is 1
  // by construction (candidates verify); recall is the open question. ----
  private val q149 = Q("q149_lsh_recall",
    (s, dir) => graft.pipeline.TrainingData.lshRecallReport(
      Tables(s, dir, "documents"), shingleN = SHINGLE_N,
      minhashK = MINHASH_K, bands = BANDS, rowsPerBand = ROWS_PER_BAND,
      threshold = JAC_T),
    Some(s"""WITH $lshCte,
      shv AS (SELECT * FROM sh WHERE len(sh) > 0),
      ex AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(len(a.sh) + len(b.sh)
               - len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        FROM shv a JOIN shv b ON a.doc_id < b.doc_id
        WHERE CAST(len(a.sh) + len(b.sh)
               - len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= $JAC_T),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      found AS (SELECT cand.doc_a, cand.doc_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b
        WHERE CAST(len(sa.sh) + len(sb.sh)
               - len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= $JAC_T)
      SELECT CAST(floor(jac * 10) AS INT) AS jac_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_exact,
        CAST(SUM(CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_found,
        CAST(SUM(CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END)
          AS DOUBLE) / COUNT(*) AS recall
      FROM ex LEFT JOIN found f
        ON ex.doc_a = f.doc_a AND ex.doc_b = f.doc_b
      GROUP BY 1"""))

  // --- collocation extraction: corpus bigrams ranked by PMI. Counts are
  // exact BIGINTs; the score is ONE IEEE division on exactly-representable
  // ints (every operand < 2^53), so both engines emit the identical
  // double; (score DESC, w1, w2) makes the top-k tie-free. One bigram-key
  // shuffle + broadcast unigram joins + TakeOrdered. -----------------------
  private val COLL_MIN = 5
  private val COLL_K = 50

  private val q144 = Q("q144_collocations",
    (s, dir) => graft.pipeline.TrainingData.collocations(
      Tables(s, dir, "documents"), minCount = COLL_MIN, k = COLL_K),
    Some(s"""WITH t AS ($tokCte),
      uni AS (SELECT tk AS w, COUNT(*) AS c
        FROM (SELECT unnest(toks) AS tk FROM t) GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
      bi AS (SELECT p['w1'] AS w1, p['w2'] AS w2, COUNT(*) AS pair_n
        FROM (SELECT unnest(list_transform(range(1, len(toks)),
            i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
          FROM t)
        GROUP BY 1, 2
        HAVING COUNT(*) >= $COLL_MIN)
      SELECT bi.w1, bi.w2, bi.pair_n, u1.c AS c1, u2.c AS c2,
        CAST(bi.pair_n * tot.n AS DOUBLE) / (u1.c * u2.c) AS score
      FROM bi
      JOIN uni u1 ON bi.w1 = u1.w
      JOIN uni u2 ON bi.w2 = u2.w
      CROSS JOIN tot
      ORDER BY score DESC, bi.w1, bi.w2
      LIMIT $COLL_K"""))

  // --- character-class / encoding-sanity profile (the mojibake gate every
  // web-scale ingest runs before tokenization): exact per-class counts by
  // class-removal length arithmetic (identical in both regex engines),
  // U+FFFD replacement-character and C0-control tallies, dominant class
  // via the same lexicographic max-struct trick as q31. Pure projection —
  // zero shuffles at any scale. --------------------------------------------
  private val q145 = Q("q145_charclass_profile",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val t = col("text")
      // DuckDB length() is BIGINT — counts stay LongType end to end
      def removed(re: String) =
        (length(t) - length(regexp_replace(t, re, ""))).cast("long")
      val nLetters = removed("[A-Za-z]")
      val nDigits = removed("[0-9]")
      val nWs = removed("[ \\t\\n\\r]")
      val classes = array(
        struct(nLetters.as("score"), lit("letters").as("cls")),
        struct(nDigits.as("score"), lit("digits").as("cls")),
        struct((length(t).cast("long") - nLetters - nDigits - nWs)
          .as("score"), lit("other").as("cls")))
      d.select(col("doc_id"),
        length(t).cast("long").as("n_chars_utf"),
        nLetters.as("n_letters"),
        nDigits.as("n_digits"),
        nWs.as("n_ws"),
        removed("�").as("n_replacement"),
        removed("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("n_ctl"),
        array_max(classes).getField("cls").as("dominant"))
    },
    Some("""SELECT doc_id,
        length(text) AS n_chars_utf,
        length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
          AS n_letters,
        length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
          AS n_digits,
        length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g'))
          AS n_ws,
        length(text) - length(regexp_replace(text, '�', '', 'g'))
          AS n_replacement,
        length(text) - length(regexp_replace(text,
          '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS n_ctl,
        list_max([
          {'score': length(text)
             - length(regexp_replace(text, '[A-Za-z]', '', 'g')),
           'cls': 'letters'},
          {'score': length(text)
             - length(regexp_replace(text, '[0-9]', '', 'g')),
           'cls': 'digits'},
          {'score': length(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9]', '', 'g'), '[ \t\n\r]', '', 'g')),
           'cls': 'other'}]).cls AS dominant
      FROM documents"""))

  // --- per-shard 3-gram novelty (diversity-saturation diagnostic — the
  // Heaps-law signal without any ordered scan): an n-gram is NOVEL in
  // the lowest-numbered shard that contains it; per shard, the novel
  // fraction of its distinct n-grams. Three linear shuffles: (shard,
  // ngram) distinct, an ngram-partitioned min window (no global
  // window), one shard rollup. -----------------------------------------
  private val q189 = Q("q189_ngram_novelty",
    (s, dir) => graft.pipeline.TrainingData.ngramNovelty(
      Tables(s, dir, "documents"), nShards = 8, shingleN = SHINGLE_N),
    Some(s"""WITH t AS ($tokCte),
      sh0 AS (SELECT doc_id % 8 AS shard,
          unnest(CASE WHEN len(toks) >= $SHINGLE_N THEN
            list_distinct(list_transform(
              range(1, len(toks) - ${SHINGLE_N - 2}),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
          ELSE [] END) AS ng FROM t),
      d AS (SELECT DISTINCT shard, ng FROM sh0),
      f AS (SELECT ng, MIN(shard) AS first_shard FROM d GROUP BY ng)
      SELECT d.shard, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        CAST(SUM(CASE WHEN first_shard = d.shard THEN 1 ELSE 0 END)
          AS BIGINT) AS n_novel,
        CAST(SUM(CASE WHEN first_shard = d.shard THEN 1 ELSE 0 END)
          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
      FROM d JOIN f USING (ng) GROUP BY d.shard"""))

  // --- per-source lexical profile: tokens / types / hapax legomena and
  // their ratios per corpus source — the composition diagnostic a mixing
  // plan is tuned against. Exact integers, two final divisions. ---------
  private val q187 = Q("q187_lexical_profile",
    (s, dir) => graft.pipeline.TrainingData.lexicalProfile(
      Tables(s, dir, "documents")),
    Some(s"""WITH t AS ($tokCte),
      e AS (SELECT source, unnest(toks) AS token FROM t),
      c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM e GROUP BY 1, 2),
      d AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1)
      SELECT c.source, n_docs, CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(tf) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hapax,
        CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS ttr,
        CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
      FROM c JOIN d USING (source) GROUP BY 1, 2"""))

  // --- token-frequency spectrum (Zipf diagnostic with NO global rank
  // and NO floating log): tokens bucketed by the floor-log₂ octave of
  // tf via a static integer comparison chain — under Zipf, types decay
  // geometrically per octave while mass stays flat. --------------------
  private val q188 = Q("q188_token_spectrum",
    (s, dir) => graft.pipeline.TrainingData.tokenSpectrum(
      Tables(s, dir, "documents")),
    Some {
      val octaveSql = "CASE " + (62 to 0 by -1).map(k =>
        s"WHEN tf >= ${1L << k} THEN CAST($k AS BIGINT)")
        .mkString(" ") + " END"
      s"""WITH t AS ($tokCte),
      e AS (SELECT unnest(toks) AS token FROM t),
      c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM e
        GROUP BY 1),
      tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM c)
      SELECT $octaveSql AS octave,
        CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(tf) AS BIGINT) AS sum_tf,
        CAST(MIN(tf) AS BIGINT) AS tf_min,
        CAST(MAX(tf) AS BIGINT) AS tf_max,
        CAST(SUM(tf) AS DOUBLE) / CAST(total AS DOUBLE) AS share
      FROM c CROSS JOIN tot GROUP BY 1, total"""
    })

  // --- q207: Flesch readability per document — reading-ease and
  // Flesch–Kincaid grade from three exact integer counts (whitespace
  // words, [.!?]+ sentence terminators, [aeiouy]+ vowel-group syllable
  // proxy), assembled in a FIXED-ORDER double expression both engines
  // replay identically (the Tajima-constants discipline). Pure
  // projection — zero shuffles at any corpus size. -------------------
  private val q207 = Q("q207_readability",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val base = d.select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_words"),
        regexp_count(col("text"), lit("[.!?]+")).cast("long")
          .as("n_sents"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
          .as("n_syll"))
      val ws = col("n_words").cast("double") / col("n_sents")
        .cast("double")
      val sw = col("n_syll").cast("double") / col("n_words")
        .cast("double")
      base
        .withColumn("ease",
          when(col("n_words") > 0 && col("n_sents") > 0,
            lit(206.835) - lit(1.015) * ws - lit(84.6) * sw))
        .withColumn("grade",
          when(col("n_words") > 0 && col("n_sents") > 0,
            lit(0.39) * ws + lit(11.8) * sw - lit(15.59)))
    },
    Some("""SELECT doc_id, lang, n_words, n_sents, n_syll,
        CASE WHEN n_words > 0 AND n_sents > 0
          THEN 206.835
            - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
            - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
        END AS ease,
        CASE WHEN n_words > 0 AND n_sents > 0
          THEN 0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
            + 11.8 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
            - 15.59
        END AS grade
      FROM (SELECT doc_id, lang,
          CAST(len(list_filter(string_split_regex(text, '\s+'),
            t -> t <> '')) AS BIGINT) AS n_words,
          CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
            AS n_sents,
          CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
            AS BIGINT) AS n_syll
        FROM documents)"""))

  // --- q210: overlapping chunk windowing (the RAG / context-window
  // splitter): W-token chunks on stride S (overlap W−S), the LAST
  // chunk keeping its natural short tail. One posexplode_outer of a
  // stride sequence (never-empty computed array — the q124
  // InferFiltersFromGenerate lesson) per document; zero shuffles. ----
  private val CHUNK_W = 12
  private val CHUNK_S = 8
  private val q210 = Q("q210_chunk_windows",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val ch = slice(col("toks"), col("start") + 1, lit(CHUNK_W))
      d.select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("toks"),
          posexplode_outer(expr(s"sequence(0, n - 1, $CHUNK_S)"))
            .as(Seq("chunk_idx", "start")))
        .select(col("doc_id"), col("chunk_idx").cast("long"),
          col("start").cast("long").as("start_tok"),
          size(ch).cast("long").as("n_toks"),
          array_join(ch, " ").as("chunk_text"))
    },
    Some(s"""WITH t AS ($tokCte)
      SELECT doc_id, CAST(start // $CHUNK_S AS BIGINT) AS chunk_idx,
        CAST(start AS BIGINT) AS start_tok,
        CAST(len(ch) AS BIGINT) AS n_toks,
        array_to_string(ch, ' ') AS chunk_text
      FROM (SELECT doc_id,
          list_slice(toks, start + 1, start + $CHUNK_W) AS ch, start
        FROM (SELECT doc_id, toks, unnest(range(0, len(toks),
            $CHUNK_S)) AS start
          FROM t WHERE len(toks) > 0))"""))

  // --- q216: cross-source duplication flow — WHO copies WHOM: over
  // the proven near-dup components (q72's min-label clusters), each
  // dropped document is attributed (keeper's source → duplicate's
  // source) and rolled up to the source×source flow matrix a corpus
  // provenance audit wants. Rides the one CC fixpoint; the keeper
  // join is cluster-keyed (bounded by #clusters), the rollup ≤
  // |sources|². -------------------------------------------------------
  private val q216 = Q("q216_dup_source_flow",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val cl = graft.pipeline.TrainingData.dedupClusters(
        docs, shingleN = SHINGLE_N, minhashK = MINHASH_K,
        bands = BANDS, rowsPerBand = ROWS_PER_BAND, threshold = 0.5)
      val lab = cl.join(docs.select(col("doc_id"), col("source")),
        "doc_id")
      val keepers = lab.filter(col("doc_id") === col("cluster"))
        .select(col("cluster"), col("source").as("keep_source"))
      lab.filter(col("doc_id") =!= col("cluster"))
        .join(keepers, "cluster")
        .groupBy(col("keep_source"), col("source").as("dup_source"))
        .agg(count(lit(1)).as("n_dropped"))
    },
    Some(s"""WITH RECURSIVE $componentsCte,
      ls AS (SELECT lab.doc_id, cluster, d.source
        FROM lab JOIN documents d ON lab.doc_id = d.doc_id),
      k AS (SELECT cluster, source AS keep_source FROM ls
        WHERE doc_id = cluster)
      SELECT keep_source, source AS dup_source,
        CAST(COUNT(*) AS BIGINT) AS n_dropped
      FROM ls JOIN k USING (cluster)
      WHERE doc_id <> cluster
      GROUP BY 1, 2"""))

  // --- q223: leakage-safe k-fold assignment — folds are drawn per
  // near-dup CLUSTER (md5 of the component label, first-nibble class →
  // 4 folds), so near-duplicate documents can NEVER straddle a
  // train/eval boundary — the split-leakage guard an LLM data pipeline
  // needs where q64's per-document split does not suffice. Rides the
  // one CC fixpoint; reports per-(fold, source) doc / cluster / token
  // mass. --------------------------------------------------------------
  private val q223 = Q("q223_leakage_safe_folds",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val cl = graft.pipeline.TrainingData.dedupClusters(
        docs, shingleN = SHINGLE_N, minhashK = MINHASH_K,
        bands = BANDS, rowsPerBand = ROWS_PER_BAND, threshold = 0.5)
      val h = substring(md5(col("cluster").cast("string")), 1, 1)
      val fold = when(h.isin("0", "1", "2", "3"), 0L)
        .when(h.isin("4", "5", "6", "7"), 1L)
        .when(h.isin("8", "9", "a", "b"), 2L)
        .otherwise(3L)
      cl.join(docs.select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("nt")), "doc_id")
        .withColumn("fold", fold)
        .groupBy(col("fold"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("cluster")).as("n_clusters"),
          sum(col("nt")).as("tok_mass"))
    },
    Some(s"""WITH RECURSIVE $componentsCte,
      tk AS ($tokCte),
      f AS (SELECT lab.doc_id, tk.source,
          CAST(len(tk.toks) AS BIGINT) AS nt, cluster,
          CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1)
              IN ('0', '1', '2', '3') THEN 0
            WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1)
              IN ('4', '5', '6', '7') THEN 1
            WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1)
              IN ('8', '9', 'a', 'b') THEN 2
            ELSE 3 END AS fold
        FROM lab JOIN tk ON lab.doc_id = tk.doc_id)
      SELECT fold, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
        CAST(SUM(nt) AS BIGINT) AS tok_mass
      FROM f GROUP BY 1, 2"""))

  // --- q230: edit-distance VERIFIED near-dup pairs — the character-level
  // confirmation pass LSH candidates get when shingle Jaccard is too
  // coarse (e.g. token-order edits that preserve the shingle set). Rides
  // the IDENTICAL band chain as q33, then verifies with Levenshtein
  // distance over a capped prefix — both engines ship the same standard
  // unit-cost DP builtin, so the oracle checks true cross-engine parity.
  // 100 TB: the only n-scaling shuffle is the band-key self-join (same as
  // q33); the O(CAP²) DP runs ONLY on banded candidate pairs, and the
  // prefix cap bounds the per-pair cost regardless of document length
  // (a full-length DP on a 1 MB doc would be 10¹² cells — the cap is the
  // difference between a verifier and a DoS). One final int/int division
  // presents the normalized similarity. ----------------------------------
  private val ED_CAP = 600
  private val q230 = Q("q230_editdist_neardup",
    (s, dir) => {
      // shared signature/candidate stage (see lshSigsAndCand)
      val (_, cand) = lshSigsAndCand(s, dir)
      val texts = Tables(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, ED_CAP).as("t"))
      cand
        .join(texts.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("t", "ta"), "doc_a")
        .join(texts.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("t", "tb"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("ed"),
          greatest(length(col("ta")), length(col("tb"))).cast("long")
            .as("cap_len"))
        .withColumn("ed_sim", when(col("cap_len") === 0L, lit(1.0))
          .otherwise(lit(1.0)
            - col("ed").cast("double") / col("cap_len").cast("double")))
        .filter(col("ed_sim") >= 0.5)
    },
    Some(s"""WITH $lshCte,
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      v AS (SELECT doc_a, doc_b,
          CAST(levenshtein(substr(da.text, 1, $ED_CAP),
                           substr(db.text, 1, $ED_CAP)) AS BIGINT) AS ed,
          CAST(greatest(length(substr(da.text, 1, $ED_CAP)),
                        length(substr(db.text, 1, $ED_CAP))) AS BIGINT)
            AS cap_len
        FROM cand
        JOIN documents da ON da.doc_id = cand.doc_a
        JOIN documents db ON db.doc_id = cand.doc_b)
      SELECT doc_a, doc_b, ed, cap_len,
        CASE WHEN cap_len = 0 THEN 1.0
          ELSE 1.0 - CAST(ed AS DOUBLE) / CAST(cap_len AS DOUBLE) END
          AS ed_sim
      FROM v
      WHERE (CASE WHEN cap_len = 0 THEN 1.0
        ELSE 1.0 - CAST(ed AS DOUBLE) / CAST(cap_len AS DOUBLE) END)
        >= 0.5"""))

  // --- q232: characteristic terms per source — tf·rarity ranking, the
  // TF-IDF-shaped "what words define this domain" report. The rarity
  // weight is tf/df (one exact int/int division; log-idf would put a
  // libm `log` in the hash path — not bit-identical across engines — and
  // the corpus-size factor N multiplies every score in a source equally,
  // so the RANKING is invariant without it). Both engines order by the
  // identical double with a term tie-break, so row_number is tie-free.
  // 100 TB: one tokenize scan, two token-keyed shuffles (tf, df), a
  // term-keyed sort-merge join, then top-10 per source — the rank filter
  // is a WindowGroupLimit shape, so each task keeps only its local
  // top-10 per source before the final per-source exchange. ---------------
  private val q232 = Q("q232_tfidf_terms",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode_outer(tokens(col("text"))).as("term"))
        .filter(col("term").isNotNull)
      val dfreq = tok.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val tfreq = tok.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("score").desc, col("term"))
      tfreq.join(dfreq, "term")
        .withColumn("score",
          col("tf").cast("double") / col("df").cast("double"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("source"), col("rank"), col("term"), col("tf"),
          col("df"), col("score"))
    },
    Some(s"""WITH t AS ($tokCte),
      tok AS (SELECT source, doc_id, unnest(toks) AS term FROM t),
      dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok GROUP BY 1),
      tfreq AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),
      r AS (SELECT source, term, tf, df,
          CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS score,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) DESC, term)
            AS rank
        FROM tfreq JOIN dfreq USING (term))
      SELECT source, CAST(rank AS BIGINT) AS rank, term, tf, df, score
      FROM r WHERE rank <= 10"""))

  // --- q238: EXACT distributed AUC (Mann–Whitney with midranks) of the
  // stopword-count signal as an English-detector — the classifier-eval
  // primitive every filtering pipeline needs, computed exactly instead
  // of by a sampled/sketched ROC. Tie handling is the textbook midrank:
  // doubling ranks keeps every midrank INTEGER (2·cumBefore + count + 1),
  // so AUC = (Σ_pos midrank2 − n⁺(n⁺+1)) / (2·n⁺·n⁻) is integer
  // arithmetic with ONE final division. 100 TB: one groupBy collapses
  // docs to the distinct-score summary (score grid ≤ max tokens/doc;
  // a continuous score would bucket first, the q228 two-level pattern);
  // the rank window runs over that summary only. -------------------------
  private val q238 = Q("q238_exact_auc",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables(s, dir, "documents")
        .select(size(filter(tokens(col("text")),
            t => t.isin(stopwords: _*)))
          .cast("long").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val byScore = scored.groupBy(col("score"))
        .agg(count(lit(1)).as("n_tot"), sum(col("pos")).as("n_pos"))
      val wCum = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byScore
        .withColumn("cum_before",
          sum(col("n_tot")).over(wCum) - col("n_tot"))
        .withColumn("midrank2",
          lit(2L) * col("cum_before") + col("n_tot") + 1L)
        .agg(sum(col("n_pos") * col("midrank2")).as("r2p"),
          sum(col("n_pos")).as("n_pos"),
          sum(col("n_tot") - col("n_pos")).as("n_neg"))
        .withColumn("auc",
          (col("r2p") - col("n_pos") * (col("n_pos") + 1L)).cast("double")
            / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
    },
    Some {
      val swLst = stopwords.map(m => s"'$m'").mkString(", ")
      s"""WITH t AS ($tokCte),
      scored AS (SELECT
          CAST(len(list_filter(toks, x -> x IN ($swLst))) AS BIGINT)
            AS score,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM t),
      bys AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n_tot,
          CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM scored GROUP BY 1),
      rk AS (SELECT n_tot, n_pos,
          SUM(n_tot) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tot
            AS cum_before
        FROM bys)
      SELECT CAST(SUM(n_pos * (2 * cum_before + n_tot + 1)) AS BIGINT)
          AS r2p,
        CAST(SUM(n_pos) AS BIGINT) AS n_pos,
        CAST(SUM(n_tot - n_pos) AS BIGINT) AS n_neg,
        CAST(SUM(n_pos * (2 * cum_before + n_tot + 1))
            - SUM(n_pos) * (SUM(n_pos) + 1) AS DOUBLE)
          / CAST(2 * SUM(n_pos) * SUM(n_tot - n_pos) AS DOUBLE) AS auc
      FROM rk"""
    })

  // --- q239: exact PR-curve sweep for the q238 detector — at EVERY
  // distinct score threshold s (predict English iff score ≥ s): TP/FP,
  // precision, recall, and F1 in its rational form 2TP/(2TP+FP+FN) so
  // each metric is ONE exact division. The sweep is a suffix-cumsum
  // over the distinct-score summary (descending twin of q238's rank
  // scan) — no per-row threshold loop at any scale. ----------------------
  private val q239 = Q("q239_pr_curve",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables(s, dir, "documents")
        .select(size(filter(tokens(col("text")),
            t => t.isin(stopwords: _*)))
          .cast("long").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val byScore = scored.groupBy(col("score"))
        .agg(count(lit(1)).as("n_tot"), sum(col("pos")).as("n_pos"))
      val wDesc = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      byScore
        .withColumn("tp", sum(col("n_pos")).over(wDesc))
        .withColumn("fp", sum(col("n_tot") - col("n_pos")).over(wDesc))
        .withColumn("p", sum(col("n_pos")).over(wAll))
        .select(col("score"), col("tp"), col("fp"),
          (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
            .as("precision"),
          (col("tp").cast("double") / col("p").cast("double")).as("recall"),
          ((lit(2L) * col("tp")).cast("double")
            / (lit(2L) * col("tp") + col("fp") + (col("p") - col("tp")))
              .cast("double")).as("f1"))
    },
    Some {
      val swLst = stopwords.map(m => s"'$m'").mkString(", ")
      s"""WITH t AS ($tokCte),
      scored AS (SELECT
          CAST(len(list_filter(toks, x -> x IN ($swLst))) AS BIGINT)
            AS score,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM t),
      bys AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n_tot,
          CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM scored GROUP BY 1),
      c AS (SELECT score,
          SUM(n_pos) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
          SUM(n_tot - n_pos) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
          SUM(n_pos) OVER () AS p
        FROM bys)
      SELECT score, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) AS recall,
        CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + (p - tp) AS DOUBLE)
          AS f1
      FROM c"""
    })

  // --- q245: language-ID confusion matrix + per-class precision/recall
  // — the full error structure of q31's marker-count classifier against
  // the labeled corpus (which languages leak into which). Cell counts
  // are one grid-bounded aggregate; the class margins come from windows
  // over the ≤|langs|² summary; every metric is ONE exact division. ------
  private val q245 = Q("q245_lang_confusion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = tokens(col("text"))
      val scored = array(langMarkers.map { case (lang, ms) =>
        struct(
          size(filter(toks, t => t.isin(ms: _*))).as("score"),
          lit(lang).as("lang"))
      }: _*)
      val wTrue = Window.partitionBy(col("lang"))
      val wPred = Window.partitionBy(col("pred_lang"))
      Tables(s, dir, "documents")
        .select(col("lang"),
          array_max(scored).getField("lang").as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_true", sum(col("n")).over(wTrue))
        .withColumn("n_pred", sum(col("n")).over(wPred))
        .select(col("lang"), col("pred_lang"), col("n"), col("n_true"),
          col("n_pred"),
          (col("n").cast("double") / col("n_true").cast("double"))
            .as("recall_share"),
          (col("n").cast("double") / col("n_pred").cast("double"))
            .as("precision_share"))
    },
    Some {
      val markersSql = langMarkers.map { case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"{'score': len(list_filter(toks, t -> t IN ($lst))), 'lang': '$lang'}"
      }.mkString(",\n          ")
      s"""WITH t AS ($tokCte),
      p AS (SELECT lang, list_max([
          $markersSql]).lang AS pred_lang
        FROM t),
      cells AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM p GROUP BY 1, 2),
      m AS (SELECT lang, pred_lang, n,
          CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS n_true,
          CAST(SUM(n) OVER (PARTITION BY pred_lang) AS BIGINT) AS n_pred
        FROM cells)
      SELECT lang, pred_lang, n, n_true, n_pred,
        CAST(n AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall_share,
        CAST(n AS DOUBLE) / CAST(n_pred AS DOUBLE) AS precision_share
      FROM m"""
    })

  // --- q247: vocabulary growth curve (Heaps'-law points) — distinct
  // types seen after each tenth of the corpus in doc_id order, the
  // "is the vocab saturating" scaling diagnostic for tokenizer/corpus
  // planning. Each type collapses to its FIRST document (one token-keyed
  // shuffle); the curve is a cumsum over the distinct-first-doc summary
  // joined to ten integer thresholds — no per-checkpoint rescan. The
  // 1-row doc-count broadcast is the documented benign scalar shape. ----
  private val q247 = Q("q247_vocab_growth",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir, "documents")
      val tok = d.select(col("doc_id"),
          explode_outer(tokens(col("text"))).as("term"))
        .filter(col("term").isNotNull)
      val byFd = tok.groupBy(col("term"))
        .agg(min(col("doc_id")).as("fd"), count(lit(1)).as("tf"))
        .groupBy(col("fd"))
        .agg(count(lit(1)).as("nv"), sum(col("tf")).as("mass"))
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      byFd.crossJoin(broadcast(nDocs))
        .select(col("fd"), col("nv"), col("mass"),
          explode(array((1 to 10).map(lit): _*)).as("decile"),
          col("n_docs"))
        .filter(col("fd") < expr("(n_docs * decile) div 10"))
        .groupBy(col("decile").cast("long").as("decile"))
        .agg(max(expr("(n_docs * decile) div 10")).as("n_docs_seen"),
          sum(col("nv")).as("vocab"), sum(col("mass")).as("type_mass"))
    },
    Some(s"""WITH t AS ($tokCte),
      tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
      fdt AS (SELECT term, MIN(doc_id) AS fd,
          CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1),
      byfd AS (SELECT fd, CAST(COUNT(*) AS BIGINT) AS nv,
          CAST(SUM(tf) AS BIGINT) AS mass
        FROM fdt GROUP BY 1),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      dec AS (SELECT unnest(range(1, 11)) AS decile)
      SELECT CAST(decile AS BIGINT) AS decile,
        CAST(MAX((n_docs * decile) // 10) AS BIGINT) AS n_docs_seen,
        CAST(SUM(nv) AS BIGINT) AS vocab,
        CAST(SUM(mass) AS BIGINT) AS type_mass
      FROM byfd CROSS JOIN nd CROSS JOIN dec
      WHERE fd < (n_docs * decile) // 10
      GROUP BY 1"""))

  // --- incremental corpus admission (the nightly-crawl dedup shape):
  // an INCOMING batch (doc_id % 5 = 0, simulating a new crawl) is
  // classified against the standing BASE corpus — 'exact' when its
  // content fingerprint already exists in base, else 'near' when a
  // verified MinHash-LSH candidate (q33's bands, cross-side pairs
  // only) clears exact Jaccard ≥ 0.5, else 'novel'. In production the
  // base side's bands/fingerprints are a PERSISTED index the incoming
  // batch joins against — only incoming documents shingle per run; the
  // one data-sized shuffle is the band-key join, and verification
  // touches candidates only. ------------------------------------------
  private val q258 = Q("q258_incremental_dedup",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val incoming = d.filter(col("doc_id") % 5 === 0)
      val base = d.filter(col("doc_id") % 5 =!= 0)
      val exactHit = incoming.select(col("doc_id"), md5(col("text")).as("fp"))
        .join(base.select(md5(col("text")).as("fp")).distinct(),
          Seq("fp"), "left_semi")
        .select(col("doc_id"))
      // _outer: a plain posexplode here gets an inferred size > 0
      // filter whose pushed copy re-runs the signature chain below the
      // Generate (the q124/q263 lesson; bands of a k-signature are
      // never empty)
      def bandsOf(side: org.apache.spark.sql.DataFrame) = side
        .select(col("doc_id"), shingles(col("text"), SHINGLE_N).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          minhashSignature(col("sh"), MINHASH_K).as("sig"))
        .select(col("doc_id"),
          posexplode_outer(lshBands(col("sig"), BANDS, ROWS_PER_BAND))
            .as(Seq("band", "bkey")))
      val cand = bandsOf(incoming).as("a").join(bandsOf(base).as("b"),
          col("a.band") === col("b.band")
            && col("a.bkey") === col("b.bkey"))
        .select(col("a.doc_id").as("doc_in"), col("b.doc_id").as("doc_base"))
        .dropDuplicates("doc_in", "doc_base")
      val texts = d.select(col("doc_id"), col("text"))
      val nearHit = cand
        .join(texts.withColumnRenamed("doc_id", "doc_in")
          .withColumnRenamed("text", "text_a"), "doc_in")
        .join(texts.withColumnRenamed("doc_id", "doc_base")
          .withColumnRenamed("text", "text_b"), "doc_base")
        .filter(jaccard(shingles(col("text_a"), SHINGLE_N),
          shingles(col("text_b"), SHINGLE_N)) >= 0.5)
        .groupBy(col("doc_in"))
        .agg(count(lit(1)).as("n_near"))
      incoming.select(col("doc_id"))
        .join(exactHit.withColumn("__e", lit(1L)), Seq("doc_id"), "left")
        .join(nearHit.withColumnRenamed("doc_in", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__e").isNotNull, "exact")
            .when(col("n_near").isNotNull, "near")
            .otherwise("novel").as("status"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
    },
    Some(s"""WITH inc AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
      base AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
      ex AS (SELECT DISTINCT i.doc_id FROM inc i
        JOIN base b ON md5(i.text) = md5(b.text)),
      $lshCte,
      cand AS (SELECT DISTINCT a.doc_id AS doc_in, b.doc_id AS doc_base
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bkey = b.bkey
          AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
      near AS (SELECT doc_in, CAST(COUNT(*) AS BIGINT) AS n_near
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_in
        JOIN sh sb ON sb.doc_id = cand.doc_base
        WHERE CAST(len(sa.sh) + len(sb.sh)
               - len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
        GROUP BY 1)
      SELECT i.doc_id,
        CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
             WHEN near.doc_in IS NOT NULL THEN 'near'
             ELSE 'novel' END AS status,
        COALESCE(near.n_near, 0) AS n_near
      FROM inc i
      LEFT JOIN ex ON ex.doc_id = i.doc_id
      LEFT JOIN near ON near.doc_in = i.doc_id"""))

  // --- near-dup threshold COST CURVE: what does each Jaccard cutoff
  // buy? Over the verified LSH candidate pairs (q33's bands — the set a
  // production run would price), per threshold ∈ {0.5, 0.6, 0.8}: pairs
  // at or above it, documents the keep-first rule would drop (distinct
  // larger ids), and the exact character mass those drops remove. The
  // threshold fan-out explodes a 3-element literal over the CANDIDATE
  // pair set only — the corpus is scanned once. ------------------------
  private val q263 = Q("q263_dedup_cost_curve",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      // shared signature/candidate stage (see lshSigsAndCand)
      val (_, cand) = lshSigsAndCand(s, dir)
      val texts = d.select(col("doc_id"), col("text"))
      val scored = cand
        .join(texts.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("text", "text_a"), "doc_a")
        .join(texts.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("text", "text_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          jaccard(shingles(col("text_a"), SHINGLE_N),
            shingles(col("text_b"), SHINGLE_N)).as("jac"))
      // one chain: pre-filter at the lowest threshold, fan out the
      // 3-element literal, then ONE (t, doc_b) aggregate followed by a
      // 3-row rollup — pair count, distinct-doc count, and the char
      // mass of distinct drops all come out of the same pass (a
      // two-consumer shape here recomputed the whole LSH chain twice:
      // measured 9.2 s → one-pass form)
      val nchars = d.select(col("doc_id").as("doc_b"), col("n_chars"))
      // pinned: a plain filter on the aliased jac re-inlines the whole
      // shingle+jaccard verify into the pushed predicate (2× the
      // chain's hottest expression — the q126 pushdown lesson)
      graft.operators.PopGen.pinnedFilter(scored, col("jac") >= 0.5)
        .join(nchars, "doc_b")
        .select(explode(array(lit(0.5), lit(0.6), lit(0.8))).as("t"),
          col("doc_b"), col("jac"), col("n_chars"))
        .filter(col("jac") >= col("t"))
        .groupBy(col("t"), col("doc_b"))
        .agg(count(lit(1)).as("__np"), min(col("n_chars")).as("__nc"))
        .groupBy(col("t"))
        .agg(sum(col("__np")).as("n_pairs"),
          count(lit(1)).as("n_docs_dropped"),
          sum(col("__nc")).as("chars_dropped"))
    },
    Some(s"""WITH $lshCte,
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      scored AS (SELECT doc_a, doc_b,
          CAST(len(sa.sh) + len(sb.sh)
               - len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b),
      ts(t) AS (VALUES (0.5e0), (0.6e0), (0.8e0)),
      byt AS (SELECT t, doc_b, jac FROM scored CROSS JOIN ts
        WHERE jac >= t),
      np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM byt GROUP BY 1),
      dr AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_docs_dropped,
          CAST(SUM(n_chars) AS BIGINT) AS chars_dropped
        FROM (SELECT DISTINCT t, doc_b FROM byt) x
        JOIN documents d ON d.doc_id = x.doc_b
        GROUP BY 1)
      SELECT np.t, n_pairs, n_docs_dropped, chars_dropped
      FROM np JOIN dr ON np.t = dr.t"""))

  // --- LONGEST repeated token substring via the distributed SUFFIX
  // ARRAY (prefix doubling, `operators/SuffixArray` — the Manber–Myers
  // structure the exact-substring-dedup literature indexes with): the
  // corpus's worst memorization-risk spans are the maximal-LCP
  // neighbors in suffix order, found WITHOUT any pairwise scan — one
  // (sa, sa+1) self-join over the suffix table, LCP on the two ≤32-
  // token slices, top 10. The oracle replays the identical five
  // unrolled dense-rank doubling rounds (the operator's range-
  // partition ranking produces exactly dense_rank values, proven by
  // `SuffixArraySpec`'s brute sort). Corpus = the doc_id % 5 = 0
  // sample — the audit runs on a stable subset by design. --------------
  private val q274 = Q("q274_longest_repeat",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val sa = graft.operators.SuffixArray.build(docs)
      val toksDf = docs.select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => t =!= "").as("toks"))
      val a = sa.select(col("sa"), col("doc_id").as("da"),
        col("off").as("oa"))
      val b = sa.select((col("sa") - 1L).as("sa"),
        col("doc_id").as("db"), col("off").as("ob"))
      val cap = lit(graft.operators.SuffixArray.Cap)
      val withT = a.join(b, "sa")
        .join(toksDf.select(col("doc_id").as("da"),
          col("toks").as("ta")), "da")
        .join(toksDf.select(col("doc_id").as("db"),
          col("toks").as("tb")), "db")
        .withColumn("__la",
          slice(col("ta"), (col("oa") + 1).cast("int"), cap))
        .withColumn("__lb",
          slice(col("tb"), (col("ob") + 1).cast("int"), cap))
        .withColumn("__eq", zip_with(col("__la"), col("__lb"),
          (x, y) => x <=> y))
        // array_position returns 0 (NOT null) when no false exists —
        // i.e. when the two Cap-token slices match in full (exact-dup
        // docs, the audit's main target). Guard the sentinel like
        // functions/genetics.scala does, or those rows get lcp = −1
        // and vanish while the oracle (DuckDB list_position → NULL)
        // keeps them.
        .withColumn("__fp", array_position(col("__eq"), lit(false)))
        .withColumn("lcp",
          when(col("__fp") > 0, col("__fp") - 1).otherwise(
            least(size(col("__la")), size(col("__lb"))).cast("long")))
        .filter(col("lcp") >= 2)
      val top = withT
        .orderBy(col("lcp").desc, col("da"), col("oa"), col("db"),
          col("ob"))
        .limit(10)
      val w = Window.orderBy(col("lcp").desc, col("da"), col("oa"),
        col("db"), col("ob"))
      top.withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("lcp"), col("da"), col("oa"),
          col("db"), col("ob"),
          array_join(slice(col("ta"), (col("oa") + 1).cast("int"),
            col("lcp").cast("int")), " ").as("snippet"))
    },
    Some {
      val rounds = Seq(1, 2, 4, 8, 16).zipWithIndex.map {
        case (k, i) =>
          s"""p${i + 1} AS (SELECT a.doc_id, a.off,
            dense_rank() OVER (ORDER BY a.r, coalesce(b.r, 0)) AS r
          FROM p$i a LEFT JOIN p$i b
            ON a.doc_id = b.doc_id AND b.off = a.off + $k)"""
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
            AS toks
        FROM documents WHERE doc_id % 5 = 0),
      pos AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS off,
          toks[CAST(u.i AS INT)] AS tok
        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
      p0 AS (SELECT doc_id, off, dense_rank() OVER (ORDER BY tok) AS r
        FROM pos),
      $rounds,
      sa AS (SELECT doc_id, off,
          CAST(ROW_NUMBER() OVER (ORDER BY r, doc_id, off) AS BIGINT)
            AS sa
        FROM p5),
      adj AS (SELECT a.sa, a.doc_id AS da, a.off AS oa,
          b.doc_id AS db, b.off AS ob
        FROM sa a JOIN sa b ON b.sa = a.sa + 1),
      lc AS (SELECT da, oa, db, ob,
          ta.toks[CAST(oa + 1 AS INT):CAST(oa + 32 AS INT)] AS la,
          tb.toks[CAST(ob + 1 AS INT):CAST(ob + 32 AS INT)] AS lb,
          ta.toks AS ta
        FROM adj JOIN t ta ON ta.doc_id = da
          JOIN t tb ON tb.doc_id = db),
      scored AS (SELECT da, oa, db, ob, ta,
          coalesce(list_position(list_transform(
              range(1, greatest(len(la), len(lb)) + 1),
              i -> la[CAST(i AS INT)] IS NOT DISTINCT FROM
                lb[CAST(i AS INT)]), false) - 1,
            least(len(la), len(lb))) AS lcp
        FROM lc)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY lcp DESC, da, oa, db, ob)
          AS BIGINT) AS rank,
        CAST(lcp AS BIGINT) AS lcp, da, oa, db, ob,
        array_to_string(ta[CAST(oa + 1 AS INT):CAST(oa + lcp AS INT)],
          ' ') AS snippet
      FROM scored
      WHERE lcp >= 2
      ORDER BY lcp DESC, da, oa, db, ob
      LIMIT 10"""
    })

  // --- most-duplicated exact 4-grams via SUFFIX-ARRAY BLOCKS, gated
  // by an INDEPENDENT direct-counting oracle: positions sharing their
  // first 4 tokens are contiguous in suffix order (shorter suffixes
  // sort before every extension, so they can never interleave a
  // block), so each maximal run of equal 4-prefixes IS that 4-gram's
  // exact occurrence set. Runs found join-free of pairs: one
  // (sa−1)-shift equi-join marks breaks, the island id is a two-level
  // prefix sum (sa-bucket window + broadcast bucket offsets — never a
  // data-sized global window). The DuckDB oracle counts 4-grams
  // DIRECTLY (explode + groupBy — a different algorithm entirely), so
  // this row differentially gates the suffix array's order against
  // ground truth every round. ------------------------------------------
  private val q275 = Q("q275_sa_gram_blocks",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val G = 4
      val B = 4096L
      val docs = Tables(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val sa = graft.operators.SuffixArray.build(docs)
      val toksDf = docs.select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => t =!= "").as("toks"))
      val withG = sa.join(toksDf, "doc_id")
        .withColumn("g4", when(size(col("toks")) - col("off") >= G,
          array_join(slice(col("toks"), (col("off") + 1).cast("int"),
            lit(G)), " ")))
        .select(col("sa"), col("doc_id"), col("g4"))
      val prev = withG.select((col("sa") + 1L).as("sa"),
        col("g4").as("__gp"))
      val flagged = withG.join(prev, Seq("sa"), "left")
        .withColumn("__brk",
          when(col("g4") <=> col("__gp"), 0L).otherwise(1L))
        .withColumn("__b", expr(s"sa div ${B}L"))
      val wIn = Window.partitionBy(col("__b")).orderBy(col("sa"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wB = Window.orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pfx = flagged.groupBy(col("__b"))
        .agg(sum(col("__brk")).as("__bs"))
        .withColumn("__pre", sum(col("__bs")).over(wB) - col("__bs"))
        .select(col("__b"), col("__pre"))
      val islands = flagged
        .withColumn("__run", sum(col("__brk")).over(wIn))
        .join(broadcast(pfx), "__b")
        .withColumn("island", col("__pre") + col("__run"))
      val blocks = islands.filter(col("g4").isNotNull)
        .groupBy(col("island"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("g4")).as("gram"))
        .filter(col("n") >= 2L)
      val w = Window.orderBy(col("n").desc, col("gram"))
      blocks.orderBy(col("n").desc, col("gram")).limit(10)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("gram"), col("n"), col("n_docs"))
    },
    Some("""WITH t AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '')
            AS toks
        FROM documents WHERE doc_id % 5 = 0),
      g AS (SELECT doc_id,
          array_to_string(toks[CAST(u.i AS INT):CAST(u.i + 3 AS INT)],
            ' ') AS gram
        FROM t, unnest(range(1, len(toks) - 2)) AS u(i)
        WHERE len(toks) >= 4),
      c AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY 1 HAVING COUNT(*) >= 2)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, gram) AS BIGINT)
          AS rank, gram, n, n_docs
      FROM c ORDER BY n DESC, gram LIMIT 10"""))

  // --- dup×quality INTERACTION (the "are duplicates junk?" question
  // every curation decision hinges on): the q92 quality gate crossed
  // with q72's near-dup components into an exact 2×2 table and its
  // odds ratio as an integer numerator/denominator pair (keep∧dup ·
  // drop∧uniq vs keep∧uniq · drop∧dup) — one division at the end. The
  // oracle composes the two proven CTE chains verbatim, so this row
  // re-gates both machines plus the join between them. -----------------
  private val q278 = Q("q278_dup_quality_interaction",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val gate = graft.pipeline.TrainingData.qualityGate(docs)
        .select(col("doc_id"), col("keep"))
      val cl = graft.pipeline.TrainingData.dedupClusters(docs,
        shingleN = SHINGLE_N, minhashK = MINHASH_K,
        bands = BANDS, rowsPerBand = ROWS_PER_BAND, threshold = 0.5)
        .select(col("doc_id"), (col("cluster_size") > 1).as("is_dup"))
      gate.join(cl, "doc_id")
        .agg(
          sum(when(col("keep") && col("is_dup"), 1L).otherwise(0L))
            .as("n_keep_dup"),
          sum(when(col("keep") && !col("is_dup"), 1L).otherwise(0L))
            .as("n_keep_uniq"),
          sum(when(!col("keep") && col("is_dup"), 1L).otherwise(0L))
            .as("n_drop_dup"),
          sum(when(!col("keep") && !col("is_dup"), 1L).otherwise(0L))
            .as("n_drop_uniq"))
        .withColumn("odds_num", col("n_keep_dup") * col("n_drop_uniq"))
        .withColumn("odds_den", col("n_keep_uniq") * col("n_drop_dup"))
        .withColumn("odds_ratio", when(col("odds_den") > 0,
          col("odds_num").cast("double") / col("odds_den").cast("double")))
    },
    Some(s"""WITH RECURSIVE gk AS (
        SELECT doc_id, keep FROM (
          ${"WITH rep AS (" + repOracle + """),
          d AS (SELECT doc_id, text,
              CASE WHEN length(regexp_replace(text, '\s+', '', 'g')) = 0
                THEN NULL
                ELSE CAST(length(regexp_replace(text, '\s+', '', 'g'))
                    AS DOUBLE)
                  / len(list_filter(string_split_regex(text, '\s+'),
                      t -> t <> ''))
              END AS avg_len
            FROM documents),
          j AS (SELECT rep.*, d.avg_len, d.text FROM rep
            JOIN d USING (doc_id)),
          r AS (SELECT doc_id,
              list_sort(list_filter([
                CASE WHEN n_words < 20 THEN 'too_short' END,
                CASE WHEN n_words > 100000 THEN 'too_long' END,
                CASE WHEN avg_len < 3.0 THEN 'short_words' END,
                CASE WHEN avg_len > 10.0 THEN 'long_words' END,
                CASE WHEN max_run >= 3 THEN 'word_runs' END,
                CASE WHEN top2_frac > 0.15 THEN 'top_bigram' END,
                CASE WHEN dup5_frac > 0.15 THEN 'dup_grams' END,
                CASE WHEN contains(lower(text), 'lorem ipsum')
                  THEN 'lorem_ipsum' END,
                CASE WHEN contains(text, '{') THEN 'brace' END
              ], x -> x IS NOT NULL)) AS rs
            FROM j)
          SELECT doc_id, len(rs) = 0 AS keep FROM r"""} ) _g),
      $componentsCte,
      cs AS (SELECT doc_id,
          COUNT(*) OVER (PARTITION BY cluster) > 1 AS is_dup
        FROM lab),
      x AS (SELECT keep, is_dup FROM gk JOIN cs USING (doc_id)),
      c2 AS (SELECT
          CAST(SUM(CASE WHEN keep AND is_dup THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep_dup,
          CAST(SUM(CASE WHEN keep AND NOT is_dup THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep_uniq,
          CAST(SUM(CASE WHEN NOT keep AND is_dup THEN 1 ELSE 0 END)
            AS BIGINT) AS n_drop_dup,
          CAST(SUM(CASE WHEN NOT keep AND NOT is_dup THEN 1 ELSE 0 END)
            AS BIGINT) AS n_drop_uniq
        FROM x)
      SELECT *, n_keep_dup * n_drop_uniq AS odds_num,
        n_keep_uniq * n_drop_dup AS odds_den,
        CASE WHEN n_keep_uniq * n_drop_dup > 0
          THEN CAST(n_keep_dup * n_drop_uniq AS DOUBLE)
            / CAST(n_keep_uniq * n_drop_dup AS DOUBLE) END AS odds_ratio
      FROM c2"""))

  // --- corpus DUPLICATION MASS (the Lee et al. 2022 release metric:
  // what fraction of tokens sit inside duplicated text?): a token
  // position is covered when any 4-gram window containing it occurs
  // ≥ 2 times corpus-wide. One gram-key aggregate finds the repeated
  // grams, their start positions fan out ×4 into covered offsets, and
  // a per-doc distinct collapses overlaps — exact counts, one final
  // division. -----------------------------------------------------------
  private val q279 = Q("q279_duplication_mass",
    (s, dir) => {
      val G = 4
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), "\\s+"), x => x =!= "").as("toks"))
      val grams = t
        .select(col("doc_id"), size(col("toks")).as("n"),
          // fused codegen gram kernel (the CASE+transform+slice+join
          // chain it replaces was an interpreted HOF per document);
          // emits the empty array below G tokens, whose outer-explode
          // null row the gram filter drops exactly like the old
          // null-CASE branch
          posexplode_outer(spanGrams(col("toks"), G))
            .as(Seq("off", "gram")))
        .filter(col("gram").isNotNull && col("n") >= G)
        .select(col("doc_id"), col("off").cast("long").as("off"),
          col("gram"))
      val repeated = grams.groupBy(col("gram"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2L)
        .select(col("gram"))
      val covered = grams.join(repeated, "gram")
        .select(col("doc_id"),
          explode(sequence(col("off"), col("off") + (G - 1)))
            .as("pos"))
        .distinct()
        .agg(count(lit(1)).as("n_covered"))
      val total = t.agg(sum(size(col("toks"))).cast("long")
        .as("n_tokens"))
      total.crossJoin(broadcast(covered))
        .withColumn("dup_frac", col("n_covered").cast("double")
          / col("n_tokens").cast("double"))
    },
    Some("""WITH t AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '')
            AS toks
        FROM documents),
      g AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS off,
          array_to_string(toks[CAST(u.i AS INT):CAST(u.i + 3 AS INT)],
            ' ') AS gram
        FROM t, unnest(range(1, len(toks) - 2)) AS u(i)
        WHERE len(toks) >= 4),
      rep AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
      cov AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_covered
        FROM (SELECT DISTINCT doc_id, off + k.k AS pos
          FROM g JOIN rep USING (gram),
            (SELECT unnest(range(0, 4)) AS k) k)),
      tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_tokens FROM t)
      SELECT n_tokens, n_covered,
        CAST(n_covered AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_frac
      FROM tot CROSS JOIN cov"""))

  // --- EXACT-SUBSTRING dedup at the Lee et al. 2022 THRESHOLD (50
  // tokens, "Deduplicating Training Data Makes Language Models Better"
  // §4.1) via the suffix array at cap = 64 ≥ threshold: positions
  // sharing their first 50 tokens form contiguous runs in suffix order
  // (the prefix-interval property — a position between two 50-prefix
  // sharers must share the prefix itself), so cross-document
  // duplicated 50-token spans fall out of ONE (sa−1)-shift join + the
  // two-level island prefix sum — never a pairwise scan. Gated by an
  // INDEPENDENT direct 50-gram counting oracle (the q275 differential
  // pattern): the SA path and the explode-groupBy path must agree
  // block for block. Full corpus (the %5 sample has no cross-doc
  // 50-token repeat at sf0.01 — this workload needs the real dup
  // structure). ---------------------------------------------------------
  /** 50-gram OCCURRENCES grouped into spans by the cap-64 SUFFIX
    * ARRAY: one row per token position opening a 50-gram, with the SA
    * run id `island` (two occurrences share an island iff their first
    * 50 tokens agree — the prefix-interval property makes every such
    * group one contiguous run in suffix order), the position
    * (doc_id, off), and the gram text `g50`. Shared by the q280 span
    * finder and the q281 removal rebuild; both are gated by
    * INDEPENDENT direct-counting oracles.
    *
    * A [[graft.core.SharedStages]] stage: both consumers need the SAME
    * cap-64 suffix-array occurrence table — the expensive stage in
    * each (a real release pipeline builds the corpus suffix array ONCE
    * and runs every exact-substring audit off it). */
  private def saSpanOccurrences(s: SparkSession, dir: String)
      : DataFrame = {
    val docsIn = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    SharedStages.sa.get(docsIn.queryExecution.analyzed.canonicalized) {
      saSpanOccurrencesPlan(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** (hits, misses) of the shared suffix-array occurrence stage. */
  def saSharedTelemetry: (Long, Long) = SharedStages.sa.telemetry

  private def saSpanOccurrencesPlan(s: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val G = 50
    val B = 4096L
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val sa = graft.operators.SuffixArray.build(docs, cap = 64)
    val toksDf = docs.select(col("doc_id"),
      filter(split(col("text"), "\\s+"), t => t =!= "").as("toks"))
    val withG = sa.join(toksDf, "doc_id")
      .withColumn("g50", when(size(col("toks")) - col("off") >= G,
        array_join(slice(col("toks"), (col("off") + 1).cast("int"),
          lit(G)), " ")))
      .select(col("sa"), col("doc_id"), col("off"), col("g50"))
    val prev = withG.select((col("sa") + 1L).as("sa"),
      col("g50").as("__gp"))
    val flagged = withG.join(prev, Seq("sa"), "left")
      .withColumn("__brk",
        when(col("g50") <=> col("__gp"), 0L).otherwise(1L))
      .withColumn("__b", expr(s"sa div ${B}L"))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("sa"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pfx = flagged.groupBy(col("__b"))
      .agg(sum(col("__brk")).as("__bs"))
      .withColumn("__pre", sum(col("__bs")).over(wB) - col("__bs"))
      .select(col("__b"), col("__pre"))
    flagged
      .withColumn("__run", sum(col("__brk")).over(wIn))
      .join(broadcast(pfx), "__b")
      .withColumn("island", col("__pre") + col("__run"))
      .filter(col("g50").isNotNull)
      .select(col("island"), col("doc_id"), col("off"), col("g50"))
  }

  private val q280 = Q("q280_sa_substring_dedup",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // a block is a DUPLICATED CROSS-DOC SPAN when its occurrence set
      // spans ≥ 2 documents — the memorization-risk unit Lee et al.
      // remove; same-doc-only repeats are excluded by n_docs >= 2
      val blocks = saSpanOccurrences(s, dir)
        .groupBy(col("island"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("g50")).as("span"))
        .filter(col("n") >= 2L && col("n_docs") >= 2L)
      val summary = blocks.agg(
        count(lit(1)).as("n_spans"),
        coalesce(sum(col("n")), lit(0L)).as("n_occurrences"))
      val w = Window.orderBy(col("n").desc, col("span"))
      blocks.orderBy(col("n").desc, col("span")).limit(10)
        .withColumn("rank", row_number().over(w).cast("long"))
        .crossJoin(broadcast(summary))
        .select(col("rank"), col("span"), col("n"), col("n_docs"),
          col("n_spans"), col("n_occurrences"))
    },
    Some("""WITH t AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '')
            AS toks
        FROM documents),
      g AS (SELECT doc_id,
          array_to_string(toks[CAST(u.i AS INT):CAST(u.i + 49 AS INT)],
            ' ') AS span
        FROM t, unnest(range(1, len(toks) - 48)) AS u(i)
        WHERE len(toks) >= 50),
      c AS (SELECT span, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY 1
        HAVING COUNT(*) >= 2 AND COUNT(DISTINCT doc_id) >= 2),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(coalesce(SUM(n), 0) AS BIGINT) AS n_occurrences
        FROM c)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, span) AS BIGINT)
          AS rank, span, n, n_docs, n_spans, n_occurrences
      FROM c CROSS JOIN s
      ORDER BY n DESC, span LIMIT 10"""))

  // --- the Lee et al. 2022 REBUILD: remove every non-first occurrence
  // of a cross-document duplicated 50-token span and re-emit the
  // corpus (the q81 span-removal shape, now fed by REAL exact-substring
  // spans instead of span keys). Occurrences of one span are one
  // gram-key group; the keeper is the (doc_id, off)-min occurrence
  // (deterministic, engine-replayable); a removed occurrence covers
  // token positions off..off+49 and the rebuild drops the UNION of
  // covered positions — overlapping spans compose identically in both
  // engines. One gram-key shuffle + one position-key distinct; nothing
  // pairwise. --------------------------------------------------------------
  private val q281 = Q("q281_substring_removal_rebuild",
    (s, dir) => {
      val G = 50
      val occ = saSpanOccurrences(s, dir)
      // keeper per duplicated cross-doc span = the (doc_id, off)-min
      // occurrence of its SA run (deterministic, engine-replayable)
      val agg = occ.groupBy(col("island"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(struct(col("doc_id"), col("off"))).as("keep"))
        .filter(col("n") >= 2L && col("n_docs") >= 2L)
        .select(col("island"), col("keep.doc_id").as("kd"),
          col("keep.off").as("ko"))
      val removed = occ.join(agg, "island")
        .filter(!(col("doc_id") === col("kd") && col("off") === col("ko")))
      val covered = removed
        .select(col("doc_id"),
          explode(sequence(col("off"), col("off") + (G - 1))).as("pos"))
        .distinct()
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("pos"))).as("cut"))
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), "\\s+"), x => x =!= "").as("toks"))
      t.join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_before"),
          (size(col("toks")) - coalesce(size(col("cut")), lit(0)))
            .cast("long").as("n_after"),
          array_join(filter(col("toks"), (_, i) =>
            !coalesce(array_contains(col("cut"), i.cast("long")),
              lit(false))), " ").as("rebuilt"))
    },
    Some("""WITH t AS (SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> x <> '')
            AS toks
        FROM documents),
      g AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS off,
          array_to_string(toks[CAST(u.i AS INT):CAST(u.i + 49 AS INT)],
            ' ') AS gram
        FROM t, unnest(range(1, len(toks) - 48)) AS u(i)
        WHERE len(toks) >= 50),
      a AS (SELECT gram,
          min(struct_pack(doc_id := doc_id, off := off)) AS keep
        FROM g GROUP BY 1
        HAVING COUNT(*) >= 2 AND COUNT(DISTINCT doc_id) >= 2),
      rm AS (SELECT g.doc_id, g.off FROM g JOIN a USING (gram)
        WHERE NOT (g.doc_id = a.keep.doc_id AND g.off = a.keep.off)),
      cov AS (SELECT doc_id, list(DISTINCT off + k.k) AS cut
        FROM rm, (SELECT unnest(range(0, 50)) AS k) k
        GROUP BY 1)
      SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_before,
        CAST(len(t.toks) - coalesce(len(c.cut), 0) AS BIGINT) AS n_after,
        coalesce(array_to_string([p.tok
          FOR p IN list_transform(t.toks,
            (x, i) -> struct_pack(tok := x, i := i))
          IF c.cut IS NULL OR NOT list_contains(c.cut, p.i - 1)],
          ' '), '') AS rebuilt
      FROM t LEFT JOIN cov c USING (doc_id)"""))

  // --- q287: DETERMINISTIC HyperLogLog (Flajolet 2007), the sketch
  // every 100 TB distinct-count pass starts with — made ENGINE-
  // REPLAYABLE: md5-derived 60-bit hashes (the house determinism
  // idiom), 64 registers, and the harmonic mean kept as an EXACT
  // BIGINT (Σ 2^(55−M_j) — register terms are powers of two, so the
  // scaled sum is integer arithmetic; classic HLL sums 2^−M doubles in
  // data order and can never hash-match). One token-key aggregate for
  // the registers + the exact countDistinct it is judged against; the
  // final estimate is a fixed-arity double expression. --------------------
  private val q287 = Q("q287_hll_distinct",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(explode(filter(split(col("text"), "\\s+"),
          t => t =!= "")).as("tok"))
      val h = toks.select(col("tok"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
          .as("i64"))
      val reg = h
        .select((col("i64") % 64).as("bucket"),
          expr("i64 div 64").as("w"))
        .withColumn("rho", when(col("w") === 0, lit(55L))
          .otherwise(lit(55L) - length(bin(col("w"))).cast("long")))
        .groupBy(col("bucket")).agg(max(col("rho")).as("m"))
      val spine = s.range(0, 64).select(col("id").as("bucket"))
      val z = spine.join(reg, Seq("bucket"), "left")
        .withColumn("m", coalesce(col("m"), lit(0L)))
        .agg(sum(expr("CAST(power(2, 55 - m) AS BIGINT)")).as("z"))
      val exact = h.agg(countDistinct(col("tok")).as("n_exact"))
      exact.crossJoin(broadcast(z))
        .withColumn("hll_estimate",
          lit(0.709) * lit(4096.0) * lit(36028797018963968.0)
            / col("z").cast("double"))
        .withColumn("rel_err",
          (col("hll_estimate") - col("n_exact").cast("double"))
            / col("n_exact").cast("double"))
    },
    Some("""WITH tok AS (SELECT unnest(list_filter(
          string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        FROM documents),
      h AS (SELECT tok,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS i64
        FROM tok),
      r AS (SELECT i64 % 64 AS bucket, i64 // 64 AS w FROM h),
      rr AS (SELECT bucket,
          max(CASE WHEN w = 0 THEN 55
              ELSE 55 - length(bin(w)) END) AS m
        FROM r GROUP BY 1),
      spine AS (SELECT unnest(range(0, 64)) AS bucket),
      regs AS (SELECT spine.bucket, coalesce(rr.m, 0) AS m
        FROM spine LEFT JOIN rr USING (bucket)),
      zz AS (SELECT CAST(SUM(CAST(power(2, 55 - m) AS BIGINT))
          AS BIGINT) AS z FROM regs),
      ex AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact
        FROM h),
      est AS (SELECT n_exact, z,
          CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
            * CAST(36028797018963968 AS DOUBLE) / CAST(z AS DOUBLE)
            AS hll_estimate
        FROM ex CROSS JOIN zz)
      SELECT n_exact, z, hll_estimate,
        (hll_estimate - CAST(n_exact AS DOUBLE))
          / CAST(n_exact AS DOUBLE) AS rel_err
      FROM est"""))

  // --- q291: HLL register MERGE (the property that makes sketches the
  // 100 TB answer: per-shard registers combine by elementwise max, so
  // a fleet summarizes locally and ships 64 bytes per shard instead of
  // re-scanning): registers built independently on the doc_id-even and
  // doc_id-odd shards, merged via greatest(), and the row PROVES
  // merge(shardA, shardB) == whole-corpus registers by carrying both
  // estimates plus the count of differing registers (must be 0). Same
  // exact-BIGINT harmonic mean as q287. -----------------------------------
  private val q291 = Q("q291_hll_merge",
    (s, dir) => {
      def registers(docs: DataFrame): DataFrame = {
        val h = docs.select(explode(filter(split(col("text"), "\\s+"),
            t => t =!= "")).as("tok"))
          .select(conv(substring(md5(col("tok")), 1, 15), 16, 10)
            .cast("long").as("i64"))
        val reg = h
          .select((col("i64") % 64).as("bucket"),
            expr("i64 div 64").as("w"))
          .withColumn("rho", when(col("w") === 0, lit(55L))
            .otherwise(lit(55L) - length(bin(col("w"))).cast("long")))
          .groupBy(col("bucket")).agg(max(col("rho")).as("m"))
        s.range(0, 64).select(col("id").as("bucket"))
          .join(reg, Seq("bucket"), "left")
          .withColumn("m", coalesce(col("m"), lit(0L)))
      }
      val docs = Tables(s, dir, "documents")
      val even = registers(docs.filter(col("doc_id") % 2 === 0))
        .withColumnRenamed("m", "me")
      val odd = registers(docs.filter(col("doc_id") % 2 === 1))
        .withColumnRenamed("m", "mo")
      val whole = registers(docs).withColumnRenamed("m", "mw")
      val merged = even.join(odd, "bucket").join(whole, "bucket")
        .withColumn("mm", greatest(col("me"), col("mo")))
      def est(zc: org.apache.spark.sql.Column) =
        lit(0.709) * lit(4096.0) * lit(36028797018963968.0) /
          zc.cast("double")
      merged.agg(
          sum(expr("CAST(power(2, 55 - mm) AS BIGINT)")).as("z_merged"),
          sum(expr("CAST(power(2, 55 - mw) AS BIGINT)")).as("z_whole"),
          sum(when(col("mm") =!= col("mw"), 1L).otherwise(0L))
            .as("n_register_diffs"))
        .withColumn("est_merged", est(col("z_merged")))
        .withColumn("est_whole", est(col("z_whole")))
    },
    Some("""WITH h AS (SELECT doc_id,
          CAST('0x' || substr(md5(u.tok), 1, 15) AS BIGINT) AS i64
        FROM (SELECT doc_id, unnest(list_filter(
            string_split_regex(text, '\s+'), x -> x <> '')) AS tok
          FROM documents) u),
      r AS (SELECT doc_id % 2 AS shard, i64 % 64 AS bucket,
          CASE WHEN i64 // 64 = 0 THEN 55
            ELSE 55 - length(bin(i64 // 64)) END AS rho
        FROM h),
      spine AS (SELECT unnest(range(0, 64)) AS bucket),
      re AS (SELECT spine.bucket, coalesce(x.m, 0) AS me FROM spine
        LEFT JOIN (SELECT bucket, max(rho) AS m FROM r WHERE shard = 0
          GROUP BY 1) x USING (bucket)),
      ro AS (SELECT spine.bucket, coalesce(x.m, 0) AS mo FROM spine
        LEFT JOIN (SELECT bucket, max(rho) AS m FROM r WHERE shard = 1
          GROUP BY 1) x USING (bucket)),
      rw AS (SELECT spine.bucket, coalesce(x.m, 0) AS mw FROM spine
        LEFT JOIN (SELECT bucket, max(rho) AS m FROM r
          GROUP BY 1) x USING (bucket)),
      mg AS (SELECT re.bucket, greatest(me, mo) AS mm, mw
        FROM re JOIN ro USING (bucket) JOIN rw USING (bucket)),
      agg AS (SELECT
          CAST(SUM(CAST(power(2, 55 - mm) AS BIGINT)) AS BIGINT)
            AS z_merged,
          CAST(SUM(CAST(power(2, 55 - mw) AS BIGINT)) AS BIGINT)
            AS z_whole,
          CAST(SUM(CASE WHEN mm <> mw THEN 1 ELSE 0 END) AS BIGINT)
            AS n_register_diffs
        FROM mg)
      SELECT z_merged, z_whole, n_register_diffs,
        CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
          * CAST(36028797018963968 AS DOUBLE)
          / CAST(z_merged AS DOUBLE) AS est_merged,
        CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
          * CAST(36028797018963968 AS DOUBLE)
          / CAST(z_whole AS DOUBLE) AS est_whole
      FROM agg"""))

  // --- q293: SOURCE-level Jaccard similarity matrix (the "which feeds
  // duplicate each other" audit that decides crawl dedup priorities,
  // complementing q216's doc-level source-flow matrix): each source's
  // profile is its DISTINCT shingle set; pairwise Jaccard comes from
  // ONE shingle-key self-join over the (source, shingle) table — the
  // per-shingle fan-out is bounded by #sources² (a bounded dimension,
  // never the corpus), and |A∪B| = |A|+|B|−|A∩B| needs only the
  // broadcast per-source sizes. Exact integer counts, one final
  // division. ---------------------------------------------------------------
  private val q293 = Q("q293_source_similarity",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ssh = Tables(s, dir, "documents")
        .select(col("source"),
          explode(shingles(col("text"), SHINGLE_N)).as("sh"))
        .distinct()
      val sizes = ssh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val a = ssh.select(col("source").as("src_a"), col("sh"))
      val b = ssh.select(col("source").as("src_b"), col("sh"))
      val inter = a.join(b, Seq("sh"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("inter"))
      val j = inter
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n").as("na"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n").as("nb"))), "src_b")
        .withColumn("uni", col("na") + col("nb") - col("inter"))
        .withColumn("jaccard",
          col("inter").cast("double") / col("uni").cast("double"))
      val w = Window.orderBy(col("jaccard").desc, col("src_a"),
        col("src_b"))
      j.orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
        .limit(15)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("src_a"), col("src_b"), col("inter"),
          col("uni"), col("jaccard"))
    },
    Some(s"""WITH t AS ($tokCte),
      ssh AS (SELECT DISTINCT source, u.sh FROM (
        SELECT source,
          CASE WHEN len(toks) >= $SHINGLE_N THEN
            list_distinct(list_transform(
              range(1, len(toks) - ${SHINGLE_N - 2}),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
          ELSE [] END AS shl FROM t), unnest(shl) AS u(sh)),
      sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ssh
        GROUP BY 1),
      inter AS (SELECT a.source AS src_a, b.source AS src_b,
          CAST(COUNT(*) AS BIGINT) AS inter
        FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.source < b.source
        GROUP BY 1, 2),
      j AS (SELECT src_a, src_b, inter,
          na.n + nb.n - inter AS uni,
          CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE)
            AS jaccard
        FROM inter
        JOIN sizes na ON na.source = src_a
        JOIN sizes nb ON nb.source = src_b)
      SELECT CAST(ROW_NUMBER() OVER
          (ORDER BY jaccard DESC, src_a, src_b) AS BIGINT) AS rank,
        src_a, src_b, inter, CAST(uni AS BIGINT) AS uni, jaccard
      FROM j ORDER BY jaccard DESC, src_a, src_b LIMIT 15"""))

  // --- q344: RAG-STYLE TOKEN CHUNKING — fixed 64-token windows at
  // stride 48 (16-token overlap), the retrieval-index splitter. Pure
  // projection + one generator fan (no shuffle); the md5 fingerprint
  // is the downstream dedup key. The oracle replays every chunk bound
  // and fingerprint from the same tokenisation. ------------------------
  private val q344 = Q("q344_token_chunks",
    (s, dir) => graft.pipeline.TrainingData.tokenChunks(
      Tables(s, dir, "documents"), window = 64, stride = 48),
    Some(s"""WITH t AS ($tokCte),
      p AS (SELECT doc_id, toks, len(toks) AS n FROM t
        WHERE len(toks) > 0),
      k AS (SELECT doc_id, toks, n, unnest(range(0,
          (CASE WHEN n - 64 > 0 THEN n - 64 ELSE 0 END + 47) // 48 + 1))
          AS k
        FROM p)
      SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        CAST(LEAST(64, n - k * 48) AS BIGINT) AS n_tokens,
        md5(array_to_string(
          toks[CAST(k * 48 + 1 AS INT) :
               CAST(k * 48 + LEAST(64, n - k * 48) AS INT)], ' '))
          AS chunk_md5
      FROM k"""))

  // --- q345: CHUNK-LEVEL EXACT DEDUP — shared 64-token chunks across
  // documents (the retrieval-corpus variant of line dedup: an index
  // stores each repeated chunk once). ONE shuffle on the content
  // fingerprint; counters only. -----------------------------------------
  private val q345 = Q("q345_chunk_dedup",
    (s, dir) => graft.pipeline.TrainingData.tokenChunks(
        Tables(s, dir, "documents"), window = 64, stride = 48)
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper_doc"))
      .filter(col("n_chunks") > 1),
    Some(s"""WITH t AS ($tokCte),
      p AS (SELECT doc_id, toks, len(toks) AS n FROM t
        WHERE len(toks) > 0),
      k AS (SELECT doc_id, toks, n, unnest(range(0,
          (CASE WHEN n - 64 > 0 THEN n - 64 ELSE 0 END + 47) // 48 + 1))
          AS k
        FROM p),
      c AS (SELECT doc_id,
          md5(array_to_string(
            toks[CAST(k * 48 + 1 AS INT) :
                 CAST(k * 48 + LEAST(64, n - k * 48) AS INT)], ' '))
            AS chunk_md5
        FROM k)
      SELECT chunk_md5, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        MIN(doc_id) AS keeper_doc
      FROM c GROUP BY chunk_md5 HAVING COUNT(*) > 1"""))

  // --- q354: SENTENCE-LEVEL cross-document dedup — the CCNet/C4
  // granularity between per-doc line dedup (q99) and 64-token chunk
  // dedup (q345): sentences split on [.!?]+ runs (no lookbehind —
  // RE2-safe), normalized by trim, fingerprinted, counted across the
  // corpus. ONE shuffle on the sentence fingerprint; boilerplate
  // sentences surface as high-count rows. -------------------------------
  private val q354 = Q("q354_sentence_dedup",
    (s, dir) => {
      // the corpus has no naturally repeated sentences, so the q99
      // discipline applies: splice the boilerplate a real crawl
      // carries (every doc gets the subscribe line; odd docs a legal
      // footer) and the dedup must surface EXACTLY those
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), concat(
          lit("Subscribe to our newsletter. "),
          col("text"),
          when(col("doc_id") % 2 === 1,
            lit(". All rights reserved.")).otherwise(lit("")))
          .as("text"))
      val sent = d
        .select(col("doc_id"), explode(filter(
          transform(split(col("text"), "[.!?]+"), t => trim(t)),
          t => t =!= "")).as("sentence"))
      sent.groupBy(md5(col("sentence").cast("binary")).as("sent_md5"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          min(length(col("sentence"))).as("sent_len"))
        .filter(col("n_occurrences") > 1)
    },
    Some("""WITH d AS (SELECT doc_id,
          'Subscribe to our newsletter. ' || text ||
            CASE WHEN doc_id % 2 = 1 THEN '. All rights reserved.'
              ELSE '' END AS text
        FROM documents),
      s AS (SELECT doc_id, trim(se) AS sentence
        FROM (SELECT doc_id,
            unnest(string_split_regex(text, '[.!?]+')) AS se
          FROM d)
        WHERE trim(se) <> '')
      SELECT md5(sentence) AS sent_md5,
        CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        MIN(doc_id) AS first_doc,
        CAST(MIN(len(sentence)) AS INT) AS sent_len
      FROM s GROUP BY md5(sentence) HAVING COUNT(*) > 1"""))

  // --- q376: UNICODE NFC NORMALIZATION census — the canonicalization
  // pass content-addressed dedup depends on (decomposed e+U+0301 and
  // composed é are identical text but different bytes; hashing
  // un-normalized text silently splits duplicate groups). The corpus
  // is ASCII, so the q99/q354 splice discipline applies: every doc
  // gets a deterministic decomposed suffix (combining acute / combining
  // diaeresis / plain ascii by doc_id) and the census must report
  // exactly the normalization deltas. Engine side runs the fused
  // NfcNormalizeExpr codegen kernel (JDK Normalizer); DuckDB replays
  // with utf8proc's nfc_normalize — both Unicode-conformant NFC.
  // Pure projection, zero shuffles. -------------------------------------
  private val q376 = Q("q376_nfc_census",
    (s, dir) => {
      // the spliced marks are DECOMPOSED (base letter + combining
      // U+0301 / U+0308) so NFC genuinely composes them; the oracle
      // splices the same decomposed bytes via chr()
      val raw = Tables(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          expr("repeat(CASE CAST(doc_id % 3 AS INT) WHEN 0 " +
            "THEN 'é' WHEN 1 THEN 'ö' ELSE 'x' END, " +
            "CAST(doc_id % 5 + 1 AS INT))")).as("raw"))
      raw.select(col("doc_id"),
        octet_length(col("raw")).cast("long").as("n_bytes_raw"),
        octet_length(graft.functions.textfns.nfcNormalize(col("raw")))
          .cast("long").as("n_bytes_nfc"),
        (graft.functions.textfns.nfcNormalize(col("raw")) =!= col("raw"))
          .as("changed"),
        md5(graft.functions.textfns.nfcNormalize(col("raw"))
          .cast("binary")).as("nfc_md5"))
    },
    Some("""WITH r AS (SELECT doc_id,
          text || repeat(CASE CAST(doc_id % 3 AS INT)
              WHEN 0 THEN 'e' || chr(769)
              WHEN 1 THEN 'o' || chr(776)
              ELSE 'x' END,
            CAST(doc_id % 5 + 1 AS INT)) AS raw
        FROM documents)
      SELECT doc_id,
        CAST(strlen(raw) AS BIGINT) AS n_bytes_raw,
        CAST(strlen(nfc_normalize(raw)) AS BIGINT) AS n_bytes_nfc,
        (nfc_normalize(raw) <> raw) AS changed,
        md5(nfc_normalize(raw)) AS nfc_md5
      FROM r"""))

  // --- q377: INVISIBLE-CHARACTER audit — zero-width spaces/joiners
  // and word-joiner/BOM characters hide token boundaries, split
  // exact-dedup groups, and are the classic prompt-injection carrier;
  // a corpus release strips and COUNTS them. Spliced deterministically
  // (the corpus is clean ASCII), stripped with the same 5-char class
  // on both engines (Java regex / RE2 with the g flag), counted as a
  // character-length delta. Pure projection, zero shuffles. ------------
  private val q377 = Q("q377_invisible_census",
    (s, dir) => {
      val zw = Tables(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          expr("repeat(CASE CAST(doc_id % 4 AS INT) " +
            "WHEN 0 THEN '\\u200B' WHEN 1 THEN '\\u200D' " +
            "WHEN 2 THEN '\\uFEFF' ELSE '' END, " +
            "CAST(doc_id % 3 AS INT))"),
          lit("end")).as("raw"))
      val clean = regexp_replace(col("raw"),
        "[\\u200B\\u200C\\u200D\\uFEFF\\u2060]", "")
      zw.select(col("doc_id"),
        length(col("raw")).cast("long").as("n_chars_raw"),
        (length(col("raw")) - length(clean)).cast("long")
          .as("n_invisible"),
        md5(clean.cast("binary")).as("clean_md5"))
    },
    Some("""WITH r AS (SELECT doc_id,
          text || repeat(CASE CAST(doc_id % 4 AS INT)
              WHEN 0 THEN chr(8203) WHEN 1 THEN chr(8205)
              WHEN 2 THEN chr(65279) ELSE '' END,
            CAST(doc_id % 3 AS INT)) || 'end' AS raw
        FROM documents)
      SELECT doc_id,
        CAST(length(raw) AS BIGINT) AS n_chars_raw,
        CAST(length(raw) - length(regexp_replace(raw,
          '[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{2060}]', '', 'g'))
          AS BIGINT) AS n_invisible,
        md5(regexp_replace(raw,
          '[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{2060}]', '', 'g'))
          AS clean_md5
      FROM r"""))

  // --- q378: URL CANONICALIZATION dedup — the crawl-frontier pass
  // that collapses scheme/host case, default ports, tracking params
  // and fragments BEFORE url-keyed dedup (q98's exact-url dedup would
  // split these variants into distinct groups). URLs are synthesized
  // deterministically with doc_id-driven variation (upper-cased host
  // + :443 on evens, a utm_source param on doc_id%3=0, a fragment on
  // doc_id%4=1) over a shared path key (doc_id%200) so canonical
  // groups genuinely merge raw variants. The canonicalization is the
  // SAME four-step rewrite on both engines (fragment strip, lowercase
  // scheme://host, :443 port strip, utm-param strip — no group refs
  // in replacements, so Java-regex and RE2 agree byte-for-byte). ONE
  // canonical-key shuffle, like every exact-dedup lane. ----------------
  private val q378 = Q("q378_url_canonical_dedup",
    (s, dir) => {
      val d = Tables(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0,
            lit("HTTPS://WWW.EXAMPLE.COM:443"))
            .otherwise(lit("https://www.example.com")),
          lit("/docs/"), (col("doc_id") % 200).cast("string"),
          when(col("doc_id") % 3 === 0, lit("?utm_source=feed&id="))
            .otherwise(lit("?id=")),
          ((col("doc_id") % 200) % 7).cast("string"),
          when(col("doc_id") % 4 === 1, lit("#section"))
            .otherwise(lit(""))).as("url"))
      val noFrag = regexp_replace(col("url"), "#.*$", "")
      val lowered = concat(
        lower(regexp_extract(noFrag, "^[^/]*//[^/]*", 0)),
        regexp_extract(noFrag, "^[^/]*//[^/]*(.*)$", 1))
      val noPort = regexp_replace(lowered, ":443/", "/")
      val canon = regexp_replace(noPort, "utm_[^&]*&", "")
      d.select(col("doc_id"), col("url"), canon.as("canonical"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw_variants"),
          min(col("doc_id")).as("first_doc"))
    },
    Some("""WITH u AS (SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.EXAMPLE.COM:443'
            ELSE 'https://www.example.com' END
          || '/docs/' || CAST(doc_id % 200 AS VARCHAR)
          || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id='
            ELSE '?id=' END
          || CAST((doc_id % 200) % 7 AS VARCHAR)
          || CASE WHEN doc_id % 4 = 1 THEN '#section' ELSE '' END
          AS url
        FROM documents),
      c AS (SELECT doc_id, url,
          regexp_replace(
            replace(
              lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                '^[^/]*//[^/]*', 0))
              || regexp_extract(regexp_replace(url, '#.*$', ''),
                '^[^/]*//[^/]*(.*)$', 1),
              ':443/', '/'),
            'utm_[^&]*&', '') AS canonical
        FROM u)
      SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
        MIN(doc_id) AS first_doc
      FROM c GROUP BY 1"""))

  override def queries: Seq[Q] =
    Seq(q30, q31, q32, q33, q34, q35, q62, q68, q69, q70, q71, q72, q73,
      q74, q79, q81, q82, q83, q86, q87, q88, q92, q94, q97, q98, q99,
      q100, q102, q125, q127, q128, q142, q144, q145, q146, q147, q149,
      q160, q161, q167, q169, q187, q188, q189, q199, q207, q210, q216,
      q223, q230, q232, q238, q239, q245, q247, q258, q263, q274, q275,
      q278, q279, q280, q281, q287, q291, q293, q301, q302, q303,
      q304, q314, q315, q316, q320, q330, q331, q334, q344, q345, q354,
      q376, q377, q378)

  // --- q302: SKETCHED set overlap via inclusion–exclusion on HLL
  // registers (the dedup-planning question "how much vocabulary do two
  // crawls share?" answered without a distinct-intersection shuffle):
  // per-shard registers (doc_id-even vs -odd, the q291 shards), union
  // registers by elementwise max, and |A∩B| ≈ est(A) + est(B) −
  // est(A∪B) — all fixed-arity arithmetic over exact-BIGINT harmonic
  // sums. The row also carries the EXACT shared-token count (one
  // tok-key aggregate with per-shard presence flags) so the sketch is
  // judged against truth in the same row. At 100 TB only the exact
  // column costs a corpus shuffle; the sketch side ships 64 registers
  // per shard. ----------------------------------------------------------
  private lazy val q302 = Q("q302_hll_overlap",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).as("ev"),
          explode(filter(split(col("text"), "\\s+"),
            t => t =!= "")).as("tok"))
      val h = toks.select(col("ev"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
          .as("i64"))
      val reg = h
        .select(col("ev"), (col("i64") % 64).as("bucket"),
          expr("i64 div 64").as("w"))
        .withColumn("rho", when(col("w") === 0, lit(55L))
          .otherwise(lit(55L) - length(bin(col("w"))).cast("long")))
        .groupBy(col("ev"), col("bucket")).agg(max(col("rho")).as("m"))
      val spine = s.range(0, 64).select(col("id").as("bucket"))
      val wide = spine
        .join(reg.filter(col("ev")).select(col("bucket"),
          col("m").as("ma")), Seq("bucket"), "left")
        .join(reg.filter(!col("ev")).select(col("bucket"),
          col("m").as("mb")), Seq("bucket"), "left")
        .withColumn("ma", coalesce(col("ma"), lit(0L)))
        .withColumn("mb", coalesce(col("mb"), lit(0L)))
        .withColumn("mu", greatest(col("ma"), col("mb")))
      def z(c: String) = sum(expr(s"CAST(power(2, 55 - $c) AS BIGINT)"))
      val sk = wide.agg(z("ma").as("z_a"), z("mb").as("z_b"),
        z("mu").as("z_u"))
      val exact = toks.groupBy(col("tok"))
        .agg(max(when(col("ev"), 1L).otherwise(0L)).as("ina"),
          max(when(!col("ev"), 1L).otherwise(0L)).as("inb"))
        .agg(sum(when(col("ina") === 1 && col("inb") === 1, 1L)
          .otherwise(0L)).as("shared_exact"))
      def est(c: org.apache.spark.sql.Column) =
        lit(0.709) * lit(4096.0) * lit(36028797018963968.0) /
          c.cast("double")
      sk.crossJoin(broadcast(exact))
        .withColumn("est_a", est(col("z_a")))
        .withColumn("est_b", est(col("z_b")))
        .withColumn("est_u", est(col("z_u")))
        .withColumn("shared_sketch",
          col("est_a") + col("est_b") - col("est_u"))
    },
    Some("""WITH tok AS (SELECT doc_id % 2 = 0 AS ev,
          unnest(list_filter(string_split_regex(text, '\s+'),
            x -> x <> '')) AS tok
        FROM documents),
      h AS (SELECT ev,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS i64
        FROM tok),
      r AS (SELECT ev, i64 % 64 AS bucket,
          CASE WHEN i64 // 64 = 0 THEN 55
            ELSE 55 - length(bin(i64 // 64)) END AS rho
        FROM h),
      rr AS (SELECT ev, bucket, max(rho) AS m FROM r GROUP BY 1, 2),
      spine AS (SELECT unnest(range(0, 64)) AS bucket),
      wide AS (SELECT spine.bucket,
          coalesce(a.m, 0) AS ma, coalesce(b.m, 0) AS mb,
          greatest(coalesce(a.m, 0), coalesce(b.m, 0)) AS mu
        FROM spine
          LEFT JOIN (SELECT bucket, m FROM rr WHERE ev) a USING (bucket)
          LEFT JOIN (SELECT bucket, m FROM rr WHERE NOT ev) b
            USING (bucket)),
      sk AS (SELECT
          CAST(SUM(CAST(power(2, 55 - ma) AS BIGINT)) AS BIGINT) AS z_a,
          CAST(SUM(CAST(power(2, 55 - mb) AS BIGINT)) AS BIGINT) AS z_b,
          CAST(SUM(CAST(power(2, 55 - mu) AS BIGINT)) AS BIGINT) AS z_u
        FROM wide),
      ex AS (SELECT CAST(SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1
            ELSE 0 END) AS BIGINT) AS shared_exact
        FROM (SELECT tok,
            max(CASE WHEN ev THEN 1 ELSE 0 END) AS ina,
            max(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS inb
          FROM tok GROUP BY tok)),
      est AS (SELECT z_a, z_b, z_u, shared_exact,
          CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
            * CAST(36028797018963968 AS DOUBLE)
            / CAST(z_a AS DOUBLE) AS est_a,
          CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
            * CAST(36028797018963968 AS DOUBLE)
            / CAST(z_b AS DOUBLE) AS est_b,
          CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
            * CAST(36028797018963968 AS DOUBLE)
            / CAST(z_u AS DOUBLE) AS est_u
        FROM sk CROSS JOIN ex)
      SELECT z_a, z_b, z_u, shared_exact, est_a, est_b, est_u,
        est_a + est_b - est_u AS shared_sketch
      FROM est"""))

  // --- q303: COUNT-MIN SKETCH heavy hitters (Cormode–Muthukrishnan
  // 2005 — the mergeable frequency sketch a 100 TB token-frequency
  // pass ships instead of a vocabulary): depth 4 × width 1024
  // counters from md5 row-salted hashes (deterministic, so both
  // engines build the identical sketch), estimate = min over rows —
  // judged against the EXACT counts of the exact top-20 tokens in the
  // same row, with the one-sided-error invariant (cms_est ≥ exact,
  // always) emitted as a column the oracle must agree on. Counters
  // partial-aggregate to ≤ 4·1024 groups; the top-20 list rides a
  // tie-free (count, tok) TakeOrdered. -----------------------------------
  private lazy val q303 = Q("q303_cms_heavy_hitters",
    (s, dir) => {
      // ONE tokenize + groupBy(tok) feeds every downstream piece (the
      // round-11 shape tokenized documents twice — once for the
      // counters, once for the exact top-20 — and ran 4 md5 rounds per
      // token OCCURRENCE); the CMS counters are occurrence counts, so
      // hashing the DISTINCT-token count table and summing `cnt` per
      // bucket is exactly the same counter array at vocab-sized md5
      // cost. The tokenize itself rides the byte-level TokensExpr
      // kernel every other text lane uses (the HOF filter(split) twin
      // is interpreted per row).
      val tokCounts = Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      def hashed(df: org.apache.spark.sql.DataFrame) = df
        .select(col("*"), explode(array((0 until 4).map(lit): _*))
          .as("r"))
        .withColumn("b",
          conv(substring(md5(concat(lit("cms"), col("r").cast("string"),
            lit(":"), col("tok"))), 1, 15), 16, 10).cast("long") % 1024)
      val counters = hashed(tokCounts)
        .groupBy(col("r"), col("b")).agg(sum(col("cnt")).as("c"))
      val top = tokCounts
        .select(col("tok"), col("cnt").as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
      val est = hashed(top)
        .join(counters, Seq("r", "b"), "left")
        .groupBy(col("tok"), col("exact_cnt"))
        .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
      est.select(col("tok"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") >= col("exact_cnt")).as("one_sided"))
    },
    Some("""WITH tok AS (SELECT unnest(list_filter(
          string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        FROM documents),
      hashed AS (SELECT tok, r.r,
          CAST('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR)
            || ':' || tok), 1, 15) AS BIGINT) % 1024 AS b
        FROM tok, unnest(range(0, 4)) AS r(r)),
      counters AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c
        FROM hashed GROUP BY 1, 2),
      top AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM tok GROUP BY tok
        ORDER BY exact_cnt DESC, tok LIMIT 20),
      th AS (SELECT top.tok, top.exact_cnt, r.r,
          CAST('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR)
            || ':' || top.tok), 1, 15) AS BIGINT) % 1024 AS b
        FROM top, unnest(range(0, 4)) AS r(r)),
      est AS (SELECT th.tok, th.exact_cnt,
          min(coalesce(counters.c, 0)) AS cms_est
        FROM th LEFT JOIN counters USING (r, b)
        GROUP BY 1, 2)
      SELECT tok, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est,
        cms_est >= exact_cnt AS one_sided
      FROM est"""))

  // --- q304: SKETCHED vocabulary-growth ladder — q247's Heaps'-law
  // curve rebuilt on mergeable state: per-decile HLL registers
  // (doc_id % 10 shards), PREFIX-merged by a cumulative elementwise
  // max over the 10×64-row register table (a summary-sized window,
  // never data-sized), so "NDV after k more shards" costs no rescan —
  // the incremental-admission question (is the next crawl shard still
  // adding vocabulary?) answered from 64 bytes per shard. ----------------
  private lazy val q304 = Q("q304_vocab_growth_sketch",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val reg = Tables(s, dir, "documents")
        .select((col("doc_id") % 10).as("shard"),
          explode(filter(split(col("text"), "\\s+"),
            t => t =!= "")).as("tok"))
        .select(col("shard"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
            .as("i64"))
        .select(col("shard"), (col("i64") % 64).as("bucket"),
          expr("i64 div 64").as("w"))
        .withColumn("rho", when(col("w") === 0, lit(55L))
          .otherwise(lit(55L) - length(bin(col("w"))).cast("long")))
        .groupBy(col("shard"), col("bucket"))
        .agg(max(col("rho")).as("m"))
      val spine = s.range(0, 10).select(col("id").as("shard"))
        .crossJoin(s.range(0, 64).select(col("id").as("bucket")))
      val wCum = Window.partitionBy(col("bucket")).orderBy(col("shard"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(reg, Seq("shard", "bucket"), "left")
        .withColumn("m", coalesce(col("m"), lit(0L)))
        .withColumn("cm", max(col("m")).over(wCum))
        .groupBy(col("shard"))
        .agg(sum(expr("CAST(power(2, 55 - cm) AS BIGINT)")).as("z"))
        .withColumn("ndv_raw",
          lit(0.709) * lit(4096.0) * lit(36028797018963968.0)
            / col("z").cast("double"))
    },
    Some("""WITH tok AS (SELECT doc_id % 10 AS shard,
          unnest(list_filter(string_split_regex(text, '\s+'),
            x -> x <> '')) AS tok
        FROM documents),
      h AS (SELECT shard,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS i64
        FROM tok),
      r AS (SELECT shard, i64 % 64 AS bucket,
          CASE WHEN i64 // 64 = 0 THEN 55
            ELSE 55 - length(bin(i64 // 64)) END AS rho
        FROM h),
      rr AS (SELECT shard, bucket, max(rho) AS m FROM r GROUP BY 1, 2),
      spine AS (SELECT s.shard, b.bucket
        FROM (SELECT unnest(range(0, 10)) AS shard) s,
          (SELECT unnest(range(0, 64)) AS bucket) b),
      regs AS (SELECT spine.shard, spine.bucket,
          coalesce(rr.m, 0) AS m
        FROM spine LEFT JOIN rr USING (shard, bucket)),
      cum AS (SELECT shard, bucket,
          max(m) OVER (PARTITION BY bucket ORDER BY shard
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        FROM regs)
      SELECT shard,
        CAST(SUM(CAST(power(2, 55 - cm) AS BIGINT)) AS BIGINT) AS z,
        CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
          * CAST(36028797018963968 AS DOUBLE)
          / CAST(SUM(CAST(power(2, 55 - cm) AS BIGINT)) AS DOUBLE)
          AS ndv_raw
      FROM cum GROUP BY shard"""))

  // --- q301: the deterministic HLL as a REUSABLE grouped Aggregator
  // (TrainingData.HllAggregator registered via functions.udaf): per-
  // SOURCE distinct-token sketches composing with an ordinary groupBy
  // — the shape a 100 TB mixture/report pass wants (64-register
  // arrays merge elementwise in the partial aggregates; q291 proves
  // merge == rebuild for the construction, HllAggregatorSpec pins it
  // for the class). Emits the exact-BIGINT harmonic sum z and the raw
  // α·m²·2^55/z estimate per source; the oracle replays the identical
  // registers in SQL, proving the JVM aggregator and the q287 inline
  // construction are the same sketch. ------------------------------------
  private lazy val q301 = Q("q301_source_hll_ndv",
    (s, dir) => {
      val hll = udaf(new graft.pipeline.TrainingData.HllAggregator(64))
      val toks = Tables(s, dir, "documents")
        .select(col("source"),
          explode(filter(split(col("text"), "\\s+"),
            t => t =!= "")).as("tok"))
      toks.groupBy(col("source")).agg(hll(col("tok")).as("regs"))
        .select(col("source"),
          aggregate(col("regs"), lit(0L), (acc, r) =>
            acc + pow(lit(2.0), lit(55.0) - r.cast("double"))
              .cast("long")).as("z"))
        .withColumn("ndv_raw",
          lit(0.709) * lit(4096.0) * lit(36028797018963968.0)
            / col("z").cast("double"))
    },
    Some("""WITH tok AS (SELECT source, unnest(list_filter(
          string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        FROM documents),
      h AS (SELECT source,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS i64
        FROM tok),
      r AS (SELECT source, i64 % 64 AS bucket, i64 // 64 AS w FROM h),
      rr AS (SELECT source, bucket,
          max(CASE WHEN w = 0 THEN 55
              ELSE 55 - length(bin(w)) END) AS m
        FROM r GROUP BY 1, 2),
      spine AS (SELECT s.source, b.bucket
        FROM (SELECT DISTINCT source FROM tok) s,
          (SELECT unnest(range(0, 64)) AS bucket) b),
      regs AS (SELECT spine.source, coalesce(rr.m, 0) AS m
        FROM spine LEFT JOIN rr USING (source, bucket))
      SELECT source,
        CAST(SUM(CAST(power(2, 55 - m) AS BIGINT)) AS BIGINT) AS z,
        CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
          * CAST(36028797018963968 AS DOUBLE)
          / CAST(SUM(CAST(power(2, 55 - m) AS BIGINT)) AS DOUBLE)
          AS ndv_raw
      FROM regs GROUP BY source"""))

  // --- q314: TOKENIZER FERTILITY by language (the multilingual-corpus
  // planning table: subword-per-word fertility and chars-per-subword
  // compression decide per-language token budgets — Rust et al. 2021's
  // tokenizer-fairness metric). One scan, one tiny per-lang aggregate
  // (map-side combine), doubles only as single divisions of exact
  // BIGINT sums. ----------------------------------------------------------
  private val q314 = Q("q314_token_fertility",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("lang"),
          tokenCount(col("text")).cast("long").as("w"),
          regexp_count(col("text"), lit(bpeish)).cast("long").as("b"),
          length(regexp_replace(col("text"), "\\s+", ""))
            .cast("long").as("ch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("n_words"),
          sum(col("b")).as("n_bpe_tokens"),
          sum(col("ch")).as("n_chars_nws"))
        .withColumn("fertility", when(col("n_words") > 0,
          col("n_bpe_tokens").cast("double")
            / col("n_words").cast("double")))
        .withColumn("chars_per_token", when(col("n_bpe_tokens") > 0,
          col("n_chars_nws").cast("double")
            / col("n_bpe_tokens").cast("double")))
    },
    Some(s"""WITH t AS (SELECT lang,
          len(list_filter(string_split_regex(text, '\\s+'),
            x -> x <> '')) AS w,
          len(regexp_extract_all(text, '$bpeish')) AS b,
          length(regexp_replace(text, '\\s+', '', 'g')) AS ch
        FROM documents)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(w) AS BIGINT) AS n_words,
        CAST(SUM(b) AS BIGINT) AS n_bpe_tokens,
        CAST(SUM(ch) AS BIGINT) AS n_chars_nws,
        CASE WHEN SUM(w) > 0 THEN
          CAST(SUM(b) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) END AS fertility,
        CASE WHEN SUM(b) > 0 THEN
          CAST(SUM(ch) AS DOUBLE) / CAST(SUM(b) AS DOUBLE) END
          AS chars_per_token
      FROM t GROUP BY lang"""))

  // --- q315: EPOCH ALLOCATION by largest remainder (Hamilton's
  // method): split a fixed token budget across sources proportionally
  // to their token mass with EXACT integers — floor shares first, the
  // +1 remainders to the largest fractional parts (ties by source).
  // This is the mixture-planning step after q111/q141 decide the
  // ratios: budgets must sum EXACTLY to B, which float shares never
  // do. One doc scan + one per-source aggregate; the rank window runs
  // over #sources rows (a bucket summary, never data-sized). B * n_i
  // needs ~log2(B) + log2(N_tok) bits — at a 100 TB corpus move the
  // product to DECIMAL(38,0) or allocate in millions of tokens. --------
  private val q315 = Q("q315_epoch_allocation",
    (s, dir) => {
      val budget = 1000000L
      val tok = Tables(s, dir, "documents")
        .select(col("source"), tokenCount(col("text")).cast("long").as("w"))
        .groupBy(col("source")).agg(sum(col("w")).as("n_tokens"))
      val tot = broadcast(tok.agg(sum(col("n_tokens")).as("t")))
      val a = tok.crossJoin(tot)
        .withColumn("alloc0", expr(s"(${budget}L * n_tokens) div t"))
        .withColumn("rem", expr(s"(${budget}L * n_tokens) % t"))
      val leftover = broadcast(a.agg(
        (lit(budget) - sum(col("alloc0"))).as("lo")))
      val wR = Window.orderBy(col("rem").desc, col("source"))
      a.withColumn("rk", row_number().over(wR))
        .crossJoin(leftover)
        .withColumn("alloc_tokens", col("alloc0")
          + when(col("rk") <= col("lo"), 1L).otherwise(0L))
        .select(col("source"), col("n_tokens"), col("alloc_tokens"))
    },
    Some("""WITH tok AS (SELECT source,
          CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
            x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM tok),
      a AS (SELECT source, n_tokens,
          (1000000 * n_tokens) // t AS alloc0,
          (1000000 * n_tokens) % t AS rem
        FROM tok, tt),
      lo AS (SELECT 1000000 - CAST(SUM(alloc0) AS BIGINT) AS l FROM a),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source)
          AS rk FROM a)
      SELECT source, n_tokens,
        CAST(alloc0 + CASE WHEN rk <= l THEN 1 ELSE 0 END AS BIGINT)
          AS alloc_tokens
      FROM r, lo"""))

  // --- q316: MIXTURE REBALANCING by multiplicative weights (the
  // DoReMi/Xie 2023 loop shape with exact integer state): source
  // weights start at raw token mass and DOUBLE each round they are
  // underserved relative to the QUALITY-token share (docs of >= 20
  // tokens), judged by the cross-multiplied comparison
  // w_i · M < m_i · W — no float shares, no normalization until the
  // final report, so five rounds replay bit-for-bit in SQL. The loop
  // runs over the per-source AGGREGATE (≤ #sources rows,
  // localCheckpoint'd once like q282's edge set — PlanAudit whitelists
  // the builder); each round is a 1-row broadcast crossJoin, never a
  // data-sized pass. -------------------------------------------------------
  private val q316 = Q("q316_mixture_reweight",
    (s, dir) => {
      val base = Tables(s, dir, "documents")
        .select(col("source"), tokenCount(col("text")).cast("long").as("w"))
        .groupBy(col("source"))
        .agg(sum(col("w")).as("n_tokens"),
          sum(when(col("w") >= 20L, col("w")).otherwise(0L)).as("m"))
        .transform(graft.core.Checkpoints.truncate[org.apache.spark.sql.Row])
      val totM = broadcast(base.agg(sum(col("m")).as("tm")))
      var cur = base.withColumn("wt", col("n_tokens"))
      for (_ <- 1 to 5) {
        val totW = broadcast(cur.agg(sum(col("wt")).as("tw")))
        cur = cur.crossJoin(totM).crossJoin(totW)
          .withColumn("wt",
            when(col("wt") * col("tm") < col("m") * col("tw"),
              col("wt") * 2).otherwise(col("wt")))
          .select(col("source"), col("n_tokens"), col("m"), col("wt"))
      }
      val finW = broadcast(cur.agg(sum(col("wt")).as("tw")))
      cur.crossJoin(finW)
        .withColumn("share",
          col("wt").cast("double") / col("tw").cast("double"))
        .select(col("source"), col("n_tokens"), col("m"), col("wt"),
          col("share"))
    },
    Some {
      val rounds = (1 to 5).map { i =>
        s"""r$i AS (SELECT source, n_tokens, m,
            CASE WHEN wt * tm.t < m * tw.t THEN wt * 2 ELSE wt END AS wt
          FROM r${i - 1},
            (SELECT SUM(m) AS t FROM r0) tm,
            (SELECT SUM(wt) AS t FROM r${i - 1}) tw)"""
      }.mkString(",\n")
      s"""WITH base AS (SELECT source,
          CAST(SUM(w) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN w >= 20 THEN w ELSE 0 END) AS BIGINT) AS m
        FROM (SELECT source,
            len(list_filter(string_split_regex(text, '\\s+'),
              x -> x <> '')) AS w
          FROM documents)
        GROUP BY source),
      r0 AS (SELECT source, n_tokens, m, n_tokens AS wt FROM base),
      $rounds
      SELECT source, n_tokens, m, CAST(wt AS BIGINT) AS wt,
        CAST(wt AS DOUBLE) / CAST((SELECT SUM(wt) FROM r5) AS DOUBLE)
          AS share
      FROM r5"""
    })

  // --- q320: MINHASH ESTIMATOR CALIBRATION — the audit that decides
  // whether q33's band thresholds can be trusted: for every LSH
  // candidate pair, the signature-agreement estimate m/K against the
  // exact shingle Jaccard i/u, absolute error as the EXACT integer
  // |m·u − i·K|·10⁶ div (K·u) (parts-per-million — summing rationals
  // as scaled integers keeps the per-decile mean order-independent,
  // the no-double-sums rule), rolled up by estimated-similarity
  // decile. Same single band-key join as q33; signatures and shingles
  // ride the candidate join, exact work is candidates-only. ---------------
  private val q320 = Q("q320_minhash_calibration",
    (s, dir) => {
      // shared signature/candidate stage (see lshSigsAndCand) — this
      // lane also rides the persisted (doc_id, sig) table for its two
      // signature back-joins; exact shingle sets are re-derived from
      // raw text on the CANDIDATE rows only (the q33 discipline — the
      // shared stage deliberately does not persist the heavy sh arrays)
      val (sigs, cand) = lshSigsAndCand(s, dir)
      val texts = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pairs = cand
        .join(sigs.select(col("doc_id").as("doc_a"),
          col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"),
          col("sig").as("sig_b")), "doc_b")
        .join(texts.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("text", "text_a"), "doc_a")
        .join(texts.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("text", "text_b"), "doc_b")
        .withColumn("sh_a", shingles(col("text_a"), SHINGLE_N))
        .withColumn("sh_b", shingles(col("text_b"), SHINGLE_N))
        .withColumn("m", aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v))
        .withColumn("i",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("u", size(col("sh_a")).cast("long")
          + size(col("sh_b")).cast("long") - col("i"))
        .withColumn("errppm", expr(
          s"abs(m * u - i * $MINHASH_K) * 1000000L div (${MINHASH_K}L * u)"))
        .withColumn("decile",
          least(expr(s"(m * 10) div $MINHASH_K"), lit(9L)))
      pairs.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("errppm")).as("sum_err_ppm"))
        .withColumn("mean_err_ppm", col("sum_err_ppm").cast("double")
          / col("n_pairs").cast("double"))
    },
    Some(s"""WITH $lshCte,
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      p AS (SELECT doc_a, doc_b,
          len(list_filter(range(1, $MINHASH_K + 1),
            i -> sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)])) AS m,
          len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS i,
          len(sa.sh) + len(sb.sh)
            - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS u
        FROM cand
        JOIN sig sa ON sa.doc_id = cand.doc_a
        JOIN sig sb ON sb.doc_id = cand.doc_b),
      e AS (SELECT
          LEAST((m * 10) // $MINHASH_K, 9) AS decile,
          abs(m * u - i * $MINHASH_K) * 1000000 // ($MINHASH_K * u)
            AS errppm
        FROM p)
      SELECT CAST(decile AS BIGINT) AS decile,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(errppm) AS BIGINT) AS sum_err_ppm,
        CAST(SUM(errppm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS mean_err_ppm
      FROM e GROUP BY decile"""))

  // --- q330: TOKEN BURSTINESS (Church & Gale's document-frequency
  // dispersion — bursty terms are topical, uniform terms are function
  // words; the keyword/stopword separator a corpus pass wants before
  // TF-IDF): per frequent token (df ≥ 50), the exact dispersion
  // numerator D = N·Σc² − (Σc)² over PER-DOC counts c (zeros
  // included via the algebra, never materialized) and the
  // variance-to-mean ratio D/(N·tf) as one division. One token-keyed
  // shuffle of (doc, token) partial counts; N is a 1-row broadcast. ----
  private val q330 = Q("q330_token_burstiness",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val nDocs = broadcast(d.agg(count(lit(1)).as("n")))
      val dc = d.select(col("doc_id"),
          explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
      dc.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
          sum(col("c") * col("c")).as("sumsq"))
        .filter(col("df") >= 50)
        .crossJoin(nDocs)
        .withColumn("d_num",
          col("n") * col("sumsq") - col("tf") * col("tf"))
        .withColumn("vmr", col("d_num").cast("double")
          / (col("n") * col("tf")).cast("double"))
        .select(col("tok"), col("df"), col("tf"), col("d_num"),
          col("vmr"))
    },
    Some(s"""WITH t AS ($tokCte),
      dc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        GROUP BY 1, 2),
      agg AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
          CAST(SUM(c) AS BIGINT) AS tf,
          CAST(SUM(c * c) AS BIGINT) AS sumsq
        FROM dc GROUP BY tok HAVING COUNT(*) >= 50),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
      SELECT tok, df, tf, n * sumsq - tf * tf AS d_num,
        CAST(n * sumsq - tf * tf AS DOUBLE)
          / CAST(n * tf AS DOUBLE) AS vmr
      FROM agg, nd"""))

  // --- q331: LANGUAGE-ID CONFUSION MATRIX — the evaluation row for
  // q31's marker-based classifier against the corpus's labeled `lang`
  // column (every classifier on the board should carry its own eval):
  // (actual, predicted) counts + per-actual-language recall as one
  // division over a ≤ |langs|² table. One doc scan, one tiny keyed
  // aggregate; the recall join broadcasts per-language totals. ----------
  private val q331 = Q("q331_lang_confusion",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = tokens(col("text"))
      val scored = array(langMarkers.map { case (lang, ms) =>
        struct(
          size(filter(toks, t => t.isin(ms: _*))).as("score"),
          lit(lang).as("lang"))
      }: _*)
      val cm = d.select(col("lang"),
          array_max(scored).getField("lang").as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = broadcast(cm.groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("lang_total")))
      cm.join(tot, "lang")
        .withColumn("recall", when(col("lang") === col("pred_lang"),
          col("n_docs").cast("double") / col("lang_total").cast("double")))
    },
    Some {
      val markersSql = langMarkers.map { case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString(", ")
        s"{'score': len(list_filter(toks, t -> t IN ($lst))), 'lang': '$lang'}"
      }.mkString(",\n          ")
      s"""WITH t AS ($tokCte),
      cm AS (SELECT lang, list_max([
          $markersSql]).lang AS pred_lang
        FROM t),
      g AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM cm GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_total
        FROM g GROUP BY lang)
      SELECT g.lang, pred_lang, n_docs, lang_total,
        CASE WHEN g.lang = pred_lang THEN
          CAST(n_docs AS DOUBLE) / CAST(lang_total AS DOUBLE) END
          AS recall
      FROM g JOIN tot ON g.lang = tot.lang"""
    })

  // --- q334: TEMPLATE DETECTION — documents sharing a common prefix
  // are boilerplate instantiations (form letters, scraped templates,
  // mirror banners), a spam class exact dedup misses because the
  // tails differ: fingerprint the first 120 characters, report groups
  // of >= 3 docs with size, cross-source spread (a template seen from
  // many sources is scraper boilerplate, not one site's style), and
  // the smallest member id as the exemplar. One prefix-key shuffle. ----
  private val q334 = Q("q334_template_detection",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(substring(col("text"), 1, 120)).as("tpl"))
        .groupBy(col("tpl"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("exemplar_doc"))
        .filter(col("n_docs") >= 3)
    },
    Some("""SELECT md5(substr(text, 1, 120)) AS tpl,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        MIN(doc_id) AS exemplar_doc
      FROM documents
      GROUP BY 1 HAVING COUNT(*) >= 3"""))
}
