package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline surface:
  * tokenization, shingling, quality ratios, language-ID scoring, document
  * fingerprinting, MinHash signatures and SimHash sketches.
  *
  * Everything is a per-row higher-order-function composition (no UDFs, no
  * shuffle); hashes are md5-hex so any SQL engine can replay them exactly —
  * that is what makes the DuckDB oracles byte-comparable.
  */
object textfns {

  /** Unicode NFC canonical normalization (fused codegen kernel over
    * the JDK normalizer; DuckDB's `nfc_normalize` replays it exactly —
    * [[graft.functions.expressions.NfcNormalizeExpr]]). */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.NfcNormalizeExpr(
        org.apache.spark.sql.graft.Bridge.expression(text)))

  /** Whitespace tokens, empty strings dropped — ONE generated loop
    * (the `filter` in the declarative twin `tokensHof` in
    * src/test/scala/graft/HofTwins.scala is a CodegenFallback
    * HOF, interpreted per row on every text lane). */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.TokensExpr(
        org.apache.spark.sql.graft.Bridge.expression(text)))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** All ordered `l`-token span grams, " "-joined; empty array below
    * `l` tokens — the fused form of the transform+slice+array_join
    * chain (see [[graft.functions.expressions.SpanGramsExpr]]). */
  def spanGrams(toks: Column, l: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.expressions.SpanGramsExpr(
      Bridge.expression(toks), Bridge.expression(lit(l))))
  }

  /** Distinct word n-gram shingles ("a b" bigrams for n=2) straight from
    * text; empty array when the document has fewer than n tokens. Fused
    * codegen expression — see [[wordShinglesHof]] for the declarative
    * differential oracle. */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.expressions.WordShinglesExpr(
      Bridge.expression(text), Bridge.expression(lit(n))))
  }

  /** Declarative [[shingles]] over a pre-tokenized array (differential
    * oracle for the codegen expression). */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o =>
          element_at(toks, i + o)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Fraction of `toks` contained in `marker` words; null for empty docs. */
  def markerRatio(toks: Column, markers: Column): Column =
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(markers, t))).cast("double") /
        size(toks))

  /** Mean token length = chars-sans-whitespace / token count. */
  def avgTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n > 0,
      length(regexp_replace(text, "\\s+", "")).cast("double") / n)
  }

  /** Order-insensitive content fingerprint: md5 over the sorted distinct
    * token set (the "rolling hash" document key of the dedup pipeline). */
  def fingerprint(toks: Column): Column =
    md5(array_join(array_sort(array_distinct(toks)), " "))

  /** MinHash signature: k md5-derived min-hashes over the shingle set.
    * Hash family i is `md5(i + ":" + shingle)` — deterministic and
    * replayable in SQL. Null components when the shingle set is empty. */
  def minhashSignature(shingles: Column, k: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.MinhashSig(
        org.apache.spark.sql.graft.Bridge.expression(shingles), k))

  /** LSH band keys for a MinHash signature: bands of `rowsPerBand`
    * consecutive components, each hashed to one bucket id. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      md5(concat_ws("|", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)))))

  /** 16-bit SimHash straight from text — fused codegen expression (one md5
    * per token); bit-identical to [[simhash16]]. */
  def simhash16Text(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.expressions.Simhash16Expr(
      Bridge.expression(text)))
  }

  /** 16-bit SimHash over the token multiset. Bit j of a token is 1 when hex
    * digit j+1 of md5(token) is >= 8 (i.e. in '89abcdef'); sketch bit j is
    * the majority vote (ties → 1). Identical arithmetic is replayable in
    * DuckDB, which is what makes the oracle byte-comparable. Declarative
    * differential oracle for [[simhash16Text]]. */
  def simhash16(toks: Column): Column = {
    val n = size(toks)
    aggregate(
      transform(sequence(lit(0), lit(15)), j => {
        val ones = size(filter(toks, t =>
          md5(t).substr(j + lit(1), lit(1))
            .isin("8", "9", "a", "b", "c", "d", "e", "f")))
        when(ones * 2 >= n, pow2(j)).otherwise(lit(0L))
      }),
      lit(0L), (acc, x) => acc + x)
  }

  /** 2^j for a column j in [0, 30] via array lookup (shiftleft needs a
    * literal shift amount). */
  private def pow2(j: Column): Column =
    element_at(array((0 to 30).map(i => lit(1L << i)): _*), j + 1)

  /** Winnowed rolling-hash fingerprints straight from text — fused codegen
    * expression (O(n) rolling update + monotonic-deque window minimum).
    * Bit-identical to `winnowFpsHof` in
    * src/test/scala/graft/HofTwins.scala, which stays as the differential
    * oracle. */
  def winnowFps(text: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.expressions.WinnowFpExpr(
      Bridge.expression(text), k, w))
  }

  /** Content-defined chunk fingerprints (md5 per chunk, document order) —
    * fused codegen kernel (O(n) rolling hash, cut where the trailing
    * K-gram hash ≡ 0 mod D). Bit-identical to `cdcChunksHof` in
    * src/test/scala/graft/HofTwins.scala, the differential oracle. */
  def cdcChunks(text: Column, k: Int, d: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.expressions.CdcChunksExpr(
      Bridge.expression(text), k, d))
  }

  /** C4-style line filter fused into one codegen pass: keep lines whose
    * last non-space char is terminal punctuation, with ≥ `minWords`
    * words, not mentioning "javascript"; survivors re-join with `\n`.
    * Bit-identical to `c4CleanLinesHof` in
    * src/test/scala/graft/HofTwins.scala, the differential oracle. */
  def c4CleanLines(text: Column, minWords: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.expressions.C4CleanExpr(
      Bridge.expression(text), minWords))
  }

  /** Hamming distance between two small non-negative long sketches (e.g.
    * [[simhash16]] values) via bit_count(xor). */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Exact Jaccard similarity of two distinct-element arrays, via
    * |A|+|B|-|A∪B| so only one distinct-union is computed. */
  def jaccard(a: Column, b: Column): Column = {
    val union = size(array_distinct(concat(a, b)))
    val inter = size(a) + size(b) - union
    when(union > 0, inter.cast("double") / union)
  }
}
