package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.genetics.gtString

/** Declarative twins of the codegen kernels: each re-expresses one fused
  * Catalyst expression as Spark's built-in higher-order functions
  * (`transform`/`filter`/`aggregate`, which are CodegenFallback and run
  * interpreted). No main code calls them; they exist only as the
  * differential oracles the kernel specs compare against. */
object HofTwins {

  // ---- graft.functions.genetics ------------------------------------------

  def nCalledAllelesHof(geno: Column): Column =
    size(filter(flatten(geno), a => a.isNotNull))

  def alleleCountHof(geno: Column, k: Column): Column =
    size(filter(flatten(geno), a => a === k))

  def dosageAltHof(geno: Column): Column =
    transform(geno, sa =>
      when(exists(sa, a => a.isNull), lit(null))
        .otherwise(size(filter(sa, a => a =!= 0))))

  def gtStringsHof(geno: Column, phased: Column, sep: String): Column =
    array_join(zip_with(geno, phased, (sa, p) => gtString(sa, p)), sep)

  // ---- graft.functions.vectorfns -----------------------------------------

  /** Reference implementation of `vectorfns.dotLong` as built-in higher-order
    * functions — kept for differential testing of the custom expression. */
  def dotLongHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Reference implementation of `vectorfns.l2Long` as built-in higher-order
    * functions — the differential-test twin. */
  def l2LongHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Reference implementation of `vectorfns.pqEncode` as built-in higher-order
    * functions — the differential-test twin (same first-min tie rule via
    * array_position-of-min). */
  def pqEncodeHof(qv: Column, cbs: Column, m: Int, dsub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), sub => {
      val dl = transform(sequence(lit(0), size(cbs) - 1), k =>
        aggregate(sequence(lit(1), lit(dsub)), lit(0L), (acc, i) => {
          val idx = (sub * dsub + i).cast("int")
          val x = coalesce(element_at(qv, idx), lit(0L))
          val y = coalesce(element_at(element_at(cbs, (k + 1).cast("int")),
            idx), lit(0L))
          acc + (x - y) * (x - y)
        }))
      (array_position(dl, array_min(dl)) - 1).cast("int")
    })

  /** Reference implementation of `vectorfns.pqAdc` as built-in higher-order
    * functions — the differential-test twin. */
  def pqAdcHof(dtab: Column, codes: Column): Column =
    aggregate(sequence(lit(1), size(codes)), lit(0L), (acc, m) =>
      acc + coalesce(element_at(element_at(dtab, m.cast("int")),
        (element_at(codes, m.cast("int")) + 1).cast("int")), lit(0L)))

  /** Reference implementation of `vectorfns.ldPairStats` as built-in
    * higher-order functions — the differential-test twin. */
  def ldPairStatsHof(a: Column, b: Column): Column = {
    val obs = filter(zip_with(a, b, (x, y) =>
        when(x.isNotNull && y.isNotNull,
          struct(x.as("x"), y.as("y")))),
      p => p.isNotNull)
    array(
      size(obs).cast("long"),
      aggregate(obs, lit(0L), (acc, p) => acc + p.getField("x")),
      aggregate(obs, lit(0L), (acc, p) => acc + p.getField("y")),
      aggregate(obs, lit(0L),
        (acc, p) => acc + p.getField("x") * p.getField("y")),
      aggregate(obs, lit(0L),
        (acc, p) => acc + p.getField("x") * p.getField("x")),
      aggregate(obs, lit(0L),
        (acc, p) => acc + p.getField("y") * p.getField("y")))
  }

  /** Reference implementation of `vectorfns.srpBucket` as built-in
    * higher-order functions — kept as the differential oracle for the
    * expression. */
  def srpBucketHof(qv: Column, bits: Int, table: Int = 0): Column = {
    require(bits > 0 && bits < 31, "bits must be in [1,30]")
    require(table >= 0 && table <= 128, "table must be in [0,128]")
    (0 until bits).map { j =>
      val key = table * 131L + j + 1
      val proj = aggregate(
        transform(sequence(lit(1), size(qv)), i => {
          val h1 = (lit(key * 131071L) + i) * lit(2654435761L) %
            lit(2147483647L)
          val h1x = h1.bitwiseXOR(shiftright(h1, 15))
          val h2 = h1x * lit(40503L) % lit(2147483647L)
          val h2x = h2.bitwiseXOR(shiftright(h2, 13))
          element_at(qv, i) *
            when(h2x.bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))
        }),
        lit(0L), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  // ---- graft.functions.textfns -------------------------------------------

  /** Declarative `textfns.tokens` twin (differential oracle for the codegen
    * expression). */
  def tokensHof(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Reference implementation of `textfns.minhashSignature` as built-in
    * HOFs — the differential oracle for the fused expression. */
  def minhashSignatureHof(shingles: Column, k: Int): Column =
    transform(sequence(lit(1), lit(k)), i =>
      array_min(transform(shingles,
        s => md5(concat(i.cast("string"), lit(":"), s)))))

  /** Declarative twin of `textfns.winnowFps`: every k-gram hash recomputed in
    * full as Σ codepoint·(B^(k-1-j) mod M) mod M — each power pre-reduced,
    * so no intermediate exceeds ~8·10^15 and any BIGINT SQL engine replays
    * it exactly — then min per w-window, distinct, sorted. */
  def winnowFpsHof(text: Column, k: Int, w: Int): Column = {
    import graft.functions.expressions.WinnowFpExpr.M
    val pows = graft.functions.expressions.WinnowFpExpr.pows(k)
    val cps = transform(sequence(lit(1), length(text)),
      i => ascii(text.substr(i, lit(1))))
    val grams = size(cps) - (k - 1)
    val hashes = transform(sequence(lit(1), grams), i =>
      pows.zipWithIndex.map { case (p, j) =>
        element_at(cps, i + j).cast("long") * p % M
      }.reduce(_ + _) % M)
    val mins = transform(sequence(lit(1), grams - (w - 1)), s =>
      array_min(slice(hashes, s, lit(w))))
    when(length(text) >= k + w - 1,
        array_sort(array_distinct(mins)))
      .otherwise(array().cast("array<long>"))
  }

  /** `body(x)` with `x` evaluated once: a one-element `transform` binds it
    * to a lambda variable. Higher-order functions have no common
    * subexpression elimination, so a column a lambda references is
    * otherwise evaluated again on every lambda call. */
  private def let(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** Declarative twin of `textfns.cdcChunks`: every k-gram hash recomputed in
    * full from the shared powers table; interior cut ends = gram ends
    * whose hash ≡ 0 mod D (a cut at the last codepoint is suppressed);
    * chunks = md5 of the text between consecutive cuts. ASCII-parity like
    * [[winnowFpsHof]] (`ascii` vs the kernel's codepoints). Each array is
    * bound once through [[let]], so a text of n characters costs O(n·k)
    * hash steps. */
  def cdcChunksHof(text: Column, k: Int, d: Int): Column = {
    import graft.functions.expressions.WinnowFpExpr.M
    val pows = graft.functions.expressions.WinnowFpExpr.pows(k)
    val n = length(text)
    val grams = n - (k - 1)
    val chunks =
      let(transform(sequence(lit(1), n), i => ascii(text.substr(i, lit(1))))) {
        cps =>
      let(transform(sequence(lit(1), grams), i =>
        pows.zipWithIndex.map { case (p, j) =>
          element_at(cps, i + j).cast("long") * p % M
        }.reduce(_ + _) % M)) { hashes =>
      let(transform(
        filter(sequence(lit(1), grams), i =>
          element_at(hashes, i) % d === 0 && (i + lit(k - 1)) < n),
        i => i + (k - 1))) { cutEnds =>
      let(concat(array(lit(1)), transform(cutEnds, e => e + 1))) { starts =>
      let(concat(cutEnds, array(n))) { ends =>
        transform(sequence(lit(1), size(starts)), j =>
          md5(encode(text.substr(element_at(starts, j),
            element_at(ends, j) - element_at(starts, j) + 1), "utf-8")))
      }}}}}
    when(n === 0, array().cast("array<string>"))
      .when(grams < 1, array(md5(encode(text, "utf-8"))))
      .otherwise(chunks)
  }

  /** Declarative twin of `textfns.c4CleanLines` (interpreted HOF path). */
  def c4CleanLinesHof(text: Column, minWords: Int): Column =
    array_join(
      filter(split(text, "\n"), l =>
        l.rlike("[.!?\"]\\s*$") &&
          size(filter(split(l, "\\s+"), w => w =!= "")) >= minWords &&
          !contains(lower(l), lit("javascript"))),
      "\n")

  // ---- graft.operators.MergeVariants -------------------------------------

  def alleleUnionHof(a: Column, b: Column): Column = {
    val as = split(a, ",")
    val bs = split(b, ",")
    array_join(concat(as, filter(bs, x => !array_contains(as, x))), ",")
  }

  def remapGenoHof(geno: Column, oldAlleles: Column, newAlleles: Column): Column = {
    val os = split(oldAlleles, ",")
    val ns = split(newAlleles, ",")
    transform(geno, sa =>
      transform(sa, x =>
        (array_position(ns, element_at(os, (x + 1).cast("int"))) - 1)
          .cast("long")))
  }
}
