package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expressions._

/** SparkSessionExtensions hook (SURVEY.md §7.4): registers every custom
  * codegen kernel as a SQL function, so the engine's operators are usable
  * from plain `spark.sql(...)` — including from SQL-only clients — not just
  * the Scala Column API; and injects the
  * [[graft.sources.gds.GenoStatsFromPlanes]] optimizer rule, which counts
  * `geno_stats` over a gds relation on the stored genotype planes.
  *
  * Every session whose classpath holds the engine gets it: the class is
  * listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * which `SparkSession.builder` loads through `ServiceLoader`.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def register(ext: SparkSessionExtensions, name: String,
      usage: String, arity: Int, build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name), info(name, usage),
      (args: Seq[Expression]) => {
        require(args.length == arity,
          s"$name expects $arity arguments, got ${args.length}")
        build(args)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPreCBORule(_ => graft.sources.gds.GenoStatsFromPlanes)
    def litInt(e: Expression, fn: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) =>
        v.toInt
      case _ => throw new IllegalArgumentException(
        s"$fn expects a literal integer, got $e")
    }
    register(ext, "geno_stats",
      "geno_stats(geno, k) - [total, called, ac_k, miss_calls, miss_alleles]",
      2, a => GenoStats(a(0), a(1)))
    register(ext, "miss_per_sample",
      "miss_per_sample(geno) - per-sample missing-allele counts",
      1, a => MissAllelesPerSample(a(0)))
    register(ext, "dosage_alt",
      "dosage_alt(geno) - per-sample alt dosage, null on missing",
      1, a => DosageAltExpr(a(0)))
    register(ext, "dosage_alt2",
      "dosage_alt2(geno) - alt dosage counting through partial missingness",
      1, a => DosageAlt2Expr(a(0)))
    register(ext, "geno_stats_packed",
      "geno_stats_packed(bytes, nSamples) - geno_stats over 2-bit packing",
      2, a => GenoStatsPacked(a(0), a(1)))
    register(ext, "gt_strings",
      "gt_strings(geno, phased, sep) - joined VCF GT strings",
      3, a => GtStringsJoined(a(0), a(1), a(2)))
    register(ext, "parse_gt_cells",
      "parse_gt_cells(cells, gtIdx, nSamples) - struct(geno, phased) " +
        "from VCF cells (padded to nSamples)",
      3, a => ParseGtCells(a(0), a(1), litInt(a(2), "parse_gt_cells")))
    register(ext, "allele_union",
      "allele_union(a, b) - merged REF,ALT,... allele list",
      2, a => AlleleUnionExpr(a(0), a(1)))
    register(ext, "remap_geno",
      "remap_geno(geno, oldAlleles, newAlleles) - re-coded genotype cube",
      3, a => RemapGenoExpr(a(0), a(1), a(2)))
    register(ext, "pack_2b",
      "pack_2b(geno) - 2-bit packed REF dosages (BED layout)",
      1, a => Pack2bRefDosage(a(0)))
    register(ext, "unpack_2b",
      "unpack_2b(bytes, nSamples) - REF dosages from 2-bit packing",
      2, a => Unpack2bDosage(a(0), a(1)))
    register(ext, "dot_i64",
      "dot_i64(a, b) - integer dot product of two BIGINT arrays",
      2, a => DotProductLong(a(0), a(1)))
    register(ext, "word_shingles",
      "word_shingles(text, n) - distinct word n-gram shingles",
      2, a => WordShinglesExpr(a(0), a(1)))
    register(ext, "simhash16",
      "simhash16(text) - 16-bit SimHash sketch of whitespace tokens",
      1, a => Simhash16Expr(a(0)))
    register(ext, "srp_bucket",
      "srp_bucket(qv, bits, table) - signed-random-projection LSH bucket",
      3, a => SrpBucket(a(0), litInt(a(1), "srp_bucket"),
        litInt(a(2), "srp_bucket")))
    register(ext, "minhash_sig",
      "minhash_sig(shingles, k) - fused k-component MinHash signature",
      2, a => MinhashSig(a(0), litInt(a(1), "minhash_sig")))
    register(ext, "c4_clean_lines",
      "c4_clean_lines(text, minWords) - C4 line filter, survivors re-joined",
      2, a => C4CleanExpr(a(0), litInt(a(1), "c4_clean_lines")))
    register(ext, "winnow_fps",
      "winnow_fps(text, k, w) - winnowed k-gram rolling-hash fingerprints",
      3, a => WinnowFpExpr(a(0), litInt(a(1), "winnow_fps"),
        litInt(a(2), "winnow_fps")))
    register(ext, "cdc_chunks",
      "cdc_chunks(text, k, d) - content-defined chunk md5 fingerprints",
      3, a => CdcChunksExpr(a(0), litInt(a(1), "cdc_chunks"),
        litInt(a(2), "cdc_chunks")))
    register(ext, "repetition_stats",
      "repetition_stats(text) - [n_words, chars, max_run, top2_chars, " +
        "dup5_chars] Gopher repetition signals",
      1, a => RepetitionStatsExpr(a(0)))
    def litStr(e: Expression, fn: String): String = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
          if v != null => v.toString
      case _ => throw new IllegalArgumentException(
        s"$fn expects a literal string, got $e")
    }
    register(ext, "parse_fmt_cells",
      "parse_fmt_cells(cells, idx, number, vtype, nSamples) - per-sample " +
        "FORMAT field values from VCF cells (padded to nSamples)",
      5, a => ParseFmtCells(a(0), a(1), litStr(a(2), "parse_fmt_cells"),
        litStr(a(3), "parse_fmt_cells"), litInt(a(4), "parse_fmt_cells")))
    register(ext, "l2_i64",
      "l2_i64(a, b) - integer squared-L2 distance of two BIGINT arrays",
      2, a => L2DistLong(a(0), a(1)))
    register(ext, "pq_encode",
      "pq_encode(qv, cbs, m, dsub) - per-subspace argmin PQ codes",
      4, a => PqEncode(a(0), a(1), litInt(a(2), "pq_encode"),
        litInt(a(3), "pq_encode")))
    register(ext, "pq_adc",
      "pq_adc(dtab, codes) - ADC lookup-sum over PQ codes",
      2, a => PqAdcLookup(a(0), a(1)))
    register(ext, "ld_pair_stats",
      "ld_pair_stats(da, db) - [n, sx, sy, sxy, sxx, syy] over " +
        "pairwise-complete dosages",
      2, a => LdPairStats(a(0), a(1)))
    // variadic: sample_cells(geno, phased, sep, field1, field2, ...)
    ext.injectFunction((FunctionIdentifier("sample_cells"),
      info("sample_cells",
        "sample_cells(geno, phased, sep, cells...) - GT[:f]... per sample"),
      (args: Seq[Expression]) => {
        require(args.length >= 3,
          s"sample_cells expects >= 3 arguments, got ${args.length}")
        SampleCellsJoined(args)
      }))
  }
}
