package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions._

/** Every custom kernel must COMPILE under Janino, not just plan into a
  * WholeStageCodegen node. A codegen compile error at runtime degrades
  * silently to interpreted eval (correct answers, 10-100× slower).
  * Each expression's `doGenCode` calls the same companion kernel as its
  * interpreted `eval`, so what this spec guards is the generated call
  * itself: `GenerateUnsafeProjection.generate` THROWS on compile errors
  * (no fallback), so each kernel here fails the suite if the Java around
  * its call is unparseable; the result is then checked against the
  * interpreted `eval` of the same expression on the same row, which
  * also holds the codegen and interpreted result containers (Unsafe vs
  * Generic arrays, boxed nulls) to the same contents.
  */
class CodegenCompileSpec extends AnyFunSuite {

  private val genoT = ArrayType(ArrayType(LongType))
  private val phasedT = ArrayType(BooleanType)
  private val strArrT = ArrayType(StringType)
  private val longArrT = ArrayType(LongType)

  private def arr(xs: Any*): ArrayData = new GenericArrayData(xs.toArray)
  private def utf(s: String): UTF8String = UTF8String.fromString(s)

  private val geno: ArrayData =
    arr(arr(0L, 1L), arr(1L, 1L), arr(null, 2L), null)
  private val phased: ArrayData = arr(true, false, true, false)
  private val cells: ArrayData =
    arr(utf("17"), utf("."), null, utf("3"))
  private val words: ArrayData =
    arr(utf("aa:bb"), utf("cc"), null, utf("dd"))
  private val vecA: ArrayData = arr(3L, -1L, 4L, null, 5L)
  private val vecB: ArrayData = arr(2L, 7L, -3L, 1L, 0L)
  private val packed: Array[Byte] = {
    // pack_2b of `geno` round-trips through the packed kernels
    Pack2bRefDosage.pack(geno).asInstanceOf[Array[Byte]]
  }

  /** GenoStatsRaw planes values: three diploid single-plane calls
    * (0/1), (./1), (0/0); two haploid two-plane calls 4 and missing */
  private val planes1: Array[Byte] =
    Array[Byte](1, 2, 3, 0, 0, 0, (1 << 2 | 3 << 4 | 1 << 6).toByte, 0)
  private val planes2: Array[Byte] =
    Array[Byte](2, 1, 2, 0, 0, 0, 3 << 2, 1 | 3 << 2)

  private val cbs: ArrayData =
    arr(arr(1L, 2L, 0L, 1L, 5L), arr(3L, -1L, 4L, null, 0L))
  private val codes: ArrayData = arr(1, 0)
  /** a window's (pos, vid, per-slot alleles) list, h = 3 slots */
  private def hapT(t: DataType) = ArrayType(StructType(Seq(
    StructField("pos", LongType), StructField("vid", LongType),
    StructField("a", ArrayType(t)))))
  private def haps(tok: Long => Any): ArrayData = arr(
    InternalRow(100L, 1L, arr(tok(0L), tok(1L), tok(0L))),
    InternalRow(200L, 2L, arr(tok(1L), tok(1L), tok(1L))),
    InternalRow(300L, 3L, arr(tok(0L), tok(1L), tok(0L))))

  /** input row layout shared by all cases below */
  private val row = InternalRow(
    geno, phased, cells, vecA, vecB, utf("the quick brown fox"),
    packed, words, utf("A,C"), utf("A,C,T"), cbs, codes,
    haps(identity), haps(t => utf(t.toString)), planes1, planes2)
  private def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  private val kernels: Seq[(String, Expression)] = Seq(
    "geno_stats" -> GenoStats(ref(0, genoT), Literal(2)),
    "group_geno_counts" ->
      GroupGenoCounts(ref(0, genoT), Literal(0), Literal(2)),
    "group_allele_counts" ->
      GroupAlleleCounts(ref(0, genoT), Literal(1), Literal(4)),
    "miss_per_sample" -> MissAllelesPerSample(ref(0, genoT)),
    "f2_carriers" -> F2Carriers(ref(3, longArrT)),
    "dosage_alt" -> DosageAltExpr(ref(0, genoT)),
    "dosage_alt2" -> DosageAlt2Expr(ref(0, genoT)),
    "gt_strings" ->
      GtStringsJoined(ref(0, genoT), ref(1, phasedT), Literal("\t")),
    "sample_cells/0" ->
      SampleCellsJoined(Seq(ref(0, genoT), ref(1, phasedT), Literal("\t"))),
    "sample_cells/1" -> SampleCellsJoined(
      Seq(ref(0, genoT), ref(1, phasedT), Literal("\t"), ref(2, strArrT))),
    "sample_cells/3" -> SampleCellsJoined(
      Seq(ref(0, genoT), ref(1, phasedT), Literal("\t"),
        ref(2, strArrT), ref(2, strArrT), ref(2, strArrT))),
    "parse_gt_cells" -> ParseGtCells(ref(2, strArrT), Literal(0), 4),
    "dot_long" -> DotProductLong(ref(3, longArrT), ref(4, longArrT)),
    "srp_bucket/t0" -> SrpBucket(ref(3, longArrT), 16, 0),
    "srp_bucket/t3" -> SrpBucket(ref(3, longArrT), 16, 3),
    "srp_bucket/b30" -> SrpBucket(ref(3, longArrT), 30, 7),
    "minhash_sig" -> MinhashSig(ref(7, strArrT), 8),
    "simhash16" -> Simhash16Expr(ref(5, StringType)),
    "nfc_normalize" -> NfcNormalizeExpr(ref(5, StringType)),
    "winnow_fps" -> WinnowFpExpr(ref(5, StringType), 4, 3),
    "cdc_chunks" -> CdcChunksExpr(ref(5, StringType), 4, 4),
    "repetition_stats" -> RepetitionStatsExpr(ref(5, StringType)),
    "parse_fmt_cells" -> ParseFmtCells(ref(7, strArrT), Literal(2),
      "1", "String", 4),
    "c4_clean_lines" -> C4CleanExpr(ref(5, StringType), 3),
    "word_shingles" -> WordShinglesExpr(ref(5, StringType), Literal(3)),
    "pack_2b" -> Pack2bRefDosage(ref(0, genoT)),
    "unpack_2b" -> Unpack2bDosage(ref(6, BinaryType), Literal(4)),
    "geno_stats_packed" -> GenoStatsPacked(ref(6, BinaryType), Literal(4)),
    "geno_stats_raw/table" -> GenoStatsRaw(ref(14, BinaryType), Literal(1)),
    "geno_stats_raw/planes2" ->
      GenoStatsRaw(ref(15, BinaryType), Literal(4L)),
    "code_count_packed/het" ->
      CodeCountPacked(ref(6, BinaryType), Literal(4), 1),
    "code_count_packed/miss" ->
      CodeCountPacked(ref(6, BinaryType), Literal(4), 3),
    "l2_i64" -> L2DistLong(ref(3, longArrT), ref(4, longArrT)),
    "pq_encode" -> PqEncode(ref(3, longArrT),
      ref(10, ArrayType(ArrayType(LongType))), 2, 2),
    "pq_adc" -> PqAdcLookup(ref(10, ArrayType(ArrayType(LongType))),
      ref(11, ArrayType(IntegerType))),
    "ld_pair_stats" -> LdPairStats(ref(3, longArrT), ref(4, longArrT)),
    "cmh_uv" -> CmhUvExpr(ref(3, longArrT),
      // uScale=lcm(1..3)=6, vScale=36; codes: s0 case@1, s1 ctrl@1,
      // s2 case@2, s3 ctrl@2 (null dosage), s4 ctrl@1
      Literal.create(Array(6L, 36L, 3L, 2L, 5L, 4L, 2L),
        ArrayType(LongType))),
    "allele_union" ->
      AlleleUnionExpr(ref(8, StringType), ref(9, StringType)),
    "remap_geno" -> // src alleles cover geno's max index (2), dst permutes
      RemapGenoExpr(ref(0, genoT), ref(9, StringType), Literal("T,A,C")),
    "dosage_weighted_stats" ->
      DosageWeightedStats(ref(3, longArrT), ref(4, longArrT)),
    "dosage_two_weight_stats" -> DosageTwoWeightStats(ref(3, longArrT),
      ref(4, longArrT), ref(3, longArrT)),
    "dosage_masked_sums" ->
      DosageMaskedSums(ref(3, longArrT), ref(10, genoT)),
    "hap_alt" -> HapAltExpr(ref(0, genoT), ref(1, phasedT), Literal(2)),
    "dup_pair_stats" -> DupPairStatsExpr(ref(0, genoT), ref(10, genoT)),
    "hap_counts/long" -> HapCountsExpr(ref(12, hapT(LongType)), Literal(3)),
    "hap_counts/str" ->
      HapCountsExpr(ref(13, hapT(StringType)), Literal(3)),
    "sample_qc" -> SampleQcExpr(ref(0, genoT)),
    "tokens" -> TokensExpr(ref(5, StringType)),
    "span_grams" -> SpanGramsExpr(TokensExpr(ref(5, StringType)), Literal(2)),
    "geno_key" -> GenoKeyExpr(ref(0, genoT)))

  test("the list holds every expression class of the kernel package") {
    // the compiled package directories on the test classpath; a kernel
    // added later fails here until it joins the list above
    val pkg = "graft.functions.expressions"
    val dirs = getClass.getClassLoader.getResources(pkg.replace('.', '/'))
    val classes = Iterator.continually(dirs).takeWhile(_.hasMoreElements)
      .map(_.nextElement()).filter(_.getProtocol == "file")
      .flatMap(u => new java.io.File(u.toURI).list())
      .filter(f => f.endsWith(".class") && !f.contains("$"))
      .map(f => Class.forName(s"$pkg.${f.stripSuffix(".class")}"))
      .filter(c => classOf[Expression].isAssignableFrom(c) &&
        !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .toSet
    assert(classes.size >= kernels.map(_._2.getClass).distinct.size,
      s"found only $classes")
    val missing = classes -- kernels.map(_._2.getClass)
    assert(missing.isEmpty, s"not compiled by this spec: $missing")
  }

  for ((name, expr) <- kernels) {
    test(s"$name compiles under Janino and matches interpreted eval") {
      // throws CompileException on unparseable generated code — the
      // silent-fallback path of real query execution is unavailable here
      val proj = GenerateUnsafeProjection.generate(Seq(expr))
      val got = proj(row).get(0, expr.dataType)
      val want = expr.eval(row)
      // type-driven canonical rendering: Unsafe vs Generic containers
      // have different toString, identical contents must compare equal
      def show(a: Any, t: DataType): String = (a, t) match {
        case (null, _) => "null"
        case (b: Array[Byte], BinaryType) => b.mkString("[", ",", "]")
        case (x: ArrayData, ArrayType(et, _)) =>
          (0 until x.numElements()).map(i =>
            show(if (x.isNullAt(i)) null else x.get(i, et), et))
            .mkString("[", ",", "]")
        case (x: InternalRow, StructType(fs)) =>
          fs.zipWithIndex.map { case (f, i) =>
            show(if (x.isNullAt(i)) null else x.get(i, f.dataType),
              f.dataType)
          }.mkString("{", ",", "}")
        case (x, _) => String.valueOf(x)
      }
      assert(show(got, expr.dataType) == show(want, expr.dataType),
        s"$name codegen vs eval")
    }
  }
}
