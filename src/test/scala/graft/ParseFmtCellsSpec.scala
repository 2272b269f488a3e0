package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Vcf

/** The fused fmt_* parser must reproduce the unrolled cast-built twin
  * value-for-value — including the cast edge cases (malformed numbers,
  * spaces, specials) — in both execution modes. */
class ParseFmtCellsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val lines = Seq(
    // FORMAT GT:DP:AD:GQ — ints, ragged Number=. ints, missing cells
    "1\t100\tv1\tA\tC\t.\t.\t.\tGT:DP:AD:GQ\t0/1:12:3,9:99\t1|1:.:.,.:7",
    // field order permuted; trailing field absent in one sample
    "1\t101\tv2\tA\tC\t.\t.\t.\tDP:GT:AD\t7:0/0:1,2\t.:1/1",
    // the field entirely absent from FORMAT
    "1\t102\tv3\tA\tC\t.\t.\t.\tGT\t0/1\t1/1",
    // cast edge cases: spaces, malformed, overflow-ish, specials
    "1\t103\tv4\tA\tC\t.\t.\t.\tGT:DP:AF\t0/1: 42 :1.5\t1/1:x:NaN",
    "1\t104\tv5\tA\tC\t.\t.\t.\tGT:DP:AF\t0/1:2147483648:Infinity\t1/1:-7:-2.5e2",
    "1\t105\tv6\tA\tC\t.\t.\t.\tGT:DP:AF\t0/1:1.5:+inf\t1/1:+9:1e2",
    // truncated body line: SECOND SAMPLE COLUMN MISSING entirely — the
    // fmt arrays must still come back nSamples wide (nulls padded)
    "1\t106\tv7\tA\tC\t.\t.\t.\tGT:DP\t0/1:5"
  )

  private def df = {
    import spark.implicits._
    lines.toDF("value")
  }

  /** The unrolled per-sample fmt parser — `ParseFmtCells`'s declarative
    * twin: the kernel must reproduce these cast-built values exactly. */
  private def fmtColUnrolled(fields: Column, fmtArr: Column,
      spec: Vcf.FieldSpec, nSamples: Int): Column = {
    import Vcf.{castScalar, tryElem}
    val idx = array_position(fmtArr, spec.id)
    array((0 until nSamples).map { i =>
      // null-tolerant element access at BOTH levels: a truncated
      // trailing FORMAT field (legal VCF) or a truncated body line must
      // yield null, not an ANSI index error
      val raw = when(idx > 0,
        tryElem(split(tryElem(fields, lit(10 + i)), ":"),
          idx.cast("int")))
      val nn = when(raw.isNull || raw === "" || raw === ".", lit(null))
        .otherwise(raw)
      if (spec.number == "1") castScalar(nn, spec.vtype)
      else transform(split(nn, ","),
        x => castScalar(when(x === ".", lit(null)).otherwise(x), spec.vtype))
    }: _*)
  }

  private val specs = Seq(
    Vcf.FieldSpec("DP", "1", "Integer"),
    Vcf.FieldSpec("AD", ".", "Integer"),
    Vcf.FieldSpec("GQ", "1", "Integer"),
    Vcf.FieldSpec("AF", "1", "Float"))

  test("kernel == unrolled twin on permuted/absent/malformed cells") {
    import org.apache.spark.sql.graft.Bridge
    val f = split(col("value"), "\t")
    val fmtArr = split(element_at(f, 9), ":")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        for (spec <- specs) {
          val kernel = Bridge.column(graft.functions.expressions
            .ParseFmtCells(
              Bridge.expression(slice(f, 10, 2)),
              Bridge.expression(
                array_position(fmtArr, spec.id).cast("int")),
              spec.number, spec.vtype, 2))
          val twin = fmtColUnrolled(f, fmtArr, spec, 2)
          val got = df.select(kernel.as("k"), twin.as("t")).collect()
          got.zip(lines).foreach { case (r, line) =>
            // stringified: NaN must compare equal to NaN
            assert(String.valueOf(r.get(0)) == String.valueOf(r.get(1)),
              s"$mode ${spec.id} on $line: kernel=${r.get(0)} " +
                s"twin=${r.get(1)}")
          }
        }
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("fuzzed cells: kernel == twin on 300 random lines") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.graft.Bridge
    import spark.implicits._
    // cells drawn from the full grammar a FORMAT cell can take: numeric
    // and junk tokens, '.', empties, commas, missing separators, short
    // lines — anywhere the two parsers could disagree
    val token: Gen[String] = Gen.frequency(
      6 -> Gen.choose(-300, 300).map(_.toString),
      2 -> Gen.oneOf(".", "", " 7 ", "1.5", "-2.75", "x", "3e2",
        "2147483648", "NaN", "Infinity"),
      1 -> Gen.oneOf("1,2", ".,5", "4,.", ",", "a,b"))
    val cell: Gen[String] = Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n + 1, token).map(_.mkString(":")))
    val lineGen: Gen[String] = for {
      fmtN <- Gen.choose(1, 3)
      nCells <- Gen.choose(0, 3) // may be SHORTER than nSamples=3
      cells <- Gen.listOfN(nCells, cell)
    } yield (Seq("1", "9", "v", "A", "C", ".", ".", ".",
      Seq("GT", "DP", "AD", "AF").take(fmtN + 1).mkString(":"))
      ++ cells).mkString("\t")
    val seed = 20260813L
    val lines = (0 until 300).map(i =>
      lineGen.pureApply(Gen.Parameters.default, Seed(seed + i)))
    val df = lines.toDF("value")
    val f = split(col("value"), "\t")
    val fmtArr = split(element_at(f, 9), ":")
    for (spec <- specs :+ Vcf.FieldSpec("AD", ".", "Float")) {
      val kernel = Bridge.column(graft.functions.expressions
        .ParseFmtCells(
          Bridge.expression(slice(f, 10, 3)),
          Bridge.expression(array_position(fmtArr, spec.id).cast("int")),
          spec.number, spec.vtype, 3))
      val twin = fmtColUnrolled(f, fmtArr, spec, 3)
      val got = df.select(kernel.as("k"), twin.as("t")).collect()
      got.zip(lines).foreach { case (r, line) =>
        assert(String.valueOf(r.get(0)) == String.valueOf(r.get(1)),
          s"${spec.id}/${spec.number}/${spec.vtype} on <$line>: " +
            s"kernel=${r.get(0)} twin=${r.get(1)}")
      }
    }
  }

  test("biobank-width parse: 2000 samples stay one kernel call per field") {
    import spark.implicits._
    val n = 2000
    val cells = (0 until n).map(i => s"0/1:${i % 97}").mkString("\t")
    val wide = Seq(s"1\t500\tw1\tA\tC\t.\t.\t.\tGT:DP\t$cells").toDF("value")
    val t0 = System.nanoTime()
    val parsed = Vcf.parseLines(wide,
      Nil, Seq(Vcf.FieldSpec("GT", "1", "String"),
        Vcf.FieldSpec("DP", "1", "Integer")), n)
    val dp = parsed.select("fmt_DP").collect()(0).getSeq[Integer](0)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(dp.length == n)
    assert((0 until n).forall(i => dp(i) == i % 97))
    // the unrolled shape planned O(n) expression nodes here; the kernel
    // must keep plan+run comfortably sub-second at this width
    assert(secs < 30.0, s"wide parse took $secs s")
  }

  test("parseLines end-to-end golden values through the kernel") {
    val parsed = Vcf.parseLines(df, Nil, Vcf.FieldSpec("GT", "1", "String")
      +: specs, nSamples = 2, chrPrefix = "")
    val r = parsed.orderBy("pos")
      .select("pos", "fmt_DP", "fmt_AD", "fmt_AF").collect()
    assert(r(0).getSeq[Integer](1).toSeq == Seq(12, null))
    assert(r(0).getSeq[scala.collection.Seq[Integer]](2)
      .map(Option(_).map(_.toList)).toList ==
      Seq(Some(List[Integer](3, 9)), Some(List[Integer](null, null))))
    assert(r(1).getSeq[Integer](1).toSeq == Seq(7, null))
    // absent field -> all-null column
    assert(r(2).getSeq[Integer](1).toSeq == Seq(null, null))
    // tolerant numeric semantics: " 42 " trims to 42, "x" -> null,
    // 2^31 overflows -> null, "1.5" truncates toward zero -> 1
    assert(r(3).getSeq[Integer](1).toSeq == Seq(42, null))
    assert(r(4).getSeq[Integer](1).toSeq == Seq(null, -7))
    val af4 = r(4).getSeq[java.lang.Float](3).toSeq
    assert(af4(0) == Float.PositiveInfinity && af4(1) == -250.0f)
    assert(r(5).getSeq[Integer](1).toSeq == Seq(1, 9))
    // truncated line: second sample padded with null, not a short array
    assert(r(6).getSeq[Integer](1).toSeq == Seq(5, null))
  }

  test("garbage body lines degrade to null-padded rows, never errors") {
    import spark.implicits._
    val parsed = Vcf.parseLines(Seq(
      "1\t300\tok\tA\tC\t5.0\tPASS\t.\tGT:DP\t0/1:3\t1/1:4",
      "",                        // blank trailing line
      "just-one-field",          // no tabs at all
      "1\tnot_a_number\tx\tA\tC\tqual?\t.\t."  // malformed pos/qual, no FORMAT
    ).toDF("value"), Nil,
      Seq(Vcf.FieldSpec("GT", "1", "String"),
        Vcf.FieldSpec("DP", "1", "Integer")), 2)
    val rows = parsed.select("id", "pos", "qual", "fmt_DP").collect()
    assert(rows.length == 4)
    // the good line parses fully
    val ok = rows.find(r => !r.isNullAt(0) && r.getString(0) == "ok").get
    assert(ok.getInt(1) == 300 && ok.getFloat(2) == 5.0f)
    assert(ok.getSeq[Integer](3).toSeq == Seq(3, 4))
    // the three garbage lines: pos (and qual) degrade to null
    assert(rows.count(_.isNullAt(1)) == 3)
    assert(rows.count(_.isNullAt(2)) == 3)
  }

  test("GT cube pads truncated lines and nulls malformed alleles") {
    import spark.implicits._
    val parsed = Vcf.parseLines(Seq(
      "1\t200\tg1\tA\tC\t.\t.\t.\tGT\t0/1",          // 2nd sample missing
      "1\t201\tg2\tA\tC\t.\t.\t.\tGT\tx/1\t0|zz"     // malformed alleles
    ).toDF("value"), Nil, Seq(Vcf.FieldSpec("GT", "1", "String")), 2)
    val rows = parsed.orderBy("pos").select("geno", "phased").collect()
    val g1 = rows(0).getSeq[scala.collection.Seq[java.lang.Long]](0)
    assert(g1.length == 2 && rows(0).getSeq[Boolean](1).length == 2)
    assert(g1(0).toSeq == Seq(0L, 1L) && g1(1) == null)
    val g2 = rows(1).getSeq[scala.collection.Seq[java.lang.Long]](0)
    assert(g2(0).toSeq == Seq(null, 1L)) // "x" -> missing, not a crash
    assert(g2(1).toSeq == Seq(0L, null))
    assert(rows(1).getSeq[Boolean](1).toSeq == Seq(false, true))
  }
}
