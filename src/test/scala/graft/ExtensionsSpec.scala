package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions hook must make every custom kernel callable
  * from plain SQL. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // getOrCreate would silently reuse another spec's extension-less
    // session in the shared test JVM — force a fresh session (same
    // SparkContext) so the extensions actually apply.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  test("a session built without withExtensions loads the extensions " +
      "through ServiceLoader") {
    import org.apache.spark.sql.functions.col
    // a fresh session, configured with neither withExtensions nor
    // spark.sql.extensions
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = SparkSession.builder()
      .master("local[2]")
      .appName("graft-plain")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    assert(plain.conf.getOption("spark.sql.extensions").isEmpty)
    val st = plain.sql("SELECT geno_stats(array(array(0L, 1L)), 0) AS st")
      .collect()(0).getSeq[Long](0)
    assert(st == Seq(2L, 2L, 1L, 0L, 0L))
    import plain.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ext")
      .toString + "/c.gds"
    graft.sources.gds.GdsWrite.write(
      Seq((1L, "1", 100, "A,G", Seq(Seq(0L, 1L), Seq(1L, 1L))))
        .toDF("variant_id", "chrom", "pos", "allele", "geno"),
      Seq("S0", "S1"), path, "ZIP_ra")
    plain.read.format("gds").load(path).createOrReplaceTempView("cohort")
    val q = plain.sql("SELECT variant_id, geno_stats(geno, 0) AS st FROM cohort")
    val optimized = q.queryExecution.optimizedPlan
    assert(optimized.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.expressions.GenoStatsRaw]))), optimized)
    assert(q.select(col("st")).collect()(0).getSeq[Long](0) ==
      Seq(4L, 4L, 1L, 0L, 0L))
  }

  test("custom kernels callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  geno_stats(array(array(0L, 1L), array(CAST(null AS BIGINT), 1L)), 0) AS st,
        |  gt_strings(array(array(0L, 1L)), array(true), ';') AS gts,
        |  allele_union('A,C', 'A,G') AS au,
        |  dot_i64(array(1L, 2L), array(3L, 4L)) AS dot,
        |  word_shingles('a b c d', 3) AS sh,
        |  simhash16('hello world') AS sim,
        |  unpack_2b(pack_2b(array(array(0L, 0L))), 1) AS up,
        |  dosage_alt2(array(array(CAST(null AS BIGINT), 1L))) AS da2,
        |  geno_stats_packed(pack_2b(array(array(0L, 1L))), 1) AS gsp
        |""".stripMargin).collect()(0)
    assert(r.getSeq[Long](0) == Seq(4L, 3L, 1L, 1L, 1L))
    assert(r.getString(1) == "0|1")
    assert(r.getString(2) == "A,C,G")
    assert(r.getLong(3) == 11L)
    assert(r.getSeq[String](4) == Seq("a b c", "b c d"))
    assert(r.getLong(5) >= 0L && r.getLong(5) < 65536L)
    assert(r.getSeq[Any](6) == Seq(2))
    assert(r.getSeq[Any](7) == Seq(1L))
    assert(r.getSeq[Long](8) == Seq(2L, 2L, 1L, 0L, 0L))
  }

  test("round-4 kernels callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  srp_bucket(array(1L, -2L, 3L), 8, 1) AS srp,
        |  minhash_sig(array('a b c', 'b c d'), 3) AS mh,
        |  sample_cells(array(array(0L, 1L)), array(true), ';',
        |    array('42')) AS cells
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) >= 0L && r.getLong(0) < 256L)
    assert(r.getSeq[String](1).length == 3 &&
      r.getSeq[String](1).forall(_.length == 32))
    assert(r.getString(2) == "0|1:42")
  }

  test("winnow_fps callable from SQL and matches the Column API") {
    import org.apache.spark.sql.functions.col
    val viaSql = spark.sql(
      "SELECT winnow_fps('the quick brown fox jumps', 8, 4) AS fps")
      .collect()(0).getSeq[Long](0)
    import spark.implicits._
    val viaCol = Seq("the quick brown fox jumps").toDF("t")
      .select(graft.functions.textfns.winnowFps(col("t"), 8, 4))
      .collect()(0).getSeq[Long](0)
    assert(viaSql == viaCol && viaSql.nonEmpty)
    assert(viaSql == viaSql.sorted && viaSql.distinct == viaSql)
  }

  test("cdc_chunks callable from SQL and matches the Column API") {
    import org.apache.spark.sql.functions.col
    val viaSql = spark.sql(
      "SELECT cdc_chunks('the quick brown fox jumps over it', 8, 4) AS c")
      .collect()(0).getSeq[String](0)
    import spark.implicits._
    val viaCol = Seq("the quick brown fox jumps over it").toDF("t")
      .select(graft.functions.textfns.cdcChunks(col("t"), 8, 4))
      .collect()(0).getSeq[String](0)
    assert(viaSql == viaCol && viaSql.nonEmpty)
    assert(viaSql.forall(_.length == 32))
  }

  test("round-5 kernels callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  repetition_stats('a a a b') AS rep,
        |  parse_fmt_cells(array('0/1:7', '1/1:.'), 2, '1', 'Integer', 3)
        |    AS dp
        |""".stripMargin).collect()(0)
    // top bigram "a a" occurs at starts 0,1 -> covers slots 0..2 = 3 chars
    assert(r.getSeq[Long](0) == Seq(4L, 4L, 3L, 3L, 0L))
    // padded to nSamples: the third (absent) sample is null
    assert(r.getSeq[Integer](1).toSeq == Seq(7, null, null))
  }

  test("PQ/LD kernels callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  l2_i64(array(1L, 2L), array(4L, 0L)) AS l2,
        |  pq_encode(array(1L, 2L, 9L, 9L),
        |    array(array(1L, 2L, 0L, 0L), array(9L, 9L, 9L, 9L)), 2, 2)
        |    AS codes,
        |  pq_adc(array(array(10L, 20L), array(30L, 40L)),
        |    array(1, 0)) AS adc,
        |  ld_pair_stats(array(1L, CAST(null AS BIGINT), 2L),
        |    array(2L, 1L, CAST(null AS BIGINT))) AS ld
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) == 13L) // 3² + 2²
    assert(r.getSeq[Int](1) == Seq(0, 1)) // sub0 → cw0, sub1 → cw1
    assert(r.getLong(2) == 50L) // 20 + 30
    // only index 0 is pairwise-complete: n=1, sx=1, sy=2, sxy=2, sxx=1, syy=4
    assert(r.getSeq[Long](3) == Seq(1L, 1L, 2L, 2L, 1L, 4L))
  }
}
