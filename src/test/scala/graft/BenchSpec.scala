package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The harness runner's mode parsing, query selection, name lists and
  * JSON escaping — no Spark session and no fixtures. */
class BenchSpec extends AnyFunSuite {
  import Bench.Mode

  test("each mode string parses to its mode") {
    val cases = Seq(
      Seq() -> Mode.Board,
      Seq("board") -> Mode.Board,
      Seq("time") -> Mode.Time(2),
      Seq("time", "5") -> Mode.Time(5),
      Seq("plan") -> Mode.Plan(""),
      Seq("plan", "--exec") -> Mode.Plan("--exec"),
      Seq("plan", "--fmt") -> Mode.Plan("--fmt"),
      Seq("audit") -> Mode.Audit,
      Seq("scale") -> Mode.Scale)
    for ((args, mode) <- cases) assert(Bench.parseMode(args) == mode, args)
  }

  test("an unknown mode raises a usage error that lists the modes") {
    for (args <- Seq(Seq("bogus"), Seq("time", "0"), Seq("time", "x"),
        Seq("plan", "--nope"), Seq("audit", "extra"))) {
      val e = intercept[IllegalArgumentException](Bench.parseMode(args))
      for (m <- Seq("board", "time", "plan", "audit", "scale"))
        assert(e.getMessage.contains(m), args)
    }
  }

  test("selection keeps the given order and rejects unknown names") {
    assert(Bench.selected(Some("q33_minhash_lsh,q108_ld_r2")).map(_._1) ==
      Seq("q33_minhash_lsh", "q108_ld_r2"))
    assert(Bench.selected(None).size == SparkEntry.queries.size)
    val e = intercept[IllegalArgumentException](
      Bench.selected(Some("q108_ld_r2,no_such_query,q0_nope")))
    assert(e.getMessage.contains("no_such_query, q0_nope"))
    intercept[IllegalArgumentException](Bench.selected(Some(" , ")))
  }

  test("every warmup owner and eager builder is a registered query") {
    val names = SparkEntry.queries.keySet
    assert(Bench.warmupOwners.filterNot(names).isEmpty)
    assert(Bench.eagerBuilders.filterNot(names).isEmpty)
  }

  test("jsonString output parses back to its input") {
    val s = "q\"uote back\\slash\ttab\nline \u0001 ctl é漢"
    val parsed = new ObjectMapper().readValue(Bench.jsonString(s),
      classOf[String])
    assert(parsed == s)
  }
}
