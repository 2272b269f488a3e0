package cohortbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.api.SeqArray

/** Input sizes. `full` is the measured shape; `tiny` serves the
  * self-test, which only checks that every metric and gate works. */
final case class Scale(
    cohortSamples: Int, cohortVariants: Int,
    vcfSamples: Int, vcfVariants: Int,
    boardDocs: Int, boardOrders: Int,
    setups: Int)

object Scale {
  val full = Scale(2504, 2000, 2504, 300, 200, 4000, 3)
  val tiny = Scale(48, 400, 24, 120, 60, 400, 3)
}

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String, cores: Int, scale: Scale,
    perturb: Boolean, budget: Double)

/** What one run reports: counts, correctness errors, metrics (name →
  * value, unit) and files the python side checks after the JVM exits. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val files = mutable.LinkedHashMap.empty[String, String]
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok && errors.size < 20) errors += msg
  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Everything a workload needs. */
final class Ctx(val a: Args, val spark: SparkSession, val res: Result) {
  val tracer = new Tracer
  val watch = new SparkWatch(spark)
  /** No new operation starts after this (System.nanoTime). */
  val deadline: Long = System.nanoTime() + (a.budget * 1e9).toLong
  def work(name: String): String = Paths.get(a.work, name).toString
  def traceOn(b: Boolean): Unit = { tracer.on = b; watch.setOn(b) }
}

object Main {

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1", need("--work"), need("--out"),
      m.getOrElse("--cores", "4").toInt,
      if (m.getOrElse("--scale", "full") == "tiny") Scale.tiny else Scale.full,
      m.getOrElse("--perturb", "0") == "1",
      m.getOrElse("--budget", "100").toDouble)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cohortbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()
  /** Progress line with the time since JVM start, to the run's log. */
  def note(s: String): Unit =
    System.err.println(f"[cohortbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $s")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    note("starting session")
    val spark = session(a.cores, a.work)
    note("session started")
    val res = new Result
    val ctx = new Ctx(a, spark, res)
    try {
      a.workload match {
        case "af_cohort_scan" => Workloads.afCohortScan(ctx)
        case "operator_board" => Workloads.operatorBoard(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      if (a.trace) ctx.tracer.write(Paths.get(a.work, "spans.jsonl"))
      note("workload done")
    } finally SparkSession.getActiveSession.foreach(_.stop())
    Files.write(Paths.get(a.out), json(res).getBytes("UTF-8"))
    note("stopped")
  }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def json(r: Result): String = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      s"""${jsonStr(k)}:{"value":${num(v)},"unit":${jsonStr(u)}}"""
    }.mkString("{", ",", "}")
    val fs = r.files.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")
    s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""errors":${r.errors.map(jsonStr).mkString("[", ",", "]")},""" +
      s""""metrics":$ms,"files":$fs}"""
  }
}
