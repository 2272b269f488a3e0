package cohortbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.api.SeqArray
import graft.sources.gds.{GdsCore, GdsSchema, GdsWrite}
import Stats.{median, timed}

object Workloads {

  // ---- shared pieces ---------------------------------------------------

  /** Closed loop, one client: op(i) for i = 0, 1, …. Op 0 is the cold
    * operation; ops 1..`warmup` run untimed so JIT and caches settle;
    * then timed warm ops run for `seconds` and until `minWarm` of them
    * ran. Nothing starts after the run's deadline or once a fifth of
    * the ops failed. Traced runs trace op 0 and every odd warm op, so the
    * even ones give the untraced comparison. Returns the walls of the
    * timed ops that succeeded, with their index. */
  def loop(c: Ctx, minWarm: Int, warmup: Int, afterCold: () => Unit)
      (op: Int => Unit): Seq[(Int, Double)] = {
    val out = ArrayBuffer.empty[(Int, Double)]
    var warmFrom = Long.MaxValue
    def warmElapsed = (System.nanoTime() - warmFrom) / 1e9
    var nWarm = 0
    var i = 0
    System.gc()
    while ((i <= warmup || warmElapsed < c.a.seconds || nWarm < minWarm) &&
        System.nanoTime() < c.deadline && c.res.failed * 5 <= i) {
      val timedOp = i == 0 || i > warmup
      c.tracer.op = i
      c.traceOn(c.a.trace && timedOp && traced(i))
      c.res.attempted += 1
      val s = System.nanoTime()
      val ok =
        try { op(i); true }
        catch {
          case e: Exception =>
            c.res.failed += 1
            c.res.check(false, s"op $i failed: $e")
            false
        }
      val wall = (System.nanoTime() - s) / 1e9
      c.traceOn(false)
      if (ok && timedOp) out += ((i, wall))
      if (i > warmup) nWarm += 1
      if (i == 0) afterCold()
      if (i == warmup) { System.gc(); warmFrom = System.nanoTime() }
      i += 1
    }
    out.toSeq
  }

  def traced(i: Int): Boolean = i == 0 || i % 2 == 1

  /** Builds a workload's inputs: `build(0)` once untimed, so class
    * loading and JIT of the write path stay out of the figure, then
    * `build(1..setups)` timed. Returns the timed walls; the inputs of the
    * last build are the ones measured. */
  def setUp(c: Ctx)(build: Int => Unit): Seq[Double] = {
    Main.note("setting up")
    build(0)
    Main.note("warm-up set-up done")
    val walls = (1 to c.a.scale.setups).map(k => timed(build(k))._2)
    println(walls.map(w => f"$w%.3f").mkString("setup: ", " ", " s"))
    walls
  }

  /** The end-to-end metrics every workload reports. */
  def endToEnd(c: Ctx, setups: Seq[Double], cold: Double,
      warm: Seq[Double], genotypesPerS: => Double): Unit = {
    c.res.check(warm.nonEmpty, "no warm operation completed")
    if (warm.nonEmpty) {
      c.res.metric("setup_s", median(setups), "s")
      c.res.metric("cold_s", cold, "s")
      c.res.metric("warm_s", median(warm), "s")
      c.res.metric("genotypes_per_s", genotypesPerS, "1/s")
    }
  }

  /** Spark per-layer metrics per traced warm op, codegen over the cold
    * op, and the tracing overhead (traced vs untraced warm medians). */
  def sparkLayers(c: Ctx, before: Map[String, Double],
      afterCold: Map[String, Double], end: Map[String, Double],
      walls: Seq[(Int, Double)]): Unit = {
    val warm = walls.filter(_._1 > 0)
    val tr = warm.filter(w => traced(w._1)).map(_._2)
    val un = warm.filterNot(w => traced(w._1)).map(_._2)
    val n = math.max(1, tr.size).toDouble
    def d(k: String) = (end(k) - afterCold(k)) / n
    Seq("spark.analysis_s", "spark.optimization_s", "spark.planning_s",
      "spark.job_active_s", "spark.task_run_s", "spark.task_cpu_s",
      "spark.gc_s").foreach(k => c.res.metric(k, d(k), "s"))
    Seq("spark.jobs", "spark.stages", "spark.tasks")
      .foreach(k => c.res.metric(k, d(k), "count"))
    Seq("spark.shuffle_bytes", "spark.spill_bytes")
      .foreach(k => c.res.metric(k, d(k), "bytes"))
    val active = d("spark.job_active_s")
    c.res.metric("spark.driver_only_s",
      if (tr.isEmpty) 0.0 else tr.sum / n - active, "s")
    c.res.metric("spark.core_utilization",
      if (active > 0) d("spark.task_run_s") / (active * c.a.cores) else 0.0,
      "ratio")
    c.res.metric("codegen.compiles",
      afterCold("codegen.compiles") - before("codegen.compiles"), "count")
    c.res.metric("codegen.compile_s",
      afterCold("codegen.compile_s") - before("codegen.compile_s"), "s")
    if (tr.nonEmpty && un.nonEmpty)
      c.res.metric("trace.overhead_pct",
        (median(tr) / median(un) - 1) * 100, "%")
  }

  /** Runs the measured loop with the Spark watch snapshots around it. */
  def measured(c: Ctx, minWarm: Int, warmup: Int)(op: Int => Unit)
      : Seq[(Int, Double)] = {
    val s0 = c.watch.snapshot()
    var s1 = s0
    Main.note("measuring")
    val cpu0 = HostCpu.ticks()
    val walls = loop(c, minWarm, warmup, () => s1 = c.watch.snapshot())(op)
    val steal = HostCpu.stealPct(cpu0, HostCpu.ticks())
    Main.note(s"measured ${walls.size} timed ops: " +
      walls.map(w => f"${w._2}%.3f").mkString(" "))
    println(f"host: $steal%.1f%% of CPU time stolen by other guests while measuring")
    c.res.metric("host.steal_pct", steal, "%")
    if (c.a.trace) sparkLayers(c, s0, s1, c.watch.snapshot(), walls)
    walls
  }

  def warmOf(walls: Seq[(Int, Double)]): Seq[Double] =
    walls.filter(_._1 > 0).map(_._2)
  def coldOf(c: Ctx, walls: Seq[(Int, Double)]): Double =
    walls.find(_._1 == 0).map(_._2).getOrElse {
      c.res.check(false, "cold operation failed"); Double.NaN
    }

  /** Sum of every shared-stage hit/miss counter the engine exposes (the
    * getters `graft.Bench` reports). */
  def sharedStages(): (Long, Long) = {
    import graft.operators.{LdWindow, PopGen, SuffixArray}
    import graft.pipeline.TrainingData
    import graft.queries.{Merge, TextDedup, VcfQ}
    val all = Seq(LdWindow.sharedTelemetry, TextDedup.saSharedTelemetry,
      PopGen.ehhSharedTelemetry, SuffixArray.sharedTelemetry,
      TrainingData.dedupSharedTelemetry, TrainingData.kmeansSharedTelemetry,
      TrainingData.bpeSharedTelemetry, VcfQ.ceuSharedTelemetry,
      PopGen.rohSharedTelemetry, TrainingData.simjoinSharedTelemetry,
      PopGen.siteSharedTelemetry, TextDedup.lshSharedTelemetry,
      Merge.mergeSharedTelemetry, TrainingData.candSharedTelemetry)
    (all.map(_._1).sum, all.map(_._2).sum)
  }

  // ---- the cohort container ----------------------------------------------

  def cohortSpec(c: Ctx): CohortSpec =
    CohortSpec(c.a.seed, c.a.scale.cohortSamples, c.a.scale.cohortVariants)

  /** Builds the ZIP_ra container with the engine's writer (each build to
    * a fresh file; the last is kept). The untimed warm-up build writes an
    * eighth of the variants: enough to load and compile the write path.
    * Returns the path and the timed build walls. Traced runs also split
    * one build's cost into the compress step, timed alone on the same
    * payload. */
  def buildCohort(c: Ctx, spec: CohortSpec): (String, Seq[Double]) = {
    val walls = setUp(c) { k =>
      val s = if (k == 0) spec.copy(nVariants = spec.nVariants / 8) else spec
      GdsWrite.write(Cohort.frame(c.spark, s), Cohort.sampleIds(s),
        c.work(s"cohort-$k.gds"), "ZIP_ra")
      if (k > 0) new File(c.work(s"cohort-${k - 1}.gds")).delete()
    }
    val path = c.work(s"cohort-${c.a.scale.setups}.gds")
    if (c.a.trace) writeLayers(c, path, median(walls))
    (path, walls)
  }

  /** gdswrite.compress_s: the genotype (and phase) payloads re-compressed
    * alone through the writer's container; encode_s is the rest of the
    * write (row streaming, bit packing, assembly). */
  def writeLayers(c: Ctx, path: String, writeS: Double): Unit = {
    val f = new GdsCore.GdsFile(path)
    val payloads = try {
      Seq("genotype", "phase").flatMap(n => f.root.child(n))
        .map(_("data")).map(n => (n.cls.get, n.dims, GdsCore.nodeBytes(f, n)))
    } finally f.close()
    val (_, cs) = timed(c.tracer.span("gdswrite.compress") {
      val box = new GdsWrite.Container("ZIP_ra")
      payloads.foreach { case (cls, dims, b) => box.node(cls, dims, b) }
    })
    c.res.metric("gdswrite.compress_s", cs, "s")
    c.res.metric("gdswrite.encode_s", math.max(0.0, writeS - cs), "s")
  }

  /** Expected (called, REF) per variant against the engine's AF rows. */
  def checkAf(c: Ctx, rows: Array[Row], t: Cohort.Truth,
      what: String): Unit = {
    c.res.check(rows.length == t.called.length,
      s"$what: ${rows.length} rows, expected ${t.called.length}")
    rows.foreach { r =>
      val i = (r.getLong(0) - 1).toInt
      val ok = i >= 0 && i < t.called.length && {
        val got = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
        got == t.af(i) || (got != null && t.af(i) != null &&
          got.doubleValue == t.af(i).doubleValue)
      }
      c.res.check(ok, s"$what: variant ${r.getLong(0)} af ${r.get(1)}")
    }
  }

  def checkMissing(c: Ctx, rows: Array[Row], t: Cohort.Truth): Unit = {
    c.res.check(rows.length == t.called.length,
      s"missing: ${rows.length} rows, expected ${t.called.length}")
    rows.foreach { r =>
      val i = (r.getLong(0) - 1).toInt
      val want = t.miss(i)
      val ok = i >= 0 && i < t.called.length &&
        !r.isNullAt(1) && want != null && r.getDouble(1) == want.doubleValue
      c.res.check(ok, s"missing: variant ${r.getLong(0)} ${r.get(1)}")
    }
  }

  /** Truth for the python cross-decode (scripts/gds_read.py, zlib). */
  def writeTruth(c: Ctx, path: String, t: Cohort.Truth): Unit = {
    val sb = new StringBuilder("variant_id,called,ac_ref\n")
    t.called.indices.foreach { i =>
      sb ++= s"${i + 1},${t.called(i)},${t.ref(i)}\n"
    }
    val tp = c.work("cohort_truth.csv")
    java.nio.file.Files.write(java.nio.file.Paths.get(tp),
      sb.toString.getBytes("UTF-8"))
    c.res.files("cohort_gds") = path
    c.res.files("cohort_truth") = tp
  }

  // ---- per-layer ladder on a container ---------------------------------

  final case class Ladder(inflateS: Double, compressed: Long, raw: Long,
      chunks: Int, decodeGenoS: Double, decodePgS: Double,
      genoStatsS: Double, packedS: Double, genotypes: Long)

  /** One thread walks the read path layer by layer over the whole
    * container: chunk inflate, bit-planes → nested `geno` arrays,
    * bit-planes → packed 2-bit `pg`, then the GenoStats and
    * GenoStatsPacked kernels, whose outputs are checked against `truth`. */
  def ladder(c: Ctx, path: String, truth: Cohort.Truth): Ladder = {
    val f = new GdsCore.GdsFile(path)
    try {
      val node = f.root("genotype")("data")
      val nS = node.dims(1)
      val v1 = node.dims(0)
      val (raw, inflateS) = timed(c.tracer.span("gds.inflate") {
        GdsCore.nodeBytes(f, node)
      })
      // small payloads are stored raw, without a chunk table
      val ct = GdsCore.chunkTable(f, node)
      val compressed = ct.map(_.sizes.map(_.toLong).sum)
        .getOrElse(raw.length.toLong)
      val full = GdsSchema.forPath(path)
      val packed = GdsSchema.forPath(path, packed = true)
      val genoSchema = StructType(Seq(full("geno")))
      val genoType: DataType = full("geno").dataType
      val toUnsafe = UnsafeProjection.create(Array(genoType))
      val stats = graft.functions.expressions.GenoStats(
        BoundReference(0, genoType, nullable = true), Literal(0))
      var decodeGeno = 0.0
      var kernel = 0.0
      val batch = 128
      var b0 = 0
      while (b0 < v1) {
        val b1 = math.min(v1, b0 + batch)
        val (rows, dg) = timed(c.tracer.span("gds.decode_geno") {
          val ex = GdsSchema.extractors(f, genoSchema, b0, b1)(0)
          (b0 until b1).map(ex)
        })
        decodeGeno += dg
        val unsafe = rows.map(g => toUnsafe(InternalRow(g)).copy())
        val (outs, ks) = timed(c.tracer.span("kernel.geno_stats") {
          unsafe.map(stats.eval(_)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
        })
        kernel += ks
        outs.zipWithIndex.foreach { case (o, k) =>
          val i = b0 + k
          c.res.check(o.getLong(1) == truth.called(i) &&
            o.getLong(2) == truth.ref(i),
            s"geno_stats kernel at variant ${b0 + k + 1}")
        }
        b0 = b1
      }
      val (pgs, decodePg) = timed(c.tracer.span("gds.decode_pg") {
        val ex = GdsSchema.extractors(f, StructType(Seq(packed("pg"))),
          0, v1)(0)
        (0 until v1).map(v => ex(v).asInstanceOf[Array[Byte]])
      })
      val (pouts, packedS) = timed(c.tracer.span("kernel.packed") {
        pgs.map(graft.functions.expressions.GenoStatsPacked.eval(_, nS))
      })
      pouts.zipWithIndex.foreach { case (o, i) =>
        c.res.check(o.getLong(1) == truth.called(i) &&
          o.getLong(2) == truth.ref(i),
          s"geno_stats_packed kernel at variant ${i + 1}")
      }
      Ladder(inflateS, compressed, raw.length.toLong, ct.map(_.nChunks).getOrElse(1),
        decodeGeno, decodePg, kernel, packedS, v1.toLong * nS)
    } finally f.close()
  }

  def reportLadder(c: Ctx, l: Ladder): Unit = {
    val g = l.genotypes.toDouble
    c.res.metric("gds.inflate_s", l.inflateS, "s")
    c.res.metric("gds.inflate_mb_per_s", l.raw / 1e6 / l.inflateS, "MB/s")
    c.res.metric("gds.compressed_bytes", l.compressed.toDouble, "bytes")
    c.res.metric("gds.raw_bytes", l.raw.toDouble, "bytes")
    c.res.metric("gds.chunks_touched", l.chunks.toDouble, "count")
    c.res.metric("gds.decode_geno_s", l.decodeGenoS, "s")
    c.res.metric("gds.decode_pg_s", l.decodePgS, "s")
    c.res.metric("gds.decode_genotypes_per_s_core", g / l.decodeGenoS, "1/s")
    c.res.metric("kernel.geno_stats_genotypes_per_s_core", g / l.genoStatsS,
      "1/s")
    c.res.metric("kernel.packed_genotypes_per_s_core", g / l.packedS, "1/s")
  }

  // ---- af_cohort_scan ------------------------------------------------------

  /** Repeated full scans: `alleleFreq(0)` then `missing()`, each over
    * every variant and sample, each checked against the truth. */
  def afCohortScan(c: Ctx): Unit = {
    val spec = cohortSpec(c)
    val (path, setups) = buildCohort(c, spec)
    val truth = Cohort.truth(spec)
    val want = if (c.a.perturb) perturbed(truth) else truth
    writeTruth(c, path, want)
    // one operation = both scans, so every op does the same work
    def scans(i: Int): Unit = {
      val af = c.tracer.span("api.open")(SeqArray.openGds(c.spark, path))
      val afDf = c.tracer.span("api.build")(af.alleleFreq(0))
      checkAf(c, c.tracer.span("spark.collect")(afDf.collect()), want,
        "alleleFreq")
      val miss = c.tracer.span("api.open")(SeqArray.openGds(c.spark, path))
      val missDf = c.tracer.span("api.build")(miss.missing())
      checkMissing(c, c.tracer.span("spark.collect")(missDf.collect()), want)
    }
    val walls = measured(c, 4, 0)(scans)
    val warm = warmOf(walls)
    endToEnd(c, setups, coldOf(c, walls), warm,
      2 * spec.genotypes / median(warm))
    c.res.metric("gds.bytes_per_genotype",
      new File(path).length.toDouble / spec.genotypes, "bytes")
    if (c.a.trace) {
      apiLayers(c)
      reportLadder(c, ladder(c, path, want))
      roundtripLayers(c)
      baseline(c, path, spec, warmOf(walls), truth)
    }
  }

  /** The same truth with one REF count moved: the self-test's proof that
    * the gate rejects a wrong expectation. */
  def perturbed(t: Cohort.Truth): Cohort.Truth = {
    val ref = t.ref.clone()
    ref(ref.length / 2) += 1
    t.copy(ref = ref)
  }

  /** Informational: AF-scan genotypes/s/core at local[n] (this run's
    * warm scans) and at local[1] (a fresh local[1] session), against
    * BASELINE.md's C++ UDF (≈180 M genotypes/s/core) and R UDF
    * (≈10.0 k variants/s × 2,504 samples ≈ 25 M genotypes/s). */
  def baseline(c: Ctx, path: String, spec: CohortSpec, warm: Seq[Double],
      truth: Cohort.Truth): Unit = {
    val perCoreN = 2 * spec.genotypes / median(warm) / c.a.cores
    c.spark.stop()
    val one = Main.session(1, c.a.work)
    val walls = (0 until 3).map { _ =>
      val (rows, w) = timed(SeqArray.openGds(one, path).alleleFreq(0).collect())
      checkAf(c, rows, truth, "alleleFreq local[1]")
      w
    }
    val perCore1 = spec.genotypes / median(walls.drop(1))
    c.res.metric("baseline.genotypes_per_s_core_local1", perCore1, "1/s")
    c.res.metric("baseline.genotypes_per_s_core_localn", perCoreN, "1/s")
    println(f"baseline: af_cohort_scan ${perCore1 / 1e6}%.2f M genotypes/s/core " +
      f"at local[1], ${perCoreN / 1e6}%.2f M at local[${c.a.cores}] " +
      // an operation is two scans
      f"(${c.res.metrics.get("spark.tasks").map(_._1 / 2).getOrElse(0.0)}%.1f " +
      "tasks a scan); " +
      f"BASELINE.md C++ UDF ≈180 M/s/core (${perCore1 / 180e6 * 100}%.1f%%), " +
      f"R UDF ≈25 M/s (10.0 k variants/s × 2,504 samples)")
  }

  def apiLayers(c: Ctx): Unit = Seq("api.open", "api.build").foreach { k =>
    val n = c.tracer.count(k)
    if (n > 0) c.res.metric(k + "_s", c.tracer.seconds(k) / n, "s")
  }

  // ---- the write side, in the traced af run -------------------------------

  /** One VCF→GDS→VCF round trip of a seeded bgzf VCF: `seqVCF2GDS`, then
    * `seqGDS2VCF` back to bgzf, whose genotype digest must survive. A cold
    * cycle, then a warm one whose import and export rates are reported;
    * then the BGZF inflate and the VCF parse (no GDS write) alone. */
  def roundtripLayers(c: Ctx): Unit = {
    val spec = CohortSpec(c.a.seed, c.a.scale.vcfSamples,
      c.a.scale.vcfVariants)
    val vcf = c.work("input.vcf.gz")
    val digest = VcfGen.write(spec, vcf)
    var walls = (0.0, 0.0)
    (0 until 2).foreach { i =>
      val gds = c.work(s"rt-$i.gds")
      val out = c.work(s"rt-$i.vcf.gz")
      val (_, ti) = timed(c.tracer.span("api.seqVCF2GDS")(
        SeqArray.seqVCF2GDS(c.spark, vcf, gds)))
      val (_, te) = timed(c.tracer.span("api.seqGDS2VCF")(
        SeqArray.seqGDS2VCF(c.spark, gds, out)))
      val (got, lines) = VcfGen.digest(out)
      c.res.check(lines == spec.nVariants,
        s"roundtrip $i: $lines lines, expected ${spec.nVariants}")
      c.res.check(got == digest,
        s"roundtrip $i: genotype digest $got != $digest")
      walls = (ti, te)
      new File(gds).delete()
      new File(out).delete()
    }
    c.res.metric("roundtrip.import_genotypes_per_s",
      spec.genotypes / walls._1, "1/s")
    c.res.metric("roundtrip.export_genotypes_per_s",
      spec.genotypes / walls._2, "1/s")
    val (_, inf) = timed(c.tracer.span("bgzf.inflate") {
      val in = new graft.sources.bcf.Bgzf.BlockStream(vcf, 0L)
      try {
        val buf = new Array[Byte](1 << 16)
        while (in.read(buf, 0, buf.length) > 0) {}
      } finally in.close()
    })
    c.res.metric("bgzf.inflate_s", inf, "s")
    val (_, parse) = timed(c.tracer.span("vcf.parse") {
      graft.sources.Vcf.read(c.spark, vcf).write.format("noop")
        .mode("overwrite").save()
    })
    c.res.metric("vcf.parse_s", parse, "s")
  }

  // ---- operator_board ------------------------------------------------------

  /** Shared-stage owners (q33 LSH, q108 LD pair stats) and ROADMAP perf
    * leftovers (q328, q182, q333); all but q33 run on SynthGeno's
    * 8-sample genotype cube. */
  val boardQueries = Seq("q33_minhash_lsh", "q108_ld_r2",
    "q328_sample_swap", "q182_garud_h", "q333_imputation_r2")
  val genotypeQueries = boardQueries.toSet - "q33_minhash_lsh"

  /** A fresh session: one cold pass over the board, then warm passes;
    * every query's row count and order-independent hash must agree
    * across passes, and the cold rows go to the DuckDB oracle. */
  def operatorBoard(c: Ctx): Unit = {
    val s = BoardData.Spec(c.a.seed, c.a.scale.boardDocs, c.a.scale.boardOrders)
    val setups = setUp(c)(k => BoardData.write(c.spark, s, c.work(s"board-$k")))
    val dir = c.work(s"board-${c.a.scale.setups}")
    val cube = graft.genomics.SynthGeno.nSamples *
      BoardData.lineitemRows(c.spark, dir).toDouble
    val fns = graft.SparkEntry.queries
    val perQuery = boardQueries.map(q => q -> ArrayBuffer.empty[Double]).toMap
    val hashes = boardQueries.map(q => q -> ArrayBuffer.empty[(Long, Long)]).toMap
    val coldRows = scala.collection.mutable.Map.empty[String, DataFrame]
    val genoWall = ArrayBuffer.empty[Double]
    def pass(i: Int): Unit = {
      var g = 0.0
      boardQueries.foreach { q =>
        val ((df, rows), w) = timed(c.tracer.span(s"board.$q") {
          val df = fns(q)(c.spark, dir)
          (df, df.collect())
        })
        if (i == 0) coldRows(q) = c.spark.createDataFrame(
          c.spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
        perQuery(q) += w
        if (genotypeQueries(q)) g += w
        hashes(q) += ((rows.length.toLong,
          rows.iterator.map(r => scala.util.hashing.MurmurHash3
            .stringHash(r.toString).toLong).sum))
      }
      if (i > 0) genoWall += g
    }
    val (h0, m0) = sharedStages()
    val walls = measured(c, 3, 0)(pass)
    val (h1, m1) = sharedStages()
    boardQueries.foreach { q =>
      val hs = hashes(q).distinct
      c.res.check(hs.size == 1,
        s"$q: row count/hash differ across passes: ${hashes(q).mkString(" ")}")
    }
    // the oracle compares these files with DuckDB after the JVM exits
    val out = c.work("board-out")
    coldRows.foreach { case (q, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    }
    val oracle = boardQueries.map { q =>
      val sql = graft.SparkEntry.oracleSql.getOrElse(q, "")
      s""""$q":${Main.jsonStr(if (c.a.perturb && q == boardQueries.head)
        s"SELECT * FROM ($sql) LIMIT 1" else sql)}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "oracle.json"),
      oracle.getBytes("UTF-8"))
    c.res.files("board_tables") = dir
    c.res.files("board_out") = out
    val warm = warmOf(walls)
    endToEnd(c, setups, coldOf(c, walls), warm,
      cube * genotypeQueries.size / median(genoWall.toSeq))
    c.res.metric("shared_stage.hits", (h1 - h0).toDouble, "count")
    c.res.metric("shared_stage.misses", (m1 - m0).toDouble, "count")
    boardQueries.foreach { q =>
      val short = q.takeWhile(_ != '_')
      c.res.metric(s"board.$short.cold_s", perQuery(q).head, "s")
      if (perQuery(q).size > 1)
        c.res.metric(s"board.$short.warm_s", median(perQuery(q).drop(1).toSeq),
          "s")
    }
  }
}
