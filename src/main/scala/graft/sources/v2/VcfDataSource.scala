package graft.sources.v2

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{SourcePaths, Vcf}
import graft.sources.bcf.{Bcf, Bgzf}

/** DataSource V2 for VCF and BCF: `spark.read.format("vcf").load(path)`,
  * the engine's one VCF/BCF scan — [[Vcf.read]] and [[Bcf.read]] are
  * facades over it (SURVEY.md §2.1 `seqOpen`/`seqVCF2GDS`/`seqBCF2GDS`
  * as a first-class Spark source).
  *
  * Split of work mirrors the reference's import (§3.3): the `##` header
  * of every file is read once per table on the driver and fixes the
  * schema; each input partition is a byte range of one file (see
  * [[VcfScan]]) whose reader projects raw lines through the SAME Catalyst
  * expressions as [[Vcf.parseLines]] — analyzed once on the driver,
  * shipped to executors as an UnsafeProjection recipe. A `.bcf` range
  * decodes its records to canonical VCF lines ([[Bcf.rangeLines]]) and
  * goes through the same projection. Column pruning reaches the scan: a
  * pruned schema drops the un-needed parse expressions. A directory
  * (e.g. a sharded export) expands to its `.vcf`, `.vcf.gz` and `.bcf`
  * files.
  */
class VcfDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "vcf"

  // Spark asks one provider instance for the schema and then for the
  // table of the same options: both come from one table, so each load
  // reads every header and analyzes the parse projection once
  private var table: VcfTable = _

  private def tableFor(options: CaseInsensitiveStringMap): VcfTable = {
    val paths = SourcePaths(options, "vcf", VcfDataSource.Suffixes)
    if (table == null || table.paths != paths)
      table = new VcfTable(paths, VcfDataSource.planFor(paths))
    table
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableFor(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    tableFor(new CaseInsensitiveStringMap(properties))
}

object VcfDataSource {

  final case class ParsePlan(schema: StructType, exprs: Seq[Expression],
      input: Seq[Attribute]) extends Serializable {

    /** The plan of the `required` columns only: the parse projection is
      * one independent expression per output column, so a chrom/pos
      * query never runs the genotype tokenizer or INFO regexes. */
    def pruned(required: Option[StructType]): ParsePlan = required match {
      case Some(req) if req.fieldNames.nonEmpty &&
          req.fieldNames.length < schema.fieldNames.length =>
        val byName = schema.fieldNames.zip(exprs).toMap
        ParsePlan(req, req.fieldNames.toSeq.map(byName), input)
      case Some(req) if req.fieldNames.isEmpty =>
        // count(*)-style: keep one cheap column so rows still flow
        ParsePlan(StructType(schema.fields.take(1)), exprs.take(1), input)
      case _ => this
    }
  }

  /** The files a directory expands to. */
  val Suffixes: Seq[String] = Seq(".vcf", ".vcf.gz", ".bcf")

  /** The `#` header lines of a VCF (plain, gzip or bgzf) or a BCF; of
    * a directory's first file for a directory. */
  def headerLines(path: String): Seq[String] = {
    val file = SourcePaths.expand(Seq(path), Suffixes).head
    if (file.endsWith(".bcf")) Bcf.headerLines(file)
    else {
      val src = Source.fromInputStream(open(file), "UTF-8")
      try src.getLines().takeWhile(_.startsWith("#")).toList
      finally src.close()
    }
  }

  /** A VCF's text: bgzf through the CRC32/ISIZE-checked
    * [[Bgzf.BlockStream]], other `.gz` (single-member gzip) through
    * `GZIPInputStream`, anything else as plain text. */
  def open(path: String): java.io.InputStream = {
    val clean = path.stripPrefix("file:")
    if (!clean.endsWith(".gz")) Files.newInputStream(Paths.get(clean))
    else if (Bgzf.isBgzfFile(clean)) new Bgzf.BlockStream(clean, 0L)
    else new GZIPInputStream(Files.newInputStream(Paths.get(clean)), 1 << 16)
  }

  /** Analyze the parse projection once on the driver: header → specs →
    * Vcf.parseLines over a dummy single-column relation → resolved,
    * type-coerced expressions + input attribute, both serializable. */
  def planFor(paths: Seq[String]): ParsePlan = {
    val spark = SparkSession.active
    val (info, fmt, samples) = Vcf.headerSpecs(headerLines(paths.head))
    // One parse plan serves every partition, so every file must declare
    // the same INFO/FORMAT fields and sample columns — fail fast instead
    // of silently misparsing later files under the first file's specs.
    paths.tail.foreach { p =>
      val other = Vcf.headerSpecs(headerLines(p))
      require(other == ((info, fmt, samples)),
        s"vcf header mismatch: $p declares different INFO/FORMAT/samples " +
          s"than ${paths.head}")
    }
    import spark.implicits._
    val dummy = spark.createDataset(Seq.empty[String]).toDF("value")
    val parsed = Vcf.parseLines(dummy, info, fmt, samples.length)
    val analyzed = parsed.queryExecution.analyzed
    ParsePlan(parsed.schema, analyzed.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Project].projectList,
      analyzed.children.head.output)
  }
}

class VcfTable(val paths: Seq[String], plan: VcfDataSource.ParsePlan)
    extends Table with SupportsRead {
  override def name(): String = s"vcf(${paths.mkString(",")})"
  override def schema(): StructType = plan.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private val splitSize =
        Option(options.get("splitSize")).map(_.toLong)
          .getOrElse(VcfScan.DefaultSplitBytes)
      private var required: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      override def build(): Scan =
        new VcfScan(paths, splitSize, plan.pruned(required))
    }
}

/** How a [[VcfInputPartition]]'s bytes are framed, which fixes the
  * coordinates of its range. */
sealed trait Framing extends Serializable
object Framing {
  /** Plain text, byte offsets; or single-member gzip, which is not
    * restartable and so always reads as one range. */
  case object Text extends Framing
  /** BGZF text; compressed offsets, lines owned by virtual offset. */
  case object Bgzf extends Framing
  /** BCF records; record-aligned virtual offsets [start, end). */
  case object Bcf extends Framing
}

object VcfScan {
  /** Matches Spark's files.maxPartitionBytes default. */
  val DefaultSplitBytes: Long = 128L * 1024 * 1024

  /** The input partitions of one file, in file order. */
  def ranges(path: String, splitBytes: Long): Seq[VcfInputPartition] = {
    val clean = path.stripPrefix("file:")
    if (clean.endsWith(".bcf")) {
      // BCF records carry no resync marker: cut only at the
      // record-aligned virtual offsets of the file's CSI, one cut per
      // ~splitBytes of compressed data
      val starts = Bcf.recordStarts(path)
      if (starts.isEmpty) return Nil
      val cuts = ArrayBuffer(starts.head)
      var lastCoff = starts.head >> 16
      starts.foreach { v =>
        if ((v >> 16) - lastCoff >= splitBytes) {
          cuts += v; lastCoff = v >> 16
        }
      }
      cuts.zipAll(cuts.drop(1), 0L, Long.MaxValue).toSeq.map {
        case (s, e) => VcfInputPartition(path, s, e, Framing.Bcf)
      }
    } else if (clean.endsWith(".gz") && !Bgzf.isBgzfFile(clean))
      Seq(VcfInputPartition(path, 0L, Long.MaxValue, Framing.Text))
    else {
      val framing = if (clean.endsWith(".gz")) Framing.Bgzf else Framing.Text
      val len = Files.size(Paths.get(clean))
      (0L until len by splitBytes).map(off =>
        VcfInputPartition(path, off, math.min(off + splitBytes, len), framing))
    }
  }
}

/** Splittable scan (mirrors the reference's per-line-range workers,
  * R/ConvVCF2GDS.R:841-856): plain-text files split into byte ranges
  * aligned to line boundaries Hadoop-style — a partition owns every line
  * that STARTS inside (start, end], so one large VCF parses across many
  * cores with no coordination. BGZF-compressed files (what bgzip/htslib
  * emit — every `.vcf.gz` the reference ships) split the same way in
  * COMPRESSED coordinates: ranges align to the next BGZF member boundary
  * and lines are owned by the htslib virtual offset of their first byte.
  * BCF files split at the record starts of their CSI. Only plain
  * single-member gzip stays one partition per file. */
class VcfScan(paths: Seq[String], splitBytes: Long,
    plan: VcfDataSource.ParsePlan) extends Scan with Batch {
  override def readSchema(): StructType = plan.schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    paths.flatMap(VcfScan.ranges(_, splitBytes)).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new VcfReaderFactory(plan)
}

final case class VcfInputPartition(path: String, start: Long, end: Long,
    framing: Framing) extends InputPartition

class VcfReaderFactory(plan: VcfDataSource.ParsePlan)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new VcfPartitionReader(p.asInstanceOf[VcfInputPartition], plan)
}

/** The non-header, non-blank lines a text range owns — Hadoop line-split
  * ownership, generalized over a position coordinate (plain/gzip: byte
  * offset; bgzf: htslib virtual offset): a range (start, end] owns every
  * line whose first byte's position `p` satisfies `p <= end`, reading
  * PAST end to finish its last line; every range with `start > 0`
  * discards its first (possibly complete) line, which the previous range
  * owns. The `<=`/discard pair is what makes a line starting exactly on
  * a boundary land in exactly one range. */
private[v2] final class OwnedLines(path: String, start: Long, end: Long,
    framing: Framing) extends Iterator[String] with java.io.Closeable {

  private val clean = path.stripPrefix("file:")
  private var consumed = 0L // bytes read so far (text)
  private val (in, endPos, posOfNext)
      : (java.io.InputStream, Long, () => Long) = framing match {
    case Framing.Bgzf =>
      // the end boundary must be the block boundary the NEXT range will
      // align its start to — aligning both sides to the same position is
      // what makes the drop-first/own-`<=` pair exhaustive and disjoint
      val bs = new Bgzf.BlockStream(clean, Bgzf.findBlock(clean, start))
      (bs, Bgzf.findBlock(clean, end) << 16, () => bs.virtualPos)
    case _ =>
      val text = VcfDataSource.open(path)
      text.skipNBytes(start)
      (text, end, () => start + consumed)
  }

  // `chunk[i, n)` is unread; one `read` never spans two BGZF members, so
  // the byte at chunk(k) sits at position chunkPos + k in every framing
  private val chunk = new Array[Byte](1 << 16)
  private var n = 0
  private var i = 0
  private var chunkPos = 0L
  private val line = new java.io.ByteArrayOutputStream(1 << 12)

  private def fill(): Boolean = {
    chunkPos = posOfNext()
    n = in.read(chunk, 0, chunk.length)
    i = 0
    if (n > 0) consumed += n
    n > 0
  }

  /** Reads the next line into `line` and returns its first byte's
    * position, or -1 at the end of the stream. */
  private def readLine(): Long = {
    if (i >= n && !fill()) return -1L
    val pos = chunkPos + i
    line.reset()
    var eol = false
    while (!eol) {
      var j = i
      while (j < n && chunk(j) != '\n') j += 1
      line.write(chunk, i, j - i)
      eol = j < n
      i = if (eol) j + 1 else j
      if (!eol && !fill()) eol = true
    }
    pos
  }

  private val owned = Iterator.continually(readLine())
    .takeWhile(pos => pos >= 0 && pos <= endPos)
    .drop(if (start > 0) 1 else 0)
    .map(_ => line.toString(java.nio.charset.StandardCharsets.UTF_8)
      .stripSuffix("\r"))
    .filter(l => l.nonEmpty && !l.startsWith("#"))

  override def hasNext: Boolean = owned.hasNext
  override def next(): String = owned.next()
  override def close(): Unit = in.close()
}

class VcfPartitionReader(p: VcfInputPartition, plan: VcfDataSource.ParsePlan)
    extends PartitionReader[InternalRow] {

  private val project = UnsafeProjection.create(plan.exprs, plan.input)
  private val inputRow = new GenericInternalRow(1)
  private var current: InternalRow = _

  private val lines: Iterator[String] with java.io.Closeable =
    p.framing match {
      case Framing.Bcf => Bcf.rangeLines(p.path, p.start, p.end)
      case f => new OwnedLines(p.path, p.start, p.end, f)
    }

  override def next(): Boolean =
    if (!lines.hasNext) false
    else {
      inputRow.update(0, UTF8String.fromString(lines.next()))
      current = project(inputRow)
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
