package graft.sources.gds

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.GenoStatsRaw

import GdsCore._

/** DataSource V2 for CoreArray GDS: `spark.read.format("gds").load(path)`
  * (SURVEY.md §2.1 seqOpen on native .gds; the north star's "GDS
  * read/write via custom data source").
  *
  * Output is the same canonical variants schema as [[graft.sources.Vcf]]
  * (`variant_id, chrom, pos, id, ref, alts, allele, qual, filter,
  * info_*, geno, phased, fmt_*`) so a SeqArray user's `.gds` opens
  * directly into the engine's query surface.
  *
  * Scale design: variant-range input partitions within each file (see
  * [[GdsScan]]; a directory of per-chromosome shards scans every shard)
  * and REAL column pruning: the scan decodes only the CoreArray nodes
  * backing the required columns (a position/chrom query never inflates
  * the genotype bit-planes; `.explain` shows the pruned ReadSchema). The
  * `*_ra` coders' 128 KiB random-access chunks let a range decode only
  * the chunks that cover it.
  */
class GdsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "gds"
  private def packed(o: CaseInsensitiveStringMap): Boolean =
    Option(o.get("packed")).exists(_.toBoolean)
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GdsSchema.forPath(GdsSchema.paths(options).head, packed(options))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GdsTable(GdsSchema.paths(new CaseInsensitiveStringMap(properties)),
      schema)
}

object GdsSchema {

  /** A directory (e.g. a GdsWrite.writeSharded export) expands to its
    * shard containers; each file scans + splits independently. */
  def paths(options: CaseInsensitiveStringMap): Seq[String] =
    graft.sources.SourcePaths(options, "gds", Seq(".gds"))

  private def attrStr(n: Node, key: String): Option[String] =
    n.attrs.get(key).collect { case AttrStr(s) => s }

  /** VCF-typed Spark type for an info/format node: scalar when
    * Number=1, array otherwise; Flag -> boolean. */
  private def fieldType(n: Node): (String, String, DataType) = {
    val number = attrStr(n, "Number").getOrElse("1")
    val vtype = attrStr(n, "Type").getOrElse("String")
    // storage class of the value payload — the node itself for INFO
    // fields, the `data` child for FORMAT folders. An Integer field
    // STORED wide (dUInt32/dInt64/dUInt64, e.g. via seqAddValue from a
    // non-R writer) surfaces as BIGINT so no value truncates.
    val cls = n.child("data").flatMap(_.cls).orElse(n.cls).getOrElse("")
    val scalar: DataType = vtype match {
      case "Integer" =>
        // dUInt64's full range fits no primitive: DECIMAL(20,0) is the
        // lossless surface (values above 2⁶³−1 would otherwise
        // reinterpret as negative BIGINTs)
        if (cls == "dUInt64") DecimalType(20, 0)
        else if (GdsCore.LongClasses(cls)) LongType
        else IntegerType
      case "Float" => FloatType
      case _ => StringType
    }
    val t =
      if (vtype == "Flag" || number == "0") BooleanType
      else if (number == "1") scalar
      else ArrayType(scalar)
    (number, vtype, t)
  }

  val genoType: ArrayType = ArrayType(ArrayType(LongType))

  /** SNP-GDS trees (SNPRelate: snp.id/snp.position/…, genotype = one
    * 2-bit code per call) surface through the same source with the
    * canonical column names, so `format("gds")` opens both container
    * dialects transparently. */
  def isSnpTree(root: Node): Boolean = root.child("snp.id").isDefined

  def variantCount(root: Node): Int =
    (if (isSnpTree(root)) root("snp.id") else root("variant.id")).dims.head

  /** SNP-GDS genotype layout: snp-major is fixed-stride per snp, so a
    * variant range decodes only its slice; sample-major strides across
    * the whole matrix, so every range decodes all of it. */
  def snpMajor(root: Node): Boolean = {
    val g = root("genotype")
    if (g.attrs.contains("snp.order")) true
    else if (g.attrs.contains("sample.order")) false
    else g.dims.headOption.contains(root("snp.id").dims.head)
  }

  /** Genotype calls per variant (samples × ploidy) of a genotype node that
    * decodes by variant range; 0 when there is none (a sites-only file,
    * or a sample-major SNP-GDS, where splitting only repeats the decode). */
  def rangedCallsPerVariant(root: Node): Long =
    if (isSnpTree(root)) {
      if (snpMajor(root)) root("sample.id").dims.head * 2L else 0L
    } else root.child("genotype").flatMap(_.child("data"))
      .map(d => d.dims(1).toLong * d.dims(2)).getOrElse(0L)

  /** Input byte (two diploid single-plane calls, 2 bits/allele) → two
    * engine REF-dosage codes packed in the low nibble. Allele code 3 =
    * missing (np=1), any-missing folds the call to 3. */
  val Bit2PairToPg: Array[Int] = Array.tabulate(256) { b =>
    def code(a0: Int, a1: Int): Int =
      if (a0 == 3 || a1 == 3) 3
      else (if (a0 == 0) 1 else 0) + (if (a1 == 0) 1 else 0)
    code(b & 3, (b >> 2) & 3) | (code((b >> 4) & 3, (b >> 6) & 3) << 2)
  }

  /** `option("packed", true)`: genotypes surface as the engine's 2-bit
    * REF-dosage BINARY column `pg` instead of the nested `geno` cube —
    * the zero-materialization path from stored bit-planes straight into
    * `geno_stats_packed`/`unpack_2b` (any-missing folds to 3, as with
    * pack_2b/BED). */
  private def pgField: StructField =
    StructField("pg", BinaryType, nullable = false)

  /** The hidden metadata column [[GdsTable]] declares: each variant's
    * genotype planes, as stored, of the selected samples, in the
    * [[GenoStatsRaw]] layout. `select *` and `.columns` never show it;
    * [[GenoStatsFromPlanes]] reads it in place of `geno`. */
  val PlanesCol = "_geno_planes"

  /** Whether a tree's genotype calls all live in its 2-bit planes: a
    * SeqArray tree with a genotype node and no ploidy-overflow entries in
    * `genotype/extra.index`. SNP-GDS codes are not allele codes. */
  def rawPlanes(root: Node): Boolean =
    !isSnpTree(root) && root.child("genotype").exists { g =>
      g.child("data").isDefined &&
        g.child("extra.index").forall(_.dims.headOption.forall(_ == 0))
    }

  /** Dosage-typed SNP-GDS (FC_Dosage2GDS source data): genotype node is
    * REAL-valued REF-allele dosage, surfaced as `ds ARRAY<FLOAT>`. */
  def snpGenoIsDosage(root: Node): Boolean =
    GdsCore.floatsDecodable(root("genotype"))

  private def snpSchema(root: Node, packed: Boolean): StructType = StructType(
    Seq(StructField("variant_id", LongType, nullable = false),
      StructField("chrom", StringType),
      StructField("pos", IntegerType),
      StructField("id", StringType),
      StructField("allele", StringType),
      if (snpGenoIsDosage(root)) StructField("ds", ArrayType(FloatType))
      else if (packed) pgField else StructField("geno", genoType)))

  /** Extractors over an SNP-GDS tree: genotype code → normalized pair
    * per the reference's FC_SNP2GDS (src/ConvToGDS.cpp: 0→(1,1) hom-ALT,
    * 1→(0,1) het, 2→(0,0) hom-REF, 3→missing). */
  private def snpExtractors(f: GdsFile, required: StructType,
      v0: Int, v1: Int, sampleSel: Option[Array[Int]] = None)
      : Array[Int => Any] = {
    val root = f.root
    def utf8(s: String): AnyRef =
      if (s == null) null else UTF8String.fromString(s)
    def selOf(nS: Int): (Int, Int => Int) = sampleSel match {
      case Some(sel) => (sel.length, sel.apply)
      case None => (nS, identity)
    }
    lazy val geno = {
      val g = root("genotype")
      val nSnp = root("snp.id").dims.head
      val nSample = root("sample.id").dims.head
      val byVariant = snpMajor(root)
      val (bytes, base) =
        if (byVariant) bit2Range(f, g, v0.toLong * nSample, v1.toLong * nSample)
        else (bits(f, g), 0L)
      (bytes, base, nSnp, nSample, byVariant)
    }
    // shared immutable pair cells: the four codes map to constant pairs
    val homAlt = Array[Any](java.lang.Long.valueOf(1L), java.lang.Long.valueOf(1L))
    val het = Array[Any](java.lang.Long.valueOf(0L), java.lang.Long.valueOf(1L))
    val homRef = Array[Any](java.lang.Long.valueOf(0L), java.lang.Long.valueOf(0L))
    val missing = Array[Any](null, null)
    val nRange = v1 - v0
    required.fields.map { field =>
      field.name match {
        case "variant_id" =>
          val a = intsRange(f, root("snp.id"), v0, nRange)
          (v: Int) => java.lang.Long.valueOf(a(v - v0).toLong)
        case "chrom" =>
          val n = root("snp.chromosome")
          val a = n.cls.getOrElse("") match {
            case "dStr8" | "dFStr8" => stringsRange(f, n, v0, v1)
            case _ => intsRange(f, n, v0, nRange).map(_.toString)
          }
          (v: Int) => utf8(a(v - v0))
        case "pos" =>
          val a = intsRange(f, root("snp.position"), v0, nRange)
          (v: Int) => java.lang.Integer.valueOf(a(v - v0))
        case "id" =>
          val a = root.child("snp.rs.id").map(stringsRange(f, _, v0, v1))
            .getOrElse(Array.fill[String](nRange)(null))
          (v: Int) =>
            if (a(v - v0) == null || a(v - v0).isEmpty) null
            else utf8(a(v - v0))
        case "allele" =>
          val a = stringsRange(f, root("snp.allele"), v0, v1)
          (v: Int) => utf8(a(v - v0).replaceFirst("/", ","))
        case "ds" =>
          // REAL dosage genotype node: ranged float slice when snp-major
          val g = root("genotype")
          val nSnp = root("snp.id").dims.head
          val nSample = root("sample.id").dims.head
          val byVariant = snpMajor(root)
          val (vals, base) =
            if (byVariant)
              (floatsRange(f, g, v0.toLong * nSample,
                (v1 - v0) * nSample), v0.toLong * nSample)
            else (floats(f, g), 0L)
          val (outN, smap) = selOf(nSample)
          (v: Int) => new GenericArrayData(Array.tabulate[Any](outN) { si =>
            val s = smap(si)
            val idx = if (byVariant) v.toLong * nSample + s - base
              else s.toLong * nSnp + v
            val x = vals(idx.toInt)
            if (x.isNaN) null else java.lang.Float.valueOf(x)
          })
        case "pg" =>
          // SNP-GDS codes ARE engine REF-dosage codes — repack verbatim
          val (bytes, base, nSnp, nSample, byVariant) = geno
          val (outN, smap) = selOf(nSample)
          (v: Int) => {
            val out = new Array[Byte]((outN + 3) / 4)
            var si = 0
            while (si < outN) {
              val s = smap(si)
              val idx = if (byVariant) v.toLong * nSample + s - base
                else s.toLong * nSnp + v
              out(si >> 2) = (out(si >> 2) |
                (bit2(bytes, idx) << ((si & 3) << 1))).toByte
              si += 1
            }
            out
          }
        case "geno" =>
          val (bytes, base, nSnp, nSample, byVariant) = geno
          val (outN, smap) = selOf(nSample)
          (v: Int) => new GenericArrayData(Array.tabulate[Any](outN) { si =>
            val s = smap(si)
            val idx = if (byVariant) v.toLong * nSample + s - base
              else s.toLong * nSnp + v
            new GenericArrayData((bit2(bytes, idx): @annotation.switch) match {
              case 0 => homAlt
              case 1 => het
              case 2 => homRef
              case _ => missing
            })
          })
        case other =>
          throw new NoSuchElementException(s"snp-gds column $other")
      }
    }
  }

  def forTree(root: Node, packed: Boolean = false): StructType = {
    if (isSnpTree(root)) return snpSchema(root, packed)
    val info = root.child("annotation").flatMap(_.child("info"))
      .map(_.children).getOrElse(Nil)
      .filterNot(_.name.startsWith("@"))
    val fmt = root.child("annotation").flatMap(_.child("format"))
      .map(_.children).getOrElse(Nil)
    val hasGeno = root.child("genotype").exists(_.child("data").isDefined)
    val hasPhase = root.child("phase").exists(_.child("data").isDefined)
    StructType(
      Seq(StructField("variant_id", LongType, nullable = false),
        StructField("chrom", StringType),
        StructField("pos", IntegerType),
        StructField("id", StringType),
        StructField("ref", StringType),
        StructField("alts", ArrayType(StringType)),
        StructField("allele", StringType),
        StructField("qual", FloatType),
        StructField("filter", StringType)) ++
      info.map(n => StructField(s"info_${n.name}", fieldType(n)._3)) ++
      (if (hasGeno && packed) Seq(pgField)
       else if (hasGeno) Seq(StructField("geno", genoType)) else Nil) ++
      (if (hasPhase) Seq(StructField("phased", ArrayType(BooleanType)))
       else Nil) ++
      fmt.map { n =>
        // Number/Type attrs sit on the field folder, not its data child
        val inner = fieldType(n)._3 match {
          case ArrayType(e, _) => ArrayType(ArrayType(e))
          case t => ArrayType(t)
        }
        StructField(s"fmt_${n.name}", inner)
      })
  }

  def forPath(path: String, packed: Boolean = false): StructType = {
    val f = new GdsFile(path)
    try forTree(f.root, packed) finally f.close()
  }

  /** Column extractors: per required column, a variant-index -> catalyst
    * value function (GLOBAL index — valid for v0 <= v < v1), decoding
    * only the nodes that column needs and only the [v0, v1) slice of
    * each. Fixed-stride nodes slice via XZ_RA chunk random access;
    * variable-stride nodes (dStr8 axes, dVL_Int values) go through the
    * chunk-granular element index ([[GdsCore.varIndex]], built once per
    * executor and cached) so they too inflate only their covering
    * chunks. @len/@data prefix sums come from a per-executor cache
    * ([[GdsCore.lensWithStarts]]) instead of a per-partition [0, v1)
    * decode. */
  def extractors(f: GdsFile, required: StructType, v0: Int, v1: Int,
      sampleSel: Option[Array[Int]] = None): Array[Int => Any] = {
    val root = f.root
    if (isSnpTree(root)) return snpExtractors(f, required, v0, v1, sampleSel)
    // sample-dimension pushdown (the reference's sample bitmap applied
    // AT DECODE): per-sample columns materialize only the selected
    // ordinals — at biobank width, selecting a sub-cohort skips the
    // array assembly for every unselected sample
    def selOf(nS: Int): (Int, Int => Int) = sampleSel match {
      case Some(sel) => (sel.length, sel.apply)
      case None => (nS, identity)
    }
    val nVariants = root("variant.id").dims.head
    val nRange = v1 - v0
    val ann = root.child("annotation")
    def infoNode(n: String) = ann.flatMap(_.child("info")).flatMap(_.child(n))
    def fmtNode(n: String) = ann.flatMap(_.child("format")).flatMap(_.child(n))

    lazy val alleles = stringsRange(f, root("allele"), v0, v1)
    def utf8(s: String): AnyRef =
      if (s == null) null else UTF8String.fromString(s)

    // genotype: 2-bit planes, @data[v] planes per variant, missing=all-ones.
    // @data decodes [0, v1) for the plane prefix-sums; the bit-plane
    // matrix itself decodes only this range's slice.
    lazy val genoData = root.child("genotype").map { g =>
      val data = g("data")
      val (planes, starts) = lensWithStarts(f, g("@data"))
      val nS = data.dims(1)
      val ploidy = data.dims(2)
      val uEnd = (starts(v1 - 1) + planes(v1 - 1)).toLong * nS * ploidy
      val (bytes, base) = bit2Range(f, data,
        starts(v0).toLong * nS * ploidy, uEnd)
      (bytes, base, planes, starts, nS, ploidy)
    }
    lazy val phaseData = root.child("phase").map { ph =>
      val data = ph("data")
      val nS = data.dims(1)
      val (bytes, base) = bit1Range(f, data, v0.toLong * nS, v1.toLong * nS)
      (bytes, base, nS)
    }

    // genotype/extra: ploidy-overflow alleles of triploid+ calls
    // (Tutorial.Rmd:149-150; import kernel ConvVCF2GDS.cpp:1736-1887).
    // extra.index is dInt32 [N, 3] rows of (sample 1-based, variant
    // 1-based, count); extra carries the overflow allele codes
    // contiguously. N is metadata-scale (rare calls), so the whole
    // index decodes per partition and only this range's entries keep.
    lazy val genoExtra: Map[(Int, Int), Array[Any]] =
      root.child("genotype").flatMap { g =>
        for {
          ei <- g.child("extra.index")
          if ei.dims.headOption.exists(_ > 0)
          ex <- g.child("extra")
        } yield {
          val idx = ints(f, ei)
          val vals = ints(f, ex)
          val out = Map.newBuilder[(Int, Int), Array[Any]]
          val n = idx.length / 3
          var r = 0
          var o = 0
          while (r < n) {
            val s = idx(3 * r) - 1
            val vv = idx(3 * r + 1) - 1
            val cnt = idx(3 * r + 2)
            if (vv >= v0 && vv < v1)
              out += (vv, s) -> Array.tabulate[Any](cnt) { k =>
                val v = vals(o + k)
                if (v < 0) null else java.lang.Long.valueOf(v.toLong)
              }
            o += cnt
            r += 1
          }
          out.result()
        }
      }.getOrElse(Map.empty)

    /** Reader over value elements; fixed-stride classes decode only
      * [e0, e1) (pass e1 < 0 for whole-node), variable-stride classes
      * decode whole. Indexes stay GLOBAL. */
    def valueReaderRange(n: Node, vtype: String, e0: Int, e1: Int,
        count: Long): Int => AnyRef = {
      val whole = e1 < 0
      n.cls.getOrElse("") match {
        case "dStr8" | "dFStr8" =>
          val (a, base) = if (whole) (strings(f, n), 0)
            else (stringsRange(f, n, e0, math.max(e1, e0)), e0)
          i => if (a(i - base).isEmpty) null else utf8(a(i - base))
        // Int-SAFE widths surface as INT; the wide classes
        // (dUInt32/dInt64/dUInt64) decode losslessly through the BIGINT
        // path below — fieldType typed those columns LongType
        case c if GdsCore.IntSafeClasses(c) =>
          val (a, base) = if (whole) (ints(f, n), 0)
            else (intsRange(f, n, e0, math.max(e1 - e0, 0)), e0)
          i => if (a(i - base) == Int.MinValue) null
               else java.lang.Integer.valueOf(a(i - base))
        case "dUInt64" =>
          // raw bits decode through the Long path; the unsigned value is
          // rebuilt exactly as DECIMAL(20,0) — no reserved NA code
          val (a, base) = if (whole) (longs(f, n), 0)
            else (longsRange(f, n, e0, math.max(e1 - e0, 0)), e0)
          i => org.apache.spark.sql.types.Decimal(
            GdsCore.unsignedDecimal(a(i - base)), 20, 0)
        case c if GdsCore.LongClasses(c) =>
          val (a, base) = if (whole) (longs(f, n), 0)
            else (longsRange(f, n, e0, math.max(e1 - e0, 0)), e0)
          // NA sentinel mirrors the narrow path's Int.MinValue for the
          // signed class; unsigned classes have no reserved code
          i => if (c == "dInt64" && a(i - base) == Long.MinValue) null
               else java.lang.Long.valueOf(a(i - base))
        case c if GdsCore.FloatClasses(c) =>
          val (a, base) = if (whole) (floats(f, n), 0)
            else (floatsRange(f, n, e0, math.max(e1 - e0, 0)), e0)
          i => if (a(i - base).isNaN) null
               else java.lang.Float.valueOf(a(i - base))
        case "dVL_Int" =>
          val (a, base) = if (whole) (varints(f, n, count), 0)
            else (varintsRange(f, n, count, e0, math.max(e1, e0)), e0)
          i => java.lang.Integer.valueOf(a(i - base).toInt)
        case "dBit1" =>
          val (a, base) = if (whole) (bits(f, n), 0L)
            else bit1Range(f, n, e0.toLong, e1.toLong)
          i => java.lang.Boolean.valueOf(bit1(a, i - base) == 1)
        case c => throw new UnsupportedOperationException(
          s"gds value class $c at ${n.path}")
      }
    }

    def infoExtractor(node: Node): Int => Any = {
      val (number, vtype, _) = fieldType(node)
      if (vtype == "Flag" || number == "0") {
        val (a, base) = bit1Range(f, node, v0.toLong, v1.toLong)
        v => java.lang.Boolean.valueOf(bit1(a, v - base) == 1)
      } else {
        val lensOpt = ann.flatMap(_.child("info"))
          .flatMap(_.child("@" + node.name))
          .map(lensWithStarts(f, _))
        lensOpt match {
          case None =>
            // dense: one value per variant
            val rd = valueReaderRange(node, vtype, v0, v1, nVariants.toLong)
            if (number == "1") (v: Int) => rd(v)
            else (v: Int) => new GenericArrayData(Array[Any](rd(v)))
          case Some((lens, starts)) =>
            val total = if (lens.isEmpty) 0
              else starts(lens.length - 1) + math.max(lens(lens.length - 1), 0)
            val endElem = if (v1 <= 0) 0
              else starts(v1 - 1) + math.max(lens(v1 - 1), 0)
            val rd = valueReaderRange(node, vtype, starts(v0), endElem,
              total.toLong)
            if (number == "1")
              (v: Int) => if (lens(v) <= 0) null else rd(starts(v))
            else
              (v: Int) => if (lens(v) <= 0) null
                else new GenericArrayData(
                  Array.tabulate[Any](lens(v))(k => rd(starts(v) + k)))
        }
      }
    }

    def fmtExtractor(node: Node): Int => Any = {
      val dataN = node("data")
      val (_, vtype, _) = fieldType(node)
      val nS = dataN.dims(1)
      val (lens, starts) = node.child("@data").map(lensWithStarts(f, _))
        .getOrElse {
          val l = Array.fill(nVariants)(1)
          (l, Array.tabulate(nVariants)(identity))
        }
      val total = if (lens.isEmpty) 0
        else starts(lens.length - 1) + math.max(lens(lens.length - 1), 0)
      val endElem = if (v1 <= 0) 0
        else starts(v1 - 1) + math.max(lens(v1 - 1), 0)
      val rd = valueReaderRange(dataN, vtype, starts(v0) * nS, endElem * nS,
        total.toLong * nS)
      val numberOne = attrStr(node, "Number").contains("1")
      val (outN, smap) = selOf(nS)
      if (numberOne)
        (v: Int) => new GenericArrayData(
          Array.tabulate[Any](outN)(si => rd(starts(v) * nS + smap(si))))
      else
        (v: Int) => new GenericArrayData(Array.tabulate[Any](outN)(si =>
          if (lens(v) <= 0) null
          else new GenericArrayData(Array.tabulate[Any](lens(v))(r =>
            rd((starts(v) + r) * nS + smap(si))))))
    }

    required.fields.map { field =>
      field.name match {
        case "variant_id" =>
          val a = intsRange(f, root("variant.id"), v0, nRange)
          (v: Int) => java.lang.Long.valueOf(a(v - v0).toLong)
        case "chrom" =>
          val a = stringsRange(f, root("chromosome"), v0, v1)
          (v: Int) => utf8(a(v - v0))
        case "pos" =>
          val a = intsRange(f, root("position"), v0, nRange)
          (v: Int) => java.lang.Integer.valueOf(a(v - v0))
        case "id" =>
          val a = ann.flatMap(_.child("id")).map(stringsRange(f, _, v0, v1))
            .getOrElse(Array.fill[String](nRange)(null))
          (v: Int) =>
            if (a(v - v0) == null || a(v - v0).isEmpty || a(v - v0) == ".")
              null
            else utf8(a(v - v0))
        case "ref" =>
          (v: Int) => {
            val s = alleles(v - v0)
            val c = s.indexOf(',')
            utf8(if (c < 0) s else s.substring(0, c))
          }
        case "alts" =>
          (v: Int) => {
            val s = alleles(v - v0)
            val c = s.indexOf(',')
            val alts =
              if (c < 0) Array.empty[Any]
              else s.substring(c + 1).split(",").map(utf8(_): Any)
            new GenericArrayData(alts)
          }
        case "allele" => (v: Int) => utf8(alleles(v - v0))
        case "qual" =>
          val a = ann.flatMap(_.child("qual"))
            .map(floatsRange(f, _, v0, nRange))
            .getOrElse(Array.fill(nRange)(Float.NaN))
          (v: Int) => if (a(v - v0).isNaN) null
            else java.lang.Float.valueOf(a(v - v0))
        case "filter" =>
          val node = ann.flatMap(_.child("filter"))
          node match {
            case Some(nd) if nd.cls.contains("dInt32") =>
              val codes = intsRange(f, nd, v0, nRange)
              val levels = nd.attrs.get("R.levels") match {
                case Some(AttrList(vs)) =>
                  vs.collect { case AttrStr(s) => s }.toArray
                case Some(AttrStr(s)) => Array(s)
                case _ => Array.empty[String]
              }
              (v: Int) =>
                if (codes(v - v0) < 1 || codes(v - v0) > levels.length) null
                else utf8(levels(codes(v - v0) - 1))
            case Some(nd) =>
              val a = stringsRange(f, nd, v0, v1)
              (v: Int) => if (a(v - v0).isEmpty) null else utf8(a(v - v0))
            case None => (_: Int) => null
          }
        case "pg" =>
          // bit-planes → engine 2-bit REF-dosage, no array materialization
          val (data, unitBase, planes, starts, nS, ploidy) = genoData.get
          val (outN, smap) = selOf(nS)
          (v: Int) => {
            val np = planes(v)
            val missCode = (1 << (2 * np)) - 1
            val rowBase = starts(v).toLong * nS * ploidy - unitBase
            val out = new Array[Byte]((outN + 3) / 4)
            if (sampleSel.isEmpty && np == 1 && ploidy == 2 &&
                (rowBase & 3) == 0 && (nS & 1) == 0) {
              // aligned diploid single-plane row: one input byte = two
              // calls; translate per BYTE through the 256-entry table
              // (the biobank-width hot path — 4 samples per output byte)
              val inBase = (rowBase >> 2).toInt
              val nIn = nS >> 1 // input bytes for this row
              var i = 0
              while (i < nIn) {
                val lo = GdsSchema.Bit2PairToPg(data(inBase + i) & 0xff)
                i += 1
                val hi = if (i < nIn) GdsSchema.Bit2PairToPg(
                  data(inBase + i) & 0xff) else 0
                i += 1
                out((i >> 1) - 1) = (lo | (hi << 4)).toByte
              }
            } else {
              var si = 0
              while (si < outN) {
                val s = smap(si)
                var refs = 0
                var miss = false
                var a = 0
                while (a < ploidy) {
                  var code = 0
                  var k = 0
                  while (k < np) {
                    code |= bit2(data,
                      rowBase + k.toLong * nS * ploidy + s * ploidy + a) << (2 * k)
                    k += 1
                  }
                  if (code == missCode) miss = true
                  else if (code == 0) refs += 1
                  a += 1
                }
                val c2 = if (miss || refs > 2) 3 else refs
                out(si >> 2) = (out(si >> 2) | (c2 << ((si & 3) << 1))).toByte
                si += 1
              }
            }
            out
          }
        case "geno" =>
          val (data, unitBase, planes, starts, nS, ploidy) = genoData.get
          val (outN, smap) = selOf(nS)
          (v: Int) => {
            val np = planes(v)
            val missCode = (1 << (2 * np)) - 1
            val rowBase = starts(v).toLong * nS * ploidy - unitBase
            new GenericArrayData(Array.tabulate[Any](outN) { si =>
              val s = smap(si)
              val base = Array.tabulate[Any](ploidy) { a =>
                var code = 0
                var k = 0
                while (k < np) {
                  code |= bit2(data,
                    rowBase + k.toLong * nS * ploidy + s * ploidy + a) << (2 * k)
                  k += 1
                }
                if (code == missCode) null else java.lang.Long.valueOf(code.toLong)
              }
              genoExtra.get((v, s)) match {
                case Some(ex) => new GenericArrayData(base ++ ex)
                case None => new GenericArrayData(base)
              }
            })
          }
        case PlanesCol =>
          // the row's planes copied whole when byte-aligned, else gathered
          // slot by slot (odd rows of an odd-width diploid file, sample
          // selections)
          val (data, unitBase, planes, starts, nS, ploidy) = genoData.get
          val (outN, smap) = selOf(nS)
          val stride = GenoStatsRaw.planeBytes(ploidy, outN)
          val planeUnits = nS.toLong * ploidy
          (v: Int) => {
            val np = planes(v)
            val out = new Array[Byte](GenoStatsRaw.Header + np * stride)
            GenoStatsRaw.writeHeader(out, np, ploidy, outN)
            var k = 0
            while (k < np) {
              val src = (starts(v) + k) * planeUnits - unitBase
              val dst = GenoStatsRaw.Header + k * stride
              if (sampleSel.isEmpty && (src & 3) == 0)
                System.arraycopy(data, (src >> 2).toInt, out, dst, stride)
              else {
                var si = 0
                while (si < outN) {
                  val from = src + smap(si).toLong * ploidy
                  var a = 0
                  while (a < ploidy) {
                    val u = si * ploidy + a
                    out(dst + (u >> 2)) = (out(dst + (u >> 2)) |
                      (bit2(data, from + a) << ((u & 3) << 1))).toByte
                    a += 1
                  }
                  si += 1
                }
              }
              k += 1
            }
            out
          }
        case "phased" =>
          val (data, unitBase, nS) = phaseData.get
          val (outN, smap) = selOf(nS)
          (v: Int) => new GenericArrayData(Array.tabulate[Any](outN)(si =>
            java.lang.Boolean.valueOf(
              bit1(data, v.toLong * nS + smap(si) - unitBase) == 1)))
        case n if n.startsWith("info_") =>
          infoExtractor(infoNode(n.stripPrefix("info_")).getOrElse(
            throw new NoSuchElementException(s"gds info node $n")))
        case n if n.startsWith("fmt_") =>
          fmtExtractor(fmtNode(n.stripPrefix("fmt_")).getOrElse(
            throw new NoSuchElementException(s"gds format node $n")))
        case other =>
          throw new NoSuchElementException(s"gds column $other")
      }
    }
  }
}

/** `tableSchema` is the schema [[GdsDataSource.inferSchema]] read from
  * the first path. The planes column ([[GdsSchema.PlanesCol]]) is
  * declared only when every path passes [[GdsSchema.rawPlanes]]. */
class GdsTable(paths: Seq[String], tableSchema: StructType)
    extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = s"gds(${paths.mkString(",")})"
  override def schema(): StructType = tableSchema
  private lazy val planes: Array[MetadataColumn] =
    if (paths.forall { p =>
      val f = new GdsFile(p)
      try GdsSchema.rawPlanes(f.root) finally f.close()
    }) Array(GdsTable.PlanesColumn) else Array.empty
  override def metadataColumns(): Array[MetadataColumn] = planes
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GdsScanBuilder(paths, tableSchema, options)
}

object GdsTable {
  object PlanesColumn extends MetadataColumn {
    override def name(): String = GdsSchema.PlanesCol
    override def dataType(): DataType = BinaryType
    override def isNullable(): Boolean = false
  }
}

class GdsScanBuilder(paths: Seq[String], full: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources._
  private var required: StructType = full
  private val splitVariants =
    Option(options.get("splitVariants")).map(_.toInt)
  // option("samples", "0,5,9"): sample-ordinal pushdown — per-sample
  // columns decode only these ordinals, in the given order
  private val sampleSel: Option[Array[Int]] =
    Option(options.get("samples")).map(_.split(",")
      .map(_.trim).filter(_.nonEmpty).map(_.toInt))
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep at least one column so row counts survive `select(count(*))`
    required =
      if (requiredSchema.fields.isEmpty)
        StructType(full.fields.take(1))
      else requiredSchema
  /** chrom/pos predicates prune variant RANGES at planning (the axis
    * nodes are decoded once on the driver); every filter stays residual
    * — pruning only has to be a superset, Spark re-evaluates. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("chrom", _) | In("chrom", _) => true
      case GreaterThan("pos", _) | GreaterThanOrEqual("pos", _) |
           LessThan("pos", _) | LessThanOrEqual("pos", _) |
           EqualTo("pos", _) => true
      case _ => false
    }
    filters // all residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    new GdsScan(paths, required, splitVariants, pushed, sampleSel)
}

/** Partitioning: a .gds cohort usually ships as per-chromosome shards
  * (the reference's own unit), and additionally each FILE splits into
  * variant ranges — fixed-stride nodes (genotype/phase bit-planes,
  * position, dosage matrices) decode only their slice via the XZ_RA
  * 128 KiB random-access chunks, so a single big shard no longer pins
  * one core.
  *
  * A file splits into `defaultParallelism` ranges, but no range is
  * shorter than a floor measured in genotype calls: min(8192,
  * ⌈131,072 / calls per variant⌉) variants, calls = samples × ploidy
  * from the genotype node's dims. 131,072 = 8,192 variants × 8 samples
  * × 2 alleles, so a file of up to 8 diploid samples (and a file
  * without a ranged genotype node) keeps the plain 8,192-variant floor,
  * and no file splits more coarsely than under it; at cohort width
  * (2,504 samples) the floor is 27 variants and a scan of a few thousand
  * variants uses every core instead of one task. `splitVariants`
  * overrides the range size. */
class GdsScan(paths: Seq[String], required: StructType,
    splitVariants: Option[Int],
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    sampleSel: Option[Array[Int]] = None)
    extends Scan with Batch {
  import org.apache.spark.sql.sources._
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"gds PushedFilters: [${filters.mkString(", ")}]"

  /** Conservative per-variant keep test from the pushed chrom/pos
    * predicates (None = no pruning possible). */
  private def keepFn(f: GdsFile): Option[Int => Boolean] = {
    if (filters.isEmpty) return None
    val root = f.root
    if (GdsSchema.isSnpTree(root)) return None
    val chromSets = filters.collect {
      case EqualTo("chrom", v) => Set(v.toString)
      case In("chrom", vs) => vs.map(String.valueOf(_)).toSet
    }
    val posTests: Seq[Int => Boolean] = filters.collect {
      case GreaterThan("pos", v: Int) => (p: Int) => p > v
      case GreaterThanOrEqual("pos", v: Int) => (p: Int) => p >= v
      case LessThan("pos", v: Int) => (p: Int) => p < v
      case LessThanOrEqual("pos", v: Int) => (p: Int) => p <= v
      case EqualTo("pos", v: Int) => (p: Int) => p == v
    }
    if (chromSets.isEmpty && posTests.isEmpty) return None
    // chromosome lookup: prefer the @chrom_rle_val/@chrom_rle_len run-
    // length twin (written by the reference and by GdsWrite) — planning
    // then touches a handful of runs instead of decoding one string per
    // variant on the driver (matters at biobank variant counts)
    val chromAt: Int => String =
      if (chromSets.isEmpty) null
      else (root.child("@chrom_rle_val"), root.child("@chrom_rle_len")) match {
        case (Some(vn), Some(ln)) if ln.dims.headOption.exists(_ > 0) =>
          val vals = GdsCore.strings(f, vn)
          val lens = GdsCore.ints(f, ln)
          val bounds = lens.scanLeft(0)(_ + _) // nRuns+1 entries
          v => {
            var lo = 0
            var hi = lens.length - 1
            while (lo < hi) {
              val mid = (lo + hi + 1) >>> 1
              if (bounds(mid) <= v) lo = mid else hi = mid - 1
            }
            vals(lo)
          }
        case _ =>
          val a = GdsCore.strings(f, root("chromosome"))
          v => a(v)
      }
    val poss =
      if (posTests.isEmpty) null else GdsCore.ints(f, root("position"))
    Some { v =>
      (chromAt == null || chromSets.forall(_.contains(chromAt(v)))) &&
        (poss == null || posTests.forall(_(poss(v))))
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val par = math.max(org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism, 1)
    paths.flatMap { p =>
      val f = new GdsFile(p)
      val (n, calls, keep) =
        try (GdsSchema.variantCount(f.root),
          GdsSchema.rangedCallsPerVariant(f.root), keepFn(f))
        finally f.close()
      val floor =
        if (calls == 0) 8192
        else math.min(8192L, (131072L + calls - 1) / calls).toInt
      val step = splitVariants.getOrElse(
        math.max(floor, (n + par - 1) / par))
      val ranges = keep match {
        case None => (0 until n by step).map(v0 => (v0, math.min(v0 + step, n)))
        case Some(k) =>
          // a range opens at a hit and ends after the last hit within
          // `step` variants: range starts lie at least `step` apart, so
          // scattered hits never plan more partitions than the full scan
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var v = 0
          while (v < n) {
            if (k(v)) {
              val start = v
              var last = v
              v += 1
              while (v < n && v - start < step) {
                if (k(v)) last = v
                v += 1
              }
              out += ((start, last + 1))
            } else v += 1
          }
          out.toSeq
      }
      ranges.map { case (v0, v1) => GdsInputPartition(p, v0, v1): InputPartition }
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GdsReaderFactory(required, sampleSel)
}

final case class GdsInputPartition(path: String, v0: Int, v1: Int)
    extends InputPartition

class GdsReaderFactory(required: StructType,
    sampleSel: Option[Array[Int]] = None) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GdsInputPartition]
    new GdsPartitionReader(gp.path, gp.v0, gp.v1, required, sampleSel)
  }
}

class GdsPartitionReader(path: String, v0: Int, v1: Int,
    required: StructType, sampleSel: Option[Array[Int]] = None)
    extends PartitionReader[InternalRow] {
  private val file = new GdsFile(path)
  private val cols =
    try GdsSchema.extractors(file, required, v0, v1, sampleSel)
    catch { case t: Throwable => file.close(); throw t }
  private var v = v0 - 1

  override def next(): Boolean = { v += 1; v < v1 }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(cols.length)
    var i = 0
    while (i < cols.length) {
      row.update(i, cols(i)(v))
      i += 1
    }
    row
  }

  override def close(): Unit = file.close()
}

/** Convenience facade: `Gds.read(spark, path)` == DSv2 scan. */
object Gds {
  def read(spark: org.apache.spark.sql.SparkSession, path: String)
      : org.apache.spark.sql.DataFrame =
    spark.read.format("gds").load(path)

  /** `seqCheck`-style per-node integrity audit (reference R/Summary.R
    * seqCheck: walks every node, validates dimensions and decodes data):
    * one row per tree node with its class, coder, dims, raw size, a
    * decode status, and the dimension check against the variant/sample
    * axes. Driver-side — the audit is metadata-scale per file; run it
    * over many shards by unioning per-path calls. */
  def check(spark: org.apache.spark.sql.SparkSession, path: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val f = new GdsCore.GdsFile(path)
    try {
      val root = f.root
      val nVar =
        root.child("variant.id").orElse(root.child("snp.id"))
          .map(_.dims.headOption.getOrElse(0)).getOrElse(0)
      val nSamp = root.child("sample.id")
        .map(_.dims.headOption.getOrElse(0)).getOrElse(0)
      def walk(n: GdsCore.Node): Seq[GdsCore.Node] =
        n +: n.children.flatMap(walk)
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      walk(root).filter(_.path.nonEmpty).foreach { n =>
        val isFolder = n.cls.isEmpty && n.children.nonEmpty
        val (decoded, err): (Long, String) =
          if (isFolder || n.dataId == 0) (0L, null)
          else try {
            (GdsCore.nodeBytes(f, n).length.toLong, null)
          } catch { case e: Exception => (-1L, e.getMessage) }
        // axis consistency: a leading dim equal to a known axis must
        // match it exactly (the reference's dimension audit)
        val axisOk = n.dims.headOption match {
          case Some(d) if n.path == "sample.id" => d == nSamp
          case Some(d) if n.path.startsWith("genotype/data") =>
            d == nVar && n.dims.lift(1).forall(_ == nSamp)
          case Some(d) if Seq("variant.id", "position", "chromosome",
            "allele", "snp.id", "snp.position", "snp.chromosome",
            "snp.allele").contains(n.path) => d == nVar
          case _ => true
        }
        rows.add(org.apache.spark.sql.Row(n.path, n.cls.orNull,
          n.coder.orNull, n.dims.mkString("x"), n.rawSize, decoded,
          axisOk && err == null, err))
      }
      spark.createDataFrame(rows, StructType(Seq(
        StructField("node", StringType, nullable = false),
        StructField("cls", StringType),
        StructField("coder", StringType),
        StructField("dims", StringType),
        StructField("raw_size", LongType),
        StructField("decoded_bytes", LongType),
        StructField("ok", BooleanType, nullable = false),
        StructField("error", StringType))))
    } finally f.close()
  }

  /** The sample axis as a broadcastable table:
    * `(sample_ordinal, sample_id, <sample.annotation columns>)` —
    * the reference's `sample.id` + `sample.annotation` nodes
    * (R/Methods.R:153-202). Sample counts are metadata-scale (≤ 1e6), so
    * this is driver-built and meant for `broadcast()` joins. */
  def samples(spark: org.apache.spark.sql.SparkSession, path: String)
      : org.apache.spark.sql.DataFrame = {
    val f = new GdsFile(path)
    try {
      val ids = GdsCore.strings(f, f.root("sample.id"))
      val ann: Seq[(String, StructField, Int => Any)] =
        f.root.child("sample.annotation").map(_.children).getOrElse(Nil)
          .flatMap { n =>
            n.cls.getOrElse("") match {
              case "dStr8" | "dFStr8" =>
                val a = GdsCore.strings(f, n)
                Some((n.name, StructField(n.name, StringType),
                  (i: Int) => a(i): Any))
              // annotation columns are optional: skip classes that
              // cannot decode (packed with no stored scale) instead of
              // failing the table
              case c if GdsCore.IntSafeClasses(c) =>
                val a = GdsCore.ints(f, n)
                Some((n.name, StructField(n.name, IntegerType),
                  (i: Int) => a(i): Any))
              case "dUInt64" =>
                val a = GdsCore.longs(f, n)
                Some((n.name, StructField(n.name, DecimalType(20, 0)),
                  (i: Int) => GdsCore.unsignedDecimal(a(i)): Any))
              case c if GdsCore.LongClasses(c) =>
                val a = GdsCore.longs(f, n)
                Some((n.name, StructField(n.name, LongType),
                  (i: Int) => a(i): Any))
              case c if GdsCore.FloatClasses(c)
                  && GdsCore.floatsDecodable(n) =>
                val a = GdsCore.floats(f, n)
                Some((n.name, StructField(n.name, FloatType),
                  (i: Int) => a(i): Any))
              case _ => None
            }
          }
      val schema = StructType(
        StructField("sample_ordinal", IntegerType, nullable = false) +:
        StructField("sample_id", StringType, nullable = false) +:
        ann.map(_._2))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
      var i = 0
      while (i < ids.length) {
        rows.add(org.apache.spark.sql.Row.fromSeq(
          i +: ids(i) +: ann.map(_._3(i))))
        i += 1
      }
      spark.createDataFrame(rows, schema)
    } finally f.close()
  }
}
