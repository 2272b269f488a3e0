package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.expressions.ParseGtCells
import graft.functions.genetics.{gtStrings, sampleCells}

/** VCF reader/writer (SURVEY.md §2.1: `seqVCF2GDS`
  * /root/reference/R/ConvVCF2GDS.R:559-1465 + C tokenizer
  * src/ConvVCF2GDS.cpp:1175-1948; `seqGDS2VCF` R/Conversion.R:30-402 +
  * src/ConvGDS2VCF.cpp:571-989).
  *
  * Spark-first split of responsibilities, mirroring the reference's two
  * passes: the `##` header is parsed on the driver into field specs (the
  * `seqVCF_Header` analog — tiny, schema-defining), and the body is parsed
  * by pure column expressions ([[parseLines]]) that the DSv2 `vcf` source
  * ([[graft.sources.v2.VcfDataSource]]) evaluates over line-aligned byte
  * ranges of plain and bgzf files — so a 100 TB VCF parses with file-split
  * parallelism and no shared state, exactly where the reference forks
  * worker processes per line range (ConvVCF2GDS.R:841-907). The
  * reference's ragged `@len` index machinery dissolves into ArrayType
  * columns.
  *
  * Output shape (FIXTURES.md): chrom, pos, id, ref, alts, allele, qual,
  * filter, info_* (typed per header), geno ARRAY<ARRAY<LONG>>,
  * phased ARRAY<BOOLEAN>, fmt_* per-sample arrays.
  */
object Vcf {

  /** One INFO/FORMAT declaration: Number ∈ {"0","1","A","R","G","."},
    * vtype ∈ {Integer, Float, Flag, Character, String}. */
  final case class FieldSpec(id: String, number: String, vtype: String)

  private val headerRe =
    """##(INFO|FORMAT)=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+)""".r.unanchored

  /** Driver-side header scan: (infoSpecs, formatSpecs, sampleIds). */
  def headerSpecs(lines: Seq[String]): (Seq[FieldSpec], Seq[FieldSpec], Seq[String]) = {
    val info = Seq.newBuilder[FieldSpec]
    val fmt = Seq.newBuilder[FieldSpec]
    var samples = Seq.empty[String]
    lines.foreach {
      case l @ headerRe(kind, id, num, t) =>
        if (kind == "INFO") info += FieldSpec(id, num, t)
        else fmt += FieldSpec(id, num, t)
      case l if l.startsWith("#CHROM") =>
        samples = l.split("\t").drop(9).toSeq
      case _ =>
    }
    (info.result(), fmt.result(), samples)
  }

  /** Null-on-out-of-bounds element access. NOT `functions.try_element_at`:
    * that is RuntimeReplaceable (only the optimizer can substitute it)
    * and the DSv2 vcf reader evaluates these parse expressions directly
    * — the raw `ElementAt(failOnError = false)` evals everywhere. */
  private[graft] def tryElem(arr: Column, i: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions.ElementAt(
      Bridge.expression(arr), Bridge.expression(i), None, false))

  /** TRY-mode numeric cast: malformed values become null instead of the
    * ANSI runtime error — a malformed number in one cell of a 100 TB
    * VCF must degrade to NA (the reference's behavior), never kill the
    * import job. Integer goes through DOUBLE first: real-world VCFs
    * carry float-formatted integers in Integer-declared fields
    * ("250.0") and both the legacy Spark cast and R's as.integer accept
    * them by truncating toward zero — a strict integer parse would
    * silently NA values that used to import. */
  private[graft] def castScalar(c: Column, vtype: String): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType}
    vtype match {
      case "Integer" => Bridge.column(
        Cast(Cast(Bridge.expression(c), DoubleType, None, EvalMode.TRY),
          IntegerType, None, EvalMode.TRY))
      case "Float" => Bridge.column(
        Cast(Bridge.expression(c), FloatType, None, EvalMode.TRY))
      case _ => c
    }
  }

  /** Typed INFO column from the raw semicolon-joined string. */
  private def infoCol(s: Column, f: FieldSpec): Column = {
    if (f.vtype == "Flag" || f.number == "0")
      s.rlike(s"(^|;)${f.id}(;|$$|=)")
    else {
      val raw = regexp_extract(s, s"(?:^|;)${f.id}=([^;]*)", 1)
      val nn = when(raw === "" || raw === ".", lit(null)).otherwise(raw)
      if (f.number == "1") castScalar(nn, f.vtype)
      else transform(split(nn, ","),
        x => castScalar(when(x === ".", lit(null)).otherwise(x), f.vtype))
    }
  }

  /** Distributed body parse. `lines` must have a single string column
    * `value` holding non-header VCF rows; `nSamples` comes from the header
    * (schema is static, data is not). */
  def parseLines(
      lines: DataFrame,
      infoSpecs: Seq[FieldSpec],
      formatSpecs: Seq[FieldSpec],
      nSamples: Int,
      chrPrefix: String = "chr"): DataFrame = {
    val f = split(col("value"), "\t")
    // a line with no FORMAT column (short/garbage) yields gtIdx 0 →
    // all-missing geno, instead of an ANSI index error
    val fmtArr = split(coalesce(tryElem(f, lit(9)), lit("")), ":")
    val gtIdx = array_position(fmtArr, "GT")
    // Fused codegen parser for the genotype cube (see ParseGtCells) — the
    // per-sample split/transform chains are interpreted and dominated the
    // import bench.
    val gp = Bridge.column(ParseGtCells(
      Bridge.expression(slice(f, 10, nSamples)), Bridge.expression(gtIdx),
      nSamples))
    val genoCol = gp.getField("geno")
    val phasedCol = gp.getField("phased")
    // Fused fmt_* parser (ParseFmtCells): its unrolled twin (kept in
    // ParseFmtCellsSpec) grows the expression tree O(nSamples) per field
    // — plan-fatal at biobank width; the kernel is one generated loop at
    // any width.
    val fmtCols = formatSpecs.filter(_.id != "GT").map { spec =>
      val idx = array_position(fmtArr, spec.id)
      Bridge.column(graft.functions.expressions.ParseFmtCells(
        Bridge.expression(slice(f, 10, nSamples)),
        Bridge.expression(idx.cast("int")),
        spec.number, spec.vtype, nSamples)).as(s"fmt_${spec.id}")
    }
    // try_element_at + TRY casts on every fixed field: a blank trailing
    // line or malformed POS/QUAL in a 100 TB import yields a null-padded
    // row (caller-filterable), never an ANSI index/cast job kill
    def fld(i: Int) = tryElem(f, lit(i))
    val infoCols = infoSpecs.map(spec =>
      infoCol(fld(8), spec).as(s"info_${spec.id}"))
    val alts = split(fld(5), ",")
    lines.select(Seq(
      regexp_replace(element_at(f, 1), s"^$chrPrefix", "").as("chrom"),
      castScalar(fld(2), "Integer").as("pos"),
      when(fld(3) === ".", lit(null)).otherwise(fld(3)).as("id"),
      fld(4).as("ref"),
      alts.as("alts"),
      concat_ws(",", fld(4), array_join(alts, ",")).as("allele"),
      castScalar(when(fld(6) === ".", lit(null)).otherwise(fld(6)),
        "Float").as("qual"),
      when(fld(7) === ".", lit(null)).otherwise(fld(7)).as("filter")) ++
      infoCols ++ Seq(genoCol.as("geno"), phasedCol.as("phased")) ++
      fmtCols: _*)
  }

  /** Read a VCF (plain, gzip or bgzf), or a directory of shards such as
    * a `seqGDS2VCFSharded` export, through the DSv2 `vcf` source
    * ([[graft.sources.v2.VcfDataSource]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("vcf").load(path)

  /** Reconstruct a VCF header from field specs + sample ids (seqGDS2VCF's
    * header rebuild, /root/reference/R/Conversion.R:63-175). Inverse of
    * [[headerSpecs]] up to Description text. */
  def formatHeader(info: Seq[FieldSpec], fmt: Seq[FieldSpec],
      samples: Seq[String]): Seq[String] = {
    def line(kind: String)(f: FieldSpec) =
      s"""##$kind=<ID=${f.id},Number=${f.number},Type=${f.vtype},Description="">"""
    Seq("##fileformat=VCFv4.2") ++
      info.map(line("INFO")) ++ fmt.map(line("FORMAT")) :+
      (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT") ++ samples).mkString("\t")
  }

  /** FieldSpecs for a frame's `info_*` columns — the header half of the
    * annotation export (Flag ⇒ Number=0; arrays ⇒ Number=".";
    * element type names the VCF Type). */
  def infoSpecsFor(schema: org.apache.spark.sql.types.StructType)
      : Seq[FieldSpec] = {
    import org.apache.spark.sql.types._
    def vt(dt: DataType): String = dt match {
      case IntegerType | LongType => "Integer"
      case FloatType | DoubleType => "Float"
      case _ => "String"
    }
    schema.fields.filter(_.name.startsWith("info_")).toSeq.map { f =>
      val id = f.name.stripPrefix("info_")
      f.dataType match {
        case BooleanType => FieldSpec(id, "0", "Flag")
        case ArrayType(e, _) => FieldSpec(id, ".", vt(e))
        case dt => FieldSpec(id, "1", vt(dt))
      }
    }
  }

  /** VCF `Type=Integer` is 32-bit (BCF additionally reserves the 8 codes
    * at the bottom of the range): a BIGINT column (a wide-stored GDS
    * node, GdsDataSource.fieldType) exports fine while its VALUES fit,
    * and raises a clear error on the first one that doesn't — instead of
    * emitting out-of-spec text or failing the BCF re-encode at a
    * distance with a bare NumberFormatException. */
  private def i32Checked(x: Column, name: String): Column =
    when(x.isNull, lit(null).cast("string"))
      .otherwise(when(x.between(Int.MinValue + 8, Int.MaxValue),
          x.cast("string"))
        .otherwise(raise_error(concat(
          lit(s"VCF Integer is 32-bit; $name value "), x.cast("string"),
          lit(" does not fit (cast the column to a Float/String field " +
            "or drop it before export)")))))

  /** Per-type string rendering for an exported value column — BIGINT
    * goes through the [[i32Checked]] range guard. */
  private def cellStr(x: Column, dt: org.apache.spark.sql.types.DataType,
      name: String): Column = dt match {
    case org.apache.spark.sql.types.LongType => i32Checked(x, name)
    case _ => x.cast("string")
  }

  /** INFO column text "K=V;…" assembled from a frame's `info_*` columns
    * (the value half of the annotation export): Flags contribute their
    * bare key when true, arrays join on ',', null columns drop out
    * (concat_ws skips nulls), and an all-null row yields null ⇒ ".". */
  def infoExprFor(df: DataFrame): Column = {
    import org.apache.spark.sql.types._
    val parts = df.schema.fields.filter(_.name.startsWith("info_")).toSeq
      .map { f =>
        val key = f.name.stripPrefix("info_")
        f.dataType match {
          case BooleanType =>
            when(col(f.name), lit(key))
          case ArrayType(e, _) =>
            when(col(f.name).isNotNull, concat(lit(key + "="),
              array_join(transform(col(f.name),
                x => cellStr(x, e, f.name)), ",", ".")))
          case dt =>
            when(col(f.name).isNotNull,
              concat(lit(key + "="), cellStr(col(f.name), dt, f.name)))
        }
      }
    if (parts.isEmpty) lit(null).cast("string")
    else {
      val joined = concat_ws(";", parts: _*)
      when(length(joined) > 0, joined)
    }
  }

  /** FieldSpecs + per-sample ARRAY<STRING> cell columns for a frame's
    * `fmt_*` columns — the FORMAT half of the annotation export. Scalar-
    * per-sample matrices cast to string cells; ragged (Number=.) ones
    * comma-join per sample. */
  def fmtCellsFor(df: DataFrame): Seq[(FieldSpec, Column)] = {
    import org.apache.spark.sql.types._
    def vt(dt: DataType): String = dt match {
      case IntegerType | LongType => "Integer"
      case FloatType | DoubleType => "Float"
      case _ => "String"
    }
    df.schema.fields.filter(_.name.startsWith("fmt_")).toSeq.map { f =>
      val id = f.name.stripPrefix("fmt_")
      f.dataType match {
        case ArrayType(ArrayType(e, _), _) =>
          (FieldSpec(id, ".", vt(e)),
            transform(col(f.name), x =>
              when(x.isNull, lit(null: String))
                .otherwise(array_join(
                  transform(x, c => cellStr(c, e, f.name)), ",", "."))))
        case ArrayType(e, _) =>
          (FieldSpec(id, "1", vt(e)),
            transform(col(f.name), x => cellStr(x, e, f.name)))
        case dt => throw new IllegalArgumentException(
          s"fmt column ${f.name} is not per-sample: ${dt.simpleString}")
      }
    }
  }

  /** Format variant rows back into VCF body lines (the seqGDS2VCF
    * formatter collapsed into one expression). Expects the [[parseLines]]
    * shape; `infoExpr` supplies the INFO column text (caller builds
    * "K=V;..." — null → "."); `fmt` adds FORMAT fields beyond GT as
    * (id, per-sample ARRAY<STRING> cells) pairs — assembled by the
    * variadic [[graft.functions.genetics.sampleCells]] kernel, so the
    * plan grows with the field count, not the cohort width. */
  def formatLines(v: DataFrame, infoExpr: Column,
      keep: Seq[String] = Nil,
      fmt: Seq[(String, Column)] = Nil): DataFrame = {
    val qualStr = when(col("qual").isNull, lit("."))
      .otherwise(col("qual").cast("string"))
    val fmtNames = ("GT" +: fmt.map(_._1)).mkString(":")
    val cells =
      if (fmt.isEmpty) gtStrings(col("geno"), col("phased"), "\t")
      else sampleCells(col("geno"), col("phased"), "\t", fmt.map(_._2))
    v.select(keep.map(col) :+ concat_ws("\t",
      col("chrom"), col("pos"),
      coalesce(col("id"), lit(".")),
      col("ref"), array_join(col("alts"), ","),
      qualStr,
      coalesce(col("filter"), lit(".")),
      coalesce(infoExpr, lit(".")),
      lit(fmtNames),
      cells).as("value"): _*)
  }
}
