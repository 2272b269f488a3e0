package graft.sources

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The file list of a DSv2 load, shared by the `gds` and `vcf` sources.
  * Spark's DataFrameReader passes `load(path)` as the `path` option and
  * `load(a, b, …)` as a JSON array in `paths` (as the built-in
  * FileDataSourceV2 does); a hand-written non-JSON `paths` value splits
  * on commas. A directory (e.g. a sharded export) expands to its files
  * ending in one of the source's `suffixes`, sorted by name. */
object SourcePaths {

  def apply(options: CaseInsensitiveStringMap, source: String,
      suffixes: Seq[String]): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { raw =>
      val t = raw.trim
      if (t.startsWith("[")) {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
        (0 until node.size()).map(node.get(_).asText())
      } else t.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val all = single ++ multi
    require(all.nonEmpty, s"$source source requires a path")
    expand(all, suffixes)
  }

  def expand(paths: Seq[String], suffixes: Seq[String]): Seq[String] =
    paths.flatMap { p =>
      val f = new java.io.File(p.stripPrefix("file:"))
      if (!f.isDirectory) Seq(p)
      else {
        val files = Option(f.listFiles()).getOrElse(Array.empty)
          .filter(c => c.isFile && suffixes.exists(c.getName.endsWith))
          .map(_.getPath).sorted.toSeq
        require(files.nonEmpty,
          s"no ${suffixes.mkString("/")} files under directory $p")
        files
      }
    }
}
