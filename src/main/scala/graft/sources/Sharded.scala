package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col

/** Executor-side sharded single-file-format export — the 100 TB answer
  * to container formats that are one file by construction (GDS, SNP-GDS,
  * PLINK BED, VCF text): rows shuffle ONCE on a shard key (default
  * chromosome), each shard builds its own container on the executor
  * holding it, and a `_manifest.json` in the output directory lists the
  * shards. No row ever passes through the driver — the export scales
  * with the executor count, not with one JVM's iterator throughput.
  *
  * The output directory must be writable by every executor (posix here;
  * the same pattern carries to any shared FS). Reference single-file
  * semantics are recovered by concatenating shards in manifest order —
  * or, for GDS, by reading the directory straight back through the DSv2
  * `gds` source, which expands it to the shard files.
  */
object Sharded {

  /** Range-partitions `df` on `shardCols` (default genomic order —
    * chrom, pos) into `numShards` contiguous shards, sorts each by
    * `sortCol`, and runs `writer(rows, shardPath)` once per non-empty
    * shard on its executor. Range partitioning (not hash-by-chrom) is
    * the scale choice: shards are balanced by the sampled key
    * distribution, so one huge chromosome splits across shards instead
    * of pinning a single executor, and each shard covers a contiguous
    * genomic interval. The explicit shard count keeps AQE from
    * coalescing the exchange. Returns (shard file, row count) in file
    * order and writes `_manifest.json` alongside the shards. */
  def export(df: DataFrame, dir: String, suffix: String,
      writer: (Iterator[Row], String) => Long,
      shardCols: Seq[String] = Seq("chrom", "pos"),
      sortCol: String = "variant_id", numShards: Int = 0)
      : Seq[(String, Long)] =
    exportRdd(shardPlan(df, shardCols, sortCol, numShards).rdd, dir, suffix,
      writer)

  /** [[export]] handing the writer the shard's catalyst rows, for writers
    * that read them without the external-Row conversion. Rows may be
    * reused objects: copy a value out before keeping it. */
  def exportInternal(df: DataFrame, dir: String, suffix: String,
      writer: (Iterator[InternalRow], String) => Long,
      shardCols: Seq[String] = Seq("chrom", "pos"),
      sortCol: String = "variant_id", numShards: Int = 0)
      : Seq[(String, Long)] =
    exportRdd(shardPlan(df, shardCols, sortCol, numShards).queryExecution
      .toRdd, dir, suffix, writer)

  private def exportRdd[T](rows: RDD[T], dir: String, suffix: String,
      writer: (Iterator[T], String) => Long): Seq[(String, Long)] = {
    new java.io.File(dir).mkdirs()
    val metas = rows.mapPartitionsWithIndex { (i, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val f = f"$dir/part-$i%05d$suffix"
        Iterator((f, writer(it, f)))
      }
    }.collect().toSeq.sortBy(_._1)
    val mf = new java.io.PrintWriter(s"$dir/_manifest.json", "UTF-8")
    try {
      mf.println(metas.map { case (f, n) =>
        s"""{"file": "${new java.io.File(f).getName}", "rows": $n}"""
      }.mkString("[\n  ", ",\n  ", "\n]"))
    } finally mf.close()
    metas
  }

  /** The shard-shaped frame — visible so plan tests can lock the shape:
    * exactly one range exchange plus a partition-local sort. */
  def shardPlan(df: DataFrame, shardCols: Seq[String] = Seq("chrom", "pos"),
      sortCol: String = "variant_id", numShards: Int = 0): DataFrame = {
    val n = if (numShards > 0) numShards
      else df.sparkSession.sparkContext.defaultParallelism
    df.repartitionByRange(n, shardCols.map(col): _*)
      .sortWithinPartitions(sortCol)
  }
}
