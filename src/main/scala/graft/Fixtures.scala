package graft

/** Locates the reference fixtures that SeqArray ships in its
  * `inst/extdata` directory (FIXTURES.md §1): CEU_Exon .gds/.vcf.gz/.csi,
  * the 1000 Genomes chr22 GDS and Imputed_dosages.gds. Queries and specs
  * name a fixture by file name; a missing one fails with one message.
  */
object Fixtures {

  /** The `inst/extdata` directory of the SeqArray checkout. */
  val ExtData = "/root/reference/inst/extdata"

  /** Absolute path of fixture `name`; throws a FileNotFoundException
    * naming that path when the file is absent. */
  def path(name: String): String = {
    val f = new java.io.File(ExtData, name)
    if (!f.isFile) throw new java.io.FileNotFoundException(
      s"${f.getAbsolutePath} not found: the file ships in SeqArray's " +
        "inst/extdata (FIXTURES.md, section 1)")
    f.getAbsolutePath
  }
}
