package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.gds.SnpGds

/** Metamorphic round trip through the SNP-GDS container:
  * `SnpGds.read ∘ SnpGds.write == identity` on random NORMALIZED call
  * matrices (the container stores one REF-count code per call, so only
  * normalized calls — hom-ref (0,0), het (0,1), hom-alt (1,1),
  * missing (null,null) — survive unchanged). SnpGdsSpec's golden tests
  * pin the FC_SNP2GDS code tables on tiny fixed frames; this fuzzes the
  * corners those never move: sample counts across every dBit2
  * byte-padding residue, variant counts that leave the packed genotype
  * matrix mid-byte, all-missing rows, and absent rs ids. */
class SnpGdsRoundTripPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def draw[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("write -> read is identity on random normalized call matrices") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_snpgds_fuzz").toString
    for (round <- 1 to 8) {
      val nS = draw(Gen.choose(1, 9), 51000L + round) // crosses n%4 = 1..0
      val nVar = draw(Gen.choose(1, 30), 52000L + round)
      val rows = (0 until nVar).map { v =>
        val calls = (0 until nS).map { s =>
          draw(Gen.choose(0, 3), 53000L * round + 97L * v + s) match {
            case 0 => Seq[java.lang.Long](1L, 1L)
            case 1 => Seq[java.lang.Long](0L, 1L)
            case 2 => Seq[java.lang.Long](0L, 0L)
            case _ => Seq[java.lang.Long](null, null)
          }
        }
        (v.toLong, "1", 100 + v,
          if (v % 5 == 0) null.asInstanceOf[String] else s"rs$v",
          "A,C", calls)
      }
      val df = rows.toDF("variant_id", "chrom", "pos", "id", "allele", "geno")
      val p = s"$dir/fuzz_$round.gds"
      SnpGds.write(df, (1 to nS).map(i => s"S$i"), p)
      val back = SnpGds.read(spark, p)
      assert(back.count() == nVar, s"round=$round nS=$nS")
      assert(back.exceptAll(df).count() == 0 &&
        df.exceptAll(back).count() == 0, s"round=$round nS=$nS nVar=$nVar")
    }
  }

  test("dosage write -> read is identity on random floats incl. missing") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_snpgds_fuzz").toString
    for (round <- 1 to 6) {
      val nS = draw(Gen.choose(1, 7), 61000L + round)
      val nVar = draw(Gen.choose(1, 20), 62000L + round)
      val rows = (0 until nVar).map { v =>
        val ds = (0 until nS).map { s =>
          draw(Gen.choose(0, 9), 63000L * round + 89L * v + s) match {
            case 9 => null.asInstanceOf[java.lang.Float]
            case q => java.lang.Float.valueOf(q * 0.25f)
          }
        }
        (v.toLong, "1", 100 + v, s"rs$v", "A,C", ds)
      }
      val df = rows.toDF("variant_id", "chrom", "pos", "id", "allele", "ds")
      val p = s"$dir/dos_$round.gds"
      SnpGds.writeDosage(df, (1 to nS).map(i => s"S$i"), p)
      val back = SnpGds.read(spark, p)
      assert(back.exceptAll(df).count() == 0 &&
        df.exceptAll(back).count() == 0, s"round=$round nS=$nS nVar=$nVar")
    }
  }

  private def md5(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      .map(b => f"${b & 0xff}%02x").mkString

  test("seeded write and writeDosage containers keep their bytes") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_snpgds_pin").toString
    val nS = 5
    val nVar = 13
    val samples = (1 to nS).map(i => s"S$i")
    val geno = (0 until nVar).map { v =>
      val calls = (0 until nS).map { s =>
        draw(Gen.choose(0, 3), 71000L + 97L * v + s) match {
          case 0 => Seq[java.lang.Long](1L, 1L)
          case 1 => Seq[java.lang.Long](0L, 1L)
          case 2 => Seq[java.lang.Long](0L, 0L)
          case _ => Seq[java.lang.Long](null, null)
        }
      }
      (v.toLong, if (v < 7) "1" else "2", 100 + 3 * v,
        if (v % 5 == 0) null.asInstanceOf[String] else s"rs$v",
        "A,C", calls)
    }.toDF("variant_id", "chrom", "pos", "id", "allele", "geno")
    val ds = (0 until nVar).map { v =>
      val d = (0 until nS).map { s =>
        draw(Gen.choose(0, 9), 72000L + 89L * v + s) match {
          case 9 => null.asInstanceOf[java.lang.Float]
          case q => java.lang.Float.valueOf(q * 0.25f)
        }
      }
      (v.toLong, "1", 100 + v, s"rs$v", "G,T", d)
    }.toDF("variant_id", "chrom", "pos", "id", "allele", "ds")
    SnpGds.write(geno, samples, s"$dir/geno.gds")
    SnpGds.writeDosage(ds, samples, s"$dir/ds.gds")
    // md5 of both files from the writers before their node tree was
    // shared: the shared assembly must not move a byte
    assert(md5(s"$dir/geno.gds") == "cbcab1295f37c77bd94f38260f95e306")
    assert(md5(s"$dir/ds.gds") == "a9d6df3279532ae59aaf51634f4491cd")
  }
}
