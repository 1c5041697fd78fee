package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure functions of the seed: the same seed writes the
  * same inputs (equal checksums, also when read back from disk), another
  * seed writes different ones.
  */
class GenSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private def tmp(): String = {
    val base = java.nio.file.Paths.get("target", "gen-spec")
    Files.createDirectories(base)
    Files.createTempDirectory(base, "gen").toString
  }

  private val planted = Gen.Planted(nUsers = 300, nItems = 200, rank = 4,
    meanPerUser = 12, noise = 0.5, zipf = 0.8, implicitPrefs = false)

  test("same seed, same ratings checksum; another seed, another checksum") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    val (rowsA, heldA, sumA) = Gen.writeRatings(spark, 7L, planted, a)
    val (rowsB, heldB, sumB) = Gen.writeRatings(spark, 7L, planted, b)
    val (_, _, sumC) = Gen.writeRatings(spark, 8L, planted, c)
    assert(sumA == sumB && rowsA == rowsB && heldA.toSeq == heldB.toSeq)
    assert(sumA != sumC)
    val onDisk = (d: String) => Gen.ratingsChecksum(spark.read.parquet(s"$d/train"))
    assert(onDisk(a) == onDisk(b))
    assert(onDisk(a) != onDisk(c))
  }

  test("implicit interactions are seeded the same way") {
    val p = planted.copy(implicitPrefs = true)
    assert(Gen.writeRatings(spark, 3L, p, tmp())._3 == Gen.writeRatings(spark, 3L, p, tmp())._3)
  }

  test("same seed, same documents checksum, and it matches the rows on disk") {
    val d = Gen.Docs(nDocs = 500, nClusters = 20, clusterSize = 3, vocab = 1000, edits = 1)
    val (a, b, c) = (tmp(), tmp(), tmp())
    val sumA = Gen.writeDocs(spark, 5L, d, a)
    assert(sumA == Gen.writeDocs(spark, 5L, d, b))
    assert(sumA != Gen.writeDocs(spark, 6L, d, c))
    assert(sumA == Gen.docsChecksum(spark.read.parquet(s"$a/documents")))
  }

  test("planted clusters are disjoint and their members share most words") {
    val d = Gen.Docs(nDocs = 500, nClusters = 20, clusterSize = 3, vocab = 1000, edits = 1)
    val cs = Gen.clusters(5L, d)
    assert(cs.flatten.distinct.length == d.nClusters * d.clusterSize)
    val pm = Gen.perm(5L, d.nDocs)
    cs.foreach { c =>
      val base = Gen.docText(5L, d, pm, c(0).toInt).split(" ")
      c.drop(1).foreach { v =>
        val other = Gen.docText(5L, d, pm, v.toInt).split(" ")
        assert(other.length == base.length)
        assert(base.zip(other).count { case (x, y) => x != y } <= d.edits)
      }
    }
  }
}
