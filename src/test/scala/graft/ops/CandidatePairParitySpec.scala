package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r18 one-exchange candidate builder pair-set-identical to the
  * bucket self-join it replaced, on a randomized corpus whose banded frame
  * has real structure (shared buckets from near-dup text, singleton
  * buckets, multi-member buckets across bands) — with and without the
  * recall meters' smaller-id predicate.
  */
class CandidatePairParitySpec extends AnyFunSuite with SparkFixture {

  private def bandedOf(nDocs: Int) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(42)
    val docs = (0 until nDocs).map { i =>
      // clusters of near-identical docs (same seed word stream, one word
      // perturbed) so bands collide on purpose
      val seed = i / 4
      val words = (0 until 30).map(w => s"w${(seed * 31 + w * 7) % 97}").toArray
      if (i % 4 != 0 && words.length > 5) words(rnd.nextInt(words.length)) = s"x$i"
      Row(i.toLong, words.mkString(" "), "en", "src", words.mkString(" ").length.toLong)
    }
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(docs).asJava,
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))
    val shingled = Dedup.shingleFrame(df, "text", "doc_id", 3)
    val withSig = Dedup.XxHash64Minhash.signatures(shingled, 64)
    Dedup.bandedFrame(withSig, 16, 4).persist()
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

  test("one-exchange candidates == bucket self-join, plain and anchored") {
    val banded = bandedOf(200)
    try {
      val plainNew = pairs(Dedup.bandedCandidates(banded, None))
      val plainOld = pairs(Dedup.bandedCandidatesJoin(banded, None))
      assert(plainNew.nonEmpty, "degenerate fixture: no candidate pairs at all")
      assert(plainNew == plainOld)
      // every pair ordered, so the i<j emission really mirrors x.id < y.id
      assert(plainNew.forall { case (a, b) => a < b })

      val anchor: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => c % 7 === 0
      val anchoredNew = pairs(Dedup.bandedCandidates(banded, Some(anchor)))
      val anchoredOld = pairs(Dedup.bandedCandidatesJoin(banded, Some(anchor)))
      assert(anchoredNew == anchoredOld)
      // the predicate restricts the SMALLER id only (id_b unrestricted)
      assert(anchoredNew.forall { case (a, _) => a % 7 == 0 })
      assert(anchoredNew == plainNew.filter { case (a, _) => a % 7 == 0 })
    } finally banded.unpersist(blocking = false)
  }
}
