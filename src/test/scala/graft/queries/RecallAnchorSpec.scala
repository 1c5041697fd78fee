package graft.queries

import graft.{SparkFixture, Tables}
import graft.ops.{IndexHealth, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the recall meters' fixed anchor budget: the anchored estimate
  * (exact truth for [[IndexHealth.recallAnchorBudget]] hash-chosen queries)
  * must track the full-truth recall (exact truth for EVERY query) — the
  * bound that justifies running the ×100 meter at O(anchors × corpus)
  * instead of the O(corpus²) full truth the small-sf oracle tiers keep.
  */
class RecallAnchorSpec extends AnyFunSuite with SparkFixture {

  test("anchor selection is deterministic, bounded, and degenerates to the full set below budget") {
    val e = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val a1 = IndexHealth.recallAnchorIds(e, "vec_id")
    val a2 = IndexHealth.recallAnchorIds(e, "vec_id")
    assert(a1.toSeq == a2.toSeq)
    assert(a1.length == math.min(IndexHealth.recallAnchorBudget, e.count()).toInt)
    // a corpus at or below the budget keeps FULL truth
    val small = e.limit(IndexHealth.recallAnchorBudget / 2)
    assert(IndexHealth.recallAnchorIds(small, "vec_id").length == small.count().toInt)
  }

  test("anchored IVF recall tracks full-truth recall at sf0.1") {
    val e = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select("vec_id", "embedding")
    val cb = Similarity.trainCodebook(
      e, numCells = Similarity.defaultNumCells(e.count()))
    def recall(queries: DataFrame): Double = {
      val exact = Similarity.bruteForceTopK(queries, e, k = 5)
        .select("query_id", "neighbor_id").persist()
      val ivf = Similarity.ivfTopK(queries, e, k = 5, trainedCodebook = Some(cb))
        .select("query_id", "neighbor_id")
      val n = exact.count()
      val hits = exact.join(ivf, Seq("query_id", "neighbor_id")).count()
      exact.unpersist(blocking = false)
      hits.toDouble / n
    }
    val full = recall(e)
    val anchors = IndexHealth.recallAnchorIds(e, "vec_id")
    assert(anchors.length == IndexHealth.recallAnchorBudget)
    val anchored = recall(e.where(col("vec_id").isin(anchors.map(Long.box): _*)))
    // 256 anchors × k=5 = 1,280 truth pairs → ±0.014 std on the estimate;
    // 0.05 is ~3.5σ of headroom while still catching a broken anchor tier
    // (the meter reads tier gaps at the ~0.1 scale)
    assert(math.abs(full - anchored) <= 0.05,
      s"anchored recall $anchored vs full-truth $full")
  }

  test("anchored dedup pair recall tracks full-truth pair recall at sf0.1") {
    import graft.ops.Dedup
    val docs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val lsh = Dedup.minhashNearDups(
      docs, threshold = 0.5, family = PortableMinhash)
    val lshPairs = lsh.select("id_a", "id_b")
    def pairRecall(pred: Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column]): Double = {
      val exactPairs = Dedup.ngramJaccardPairs(
        docs, threshold = 0.5, maxDocFrequency = 20, minSharedShingles = 2,
        idAPredicate = pred)
      val exact = exactPairs.select("id_a", "id_b")
      val n = exact.count()
      val hits = exact.join(lshPairs, Seq("id_a", "id_b")).count()
      exactPairs.unpersist(blocking = false)
      if (n == 0) 1.0 else hits.toDouble / n
    }
    val full = pairRecall(None)
    val anchors = IndexHealth.recallAnchorIds(docs, "doc_id")
    val anchorPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      id => id.isin(anchors.map(Long.box): _*)
    val anchored = pairRecall(Some(anchorPred))
    // pair recall over pairs whose smaller id is one of the 256 anchors:
    // the dedup twin of the sim-meter bound above (round-12 verdict #7 —
    // the 1/4 RATE sample this replaces grew O(corpus) at ×100)
    assert(math.abs(full - anchored) <= 0.08,
      s"anchored pair recall $anchored vs full-truth $full")
    // restricting the LSH tier's pair listing to anchored id_a (what the
    // meter ships) is a pure cost cut: anchored-exact pairs all have an
    // anchored smaller id, so the hit set against the FULL LSH pair list
    // and against the anchored one are identical sets
    val exactAnchoredPairs = Dedup.ngramJaccardPairs(
      docs, threshold = 0.5, maxDocFrequency = 20, minSharedShingles = 2,
      idAPredicate = Some(anchorPred))
    val exactAnchored = exactAnchoredPairs.select("id_a", "id_b")
    val lshAnchored = Dedup.minhashNearDups(
      docs, threshold = 0.5, family = PortableMinhash,
      idAPredicate = Some(anchorPred))
    val hitsFull = exactAnchored.join(lshPairs, Seq("id_a", "id_b")).count()
    val hitsAnch = exactAnchored
      .join(lshAnchored.select("id_a", "id_b"), Seq("id_a", "id_b")).count()
    assert(hitsFull == hitsAnch,
      s"anchored-LSH hit set diverged: $hitsFull vs $hitsAnch")
    exactAnchoredPairs.unpersist(blocking = false)
    lshAnchored.unpersist(blocking = false)
    lsh.unpersist(blocking = false)
  }
}
