package graft.queries

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Pins the session-artifact contract the bench leak sweep depends on:
  * the shared models' factor RDDs are persisted session state, published
  * through [[SessionArtifacts.pinnedRddIds]] so a harness sweeping
  * `sc.getPersistentRDDs` between queries exempts them (sweeping them
  * forced later ALS queries to recompute factors from lineage — measured
  * als_item_neighbors 21→56 s at ×10 — and localCheckpointed factors
  * cannot recompute at all), and [[SessionArtifacts.clear]] releases
  * exactly that set.
  */
class SessionCacheSpec extends AnyFunSuite with SparkFixture {

  private val sfDir = "/root/testdata/sf0.001"

  test("pinnedRddIds covers the memoized model's persisted factor RDDs") {
    SessionArtifacts.clear()
    val m = Queries.model(spark, sfDir)
    val pinned = SessionArtifacts.pinnedRddIds
    assert(m.backingRdds.nonEmpty)
    assert(m.backingRdds.map(_.id).toSet.subsetOf(pinned))
    // and they are genuinely persisted right now — the sweep would have
    // seen them without the exemption
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(m.backingRdds.map(_.id).forall(persisted.contains))
  }

  test("a leak sweep honoring pinnedRddIds leaves the model servable") {
    val m = Queries.model(spark, sfDir)
    val before = m.userFactors.count()
    val pinned = SessionArtifacts.pinnedRddIds
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !pinned.contains(id) }
      .valuesIterator.foreach(_.unpersist(blocking = true))
    // factors still served from the pinned cache, same contents
    assert(m.userFactors.count() == before)
  }

  test("clear() unpersists every registry model and leaves no pins") {
    val models = Seq(
      Queries.model(spark, sfDir),
      Queries.nnModel(spark, sfDir),
      Queries.rank32Model(spark, sfDir))
    val codebook = Queries.trainedCodebook(spark, sfDir)
    val held = SessionArtifacts.pinnedRddIds
    assert(models.flatMap(_.backingRdds.map(_.id)).toSet.subsetOf(held))
    SessionArtifacts.clear()
    assert(SessionArtifacts.pinnedRddIds.isEmpty)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(held.intersect(persisted).isEmpty,
      s"still persisted after clear(): ${held.intersect(persisted)}")
    // driver-side entries go too: the codebook retrains, to the same floats
    val again = Queries.trainedCodebook(spark, sfDir)
    assert(!(again eq codebook))
    assert(again.map(_.toSeq).toSeq == codebook.map(_.toSeq).toSeq)
    SessionArtifacts.clear()
  }
}
