package graft.queries

import graft.SparkFixture
import graft.ops.IndexHealth
import org.scalatest.funsuite.AnyFunSuite

/** Pins the drift meter's decision rule (round-10 verdict #8): the
  * `retrain_recommended` flag must be exactly `retrain_gain >
  * retrainGainMargin` over the same doubles the query reports, and the
  * margin itself must not trip the flag (strict inequality — a gain equal
  * to the noise budget is not evidence of decay).
  */
class DriftThresholdSpec extends AnyFunSuite with SparkFixture {

  test("margin is a strict threshold at the documented noise budget") {
    val m = IndexHealth.retrainGainMargin
    assert(m == 0.02, "margin is the documented sampling-CI-scale budget")
    // the PRODUCTION decision rule (the one simDriftRecall emits), not a
    // tautology over the raw comparison operator
    assert(!IndexHealth.retrainDecision(m), "gain == margin must NOT recommend a retrain")
    assert(IndexHealth.retrainDecision(m + 1e-9), "any gain above the margin must")
    assert(!IndexHealth.retrainDecision(0.0))
    assert(!IndexHealth.retrainDecision(-0.1), "improving recall never recommends")
  }

  test("sim_drift_recall emits a flag consistent with its own gain column") {
    val row = SimilarityQueries.simDriftRecall
      .fn(spark, "/root/testdata/sf0.001")
      .head()
    val gain = row.getAs[Double]("retrain_gain")
    val flag = row.getAs[Boolean]("retrain_recommended")
    assert(flag == gain > IndexHealth.retrainGainMargin,
      s"flag $flag inconsistent with gain $gain at margin ${IndexHealth.retrainGainMargin}")
    val sr = row.getAs[Double]("stale_recall")
    val fr = row.getAs[Double]("fresh_recall")
    assert(math.abs(gain - (fr - sr)) == 0.0, "gain must be exactly fresh − stale")
  }
}
