package graft.queries

import graft.SparkFixture
import graft.als.RankingMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The sampled mean-percentile-rank estimator (round-8: bounds the metric
  * to O(users·sample) for real catalogs) against the exact full-catalog
  * form it replaces at scale.
  */
class MprSamplingSpec extends AnyFunSuite with SparkFixture {

  private def factors(n: Int, salt: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    (0 until n).map { i =>
      val rng = new scala.util.Random(1000L * salt + i)
      (i.toLong, Array.fill(8)(rng.nextFloat() - 0.5f))
    }.toDF("id", "features")
  }

  test("sampled MPR estimates the exact metric within sampling error") {
    val spark2 = spark
    import spark2.implicits._
    val users = factors(40, 1)
    val items = factors(240, 2)
    // observed interactions: each user interacts with 5 hash-chosen items
    val inter = (0 until 40).flatMap { u =>
      (0 until 5).map(j => (u.toLong, ((u * 31 + j * 17) % 240).toLong, 1.0 + j))
    }.toDF("user_id", "item_id", "rating")
    val exact = RankingMetrics.meanPercentileRank(users, items, inter)
    val sampled = RankingMetrics.meanPercentileRank(users, items, inter,
      sampleDenom = RankingMetrics.mprSampleDenom(240))
    assert(exact >= 0.0 && exact <= 1.0)
    assert(sampled >= 0.0 && sampled <= 1.0)
    // hash sampling ranks each observed item within a uniform ~1/denom
    // draw of the catalog (~64+5 candidates of 240) — a consistent
    // estimator of the catalog percentile; the tolerance brackets the
    // sampling noise of 200 observations at that sample size
    assert(math.abs(sampled - exact) < 0.1,
      s"sampled=$sampled exact=$exact drift exceeds sampling error")
  }

  test("sampleDenom 1 below 64 items (exact), bounded sample above") {
    assert(RankingMetrics.mprSampleDenom(8) == 1)
    assert(RankingMetrics.mprSampleDenom(63) == 1)
    assert(RankingMetrics.mprSampleDenom(640) == 10)
    assert(RankingMetrics.mprSampleDenom(64000) == 1000)
  }

  test("sampled branch's plan generates candidates — no user×catalog loop join") {
    val spark2 = spark
    import spark2.implicits._
    val users = factors(40, 5)
    val items = factors(240, 6)
    val inter = (0 until 40).map(u => (u.toLong, (u % 240).toLong, 1.0))
      .toDF("user_id", "item_id", "rating")
    val sampledPlan = RankingMetrics
      .mprWeightedPercentiles(users, items, inter, sampleDenom = 4)
      .queryExecution.executedPlan.toString
    assert(!sampledPlan.contains("BroadcastNestedLoopJoin"),
      "sampled MPR must equi-join generated candidate positions, not " +
        "enumerate the catalog per user:\n" + sampledPlan)
    // the exact small-catalog oracle branch is the only place the
    // full-catalog loop join remains
    val exactPlan = RankingMetrics
      .mprWeightedPercentiles(users, items, inter, sampleDenom = 1)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("BroadcastNestedLoopJoin"))
  }

  test("sampled MPR is exact when the denominator is 1") {
    val users = factors(10, 3)
    val items = factors(12, 4)
    val spark2 = spark
    import spark2.implicits._
    val inter = (0 until 10).map(u => (u.toLong, (u % 12).toLong, 2.0))
      .toDF("user_id", "item_id", "rating")
    val a = RankingMetrics.meanPercentileRank(users, items, inter)
    val b = RankingMetrics.meanPercentileRank(users, items, inter, sampleDenom = 1)
    assert(a == b)
  }
}
