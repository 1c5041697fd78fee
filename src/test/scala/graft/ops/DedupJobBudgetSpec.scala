package graft.ops

import graft.{JobBudget, SparkFixture}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark work of the near-dedup operators — jobs and executed
  * stages per call — on both sides of each size pivot: the minhash
  * candidate plans (`candidatesMinBytes`) and the n-gram pair plans
  * (`kernelMinBytes`), forced to the above-pivot path with 0 and left at
  * the default, which fixture-sized input keeps below it.
  */
class DedupJobBudgetSpec extends AnyFunSuite with SparkFixture with JobBudget {

  /** 60 documents: 8 planted clusters of 3 one-word variants of a base
    * text, and 36 singletons.
    */
  private lazy val docs: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
      "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")
    def text(seed: Int): String =
      (0 until 24).map(i => words((seed * 7 + i * (seed % 5 + 3)) % words.size) + (i % 4))
        .mkString(" ")
    val clusters = (0 until 8).flatMap { c =>
      val base = text(100 + c)
      Seq(base, base.replaceFirst("alpha", "zulu"), base.replaceFirst("bravo", "yankee"))
    }
    val singles = (0 until 36).map(i => text(200 + i))
    (clusters ++ singles).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  /** A materialized pair frame, so the operators below are charged only
    * for their own work.
    */
  private def local(df: DataFrame): DataFrame = {
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(df.collect().toSeq, 2), df.schema)
    df.unpersist()
    out
  }

  test("connectedComponents leaves nothing persisted once its result is released") {
    val pairs = local(Dedup.ngramJaccardPairs(docs, threshold = 0.5))
    val sc = spark.sparkContext
    Seq[DataFrame => Unit](_.unpersist(), _ => spark.catalog.clearCache()).foreach { release =>
      val before = sc.getPersistentRDDs.keySet
      val out = Dedup.connectedComponents(pairs)
      assert(out.count() > 0)
      release(out)
      // no GC in between: `out` is still reachable here
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      assert(left.isEmpty, left.values.mkString("; "))
    }
  }

  test("near-dedup calls stay inside their job and stage budgets") {
    def measured(name: String, call: => DataFrame): (String, (Int, Int)) = {
      val (out, jobs, stages) = budget {
        val df = call
        df.collect()
        df
      }
      out.unpersist()
      name -> ((jobs, stages))
    }
    val pairs = local(Dedup.ngramJaccardPairs(docs, threshold = 0.5))
    assert(pairs.count() > 0, "fixture must plant near-duplicate pairs")
    val got = Seq(
      measured("minhashNearDups", Dedup.minhashNearDups(docs, threshold = 0.5)),
      measured("minhashNearDups candidatesMinBytes=0",
        Dedup.minhashNearDups(docs, threshold = 0.5, candidatesMinBytes = 0L)),
      measured("connectedComponents", Dedup.connectedComponents(pairs)),
      measured("nearDedupKeepers", Dedup.nearDedupKeepers(docs, pairs)),
      measured("ngramJaccardPairs", Dedup.ngramJaccardPairs(docs, threshold = 0.5)),
      measured("ngramJaccardPairs kernelMinBytes=0",
        Dedup.ngramJaccardPairs(docs, threshold = 0.5, kernelMinBytes = 0L)))
    info(got.map { case (n, (j, st)) => s"$n $j/$st" }.mkString(", "))
    assert(got.init == Seq(
      "minhashNearDups" -> ((12, 12)),
      "minhashNearDups candidatesMinBytes=0" -> ((11, 11)),
      // the labels are cached in the call (one job) so that the last
      // round's cut is released there; the caller's action reads the cache
      "connectedComponents" -> ((7, 16)),
      "nearDedupKeepers" -> ((4, 4)),
      "ngramJaccardPairs" -> ((18, 18))))
    // the sorted-run kernel's count is not a constant: one call in three
    // starts one more job (and stage) than the others on this fixture, an
    // AQE stage-materialization race inside the call
    assert(Set(24 -> 25, 25 -> 26).contains(got.last._2), got.last)
  }
}
