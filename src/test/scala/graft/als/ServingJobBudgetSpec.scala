package graft.als

import graft.{JobBudget, SparkFixture}
import graft.functions.FactorLookupExpr
import graft.ops.Similarity
import org.apache.spark.GraftSparkInternals
import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Pins the Spark work of the serving operators on a small fitted model:
  * jobs and executed stages per call, and the plan the factor tables'
  * statistics lead to — a lookup in the model's broadcast serving map at
  * or below `spark.sql.autoBroadcastJoinThreshold`, a join above it. A
  * change that adds a job to a serving call, or loses the factor tables'
  * size so the lookups fall back to joins, fails here rather than only in
  * a benchmark trace.
  */
class ServingJobBudgetSpec extends AnyFunSuite with SparkFixture with JobBudget
    with AdaptiveSparkPlanHelper with Eventually {

  private lazy val ratings: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    (for (u <- 0L until 60L; i <- 0L until 30L if (u * 7 + i * 3) % 4 != 0)
      yield (u, i, ((u * 5 + i * 11) % 5 + 1).toFloat)).toDF("user", "item", "rating")
  }

  private val als = GraftALS(rank = 4, maxIter = 2, regParam = 0.1,
    numUserBlocks = 2, numItemBlocks = 2, seed = 3L)

  private lazy val model: GraftALSModel = als.fit(ratings)

  // the serving inputs are RDD-backed: over a local relation the optimizer
  // would evaluate a lookup on the driver and plan no scan at all
  private lazy val scoreIn: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    // includes ids unseen in training (cold-start NaN)
    spark.sparkContext.parallelize(
      for (u <- 0L until 70L; i <- 0L until 35L if (u + i) % 5 == 0) yield (u, i), 2)
      .toDF("user", "item")
  }

  // includes an unknown item (999) and a null item id: neither carries signal
  private lazy val newUsers: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    spark.sparkContext.parallelize(Seq[(Long, Option[Long], Float)](
      (1000L, Some(0L), 5.0f), (1000L, Some(3L), 2.0f), (1001L, Some(1L), 4.0f),
      (1001L, Some(2L), 1.0f), (1001L, Some(999L), 3.0f), (1001L, None, 2.0f)), 2)
      .toDF("user", "item", "rating")
  }

  /** Broadcast-hash joins, sort-merge joins, shuffle exchanges and
    * broadcast exchanges of a plan before execution.
    */
  private def joins(plan: SparkPlan): (Int, Int, Int, Int) = (
    collect(plan) { case j: BroadcastHashJoinExec => j }.size,
    collect(plan) { case j: SortMergeJoinExec => j }.size,
    collect(plan) { case e: ShuffleExchangeExec => e }.size,
    collect(plan) { case e: BroadcastExchangeExec => e }.size)

  /** Serving-map lookups in a plan's expressions. */
  private def lookups(plan: SparkPlan): Int =
    collect(plan) { case p => p.expressions.flatMap(_.collect { case l: FactorLookupExpr => l }) }
      .flatten.size

  private def predictions(df: DataFrame): Map[(Long, Long), String] =
    df.collect().map { r =>
      val p = r.getFloat(2)
      (r.getLong(0), r.getLong(1)) -> (if (p.isNaN) "NaN" else p.toString)
    }.toMap

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
    try body finally conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The default threshold, one between the item side's size (below it)
    * and the user side's (above it), and -1 (no side broadcast).
    */
  private def thresholds: Seq[(String, Long)] = {
    def size(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val (u, i) = (size(model.userFactors), size(model.itemFactors))
    assert(i < u, "the fixture's item side must be the smaller one")
    Seq("default" -> GraftSqlShims.autoBroadcastJoinThreshold(spark), "between" -> (u + i) / 2, "off" -> -1L)
  }

  private def bits(df: DataFrame): Map[Long, Seq[Int]] =
    df.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits)).toMap

  test("factor tables keep createDataFrame[FactorRow]'s schema and carry exact stats") {
    val old = spark.createDataFrame(Seq(FactorRow(1L, Array(1f, 2f)))).schema
    assert(GraftALSModel.FactorSchema == old)
    Seq(model.userFactors -> 60L, model.itemFactors -> 30L).foreach { case (df, n) =>
      assert(df.schema == old)
      assert(df.count() == n)
      val stats = df.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(n)))
      assert(stats.sizeInBytes == BigInt(n) * GraftALSModel.factorRowBytes(als.rank))
    }
  }

  test("factorRowBytes is the UnsafeRow size of a factor row") {
    val toRow = ExpressionEncoder[FactorRow]().createSerializer()
    Seq(1, 2, 4, 16, 63, 64, 65, 100, 128, 129).foreach { rank =>
      val row = toRow(FactorRow(7L, Array.fill(rank)(1f))).asInstanceOf[UnsafeRow]
      assert(GraftALSModel.factorRowBytes(rank) == row.getSizeInBytes, s"rank $rank")
    }
    assert(GraftALSModel.factorRowBytes(16) == 104L)
  }

  test("transform looks up sides within the threshold and joins the rest") {
    val got = thresholds.map { case (name, bytes) =>
      withThreshold(bytes) {
        val scored = model.transform(scoreIn).select("user", "item", "prediction")
        val plan = scored.queryExecution.executedPlan
        val (_, smj, _, _) = joins(plan)
        name match {
          // both sides from the serving maps: no join, no exchange at all
          case "default" => assert(joins(plan) == ((0, 0, 0, 0)) && lookups(plan) == 2,
            plan.treeString)
          // the item side is looked up; the user side is sort-merge joined
          case "between" =>
            assert(joins(plan) == ((0, 1, 2, 0)) && lookups(plan) == 1, plan.treeString)
            val joined = collect(plan) { case j: SortMergeJoinExec => j }.head
            assert(joined.right.output.map(_.name).contains("__ufeat"), plan.treeString)
          case "off" => assert(smj == 2 && lookups(plan) == 0, plan.treeString)
        }
        name -> predictions(scored)
      }
    }.toMap
    assert(got("between") == got("default"))
    assert(got("off") == got("default"))
    assert(got("default").size == scoreIn.count())
    assert(got("default").values.count(_ == "NaN") > 0, "fixture must exercise cold-start rows")
  }

  test("foldInUsers looks up the item side within the threshold; the join solves the same") {
    // the solve runs on the RDD of the looked-up (or joined) ratings, so
    // the path shows in the work: the lookup is one aggregateByKey job of
    // two stages, a join adds its exchanges
    model.foldInUsers(newUsers, als.regParam).collect()
    val got = thresholds.map { case (name, bytes) =>
      withThreshold(bytes) {
        val (out, jobs, stages) = budget(bits(model.foldInUsers(newUsers, als.regParam)))
        // the item side is the smaller one: only -1 turns its lookup into a join
        if (name == "off") assert(stages > 2, s"$jobs/$stages")
        else assert((jobs, stages) == ((1, 2)))
        name -> out
      }
    }.toMap
    assert(got("default").keySet == Set(1000L, 1001L))
    assert(got("between") == got("default"))
    // the join feeds each user's ratings in item order, the lookup in
    // input order: the sums may differ in their last bits
    assert(got("off").keySet == got("default").keySet)
    got("off").foreach { case (u, f) =>
      f.map(java.lang.Float.intBitsToFloat).zip(got("default")(u).map(java.lang.Float.intBitsToFloat))
        .foreach { case (a, b) => assert(math.abs(a - b) <= 1e-5f * (1 + math.abs(b)), s"user $u") }
    }
    // the user side is the larger one: between, the item fold-in joins it
    val items = newUsers.where(col("item").isNotNull)
      .select(col("item").as("user"), col("user").as("item"), col("rating"))
    val (byLookup, lookupJobs, lookupStages) = budget(bits(model.foldInItems(items, als.regParam)))
    assert((lookupJobs, lookupStages) == ((1, 2)))
    withThreshold(thresholds(1)._2) {
      val (joined, jobs, stages) = budget(bits(model.foldInItems(items, als.regParam)))
      assert(jobs > 1 || stages > 2, s"$jobs/$stages")
      assert(joined.keySet == byLookup.keySet && byLookup.keySet == Set(1000L, 1001L))
    }
  }

  test("a factor table with a duplicate id fails the serving map build") {
    val dup = spark.createDataFrame(Seq(FactorRow(1L, Array(1f, 0f)), FactorRow(2L, Array(0f, 1f)),
      FactorRow(1L, Array(2f, 2f))))
    val items = spark.createDataFrame(Seq(FactorRow(7L, Array(1f, 1f))))
    val m = GraftALSModel(rank = 2, userFactors = dup, itemFactors = items)
    val e = intercept[IllegalArgumentException](m.transform(scoreIn))
    assert(e.getMessage.contains("duplicate id 1"), e.getMessage)
  }

  test("the serving maps are built once, shared by copies, and released by unpersist") {
    val fresh = als.fit(ratings)
    try {
      // first call: one collect job per side's map, then the scan
      val (_, first, _) = budget(fresh.transform(scoreIn).collect())
      assert(first == 3)
      val ids = Seq(fresh.userFactors, fresh.itemFactors)
        .map(f => fresh.servingState.side(f).table().id)
      assert(ids.toSet.subsetOf(GraftSparkInternals.broadcastIds(spark.sparkContext)))
      // copies keeping a factor frame reuse its map: mse's copy runs the
      // jobs of a model whose maps exist, and the side-swapped item
      // fold-in finds the user side's map
      val (_, mseJobs, _) = budget(fresh.mse(ratings))
      val unbuilt = als.fit(ratings)
      val (_, unbuiltMseJobs, _) = budget(unbuilt.mse(ratings))
      unbuilt.unpersist()
      assert(unbuiltMseJobs - mseJobs == 2, s"mse $mseJobs vs $unbuiltMseJobs on a fresh model")
      val items = ratings.where(col("user") < 5L)
        .select(col("item").as("user"), col("user").as("item"), col("rating"))
      val (_, swapped, _) = budget(fresh.foldInItems(items, als.regParam).collect())
      assert(swapped == 1)
      val compact = fresh.withCompactIds()
      val (_, compactJobs, _) = budget(compact.transform(scoreIn).collect())
      assert(compactJobs == 1)
      fresh.unpersist()
      // destroy() removes the blocks asynchronously
      eventually(timeout(Span(10, Seconds))) {
        assert(ids.toSet.intersect(GraftSparkInternals.broadcastIds(spark.sparkContext)).isEmpty,
          "unpersist must destroy the maps' broadcasts")
      }
      // the next call builds them again
      val (_, again, _) = budget(fresh.transform(scoreIn).collect())
      assert(again == 3)
    } finally fresh.unpersist()
  }

  test("concurrent first calls build each serving map once") {
    val fresh = als.fit(ratings)
    try {
      val (outs, jobs, _) = budget {
        val calls = (0 until 4).map(_ => new java.util.concurrent.FutureTask[Map[(Long, Long), String]](
          () => predictions(fresh.transform(scoreIn).select("user", "item", "prediction"))))
        calls.foreach(c => new Thread(c).start())
        calls.map(_.get())
      }
      assert(outs.distinct.size == 1)
      assert(jobs == 2 + 4, s"$jobs jobs: two map builds and one scan per call")
    } finally fresh.unpersist()
  }

  test("a second implicit fold-in reuses the Gramian: one job, bit-identical factors") {
    val implicitModel = als.copy(implicitPrefs = true, alpha = 2.0).fit(ratings)
    try {
      val (first, firstJobs, _) = budget(bits(implicitModel.foldInUsersImplicit(newUsers,
        als.regParam, alpha = 2.0)))
      val (second, secondJobs, _) = budget(bits(implicitModel.foldInUsersImplicit(newUsers,
        als.regParam, alpha = 2.0)))
      // first: the item map, the Gramian, the solve
      assert(firstJobs == 3)
      assert(secondJobs == 1)
      assert(second == first && first.keySet == Set(1000L, 1001L))
    } finally implicitModel.unpersist()
  }

  test("serving calls stay inside their job and stage budgets") {
    model.servingMipsCellIndex().materialize()
    // the serving maps build on a model's first call; the pins are per
    // later call
    model.transform(scoreIn).collect()
    val (_, tJobs, tStages) = budget(model.transform(scoreIn).collect())
    val (_, fJobs, fStages) = budget(model.foldInUsers(newUsers, als.regParam).collect())
    val (_, rJobs, rStages) = budget(
      model.recommendForAllUsersApprox(3, nProbe = 4, userShard = Some((1, 4))).collect())
    val (fitted, fitJobs, fitStages) = budget(als.fit(ratings))
    fitted.unpersist()
    info(s"transform $tJobs/$tStages, foldInUsers $fJobs/$fStages, " +
      s"recommendForAllUsersApprox $rJobs/$rStages, fit $fitJobs/$fitStages")
    // transform: the scan, both sides looked up in the serving maps
    assert((tJobs, tStages) == ((1, 1)))
    // fold-in: the per-user aggregateByKey over looked-up item features
    assert((fJobs, fStages) == ((1, 2)))
    // approx recommend against the prebuilt index: the item table is
    // neither cached nor counted per call, the occupancy is broadcast once
    // per index and the result is not checkpointed
    assert((rJobs, rStages) == ((1, 3)))
    // fit: the INT-key decision reads the id ranges measured while the
    // factors materialized, so it runs no aggregate of its own
    assert((fitJobs, fitStages) == ((8, 17)))
  }

  private def rows(df: DataFrame): Map[(Long, Int), (Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(2)) ->
      (r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(3)))).toMap

  private def factors(df: DataFrame): Seq[(Long, Array[Float])] =
    df.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  /** Plain-Scala raw-dot top-k of every query over the whole corpus: dots
    * left to right in double, ranked by the total order (Double.compare on
    * −score, then id).
    */
  private def rawDotTopK(
      queries: Seq[(Long, Array[Float])],
      corpus: Seq[(Long, Array[Float])],
      k: Int): Map[(Long, Int), (Long, Long)] =
    queries.flatMap { case (q, qv) =>
      corpus.map { case (c, cv) =>
        var s = 0.0
        var i = 0
        while (i < qv.length) { s += qv(i).toDouble * cv(i); i += 1 }
        (c, s)
      }.sortBy { case (c, sc) => (-sc, c) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        .take(k).zipWithIndex
        .map { case ((c, sc), i) => (q, i + 1) -> (c, java.lang.Double.doubleToLongBits(sc)) }
    }.toMap

  test("recommendForAllUsers equals a plain raw-dot top-k across several blocks") {
    val want = rawDotTopK(factors(model.userFactors), factors(model.itemFactors), 5)
    // 7-row blocks: every user's top-k merges partials from 5 item blocks
    assert(rows(model.recommendForAllUsers(5, blockSize = 7)) == want)
    assert(rows(model.recommendForAllUsers(5)) == want)
  }

  test("mipsIvfTopK with every cell probed equals a plain raw-dot top-k") {
    val got = rows(Similarity.mipsIvfTopK(model.userFactors, model.itemFactors, k = 5,
      nProbe = 4, numCells = 4, queryIdCol = "id", corpusIdCol = "id",
      vecCol = "features", dim = als.rank))
    assert(got == rawDotTopK(factors(model.userFactors), factors(model.itemFactors), 5))
  }

  test("ANN and exact top-k calls stay inside their job and stage budgets") {
    val items = model.itemFactors
    val users = model.userFactors
    val mips = Similarity.trainMipsIndex(items, vecCol = "features", dim = als.rank, numCells = 4)
    val cellIndex = Similarity.buildCellIndex(
      items.select(col("id").cast("long"), col("features")), mips.cells, Some(mips.maxSq))
      .materialize()
    def mipsCall(prebuilt: Boolean) = Similarity.mipsIvfTopK(users, items, k = 3, nProbe = 2,
      numCells = 4, queryIdCol = "id", corpusIdCol = "id", vecCol = "features",
      dim = als.rank, trainedIndex = if (prebuilt) Some(mips) else None,
      prebuiltCells = if (prebuilt) Some(cellIndex) else None)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "lshTopK" -> (() => Similarity.lshTopK(items, k = 3, idCol = "id", vecCol = "features",
        dim = als.rank, numPlanes = 2, numTables = 3)),
      "ivfTopK" -> (() => Similarity.ivfTopK(items, items, k = 3, nProbe = 2, numCells = 4,
        idCol = "id", vecCol = "features", dim = als.rank)),
      "mipsIvfTopK" -> (() => mipsCall(prebuilt = false)),
      "mipsIvfTopK prebuilt" -> (() => mipsCall(prebuilt = true)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(items, items, k = 3, rerank = 5, nProbe = 2,
        numCells = 4, numSubspaces = 2, numCentroids = 4, idCol = "id", vecCol = "features",
        dim = als.rank)),
      "itemNeighbors" -> (() => model.itemNeighbors(3)),
      "recommendForAllUsers" -> (() => model.recommendForAllUsers(3)))
    val measured = calls.map { case (name, call) =>
      val (_, jobs, stages) = budget(call().collect())
      name -> ((jobs, stages))
    }
    cellIndex.unpersist()
    info(measured.map { case (n, (j, st)) => s"$n $j/$st" }.mkString(", "))
    // the prebuilt MIPS index leaves only the probe join and the merge;
    // the exact kernel is one cartesian and one merge
    assert(measured == Seq(
      "lshTopK" -> ((8, 11)),
      "ivfTopK" -> ((3, 6)),
      "mipsIvfTopK" -> ((9, 12)),
      "mipsIvfTopK prebuilt" -> ((1, 3)),
      "ivfPqTopK" -> ((3, 6)),
      "itemNeighbors" -> ((1, 2)),
      "recommendForAllUsers" -> ((1, 2))))
  }
}
