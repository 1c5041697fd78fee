package graft.als

import graft.SparkFixture
import graft.ops.Similarity
import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark work of the serving operators on a small fitted model:
  * jobs and executed stages per call, and the join plan the factor tables'
  * statistics lead the planner to. A change that adds a job to a serving
  * call, or loses the factor tables' size so the joins fall back to
  * sort-merge, fails here rather than only in a benchmark trace.
  */
class ServingJobBudgetSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private lazy val ratings: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    (for (u <- 0L until 60L; i <- 0L until 30L if (u * 7 + i * 3) % 4 != 0)
      yield (u, i, ((u * 5 + i * 11) % 5 + 1).toFloat)).toDF("user", "item", "rating")
  }

  private val als = GraftALS(rank = 4, maxIter = 2, regParam = 0.1,
    numUserBlocks = 2, numItemBlocks = 2, seed = 3L)

  private lazy val model: GraftALSModel = als.fit(ratings)

  private lazy val scoreIn: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    // includes ids unseen in training (cold-start NaN)
    (for (u <- 0L until 70L; i <- 0L until 35L if (u + i) % 5 == 0) yield (u, i))
      .toDF("user", "item")
  }

  private lazy val newUsers: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    Seq((1000L, 0L, 5.0f), (1000L, 3L, 2.0f), (1001L, 1L, 4.0f), (1001L, 2L, 1.0f),
      (1001L, 999L, 3.0f)).toDF("user", "item", "rating")
  }

  /** Jobs started and stages executed (skipped stages excluded) by `body`,
    * counted for this thread's jobs only through a local property.
    */
  private def budget[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.budget"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(ours.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (ours.contains(e.stageInfo.stageId) && e.stageInfo.submissionTime.isDefined)
          stages.incrementAndGet()
    }
    GraftSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      GraftSparkInternals.drainListenerBus(sc)
      (out, jobs.get, stages.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  private def joins(plan: SparkPlan): (Int, Int, Int) = (
    collect(plan) { case j: BroadcastHashJoinExec => j }.size,
    collect(plan) { case j: SortMergeJoinExec => j }.size,
    collect(plan) { case e: ShuffleExchangeExec => e }.size)

  private def predictions(df: DataFrame): Map[(Long, Long), String] =
    df.collect().map { r =>
      val p = r.getFloat(2)
      (r.getLong(0), r.getLong(1)) -> (if (p.isNaN) "NaN" else p.toString)
    }.toMap

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

  test("transform broadcasts both factor tables at plan time; SMJ fallback scores identically") {
    val scored = model.transform(scoreIn).select("user", "item", "prediction")
    // the plan before execution: two broadcast joins, no shuffle of the
    // scoring input (broadcast exchanges are not shuffles)
    assert(joins(scored.queryExecution.executedPlan) == ((2, 0, 0)),
      scored.queryExecution.executedPlan.treeString)
    val broadcast = predictions(scored)
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val smj = model.transform(scoreIn).select("user", "item", "prediction")
      val (bhj, sm, _) = joins(smj.queryExecution.executedPlan)
      assert(bhj == 0 && sm == 2, smj.queryExecution.executedPlan.treeString)
      assert(predictions(smj) == broadcast)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(broadcast.size == scoreIn.count())
    assert(broadcast.values.count(_ == "NaN") > 0, "fixture must exercise cold-start rows")
  }

  test("serving calls stay inside their job and stage budgets") {
    model.servingMipsCellIndex().materialize()
    val (_, tJobs, tStages) = budget(model.transform(scoreIn).collect())
    val (_, fJobs, fStages) = budget(model.foldInUsers(newUsers, als.regParam).collect())
    val (_, rJobs, rStages) = budget(
      model.recommendForAllUsersApprox(3, nProbe = 4, userShard = Some((1, 4))).collect())
    val (fitted, fitJobs, fitStages) = budget(als.fit(ratings))
    fitted.unpersist()
    info(s"transform $tJobs/$tStages, foldInUsers $fJobs/$fStages, " +
      s"recommendForAllUsersApprox $rJobs/$rStages, fit $fitJobs/$fitStages")
    // transform: one job per broadcast factor side plus the scan
    assert((tJobs, tStages) == ((3, 3)))
    // fold-in: the broadcast, then the per-user aggregateByKey
    assert((fJobs, fStages) == ((2, 3)))
    // approx recommend against the prebuilt index: the item table is
    // neither cached nor counted per call
    assert((rJobs, rStages) == ((2, 4)))
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
      "mipsIvfTopK prebuilt" -> ((2, 4)),
      "ivfPqTopK" -> ((3, 6)),
      "itemNeighbors" -> ((1, 2)),
      "recommendForAllUsers" -> ((1, 2))))
  }
}
