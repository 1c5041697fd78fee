package perfbench

import scala.collection.mutable

import graft.als.{GraftALS, GraftALSModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `als_serve`: one client issues serving rounds against a model trained,
  * and whose MIPS index is built, during set-up. A round is three requests
  * in a seeded order of shards and batches:
  *  - `recommendForAllUsersApprox(10, userShard = (s, 64))`;
  *  - `foldInUsers` on a batch of 200 new users;
  *  - `transform` over a batch of (user, item) pairs.
  *
  * These calls read factors rather than write them, and the small ones
  * are bound by Spark's per-job floor, so job-count and serving changes
  * show here that the fit workloads hide.
  */
final class ServeWorkload(ctx: Ctx) extends Workload {
  import Workload.{mb, median}

  private val planted = Gen.Planted(nUsers = 6000, nItems = 1500, rank = 16,
    meanPerUser = 25, noise = 0.5, zipf = 0.8, implicitPrefs = false)
  private val als = GraftALS(rank = 16, maxIter = 5, regParam = 0.05, seed = ctx.seed)
  private val Shards = 64
  private val FoldinUsers = 200
  private val FoldinBatches = 4
  private val ScoreRows = 50000
  private val ScoreBatches = 4
  /** Users per round whose approximate top-10 is checked by brute force. */
  private val RecallUsers = 100
  /** Lowest recall@10 a round may show. */
  private val MinRecall = 0.7

  private val dir = s"${ctx.workDir}/serve"
  private var model: GraftALSModel = _
  private var users: Map[Long, Array[Float]] = Map.empty
  private var itemIds: Array[Long] = Array.empty
  private var itemVecs: Array[Array[Float]] = Array.empty
  private var foldinRatings: Map[Int, Array[Gen.Rating]] = Map.empty
  private val indexBuildSeconds = mutable.ArrayBuffer.empty[Double]
  private val setupSeconds = mutable.ArrayBuffer.empty[Double]
  private var recallHits = 0L
  private var recallTotal = 0L
  private val shardOrder: Array[Int] = {
    val rng = new java.util.SplittableRandom(Gen.mix(ctx.seed, 7L))
    val a = Array.range(0, Shards)
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  private case class Out(
      shard: Int,
      recs: Array[(Long, Long, Float)],
      batch: Int,
      foldin: Array[(Long, Array[Float])],
      scoreBatch: Int)
  private val outs = mutable.Map.empty[Int, Out]

  private def foldinDf: DataFrame = ctx.spark.read.parquet(s"$dir/foldin")
  private def scoreDf: DataFrame = ctx.spark.read.parquet(s"$dir/score")

  def setup(rep: Int): Long = {
    val t0 = System.nanoTime()
    if (model != null) model.unpersist()
    val spark = ctx.spark
    import spark.implicits._
    val (_, _, trainSum) = Gen.writeRatings(spark, ctx.seed, planted, dir)
    val newUsers = Gen.ratingsRdd(spark, ctx.seed, planted,
      planted.nUsers, planted.nUsers + FoldinUsers * FoldinBatches).collect()
    newUsers.toSeq.map(r => (r.user, r.item, r.rating, (r.user - planted.nUsers) / FoldinUsers))
      .toDF("user", "item", "rating", "batch").write.mode("overwrite").parquet(s"$dir/foldin")
    foldinRatings = newUsers.groupBy(_.user)
    val seed = ctx.seed
    spark.range(ScoreRows.toLong * ScoreBatches)
      .select(
        pmod(xxhash64(col("id"), lit(seed)), lit(planted.nUsers.toLong)).cast("int").as("user"),
        pmod(xxhash64(col("id"), lit(seed + 1)), lit(planted.nItems.toLong)).cast("int").as("item"),
        (col("id") % ScoreBatches).cast("int").as("batch"))
      .write.mode("overwrite").parquet(s"$dir/score")
    val scoreSum = scoreDf.agg(expr("bit_xor(xxhash64(user, item, batch))")).head().getLong(0)

    model = als.fit(spark.read.parquet(s"$dir/train"))
    val tIndex = System.nanoTime()
    model.servingMipsIndex()
    model.servingMipsCellIndex().materialize()
    indexBuildSeconds += (System.nanoTime() - tIndex) / 1e9
    users = model.userFactors.select(col("id").cast("long"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val items = model.itemFactors.select(col("id").cast("long"), col("features")).collect()
    itemIds = items.map(_.getLong(0))
    itemVecs = items.map(_.getSeq[Float](1).toArray)
    setupSeconds += (System.nanoTime() - t0) / 1e9
    Gen.mix(Gen.mix(trainSum, newUsers.map(r => Gen.ratingHash(r.user, r.item, r.rating)).sum), scoreSum)
  }

  /** Three rounds, on the shards and batches the timed rounds reach last. */
  def warmUp(): Unit = for (i <- -3 to -1) {
    op(i)
    release(i)
  }

  override def pinnedRdds: Set[Int] =
    if (model == null) Set.empty else model.backingRdds.map(_.id).toSet ++ model.servingIndexRddIds

  private def slot(i: Int, n: Int): Int = Math.floorMod(i, n)

  def op(i: Int): Unit = {
    val tr = ctx.tracer
    val shard = shardOrder(slot(i, Shards))
    val batch = slot(i, FoldinBatches)
    val scoreBatch = slot(i, ScoreBatches)
    val recs = tr.span("model.recommend_approx") {
      model.recommendForAllUsersApprox(10, nProbe = 16, userShard = Some((shard, Shards)))
        .select(col("user_id").cast("long"), col("item_id").cast("long"), col("score").cast("float"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getFloat(2)))
    }
    val folded = tr.span("model.foldin") {
      model.foldInUsers(foldinDf.where(col("batch") === batch), als.regParam)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    }
    tr.span("model.transform") {
      model.transform(scoreDf.where(col("batch") === scoreBatch))
        .write.format("noop").mode("overwrite").save()
    }
    outs(i) = Out(shard, recs, batch, folded, scoreBatch)
  }

  def release(i: Int): Unit = outs.remove(i)

  def check(i: Int): Seq[String] = {
    val out = outs(i)
    val fails = mutable.ArrayBuffer.empty[String]
    // recommendations: every shard user served, at most 10 items each,
    // scores equal to the factor dot products, recall@10 against brute force
    val shardUsers = users.keys.filter(u => Math.floorMod(u, Shards.toLong) == out.shard).toArray.sorted
    val byUser = out.recs.groupBy(_._1)
    if (byUser.keySet != shardUsers.toSet)
      fails += s"recommend shard ${out.shard}: ${byUser.size} users served, expected ${shardUsers.length}"
    val vec = itemIds.zip(itemVecs).toMap
    val badScores = out.recs.count { case (u, it, s) =>
      users.get(u).zip(vec.get(it)).forall { case (uf, vf) =>
        val d = Gen.dot(uf, vf)
        math.abs(d - s) > 1e-3 * (1 + math.abs(d))
      }
    }
    if (badScores > 0) fails += s"recommend: $badScores scores differ from the factor dot product"
    if (byUser.values.exists(_.length > 10)) fails += "recommend: more than 10 items for a user"
    val sample = shardUsers.sortBy(u => Gen.mix(ctx.seed, u)).take(RecallUsers)
    var hits = 0
    sample.foreach { u =>
      val exact = topK(users(u), 10)
      val approx = byUser.getOrElse(u, Array.empty).map(_._2).toSet
      hits += exact.count(approx.contains)
    }
    val recall = hits.toDouble / (10 * sample.length)
    recallHits += hits
    recallTotal += 10L * sample.length
    if (recall < MinRecall) fails += f"recommend: recall@10 $recall%.3f below $MinRecall"

    // fold-in: one row per new user, equal to a local solve of the
    // user's regularized normal equations
    val expected = foldinRatings.filter { case (u, rs) =>
      (u - planted.nUsers) / FoldinUsers == out.batch && rs.exists(r => vec.contains(r.item))
    }
    if (out.foldin.map(_._1).toSet != expected.keySet.map(_.toLong))
      fails += s"fold-in batch ${out.batch}: ${out.foldin.length} users, expected ${expected.size}"
    val badFold = out.foldin.count { case (u, f) =>
      val rs = expected.getOrElse(u.toInt, Array.empty).filter(r => vec.contains(r.item))
      val x = Solve.ridge(rs.map(r => vec(r.item)), rs.map(_.rating.toDouble), als.regParam * rs.length)
      x.indices.exists(k => math.abs(x(k) - f(k)) > 1e-3 * (1 + math.abs(x(k))))
    }
    if (badFold > 0) fails += s"fold-in: $badFold users differ from the normal-equation solve"

    // transform: predictions on sampled rows equal the dot products
    val scored = model.transform(scoreDf.where(col("batch") === out.scoreBatch).limit(500))
      .select(col("user").cast("long"), col("item").cast("long"), col("prediction")).collect()
    val badPred = scored.count { r =>
      val p = r.getFloat(2)
      (users.get(r.getLong(0)), vec.get(r.getLong(1))) match {
        case (Some(uf), Some(vf)) =>
          val d = Gen.dot(uf, vf)
          !(math.abs(d - p) <= 1e-4 * (1 + math.abs(d)))
        case _ => !p.isNaN
      }
    }
    if (scored.length != 500 || badPred > 0)
      fails += s"transform: $badPred of ${scored.length} sampled predictions wrong"
    fails.toSeq
  }

  private def topK(u: Array[Float], k: Int): Array[Long] = {
    val scores = itemVecs.map(v => Gen.dot(u, v))
    itemIds.indices.sortBy(j => -scores(j)).take(k).map(itemIds).toArray
  }

  def quality: Double = if (recallTotal == 0) 0.0 else recallHits.toDouble / recallTotal

  def report: Seq[(String, Double)] = Seq(
    "recall_at_10" -> quality,
    "index_build_s" -> median(indexBuildSeconds.toSeq))

  def layerMetrics(opSeconds: Double): Map[String, Double] = {
    val tr = ctx.tracer
    tr.drain()
    def med(name: String, f: Span => Double) = median(tr.named(name).filter(_.op >= 0).map(f))
    def counts(name: String, f: Counts => Long) = med(name, s => f(tr.inclusive(s)).toDouble)
    Map(
      "model.index_build.share" -> median(indexBuildSeconds.toSeq) / median(setupSeconds.toSeq),
      "model.recommend_approx.share" -> med("model.recommend_approx", _.seconds) / opSeconds,
      "model.recommend_approx.jobs" -> counts("model.recommend_approx", _.jobs),
      "model.recommend_approx.stages" -> counts("model.recommend_approx", _.stages),
      "model.recommend_approx.tasks" -> counts("model.recommend_approx", _.tasks),
      "model.foldin.share" -> med("model.foldin", _.seconds) / opSeconds,
      "model.foldin.jobs" -> counts("model.foldin", _.jobs),
      "model.foldin.shuffle_mb" -> mb(counts("model.foldin", _.shuffleWrite)),
      "model.transform.share" -> med("model.transform", _.seconds) / opSeconds,
      "model.transform.shuffle_mb" -> mb(counts("model.transform", _.shuffleWrite)),
      "model.transform.rows_per_s" -> ScoreRows / med("model.transform", _.seconds))
  }
}

/** Dense solves, run locally, that check the library's results. */
object Solve {
  /** Solves (AᵀA + λI) x = Aᵀb by Cholesky, in double precision. */
  def ridge(a: Array[Array[Float]], b: Array[Double], lambda: Double): Array[Double] = {
    val k = if (a.isEmpty) 0 else a(0).length
    val m = Array.ofDim[Double](k, k)
    val rhs = new Array[Double](k)
    for (r <- a.indices; i <- 0 until k) {
      rhs(i) += b(r) * a(r)(i)
      for (j <- 0 until k) m(i)(j) += a(r)(i).toDouble * a(r)(j)
    }
    for (i <- 0 until k) m(i)(i) += lambda
    // m = L Lᵀ
    val l = Array.ofDim[Double](k, k)
    for (i <- 0 until k; j <- 0 to i) {
      var s = m(i)(j)
      for (p <- 0 until j) s -= l(i)(p) * l(j)(p)
      l(i)(j) = if (i == j) math.sqrt(s) else s / l(j)(j)
    }
    val y = new Array[Double](k)
    for (i <- 0 until k) {
      var s = rhs(i)
      for (p <- 0 until i) s -= l(i)(p) * y(p)
      y(i) = s / l(i)(i)
    }
    val x = new Array[Double](k)
    for (i <- (0 until k).reverse) {
      var s = y(i)
      for (p <- i + 1 until k) s -= l(p)(i) * x(p)
      x(i) = s / l(i)(i)
    }
    x
  }
}
