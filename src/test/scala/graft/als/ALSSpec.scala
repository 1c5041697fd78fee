package graft.als

import graft.SparkFixture
import org.apache.spark.HashPartitioner
import org.scalatest.funsuite.AnyFunSuite

class ALSSpec extends AnyFunSuite with SparkFixture {

  /** Synthetic low-rank ratings: U(20×rank) · Vᵀ(rank×15) sampled at 80%
    * density (FIXTURES.md synthetic set).
    */
  private def lowRankRatings(rank: Int, seed: Int): Seq[Rating] = {
    val rng = new scala.util.Random(seed)
    val u = Array.fill(20, rank)(rng.nextDouble())
    val v = Array.fill(15, rank)(rng.nextDouble())
    for {
      i <- 0 until 20
      j <- 0 until 15
      if rng.nextDouble() < 0.8
    } yield Rating(i.toLong, j.toLong, (0 until rank).map(r => u(i)(r) * v(j)(r)).sum.toFloat)
  }

  private def trainRmse(ratings: Seq[Rating], cfg: BlockedALS.Config): Double = {
    val rdd = spark.sparkContext.parallelize(ratings, 3)
    val (uf, itf) = BlockedALS.train(rdd, cfg)
    val uMap = uf.collect().toMap
    val iMap = itf.collect().toMap
    val se = ratings.map { r =>
      val pred = uMap(r.user).zip(iMap(r.item)).map { case (a, b) => a.toDouble * b }.sum
      math.pow(pred - r.rating, 2)
    }
    math.sqrt(se.sum / se.length)
  }

  test("explicit ALS recovers a synthetic low-rank matrix to near-zero RMSE") {
    val ratings = lowRankRatings(rank = 3, seed = 13)
    val rmse = trainRmse(ratings, BlockedALS.Config(
      rank = 3, numUserBlocks = 2, numItemBlocks = 2,
      maxIter = 15, regParam = 1e-3, seed = 5))
    assert(rmse < 0.05, s"rmse=$rmse")
  }

  test("fixed seed gives identical factors; block count does not change the result") {
    val ratings = lowRankRatings(rank = 2, seed = 29)
    val rdd = spark.sparkContext.parallelize(ratings, 4)
    def run(numBlocks: Int): (Map[Long, Seq[Float]], Map[Long, Seq[Float]]) = {
      val (uf, itf) = BlockedALS.train(rdd, BlockedALS.Config(
        rank = 2, numUserBlocks = numBlocks, numItemBlocks = numBlocks,
        maxIter = 15, regParam = 0.01, seed = 17))
      (uf.collect().toMap.map { case (k, v) => k -> v.toSeq },
        itf.collect().toMap.map { case (k, v) => k -> v.toSeq })
    }
    val (u1, i1) = run(2)
    val (u1b, i1b) = run(2)
    assert(u1 == u1b && i1 == i1b, "same config must be bit-identical")
    // Block invariance: init draws factors per block from seed+blockId, so
    // raw factors differ across block counts AND are only identifiable up to
    // an invertible transform — the PREDICTIONS U·Vᵀ must agree.
    val (u5, i5) = run(5)
    assert(u1.keySet == u5.keySet)
    def pred(u: Map[Long, Seq[Float]], v: Map[Long, Seq[Float]])(r: Rating): Double =
      u(r.user).zip(v(r.item)).map { case (a, b) => a.toDouble * b }.sum
    val maxPredDiff = ratings.map { r =>
      math.abs(pred(u1, i1)(r) - pred(u5, i5)(r))
    }.max
    assert(maxPredDiff < 0.05, s"maxPredDiff=$maxPredDiff (block-count sensitivity too high)")
  }

  test("custom partitioner injection: placement is policy, predictions are not") {
    // reference util/partitioner.py exposes a Partitioner ABC callers can
    // substitute; the Config.partitioner hook is our equivalent. A reversed
    // mapping reshuffles every id into a different block — raw factors then
    // differ (init is per-block) but the model must not.
    class ReversedPartitioner(n: Int) extends org.apache.spark.Partitioner {
      def numPartitions: Int = n
      def getPartition(key: Any): Int = {
        val m = key.hashCode % n
        n - 1 - (if (m < 0) m + n else m)
      }
    }
    val ratings = lowRankRatings(rank = 2, seed = 29)
    val rdd = spark.sparkContext.parallelize(ratings, 4)
    def run(p: Int => org.apache.spark.Partitioner): (Map[Long, Seq[Float]], Map[Long, Seq[Float]]) = {
      val (uf, itf) = BlockedALS.train(rdd, BlockedALS.Config(
        rank = 2, numUserBlocks = 3, numItemBlocks = 3,
        maxIter = 15, regParam = 0.01, seed = 17, partitioner = p))
      (uf.collect().toMap.map { case (k, v) => k -> v.toSeq },
        itf.collect().toMap.map { case (k, v) => k -> v.toSeq })
    }
    val (uh, ih) = run(n => new org.apache.spark.HashPartitioner(n))
    val (ur, ir) = run(n => new ReversedPartitioner(n))
    val (ur2, ir2) = run(n => new ReversedPartitioner(n))
    assert(ur == ur2 && ir == ir2, "custom partitioner must stay deterministic")
    assert(uh.keySet == ur.keySet && ih.keySet == ir.keySet)
    def pred(u: Map[Long, Seq[Float]], v: Map[Long, Seq[Float]])(r: Rating): Double =
      u(r.user).zip(v(r.item)).map { case (a, b) => a.toDouble * b }.sum
    val maxPredDiff = ratings.map { r =>
      math.abs(pred(uh, ih)(r) - pred(ur, ir)(r))
    }.max
    assert(maxPredDiff < 0.05, s"maxPredDiff=$maxPredDiff (partitioner changed the model)")
  }

  test("implicit path converges and ranks positive interactions above unobserved") {
    val rng = new scala.util.Random(3)
    // two user groups × two item groups with strong co-preference
    val ratings = for {
      u <- 0 until 20
      i <- 0 until 20
      if (u % 2 == i % 2) && rng.nextDouble() < 0.7
    } yield Rating(u.toLong, i.toLong, 1.0f + rng.nextInt(3))
    val rdd = spark.sparkContext.parallelize(ratings, 2)
    val (uf, itf) = BlockedALS.train(rdd, BlockedALS.Config(
      rank = 4, numUserBlocks = 2, numItemBlocks = 2,
      maxIter = 10, regParam = 0.01, implicitPrefs = true, alpha = 10.0, seed = 1))
    val uMap = uf.collect().toMap
    val iMap = itf.collect().toMap
    def score(u: Long, i: Long): Double =
      uMap(u).zip(iMap(i)).map { case (a, b) => a.toDouble * b }.sum
    // mean preference score for matching parity should exceed non-matching
    val matching = for (u <- 0L until 20L; i <- 0L until 20L if u % 2 == i % 2) yield score(u, i)
    val nonMatching = for (u <- 0L until 20L; i <- 0L until 20L if u % 2 != i % 2) yield score(u, i)
    assert(matching.sum / matching.size > nonMatching.sum / nonMatching.size + 0.3)
  }

  test("nonnegative flag yields nonnegative factors that still fit") {
    val ratings = lowRankRatings(rank = 2, seed = 41) // U,V entries are positive
    val rdd = spark.sparkContext.parallelize(ratings, 2)
    val (uf, itf) = BlockedALS.train(rdd, BlockedALS.Config(
      rank = 2, numUserBlocks = 2, numItemBlocks = 2,
      maxIter = 10, regParam = 1e-3, nonnegative = true, seed = 23))
    val uAll = uf.collect()
    val iAll = itf.collect()
    assert(uAll.forall(_._2.forall(_ >= 0f)), "user factors must be >= 0")
    assert(iAll.forall(_._2.forall(_ >= 0f)), "item factors must be >= 0")
    val uMap = uAll.toMap
    val iMap = iAll.toMap
    val se = ratings.map { r =>
      val pred = uMap(r.user).zip(iMap(r.item)).map { case (a, b) => a.toDouble * b }.sum
      math.pow(pred - r.rating, 2)
    }
    assert(math.sqrt(se.sum / se.length) < 0.1)
  }

  test("implicit + nonnegative combined path keeps factors nonnegative and useful") {
    val rng = new scala.util.Random(9)
    val ratings = for {
      u <- 0 until 16
      i <- 0 until 16
      if (u % 2 == i % 2) && rng.nextDouble() < 0.7
    } yield Rating(u.toLong, i.toLong, 1.0f + rng.nextInt(3))
    val rdd = spark.sparkContext.parallelize(ratings, 2)
    val (uf, itf) = BlockedALS.train(rdd, BlockedALS.Config(
      rank = 4, numUserBlocks = 2, numItemBlocks = 2,
      maxIter = 8, regParam = 0.01, implicitPrefs = true, alpha = 10.0,
      nonnegative = true, seed = 19))
    val uMap = uf.collect().toMap
    val iMap = itf.collect().toMap
    assert(uMap.values.forall(_.forall(_ >= 0f)))
    assert(iMap.values.forall(_.forall(_ >= 0f)))
    def score(u: Long, i: Long): Double =
      uMap(u).zip(iMap(i)).map { case (a, b) => a.toDouble * b }.sum
    val matching = for (u <- 0L until 16L; i <- 0L until 16L if u % 2 == i % 2) yield score(u, i)
    val nonMatching = for (u <- 0L until 16L; i <- 0L until 16L if u % 2 != i % 2) yield score(u, i)
    assert(matching.sum / matching.size > nonMatching.sum / nonMatching.size + 0.2)
  }

  test("partitionRatings preserves every rating exactly once across tiles") {
    val ratings = lowRankRatings(rank = 2, seed = 57)
    val rdd = spark.sparkContext.parallelize(ratings, 3)
    val blocks = BlockedALS.partitionRatings(rdd, new HashPartitioner(3), new HashPartitioner(2)).collect()
    val flat = blocks.flatMap { case ((sb, db), blk) =>
      blk.srcIds.indices.map { i =>
        // every rating must sit in the tile its keys hash to
        assert(new HashPartitioner(3).getPartition(blk.srcIds(i)) == sb)
        assert(new HashPartitioner(2).getPartition(blk.dstIds(i)) == db)
        (blk.srcIds(i), blk.dstIds(i), blk.ratings(i))
      }
    }
    assert(flat.sorted.toSeq == ratings.map(r => (r.user, r.item, r.rating)).sorted)
  }

  test("spill threshold produces identical results for large single tiles") {
    // >2048 ratings in ONE tile to cross the builder spill path
    val ratings = for (i <- 0 until 3000) yield Rating(0L, 0L, i.toFloat)
    val rdd = spark.sparkContext.parallelize(ratings, 2)
    val blocks = BlockedALS.partitionRatings(rdd, new HashPartitioner(1), new HashPartitioner(1)).collect()
    assert(blocks.length == 1)
    assert(blocks.head._2.size == 3000)
    assert(blocks.head._2.ratings.map(_.toDouble).sum == ratings.map(_.rating.toDouble).sum)
  }

  test("GraftALS fit/transform/mse end-to-end on a DataFrame") {
    val ratings = lowRankRatings(rank = 3, seed = 71)
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      ratings.map(r => org.apache.spark.sql.Row(r.user, r.item, r.rating.toDouble)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("r", org.apache.spark.sql.types.DoubleType))))
    val model = GraftALS(
      rank = 3, maxIter = 12, regParam = 1e-3,
      numUserBlocks = 2, numItemBlocks = 2,
      userCol = "u", itemCol = "i", ratingCol = "r", seed = 3).fit(df)
    assert(model.userFactors.count() == ratings.map(_.user).distinct.size)
    assert(model.itemFactors.count() == ratings.map(_.item).distinct.size)
    val scored = model.transform(df)
    assert(scored.columns.contains("prediction"))
    assert(scored.count() == ratings.size)
    val mse = model.mse(df, "r")
    assert(mse < 0.01, s"mse=$mse")
    // cold start: unseen user gets NaN under "nan", dropped under "drop"
    val cold = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(999L, 0L, 1.0)).asJava, df.schema)
    assert(model.transform(cold).collect().head.getAs[Float]("prediction").isNaN)
    assert(model.copy(coldStartStrategy = "drop").transform(cold).count() == 0)
  }

  test("blocked recommendForAllUsers matches the crossJoin+window oracle") {
    val ratings = lowRankRatings(rank = 3, seed = 99)
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      ratings.map(r => org.apache.spark.sql.Row(r.user, r.item, r.rating.toDouble)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("item", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rating", org.apache.spark.sql.types.DoubleType))))
    val model = GraftALS(rank = 3, maxIter = 5, numUserBlocks = 2, numItemBlocks = 2, seed = 31).fit(df)
    // tiny blocks force the multi-block merge path
    val got = model.recommendForAllUsers(4, blockSize = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1))
      .toMap
    // oracle: plain crossJoin + window ranking over the same factors
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val uf = model.userFactors.select(col("id").as("u"), col("features").as("ufeat"))
    val itf = model.itemFactors.select(col("id").as("i"), col("features").as("ifeat"))
    val w = Window.partitionBy("u").orderBy(desc("score"), asc("i"))
    val oracle = uf.crossJoin(itf)
      .withColumn("score", graft.functions.VectorFunctions.dot(col("ufeat"), col("ifeat")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 4)
      .collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Int]("rk")) -> r.getAs[Long]("i"))
      .toMap
    assert(got == oracle)
  }

  test("checkpointing cuts lineage on long explicit runs (M9/checkpointInterval)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val ratings = lowRankRatings(rank = 2, seed = 63)
      val rdd = spark.sparkContext.parallelize(ratings, 2)
      // 24 iterations with checkpoint every 5: without lineage cuts this DAG
      // grows ~96 stages deep; with them the final factors' lineage stays
      // bounded and checkpoint files exist on disk
      val (uf, _) = BlockedALS.train(rdd, BlockedALS.Config(
        rank = 2, numUserBlocks = 2, numItemBlocks = 2,
        maxIter = 24, regParam = 0.01, checkpointInterval = 5, seed = 3))
      assert(uf.count() > 0)
      val ckptFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(ckptFiles > 0, "checkpoint dir must contain materialized rdd files")
    } finally {
      spark.sparkContext.setCheckpointDir(null.asInstanceOf[String])
    }
  }

  test("checkpointing is results-neutral: factors bit-identical with and without cuts") {
    // checkpointInterval=1 is the scratch-bound-deployment setting SCALING
    // §12.11 recommends; it must change WHERE intermediates live, never
    // what the fixpoint computes
    val ratings = lowRankRatings(rank = 2, seed = 77)
    val rdd = spark.sparkContext.parallelize(ratings, 2)
    val cfg = BlockedALS.Config(
      rank = 2, numUserBlocks = 2, numItemBlocks = 2,
      maxIter = 6, regParam = 0.05, seed = 11)
    def factors(c: BlockedALS.Config): (Map[Long, Seq[Float]], Map[Long, Seq[Float]]) = {
      val (uf, itf) = BlockedALS.train(rdd, c)
      (uf.collect().map { case (id, f) => id -> f.toSeq }.toMap,
        itf.collect().map { case (id, f) => id -> f.toSeq }.toMap)
    }
    val plain = factors(cfg)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-neutral").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val cut = factors(cfg.copy(checkpointInterval = 1))
      assert(cut == plain, "lineage cuts must not perturb the trained factors")
    } finally {
      spark.sparkContext.setCheckpointDir(null.asInstanceOf[String])
      graft.streaming.EventsStream.deleteRecursively(new java.io.File(dir))
    }
  }

  test("empty ratings input fails fast with a clear message") {
    import scala.jdk.CollectionConverters._
    val empty = spark.createDataFrame(
      Seq.empty[org.apache.spark.sql.Row].asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("item", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rating", org.apache.spark.sql.types.DoubleType))))
    val e = intercept[IllegalArgumentException](GraftALS(rank = 2, maxIter = 1).fit(empty))
    assert(e.getMessage.contains("empty"))
  }

  test("non-finite ratings fail loudly, naming the rating column and the value") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("item", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType)))
    for ((bad, implicitPrefs, blocks) <- Seq(
        (Double.PositiveInfinity, false, 2),
        (Double.NegativeInfinity, true, 2),
        (1e300, false, BlockedALS.AutoBlocks), // overflows the float cast
        (Double.PositiveInfinity, true, BlockedALS.AutoBlocks))) {
      val rows = lowRankRatings(rank = 2, seed = 41)
        .map(r => org.apache.spark.sql.Row(r.user, r.item, r.rating.toDouble)) :+
        org.apache.spark.sql.Row(3L, 4L, bad)
      val df = spark.createDataFrame(rows.asJava, schema)
      val e = intercept[Exception](GraftALS(rank = 2, maxIter = 1, ratingCol = "score",
        implicitPrefs = implicitPrefs, numUserBlocks = blocks, numItemBlocks = blocks).fit(df))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(messages.contains("rating column 'score' holds a non-finite value"), messages)
      assert(messages.contains("Infinity"), messages)
      assert(!messages.contains("Cholesky"), messages)
    }
  }

  test("item-side recommendations and neighbors serve off the same model") {
    val ratings = lowRankRatings(rank = 3, seed = 121)
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      ratings.map(r => org.apache.spark.sql.Row(r.user, r.item, r.rating.toDouble)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("item", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rating", org.apache.spark.sql.types.DoubleType))))
    val model = GraftALS(rank = 3, maxIter = 5, numUserBlocks = 2, numItemBlocks = 2, seed = 13).fit(df)
    // transpose identity: (item, user) in item-recs(k=ALL users) mirrors user-recs scoring
    val itemRecs = model.recommendForAllItems(2, blockSize = 4)
    assert(itemRecs.columns.toSeq == Seq("item_id", "user_id", "rank", "score"))
    assert(itemRecs.groupBy("item_id").count().collect().forall(_.getLong(1) <= 2))
    assert(itemRecs.select("item_id").distinct().count() == model.itemFactors.count())
    // neighbors: deterministic, self excluded, k rows per item
    val nbrs = model.itemNeighbors(2)
    assert(nbrs.where("item_id = neighbor_item_id").count() == 0)
    assert(nbrs.groupBy("item_id").count().collect().forall(_.getLong(1) <= 2))
    // rmse = sqrt(mse)
    assert(math.abs(model.rmse(df, "rating") - math.sqrt(model.mse(df, "rating"))) < 1e-12)
  }

  test("model save/load round-trip") {
    val ratings = lowRankRatings(rank = 2, seed = 87)
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      ratings.map(r => org.apache.spark.sql.Row(r.user, r.item, r.rating.toDouble)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("item", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rating", org.apache.spark.sql.types.DoubleType))))
    val model = GraftALS(rank = 2, maxIter = 3, numUserBlocks = 2, numItemBlocks = 2, seed = 9).fit(df)
    val dir = java.nio.file.Files.createTempDirectory("graft-als-model").toString
    model.save(dir)
    val loaded = GraftALSModel.load(spark, dir)
    assert(loaded.rank == 2)
    assert(loaded.userFactors.count() == model.userFactors.count())
    val a = model.mse(df)
    val b = loaded.mse(df)
    assert(math.abs(a - b) < 1e-12)
  }
}
