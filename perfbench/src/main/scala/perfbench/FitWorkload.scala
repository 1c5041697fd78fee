package perfbench

import scala.collection.mutable

import graft.als.{BlockedALS, CholeskySolver, GraftALS, GraftALSModel, LocalIndexEncoder, NormalEquation}
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `als_fit_implicit_r64`: `GraftALS.fit` with implicit preferences at rank
  * 64 on planted interactions, timed through factor materialization. The
  * per-rating Gramian (O(rank²)), the per-entity Cholesky solve (O(rank³))
  * and the `computeYtY` aggregate carry the fit; blockify and the in-block
  * build are a small share. The fits run with a checkpoint dir and
  * `checkpointInterval = 2`, so the checkpoint plus shuffle-reap path runs
  * as it does in scratch-bound deployments.
  *
  * The traced run also replays one fit phase by phase through
  * `BlockedALS`'s public functions to attribute time and Spark work to
  * blockify, in-block build, half-steps, YᵀY and checkpoint.
  */
final class FitWorkload(ctx: Ctx) extends Workload {
  import Workload.{mb, median}

  private val planted = Gen.Planted(nUsers = 6000, nItems = 2000, rank = 16,
    meanPerUser = 25, noise = 0.0, zipf = 0.8, implicitPrefs = true)

  private val als = GraftALS(rank = 64, maxIter = 3, regParam = 0.15, implicitPrefs = true,
    alpha = 2.0, seed = ctx.seed, checkpointInterval = 2)

  /** Highest mean percentile rank of held-out interactions (random is 0.5). */
  private val MprBound = 0.35
  /** Users sampled for the MPR check. */
  private val MprUsers = 400

  private val dir = s"${ctx.workDir}/ratings"
  private def train: DataFrame = ctx.spark.read.parquet(s"$dir/train")
  private var heldout: Array[Gen.Rating] = Array.empty
  private var trainUsers = 0L
  private var trainItems = 0L
  private var trainRows = 0L
  private val models = mutable.Map.empty[Int, GraftALSModel]
  private val qualities = mutable.ArrayBuffer.empty[Double]

  ctx.sc.setCheckpointDir(s"${ctx.workDir}/checkpoints")

  def setup(rep: Int): Long = {
    val (rows, held, sum) = Gen.writeRatings(ctx.spark, ctx.seed, planted, dir)
    heldout = held
    trainRows = rows
    val c = train.agg(countDistinct("user"), countDistinct("item")).head()
    trainUsers = c.getLong(0)
    trainItems = c.getLong(1)
    sum
  }

  /** A one-iteration fit runs every code path of the timed fits; the
    * solver loops run single-threaded first so they reach the optimizing
    * compiler before the fit spreads them over every core.
    */
  def warmUp(): Unit = {
    solverRates(als.rank, rounds = 1)
    als.copy(maxIter = 1, checkpointInterval = 1).fit(train).unpersist()
    clearCheckpoints()
  }

  def op(i: Int): Unit = models(i) = als.fit(train)

  def release(i: Int): Unit = {
    models.remove(i).foreach(_.unpersist())
    clearCheckpoints()
  }

  private def clearCheckpoints(): Unit = ctx.sc.getCheckpointDir.foreach { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(ctx.sc.hadoopConfiguration)
    fs.listStatus(p).foreach(s => fs.delete(s.getPath, true))
  }

  private def factors(df: DataFrame): Array[(Long, Array[Float])] =
    df.select(col("id").cast("long"), col("features")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  def check(i: Int): Seq[String] = {
    val model = models(i)
    val users = factors(model.userFactors)
    val items = factors(model.itemFactors)
    val fails = mutable.ArrayBuffer.empty[String]
    def rows(side: String, fs: Array[(Long, Array[Float])], expected: Long): Unit = {
      if (fs.length != expected) fails += s"$side factors: ${fs.length} rows, expected $expected"
      if (fs.map(_._1).distinct.length != fs.length) fails += s"$side factors: duplicate ids"
      if (fs.exists(f => f._2.length != als.rank || f._2.exists(x => x.isNaN || x.isInfinite)))
        fails += s"$side factors: NaN, Inf or wrong width"
    }
    rows("user", users, trainUsers)
    rows("item", items, trainItems)
    if (fails.isEmpty) {
      val u = users.toMap
      val v = items.toMap
      val itemIds = items.map(_._1)
      val itemVecs = items.map(_._2)
      val sample = heldout.filter(r => u.contains(r.user) && v.contains(r.item))
        .sortBy(r => Gen.mix(ctx.seed, r.user.toLong)).take(MprUsers)
      val ranks = sample.map { r =>
        val uf = u(r.user)
        val target = Gen.dot(uf, v(r.item))
        var above = 0
        var j = 0
        while (j < itemVecs.length) {
          if (itemIds(j) != r.item && Gen.dot(uf, itemVecs(j)) > target) above += 1
          j += 1
        }
        above.toDouble / (itemVecs.length - 1)
      }
      val mpr = ranks.sum / ranks.length
      qualities += 1.0 - mpr
      if (sample.length < MprUsers) fails += s"MPR sample: ${sample.length} users with factors"
      if (!(mpr <= MprBound)) fails += f"held-out MPR $mpr%.4f above $MprBound"
    }
    fails.toSeq
  }

  def quality: Double = median(qualities.toSeq)

  def report: Seq[(String, Double)] = Seq(
    "train_ratings" -> trainRows.toDouble,
    "train_users" -> trainUsers.toDouble,
    "train_items" -> trainItems.toDouble,
    "heldout_mpr" -> (1.0 - quality))

  // ---------------------------------------------------------------------
  // Traced run: one fit replayed phase by phase

  def layerMetrics(opSeconds: Double): Map[String, Double] = {
    val tr = ctx.tracer
    val rank = als.rank
    tr.op("als.replay", -2) { replay() }
    tr.drain()
    def secs(name: String) = tr.named(name).map(_.seconds)
    def counts(name: String) = tr.named(name).map(tr.inclusive)
    val halfSteps = tr.named("als.half_step")
    val phases = Seq("als.ratings", "als.auto_blocks", "als.blockify", "als.make_blocks.user",
      "als.make_blocks.item", "als.yty", "als.half_step", "als.checkpoint", "als.output")
      .map(n => secs(n).sum).sum
    val blockify = counts("als.blockify")
    val makeBlocks = counts("als.make_blocks.user") ++ counts("als.make_blocks.item")
    val (neAdds, cholesky) = solverRates(rank, rounds = 5)
    Map(
      "als.blockify.share" -> secs("als.blockify").sum / opSeconds,
      "als.blockify.shuffle_mb" -> mb(blockify.map(_.shuffleWrite).sum.toDouble),
      "als.blockify.tasks" -> blockify.map(_.tasks).sum.toDouble,
      "als.make_blocks.user.share" -> secs("als.make_blocks.user").sum / opSeconds,
      "als.make_blocks.item.share" -> secs("als.make_blocks.item").sum / opSeconds,
      "als.make_blocks.shuffle_mb" -> mb(makeBlocks.map(_.shuffleWrite).sum.toDouble),
      "als.make_blocks.spill_mb" -> mb(makeBlocks.map(_.spill).sum.toDouble),
      "als.in_blocks_mb" -> mb(inBlockBytes.toDouble),
      "als.half_step.share" -> median(halfSteps.map(_.seconds)) / opSeconds,
      "als.half_step.shuffle_mb" -> median(halfSteps.map(s => mb(tr.inclusive(s).shuffleWrite.toDouble))),
      "als.half_step.jobs" -> median(halfSteps.map(s => tr.inclusive(s).jobs.toDouble)),
      "als.half_step.gc.share" -> median(halfSteps.map(s => s.gcMs / 1e3 / s.seconds)),
      "als.yty.share" -> median(secs("als.yty")) / opSeconds,
      "als.checkpoint.share" -> secs("als.checkpoint").sum / opSeconds,
      "als.fit.unattributed.share" -> (opSeconds - phases) / opSeconds,
      "als.solver.ne_add_per_s" -> neAdds,
      "als.solver.cholesky_per_s" -> cholesky)
  }

  private var inBlockBytes = 0L

  /** Replays `BlockedALS.train`'s phase sequence on the workload's input.
    * Each half-step is persisted and materialized on its own so its time
    * and Spark work can be attributed; the fit itself chains explicit
    * half-steps lazily between checkpoints.
    */
  private def replay(): Unit = {
    val tr = ctx.tracer
    val sc = ctx.sc
    val level = StorageLevel.MEMORY_AND_DISK
    val ratings = tr.span("als.ratings") {
      val r = train.select(col("user").cast("long"), col("item").cast("long"), col("rating").cast("float"))
        .na.drop().rdd.map(row => graft.als.Rating(row.getLong(0), row.getLong(1), row.getFloat(2)))
      r.isEmpty()
      r
    }
    val n = tr.span("als.auto_blocks") {
      BlockedALS.autoBlockCount(ratings.count(), als.rank, sc.defaultParallelism)
    }
    val userPart = new HashPartitioner(n)
    val itemPart = new HashPartitioner(n)
    val tiles = tr.span("als.blockify") {
      val t = BlockedALS.partitionRatings(ratings, userPart, itemPart).persist(level)
      t.count()
      t
    }
    val (userIn, userOut, userCounts) = tr.span("als.make_blocks.user") {
      val side = BlockedALS.makeBlocks(tiles, userPart, itemPart, level)
      side._2.count()
      side
    }
    val swapped = tiles.map { case ((a, b), blk) =>
      ((b, a), graft.als.RatingBlock(blk.dstIds, blk.srcIds, blk.ratings))
    }
    val (itemIn, itemOut, itemCounts) = tr.span("als.make_blocks.item") {
      val side = BlockedALS.makeBlocks(swapped, itemPart, userPart, level)
      side._2.count()
      side
    }
    inBlockBytes = sc.getRDDStorageInfo.filter(i => i.id == userIn.id || i.id == itemIn.id)
      .map(i => i.memSize + i.diskSize).sum
    tiles.unpersist()

    val userEnc = new LocalIndexEncoder(n)
    val itemEnc = new LocalIndexEncoder(n)
    val solver = new CholeskySolver
    var userF = BlockedALS.initialize(userIn, als.rank, als.seed).persist(level)
    var itemF = BlockedALS.initialize(itemIn, als.rank, als.seed * 2 + 1).persist(level)
    val live = mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]](userF, itemF)
    def halfStep(src: BlockedALS.FactorBlocks, srcOut: BlockedALS.OutBlocks,
        dstIn: org.apache.spark.rdd.RDD[(Int, graft.als.InBlock)],
        enc: LocalIndexEncoder): BlockedALS.FactorBlocks = {
      tr.span("als.yty") { BlockedALS.computeYtY(src, als.rank) }
      tr.span("als.half_step") {
        val out = BlockedALS.computeFactors(src, srcOut, dstIn, als.rank, als.regParam, enc,
          implicitPrefs = true, als.alpha, solver).persist(level)
        out.count()
        live += out
        out
      }
    }
    for (iter <- 0 until als.maxIter) {
      itemF = halfStep(userF, userOut, itemIn, userEnc)
      if ((iter + 1) % als.checkpointInterval == 0)
        tr.span("als.checkpoint") {
          itemF.checkpoint()
          itemF.count()
        }
      userF = halfStep(itemF, itemOut, userIn, itemEnc)
    }
    tr.span("als.output") {
      val u = userIn.mapValues(_.srcIds).join(userF)
        .flatMap { case (_, (ids, fs)) => ids.iterator.zip(fs.iterator) }.persist(level)
      val v = itemIn.mapValues(_.srcIds).join(itemF)
        .flatMap { case (_, (ids, fs)) => ids.iterator.zip(fs.iterator) }.persist(level)
      u.count()
      v.count()
      live ++= Seq(u, v)
    }
    (live ++ Seq(userIn, userOut, itemIn, itemOut)).foreach(_.unpersist())
    userCounts.unpersist()
    itemCounts.unpersist()
    clearCheckpoints()
  }

  /** Single-thread `NormalEquation.add` and `CholeskySolver.solve` rates at
    * the workload's rank (operations per second, median over `rounds`).
    */
  private def solverRates(rank: Int, rounds: Int): (Double, Double) = {
    val rng = new java.util.SplittableRandom(ctx.seed)
    val vecs = Array.fill(256)(Gen.gaussianVector(rng, rank, 1.0))
    val ne = new NormalEquation(rank)
    val adds = 200000
    val addRate = median((0 until rounds).map { _ =>
      ne.reset()
      val t0 = System.nanoTime()
      var i = 0
      while (i < adds) { ne.add(vecs(i & 255), 1.0); i += 1 }
      adds / ((System.nanoTime() - t0) / 1e9)
    })
    val solver = new CholeskySolver
    val filled = new NormalEquation(rank)
    (0 until 2 * rank).foreach(j => filled.add(vecs(j & 255), 1.0))
    val solves = math.max(200, 2000000 / (rank * rank))
    val solveRate = median((0 until rounds).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < solves) {
        System.arraycopy(filled.ata, 0, ne.ata, 0, filled.triK)
        System.arraycopy(filled.atb, 0, ne.atb, 0, rank)
        solver.solve(ne, 0.1)
        i += 1
      }
      solves / ((System.nanoTime() - t0) / 1e9)
    })
    (addRate, solveRate)
  }
}
