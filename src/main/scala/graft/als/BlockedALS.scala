package graft.als

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuilder

/** Blocked ALS training kernel (matrix factorization by alternating least
  * squares, explicit ALS-WR / implicit Hu-Koren-Volinsky).
  *
  * Re-expresses the dataflow of the reference (`/root/reference/ALS.py:24-578`)
  * Spark-first. The kernel is deliberately RDD-based with primitive-array
  * columnar blocks — ALS is an iterative fixpoint below the relational layer,
  * the exact case where Catalyst buys nothing; everything user-facing
  * (fit/transform inputs and outputs) is DataFrame-in/DataFrame-out in
  * [[GraftALS]].
  *
  * Scale design (the parts that matter at 100 TB):
  *   - ratings are tiled into (srcBlock × dstBlock) columnar blocks so all
  *     per-rating communication becomes per-block (`ALS.py:193-266`);
  *   - blockify never materializes the block GRID, only visited tiles:
  *     sparse Long-keyed tile builders per mapper, a live-tile flush cap,
  *     and a reduce-partition count decoupled from grid cells, so the
  *     ~10⁵-10⁶ blocks/side a 100 TB deployment prices out (SCALING §13.7
  *     wall 5) costs O(visited), where the dense per-cell builder array the
  *     reference implies (and MLlib uses) is O(numSrc·numDst) per task and
  *     its Int cell index overflows past 46,341 blocks/side;
  *   - in-blocks are CSR-compressed with (blockId, localIndex) bit-packed
  *     into one Int (`InBlock.py:59-103`, `util/encoder.py`);
  *   - out-block routing tables ship each factor vector at most once per
  *     destination block, not once per rating (`ALS.py:331-361,436-464`);
  *   - all per-iteration joins are over RDDs sharing one HashPartitioner, so
  *     only the factor messages themselves cross the wire each half-step;
  *   - factors are persisted per generation and checkpointed every
  *     `checkpointInterval` iterations (the reference accepts the param but
  *     never checkpoints — `ALS.py:36` — so its lineage grows unboundedly).
  */
object BlockedALS {

  /** Training configuration; defaults mirror the reference's `train()`
    * signature (`ALS.py:24-37`) except that `seed` is honored (the reference
    * clobbers it with wall-clock time at `ALS.py:93`).
    */
  case class Config(
      rank: Int = 10,
      /** Block-grid size per side. [[AutoBlocks]] (-1) sizes it from data
        * volume via [[autoBlockCount]] — the GB-per-core contract for
        * scale tiers where a fixed grid either OOMs the iteration cogroup
        * (too few, SCALING §12.7 wall 2) or saturates the factor shuffle
        * (too many). Explicit positive counts are used verbatim.
        */
      numUserBlocks: Int = 10,
      numItemBlocks: Int = 10,
      maxIter: Int = 10,
      regParam: Double = 0.01,
      implicitPrefs: Boolean = false,
      alpha: Double = 1.0,
      nonnegative: Boolean = false,
      intermediateStorageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      finalStorageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      /** Iterations between factor checkpoints (lineage cuts). This is a
        * SCRATCH-DISK bound, not just a recompute-depth bound: each
        * half-step's factor-routing shuffle is O(Σ distinct (entity,
        * dst-block) pairs × rank) on disk — ~13 GB at 600M ratings, rank
        * 8 — and WITHOUT a cut every prior half-step's shuffle files stay
        * reachable (hence undeletable) through the factor lineage chain,
        * ~2·maxIter·shuffleBytes of fleet scratch by the last iteration.
        * A checkpoint retires all older half-steps for the price of
        * writing the factors themselves (~the small side, rank·entities
        * floats). Default 10 matches MLlib; scratch-bound deployments
        * want 1–2, and a checkpoint DIR must be set for any cut to
        * happen at all (SCALING §12.11, wall 4).
        */
      checkpointInterval: Int = 10,
      seed: Long = 0L,
      /** id→block partitioner factory (reference `util/partitioner.py:4-11`
        * exposes a Partitioner ABC callers can substitute). Given the block
        * count, returns the Partitioner mapping raw user/item ids to
        * blocks — the hook for locality-aware or skew-aware placement. The
        * block-id→task placement stays HashPartitioner (identity on
        * 0..n-1) regardless: only the id→block mapping is policy.
        */
      partitioner: Int => Partitioner = n => new HashPartitioner(n))

  /** Spill threshold for partial rating blocks during blockify — bounds
    * mapper memory and pre-shuffles partial tiles (`ALS.py:226-229`).
    */
  private val BlockifySpillThreshold = 2048

  /** Cap on LIVE per-mapper tile builders during blockify. The per-tile
    * 2048-entry spill bounds each builder, but at a huge block grid no tile
    * ever reaches 2048, so without this cap a mapper's live memory is one
    * ~450 B builder shell per VISITED tile — ~2 GB/task at a 4M-tile visit
    * set (SCALING §13.7 wall 5). When the visited-tile count hits the cap,
    * everything is flushed (in ascending tile-key order, keeping the
    * output stream deterministic) and the map restarts empty. 64k live
    * builders ≈ 30 MB of shells + ≤ their live entries — never reached at
    * the tested grids (≤ 152×152 = 23k tiles), so the flush changes
    * nothing below the scale it exists for.
    */
  private[als] val BlockifyMaxLiveTiles: Int = 1 << 16

  /** Floor for the tile-shuffle partition cap: reduce partitions =
    * min(gridCells, max(this, 4 × defaultParallelism)). The old code used
    * one reduce partition PER GRID CELL, which is exactly right below ~64k
    * cells (one task merges one tile) and nonsense above it (4M blocks/side
    * → 16×10¹² partitions; the Int product overflowed first). Above the
    * cap, tiles hash many-per-partition and the reduce task merges each
    * key's partials independently — same result, bounded task count.
    */
  private[als] val TileShufflePartitionFloor: Int = 1 << 16

  /** Largest src-block count for which the per-task src-factor lookup in
    * [[computeFactors]] stays a dense array (512 KB of refs per task at the
    * cap — O(1) per-rating access on the hot path). Above it the lookup is
    * a sparse LongMap over the VISITED src blocks, so per-task memory
    * matches the sparse OutBlock design at huge grids (~8 MB/task of dead
    * refs at the 10⁶-blocks/side 100 TB grid otherwise). Never reached at
    * the tested grids (≤152 blocks/side), so the sparse path changes
    * nothing below the scale it exists for.
    */
  private[als] val DenseSrcFactorLookupMax: Int = 1 << 16

  /** Sentinel for [[Config.numUserBlocks]]/[[Config.numItemBlocks]]: size
    * the block grid from data volume (one `count()` pass over the raw
    * ratings, paid only when auto is requested).
    */
  val AutoBlocks: Int = -1

  /** Failure message for an input with no ratings left to train on. */
  private[als] val EmptyRatingsMessage =
    "ratings input is empty after null-dropping — nothing to train on"

  /** Per-block byte budget for the auto sizing rule. The per-task
    * working set of the iteration cogroup is the binding constraint
    * (SCALING §12.7 wall 2): one CSR in-block (~16 B/rating) plus the
    * routed factor messages for that block (≤ one message per rating,
    * ~(20 + 4·rank) B each incl. array headers), so a block costs at most
    * ~(36 + 4·rank) B/rating of task heap. 256 MB/block keeps a 32-core
    * executor's concurrent working set ≤ ~8 GB at any rank — inside a
    * cluster-typical 0.75 GB/core — while leaving blocks large enough
    * that the factor-shuffle duplication factor (a user's factor is sent
    * once per dst block it touches) stays well below its saturation of
    * one send per rating.
    */
  private[als] val TargetBlockBytes: Long = 256L << 20

  /** The auto block-count rule: enough blocks that the worst-case
    * per-task working set stays under [[TargetBlockBytes]], but never
    * fewer than the scheduler's parallelism (so every core gets work).
    * Deterministic in (numRatings, rank, parallelism) — block count
    * feeds the per-block init seeds, so the rule must not depend on
    * placement or timing.
    */
  def autoBlockCount(
      numRatings: Long,
      rank: Int,
      parallelism: Int,
      targetBlockBytes: Long = TargetBlockBytes): Int = {
    require(numRatings > 0 && rank > 0 && parallelism > 0 && targetBlockBytes > 0)
    val bytesPerRating = 36L + 4L * rank
    val byVolume = (numRatings * bytesPerRating + targetBlockBytes - 1) / targetBlockBytes
    math.max(parallelism.toLong, byVolume).min(Int.MaxValue).toInt
  }

  /** Advisory emitted when a FIXED grid's biggest block blows the auto
    * rule's per-task budget — the exact configuration that OOMs the
    * iteration cogroup at scale (SCALING §12.7 wall 2, MLlib's default-grid
    * footgun demonstrated in `als_x1000_vs_mllib_r16.json`). Pure so the
    * thresholds are spec-testable; `train` logs the returned message.
    * Costs nothing at fit time: the per-block counts are already collected
    * for the exact-size in-block build.
    */
  private[als] def gridAdvisory(
      blockCounts: Array[Long],
      rank: Int,
      parallelism: Int,
      numUserBlocks: Int,
      numItemBlocks: Int,
      side: String = "user"): Option[String] = {
    if (blockCounts.isEmpty) return None
    val bytesPerRating = 36L + 4L * rank
    val maxBlockBytes = blockCounts.max * bytesPerRating
    if (maxBlockBytes <= TargetBlockBytes) None
    else {
      val total = blockCounts.sum
      val rec = autoBlockCount(total, rank, parallelism)
      Some(s"configured block grid ${numUserBlocks}x$numItemBlocks puts up to " +
        s"${maxBlockBytes >> 20} MB in one $side block's iteration working " +
        s"set (auto budget ${TargetBlockBytes >> 20} MB/block); at this " +
        s"volume $side blocks=AutoBlocks would use $rec blocks on that " +
        "side — fixed grids that overshoot the budget OOM the in-block " +
        "build long before the solver (SCALING §12.7 wall 2)")
    }
  }

  type FactorBlocks = RDD[(Int, Array[Array[Float]])]
  type OutBlocks = RDD[(Int, OutBlock)]

  /** Spec observability only: the shuffle ledger of the most recent `train`
    * call on this JVM (ShuffleReapSpec asserts on the concrete reaped ids,
    * which stays correct even when other suites share the SparkContext).
    * Not part of the training contract; last-writer-wins under concurrent
    * fits.
    */
  @volatile private[graft] var lastLedgerForTest: ShuffleLedger = _

  /** One trained side: the persisted id→factor RDD plus its row count and
    * id range. All three figures come from the pass that materializes the
    * RDD, so they cost no job of their own. `minId`/`maxId` are
    * `Long.MaxValue`/`Long.MinValue` when `rows` is 0.
    */
  case class TrainedSide(factors: RDD[(Long, Array[Float])], rows: Long, minId: Long, maxId: Long)

  /** Trains the model; returns (userId→factor, itemId→factor) RDDs, both
    * persisted at `finalStorageLevel`. Reference flow: `ALS.py:39-191`.
    */
  def train(ratings: RDD[Rating], cfg: Config): (RDD[(Long, Array[Float])], RDD[(Long, Array[Float])]) = {
    val (users, items) = trainSides(ratings, cfg)
    (users.factors, items.factors)
  }

  /** [[train]], returning each side with the row count and id range that
    * its materializing pass measured.
    */
  def trainSides(ratings: RDD[Rating], cfg: Config): (TrainedSide, TrainedSide) = {
    require(cfg.rank > 0 && cfg.maxIter >= 0 && cfg.regParam >= 0)
    require((cfg.numUserBlocks > 0 || cfg.numUserBlocks == AutoBlocks) &&
      (cfg.numItemBlocks > 0 || cfg.numItemBlocks == AutoBlocks),
      s"block counts must be positive or AutoBlocks(-1), got " +
        s"${cfg.numUserBlocks}/${cfg.numItemBlocks}")
    val sc = ratings.sparkContext
    val autoBlocks =
      if (cfg.numUserBlocks == AutoBlocks || cfg.numItemBlocks == AutoBlocks) {
        // one scan over the raw ratings, paid only in auto mode; it doubles
        // as the empty-input check
        val numRatings = ratings.count()
        require(numRatings > 0, EmptyRatingsMessage)
        val n = autoBlockCount(numRatings, cfg.rank, sc.defaultParallelism)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .info(s"auto block sizing: $n blocks per auto side " +
            s"(target ${TargetBlockBytes >> 20} MB/block, rank ${cfg.rank})")
        n
      } else 0
    val numUserBlocks =
      if (cfg.numUserBlocks == AutoBlocks) autoBlocks else cfg.numUserBlocks
    val numItemBlocks =
      if (cfg.numItemBlocks == AutoBlocks) autoBlocks else cfg.numItemBlocks
    val userPart = cfg.partitioner(numUserBlocks)
    val itemPart = cfg.partitioner(numItemBlocks)
    require(userPart.numPartitions == numUserBlocks &&
      itemPart.numPartitions == numItemBlocks,
      "cfg.partitioner must honor the requested block count")

    val blockRatings = partitionRatings(ratings, userPart, itemPart)
      .persist(cfg.intermediateStorageLevel)
    // Materialize the tile cache ONCE before the two sides read it: the
    // user-side and item-side block builds below run CONCURRENTLY (opt
    // r18, guide §2.6 — they are independent given the tiles, and running
    // them back to back left the cluster half-idle through each side's
    // count-prepass + build stages), and overlapped first-actions on an
    // unmaterialized cache would race the tile lineage.
    blockRatings.count()

    // reuse user-keyed tiles as item-keyed tiles by swapping the key halves
    // and the src/dst columns (ALS.py:75-80) — a narrow map, no reshuffle
    val swappedBlockRatings = blockRatings.map {
      case ((userBlockId, itemBlockId), block) =>
        ((itemBlockId, userBlockId), RatingBlock(block.dstIds, block.srcIds, block.ratings))
    }

    // Build + materialize both sides concurrently (ALS.py:73 materializes
    // each side; the builds are deterministic given the tile shuffle — the
    // in-block builder sorts its stream, so task/fetch interleaving cannot
    // reach the factors, and the r17 wall-5 sha-parity protocol still
    // applies unchanged).
    val Seq((userInBlocks, userOutBlocks, userBcCounts),
            (itemInBlocks, itemOutBlocks, itemBcCounts)) =
      graft.ops.Parallelism.inParallel(Seq(
        () => {
          val side = makeBlocks(blockRatings, userPart, itemPart, cfg.intermediateStorageLevel)
          side._2.count()
          side
        },
        () => {
          val side = makeBlocks(swappedBlockRatings, itemPart, userPart, cfg.intermediateStorageLevel)
          side._2.count()
          side
        }))

    // Pre-diagnose wall 2 for callers with a FIXED side (auto sides already
    // right-size): the block counts are already on the driver (makeBlocks'
    // count pre-pass), so checking the biggest block against the auto
    // rule's budget is free. Each side is checked independently — a mixed
    // fixed/auto config still gets its fixed side audited, and a skewed fat
    // ITEM block (one very popular item) is caught by the item-side check.
    if (cfg.numUserBlocks != AutoBlocks) {
      gridAdvisory(userBcCounts.value, cfg.rank, sc.defaultParallelism,
        numUserBlocks, numItemBlocks, side = "user").foreach { msg =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
    }
    if (cfg.numItemBlocks != AutoBlocks) {
      gridAdvisory(itemBcCounts.value, cfg.rank, sc.defaultParallelism,
        numUserBlocks, numItemBlocks, side = "item").foreach { msg =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
    }

    // blockRatings' persisted copy is dead weight from here on: both block
    // structures are materialized above, and an evicted in/out-block
    // partition recomputes from its own groupByKey shuffle files, not from
    // this persist (a shuffle's map side never re-runs once its files
    // exist). Freeing it now, rather than with the end-of-train batch,
    // releases O(ratings) of storage for the whole iteration phase — ~14 GB
    // of scratch at 600M ratings (SCALING §12.11), the difference between
    // fitting and not on a scratch-bound node. Tradeoff (deliberate
    // divergence from ALS.py:189, which frees at end of train): if an
    // executor AND its shuffle files are lost mid-fit, the makeBlocks map
    // stage re-derives blockRatings from the raw ratings lineage instead
    // of this persist — correct (deterministic re-execution) but slower
    // recovery. Scratch headroom wins: the persist costs O(ratings) on
    // every fit, the recompute only on node loss.
    blockRatings.unpersist()

    // The blockify TILE shuffle is the same O(ratings) dead weight in
    // shuffle-file form (~10-14 GB at ×1000): both sides' in/out-blocks
    // and count pre-passes have consumed it, and an evicted in-block
    // partition recomputes from the in-block partitionBy shuffle (kept),
    // not from the tiles. Reap it now — the r18 ×1000 run measured the
    // iteration phase peaking at protected-base + two in-flight half-step
    // shuffles, and the tile files were the single largest retired item
    // still on disk (SCALING §15.1). Recovery semantics match the persist
    // free above: if the in-block shuffle's own map outputs are ALSO lost
    // (node death), the scheduler re-runs the blockify map stage from the
    // raw ratings lineage — Spark re-registers and recomputes reaped
    // shuffles on demand (ShuffleReapSpec pins exactly this recompute).
    // Scoped tightly: only ids introduced BETWEEN the caller's ratings
    // RDD and the tiles (i.e. partitionRatings' own exchange) — never the
    // caller's upstream shuffles, which other jobs may still read. The
    // reap itself runs through the ledger just below (observable in
    // reapedEagerIds), once the ledger exists.
    //
    // When the intermediate storage level has a DISK tier (the default),
    // the two in-block partitionBy exchanges are the same class of dead
    // weight: both block structures are materialized, every partition is
    // durably in memory-or-disk (a with-disk level migrates evictions to
    // the disk store — partitions are never silently lost on a healthy
    // executor), so the exchange files are pure node-loss insurance —
    // ~13 GB more at ×1000 that the r18 series showed sitting under every
    // iteration's peak. Reap them too; a node loss then recomputes the
    // missing in-block partitions from the raw ratings lineage (the
    // recompute-on-demand contract ShuffleReapSpec pins), the same
    // degraded-recovery tradeoff as blockRatings.unpersist above. Under a
    // memory-ONLY intermediate level an evicted partition's ONLY cheap
    // recompute path is the exchange, so there the reap stays tile-only.
    val callerIds = ShuffleLedger.reachableShuffleIds(Seq(ratings))
    val tileShuffleIds =
      ShuffleLedger.reachableShuffleIds(Seq(blockRatings)).diff(callerIds)
    val eagerShuffleIds =
      if (cfg.intermediateStorageLevel.useDisk)
        ShuffleLedger.reachableShuffleIds(
          Seq(userInBlocks, userOutBlocks, itemInBlocks, itemOutBlocks))
          .diff(callerIds) // = tile + both in-block exchanges
      else tileShuffleIds

    // Iteration-scoped shuffle cleanup (wall 3's scratch high-water): each
    // half-step's factor-routing shuffle is O(distinct (entity, dst-block)
    // pairs × rank) on disk — ~13 GB per half-step at 600M ratings — and a
    // checkpoint cut only makes retired shuffles GC-COLLECTABLE; actual
    // file deletion waits for a driver GC that three of four ×1000 runs
    // did not get in time (ENOSPC, als_x1000_wall5_r17.json). The ledger
    // deletes retired ids deterministically at each cut; the block
    // structures' own IN-BLOCK shuffles are protected for the fit's
    // lifetime (an evicted in-block partition re-reads them).
    val blockStructures: Seq[RDD[_]] =
      Seq(userInBlocks, userOutBlocks, itemInBlocks, itemOutBlocks)
    val ledger = new ShuffleLedger(sc, blockStructures)
    lastLedgerForTest = ledger

    ledger.reapNow(eagerShuffleIds)

    val userEncoder = new LocalIndexEncoder(userPart.numPartitions)
    val itemEncoder = new LocalIndexEncoder(itemPart.numPartitions)

    var userFactors = initialize(userInBlocks, cfg.rank, cfg.seed)
    var itemFactors = initialize(itemInBlocks, cfg.rank, cfg.seed * 2 + 1)

    val solver: LeastSquaresNESolver =
      if (cfg.nonnegative) new NNLSSolver else new CholeskySolver

    val shouldCheckpoint: Int => Boolean = iter =>
      sc.getCheckpointDir.isDefined && cfg.checkpointInterval > 0 &&
        (iter + 1) % cfg.checkpointInterval == 0

    // Lineage cuts need a checkpoint dir; without one, every half-step's
    // factor-routing shuffle stays on disk until train ends (Config
    // .checkpointInterval scaladoc; SCALING §12.11 wall 4). Cheap to miss
    // locally, an ENOSPC at scale — say so once per fit.
    // Guard: checkpointInterval <= 0 is an explicit opt-out (stay silent);
    // maxIter == checkpointInterval still never checkpoints mid-fit
    // (shouldCheckpoint fires only at the final iteration's boundary), so
    // >= is the right comparison.
    if (sc.getCheckpointDir.isEmpty && cfg.checkpointInterval > 0 &&
        cfg.maxIter >= cfg.checkpointInterval)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"no checkpoint dir set: checkpointInterval=${cfg.checkpointInterval} " +
          s"will never cut lineage over ${cfg.maxIter} iterations; factor-shuffle " +
          "scratch grows linearly with iterations (set SparkContext.setCheckpointDir)")

    var lastExplicitCache: Option[FactorBlocks] = None

    // All-but-last checkpoint file cleanup (wall 3's residual creep): each
    // cut writes ~O(entities × rank) of factor checkpoint files, and they
    // accumulate until JVM exit — the r18 ×1000 scratch series measured
    // ~1 GB/iteration of creep inside the otherwise-flat reap epochs
    // (als_x1000_wall3_r18.json). Once a NEW cut has materialized, the
    // previous checkpointed generation is unreachable from every live
    // lineage (the new generation is persisted AND reads its own
    // checkpoint files on eviction; nothing recomputes through the old
    // generation), so its files are dead weight — delete them. The LAST
    // checkpoint always survives the fit: the persisted model's lineage
    // reaches it, and a lost-partition recompute of the model re-reads
    // those files. Deletion failures are logged, never fatal (scratch
    // hygiene must not fail a fit).
    var previousCheckpointFiles: Seq[String] = Nil
    def deletePreviousCheckpoint(justCut: FactorBlocks): Unit = {
      previousCheckpointFiles.foreach { file =>
        try {
          val path = new org.apache.hadoop.fs.Path(file)
          path.getFileSystem(sc.hadoopConfiguration).delete(path, true)
        } catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"could not delete retired checkpoint $file: $e")
        }
      }
      previousCheckpointFiles = justCut.getCheckpointFile.toSeq
    }

    if (cfg.implicitPrefs) {
      // implicit path persists+materializes every generation (the YᵀY
      // aggregate is an action per half-step) — ALS.py:105-135
      for (iter <- 0 until cfg.maxIter) {
        userFactors.persist(cfg.intermediateStorageLevel)
        val previousItemFactors = itemFactors
        itemFactors = computeFactors(userFactors, userOutBlocks, itemInBlocks,
          cfg.rank, cfg.regParam, userEncoder, implicitPrefs = true, cfg.alpha, solver)
        ledger.track(itemFactors)
        previousItemFactors.unpersist()
        itemFactors.persist(cfg.intermediateStorageLevel)
        if (shouldCheckpoint(iter)) {
          itemFactors.checkpoint()
          // materialize the cut NOW (cache fill + checkpoint write +
          // lineage truncation) so the sweep below sees the truncated
          // graph; without this the checkpoint only lands inside the next
          // half-step's YᵀY action and the retired shuffles would survive
          // a full extra iteration of scratch
          itemFactors.count()
          deletePreviousCheckpoint(itemFactors)
          ledger.sweep(itemFactors +: userFactors +: blockStructures)
        }
        val previousUserFactors = userFactors
        userFactors = computeFactors(itemFactors, itemOutBlocks, userInBlocks,
          cfg.rank, cfg.regParam, itemEncoder, implicitPrefs = true, cfg.alpha, solver)
        ledger.track(userFactors)
        previousUserFactors.unpersist()
      }
    } else {
      // explicit path: the reference leaks lineage here (no persist,
      // ALS.py:137-156); we cut recompute depth + lineage every
      // checkpointInterval iterations
      var previousCachedItemFactors: Option[FactorBlocks] = None
      for (iter <- 0 until cfg.maxIter) {
        itemFactors = computeFactors(userFactors, userOutBlocks, itemInBlocks,
          cfg.rank, cfg.regParam, userEncoder, implicitPrefs = false, cfg.alpha, solver)
        ledger.track(itemFactors)
        if (shouldCheckpoint(iter)) {
          itemFactors.persist(cfg.intermediateStorageLevel)
          itemFactors.checkpoint()
          itemFactors.count()
          deletePreviousCheckpoint(itemFactors)
          previousCachedItemFactors.foreach(_.unpersist())
          previousCachedItemFactors = Some(itemFactors)
          // itemFactors is persisted AND checkpointed (eviction re-reads
          // the checkpoint files, not lineage), and the pre-cut userFactors
          // generation is never read again, so every factor shuffle behind
          // this cut — including this half-step's own — is dead
          ledger.sweep(itemFactors +: blockStructures)
        }
        userFactors = computeFactors(itemFactors, itemOutBlocks, userInBlocks,
          cfg.rank, cfg.regParam, itemEncoder, implicitPrefs = false, cfg.alpha, solver)
        ledger.track(userFactors)
      }
      // the last checkpointed generation is an ancestor of the final model;
      // safe to free only after the final factors materialize below — defer
      lastExplicitCache = previousCachedItemFactors
    }

    // id ⋈ factor zip (ALS.py:158-179): attach raw ids (from the in-block
    // CSR headers) to the final factor arrays; the join is narrow because
    // both sides carry the src partitioner
    val userIdAndFactors = userInBlocks.mapValues(_.srcIds)
      .join(userFactors)
      .mapPartitions({ iter =>
        iter.flatMap { case (_, (ids, factors)) => ids.iterator.zip(factors.iterator) }
      }, preservesPartitioning = true)
      .persist(cfg.finalStorageLevel)

    val itemIdAndFactors = itemInBlocks.mapValues(_.srcIds)
      .join(itemFactors)
      .mapPartitions({ iter =>
        iter.flatMap { case (_, (ids, factors)) => ids.iterator.zip(factors.iterator) }
      }, preservesPartitioning = true)
      .persist(cfg.finalStorageLevel)

    // materialize the model, then free every intermediate (ALS.py:181-189)
    val users = materializeSide(userIdAndFactors)
    val items = materializeSide(itemIdAndFactors)
    userFactors.unpersist()
    itemFactors.unpersist()
    lastExplicitCache.foreach(_.unpersist())
    userInBlocks.unpersist()
    userOutBlocks.unpersist()
    itemInBlocks.unpersist()
    itemOutBlocks.unpersist()
    // Free the count broadcasts' executor copies with the blocks they
    // sized — otherwise one Map per makeBlocks call (two per fit)
    // accumulates until the ContextCleaner happens to run, which cached
    // models' lineage pins indefinitely. unpersist, NOT destroy: the
    // driver copy stays fetchable, so a lost-executor recompute of the
    // persisted model through the in-block lineage still works (destroy
    // would turn that recovery into a hard SparkException).
    userBcCounts.unpersist()
    itemBcCounts.unpersist()

    // Final sweep: with the model materialized, anything behind the last
    // checkpoint that a cut-time sweep could not yet prove dead (e.g. an
    // implicit-path cut whose truncation landed after the sweep) is dead
    // now. Post-last-cut factor shuffles stay: the persisted model's
    // lineage reaches them, and a lost-partition recompute needs them.
    ledger.sweep(Seq(userIdAndFactors, itemIdAndFactors))
    if (ledger.reaped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .info(s"shuffle ledger: reaped ${ledger.reaped} retired factor-routing " +
          "shuffles mid-fit (iteration-scoped scratch cleanup)")

    (users, items)
  }

  /** Materializes a persisted factor RDD in one job that also measures its
    * row count and id range: the same single pass as a `count()`.
    */
  private def materializeSide(side: RDD[(Long, Array[Float])]): TrainedSide = {
    val (rows, minId, maxId) = side
      .mapPartitions { iter =>
        var n = 0L
        var lo = Long.MaxValue
        var hi = Long.MinValue
        iter.foreach { case (id, _) =>
          n += 1
          if (id < lo) lo = id
          if (id > hi) hi = id
        }
        Iterator.single((n, lo, hi))
      }
      .fold((0L, Long.MaxValue, Long.MinValue)) { case ((n1, lo1, hi1), (n2, lo2, hi2)) =>
        (n1 + n2, math.min(lo1, lo2), math.max(hi1, hi2))
      }
    TrainedSide(side, rows, minId, maxId)
  }

  /** Tiles the ratings into (srcBlock, dstBlock) columnar blocks.
    *
    * Two-phase: mappers keep one builder per tile and spill a partial block
    * whenever it reaches [[BlockifySpillThreshold]] rows (`ALS.py:211-238`),
    * then a map-side-combining `aggregateByKey` merges partial blocks per
    * tile (the optimized form of the reference's `groupByKey`+fold,
    * `ALS.py:260-263`).
    */
  def partitionRatings(
      ratings: RDD[Rating],
      srcPart: Partitioner,
      dstPart: Partitioner): RDD[((Int, Int), RatingBlock)] =
    partitionRatings(ratings, srcPart, dstPart,
      maxShufflePartitions = math.max(
        TileShufflePartitionFloor,
        ratings.sparkContext.defaultParallelism * 4),
      maxLiveTiles = BlockifyMaxLiveTiles)

  /** Cap-injectable variant (specs exercise the huge-grid paths with small
    * caps so the tests stay fast; production uses the defaults above).
    */
  private[als] def partitionRatings(
      ratings: RDD[Rating],
      srcPart: Partitioner,
      dstPart: Partitioner,
      maxShufflePartitions: Int,
      maxLiveTiles: Int): RDD[((Int, Int), RatingBlock)] = {
    val numSrc = srcPart.numPartitions
    val numDst = dstPart.numPartitions
    // Long tile key = srcBlockId + numSrc·dstBlockId — the same cell index
    // the old dense code used, widened: the Int product overflowed past
    // 46,341 blocks/side, inside the grid range SCALING §13.7 prices for
    // 100 TB (wall 5). The grid is never materialized anywhere anymore;
    // only VISITED tiles cost memory.
    val gridCells = numSrc.toLong * numDst
    val shufflePartitions =
      math.min(gridCells, math.max(maxShufflePartitions, 1).toLong).toInt
    ratings.mapPartitions { iter =>
      // sparse open-hash tile map: was Array.fill(numSrc*numDst)(builder),
      // one dense slot per grid CELL per map task
      val builders = new scala.collection.mutable.LongMap[RatingBlockBuilder]()
      // flush every live builder in ascending tile-key order — for runs
      // that never hit maxLiveTiles (all tested grids) this reproduces the
      // old dense tail scan's emit order exactly, keeping the tile stream,
      // and therefore the factors, bit-identical
      def flushAll(): Iterator[((Int, Int), RatingBlock)] = {
        val keys = builders.keysIterator.toArray
        java.util.Arrays.sort(keys)
        val out = new Array[((Int, Int), RatingBlock)](keys.length)
        var i = 0
        while (i < keys.length) {
          val key = keys(i)
          out(i) = (((key % numSrc).toInt, (key / numSrc).toInt), builders(key).build())
          i += 1
        }
        builders.clear()
        out.iterator
      }
      val spilled = iter.flatMap { r =>
        val srcBlockId = srcPart.getPartition(r.user)
        val dstBlockId = dstPart.getPartition(r.item)
        val key = srcBlockId + numSrc.toLong * dstBlockId
        val builder = builders.getOrElseUpdate(key, new RatingBlockBuilder)
        builder.add(r.user, r.item, r.rating)
        if (builder.size >= BlockifySpillThreshold) {
          builders -= key
          Iterator.single(((srcBlockId, dstBlockId), builder.build()))
        } else if (builders.size >= maxLiveTiles) {
          flushAll()
        } else Iterator.empty
      }
      // `++`'s argument is by-name: flushAll() runs only after the input is
      // exhausted, so the tail sees the final builder state
      spilled ++ flushAll()
    }.combineByKeyWithClassTag[RatingBlockBuilder](
      createCombiner = (block: RatingBlock) => new RatingBlockBuilder().merge(block),
      mergeValue = (builder, block) => builder.merge(block),
      mergeCombiners = (b1, b2) => b1.merge(b2.build()),
      partitioner = new HashPartitioner(shufflePartitions),
      // NO map-side combine (deliberate divergence from the reference's
      // aggregateByKey, `ALS.py:260-263`, and from MLlib): tile merging is
      // pure CONCATENATION, so combining before the shuffle saves zero
      // bytes (same total entries, only fewer record headers) while
      // holding O(rows-per-input-partition) of mutable builder state on
      // the map side — growing ArrayBuilders that defeat the spill
      // estimator. The ×1000 probe OOMed exactly there with coarse input
      // splits (SCALING §12.7 wall #1). Without it, map memory is truly
      // bounded by the 2048-entry spill threshold per in-flight tile and
      // the ≤2048-entry partials stream straight to the reduce side,
      // where one task merges one tile — O(tile), inherent to the format.
      mapSideCombine = false
    ).mapValues(_.build())
  }

  /** Builds the CSR in-blocks and out-block routing tables for one side.
    * Reference: `ALS.py:268-383`.
    */
  def makeBlocks(
      ratingBlocks: RDD[((Int, Int), RatingBlock)],
      srcPart: Partitioner,
      dstPart: Partitioner,
      storageLevel: StorageLevel)
    : (RDD[(Int, InBlock)], OutBlocks,
       org.apache.spark.broadcast.Broadcast[Array[Long]]) = {

    val numDstBlocks = dstPart.numPartitions

    // per tile: dedup+sort dst ids, rewrite dst ids as local indices so the
    // shuffle ships small ints, not raw ids (ALS.py:276-304)
    val keyed = ratingBlocks.map { case ((srcBlockId, dstBlockId), block) =>
      val sz = block.size
      val uniq = new java.util.TreeSet[java.lang.Long]()
      var i = 0
      while (i < sz) { uniq.add(block.dstIds(i)); i += 1 }
      val sortedDstIds = new Array[Long](uniq.size)
      val toLocal = new java.util.HashMap[java.lang.Long, Integer](uniq.size * 2)
      val it = uniq.iterator()
      i = 0
      while (it.hasNext) {
        val id = it.next()
        sortedDstIds(i) = id
        toLocal.put(id, i)
        i += 1
      }
      val dstLocalIndices = new Array[Int](sz)
      i = 0
      while (i < sz) { dstLocalIndices(i) = toLocal.get(block.dstIds(i)); i += 1 }
      (srcBlockId, (dstBlockId, block.srcIds, dstLocalIndices, block.ratings))
    }

    // Count pre-pass: exact per-src-block entry totals, so the reduce side
    // can allocate final-size arrays instead of growing builders. The job
    // is tiny — numSrcBlocks×numDstBlocks (srcBlockId, count) pairs off the
    // persisted tiles, no data shuffle — and the collect is bounded by the
    // block-grid config, never by ratings. This is the wall-2 fix (SCALING
    // §12.7): with groupByKey + growing builders the build held ~3-4× the
    // final block bytes per task (materialized tile buffer + doubling
    // ArrayBuilders + result copy), which is why ×1000 needed 3 GB/core;
    // streaming tiles into exact arrays bounds the task transient at the
    // final block size + one in-flight tile, so every core can build.
    // Wall 6 (SCALING §13.8): the per-block totals live in ONE primitive
    // Array[Long] indexed by the dense block id — 8 B/slot on the driver
    // and per executor — not the boxed Map[Int, Long] that collectAsMap
    // returns (87 B/entry measured via SizeEstimator: 366 MB/side of
    // driver + per-executor broadcast heap at the §13.7 100 TB grid vs
    // 33.5 MB for the array — SCALING §13.8). Block ids are
    // 0..numPartitions-1 by the partitioner contract, so the dense index
    // is total; blocks with no ratings read 0 and are never looked up
    // (no tile carries their id).
    val blockCounts = new Array[Long](srcPart.numPartitions)
    ratingBlocks
      .map { case ((srcBlockId, _), block) => (srcBlockId, block.size.toLong) }
      .reduceByKey(_ + _)
      .collect()
      .foreach { case (srcBlockId, n) =>
        require(n <= Int.MaxValue,
          s"src block $srcBlockId holds $n ratings (> Int.MaxValue): raise the " +
            "block count so each block's entries fit Int-indexed arrays")
        blockCounts(srcBlockId) = n
      }
    val bcCounts = ratingBlocks.sparkContext.broadcast(blockCounts)

    val inBlocks = keyed
      // same exchange as the reference's groupByKey (ALS.py:306-329) — one
      // partition per src block — but the reduce side STREAMS tiles into a
      // preallocated exact-size builder instead of materializing the tile
      // list first. Tile arrival order matches the groupByKey buffer order
      // (same shuffle read), so the sort input — and the factors — are
      // unchanged.
      .partitionBy(new HashPartitioner(srcPart.numPartitions))
      .mapPartitions({ iter =>
        val encoder = new LocalIndexEncoder(numDstBlocks)
        val counts = bcCounts.value
        // HashPartitioner(numSrcBlocks) over dense 0..n-1 block ids is a
        // bijection, so this map virtually always holds ONE builder; the
        // map form just stays correct for any id distribution.
        val builders = new java.util.HashMap[Int, ExactUncompressedInBlockBuilder]()
        iter.foreach { case (srcBlockId, (dstBlockId, srcIds, dstLocalIndices, ratings)) =>
          var b = builders.get(srcBlockId)
          if (b == null) {
            b = new ExactUncompressedInBlockBuilder(encoder, counts(srcBlockId).toInt)
            builders.put(srcBlockId, b)
          }
          b.add(dstBlockId, srcIds, dstLocalIndices, ratings)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, InBlock)]
        val it = builders.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          out += ((e.getKey, e.getValue.build().compress()))
        }
        out.iterator
      }, preservesPartitioning = true)
      .persist(storageLevel)

    // routing table: for each dst block this in-block actually touches,
    // which local rows are referenced there (ALS.py:331-361). Sparse on two
    // axes (wall 5): builders exist only for VISITED dst blocks (was
    // Array.fill(numDstBlocks) — a dense per-task allocation that blows up
    // at the 100 TB grid), and the per-row dedup is a last-row stamp on the
    // builder (was an O(numDstBlocks) Arrays.fill per row — quadratic in
    // block count). Keys come out sorted, so the per-dst-block index arrays
    // are exactly the old dense slots minus the empty ones.
    val outBlocks = inBlocks.mapValues { inBlock =>
      val encoder = new LocalIndexEncoder(numDstBlocks)
      val builders = new scala.collection.mutable.LongMap[RoutingBuilder]()
      val n = inBlock.srcIds.length
      var i = 0
      while (i < n) {
        var j = inBlock.dstPtrs(i)
        val end = inBlock.dstPtrs(i + 1)
        while (j < end) {
          val blockId = encoder.blockId(inBlock.dstEncodedIndices(j))
          val b = builders.getOrElseUpdate(blockId.toLong, new RoutingBuilder)
          if (b.lastRow != i) {
            b.rows += i
            b.lastRow = i
          }
          j += 1
        }
        i += 1
      }
      val keys = builders.keysIterator.toArray
      java.util.Arrays.sort(keys)
      val dstBlockIds = new Array[Int](keys.length)
      val active = new Array[Array[Int]](keys.length)
      var k = 0
      while (k < keys.length) {
        dstBlockIds(k) = keys(k).toInt
        active(k) = builders(keys(k)).rows.result()
        k += 1
      }
      OutBlock(dstBlockIds, active)
    }.persist(storageLevel)

    (inBlocks, outBlocks, bcCounts)
  }

  /** Per-dst-block accumulator for the out-block routing build: the local
    * rows referenced in that dst block, plus the last row appended so a row
    * rating the same dst block several times is recorded once without any
    * per-row clearing.
    */
  private final class RoutingBuilder {
    val rows: ArrayBuilder[Int] = ArrayBuilder.make[Int]
    var lastRow: Int = -1
  }

  /** Seeded per-block factor initialization: uniform(0,1) entries normalized
    * to unit L2 norm. The reference normalizes by the squared norm
    * (`ALS.py:402-404`) — a documented deviation from MLlib that shrinks
    * initial factors; we follow the L2 convention (SURVEY.md §2.4 M1).
    * Per-block seeding (`seed + blockId`, `ALS.py:399`) keeps the result
    * deterministic and independent of partition placement.
    */
  def initialize(inBlocks: RDD[(Int, InBlock)], rank: Int, seed: Long): FactorBlocks = {
    inBlocks.mapPartitions({ iter =>
      iter.map { case (blockId, inBlock) =>
        val rng = new java.util.Random(seed + blockId)
        val factors = Array.tabulate(inBlock.srcIds.length) { _ =>
          val v = new Array[Float](rank)
          var i = 0
          var sumSq = 0.0
          while (i < rank) {
            val x = rng.nextFloat()
            v(i) = x
            sumSq += x.toDouble * x
            i += 1
          }
          val nrm = math.sqrt(sumSq).toFloat
          i = 0
          while (i < rank) { v(i) /= nrm; i += 1 }
          v
        }
        (blockId, factors)
      }
    }, preservesPartitioning = true)
  }

  /** One ALS half-step: ships the src-side factors to the dst blocks that
    * need them (via the out-block routing tables) and solves every dst row's
    * regularized normal equations. Reference: `ALS.py:421-560`.
    *
    * Shuffle audit: the `join`s on both ends are narrow (all operands share
    * the block HashPartitioner); the only wide edge is the factor-message
    * `groupByKey`, whose payload is already minimized by the routing tables.
    * No combiner is wanted there — the per-(dstBlock, srcBlock) messages are
    * disjoint (`ALS.py:541-544`).
    */
  def computeFactors(
      srcFactorBlocks: FactorBlocks,
      srcOutBlocks: OutBlocks,
      dstInBlocks: RDD[(Int, InBlock)],
      rank: Int,
      regParam: Double,
      srcEncoder: LocalIndexEncoder,
      implicitPrefs: Boolean,
      alpha: Double,
      solver: LeastSquaresNESolver): FactorBlocks =
    computeFactors(srcFactorBlocks, srcOutBlocks, dstInBlocks, rank, regParam,
      srcEncoder, implicitPrefs, alpha, solver, DenseSrcFactorLookupMax)

  /** Threshold-injectable variant (specs force the sparse lookup with a
    * tiny cap; production uses [[DenseSrcFactorLookupMax]]).
    */
  private[als] def computeFactors(
      srcFactorBlocks: FactorBlocks,
      srcOutBlocks: OutBlocks,
      dstInBlocks: RDD[(Int, InBlock)],
      rank: Int,
      regParam: Double,
      srcEncoder: LocalIndexEncoder,
      implicitPrefs: Boolean,
      alpha: Double,
      solver: LeastSquaresNESolver,
      maxDenseLookup: Int): FactorBlocks = {

    val numSrcBlocks = srcFactorBlocks.partitions.length
    val ytyOpt: Option[NormalEquation] =
      if (implicitPrefs) Some(computeYtY(srcFactorBlocks, rank)) else None

    // one message per (src block, dst block) pair that shares ≥1 rating —
    // the sparse OutBlock means pairs with no ratings ship NOTHING (the old
    // dense table emitted an empty-array message per grid cell: harmless at
    // 10×10, O(grid) wasted shuffle records at a 100 TB grid)
    val srcOut = srcOutBlocks.join(srcFactorBlocks).flatMap {
      case (srcBlockId, (outBlock, factors)) =>
        Iterator.tabulate(outBlock.dstBlockIds.length) { k =>
          val activeIndices = outBlock.activeIndices(k)
          val shipped = new Array[Array[Float]](activeIndices.length)
          var i = 0
          while (i < activeIndices.length) {
            shipped(i) = factors(activeIndices(i))
            i += 1
          }
          (outBlock.dstBlockIds(k), (srcBlockId, shipped))
        }
    }

    val merged = srcOut.groupByKey(new HashPartitioner(dstInBlocks.partitions.length))

    dstInBlocks.join(merged).mapValues { case (inBlock, srcFactorMsgs) =>
      // src-block → shipped-factors lookup. Dense array below the cap
      // (O(1) per-rating access, the hot path at every tested grid: 512 KB
      // of refs per task at the 64k cap), sparse LongMap above it so
      // per-task memory tracks VISITED src blocks — the dense form is
      // O(blocks/side) per task, ~8 MB at the 10⁶-blocks/side grid the
      // wall-5 work prices for 100 TB, inconsistent with the sparse
      // OutBlock story (ADVICE r17). Same factors either way; pinned by
      // SparseSrcFactorLookupSpec.
      val denseSrcFactors: Array[Array[Array[Float]]] =
        if (numSrcBlocks <= maxDenseLookup) new Array[Array[Array[Float]]](numSrcBlocks)
        else null
      val sparseSrcFactors: scala.collection.mutable.LongMap[Array[Array[Float]]] =
        if (denseSrcFactors == null)
          new scala.collection.mutable.LongMap[Array[Array[Float]]]()
        else null
      srcFactorMsgs.foreach { case (srcBlockId, factors) =>
        if (denseSrcFactors != null) denseSrcFactors(srcBlockId) = factors
        else sparseSrcFactors.update(srcBlockId.toLong, factors)
      }
      val n = inBlock.srcIds.length
      val dstFactors = new Array[Array[Float]](n)
      // row-major Gramian, vectorized four observations per pass and
      // factored in place: byte-identical to per-rating packed
      // NormalEquation.add + a left-looking Cholesky (RowGramian and
      // CholeskySolver.solveInPlace docs; HalfStepParitySpec)
      val ls = new RowGramian(rank)
      val yty = ytyOpt.orNull
      var j = 0
      while (j < n) {
        ls.reset(yty)
        var numExplicits = 0
        var i = inBlock.dstPtrs(j)
        val end = inBlock.dstPtrs(j + 1)
        while (i < end) {
          val encoded = inBlock.dstEncodedIndices(i)
          val blockId = srcEncoder.blockId(encoded)
          val localIndex = srcEncoder.localIndex(encoded)
          val srcFactor =
            (if (denseSrcFactors != null) denseSrcFactors(blockId)
             else sparseSrcFactors(blockId.toLong))(localIndex)
          val rating = inBlock.ratings(i)
          if (implicitPrefs) {
            // Hu-Koren-Volinsky confidence weighting (ALS.py:511-515):
            // c1 = α|r|; preference 1 with weight 1+c1 when r > 0
            val c1 = alpha * math.abs(rating)
            if (rating > 0.0f) numExplicits += 1
            ls.add(srcFactor, if (rating > 0.0f) 1.0 + c1 else 0.0, c1)
          } else {
            ls.add(srcFactor, rating)
            numExplicits += 1
          }
          i += 1
        }
        // ALS-WR weighted regularization: λ · (#observations for this row)
        dstFactors(j) = solver.solveRows(ls, numExplicits * regParam)
        j += 1
      }
      dstFactors
    }
  }

  /** Global Gramian YᵀY of all factors for the implicit path. The
    * reference's version is broken (Python tuple-unpack lambdas + a
    * generator seqOp, `ALS.py:562-578`); this is the aggregate it
    * intended, as one job whose per-block partials merge in block order
    * ([[graft.ops.OrderedMerge]]), so the Gramian — and every implicit
    * factor solved against it — is the same to the last bit on every run.
    */
  def computeYtY(factorBlocks: FactorBlocks, rank: Int): NormalEquation =
    graft.ops.OrderedMerge.aggregate(factorBlocks.values, new NormalEquation(rank))(
      it => {
        val ne = new NormalEquation(rank)
        it.foreach { factors =>
          var i = 0
          while (i < factors.length) { ne.add(factors(i), 0.0); i += 1 }
        }
        ne
      },
      (a, b) => a.merge(b))
}
