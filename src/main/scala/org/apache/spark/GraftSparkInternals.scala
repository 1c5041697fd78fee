package org.apache.spark

/** Narrow, documented bridge to two `private[spark]` surfaces the ALS
  * kernel's iteration-scoped shuffle cleanup needs (SCALING §12.11 wall 4 /
  * §13.x wall 3: retired factor-routing shuffles must be DELETED mid-fit,
  * not merely become GC-collectable). Lives in `org.apache.spark` solely
  * for access; uses only stable driver-side plumbing:
  *
  *   - [[ContextCleaner.doCleanupShuffle]] — the exact routine the
  *     weak-reference cleaner runs when a [[ShuffleDependency]] is GC'd
  *     (unregister map outputs, drop shuffle files on every block manager).
  *     Calling it eagerly for a shuffle id that is provably unreachable
  *     from every live RDD lineage is semantically identical to what the
  *     cleaner would eventually do; it just happens at the checkpoint cut
  *     instead of at the next driver GC. This is the same call the public
  *     `RDD.cleanShuffleDependencies` API makes — that API walks one RDD's
  *     lineage, whereas the kernel needs a reap over an explicit retired
  *     set (see `ShuffleLedger`), so we bind to the underlying routine.
  *   - `MapOutputTrackerMaster.shuffleStatuses` keys — read-only view of
  *     the registered shuffle ids, used by specs to assert that retired
  *     shuffles are actually gone (and that protected ones are not).
  *
  * Repeated cleanup of the same id is harmless (the cleaner may later GC
  * the same dependency; all downstream removals are idempotent), which is
  * why eager reaping composes with the normal GC-driven path.
  */
object GraftSparkInternals {

  /** Eagerly runs the context cleaner's shuffle-removal routine for each
    * id. No-op (returns 0) when the cleaner is disabled
    * (`spark.cleaner.referenceTracking=false`).
    */
  def reapShuffles(
      sc: SparkContext,
      shuffleIds: Iterable[Int],
      blocking: Boolean = false): Int =
    sc.cleaner match {
      case Some(cleaner) =>
        var n = 0
        shuffleIds.foreach { id => cleaner.doCleanupShuffle(id, blocking); n += 1 }
        n
      case None => 0
    }

  /** Shuffle ids currently registered with the driver's map-output tracker
    * (test observability for the reap path). Registration is stage-graph
    * BOOKKEEPING, not disk: a reaped shuffle whose dependency is still in
    * a live (persisted-but-not-checkpointed) lineage gets re-registered
    * with EMPTY outputs at the next job submission — its files stay gone.
    * Assert on [[shuffleFileCount]] for the scratch claim.
    */
  def registeredShuffleIds(sc: SparkContext): Set[Int] =
    SparkEnv.get.mapOutputTracker match {
      case m: MapOutputTrackerMaster => m.shuffleStatuses.keySet.toSet
      case _ => Set.empty
    }

  /** Number of shuffle data/index files for `shuffleId` on this node's
    * disk store (test observability: the reap's actual scratch effect).
    * Local/driver block manager only — exactly what local-mode specs need.
    */
  def shuffleFileCount(sc: SparkContext, shuffleId: Int): Int =
    SparkEnv.get.blockManager.diskBlockManager.getAllFiles()
      .count(_.getName.startsWith(s"shuffle_${shuffleId}_"))

  /** Ids of the broadcasts whose blocks this node's block manager holds
    * (test observability: a destroyed broadcast leaves none). Local/driver
    * block manager only, like [[shuffleFileCount]].
    */
  def broadcastIds(sc: SparkContext): Set[Long] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: org.apache.spark.storage.BroadcastBlockId => b.broadcastId }.toSet

  /** Blocks until every event already posted to the listener bus has been
    * delivered (bounded by `timeoutMillis`). Listener events are delivered
    * asynchronously, so a harness that samples per-query job/stage/shuffle
    * counters immediately after an action returns can misattribute late
    * completions to the NEXT query (r18 ADVICE on ScratchBench); draining
    * first makes per-query attribution stable. Measurement plumbing only —
    * never on a query path.
    */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: Throwable => () }
}
