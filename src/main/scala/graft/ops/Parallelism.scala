package graft.ops

import org.apache.spark.sql.DataFrame

/** Input-split parallelism guard for per-row-heavy operators.
  *
  * A small parquet file arrives as ONE input split, so every narrow stage
  * derived from it (shingling, hashing, norm computation, pairwise scoring
  * below a broadcast join) runs single-threaded until the first shuffle —
  * measured as `(0+1)/1` task counts dominating the dedup/similarity
  * timings on the fixtures. Repartitioning before the heavy per-row
  * compute costs one exchange of the raw rows and buys full-core
  * parallelism on everything above it.
  *
  * At cluster scale inputs already arrive in many splits (one per ~128 MB),
  * so the guard is a structural no-op there — it only fires when the split
  * count is far below the session's parallelism.
  */
object Parallelism {

  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, target / 2)) df.repartition(target)
    else df
  }

  /** Runs independent Spark ACTIONS concurrently from a bounded driver
    * thread pool, returning results in input order (opt guide §2.6:
    * "overlap independent jobs" — actions are only sequential because the
    * driver calls them sequentially, and each small job's scheduling
    * floor plus task tail otherwise leaves most cores idle between jobs).
    * Callers are responsible for independence: thunks must not race on
    * building the SAME uncached lineage (materialize shared persisted
    * inputs first) and the combined result must not depend on completion
    * order — every use site here combines order-insensitive counts or
    * fully-determined frames. A failed thunk rethrows its own cause.
    */
  def inParallel[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(_())
    // One job group per call (r18 ADVICE): shutdownNow() only interrupts
    // DRIVER threads — a failed thunk's siblings would otherwise keep
    // their in-flight Spark jobs running on the cluster after the caller
    // has already thrown. Job groups are thread-local, so each worker
    // thread sets the group itself; on failure the whole group is
    // cancelled (interruptOnCancel) before the cause is rethrown. Without
    // any session (pure-computation thunks) there are no jobs to group.
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val group = s"graft-inparallel-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(thunks.size, 8))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = sc match {
            case Some(c) =>
              c.setJobGroup(group, "graft.Parallelism.inParallel", interruptOnCancel = true)
              try t() finally c.clearJobGroup()
            case None => t()
          }
        })
      }
      futs.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            sc.foreach(c => try c.cancelJobGroup(group) catch { case _: Throwable => () })
            throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }
}
