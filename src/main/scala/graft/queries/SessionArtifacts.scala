package graft.queries

import graft.als.GraftALSModel
import org.apache.spark.sql.SparkSession

/** The trained artifacts the query layer shares across the queries of one
  * session — the reference's "train one model, reuse it for every
  * prediction and the MSE" (`ALS.py` `__main__`), declared in one place.
  *
  * Every entry is keyed `(session, data dir, name)`: the session in the key
  * keeps a restarted session from being handed a model bound to a stale
  * predecessor's DataFrames, and a name per artifact keeps the models,
  * codebooks and scalars of one dir apart. Entries live until [[clear]].
  *
  * Only [[GraftALSModel]] entries hold persisted data (their factor RDDs
  * and serving indexes); codebooks, MIPS indexes and scalars are
  * driver-side values. [[clear]] and [[pinnedRddIds]] both read
  * [[models]], so the RDDs a leak sweep exempts are exactly the ones
  * `clear()` releases.
  */
private[graft] object SessionArtifacts {

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Any]

  /** Stable identity of a live session. `sessionUUID` is private[sql] in
    * 4.1, so object identity stands in — good enough to keep a restarted
    * session from being handed a model bound to a stale predecessor.
    */
  private def sessionKey(s: SparkSession): String =
    System.identityHashCode(s).toString

  /** The entry `name` of `(s, dir)`, built by `build` on first use. A name
    * must always be built with the same result type.
    */
  def getOrBuild[A](s: SparkSession, dir: String, name: String)(build: => A): A =
    entries.getOrElseUpdate((sessionKey(s), dir, name), build).asInstanceOf[A]

  private def models: Iterable[GraftALSModel] =
    entries.values.collect { case m: GraftALSModel => m }

  /** Frees every live model's persisted RDDs, then empties the registry —
    * the isolation hook for benches and long-lived sessions (cached models
    * otherwise pin executor memory for the session lifetime).
    */
  def clear(): Unit = {
    models.foreach(_.unpersist())
    entries.clear()
  }

  /** RDD ids pinned by the live models: deliberate cross-query session
    * state, NOT leaks — a harness sweeping `sc.getPersistentRDDs` between
    * queries must exempt these or every later ALS query recomputes its
    * factors from lineage (and localCheckpointed factors cannot recompute
    * at all: measured als_item_neighbors 21→56 s at ×10 when a bench sweep
    * unpersisted them).
    */
  def pinnedRddIds: Set[Int] =
    models.flatMap(m => m.backingRdds.map(_.id) ++ m.servingIndexRddIds).toSet
}
