package graft.ops

import org.apache.spark.rdd.RDD

import scala.collection.mutable.ArrayBuffer

/** The blocked top-k kernel behind every vector-scoring path: LSH
  * ([[Similarity.lshTopK]]), IVF and MIPS ([[Similarity.ivfTopK]],
  * [[Similarity.mipsIvfTopK]]), the IVF-PQ ADC shortlist
  * ([[Similarity.ivfPqTopK]]) and exact ALS serving
  * (`GraftALSModel.recommendForAllUsers`/`itemNeighbors`). Each of them
  * scores one (query, block) pair into a bounded [[Buffer]], merges the
  * per-query partials across blocks with one `reduceByKey`
  * ([[topKRows]]) and flattens them to `(query, neighbor, rank, score)`
  * rows — the local-then-merge shape of REPOSE (ICDE 2021) and
  * incremental top-k similarity search (EDBT 2020). The callers keep their
  * own scoring arithmetic; only the ranking, merging and block packing
  * live here.
  *
  * Ranking is one total order: `Double.compare` on −score, then id
  * ascending. A NaN score therefore ranks after every number, and a NaN
  * candidate can never displace a real one. For every other score the
  * order equals the primitive `(score desc, id asc)` one: they differ only
  * on NaN and on −0.0 against +0.0, and no caller produces −0.0. Every dot
  * and lookup-table sum starts at +0.0, and a round-to-nearest sum is −0.0
  * only when both addends are; a cosine quotient of a nonzero dot of
  * float-widened vectors by their finite norm product is too large in
  * magnitude to underflow to zero.
  */
private[graft] object BlockTopK {

  /** Packed rows: ids, row-major float matrix, L2 norms. */
  type Block = (Array[Long], Array[Float], Array[Double])

  /** One query's ranked partial: ids and scores, best first. */
  type Partial = (Array[Long], Array[Double])

  /** True when `(sa, ia)` ranks strictly before `(sb, ib)`. */
  @inline def precedes(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
    val c = java.lang.Double.compare(-sa, -sb)
    c < 0 || (c == 0 && ia < ib)
  }

  /** `Σ v(i)·v(i)`, left to right in double. */
  def selfDot(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    s
  }

  /** Bounded top-`k` buffer kept sorted best first. `k` is small, so a
    * linear shift beats a heap on cache behaviour. [[reset]] makes it
    * reusable across queries.
    */
  final class Buffer(k: Int) {
    require(k > 0)
    private val ids = new Array[Long](k)
    private val scores = new Array[Double](k)
    private var size = 0

    def reset(): Unit = size = 0

    def offer(id: Long, s: Double): Unit = {
      // a full buffer skips a candidate that ranks after its last entry
      if (size < k || !precedes(scores(k - 1), ids(k - 1), s, id)) {
        var pos = if (size < k) size else k - 1
        while (pos > 0 && precedes(s, id, scores(pos - 1), ids(pos - 1))) {
          scores(pos) = scores(pos - 1)
          ids(pos) = ids(pos - 1)
          pos -= 1
        }
        scores(pos) = s
        ids(pos) = id
        if (size < k) size += 1
      }
    }

    def result(): Partial =
      (java.util.Arrays.copyOf(ids, size), java.util.Arrays.copyOf(scores, size))
  }

  /** Linear merge of two ranked partials, truncated to `k`. An id equal
    * to the one just emitted is skipped: LSH meets one neighbor once per
    * table it collides in, always with the same score, so the copies sit
    * next to each other. Where ids are unique it skips nothing.
    */
  def merge(a: Partial, b: Partial, k: Int): Partial = {
    val (aIds, aS) = a
    val (bIds, bS) = b
    val ids = new Array[Long](math.min(k, aIds.length + bIds.length))
    val scores = new Array[Double](ids.length)
    var i = 0
    var j = 0
    var n = 0
    while (n < ids.length && (i < aIds.length || j < bIds.length)) {
      val fromA = j == bIds.length ||
        (i < aIds.length && !precedes(bS(j), bIds(j), aS(i), aIds(i)))
      val id = if (fromA) aIds(i) else bIds(j)
      val s = if (fromA) aS(i) else bS(j)
      if (fromA) i += 1 else j += 1
      if (n == 0 || ids(n - 1) != id) {
        ids(n) = id
        scores(n) = s
        n += 1
      }
    }
    if (n == ids.length) (ids, scores)
    else (java.util.Arrays.copyOf(ids, n), java.util.Arrays.copyOf(scores, n))
  }

  /** Merges every query's partials across blocks and flattens them to
    * `(query, neighbor, rank, score)` rows, rank from 1.
    */
  def topKRows(partial: RDD[(Long, Partial)], k: Int): RDD[(Long, Long, Int, Double)] =
    partial.reduceByKey(merge(_, _, k)).flatMap { case (q, (ids, scores)) =>
      ids.indices.map(i => (q, ids(i), i + 1, scores(i)))
    }

  /** Cuts a key-sorted stream into runs of one key, each at most
    * `maxRows` long: a key with more rows yields several runs, never a
    * bigger one, and only one run is held at a time.
    */
  def runs[K, V](it: Iterator[(K, V)], maxRows: Int): Iterator[(K, ArrayBuffer[V])] = {
    val buf = it.buffered
    new Iterator[(K, ArrayBuffer[V])] {
      def hasNext: Boolean = buf.hasNext
      def next(): (K, ArrayBuffer[V]) = {
        val key = buf.head._1
        val rows = ArrayBuffer.empty[V]
        while (buf.hasNext && buf.head._1 == key && rows.length < maxRows)
          rows += buf.next()._2
        (key, rows)
      }
    }
  }

  /** [[runs]] packed as [[Block]]s: `(ids, row-major mat, norms)`, norm
    * = `sqrt(selfDot(row))`.
    */
  def pack[K](it: Iterator[(K, (Long, Array[Float]))], maxRows: Int): Iterator[(K, Block)] =
    runs(it, maxRows).map { case (key, rows) =>
      val n = rows.length
      val d = rows(0)._2.length
      val ids = new Array[Long](n)
      val mat = new Array[Float](n * d)
      val norms = new Array[Double](n)
      var i = 0
      while (i < n) {
        ids(i) = rows(i)._1
        System.arraycopy(rows(i)._2, 0, mat, i * d, d)
        norms(i) = math.sqrt(selfDot(rows(i)._2))
        i += 1
      }
      (key, (ids, mat, norms))
    }
}
