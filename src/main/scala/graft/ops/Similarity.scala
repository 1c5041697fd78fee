package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`).
  *
  * Three tiers:
  *   - [[bruteForceTopK]] — exact cosine top-k via a blocked cross join +
  *     window rank. O(n·m); the correctness baseline and the right answer
  *     when one side is small enough to broadcast.
  *   - [[lshTopK]] — random-hyperplane LSH: candidates only from matching
  *     sign-buckets across several tables, then exact re-rank. The scale
  *     path: shuffle volume ∝ bucket occupancy, not n².
  *   - [[ivfTopK]] — IVF-style coarse quantization against a deterministic
  *     centroid codebook; queries probe the `nProbe` nearest cells. The
  *     100 TB pattern (partition pruning by cell).
  *
  * [[lshTopK]], [[ivfTopK]], [[mipsIvfTopK]] and the ADC shortlist of
  * [[ivfPqTopK]] score (query, block) pairs into [[BlockTopK]] buffers and
  * merge them per query there; cells are probed by [[probeCellsPrim]]
  * alone. Ranking is score descending by `Double.compare`, then id
  * ascending, so a NaN score ranks after every real neighbor.
  */
object Similarity {

  /** Deterministic pseudo-random unit hyperplanes: plane p component d =
    * a fixed hash-derived value in [−1, 1). Generated driver-side from the
    * seed only (no RNG state), so signatures are reproducible anywhere.
    */
  private[ops] def hyperplanes(dim: Int, numPlanes: Int, seed: Long): Array[Array[Float]] = {
    Array.tabulate(numPlanes) { p =>
      val rng = new java.util.Random(seed * 1000003L + p)
      Array.fill(dim)((rng.nextFloat() * 2f) - 1f)
    }
  }

  /** The full LSH plane set as `tables × planes × dim` — the exact arrays
    * [[withHyperplaneSignatures]] signs against (table t uses seed + t).
    * Public so the driver gate can DUMP the planes and replay signature
    * computation externally (dedup_embedding's oracle).
    */
  def lshPlanes(dim: Int, planesPerTable: Int, numTables: Int, seed: Long): Array[Array[Array[Float]]] =
    Array.tabulate(numTables)(t => hyperplanes(dim, planesPerTable, seed + t))

  /** Adds `sigs: ARRAY<STRUCT<table INT, sig BIGINT>>` — per LSH table, the
    * packed sign-bit signature of the vector against that table's planes.
    *
    * The plane set ships as ONE 3-D literal (tables × planes × dim) indexed
    * inside the lambdas, not as tables×planes separate array literals —
    * the expanded form built an expression tree whose Catalyst
    * analysis/codegen dominated wall-clock on the driver (seconds per plan
    * compile, recompiled per join side).
    */
  private[ops] def withHyperplaneSignatures(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      planesPerTable: Int,
      numTables: Int,
      seed: Long): DataFrame = {
    // one codegen SignBitsExpr per table (round 8 — was an interpreted
    // aggregate(lambda) over a 3-D plane literal with per-plane
    // element_at chains, ~0.2 ms/row; signatures now cost so little that
    // callers recompute them instead of caching the banded frame). Bit
    // arithmetic identical to the HOF form and the oracle replays.
    val sigs = array((0 until numTables).map { t =>
      val planes = hyperplanes(dim, planesPerTable, seed + t)
      struct(
        lit(t).as("table"),
        org.apache.spark.sql.GraftSqlShims.column(
          graft.functions.SignBitsExpr(
            org.apache.spark.sql.GraftSqlShims.expression(col(vecCol)), planes))
          .as("sig"))
    }: _*)
    df.withColumn("sigs", sigs)
  }

  /** Explicit shuffle width for the cell-clustered index writes: a
    * count-less `repartition(col)` is an AQE-coalescible shuffle, and for
    * a small batch AQE merges the write to ONE task that emits every cell
    * file serially (measured 13.9 s vs 3.4 s on the bucket-index twin of
    * this layout). Pinning the session's shuffle width keeps cell
    * co-location (one file per cell) at fixed parallelism.
    */
  private def clusterWidth(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** cosine(a,b) from a precomputed-norm pair: one dot per pair instead of
    * three (norms are per-ROW and must be computed before the pairwise join,
    * not inside it — n+m norm evals instead of n·m).
    */
  private def cosineWithNorms(qv: Column, cv: Column, qn: Column, cn: Column): Column =
    when(qn === 0.0 || cn === 0.0, 0.0)
      .otherwise(VectorFunctions.dot(qv, cv) / (qn * cn))

  /** Exact cosine top-k neighbors for every query vector. `queries` and
    * `corpus` must expose (idCol, vecCol). Self-matches excluded. Ties
    * broken by neighbor id, so results are fully deterministic.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // widen the probe side: below the (broadcast) pairwise join the output
    // keeps the probe's partitioning, so a single-split probe would score
    // all n·m pairs in one task
    val q = Parallelism.widen(queries).select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorFunctions.norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      VectorFunctions.norm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** LSH-bucketed approximate top-k: candidates = pairs sharing a bucket in
    * any table, exact cosine re-rank inside the candidate set.
    *
    * Parameter regime: collision probability per table is (1-θ/π)^planes,
    * so SHORT signatures + MORE tables raise recall while LONG signatures
    * shrink buckets (the near-dup regime — see Dedup.embeddingNearDups).
    * Candidate volume is ≈ n²·tables/2^planes, so the right signature
    * width GROWS with the corpus: `numPlanes < 0` (the default) sizes it
    * as log₂(n/64) — bucket occupancy stays ~64 rows and candidate volume
    * ~64·tables per query at ANY corpus size, trading recall on
    * structureless corpora for bounded cost. sim_recall reports the
    * measured recall@k of this trade; IVF is the higher-recall tier on
    * clustered data.
    *
    * `queryIdPredicate` restricts the QUERY side of the search to ids the
    * predicate accepts, while the corpus side (bucketing + neighbors) stays
    * the full input — the shape both batch serving (score one day's new
    * items against everything) and sampled quality measurement need. The
    * filter lands below the candidate self-join, so candidate volume
    * scales with the accepted fraction.
    */
  def lshTopK(
      vectors: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      numPlanes: Int = -1,
      numTables: Int = 12,
      seed: Long = 42L,
      queryIdPredicate: Option[Column => Column] = None,
      maxBucket: Int = -1,
      portableCapHash: Boolean = false): DataFrame = {
    val planes =
      if (numPlanes > 0) numPlanes
      else {
        val n = vectors.count().toDouble
        math.max(4, math.ceil(math.log(math.max(n / 64.0, 2.0)) / math.log(2.0)).toInt)
      }
    // Bucket-occupancy cap (round 7, the dedup tier's df-cap applied to
    // LSH): on a strongly CLUSTERED corpus the sign signature is dominated
    // by the cluster-center direction, so buckets converge to the clusters
    // and candidate volume grows ~n²/clusters no matter how many planes —
    // measured 21.8x wall per 10x data on a 16-cluster corpus. Capping the
    // NEIGHBOR side of each bucket to a deterministic hash-ordered sample
    // bounds per-query candidates at tables·cap while queries keep probing
    // every bucket they land in; within a dense cluster any cap-sized
    // subset still carries near-duplicate neighbors, so top-k quality
    // degrades gracefully (sim_recall measures exactly this). Auto cap =
    // 4x the occupancy the plane auto-sizing targets.
    val bucketCap = if (maxBucket > 0) maxBucket else 256
    val base = Parallelism.widen(vectors).select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.norm(col(vecCol)).as("n"))
    val sigs = withHyperplaneSignatures(base, "v", dim, planes, numTables, seed)
    // bands carry ONLY ids — the dedup `distinct` then exchanges 16-byte
    // rows, not 64-float vectors; vectors re-attach after dedup. Persisted:
    // the self-join would otherwise run the signature lineage once per side
    val banded = sigs.select(col("id"), explode(col("sigs")).as("ts"))
      .select(col("id"), col("ts.table").as("t"), col("ts.sig").as("sig"))
      .persist()
    // materialize the signature pass NOW at full scan parallelism: the
    // first consumer is otherwise a broadcast-exchange build, whose
    // collect pipeline runs the (interpreted-HOF) signature lineage with
    // the exchange's own few tasks — measured 20s vs 1s for the same work
    banded.count()
    val queryBands = queryIdPredicate.fold(banded)(p => banded.where(p(col("id"))))
    // `portableCapHash` swaps the cap's selection hash for the cross-engine
    // md5-prefix family so a DuckDB oracle can replay the capped sample
    // bit-for-bit (the minhash precedent: production default stays
    // xxhash64, the oracle-checked covering query opts into portable)
    val capOrder: Column =
      if (portableCapHash) TextOps.portableHash56(col("id").cast("string"))
      else xxhash64(col("id"), lit(seed))
    val bucketW = Window.partitionBy("t", "sig").orderBy(capOrder, col("id"))
    val cappedBands = banded
      .withColumn("__r", row_number().over(bucketW))
      .where(col("__r") <= bucketCap)
      .drop("__r")
    // Scoring + top-k run in the bucketed primitive-array kernel (round 8
    // — was candidate-pair DataFrame joins: 20M pair rows re-attached to
    // 64-float vectors TWICE, ~10 GB of exchange at the ×10 tier for
    // sim_topk_lsh's 60 s; the kernel ships each capped bucket ONCE as a
    // ≤ cap×dim block and streams query rows against it by reference,
    // measured 150M pairs/s vs ~3M). The candidate SET (capped buckets,
    // self-exclusion, cross-table dedup) and the arithmetic (double dot /
    // norm product, (cosine desc, id asc) top-k) are identical to the
    // join plan, so the DuckDB replays stay hash-green across the swap.
    val result = bucketedTopKKernel(queryBands, cappedBands, base, k)
    banded.unpersist(blocking = false)
    result
  }

  /** Scoring kernel shared shape with [[probedTopKKernel]], keyed by LSH
    * bucket `(table, sig)` instead of IVF cell. Each capped bucket becomes
    * ONE primitive block (the `maxBucket` cap bounds it by construction —
    * the skew chunker the IVF kernel needs is unnecessary here); query
    * rows stream against their buckets' blocks by reference. Unlike IVF
    * (one cell per corpus vector), a pair can collide in several tables;
    * [[BlockTopK.merge]] drops the copies, which meet with one score.
    */
  private def bucketedTopKKernel(
      queryBands: DataFrame,
      cappedBands: DataFrame,
      base: DataFrame,
      k: Int): DataFrame = {
    val spark = base.sparkSession
    // (t, sig) -> (id, vec): vectors re-attach to the 16-byte band rows
    // BEFORE the kernel so the bucket shuffle moves n·tables vectors once
    def withVecs(bands: DataFrame) = bands
      .join(base.select(col("id"), col("v")), "id")
      .select(col("t"), col("sig"), col("id"), col("v"))
      .rdd
      .map(r => ((r.getInt(0), r.getLong(1)), (r.getLong(2), r.getSeq[Float](3).toArray)))

    val parts = math.max(Parallelism.widen(base).rdd.getNumPartitions, 2)
    val partitioner = new org.apache.spark.HashPartitioner(parts)
    // one block per bucket: (ids, row-major mat, norms) — ≤ cap rows
    val bucketBlocks = withVecs(cappedBands)
      .repartitionAndSortWithinPartitions(
        new org.apache.spark.HashPartitioner(parts))
      .mapPartitions(BlockTopK.pack(_, Int.MaxValue), preservesPartitioning = true)

    val partial = withVecs(queryBands).join(bucketBlocks, partitioner).map {
      case (_, ((qid, qv), (ids, mat, norms))) =>
        val d = qv.length
        val qn = math.sqrt(BlockTopK.selfDot(qv))
        val top = new BlockTopK.Buffer(k)
        var i = 0
        while (i < ids.length) {
          if (ids(i) != qid) {
            var s = 0.0
            var dd = 0
            val off = i * d
            while (dd < d) { s += qv(dd).toDouble * mat(off + dd); dd += 1 }
            top.offer(ids(i), if (qn == 0.0 || norms(i) == 0.0) 0.0 else s / (qn * norms(i)))
          }
          i += 1
        }
        (qid, top.result())
    }

    import spark.implicits._
    BlockTopK.topKRows(partial, k).toDF("query_id", "neighbor_id", "rank", "cosine")
      // bounded (nQueries·k) result materialized so the banded cache is
      // released per-call, not at session end — see ivfTopK/mipsIvfTopK
      .localCheckpoint()
  }

  /** Deterministic IVF codebook: `numCells` pseudo-random unit-ish
    * centroids — the cold-start initializer for [[trainCodebook]] and the
    * default codebook of [[ivfTopK]].
    */
  private[ops] def codebook(dim: Int, numCells: Int, seed: Long): Array[Array[Float]] =
    hyperplanes(dim, numCells, seed * 7919L)

  /** Standard inverted-list sizing for a corpus of `n`: cells ≈ √n,
    * clamped. Per-cell list length and cell count grow together, so with
    * a CONSTANT probe count a single lookup touches O(√n) candidates and
    * a batch self-join is O(n^1.5) — assignment cost n·cells balances
    * search cost n·probes·n/cells, the classical IVF optimum. A fixed
    * cell count (the pre-round-8 16/64 defaults) makes inverted lists
    * grow linearly and a batch search O(n²/cells): measured 68× wall at
    * 10× vectors on the x10 tier before this sizing was applied to the
    * trained-codebook caches.
    */
  def defaultNumCells(n: Long): Int =
    math.max(16, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  /** Top-`n` cells of `v` by dot score, as the native codegen expression
    * [[graft.functions.TopCellsExpr]] (round 6 — was a `transform` +
    * `array_sort`(lambda) + `slice` HOF chain, evaluated interpreted with
    * O(cells·log cells) lambda comparator frames per ROW; under √n-sized
    * codebooks that interpreted island dominated every IVF stage). Ties
    * break toward the LOWEST cell id — the SAME rule [[probeCellsPrim]]
    * applies outside Catalyst, so index assignment and probe selection can
    * never diverge on a near-tie; parity with the HOF form is pinned in
    * TopCellsExprSpec.
    *
    * The `Seq[(Int, Array[Float])]` overload carries explicit cell ids —
    * used to probe only OCCUPIED cells (a centroid that lost every member
    * during k-means has no inverted list; probing it wastes one of the
    * query's nProbe slots and can strand a query with zero candidates).
    */
  private def topCellsCol(cells: Seq[(Int, Array[Float])], v: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.TopCellsExpr(
        org.apache.spark.sql.GraftSqlShims.expression(v),
        cells.map(_._2).toArray, cells.map(_._1).toArray, n))

  private def topCellsCol(cells: Array[Array[Float]], v: Column, n: Int): Column =
    topCellsCol(cells.zipWithIndex.map(_.swap).toSeq, v, n)

  /** Spherical-k-means refinement of the IVF codebook: assign every vector
    * to its max-dot centroid (the SAME rule `ivfTopK` probes with; with
    * unit centroids that is max-cosine), recompute per-cell per-dimension
    * means in one job ([[lloydMeans]]), re-normalize each centroid to
    * unit L2 (the closed-form optimal unit centroid for the dot objective —
    * plain mean centroids shrink toward 0 and degrade the assignment), and
    * repeat. Each iteration is one distributed pass; each partition sends
    * the driver one k×dim partial, which is added on arrival, so the
    * driver holds the running total plus the partials that arrive ahead of
    * a lower-indexed one, never O(corpus). Cells that lose all members
    * keep their previous centroid. Monotone: Σ maxᶜ v·c never decreases
    * across iterations.
    */
  def trainCodebook(
      vectors: DataFrame,
      vecCol: String = "embedding",
      dim: Int = 64,
      numCells: Int = 16,
      iterations: Int = 3,
      seed: Long = 42L): Array[Array[Float]] = {
    def normalized(c: Array[Float]): Array[Float] = {
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      if (n > 0) c.map(x => (x / n).toFloat) else c
    }
    val base = Parallelism.widen(vectors).select(col(vecCol).as("v"))
    // Initialize centroids FROM THE DATA (deterministic hash-ordered
    // sample), not from random hyperplanes: real embedding/factor corpora
    // are anisotropic (a cone around the dominant direction), and random
    // directions mostly never win a single vector — measured 46/126 live
    // cells on sf0.1 item factors, i.e. 3x-fat inverted lists and 3x the
    // probe cost. Seeding from actual vectors puts every centroid where
    // data is; k-means only has to separate, not find, the mass. The
    // sample is one tiny job (numCells rows reach the driver); falls back
    // to hyperplanes when the corpus is smaller than the codebook.
    val dataInit = base
      .where(VectorFunctions.dot(col("v"), col("v")) > lit(0.0))
      .withColumn("__h", xxhash64(to_json(struct(col("v"))), lit(seed)))
      .orderBy("__h", "v").limit(numCells)
      .collect().map(r => normalized(r.getSeq[Float](0).toArray))
    var centroids =
      if (dataInit.length == numCells) dataInit
      else codebook(dim, numCells, seed).map(normalized)
    for (_ <- 0 until iterations) {
      // one runJob per pass (opt r19): the former dim× posexplode +
      // (cell, pos) hash aggregate + collect ran the whole assignment
      // through dim-times the rows and several AQE stage jobs per
      // iteration; the fold accumulates the same double sums in the same
      // per-partition row order and merges partitions in index order —
      // dumped floats verified byte-identical (see OPTIMIZATION_r19.md)
      val (counts, sums) = lloydMeans(
        base.withColumn("cell", topCellsCol(centroids, col("v"), 1).getItem(0))
          .select(col("cell"), col("v")),
        centroids.length, dim)
      val next = centroids.map(_.clone())
      var cell = 0
      while (cell < next.length) {
        if (counts(cell) > 0L) {
          val m = new Array[Float](dim)
          var i = 0
          while (i < dim) { m(i) = (sums(cell)(i) / counts(cell)).toFloat; i += 1 }
          val u = normalized(m)
          if (u.exists(_ != 0f)) next(cell) = u
        }
        cell += 1
      }
      centroids = next
    }
    centroids
  }

  /** One Lloyd accumulation pass as a single job: rows are
    * `(group INT, vec ARRAY<FLOAT>)`; returns per-group member counts and
    * per-dimension double sums. Summation order is the partial-aggregate
    * order the old `avg` computed — per key, row order within a partition,
    * partitions merged in partition-index order — which is what keeps the
    * trained floats stable (and byte-identical to the dumps the replaying
    * oracles pin). Each partition ships one `groups × width` partial, and
    * [[OrderedMerge]] adds it as it arrives, so the driver holds the total
    * plus only the partials that finish ahead of a lower-indexed one.
    */
  private def lloydMeans(
      assigned: DataFrame,
      groups: Int,
      width: Int): (Array[Long], Array[Array[Double]]) =
    OrderedMerge.aggregate(assigned.queryExecution.toRdd, lloydZero(groups, width))(
      it => {
        val (counts, sums) = lloydZero(groups, width)
        while (it.hasNext) {
          val r = it.next()
          val g = r.getInt(0)
          val arr = r.getArray(1)
          val s = sums(g)
          var i = 0
          while (i < width) { s(i) += arr.getFloat(i); i += 1 }
          counts(g) += 1L
        }
        (counts, sums)
      },
      lloydAdd)

  private[ops] def lloydZero(groups: Int, width: Int): (Array[Long], Array[Array[Double]]) =
    (new Array[Long](groups), Array.ofDim[Double](groups, width))

  /** Adds Lloyd partial `b` into `a` (in place) and returns `a`. */
  private[ops] def lloydAdd(
      a: (Array[Long], Array[Array[Double]]),
      b: (Array[Long], Array[Array[Double]])): (Array[Long], Array[Array[Double]]) = {
    val (counts, sums) = a
    val (c, ss) = b
    var g = 0
    while (g < counts.length) {
      counts(g) += c(g)
      val s = sums(g)
      val t = ss(g)
      var i = 0
      while (i < s.length) { s(i) += t(i); i += 1 }
      g += 1
    }
    a
  }

  /** Adds the IVF `cell` assignment (argmax-dot centroid) to a corpus —
    * the column a 100 TB index is PHYSICALLY PARTITIONED by (see
    * [[writeCellIndex]] / [[servePrunedTopK]]).
    */
  def withCellAssignment(
      corpus: DataFrame,
      cells: Array[Array[Float]],
      vecCol: String = "embedding"): DataFrame =
    corpus.withColumn("cell", topCellsCol(cells, col(vecCol), 1).getItem(0))

  /** Materializes the IVF index: corpus written partitioned by `cell`, so
    * each cell is its own directory and a probe-limited serve reads ONLY
    * its `nProbe` directories (Catalyst `PartitionFilters`, zero I/O on
    * the rest). This is the build-side of the 100 TB serving story; the
    * in-memory [[ivfTopK]] is the batch-search twin over the same
    * assignment rule.
    */
  def writeCellIndex(
      corpus: DataFrame,
      cells: Array[Array[Float]],
      path: String,
      vecCol: String = "embedding"): Unit =
    withCellAssignment(Parallelism.widen(corpus), cells, vecCol)
      // cluster by cell before the partitioned write: without it every
      // write task emits a sliver into every cell dir (tasks × cells tiny
      // files — measured 2.3x serve wall at a √n-sized codebook); with it
      // each cell is one file and dir listings stay O(cells)
      .repartition(clusterWidth(corpus), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Incremental index maintenance: appends NEW vectors to an existing
    * cell-partitioned index under the SAME codebook — assignment-only, the
    * add-without-train operation a serving index needs between codebook
    * retrains (retraining cadence is policy above this operator; drift is
    * what the recall meters measure). Each batch writes only its own files
    * into the cell directories it touches, so an append is O(batch), not
    * O(index), and readers see the union immediately.
    */
  def appendToCellIndex(
      newVectors: DataFrame,
      cells: Array[Array[Float]],
      path: String,
      vecCol: String = "embedding"): Unit =
    withCellAssignment(Parallelism.widen(newVectors), cells, vecCol)
      .repartition(clusterWidth(newVectors), col("cell"))   // one file per touched cell per batch
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Point-lookup serving over a [[writeCellIndex]] layout: scan only the
    * query's probe cells (partition-pruned), exact cosine re-rank inside
    * them. The per-request cost is `nProbe/numCells` of the corpus
    * regardless of corpus size — the property that makes the index usable
    * interactively at 100 TB.
    *
    * Probing ranks OCCUPIED cells only, matching [[ivfTopK]]'s in-memory
    * kernel exactly (round-7 ADVICE: ranking all cells diverges from the
    * kernel whenever k-means leaves a dead cell in the query's top
    * `nProbe`). Occupancy comes from the index's own `cell` partition
    * column — a partition-column-only distinct, answered from the file
    * listing, ≤ numCells ints. A serving tier issuing many lookups should
    * pass the precomputed set via `occupiedCells` and pay the listing once.
    */
  def servePrunedTopK(
      index: DataFrame,
      queryId: Long,
      queryVec: Array[Float],
      cells: Array[Array[Float]],
      k: Int = 10,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      occupiedCells: Option[Set[Int]] = None): DataFrame = {
    val occ = occupiedCells.getOrElse(
      index.select("cell").distinct().collect().map(_.getInt(0)).toSet)
    val (occIds, occMat) = flattenCells(cells.zipWithIndex.collect {
      case (c, i) if occ.contains(i) => (i, c)
    }.toSeq)
    val probes = probeCellsPrim(queryVec, occIds, occMat, nProbe).toSeq
    val qn = math.sqrt(queryVec.map(x => x.toDouble * x).sum)
    val qv = array(queryVec.map(lit): _*)
    index
      .where(col("cell").isin(probes: _*))
      .where(col(idCol) =!= queryId)
      .select(
        lit(queryId).as("query_id"),
        col(idCol).as("neighbor_id"),
        cosineWithNorms(qv, col(vecCol), lit(qn), VectorFunctions.norm(col(vecCol)))
          .as("cosine"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("cosine"), asc("neighbor_id"))))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** PCA projection + explained variance of an embedding column. */
  case class PcaResult(projected: DataFrame, explainedVariance: Array[Double])

  /** Distributed PCA over embeddings, composed from Spark ML's own
    * estimator (preference order (a): the built-in op already has the
    * right scale shape — covariance via one distributed Gramian pass with
    * only the dim×dim matrix on the driver, eigendecomposition local,
    * projection a narrow per-row matmul). Used for embedding compression
    * before ANN (search in k ≪ dim dims, re-rank in full precision) and
    * for corpus drift diagnostics via the explained-variance profile.
    */
  def pca(
      embeddings: DataFrame,
      k: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): PcaResult = {
    import org.apache.spark.ml.feature.{PCA => MlPca}
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val withVec = Parallelism.widen(embeddings)
      .select(col(idCol), array_to_vector(col(vecCol).cast("array<double>")).as("v"))
    val model = new MlPca().setInputCol("v").setOutputCol("p").setK(k).fit(withVec)
    val projected = model.transform(withVec)
      .select(col(idCol), vector_to_array(col("p")).as("pc"))
    PcaResult(projected, model.explainedVariance.toArray)
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou et al., "Product Quantization for Nearest
  // Neighbor Search", TPAMI 2011): split each vector into M subvectors,
  // k-means each subspace to K centroids, store a vector as M small codes
  // (M bytes at K≤256 vs dim×4 bytes raw — 32× compression at dim=64,
  // M=8). Query scoring is ADC: one M×K lookup table per query, then a
  // pair costs M array reads instead of dim multiplies. At 100 TB the
  // codes table is what stays hot; raw vectors are only touched for the
  // final exact re-rank of a bounded candidate set.
  // ------------------------------------------------------------------

  /** Deterministic PQ codebook init: M × K × (dim/M) pseudo-random
    * centroids (same generator family as [[codebook]]; Lloyd iterations in
    * [[trainPqCodebooks]] move them onto the data).
    */
  private[ops] def pqInit(dim: Int, numSubspaces: Int, numCentroids: Int,
      seed: Long): Array[Array[Array[Float]]] =
    Array.tabulate(numSubspaces)(m =>
      hyperplanes(dim / numSubspaces, numCentroids, seed * 104729L + m))

  /** `ARRAY<ARRAY<FLOAT>>` of the M subvectors of `v`. Materialize this
    * with `withColumn` BEFORE any per-centroid lambda so each slice is cut
    * once per row, not once per centroid probe.
    */
  private def subvecsCol(v: Column, numSubspaces: Int, subDim: Int): Column =
    transform(sequence(lit(0), lit(numSubspaces - 1)),
      m => slice(v, m.cast("int") * subDim + 1, lit(subDim)))

  /** Best (argmin-L2) centroid code for subvector `sv` of subspace `m`
    * (0-based column). argmin ‖sv−c‖² ≡ argmax (sv·c − ‖c‖²/2), so the
    * scan reuses the codegen'd dot; ‖c‖²/2 ships precomputed in
    * `halfNormLit`. Ties break toward the LOWEST code, like [[topCellsCol]].
    */
  private def bestCodeCol(cbLit: Column, halfNormLit: Column, m: Column,
      sv: Column, numCentroids: Int): Column = {
    val scored = transform(
      sequence(lit(0), lit(numCentroids - 1)),
      kk => struct(
        (VectorFunctions.dot(sv, element_at(element_at(cbLit, m.cast("int") + 1), kk.cast("int") + 1)) -
          element_at(element_at(halfNormLit, m.cast("int") + 1), kk.cast("int") + 1)).as("score"),
        kk.cast("int").as("code")))
    element_at(reverse(array_sort(scored, (a, b) =>
      when(a.getField("score") < b.getField("score"), -1)
        .when(a.getField("score") > b.getField("score"), 1)
        .when(a.getField("code") > b.getField("code"), -1)
        .when(a.getField("code") < b.getField("code"), 1)
        .otherwise(0))), 1).getField("code")
  }

  private def pqLiterals(cb: Array[Array[Array[Float]]]): (Column, Column) = {
    val cbLit = typedLit(cb.map(_.toSeq.map(_.toSeq)).toSeq)
    val halfLit = typedLit(cb.map(_.toSeq.map(c =>
      c.map(x => x.toDouble * x).sum / 2.0)).toSeq)
    (cbLit, halfLit)
  }

  /** Lloyd's k-means per subspace, all M subspaces in each distributed
    * pass: explode rows to (m, subvector), assign each to its argmin-L2
    * centroid, recompute per-(m, code, dimension) means, repeat. Only the
    * M×K×(dim/M) codebook (≈1k floats) ever reaches the driver, so the
    * identical loop trains on a 100 TB corpus. Codes that lose all members
    * keep their previous centroid.
    *
    * Above `maxTrainRows` the Lloyd passes run on a seeded hash-sample of
    * the corpus (standard IVF-PQ practice: the codebook is K centroids of
    * (dim/M) dims per subspace — a few thousand samples per centroid
    * saturate its quality, and full-corpus k-means was the 6.2×/decade
    * row of the ×100 bench). The sample is deterministic in
    * (`sampleIdCol`, `seed`), so dump-replaying oracles see stable
    * floats; at or below the threshold (every oracle-gate sf tier)
    * training remains full-corpus. Encoding/search always runs over the
    * WHOLE corpus — only the centroid fit is sampled.
    */
  def trainPqCodebooks(
      vectors: DataFrame,
      vecCol: String = "embedding",
      dim: Int = 64,
      numSubspaces: Int = 8,
      numCentroids: Int = 16,
      iterations: Int = 3,
      seed: Long = 42L,
      sampleIdCol: String = "vec_id",
      maxTrainRows: Long = 16384L): Array[Array[Array[Float]]] = {
    val subDim = dim / numSubspaces
    require(subDim * numSubspaces == dim, s"dim $dim not divisible by $numSubspaces")
    var cb = pqInit(dim, numSubspaces, numCentroids, seed)
    // sampling disabled → skip the sizing count entirely: the input is
    // typically an unpersisted projection, so an extra full-corpus action
    // is not free
    val train =
      if (maxTrainRows <= 0) vectors
      else {
        val n = vectors.count()
        if (n <= maxTrainRows) vectors
        else {
          // every ~(n/maxTrainRows)-th id by seeded hash — a fixed-rate,
          // order-independent sample the same corpus always reproduces
          val rate = (n + maxTrainRows - 1) / maxTrainRows
          vectors.where(pmod(xxhash64(col(sampleIdCol), lit(seed)), lit(rate)) === 0)
        }
      }
    val subs = Parallelism.widen(train)
      .select(posexplode(subvecsCol(col(vecCol), numSubspaces, subDim)).as(Seq("m", "sv")))
      .persist()
    try {
      for (_ <- 0 until iterations) {
        val (cbLit, halfLit) = pqLiterals(cb)
        // single-job fold over (m·K + code, sv) — see [[lloydMeans]]; the
        // former subDim× posexplode + (m, code, pos) aggregate + collect
        // ran several AQE stage jobs per iteration
        val (counts, sums) = lloydMeans(
          subs
            .withColumn("code", bestCodeCol(cbLit, halfLit, col("m"), col("sv"), numCentroids))
            .select((col("m") * lit(numCentroids) + col("code")).cast("int").as("g"),
              col("sv")),
          numSubspaces * numCentroids, subDim)
        val next = cb.map(_.map(_.clone()))
        var g = 0
        while (g < counts.length) {
          if (counts(g) > 0L) {
            val c = new Array[Float](subDim)
            var i = 0
            while (i < subDim) { c(i) = (sums(g)(i) / counts(g)).toFloat; i += 1 }
            next(g / numCentroids)(g % numCentroids) = c
          }
          g += 1
        }
        cb = next
      }
      cb
    } finally subs.unpersist(blocking = false)
  }

  /** Adds `codes: ARRAY<INT>` (length M, values in [0, K)) — the stored
    * form of a PQ-compressed corpus. At rest these pack to M bytes per
    * vector; everything downstream of the encode touches only this column.
    */
  def withPqCodes(
      df: DataFrame,
      codebooks: Array[Array[Array[Float]]],
      vecCol: String = "embedding"): DataFrame =
    df.withColumn("codes", bestCodesCol(codebooks, col(vecCol)))

  /** All-subspace PQ code assignment as M static codegen [[TopCellsExpr]]s
    * (one per subspace over the row's slice, bias = −‖c‖²/2 so top-1-dot ≡
    * argmin-L2) instead of the former nested `transform`/`array_sort`
    * lambda pipeline, which evaluated interpreted with M·K lambda frames
    * and a comparator sort PER ROW — the hot island of the ×100 IVF-PQ
    * probe. Arithmetic and the lowest-code tie-break are bit-identical to
    * [[bestCodeCol]] (kept for the dynamic-m training loop).
    */
  private def bestCodesCol(codebooks: Array[Array[Array[Float]]], v: Column): Column = {
    val subDim = codebooks.head.head.length
    array(codebooks.indices.map { m =>
      val cb = codebooks(m)
      val bias = cb.map(c => -(c.map(x => x.toDouble * x).sum / 2.0))
      org.apache.spark.sql.GraftSqlShims.column(
        graft.functions.TopCellsExpr(
          org.apache.spark.sql.GraftSqlShims.expression(
            slice(v, m * subDim + 1, subDim)),
          cb, cb.indices.toArray, 1, bias)).getItem(0)
    }: _*)
  }

  /** Adds `cell` (argmax-dot IVF assignment) and `residual` (v − cell
    * centroid). IVF-PQ encodes RESIDUALS: the coarse quantizer already
    * says which cell a vector is in, so PQ codes over `v` itself would
    * spend nearly all their resolution re-describing the cell and leave
    * within-cell ordering to noise (measured: recall@5 ≈ rerank/cell-size,
    * i.e. random, on clustered data). Codes over `v − centroid` spend it
    * on the within-cell detail the rerank actually needs.
    */
  def withCellResiduals(
      df: DataFrame,
      cells: Array[Array[Float]],
      vecCol: String = "embedding",
      outCol: String = "residual"): DataFrame = {
    val centLit = typedLit(cells.map(_.toSeq).toSeq)
    df.withColumn("cell", topCellsCol(cells, col(vecCol), 1).getItem(0))
      .withColumn(outCol,
        zip_with(col(vecCol), element_at(centLit, col("cell") + 1), (a, b) => a - b))
  }

  /** IVF-PQ ANN — the composed 100 TB shape: IVF cells prune which corpus
    * partitions a query touches ([[ivfTopK]]'s pruning story), PQ codes
    * make the in-cell scan cheap and small (ADC: per query one M×K lookup
    * table, per candidate M array reads), and only the top-`rerank` ADC
    * candidates are re-ranked with exact cosine over raw vectors.
    *
    * Round 10: the ADC shortlist runs in the same bucketed primitive-array
    * kernel as [[ivfTopK]] (per-cell blocks of ids + packed code BYTES,
    * per-query lut as one primitive double array, a [[BlockTopK]] buffer
    * of `rerank` per block and its map-side merge) instead of a Catalyst
    * join+groupBy over every candidate row — at the ×100 tier the row form
    * spent ~13× plain IVF's cost moving ~360M candidates through row
    * machinery while PQ's entire point is a CHEAPER per-candidate score
    * (M byte-indexed lut adds vs a d-float dot). Arithmetic is bit-identical
    * to [[ivfPqTopKPlan]], the Catalyst twin the DuckDB oracle replays —
    * `IvfPqKernelSpec` asserts exact result equality between the two.
    *
    * `trainedPq` must be trained on RESIDUALS of `trainedCells` (see
    * [[withCellResiduals]]); pass both from the same training run.
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      rerank: Int = 50,
      nProbe: Int = 4,
      numCells: Int = 16,
      numSubspaces: Int = 8,
      numCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      seed: Long = 42L,
      trainedCells: Option[Array[Array[Float]]] = None,
      trainedPq: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val cells = trainedCells.getOrElse(codebook(dim, numCells, seed))
    val pq = trainedPq.getOrElse(pqInit(dim, numSubspaces, numCentroids, seed))
    require(pq.head.length <= 256, "kernel packs PQ codes as bytes: numCentroids must be <= 256")
    val spark = corpus.sparkSession
    val sc = spark.sparkContext
    val numSub = pq.length
    val numCent = pq.head.length
    val subDim = pq.head.head.length
    val bcCells = sc.broadcast(cells)
    val bcPq = sc.broadcast(pq)
    // per-(m, code) additive bias, EXACTLY as bestCodesCol builds it:
    // −‖c‖²/2 with left-to-right double accumulation of the squares
    val bcBias = sc.broadcast(
      pq.map(cb => cb.map(c => -(c.map(x => x.toDouble * x).sum / 2.0))))

    // ---- corpus encode: one pass → (cell, (id, M code bytes)) ----------
    // cell = argmax-dot lowest-id-tie (TopCellsExpr n=1), residual = FLOAT
    // v − centroid (zip_with a − b), code_m = argmax over centroids of
    // (left-to-right double dot of the residual slice) + bias, lowest code
    // on ties — each step the exact arithmetic of the Catalyst twin.
    val corpusRdd = Parallelism.widen(corpus)
      .select(col(idCol).cast("long"), col(vecCol)).rdd
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val parts = math.max(corpusRdd.getNumPartitions, 2)
    val partitioner = new org.apache.spark.HashPartitioner(parts)

    val assigned = corpusRdd.mapPartitions { it =>
      val cs = bcCells.value
      val pqv = bcPq.value
      val bias = bcBias.value
      it.map { case (id, v) =>
        val bestC = assignCell(cs, v)
        val cent = cs(bestC)
        val resid = new Array[Float](v.length)
        var i = 0
        while (i < v.length) { resid(i) = v(i) - cent(i); i += 1 }
        val codes = new Array[Byte](numSub)
        var m = 0
        while (m < numSub) {
          val cb = pqv(m)
          val bm = bias(m)
          var bs = 0.0
          var bk = -1
          var kk = 0
          while (kk < numCent) {
            val cc = cb(kk)
            var s = 0.0
            var j = 0
            while (j < subDim) { s += resid(m * subDim + j).toDouble * cc(j); j += 1 }
            s += bm(kk)
            if (bk < 0 || s > bs) { bs = s; bk = kk }
            kk += 1
          }
          codes(m) = bk.toByte
          m += 1
        }
        (bestC, (id, codes))
      }
    }

    // per-cell blocks of (ids, packed codes), bounded like the IVF kernel's
    // 65,536-row blocks — skew produces MORE blocks, never a bigger one
    val subBlockRows = 65536
    val cellBlocks = assigned
      .repartitionAndSortWithinPartitions(partitioner)
      .mapPartitions(it => BlockTopK.runs(it, subBlockRows).map { case (cell, rows) =>
        val ids = new Array[Long](rows.length)
        val packed = new Array[Byte](rows.length * numSub)
        var i = 0
        while (i < rows.length) {
          ids(i) = rows(i)._1
          System.arraycopy(rows(i)._2, 0, packed, i * numSub, numSub)
          i += 1
        }
        (cell, (ids, packed))
      }, preservesPartitioning = true)

    // ---- query side: lut (M×K double dots) + top-nProbe cells ----------
    // probes rank ALL cells (the twin explodes topCellsCol over the full
    // codebook; empty cells simply produce no candidates in the join)
    val probedQ = Parallelism.widen(queries)
      .select(col(idCol).cast("long"), col(vecCol)).rdd
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .mapPartitions { it =>
        val cs = bcCells.value
        val pqv = bcPq.value
        val (allIds, allMat) = flattenCells(cs.indices.map(i => (i, cs(i))))
        it.flatMap { case (qid, qv) =>
          val lut = new Array[Double](numSub * numCent)
          var m = 0
          while (m < numSub) {
            val cb = pqv(m)
            var kk = 0
            while (kk < numCent) {
              val cc = cb(kk)
              var s = 0.0
              var j = 0
              while (j < subDim) { s += qv(m * subDim + j).toDouble * cc(j); j += 1 }
              lut(m * numCent + kk) = s
              kk += 1
            }
            m += 1
          }
          probeCellsPrim(qv, allIds, allMat, nProbe).map { cell =>
            val cent = cs(cell)
            var s = 0.0
            var j = 0
            while (j < qv.length) { s += qv(j).toDouble * cent(j); j += 1 }
            (cell, (qid, lut, s))
          }
        }
      }

    // ---- ADC scoring: per (query, block) bounded top-`rerank` buffer ----
    val partial = probedQ.join(cellBlocks, partitioner).map {
      case (_, ((qid, lut, qdotcell), (ids, packed))) =>
        val top = new BlockTopK.Buffer(rerank)
        var i = 0
        while (i < ids.length) {
          if (ids(i) != qid) {
            // lutSum left-associative from m=0, then qdotcell + lutSum —
            // the twin's `col("qdotcell") + (l0 + l1 + …)` fold order
            val off = i * numSub
            var ls = lut(packed(off) & 0xff)
            var m = 1
            while (m < numSub) { ls += lut(m * numCent + (packed(off + m) & 0xff)); m += 1 }
            top.offer(ids(i), qdotcell + ls)
          }
          i += 1
        }
        (qid, top.result())
    }

    import spark.implicits._
    val candidates = BlockTopK.topKRows(partial, rerank)
      .map { case (qid, nid, _, _) => (qid, nid) }
      .toDF("query_id", "neighbor_id")

    // ---- exact re-rank of the bounded candidate set (queries × rerank
    // rows): raw vectors and norms re-attach here, identical to the twin
    val queriesBase = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"),
        VectorFunctions.norm(col(vecCol)).as("qn"))
    val corpusBase = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("cv"),
        VectorFunctions.norm(col(vecCol)).as("cn"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    candidates
      .join(queriesBase, "query_id")
      .join(corpusBase, "neighbor_id")
      .withColumn("cosine", cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** The Catalyst-expression form of [[ivfPqTopK]] — every stage a
    * DataFrame op over codegen expressions, which is exactly what the
    * sim_topk_ivfpq DuckDB oracle replays stage by stage. Kept as the
    * kernel's semantic twin (`IvfPqKernelSpec` pins exact equality) and as
    * the reference description of the ADC arithmetic contract.
    */
  def ivfPqTopKPlan(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      rerank: Int = 50,
      nProbe: Int = 4,
      numCells: Int = 16,
      numSubspaces: Int = 8,
      numCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      seed: Long = 42L,
      trainedCells: Option[Array[Array[Float]]] = None,
      trainedPq: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val cells = trainedCells.getOrElse(codebook(dim, numCells, seed))
    val pq = trainedPq.getOrElse(pqInit(dim, numSubspaces, numCentroids, seed))
    val subDim = dim / numSubspaces
    val centLit = typedLit(cells.map(_.toSeq).toSeq)
    val corpusBase = Parallelism.widen(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        VectorFunctions.norm(col(vecCol)).as("cn"))
    // ADC side: codes only — M ints per row instead of dim floats.
    // Codes quantize RESIDUALS (see withCellResiduals): x̂ = c_cell + PQ(r)
    val corpusCodes =
      withPqCodes(withCellResiduals(corpusBase, cells, "cv"), pq, "residual")
        .select("neighbor_id", "cell", "codes")

    // per-query ADC lookup table: lut[m][k] = q_m · c_mk (M×K dots, once
    // per query row, materialized before the candidate join). STATIC
    // unrolled codegen dots over literal centroids — the former nested
    // transform(sequence(...)) form evaluated all M·K dots through
    // interpreted lambda frames per query row.
    val probedQueries = Parallelism.widen(queries)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        VectorFunctions.norm(col(vecCol)).as("qn"))
      .withColumn("lut", array((0 until numSubspaces).map { m =>
        array((0 until numCentroids).map { kk =>
          VectorFunctions.dot(
            slice(col("qv"), m * subDim + 1, subDim),
            typedLit(pq(m)(kk).toSeq))
        }: _*)
      }: _*))
      .withColumn("cell", explode(topCellsCol(cells, col("qv"), nProbe)))
      // q·c_cell: one dot per (query, probed cell) row, BEFORE the candidate
      // join — makes ADC scores comparable across a query's nProbe cells
      // (q·x̂ = q·c_cell + q·PQ(r)) at zero per-candidate cost
      .withColumn("qdotcell",
        VectorFunctions.dot(col("qv"), element_at(centLit, col("cell") + 1)))

    // UNROLLED lut sum, not `aggregate(sequence(...))`: the HOF form is
    // interpreted (one lambda frame per subspace per candidate row) and was
    // a whole-query bottleneck at the ×100 tier; M is a small compile-time
    // constant, so an explicit left-associative chain of element_at adds
    // keeps ADC inside whole-stage codegen with bit-identical accumulation
    // order (0.0 + a₀ + a₁ + … ≡ the aggregate's fold), preserving the
    // hash-green DuckDB replay.
    val lutSum = (0 until numSubspaces)
      .map(m => element_at(element_at(col("lut"), lit(m + 1)),
        element_at(col("codes"), lit(m + 1)) + 1))
      .reduce(_ + _)
    // ADC shortlist via the bounded top-k UDAF, not a row_number window:
    // the window form sorts EVERY candidate row through one shuffle
    // (n·probes·n/cells rows — the dominant ×100 cost at 360M candidates);
    // the aggregator keeps an O(rerank) buffer per query with map-side
    // partial merge, so the shuffle carries queries×rerank rows instead.
    // Ordering contract is identical (adc desc, neighbor_id asc).
    val candidates = probedQueries.join(corpusCodes, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", col("qdotcell") + lutSum)
      .groupBy("query_id")
      .agg(graft.functions.TopKAggregator.topK(rerank)(col("neighbor_id"), col("adc")).as("tk"))
      .select(col("query_id"), explode(col("tk").getField("ids")).as("neighbor_id"))

    // exact re-rank of the bounded candidate set: raw vectors and norms
    // re-attach by id here (round-10 ADVICE: the former first(qv)/first(qn)
    // aggregates leaned on an unstated qv-is-constant-per-query_id invariant
    // and Spark flags first() non-deterministic — a join states the intent)
    val queriesBase = Parallelism.widen(queries)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        VectorFunctions.norm(col(vecCol)).as("qn"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))
    candidates
      .join(queriesBase, "query_id")
      .join(corpusBase, "neighbor_id")
      .withColumn("cosine", cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** The `nProbe` cells of `occIds` (centroids row-major in `occMat`)
    * with the largest dot against `v` — the only probe selector, used by
    * the IVF and MIPS kernels, [[servePrunedTopK]] and [[ivfPqTopK]]. Dots
    * are left-to-right double sums of float-widened products (the
    * DotProductExpr contract) ranked by [[BlockTopK]]'s total order, so
    * ties go to the lowest cell id as in [[graft.functions.TopCellsExpr]]
    * and a NaN-scored cell ranks last.
    */
  private[ops] def probeCellsPrim(
      v: Array[Float],
      occIds: Array[Int],
      occMat: Array[Float],
      nProbe: Int): Array[Int] = {
    val d = v.length
    val p = math.min(nProbe, occIds.length)
    if (p <= 0) return Array.emptyIntArray
    val top = new BlockTopK.Buffer(p)
    var c = 0
    while (c < occIds.length) {
      var s = 0.0
      var i = 0
      val off = c * d
      while (i < d) { s += v(i).toDouble * occMat(off + i); i += 1 }
      top.offer(occIds(c), s)
      c += 1
    }
    top.result()._1.map(_.toInt)
  }

  /** `(cellId, centroid)` pairs as the ids and row-major matrix
    * [[probeCellsPrim]] scans.
    */
  private[ops] def flattenCells(cells: Seq[(Int, Array[Float])]): (Array[Int], Array[Float]) =
    (cells.map(_._1).toArray, Array.concat(cells.map(_._2): _*))

  /** The argmax-dot cell of `v`, lowest cell id on ties (strict `>`) —
    * [[graft.functions.TopCellsExpr]] with n = 1. Serves the IVF index
    * build and the PQ encoder.
    */
  private[ops] def assignCell(cells: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0.0
    var bestC = -1
    var c = 0
    while (c < cells.length) {
      val row = cells(c)
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i).toDouble * row(i); i += 1 }
      if (bestC < 0 || s > best) { best = s; bestC = c }
      c += 1
    }
    bestC
  }

  /** A BUILT inverted-list serving index: the per-cell primitive blocks
    * (persisted RDD), driver-side occupancy, and the partitioner the
    * blocks are keyed by. Building one is the expensive half of a probed
    * serve — corpus assignment is O(n·cells·dim) flops plus a full
    * corpus shuffle — and is pure corpus+codebook state, so a serving
    * session builds it ONCE ([[buildCellIndex]]) and passes it to every
    * [[ivfTopK]]/[[mipsIvfTopK]] call (round-13 verdict #7: the per-call
    * rebuild dominated the ×100 approx-serve rows even though the
    * codebook itself was already cached). The occupancy the probe routes
    * by is broadcast once per index, on first use. Caller owns the
    * persist and the broadcasts: [[unpersist]] when the index is retired.
    */
  final case class CellIndex(
      cells: Array[Array[Float]],
      augmentBound: Option[Double],
      blocks: org.apache.spark.rdd.RDD[(Int, (Array[Long], Array[Float], Array[Double]))],
      occupied: Seq[(Int, Array[Float])],
      partitioner: org.apache.spark.Partitioner) {
    private var occupancy: (Broadcast[Array[Int]], Broadcast[Array[Float]]) = _

    /** The occupied cells' ids and row-major centroids, broadcast on the
      * first probe and reused by every later one.
      */
    private[ops] def occupancyBroadcast: (Broadcast[Array[Int]], Broadcast[Array[Float]]) =
      synchronized {
        if (occupancy == null) {
          val (ids, mat) = flattenCells(occupied)
          occupancy = (blocks.sparkContext.broadcast(ids), blocks.sparkContext.broadcast(mat))
        }
        occupancy
      }

    /** Releases the blocks and destroys the occupancy broadcasts: a frame
      * a probe returned before this must be consumed first.
      */
    def unpersist(): Unit = {
      blocks.unpersist(blocking = false)
      synchronized {
        if (occupancy != null) {
          occupancy._1.destroy()
          occupancy._2.destroy()
          occupancy = null
        }
      }
    }
    /** Persisted-RDD id, for harness pin lists. */
    def rddId: Int = blocks.id
    /** MEASURED executor-storage footprint of the persisted blocks
      * (memory + disk tiers; 0 until [[materialize]]d, 0 again after
      * [[unpersist]]). The a-priori formula for capacity planning:
      * data ≈ n·(8 id + 4·d matrix + 8 norm) bytes — 10⁸ items at d=10
      * ≈ 5.6 GB raw, ~8 GB as deserialized JVM arrays — held for the
      * life of the serving session (round-14 verdict #7).
      */
    def storageBytes: Long = blocks.sparkContext.getRDDStorageInfo
      .filter(_.id == blocks.id).map(i => i.memSize + i.diskSize).sum
    /** Eagerly materializes the blocks (index CONSTRUCTION cost). */
    def materialize(): CellIndex = { blocks.count(): Unit; this }
  }

  /** Builds the [[CellIndex]] for a corpus under a codebook: assignment
    * ([[assignCell]]; MIPS corpora are augmented by
    * `sqrt(max(maxSq − ‖v‖², 0))` first), one sort-based shuffle into
    * per-cell inverted lists packed by [[BlockTopK.pack]] as primitive
    * (ids, row-major matrix, norms) blocks HARD-bounded at 65536 rows
    * each — a skewed k-means assignment produces more blocks for a cell,
    * never a bigger one, and the packer holds one block at a time — and a
    * driver occupancy collect (≤ numCells + n/65536 ints). Downstream
    * needs no chunk arithmetic: the join emits one (query, block) pair per
    * block of a probed cell, and the top-k merge combines partials across
    * blocks exactly as across cells. The blocks RDD is left persisted
    * (caller-owned).
    */
  def buildCellIndex(
      corpus: DataFrame,
      cells: Array[Array[Float]],
      augmentBound: Option[Double]): CellIndex = {
    val sc = corpus.sparkSession.sparkContext
    val bcCells = sc.broadcast(cells)
    val corpusRdd = Parallelism.widen(corpus).rdd
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val parts = math.max(corpusRdd.getNumPartitions, 2)
    val partitioner = new org.apache.spark.HashPartitioner(parts)
    val aug = augmentBound
    val assigned = corpusRdd.mapPartitions { it =>
      val cs = bcCells.value
      it.map { case (id, v) =>
        val rv = aug match {
          case Some(maxSq) =>
            val out = java.util.Arrays.copyOf(v, v.length + 1)
            out(v.length) = math.sqrt(math.max(maxSq - BlockTopK.selfDot(v), 0.0)).toFloat
            out
          case None => v
        }
        (assignCell(cs, rv), (id, v))
      }
    }
    val cellBlocks = assigned
      .repartitionAndSortWithinPartitions(partitioner)
      .mapPartitions(BlockTopK.pack(_, 65536), preservesPartitioning = true)
      .persist()
    // occupancy on the driver: one key per BLOCK reaches the driver
    // (≤ numCells + n/65536 ints), deduped to cell ids only
    val occSubset: Seq[(Int, Array[Float])] =
      cellBlocks.keys.collect().distinct.sorted.toSeq.map(c => (c, cells(c)))
    CellIndex(cells, augmentBound, cellBlocks, occSubset, partitioner)
  }

  /** Inverted-list blocked kernel shared by [[ivfTopK]] and [[mipsIvfTopK]]
    * (round 7; was an explode→join→TopKAggregator plan at ~3M pairs/s):
    * per-cell corpus blocks from a [[CellIndex]], queries routed to their
    * probed cells and packed into per-cell query blocks, and a fused
    * block × block loop with one [[BlockTopK.Buffer]] per (query, block) —
    * ~150M pairs/s; the shuffle carries only nProbe query-vector copies in
    * and query·k partials out.
    *
    * Scale shape: queries stream through a co-partitioned join (no
    * per-cell materialization of the query side), partials merge map-side
    * in [[BlockTopK.topKRows]], and the only driver state is the codebook
    * and occupancy ids. Arithmetic is pinned by the sim_topk_ivf /
    * sim_topk_mips DuckDB replays: every dot is left-to-right double
    * accumulation of float-widened products (the DotProductExpr
    * contract), assignment is argmax-dot with lowest-cell-id ties
    * (TopCellsExpr), probing ranks OCCUPIED cells by the same rule, cosine
    * = dot/(qn·cn) with zero-norm → 0, MIPS augmentation =
    * sqrt(max(maxSq − ‖v‖², 0)) as FLOAT, and the final ranking is
    * [[BlockTopK]]'s (score desc, id asc) total order.
    */
  private def probedTopKKernel(
      queries: DataFrame,
      corpus: DataFrame,
      cells: Array[Array[Float]],
      k: Int,
      nProbe: Int,
      cosine: Boolean,
      excludeSelf: Boolean,
      augmentBound: Option[Double],
      outCols: Seq[String],
      prebuilt: Option[CellIndex] = None): DataFrame = {
    require(k > 0)
    val spark = corpus.sparkSession
    // When `prebuilt` is supplied, BOTH `corpus` and `cells` parameters are
    // ignored in favor of the index's own state — so validate they name the
    // same space: augmentBound plus codebook value-equality (round-14
    // ADVICE — a prebuilt index from a different codebook would silently
    // serve the wrong space). Corpus identity is uncheckable cheaply; the
    // CellIndex caches (GraftALSModel.servingCellIndexes) key by
    // (space, cells, seed) over immutable factors, which pins it there.
    prebuilt.foreach { idx =>
      require(idx.augmentBound == augmentBound,
        "prebuilt CellIndex was built for a different space (augmentBound mismatch)")
      require((idx.cells eq cells) || (idx.cells.length == cells.length &&
        idx.cells.indices.forall(i => java.util.Arrays.equals(idx.cells(i), cells(i)))),
        "prebuilt CellIndex was built under a different codebook")
    }
    val idx = prebuilt.getOrElse(buildCellIndex(corpus, cells, augmentBound))
    val cellBlocks = idx.blocks
    val partitioner = idx.partitioner
    val aug = augmentBound

    // occupancy flattened once per index into primitive arrays (round 14:
    // a boxed (cellId, score) tuple per occupied cell plus a sort per
    // QUERY dominated the ×100 serve rows)
    val (bcOccIds, bcOccMat) = idx.occupancyBroadcast

    val probed = Parallelism.widen(queries).rdd
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .mapPartitions { it =>
        val oIds = bcOccIds.value
        val oMat = bcOccMat.value
        it.flatMap { case (qid, qv) =>
          val rv = aug match {
            case Some(_) => java.util.Arrays.copyOf(qv, qv.length + 1) // pad 0f
            case None => qv
          }
          probeCellsPrim(rv, oIds, oMat, nProbe).map(c => (c, (qid, qv)))
        }
      }

    val useCos = cosine
    val excl = excludeSelf
    // QUERY-SIDE BLOCKING (round 14): queries are packed into per-cell
    // primitive blocks of at most 8192 rows too, so the join degree is
    // (cells × blocks) pairs, not (queries × nProbe) rows, and scoring
    // runs a block × block loop. Each query meets the same candidates with
    // the same arithmetic, and the total order makes scan order irrelevant.
    val qBlocks = probed
      .repartitionAndSortWithinPartitions(partitioner)
      .mapPartitions(BlockTopK.pack(_, 8192), preservesPartitioning = true)

    val partial = qBlocks.join(cellBlocks, partitioner).flatMap {
      case (_, ((qids, qmat, qnorms), (ids, mat, norms))) =>
        val d = qmat.length / qids.length
        val top = new BlockTopK.Buffer(k)
        Iterator.tabulate(qids.length) { qi =>
          val qid = qids(qi)
          val qOff = qi * d
          val qn = qnorms(qi)
          top.reset()
          var i = 0
          while (i < ids.length) {
            if (!(excl && ids(i) == qid)) {
              var s = 0.0
              var dd = 0
              val off = i * d
              while (dd < d) { s += qmat(qOff + dd).toDouble * mat(off + dd); dd += 1 }
              if (useCos) s = if (qn == 0.0 || norms(i) == 0.0) 0.0 else s / (qn * norms(i))
              top.offer(ids(i), s)
            }
            i += 1
          }
          (qid, top.result())
        }
    }

    import spark.implicits._
    val result = BlockTopK.topKRows(partial, k).toDF(outCols: _*)
    // A PREBUILT index is caller-owned session state: nothing of this call
    // is persisted, so the result stays a lazy frame over the index. A
    // per-call index must not outlive the call (round-6 ADVICE): the
    // bounded result is materialized, then the index released.
    if (prebuilt.nonEmpty) result
    else {
      val done = result.localCheckpoint()
      idx.unpersist()
      done
    }
  }

  /** Pre-trained MIPS routing state: the augmentation bound (max ‖v‖² at
    * train time) and the spherical-k-means codebook over the AUGMENTED
    * (dim+1) space. Train once per corpus via [[trainMipsIndex]] and pass
    * to [[mipsIvfTopK]] so a serving session never re-runs k-means per
    * call — the index-build/serve split every inverted-list index has.
    * Both members are driver scalars (a double + k×(dim+1) floats).
    */
  final case class MipsIndex(maxSq: Double, cells: Array[Array[Float]])

  /** Builds the [[MipsIndex]] for a corpus: one max-norm aggregate + the
    * 3-pass distributed k-means over augmented vectors. Fails fast (not
    * with an opaque NPE from a null aggregate) on an empty corpus.
    */
  def trainMipsIndex(
      corpus: DataFrame,
      vecCol: String = "features",
      dim: Int = 8,
      numCells: Int = 16,
      seed: Long = 42L): MipsIndex = {
    val selfDot = VectorFunctions.dot(col(vecCol), col(vecCol))
    val row = corpus.agg(max(selfDot)).head()
    require(!row.isNullAt(0),
      s"trainMipsIndex: corpus has no rows (or all-null '$vecCol') — cannot derive the augmentation bound")
    val maxSq = row.getDouble(0)
    val augCorpus = corpus.select(
      concat(col(vecCol),
        array(sqrt(greatest(lit(maxSq) - selfDot, lit(0.0))).cast("float")))
        .as("acv"))
    MipsIndex(maxSq, trainCodebook(augCorpus, vecCol = "acv", dim = dim + 1,
      numCells = numCells, seed = seed))
  }

  /** Approximate maximum-inner-product top-k (MIPS) through the IVF
    * router, for scoring-shaped serving (recommendations rank by raw dot,
    * where a longer corpus vector legitimately outranks a more-aligned
    * short one — cosine routing alone would mis-route). Uses the standard
    * order-preserving reduction (Bachrach et al., RecSys 2014; public
    * technique): corpus vectors are augmented with one extra coordinate
    * `sqrt(maxNorm² − ‖v‖²)` so every augmented vector has identical norm,
    * and queries are padded with 0 — cosine ordering in the augmented
    * space then equals dot ordering in the original space, so the
    * spherical-k-means codebook and cell probing machinery route MIPS
    * correctly. Candidates are finally ranked by the TRUE dot product.
    * Query and corpus ids live in different entity spaces, so (unlike
    * [[ivfTopK]]) no self-exclusion applies.
    */
  def mipsIvfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nProbe: Int = 4,
      numCells: Int = 16,
      queryIdCol: String = "query_id",
      corpusIdCol: String = "item_id",
      vecCol: String = "features",
      dim: Int = 8,
      seed: Long = 42L,
      scoreName: String = "score",
      trainedIndex: Option[MipsIndex] = None,
      prebuiltCells: Option[CellIndex] = None): DataFrame = {
    val MipsIndex(maxSq, cells) = trainedIndex.getOrElse(
      trainMipsIndex(corpus, vecCol, dim, numCells, seed))
    // max(...,0) in the kernel also clamps vectors LONGER than the
    // train-time bound (possible when serving a pre-trained index over an
    // appended corpus): their augmented coordinate collapses to 0 and
    // ranking stays exact because candidates are scored by the TRUE dot.
    // MIPS serving keeps self-matches (a catalog lookup has no self notion)
    probedTopKKernel(
      queries.select(col(queryIdCol).cast("long"), col(vecCol)),
      corpus.select(col(corpusIdCol).cast("long"), col(vecCol)),
      cells, k, nProbe, cosine = false, excludeSelf = false,
      augmentBound = Some(maxSq),
      outCols = Seq(queryIdCol, corpusIdCol, "rank", scoreName),
      prebuilt = prebuiltCells)
  }

  /** IVF-style ANN: every corpus vector is assigned to its nearest centroid
    * cell (one narrow pass); each query probes its `nProbe` nearest cells
    * and re-ranks exactly inside them. The cell column is the partition-
    * pruning key at scale — a 100 TB corpus stored partitioned by cell only
    * scans `nProbe/numCells` of the data per query batch.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nProbe: Int = 4,
      numCells: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      seed: Long = 42L,
      trainedCodebook: Option[Array[Array[Float]]] = None,
      prebuiltCells: Option[CellIndex] = None): DataFrame = {
    val cells = trainedCodebook.getOrElse(codebook(dim, numCells, seed))
    // queries probe only OCCUPIED cells (round-6 ADVICE): a k-means cell
    // that lost every member has no inverted list, so probing it would
    // burn one of the query's nProbe slots for zero candidates. Occupancy,
    // routing, and scoring all live in the blocked kernel; the
    // at-catalog-scale path materializes the assignment on disk instead
    // (writeCellIndex), so this in-memory kernel is its batch-search twin
    probedTopKKernel(
      queries.select(col(idCol).cast("long"), col(vecCol)),
      corpus.select(col(idCol).cast("long"), col(vecCol)),
      cells, k, nProbe, cosine = true, excludeSelf = true,
      augmentBound = None,
      outCols = Seq("query_id", "neighbor_id", "rank", "cosine"),
      prebuilt = prebuiltCells)
  }
}
