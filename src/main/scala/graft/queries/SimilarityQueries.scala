package graft.queries

import graft.ops.{IndexHealth, Parallelism, Similarity}
import graft.queries.OracleSql._
import graft.queries.Queries._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The vector-search surface: exact, LSH, IVF, MIPS and IVF-PQ top-k,
  * the trained codebooks they replay against, the served cell index, the
  * drift and recall meters, and PCA.
  * See [[Queries]] for the determinism conventions.
  */
object SimilarityQueries {

  /** The recall meters' anchor order: the portable md5 hash of vec_id
    * ([[IndexHealth.recallAnchorIds]]'s order, as SQL).
    */
  private val anchorHash = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 14))::BIGINT"

  /** Exact cosine of `qa`/`ca` embeddings with norms `na`/`nb`, zero-norm → 0. */
  private def cosExpr(qa: String, na: String, ca: String, nb: String): String =
    s"""CASE WHEN $na.nrm = 0 OR $nb.nrm = 0 THEN 0.0
       |         ELSE (${listDot(s"$qa.embedding", s"$ca.embedding")}) / ($na.nrm * $nb.nrm)
       |    END""".stripMargin

  /** IVF assignment replay over `emb e` with codebook CTE `cb`: `scores`
    * holds every (vector, cell) portable dot, `assign` each vector's
    * argmax cell (score desc, cell asc ties).
    */
  private def ivfAssignCtes(cb: String, scores: String, assign: String): String =
    s"""$scores AS (
       |  SELECT e.vec_id, $cb.cell, ${listCellDot("e.embedding", cb, 64)} AS s
       |  FROM emb e CROSS JOIN $cb),
       |$assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS r
       |    FROM $scores) z WHERE r = 1)""".stripMargin

  /** Exact-cosine rerank of the candidate pairs `cand` to the (cosine desc,
    * id asc) top-5 — the closing stages of the IVF oracles.
    */
  private val candCosineTop5: String =
    s"""cos AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    ${cosExpr("q", "nq", "b", "nn")} AS cosine
       |  FROM cand c
       |  JOIN emb q ON q.vec_id = c.query_id
       |  JOIN emb b ON b.vec_id = c.neighbor_id
       |  JOIN norms nq ON nq.vec_id = c.query_id
       |  JOIN norms nn ON nn.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM cos)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** PCA compression of the embedding table (top-8 components via the
    * composed Spark ML estimator), emitted as (vec_id, pc_idx, value)
    * scalar rows. Membership-checked (every vec_id × 8 component grid —
    * eigenvector signs/values are engine-specific floats and pass
    * through); SimilaritySpec asserts variance ordering and that
    * full-rank projection preserves pairwise geometry.
    */
  val embeddingPca: QueryDef = QueryDef.withOracle(
    membershipOracle("embedding_pca",
      "SELECT DISTINCT vec_id AS id FROM embeddings", 8,
      idCol = "vec_id", posCol = "pc_idx")) { (s, dir) =>
    Similarity.pca(t(s, dir, "embeddings"), k = 8).projected
      .select(col("vec_id"), posexplode(col("pc")).as(Seq("pc_idx", "value")))
      .orderBy("vec_id", "pc_idx")
  }

  /** Exact cosine top-5 neighbors, oracle-checked against DuckDB's
    * list_cosine_similarity. Scores intentionally excluded from the output
    * (ranks are stable; raw float-sum order is not guaranteed identical).
    */
  val simTopkBrute: QueryDef = QueryDef.withOracle(
    """SELECT query_id, neighbor_id, rank FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rank
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id) x
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, e, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** The hyperplane set sim_topk_lsh signs against (12 tables ×
    * corpus-sized plane count × 64 dims), dumped for the oracle replay.
    * The plane count replicates lshTopK's auto-sizing formula exactly
    * (both derive it from the same corpus count, and the plane arrays are
    * deterministic in (dim, planes, table, seed)). Grid-checked: the
    * oracle re-derives the plane count from the corpus count with the
    * SAME ln-ratio-ceil arithmetic (max(4, ⌈ln(max(n/64, 2))/ln 2⌉)) and
    * asserts the 12 × planes × 64 grid is complete; the float values pass
    * through.
    */
  val simLshPlanes: QueryDef = QueryDef.withOracle(
    gridOracle("sim_lsh_planes", Seq(
      "t" -> "12",
      "plane" -> ("GREATEST(4, CAST(CEIL(LN(GREATEST(CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE)"
        + " / 64.0, 2.0)) / LN(2.0)) AS INT))"),
      "pos" -> "64"))) { (s, dir) =>
    val spark = s
    import spark.implicits._
    val n = t(s, dir, "embeddings").count().toDouble
    val planes = math.max(4,
      math.ceil(math.log(math.max(n / 64.0, 2.0)) / math.log(2.0)).toInt)
    Similarity.lshPlanes(dim = 64, planesPerTable = planes, numTables = 12, seed = 42L)
      .zipWithIndex.flatMap { case (pls, tbl) =>
        pls.zipWithIndex.flatMap { case (pl, p) =>
          pl.zipWithIndex.map { case (v, pos) => (tbl, p, pos, v) }
        }
      }.toSeq.toDF("t", "plane", "pos", "value").orderBy("t", "plane", "pos")
  }

  /** LSH-bucketed approximate top-5 (the n²-free scale path) —
    * hash-checked (round 7): the covering query runs the portable-md5
    * bucket-cap variant (the minhash precedent — production default stays
    * xxhash64) so the oracle can replay the WHOLE pipeline from the
    * dumped plane set: packed sign signatures, the deterministic
    * hash-ordered per-bucket cap, candidate pairs from any shared bucket,
    * and the exact-cosine (desc, id asc) top-5.
    */
  val simTopkLsh: QueryDef = QueryDef.withOracle(
    s"""WITH ${planePivotCte("sim_lsh_planes")},
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |$normsCte,
       |${lshSignCte("sigs")},
       |capped AS (
       |  SELECT vec_id, t, sig FROM (
       |    SELECT vec_id, t, sig,
       |      ROW_NUMBER() OVER (PARTITION BY t, sig
       |        ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 14))::BIGINT,
       |                 vec_id) AS r
       |    FROM sigs) z WHERE r <= 256),
       |pairs AS (
       |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
       |  FROM sigs x JOIN capped y
       |    ON x.t = y.t AND x.sig = y.sig AND x.vec_id <> y.vec_id),
       |cos AS (
       |  SELECT p.query_id, p.neighbor_id,
       |    CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
       |         ELSE (${listDot("a.embedding", "b.embedding")}) / (na.nrm * nb.nrm)
       |    END AS cosine
       |  FROM pairs p
       |  JOIN emb a ON a.vec_id = p.query_id
       |  JOIN emb b ON b.vec_id = p.neighbor_id
       |  JOIN norms na ON na.vec_id = p.query_id
       |  JOIN norms nb ON nb.vec_id = p.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM cos)
       |SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    Similarity.lshTopK(t(s, dir, "embeddings"), k = 5, portableCapHash = true)
      .orderBy("query_id", "rank")
  }

  /** The per-dir trained IVF codebook as scalar rows — the dump the
    * sim_topk_ivf oracle replays against. Grid-checked (√n cells × 64
    * dims, the defaultNumCells rule — k-means floats pass through); within a session this is THE
    * cached array every IVF query probes with, so dump and serving can
    * never diverge.
    */
  val simIvfCodebook: QueryDef = QueryDef.withOracle(
    gridOracle("sim_ivf_codebook",
      Seq("cell" -> defaultCellsSql("embeddings"), "pos" -> "64"))) { (s, dir) =>
    val spark = s
    import spark.implicits._
    trainedCodebook(s, dir).zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toSeq.toDF("cell", "pos", "value").orderBy("cell", "pos")
  }

  /** The per-dir trained MIPS codebook (augmented 65-dim space) as scalar
    * rows — the dump the sim_topk_mips oracle replays against. The
    * augmentation bound itself needs no dump: max ‖v‖² is an
    * order-independent aggregate the oracle recomputes exactly.
    * Grid-checked (√n cells × 65 augmented dims).
    */
  val simMipsCodebook: QueryDef = QueryDef.withOracle(
    gridOracle("sim_mips_codebook",
      Seq("cell" -> defaultCellsSql("embeddings"), "pos" -> "65"))) { (s, dir) =>
    val spark = s
    import spark.implicits._
    trainedMipsIdx(s, dir).cells.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toSeq.toDF("cell", "pos", "value").orderBy("cell", "pos")
  }

  /** The per-dir trained PQ codebooks (residual space) as scalar rows —
    * the dump the sim_topk_ivfpq oracle replays against. Same cache as the
    * serving query, so dump and search share floats. Grid-checked (8
    * subspaces × 16 codes × 8 sub-dims).
    */
  val simPqCodebook: QueryDef = QueryDef.withOracle(
    gridOracle("sim_pq_codebook",
      Seq("m" -> "8", "code" -> "16", "pos" -> "8"))) { (s, dir) =>
    val spark = s
    import spark.implicits._
    trainedPq(s, dir).zipWithIndex.flatMap { case (codes, m) =>
      codes.zipWithIndex.flatMap { case (c, code) =>
        c.zipWithIndex.map { case (v, p) => (m, code, p, v) }
      }
    }.toSeq.toDF("m", "code", "pos", "value").orderBy("m", "code", "pos")
  }

  /** IVF-style probe-limited top-5 with a k-means-trained codebook (3
    * Lloyd passes over the corpus; only the k×dim centroid table reaches
    * the driver) — hash-checked (round-6 verdict #3): every stage of the
    * engine path is deterministic given the dumped codebook, so the oracle
    * replays it stage by stage in DuckDB — argmax-dot assignment (score
    * desc, cell asc ties), occupied-cell probing (nProbe=4), candidate
    * generation by cell equality minus self, exact cosine
    * (dot/(‖q‖·‖c‖), zero-norm → 0) and (cosine desc, id asc) top-5 —
    * with all float arithmetic written as the same left-to-right
    * double-accumulation the codegen expressions execute.
    */
  val simTopkIvf: QueryDef = QueryDef.withOracle(
    s"""WITH ${codebookCte("cb", "sim_ivf_codebook", 64)},
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |$normsCte,
       |${ivfAssignCtes("cb", "scores", "assign")},
       |occ AS (SELECT DISTINCT cell FROM assign),
       |probes AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT sc.vec_id, sc.cell,
       |      ROW_NUMBER() OVER (PARTITION BY sc.vec_id ORDER BY sc.s DESC, sc.cell ASC) AS r
       |    FROM scores sc JOIN occ USING (cell)) z WHERE r <= 4),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE p.query_id <> a.vec_id),
       |$candCosineTop5""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    Similarity.ivfTopK(e, e, k = 5, trainedCodebook = Some(trainedCodebook(s, dir)))
      .orderBy("query_id", "rank")
  }

  /** Maximum-inner-product ANN over raw (unnormalized) embeddings —
    * completes the ANN matrix: the cosine tiers (brute/LSH/IVF/IVF-PQ)
    * rank by angle; this one ranks by raw dot through the augmented-norm
    * MIPS→cosine reduction ([[Similarity.mipsIvfTopK]]), the retrieval
    * mode of recommendation/scoring workloads. Self-matches are included
    * by MIPS-serving semantics (a catalog lookup has no self notion).
    * Hash-checked (round-6 verdict #3): the oracle replays augmentation
    * (the bound is an order-independent MAX it recomputes exactly),
    * assignment over the dumped trained codebook, occupied-cell probing,
    * and true-dot (score desc, id asc) top-5, all in the same
    * left-to-right double arithmetic as the codegen expressions. Recall
    * vs a brute-dot baseline stays spec-asserted in SimilaritySpec.
    */
  val simTopkMips: QueryDef = QueryDef.withOracle(
    s"""WITH ${codebookCte("cb", "sim_mips_codebook", 65)},
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |sd AS (SELECT vec_id, ${listDot("e.embedding", "e.embedding")} AS selfdot
       |  FROM emb e),
       |mx AS (SELECT MAX(selfdot) AS maxsq FROM sd),
       |aug AS (
       |  SELECT e.vec_id, e.embedding,
       |    CAST(SQRT(GREATEST(mx.maxsq - sd.selfdot, 0.0)) AS FLOAT) AS a64
       |  FROM emb e JOIN sd USING (vec_id) CROSS JOIN mx),
       |cscore AS (
       |  SELECT g.vec_id, cb.cell,
       |    ${listCellDot("g.embedding", "cb", 64)}
       |      + ${term("g.a64", "cb.c64")} AS s
       |  FROM aug g CROSS JOIN cb),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS r
       |    FROM cscore) z WHERE r = 1),
       |occ AS (SELECT DISTINCT cell FROM assign),
       |qscore AS (
       |  SELECT e.vec_id, cb.cell,
       |    ${listCellDot("e.embedding", "cb", 64)}
       |      + ${term("0.0", "cb.c64")} AS s
       |  FROM emb e CROSS JOIN cb),
       |probes AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT q.vec_id, q.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY q.s DESC, q.cell ASC) AS r
       |    FROM qscore q JOIN occ USING (cell)) z WHERE r <= 4),
       |sc AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${listDot("q.embedding", "b.embedding")} AS score
       |  FROM probes p JOIN assign a USING (cell)
       |  JOIN emb q ON q.vec_id = p.query_id
       |  JOIN emb b ON b.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |  FROM sc)
       |SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    Similarity.mipsIvfTopK(e, e, k = 5, nProbe = 4, numCells = 64,
      queryIdCol = "vec_id", corpusIdCol = "vec_id", vecCol = "embedding",
      dim = 64, trainedIndex = Some(trainedMipsIdx(s, dir)))
      .toDF("query_id", "neighbor_id", "rank", "score")
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ ANN — the composed compressed-index tier: IVF cells prune the
    * probe set, residual PQ codes (M bytes per vector) carry the ADC scan,
    * raw vectors only re-attach for the exact re-rank of the top-`rerank`
    * candidates. The recall of this tier vs brute force is measured by
    * sim_recall's `ivfpq_recall` column.
    *
    * Hash-checked (round 7, completing the deterministic ANN matrix): the
    * oracle replays the ENTIRE composed index from the two codebook dumps
    * — FLOAT residuals against the assigned centroid, per-subspace
    * argmax-(dot − ‖c‖²/2) codes with lowest-code ties, the per-pair ADC
    * decomposition qdotcell + Σₘ q_subₘ·c_{m,codeₘ} in the engine's exact
    * left-to-right double order, the (adc desc, id asc) rerank-50 cut,
    * and the exact-cosine top-5 — so a hash match pins residual encoding,
    * code assignment, ADC arithmetic, and both rank cuts bit-for-bit.
    */
  val simTopkIvfPq: QueryDef = QueryDef.withOracle(
    s"""WITH ${codebookCte("cb", "sim_ivf_codebook", 64)},
       |$pqCodebookCtes,
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |$normsCte,
       |${ivfAssignCtes("cb", "scores", "assign")},
       |${pqAdcCtes()},
       |$candCosineTop5""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    Similarity.ivfPqTopK(e, e, k = 5,
      trainedCells = Some(trainedCodebook(s, dir)),
      trainedPq = Some(trainedPq(s, dir)))
      .orderBy("query_id", "rank")
  }

  /** Shared DuckDB replay of a [[Similarity.servePrunedTopK]] point lookup
    * for the min-vec_id query: probe the 4 max-dot OCCUPIED cells of the
    * dumped codebook (round-8: serve now ranks occupied cells only, the
    * same rule as the in-memory ivfTopK kernel — occupancy re-derived here
    * via the assignment replay, exactly what the index's partition listing
    * encodes), re-derive the probed cells' members the same way, and
    * re-rank exactly by cosine. Used verbatim by sim_ivf_serve and
    * sim_ivf_append: an append-then-serve index holds the same member set
    * as a full build, so the served values must be identical (the
    * equivalence SimilaritySpec asserts, here value-pinned).
    */
  private def duckServeOracle: String =
    s"""WITH ${codebookCte("cb", "sim_ivf_codebook", 64)},
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM emb ORDER BY vec_id LIMIT 1),
       |$normsCte,
       |${ivfAssignCtes("cb", "scores", "assign")},
       |occ AS (SELECT DISTINCT cell FROM assign),
       |probes AS (
       |  SELECT cell FROM (
       |    SELECT cb.cell,
       |      ROW_NUMBER() OVER (ORDER BY ${listCellDot("q.qv", "cb", 64)} DESC, cb.cell ASC) AS r
       |    FROM q CROSS JOIN cb JOIN occ ON occ.cell = cb.cell) z WHERE r <= 4),
       |cos AS (
       |  SELECT q.qid AS query_id, a.vec_id AS neighbor_id,
       |    CASE WHEN nq.nrm = 0 OR nn.nrm = 0 THEN 0.0
       |         ELSE (${listDot("q.qv", "b.embedding")}) / (nq.nrm * nn.nrm)
       |    END AS cosine
       |  FROM assign a JOIN probes USING (cell)
       |  CROSS JOIN q
       |  JOIN emb b ON b.vec_id = a.vec_id
       |  JOIN norms nq ON nq.vec_id = q.qid
       |  JOIN norms nn ON nn.vec_id = a.vec_id
       |  WHERE a.vec_id <> q.qid)
       |SELECT query_id, neighbor_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank,
       |  cosine
       |FROM cos ORDER BY cosine DESC, neighbor_id ASC LIMIT 10""".stripMargin

  /** IVF index SERVING path: embeddings written once partitioned by their
    * trained-codebook cell (`writeCellIndex`), then a point lookup for one
    * query vector scans ONLY its 4 probe-cell directories — the physical
    * plan carries `PartitionFilters: [cell IN (...)]` and touches
    * nProbe/numCells of the corpus no matter how big it grows.
    * Hash-checked (round 7): the oracle replays probe selection over the
    * dumped codebook, cell membership, and the exact cosine re-rank;
    * SimilaritySpec additionally asserts served == in-memory IVF.
    */
  val simIvfServe: QueryDef = QueryDef.withOracle(duckServeOracle) { (s, dir) =>
    val cb = trainedCodebook(s, dir)
    val path = s"/tmp/graft_ivf_index_${dirKey(dir)}"
    if (!csvWritten.contains(path)) {
      Similarity.writeCellIndex(t(s, dir, "embeddings"), cb, path)
      csvWritten.add(path)
    }
    // query = the smallest vec_id present (not a hardcoded 0, which would
    // throw NoSuchElementException on any corpus without that id)
    val qRow = t(s, dir, "embeddings")
      .orderBy(col("vec_id")).select(col("vec_id"), col("embedding"))
      .head(1).headOption
      .getOrElse(sys.error(s"sim_ivf_serve: embeddings table at $dir is empty"))
    val qid = qRow.getLong(0)
    val q = qRow.getSeq[Float](1).toArray
    Similarity.servePrunedTopK(s.read.parquet(path), queryId = qid, queryVec = q, cells = cb, k = 10)
  }

  /** Incremental ANN index maintenance: HALF the corpus is indexed
    * ([[Similarity.writeCellIndex]]), the other half APPENDED later under
    * the same codebook ([[Similarity.appendToCellIndex]] — assignment-only,
    * no retrain), then a pruned serve runs over the combined index. The
    * equivalence append-then-serve == full-build-serve is spec-asserted in
    * SimilaritySpec and now value-pinned: the oracle is the SAME replay as
    * sim_ivf_serve (the combined index holds the identical member set), so
    * a hash match proves the appended index serves bit-identical results.
    * This is the ANN twin of stream_index_maintenance's merge-on-write
    * exact index.
    */
  val simIvfAppend: QueryDef = QueryDef.withOracle(duckServeOracle) { (s, dir) =>
    val cb = trainedCodebook(s, dir)
    val path = s"/tmp/graft_ivf_append_${dirKey(dir)}"
    val e = t(s, dir, "embeddings")
    if (!csvWritten.contains(path)) {
      Similarity.writeCellIndex(e.where(col("vec_id") % 2 === 0), cb, path)
      Similarity.appendToCellIndex(e.where(col("vec_id") % 2 === 1), cb, path)
      csvWritten.add(path)
    }
    val qRow = e.orderBy(col("vec_id")).select(col("vec_id"), col("embedding"))
      .head(1).headOption
      .getOrElse(sys.error(s"sim_ivf_append: embeddings table at $dir is empty"))
    Similarity.servePrunedTopK(s.read.parquet(path),
      queryId = qRow.getLong(0), queryVec = qRow.getSeq[Float](1).toArray,
      cells = cb, k = 10)
  }

  /** The drifted batch of the append-drift corpus: every fixture embedding
    * cyclically shifted one position, under fresh ids above the fixture
    * range. The shift is a pure PERMUTATION — no arithmetic, so both
    * engines hold bit-identical floats — yet is maximally mis-aligned with
    * centroids trained on the unshifted mass (norms and marginals are
    * unchanged; directions are not): a deterministic stand-in for real
    * distribution drift between codebook retrains.
    */
  private def driftedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val off = e.agg(max(col("vec_id"))).head().getLong(0) + 1L
    e.select(
      (col("vec_id") + off).as("vec_id"),
      concat(slice(col("embedding"), 2, 63), slice(col("embedding"), 1, 1)).as("embedding"))
  }

  /** Codebook freshly retrained on base ∪ drifted, with the SAME cell
    * count as the stale per-dir codebook so the drift meter isolates
    * centroid placement from probe-fraction effects.
    */
  private def trainedDriftCodebook(s: SparkSession, dir: String): Array[Array[Float]] =
    SessionArtifacts.getOrBuild(s, dir, "driftCodebook") {
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
      Similarity.trainCodebook(
        base.unionByName(driftedEmbeddings(s, dir)),
        numCells = Similarity.defaultNumCells(base.count()))
    }

  /** The retrained (base ∪ drifted) codebook as scalar rows — the dump the
    * sim_drift_recall oracle replays the fresh tier against. Grid-checked
    * like [[simIvfCodebook]] (same defaultNumCells(n) grid by design).
    */
  val simDriftCodebook: QueryDef = QueryDef.withOracle(
    gridOracle("sim_drift_codebook",
      Seq("cell" -> defaultCellsSql("embeddings"), "pos" -> "64"))) { (s, dir) =>
    val spark = s
    import spark.implicits._
    trainedDriftCodebook(s, dir).zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toSeq.toDF("cell", "pos", "value").orderBy("cell", "pos")
  }

  /** `bf`: exact cosine top-5 truth over `emb` for the anchor queries `qset`. */
  private val bruteTruthCte: String =
    s"""bf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT s.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
       |        ${cosExpr("q", "nq", "b", "nb")} DESC, b.vec_id ASC) AS r
       |    FROM qset s
       |    JOIN emb q ON q.vec_id = s.vec_id
       |    JOIN emb b ON b.vec_id <> s.vec_id
       |    JOIN norms nq ON nq.vec_id = s.vec_id
       |    JOIN norms nb ON nb.vec_id = b.vec_id) z
       |  WHERE r <= 5)""".stripMargin

  /** One IVF replay tier over `emb` with codebook CTE `cb`, probing the
    * anchor queries `qset` only: the sim_topk_ivf oracle's
    * assignment/probe/cosine arithmetic, as CTEs named with prefix `p`
    * and the top-5 result as CTE `top` (`pr` aliases the probe CTE).
    */
  private def anchoredIvfTier(cb: String, p: String, top: String, pr: String = "pr"): String =
    s"""${ivfAssignCtes(cb, s"${p}sc", s"${p}asg")},
       |${p}occ AS (SELECT DISTINCT cell FROM ${p}asg),
       |${p}prb AS (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT sc.vec_id, sc.cell,
       |      ROW_NUMBER() OVER (PARTITION BY sc.vec_id ORDER BY sc.s DESC, sc.cell ASC) AS r
       |    FROM ${p}sc sc JOIN ${p}occ USING (cell)
       |    JOIN qset ON qset.vec_id = sc.vec_id) z WHERE r <= 4),
       |$top AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT c.query_id, c.neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
       |        ${cosExpr("q2", "nq", "b3", "nn2")} DESC, c.neighbor_id ASC) AS r
       |    FROM (SELECT $pr.query_id, a.vec_id AS neighbor_id
       |          FROM ${p}prb $pr JOIN ${p}asg a USING (cell)
       |          WHERE $pr.query_id <> a.vec_id) c
       |    JOIN emb q2 ON q2.vec_id = c.query_id
       |    JOIN emb b3 ON b3.vec_id = c.neighbor_id
       |    JOIN norms nq ON nq.vec_id = c.query_id
       |    JOIN norms nn2 ON nn2.vec_id = c.neighbor_id) z
       |  WHERE r <= 5)""".stripMargin

  /** DuckDB replay of the whole drift meter: rebuild the drifted batch (a
    * pure list-slice permutation of the fixture floats), union, brute-force
    * truth for the drifted query sample, and TWO full IVF replays — stale
    * codebook (sim_ivf_codebook dump) and retrained codebook
    * (sim_drift_codebook dump) — each the same assignment/probe/cosine
    * arithmetic as the sim_topk_ivf oracle.
    */
  private def duckDriftRecallOracle: String = {
    s"""WITH emb0 AS (SELECT vec_id, embedding FROM embeddings),
       |off AS (SELECT MAX(vec_id) + 1 AS o FROM emb0),
       |drift AS (
       |  SELECT e.vec_id + off.o AS vec_id,
       |    list_concat(e.embedding[2:64], list_value(e.embedding[1])) AS embedding
       |  FROM emb0 e, off),
       |emb AS (SELECT * FROM emb0 UNION ALL SELECT * FROM drift),
       |$normsCte,
       |qset AS (SELECT vec_id FROM drift
       |  ORDER BY $anchorHash, vec_id LIMIT ${IndexHealth.recallAnchorBudget}),
       |$bruteTruthCte,
       |${codebookCte("cbs", "sim_ivf_codebook", 64)},
       |${codebookCte("cbf", "sim_drift_codebook", 64)},
       |${anchoredIvfTier("cbs", "st", "sttop")},
       |${anchoredIvfTier("cbf", "fr", "frtop")},
       |m AS (SELECT
       |  (SELECT COUNT(*) FROM bf) AS n,
       |  (SELECT COUNT(*) FROM bf JOIN sttop USING (query_id, neighbor_id)) AS sh,
       |  (SELECT COUNT(*) FROM bf JOIN frtop USING (query_id, neighbor_id)) AS fh),
       |r AS (SELECT CAST(n AS BIGINT) AS n_exact_pairs,
       |  CASE WHEN n = 0 THEN 1.0
       |       ELSE CAST(sh AS DOUBLE) / CAST(n AS DOUBLE) END AS stale_recall,
       |  CASE WHEN n = 0 THEN 1.0
       |       ELSE CAST(fh AS DOUBLE) / CAST(n AS DOUBLE) END AS fresh_recall
       |  FROM m)
       |SELECT n_exact_pairs, stale_recall, fresh_recall,
       |  fresh_recall - stale_recall AS retrain_gain,
       |  (fresh_recall - stale_recall) > ${IndexHealth.retrainGainMargin} AS retrain_recommended
       |FROM r""".stripMargin
  }

  /** Recall-drift meter for [[Similarity.appendToCellIndex]] (round-8
    * verdict #7): appends are assignment-only under a frozen codebook, so
    * serve recall decays as appended mass drifts from the trained
    * centroids — this query MEASURES that decay and the gain a retrain
    * would buy, the retrain-cadence signal the operator's doc promises.
    *
    * Corpus = fixture embeddings ∪ a drifted batch ([[driftedEmbeddings]]);
    * queries = a hash-sample of the DRIFTED mass (where decay concentrates).
    * `stale_recall` serves with the codebook trained on the base only
    * (exactly what an appended index probes with); `fresh_recall` retrains
    * on the union at the same cell count; `retrain_gain` is the cadence
    * signal — retrain when it exceeds the recall budget.
    *
    * Hash-checked end to end: the oracle rebuilds the drifted batch (a
    * pure slice permutation — bit-identical floats), replays BOTH IVF
    * tiers over the dumped codebooks with the same
    * assignment/probe/cosine arithmetic as sim_topk_ivf, and recomputes
    * brute-force truth; the recall quotients are identical integer
    * divisions in both engines.
    */
  val simDriftRecall: QueryDef = QueryDef.withOracle(duckDriftRecallOracle) { (s, dir) =>
    val base = t(s, dir, "embeddings").select("vec_id", "embedding")
    val drifted = driftedEmbeddings(s, dir)
    val union = base.unionByName(drifted).persist()
    // fixed anchor budget over the drifted mass (round-11 verdict #4, was
    // a 1/16 rate sample): truth cost O(anchors × union) — flat per
    // corpus scan — while the decay signal, a ~0.1-scale recall gap,
    // stays far outside the 256-anchor estimate's ~±0.014 std
    val anchorSet = IndexHealth.recallAnchorIds(drifted, "vec_id")
    val queries = drifted.where(col("vec_id").isin(anchorSet.map(Long.box): _*))
    // pre-touch memoized codebooks, then materialize the shared persisted
    // union ONCE so the overlapped tiers read one cache instead of racing
    // on its lineage; then run the three independent tier pipelines
    // concurrently (opt guide §2.6 — tier contents are fully determined,
    // so the hit counts are unchanged; was 44 sequential jobs / 7 s)
    val staleCells = trainedCodebook(s, dir)
    val freshCells = trainedDriftCodebook(s, dir)
    union.count()
    val Seq((exact, n), (stale, _), (fresh, _)) =
      Parallelism.inParallel[(DataFrame, Long)](Seq(
        () => {
          val df = Similarity.bruteForceTopK(queries, union, k = 5)
            .select("query_id", "neighbor_id").persist()
          (df, df.count())
        },
        () => (Similarity
          .ivfTopK(queries, union, k = 5, trainedCodebook = Some(staleCells))
          .select("query_id", "neighbor_id"), 0L),
        () => (Similarity
          .ivfTopK(queries, union, k = 5, trainedCodebook = Some(freshCells))
          .select("query_id", "neighbor_id"), 0L)))
    val Seq(staleHits, freshHits) = Parallelism.inParallel(Seq(
      () => exact.join(stale, Seq("query_id", "neighbor_id")).count(),
      () => exact.join(fresh, Seq("query_id", "neighbor_id")).count()))
    exact.unpersist(blocking = false)
    union.unpersist(blocking = false)
    val (sr, fr) =
      if (n == 0) (1.0, 1.0)
      else (staleHits.toDouble / n, freshHits.toDouble / n)
    val spark = s
    import spark.implicits._
    // retrain_recommended (round-10 verdict #8): the meter's consumer
    // contract — appendToCellIndex's doc promises a retrain-cadence
    // SIGNAL, so emit the decision, not just two floats the operator has
    // to subtract. The margin is the recall budget an append window may
    // burn before a retrain pays for itself; oracle re-derives the same
    // comparison over identical integer-division doubles.
    Seq((n, sr, fr, fr - sr, IndexHealth.retrainDecision(fr - sr)))
      .toDF("n_exact_pairs", "stale_recall", "fresh_recall", "retrain_gain",
        "retrain_recommended")
  }

  /** The composed sim_recall replay: re-derives all four tier result sets
    * (brute ground truth over the sampled queries; LSH from the dumped
    * plane set with the portable bucket cap; IVF and IVF-PQ from the
    * dumped codebooks) with the SAME per-stage SQL as their individually
    * hash-green covering oracles (sim_topk_brute/lsh/ivf/ivfpq — CTEs here
    * carry l/i/p prefixes, query side restricted to the portable md5
    * sample), then computes the three hit fractions. Each division is one
    * IEEE double op over exact integer counts — bit-identical across
    * engines.
    */
  private def duckSimRecallOracle: String = {
    // the IVF-PQ tier over the IVF tier's assignment, probing anchors only
    val pqTier = pqAdcCtes(assign = "iasg", scores = "isc",
      restrictProbes = " JOIN qset ON qset.vec_id = sc.vec_id", score = "pcs",
      codes = "pcode", words = "pcw", probes = "pprb", adc = "padc", cand = "pcand")
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
       |$normsCte,
       |qset AS (SELECT vec_id FROM emb
       |  ORDER BY $anchorHash, vec_id LIMIT ${IndexHealth.recallAnchorBudget}),
       |$bruteTruthCte,
       |${planePivotCte("sim_lsh_planes")},
       |${lshSignCte("lsig")},
       |lcap AS (
       |  SELECT vec_id, t, sig FROM (
       |    SELECT vec_id, t, sig,
       |      ROW_NUMBER() OVER (PARTITION BY t, sig
       |        ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 14))::BIGINT,
       |                 vec_id) AS r
       |    FROM lsig) z WHERE r <= 256),
       |lpair AS (
       |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
       |  FROM lsig x JOIN qset ON qset.vec_id = x.vec_id
       |  JOIN lcap y ON x.t = y.t AND x.sig = y.sig AND x.vec_id <> y.vec_id),
       |lsh AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT p.query_id, p.neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |        ${cosExpr("a", "na", "b2", "nb")} DESC, p.neighbor_id ASC) AS r
       |    FROM lpair p
       |    JOIN emb a ON a.vec_id = p.query_id
       |    JOIN emb b2 ON b2.vec_id = p.neighbor_id
       |    JOIN norms na ON na.vec_id = p.query_id
       |    JOIN norms nb ON nb.vec_id = p.neighbor_id) z
       |  WHERE r <= 5),
       |${codebookCte("cb", "sim_ivf_codebook", 64)},
       |${anchoredIvfTier("cb", "i", "ivf", pr = "p")},
       |$pqCodebookCtes,
       |$pqTier,
       |pq5 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT c.query_id, c.neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
       |        ${cosExpr("q3", "nq", "b4", "nn3")} DESC, c.neighbor_id ASC) AS r
       |    FROM pcand c
       |    JOIN emb q3 ON q3.vec_id = c.query_id
       |    JOIN emb b4 ON b4.vec_id = c.neighbor_id
       |    JOIN norms nq ON nq.vec_id = c.query_id
       |    JOIN norms nn3 ON nn3.vec_id = c.neighbor_id) z
       |  WHERE r <= 5),
       |nn AS (SELECT COUNT(*) AS c FROM bf),
       |lhit AS (SELECT COUNT(*) AS c FROM bf JOIN lsh USING (query_id, neighbor_id)),
       |ihit AS (SELECT COUNT(*) AS c FROM bf JOIN ivf USING (query_id, neighbor_id)),
       |phit AS (SELECT COUNT(*) AS c FROM bf JOIN pq5 USING (query_id, neighbor_id))
       |SELECT
       |  CAST(lhit.c AS DOUBLE) / CAST(nn.c AS DOUBLE) AS lsh_recall,
       |  CAST(ihit.c AS DOUBLE) / CAST(nn.c AS DOUBLE) AS ivf_recall,
       |  CAST(phit.c AS DOUBLE) / CAST(nn.c AS DOUBLE) AS ivfpq_recall,
       |  nn.c AS n_exact_pairs
       |FROM nn, lhit, ihit, phit""".stripMargin
  }

  /** ANN quality surface: recall@5 of the LSH and (trained-codebook) IVF
    * paths against the exact brute-force neighbors — the accuracy/cost
    * trade of the approximate tiers as driver-readable numbers.
    *
    * Recall is ESTIMATED on a FIXED-COUNT deterministic anchor set
    * ([[IndexHealth.recallAnchorBudget]] ids by hash order) while every tier still
    * searches the FULL corpus: recall is a population statistic, so a
    * fixed anchor budget answers it with exact ground truth costing
    * anchors·m — flat per corpus scan at any scale, where a fixed-RATE
    * sample still grew O(m²) and priced the meter out at ×100. The
    * per-tier result sets are tiny (≤ k rows per anchor) and are
    * persisted so the hit-count joins don't re-run a search lineage per
    * count.
    *
    * Hash-checked (round-7 verdict #3): every side of every recall
    * fraction now has its own green DuckDB replay (brute via the exact
    * cosine, LSH from the dumped plane set, IVF/IVF-PQ from the dumped
    * codebooks), so the composed metric is oracle-derivable the way
    * dedup_recall composed its two sides. Two portability swaps make the
    * composition exact: the query sample is the cross-engine md5 hash
    * family ([[graft.ops.TextOps.portableHash56]] — the minhash/LSH-cap
    * precedent; production sampling stays xxhash64 via
    * [[graft.ops.PipelineOps]]), and the LSH tier runs its portable-cap
    * variant exactly as the covering sim_topk_lsh query does.
    */
  val simRecall: QueryDef = QueryDef.withOracle(duckSimRecallOracle) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    // fixed anchor budget (round-11 verdict #4, was a 1/8 rate sample):
    // truth cost O(anchors × corpus), not O(corpus²/8); below the budget
    // the anchor set is the whole corpus, so small-sf oracle tiers keep
    // full truth
    val anchorSet = IndexHealth.recallAnchorIds(e, "vec_id")
    val sampled: Column => Column = id => id.isin(anchorSet.map(Long.box): _*)
    val queries = e.where(sampled(col("vec_id")))
    // pre-touch the memoized codebooks OUTSIDE the parallel region: two
    // tiers read them, and a concurrent first-use would train twice
    val cells = trainedCodebook(s, dir)
    val pq = trainedPq(s, dir)
    // The four tier searches are independent eager pipelines (each
    // *TopK materializes via localCheckpoint); running them sequentially
    // left most of the 32 cores idle through each pipeline's many small
    // stages (measured 68 jobs / 14 s isolated). Overlapping them lets
    // the scheduler back-fill one tier's task tails with the next tier's
    // stages (opt guide §2.6); tier contents are unchanged — each is a
    // fully-determined frame — so the hit counts below are identical.
    val Seq((exact, nExactL), (lsh, _), (ivf, _), (ivfpq, _)) =
      Parallelism.inParallel[(DataFrame, Long)](Seq(
        // brute tier is a lazy plan: persist AND count inside the thunk so
        // the phase-2 joins read a materialized cache instead of racing on
        // its lineage (the other tiers localCheckpoint internally — eager)
        () => {
          val df = Similarity.bruteForceTopK(queries, e, k = 5)
            .select("query_id", "neighbor_id").persist()
          (df, df.count())
        },
        () => (Similarity
          .lshTopK(e, k = 5, queryIdPredicate = Some(sampled), portableCapHash = true)
          .select("query_id", "neighbor_id").persist(), 0L),
        () => (Similarity
          .ivfTopK(queries, e, k = 5, trainedCodebook = Some(cells))
          .select("query_id", "neighbor_id").persist(), 0L),
        () => (Similarity
          .ivfPqTopK(queries, e, k = 5,
            trainedCells = Some(cells), trainedPq = Some(pq))
          .select("query_id", "neighbor_id").persist(), 0L)))
    val Seq(lshHits, ivfHits, ivfpqHits) = Parallelism.inParallel(Seq(
      () => exact.join(lsh, Seq("query_id", "neighbor_id")).count(),
      () => exact.join(ivf, Seq("query_id", "neighbor_id")).count(),
      () => exact.join(ivfpq, Seq("query_id", "neighbor_id")).count()))
    val nExact = nExactL.toDouble
    Seq(exact, lsh, ivf, ivfpq).foreach(_.unpersist(blocking = false))
    val spark = s
    import spark.implicits._
    Seq((lshHits / nExact, ivfHits / nExact, ivfpqHits / nExact, nExact.toLong))
      .toDF("lsh_recall", "ivf_recall", "ivfpq_recall", "n_exact_pairs")
  }
}
