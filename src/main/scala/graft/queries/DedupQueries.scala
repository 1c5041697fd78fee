package graft.queries

import graft.ops.{Dedup, IndexHealth, Parallelism, Similarity, TextOps}
import graft.queries.OracleSql._
import graft.queries.Queries.t
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The near-dedup surface: MinHash/SimHash/n-gram-Jaccard pair tiers,
  * embedding LSH near-dups, clusters, recall, decontamination, incremental
  * and boilerplate/span dedup.
  * See [[Queries]] for the determinism conventions.
  */
object DedupQueries {

  /** Word-3-gram shingle generation (pos 0-based; a doc shorter than the
    * shingle width contributes its whole text) as DuckDB CTEs — the oracle
    * twin of TextOps.shingles, shared by the dedup oracles below.
    */
  private val duckShingleCtes: String =
    """toks AS (
      |  SELECT doc_id AS id, text, str_split(text, ' ') AS ts FROM documents),
      |pos AS (
      |  SELECT id, text, ts, unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS p
      |  FROM toks),
      |sh0 AS (
      |  SELECT id,
      |    CASE WHEN len(ts) < 3 THEN text
      |         ELSE concat_ws(' ', ts[p], ts[p+1], ts[p+2]) END AS s
      |  FROM pos)""".stripMargin

  /** MinHash signature minima (portable Broder-style family
    * `h_i = (h1 + i·h2) mod 2^56` over md5-prefix base hashes) and the
    * 16×4 banding over `sh0`, as the CTEs `hs`, `sigs`, `bands` every
    * minhash oracle below replays. (Band buckets compare by value on both
    * sides — Spark hashes the band slice, the oracle concatenates it;
    * identical pair sets either way.)
    */
  private val minhashBandCtes: String = {
    val P = PortableMinhash.Modulus
    val mins = (1 to 64).map(i => s"MIN((h1 + ${i - 1} * h2) % $P) AS m$i").mkString(",\n  ")
    val bandSelects = (0 until 16).map { b =>
      val cols = (1 to 4).map(r => s"m${b * 4 + r}").mkString(", ")
      s"SELECT id, $b AS band, concat_ws('|', $cols) AS bucket FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""hs AS (
       |  SELECT id,
       |    ('0x' || substr(md5(s), 1, 14))::BIGINT AS h1,
       |    ('0x' || substr(md5(s || '#'), 1, 14))::BIGINT AS h2
       |  FROM sh0),
       |sigs AS (SELECT id,
       |  $mins
       |  FROM hs GROUP BY id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** MinHash-LSH near-dedup keep-list, hash-checked end-to-end: the oracle
    * replays the signatures and banding, bucket-collision candidate
    * generation, and the exact shingle-Jaccard verify, then derives the
    * same keeper set. Shared by `dedup_minhash_keepers` and the
    * forced-grouped-candidates twin `dedup_minhash_grouped`: the two Spark
    * paths are pair-set-identical by construction, so one DuckDB replay
    * oracles both (the same relationship the ngram tier's adaptive/kernel
    * rows have).
    */
  private val minhashKeepersOracleSql: String =
    s"""WITH $duckShingleCtes,
       |$minhashBandCtes,
       |cands AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
       |shd AS (SELECT id, list_distinct(list(s)) AS sh FROM sh0 GROUP BY id),
       |pairs AS (
       |  SELECT id_b FROM (
       |    SELECT c.id_b,
       |      len(list_intersect(a.sh, b.sh))::DOUBLE /
       |        len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS j
       |    FROM cands c JOIN shd a ON a.id = c.id_a JOIN shd b ON b.id = c.id_b) z
       |  WHERE j >= 0.5)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT id_b FROM pairs)
       |ORDER BY doc_id""".stripMargin

  val dedupMinhashKeepers: QueryDef = QueryDef.withOracle(minhashKeepersOracleSql) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5, family = PortableMinhash)
    Dedup.nearDedupKeepers(docs, pairs).select("doc_id", "lang", "source").orderBy("doc_id")
  }

  /** Forced-grouped-candidates twin of `dedup_minhash_keepers`
    * (`candidatesMinBytes = 0` pins the one-exchange grouped candidate
    * path the ≥256 MB tiers take by default), so the above-pivot path
    * stays hash-checked and timed at the sf gate every round — exactly
    * the `dedup_ngram_kernel` discipline for the minhash tier.
    */
  val dedupMinhashGrouped: QueryDef = QueryDef.withOracle(minhashKeepersOracleSql) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5, family = PortableMinhash,
      candidatesMinBytes = 0L)
    Dedup.nearDedupKeepers(docs, pairs).select("doc_id", "lang", "source").orderBy("doc_id")
  }

  /** SimHash signatures per document, hash-checked against a DuckDB oracle
    * that replays the full vote/sign-fold pipeline. Uses the cross-engine
    * portable 56-bit md5 hash ([[TextOps.portableHash56]]) so both engines
    * see identical per-token hashes; the production default stays xxhash64
    * (value-parity between the two forms is the same algorithm, asserted by
    * DedupSpec on the expression form).
    */
  val dedupSimhashSignatures: QueryDef = QueryDef.withOracle {
    val votes = (0 until 56)
      .map(i => s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(",\n  ")
    val sig = (0 until 56)
      .map(i => s"(CASE WHEN v$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString(" | ")
    s"""WITH toks AS (
       |  SELECT doc_id AS id, unnest(str_split(text, ' ')) AS t FROM documents),
       |hs AS (
       |  SELECT id, ('0x' || substr(md5(t), 1, 14))::BIGINT AS h FROM toks),
       |votes AS (
       |  SELECT id,
       |  $votes
       |  FROM hs GROUP BY id)
       |SELECT id, $sig AS sig
       |FROM votes
       |ORDER BY id""".stripMargin
  } { (s, dir) =>
    Dedup.simhashSignatures(t(s, dir, "documents"),
      numBits = 56, hashFn = TextOps.portableHash56)
      .orderBy("id")
  }

  /** n-gram Jaccard similar pairs via the inverted-index candidate join
    * (df-capped postings: this synthetic corpus is low-entropy, so common
    * shingles are aggressively dropped from candidate generation).
    * Hash-checked: the oracle replays the same df-cap, shared-rare≥2
    * pruning, and exact-Jaccard verify on raw shingle strings (Spark joins
    * on xxhash64 of the shingle — an equality-preserving optimization).
    */
  private val ngramJaccardOracleSql: String =
    s"""WITH $duckShingleCtes,
       |shd AS (SELECT id, list_distinct(list(s)) AS sh FROM sh0 GROUP BY id),
       |inv AS (SELECT DISTINCT id, s FROM sh0),
       |rare AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 20),
       |posts AS (SELECT inv.id, inv.s FROM inv JOIN rare USING (s)),
       |cand AS (
       |  SELECT x.id AS id_a, y.id AS id_b
       |  FROM posts x JOIN posts y ON x.s = y.s AND x.id < y.id
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(a.sh, b.sh))::DOUBLE /
       |      len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jaccard
       |  FROM cand c JOIN shd a ON a.id = c.id_a JOIN shd b ON b.id = c.id_b) z
       |WHERE jaccard >= 0.05
       |ORDER BY id_a, id_b""".stripMargin

  val dedupNgramJaccard: QueryDef = QueryDef.withOracle(ngramJaccardOracleSql) { (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.05, maxDocFrequency = 20)
      .orderBy("id_a", "id_b")
  }

  /** The sorted-run pair-generation KERNEL (SCALING §12.9) forced at gate
    * scale against the identical oracle as [[dedupNgramJaccard]]: the
    * size-adaptive default gives sf fixtures the one-action join plan, so
    * without this row the driver's hash gate would never execute the
    * exchange→radix-sort→bounded-run-emission path that carries the
    * ≥×100 tiers. Same pair set, bit-identical jaccard doubles.
    */
  val dedupNgramKernel: QueryDef = QueryDef.withOracle(ngramJaccardOracleSql) { (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.05, maxDocFrequency = 20,
        kernelMinBytes = 0L)
      .orderBy("id_a", "id_b")
  }

  /** The hyperplane set dedup_embedding signs against (4 tables × 12
    * planes × 64 dims), dumped as scalar rows so the oracle can replay
    * signature computation. Grid-checked (the fixed 4×12×64 key grid —
    * seeded pseudo-random floats pass through: java.util.Random is not
    * replayable in SQL, which is exactly why the planes travel by dump).
    */
  val dedupEmbeddingPlanes: QueryDef = QueryDef.withOracle(
    gridOracle("dedup_embedding_planes",
      Seq("t" -> "4", "plane" -> "12", "pos" -> "64"))) { (s, dir) =>
    val spark = s
    import spark.implicits._
    Similarity.lshPlanes(dim = 64, planesPerTable = 12, numTables = 4, seed = 42L)
      .zipWithIndex.flatMap { case (planes, tbl) =>
        planes.zipWithIndex.flatMap { case (pl, p) =>
          pl.zipWithIndex.map { case (v, pos) => (tbl, p, pos, v) }
        }
      }.toSeq.toDF("t", "plane", "pos", "value").orderBy("t", "plane", "pos")
  }

  /** The embedding near-dup replay over the dumped plane set: signatures
    * `sigs` per table, then `pairCtes` deriving the candidate pair CTE
    * named `pairs` (id_a, id_b), verified by exact cosine ≥ 0.3.
    */
  private def embeddingPairsOracle(pairCtes: String, pairs: String): String =
    s"""WITH ${planePivotCte("dedup_embedding_planes")},
       |emb AS (SELECT vec_id, embedding FROM embeddings),
       |$normsCte,
       |${lshSignCte("sigs")},
       |$pairCtes
       |SELECT p.id_a, p.id_b,
       |  CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
       |       ELSE (${listDot("a.embedding", "b.embedding")}) / (na.nrm * nb.nrm)
       |  END AS cosine
       |FROM $pairs p
       |JOIN emb a ON a.vec_id = p.id_a
       |JOIN emb b ON b.vec_id = p.id_b
       |JOIN norms na ON na.vec_id = p.id_a
       |JOIN norms nb ON nb.vec_id = p.id_b
       |WHERE CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0.0
       |       ELSE (${listDot("a.embedding", "b.embedding")}) / (na.nrm * nb.nrm)
       |  END >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  /** Embedding-cosine near-dup pairs through hyperplane LSH buckets —
    * hash-checked (round 7): given the dumped plane set, the whole
    * pipeline is deterministic and the oracle replays it — per-table
    * packed sign signatures (bit p set iff the left-to-right double dot
    * against plane p is ≥ 0, identical arithmetic), intra-bucket pairs
    * with id_a < id_b, distinct, exact cosine ≥ threshold. A hash match
    * pins bucketing AND verification bit-for-bit.
    */
  val dedupEmbedding: QueryDef = QueryDef.withOracle(
    embeddingPairsOracle(
      """pairs AS (
        |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM sigs x JOIN sigs y
        |    ON x.t = y.t AND x.sig = y.sig AND x.vec_id < y.vec_id)""".stripMargin,
      "pairs")) { (s, dir) =>
    Dedup.embeddingNearDups(t(s, dir, "embeddings"), threshold = 0.3)
      .orderBy("id_a", "id_b")
  }

  /** Anchor-linked embedding near-dups — the O(n·tables) scale twin of
    * dedup_embedding (see [[Dedup.embeddingNearDupAnchors]]: pair listing
    * is output-bound quadratic on dup-dense corpora; a dedup pipeline
    * needs connectivity, not the full pair set). Hash-checked: the oracle
    * replays signatures from the same dumped plane set, takes MIN(vec_id)
    * per (table, bucket) as the anchor, links every other member to it,
    * and verifies exact cosine — bucketing, anchor election, and
    * verification all pinned bit-for-bit.
    */
  val dedupEmbeddingAnchors: QueryDef = QueryDef.withOracle(
    embeddingPairsOracle(
      """anchors AS (SELECT t, sig, MIN(vec_id) AS id_b FROM sigs GROUP BY t, sig),
        |links AS (
        |  SELECT DISTINCT s.vec_id AS id_a, a.id_b
        |  FROM sigs s JOIN anchors a ON a.t = s.t AND a.sig = s.sig
        |  WHERE s.vec_id <> a.id_b)""".stripMargin,
      "links")) { (s, dir) =>
    Dedup.embeddingNearDupAnchors(t(s, dir, "embeddings"), threshold = 0.3)
      .orderBy("id_a", "id_b")
  }

  /** Dedup-tier quality surface: recall of the MinHash-LSH near-dup pairs
    * against the exact inverted-index Jaccard pairs at the same 0.5
    * threshold — the accuracy/cost trade of the banded tier as driver-
    * readable numbers (the dedup twin of sim_recall).
    *
    * Hash-checked as of round 6: both sides of the
    * metric already have full DuckDB replays (the minhash-LSH pipeline
    * from dedup_minhash_keepers, the df-capped exact-Jaccard pipeline from
    * dedup_ngram_jaccard), so the composed recall is oracle-derivable.
    * The LSH side runs the portable md5 hash family (same algorithm as
    * production xxhash64 — the sibling queries set the precedent).
    *
    * Exact side at the PRODUCTION operating point (df-cap 20, shared≥2 —
    * same as dedup_ngram_jaccard): a pair at Jaccard ≥ 0.5 shares many
    * shingles, so the pruning loses ~nothing while keeping the candidate
    * set bounded (df-cap 100 + shared≥1 measured 36s vs ~6s at sf0.1 on
    * the low-entropy fixture corpus).
    */
  val dedupRecall: QueryDef = QueryDef.withOracle(
    s"""WITH $duckShingleCtes,
       |shd AS (SELECT id, list_distinct(list(s)) AS sh FROM sh0 GROUP BY id),
       |danchors AS (SELECT doc_id AS id FROM documents
       |  ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT, doc_id
       |  LIMIT ${IndexHealth.recallAnchorBudget}),
       |$minhashBandCtes,
       |cands AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
       |  WHERE x.id IN (SELECT id FROM danchors)),
       |lsh AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |      len(list_intersect(a.sh, b.sh))::DOUBLE /
       |        len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS j
       |    FROM cands c JOIN shd a ON a.id = c.id_a JOIN shd b ON b.id = c.id_b) z
       |  WHERE j >= 0.5),
       |inv AS (SELECT DISTINCT id, s FROM sh0),
       |rare AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 20),
       |posts AS (SELECT inv.id, inv.s FROM inv JOIN rare USING (s)),
       |ecand AS (
       |  SELECT x.id AS id_a, y.id AS id_b
       |  FROM posts x JOIN posts y ON x.s = y.s AND x.id < y.id
       |  WHERE x.id IN (SELECT id FROM danchors)
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |exact AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |      len(list_intersect(a.sh, b.sh))::DOUBLE /
       |        len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS j
       |    FROM ecand c JOIN shd a ON a.id = c.id_a JOIN shd b ON b.id = c.id_b) z
       |  WHERE j >= 0.5),
       |m AS (
       |  SELECT
       |    (SELECT count(*) FROM exact) AS n_exact,
       |    (SELECT count(*) FROM exact e JOIN lsh l
       |       ON e.id_a = l.id_a AND e.id_b = l.id_b) AS n_hits)
       |SELECT CAST(n_exact AS BIGINT) AS n_exact_pairs,
       |  CAST(n_hits AS BIGINT) AS n_lsh_hits,
       |  CASE WHEN n_exact = 0 THEN 1.0
       |       ELSE n_hits::DOUBLE / n_exact END AS lsh_pair_recall
       |FROM m""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    // fixed ANCHOR-COUNT sample of the EXACT truth tier (round-12 verdict
    // #7: the 1/4 RATE sample still grew the truth tier with the corpus —
    // 29.8 s at ×100 — where the sim meters' fixed 256-anchor budget is a
    // population-statistics law, flat per corpus scan at any scale). Pair
    // recall is estimated over pairs whose smaller id is one of the
    // [[IndexHealth.recallAnchorBudget]] deterministic anchors; the predicate is
    // pushed into candidate generation so the exact side's join and
    // verify are O(anchors × postings), not O(corpus²). Below the budget
    // (sf0.01 and under) the anchor set covers the corpus — full truth.
    // Oracle replays the identical ORDER BY md5-hash LIMIT anchor set;
    // RecallAnchorSpec pins the anchored estimate against full truth.
    val anchorSet = IndexHealth.recallAnchorIds(docs, "doc_id")
    val anchored: Column => Column =
      id => id.isin(anchorSet.map(Long.box): _*)
    // ONE shingle pass feeds both tiers (each would otherwise scan and
    // shingle the corpus itself), and BOTH tiers restrict the pair's
    // smaller id to the anchors: the hit join only ever consults LSH
    // pairs with an anchored id_a (exact ⊆ anchored), so the recall
    // fraction is bit-identical while signatures stay corpus-wide and
    // candidate/verify work shrinks to O(anchors) — the sim meters'
    // query-side restriction applied to pair recall.
    val shingled = Dedup.shingleFrame(docs).persist()
    // materialize the shared shingle cache ONCE, then overlap the two
    // independent pair pipelines (exact inverted-index side, minhash-LSH
    // side — both eager builders) so one side's small-stage tails
    // back-fill with the other's work (opt guide §2.6; was 35 sequential
    // jobs / 5.6 s isolated). Pair sets are fully determined, so the
    // recall fraction is unchanged.
    shingled.count()
    val Seq(exactPairs, lshPairs) = Parallelism.inParallel(Seq(
      () => Dedup.ngramJaccardPairs(
        docs, threshold = 0.5, maxDocFrequency = 20, minSharedShingles = 2,
        idAPredicate = Some(anchored), preShingled = Some(shingled)),
      () => Dedup.minhashNearDups(docs, threshold = 0.5,
        family = PortableMinhash,
        idAPredicate = Some(anchored), preShingled = Some(shingled))))
    val exact = exactPairs.select("id_a", "id_b")
    val lsh = lshPairs.select("id_a", "id_b")
    val Seq(nExact, hits) = Parallelism.inParallel(Seq(
      () => exact.count(),
      () => exact.join(lsh, Seq("id_a", "id_b")).count()))
    // both pair frames come back persisted (their builders cache them for
    // the verify joins) — release them, and the shared shingle frame, so
    // they don't pressure later queries
    exactPairs.unpersist(blocking = false)
    lshPairs.unpersist(blocking = false)
    shingled.unpersist(blocking = false)
    val spark = s
    import spark.implicits._
    Seq((nExact, hits, if (nExact == 0) 1.0 else hits.toDouble / nExact))
      .toDF("n_exact_pairs", "n_lsh_hits", "lsh_pair_recall")
  }

  /** Near-dup CLUSTER resolution: the transitive closure of the n-gram
    * Jaccard pair relation (near-dup similarity is not transitive, so
    * keep-one-per-cluster needs components, not pairs), every document
    * labeled with its component's min doc_id and the component size.
    * Spark side runs alternating large-star/small-star
    * ([[Dedup.connectedComponents]]); the oracle replays the identical
    * pair generation and closes it with a recursive CTE — small-data
    * equivalent of the O(log²n)-round distributed algorithm.
    *
    * ORACLE CTE SHAPE IS LOAD-BEARING (characterized in RecursiveCteSpec /
    * commit c01e93a): the `reach` closure below MUST be the frontier-dedup
    * `UNION` form, because the doubled edge set `e` is cyclic (u→v and
    * v→u) and only UNION's dedup terminates the fixpoint. DuckDB accepts
    * it; Spark 4.1's WITH RECURSIVE rejects exactly this UNION form at
    * analysis (UNION ALL only, which on a cyclic edge set never
    * terminates) — that asymmetry is WHY the Spark side runs
    * large-star/small-star instead of a recursive CTE.
    */
  val dedupClusters: QueryDef = QueryDef.withOracle(
    s"""WITH RECURSIVE $duckShingleCtes,
       |shd AS (SELECT id, list_distinct(list(s)) AS sh FROM sh0 GROUP BY id),
       |inv AS (SELECT DISTINCT id, s FROM sh0),
       |rare AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 20),
       |posts AS (SELECT inv.id, inv.s FROM inv JOIN rare USING (s)),
       |cand AS (
       |  SELECT x.id AS id_a, y.id AS id_b
       |  FROM posts x JOIN posts y ON x.s = y.s AND x.id < y.id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT c.id_a, c.id_b,
       |      len(list_intersect(a.sh, b.sh))::DOUBLE /
       |        len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jaccard
       |    FROM cand c JOIN shd a ON a.id = c.id_a JOIN shd b ON b.id = c.id_b) z
       |  WHERE jaccard >= 0.05),
       |e AS (SELECT id_a AS u, id_b AS v FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
       |comp AS (
       |  SELECT u AS id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
       |SELECT d.doc_id,
       |  CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       |  CAST(count(*) OVER (PARTITION BY coalesce(c.cluster_id, d.doc_id)) AS BIGINT)
       |    AS cluster_size
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.05, maxDocFrequency = 20)
    val comp = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    val labeled = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    // cluster_size as a window count (the oracle's own formulation): the
    // former groupBy + join-back spent two exchanges on the same key —
    // the window needs one (opt guide §2.4: operations keyed the same way
    // should share one exchange). Same rows, same counts.
    labeled
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select("doc_id", "cluster_id", "cluster_size")
      .orderBy("doc_id")
  }

  /** Benchmark decontamination gate: per corpus doc, distinct-shingle
    * overlap against a held-out "benchmark" slice (doc_id % 10 == 0 stands
    * in for the eval set), with count / fraction / verdict columns. The
    * benchmark shingle set broadcasts; the corpus side never shuffles.
    * Hash-checked: DuckDB replays the shingling and overlap joins on raw
    * shingle strings (Spark joins on xxhash64 of the shingle — an
    * equality-preserving optimization, as in dedup_ngram_jaccard).
    */
  val decontaminate: QueryDef = QueryDef.withOracle(
    s"""WITH $duckShingleCtes,
       |shd AS (SELECT DISTINCT id, s FROM sh0),
       |bench AS (SELECT DISTINCT s FROM shd WHERE id % 10 = 0),
       |corp AS (SELECT id, s FROM shd WHERE id % 10 <> 0),
       |tot AS (SELECT id, CAST(count(*) AS BIGINT) AS n_shingles FROM corp GROUP BY id),
       |hits AS (SELECT c.id, CAST(count(*) AS BIGINT) AS n_overlap
       |         FROM corp c JOIN bench b USING (s) GROUP BY c.id)
       |SELECT t.id AS doc_id, t.n_shingles,
       |  CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
       |    AS overlap_frac,
       |  (CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)) >= 0.5
       |    AS contaminated
       |FROM tot t LEFT JOIN hits h ON h.id = t.id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val bench = docs.where(pmod(col("doc_id"), lit(10L)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(10L)) =!= 0)
    Dedup.contaminationStats(corpus, bench, threshold = 0.5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Today's batch (doc_id % 5 == 0) minus exact copies of the corpus. */
  private val incrementalOracleSql: String =
    """SELECT doc_id, lang, source FROM documents b
      |WHERE doc_id % 5 = 0
      |  AND md5(b.text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 5 <> 0)
      |ORDER BY doc_id""".stripMargin

  /** Incremental exact dedup: today's batch (doc_id % 5 == 0 stands in for
    * the new crawl) anti-joined on content hash against the index of the
    * existing corpus — the daily-ingest shape where corpus text is never
    * rescanned. Oracle replays the md5 anti-join.
    */
  val dedupIncremental: QueryDef = QueryDef.withOracle(incrementalOracleSql) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
    val index = Dedup.exactHashIndex(docs.where(pmod(col("doc_id"), lit(5L)) =!= 0))
    Dedup.incrementalKeepers(batch, index)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered incremental dedup: same semantics (and the same
    * oracle SQL) as dedup_incremental, but the batch consults a
    * broadcast-style bloom filter of the corpus hashes first and only
    * bloom-positive rows reach the exact index join — the shape that
    * keeps daily-ingest dedup cheap when the corpus index no longer fits
    * a broadcast join.
    */
  val dedupIncrementalBloom: QueryDef = QueryDef.withOracle(incrementalOracleSql) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
    Dedup.incrementalKeepersBloom(batch, corpus)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Incremental NEAR-dup dedup, hash-checked end-to-end: today's batch
    * (doc_id % 5 == 0) dedups against the `minhashIndex` of the existing
    * corpus — banded-LSH candidates against the STORED bucket keys, exact
    * Jaccard against the STORED hashed shingle sets, corpus text never
    * re-read. The oracle replays signatures/banding/verify restricted to
    * batch×corpus pairs (signatures are per-doc, so computing them over
    * all docs and restricting the join sides is identical to the engine's
    * two-frame split; bucket keys compare by value on both sides, as in
    * dedup_minhash_keepers). Within-batch near-dups stay — the operator's
    * contract is batch-vs-corpus only.
    */
  val dedupIncrementalMinhash: QueryDef = QueryDef.withOracle(
    s"""WITH $duckShingleCtes,
       |$minhashBandCtes,
       |cands AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |   AND x.id % 5 = 0 AND y.id % 5 <> 0),
       |shd AS (SELECT id, list_distinct(list(s)) AS sh FROM sh0 GROUP BY id),
       |matched AS (
       |  SELECT DISTINCT id_a FROM (
       |    SELECT c.id_a,
       |      len(list_intersect(a.sh, b.sh))::DOUBLE /
       |        len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS j
       |    FROM cands c JOIN shd a ON a.id = c.id_a JOIN shd b ON b.id = c.id_b) z
       |  WHERE j >= 0.5)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT id_a FROM matched)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val batch = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
    // persist the in-query index: incrementalNearDupKeepers reads it twice
    // (bucket join + shingle verify), and uncached each read re-ran the
    // full corpus shingle→signature lineage (opt guide §1.2 — in a real
    // pipeline the index is READ from storage, so the double scan was pure
    // gate-query overhead). The keeper set materializes inside the call,
    // so the cache frees immediately after.
    val index = Dedup.minhashIndex(
      docs.where(pmod(col("doc_id"), lit(5L)) =!= 0), family = PortableMinhash).persist()
    val out = Dedup
      .incrementalNearDupKeepers(batch, index, threshold = 0.5, family = PortableMinhash)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
    index.unpersist(blocking = false)
    out
  }

  /** Cross-document boilerplate removal: documents chunked into disjoint
    * 8-word windows; chunks occurring in ≥2 distinct documents are
    * stripped corpus-wide and the survivors reassembled in order. The
    * oracle replays chunking (1-based list slices), the distinct-doc
    * frequency gate, the anti-join, and the ordered reassembly; text
    * integrity rides on md5 of the cleaned text.
    */
  val dedupBoilerplate: QueryDef = QueryDef.withOracle(
    """WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, i AS idx, array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS chunk
      |  FROM w, unnest(range(0, CAST(ceil(len(ws)/8.0) AS BIGINT))) AS t(i)
      |),
      |freq AS (SELECT chunk FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
      |kept AS (SELECT doc_id, idx, chunk FROM c WHERE chunk NOT IN (SELECT chunk FROM freq)),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept, string_agg(chunk, ' ' ORDER BY idx) AS clean
      |  FROM kept GROUP BY doc_id),
      |n AS (SELECT doc_id, CAST(ceil(len(ws)/8.0) AS BIGINT) AS n_chunks FROM w)
      |SELECT n.doc_id, n.n_chunks,
      |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
      |  md5(coalesce(agg.clean, '')) AS clean_md5
      |FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
      |ORDER BY n.doc_id""".stripMargin) { (s, dir) =>
    Dedup.removeBoilerplate(t(s, dir, "documents"), chunkSize = 8, minDocs = 2)
      .select(
        col("id").as("doc_id"),
        col("n_chunks"),
        col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Exact duplicate-span pairs (Lee et al.-style exact-substring signal):
    * doc pairs sharing ≥1 verbatim 16-word run, df-capped at 50. Oracle
    * replays stride-1 span extraction, the md5-prefix 56-bit span hash,
    * the df gate, and the pair join — byte-identical hash on both sides.
    */
  val dedupSpanPairs: QueryDef = QueryDef.withOracle(
    """WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
      |sp AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x'||substr(md5(array_to_string(ws[(i+1):(i+16)], ' ')),1,14))::BIGINT AS h
      |  FROM w, unnest(range(0, CAST(greatest(len(ws) - 16, 0) AS BIGINT) + 1)) AS t(i)
      |),
      |df AS (SELECT h FROM sp GROUP BY h HAVING count(*) BETWEEN 2 AND 50)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS BIGINT) AS shared_spans
      |FROM sp a JOIN df USING (h) JOIN sp b USING (h)
      |WHERE a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Dedup.duplicateSpanPairs(t(s, dir, "documents"), spanWords = 16, maxDf = 50)
      .orderBy("id_a", "id_b")
  }
}
