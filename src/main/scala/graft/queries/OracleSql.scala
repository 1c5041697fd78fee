package graft.queries

/** The one emitter of the DuckDB oracles' shared arithmetic and replay
  * blocks. Every oracle that replays engine float arithmetic does it
  * through one contract: trained floats travel as `(key, pos, value)`
  * dumps, pivot back to one row per key, and every dot product is a
  * left-to-right sum of DOUBLE-cast float products — DuckDB's
  * left-associative `+` over explicit casts is bit-identical to the
  * codegen loops' `sum += (double)a[i] * (double)b[i]` (DotProductExpr,
  * TopCellsExpr), and 0.0 + x == x exactly, so their seed term changes
  * nothing. The family files compose these pieces; none restates them.
  *
  * Emitted text is part of the gate's contract: `tools/diff_dumps.py`
  * compares two Verify runs' `oracle_sql.json`, and OracleSqlSpec pins the
  * shapes below.
  */
private[queries] object OracleSql {

  // ------------------------------------------------------------------
  // The portable dot
  // ------------------------------------------------------------------

  /** One term of the portable dot (the MIPS oracles append the augmented
    * coordinate to a cell dot with it).
    */
  def term(a: String, b: String): String = s"CAST($a AS DOUBLE) * CAST($b AS DOUBLE)"

  /** The `dim`-term portable dot over operands `a(p)`, `b(p)`. */
  private def dot(dim: Int, a: Int => String, b: Int => String): String =
    (0 until dim).map(p => term(a(p), b(p))).mkString(" + ")

  /** Operand `p` of a pivoted row: the column `<prefix><p>`. */
  private def pivoted(prefix: String): Int => String = p => s"$prefix$p"

  /** Operand `p` of a DuckDB list (1-based): `<list>[from + p + 1]`. */
  private def elem(list: String, from: Int = 0): Int => String = p => s"$list[${from + p + 1}]"

  /** Dot of two pivoted factor rows, columns `<u>0..` and `<i>0..`. */
  def factorDot(u: String, i: String, dim: Int = 8): String = dot(dim, pivoted(u), pivoted(i))

  /** Dot of a pivoted rank-8 factor row with a pivoted codebook row `<cb>.c0..`. */
  def factorCellDot(p: String, cb: String): String = dot(8, pivoted(p), pivoted(s"$cb.c"))

  /** Dot of two embedding lists (DotProductExpr). */
  def listDot(a: String, b: String, dim: Int = 64): String = dot(dim, elem(a), elem(b))

  /** `norms`: each `emb` vector's L2 norm, the square root of its portable self-dot. */
  val normsCte: String =
    s"""norms AS (SELECT vec_id, SQRT(${listDot("e.embedding", "e.embedding")}) AS nrm
       |  FROM emb e)""".stripMargin

  /** Dot of an embedding list with a pivoted codebook row (TopCellsExpr). */
  def listCellDot(list: String, cb: String, dim: Int): String =
    dot(dim, elem(list), pivoted(s"$cb.c"))

  // ------------------------------------------------------------------
  // The (key, pos, value) pivot
  // ------------------------------------------------------------------

  /** The pivot's columns: `MAX(CASE WHEN pos = p THEN value END) AS <prefix><p>`. */
  private def pivotCols(prefix: String, dim: Int): String =
    (0 until dim).map(p => s"MAX(CASE WHEN pos = $p THEN value END) AS $prefix$p").mkString(", ")

  /** A dump pivoted to one row per `key`; `filter` is a WHERE clause
    * followed by a space, or empty.
    */
  private def pivotCte(alias: String, key: String, dump: String, prefix: String, dim: Int,
      filter: String = ""): String =
    s"$alias AS (SELECT $key, ${pivotCols(prefix, dim)} FROM read_parquet('{{OUT}}/$dump/*.parquet') ${filter}GROUP BY $key)"

  /** A factor-table dump pivoted to one row per id, columns `<p>0..<p>{dim-1}`. */
  def factorCte(alias: String, dump: String, p: String, dim: Int = 8, where: String = ""): String =
    pivotCte(alias, "id", dump, p, dim, s"$where ")

  /** A codebook dump pivoted to one row per cell, FLOAT columns `c0..c{dim-1}`. */
  def codebookCte(alias: String, dump: String, dim: Int): String =
    pivotCte(alias, "cell", dump, "c", dim)

  /** One space of the als_index_build dump pivoted to one row per cell
    * (`dim` = 8 for the cosine space, 9 for the MIPS augmented space).
    */
  def servingCodebookCte(alias: String, space: String, dim: Int): String =
    s"""$alias AS (SELECT cell, ${pivotCols("c", dim)}
       |  FROM read_parquet('{{OUT}}/als_index_build/*.parquet')
       |  WHERE space = '$space' GROUP BY cell)""".stripMargin

  // ------------------------------------------------------------------
  // LSH sign replay
  // ------------------------------------------------------------------

  /** `plp`: a 64-dim hyperplane dump pivoted to one row per (table, plane). */
  def planePivotCte(dump: String): String =
    s"""plp AS (
       |  SELECT t, plane, ${pivotCols("q", 64)}
       |  FROM read_parquet('{{OUT}}/$dump/*.parquet')
       |  GROUP BY t, plane)""".stripMargin

  /** Per-table packed sign signatures of `emb e` against `plp`: bit p set
    * iff the portable dot with plane p is ≥ 0 (the engine's arithmetic).
    */
  def lshSignCte(name: String): String =
    s"""$name AS (
       |  SELECT e.vec_id, pl.t,
       |    SUM(CASE WHEN (${dot(64, elem("e.embedding"), pivoted("pl.q"))}) >= 0.0
       |        THEN (CAST(1 AS BIGINT) << pl.plane) ELSE 0 END) AS sig
       |  FROM emb e CROSS JOIN plp pl
       |  GROUP BY e.vec_id, pl.t)""".stripMargin

  // ------------------------------------------------------------------
  // IVF-PQ ADC replay (8 subspaces × 8 dims × 16 codes over 64-dim vectors)
  // ------------------------------------------------------------------

  private val PqSub = 8
  private val PqSubDim = 8

  /** `pqp` (the sim_pq_codebook dump pivoted per (m, code)) and `pqh`
    * (each code's ‖c‖²/2).
    */
  val pqCodebookCtes: String =
    s"""pqp AS (SELECT m, code, ${pivotCols("p", PqSubDim)}
       |  FROM read_parquet('{{OUT}}/sim_pq_codebook/*.parquet') GROUP BY m, code),
       |pqh AS (SELECT m, code, (${dot(PqSubDim, pivoted("p"), pivoted("p"))}) / 2.0 AS half FROM pqp)""".stripMargin

  /** The composed IVF-PQ search over `emb e`, given the IVF assignment
    * CTE `assign` (vec_id, cell), the query × cell dot CTE `scores`
    * (vec_id, cell, s), codebook CTE `cb`, and [[pqCodebookCtes]]: FLOAT
    * residuals against the assigned centroid, per-subspace
    * argmax-(dot − ‖c‖²/2) codes with lowest-code ties, 4 probes per
    * query (`restrictProbes` narrows the query side), the ADC
    * qdotcell + Σₘ q_subₘ·c_{m,codeₘ} in the engine's left-to-right
    * order, and the (adc desc, id asc) rerank-50 cut as CTE `cand`. The
    * other names rename the intermediate CTEs.
    */
  def pqAdcCtes(
      assign: String = "assign",
      scores: String = "scores",
      restrictProbes: String = "",
      score: String = "cscore",
      codes: String = "codes",
      words: String = "cw",
      probes: String = "probes",
      adc: String = "adc",
      cand: String = "cand"): String = {
    // residual columns r0..r63 (FLOAT subtraction, as zip_with produces)
    val resCols = (0 until PqSub * PqSubDim)
      .map(i => s"CAST(e.embedding[${i + 1}] AS FLOAT) - CAST(cb.c$i AS FLOAT) AS r$i")
      .mkString(", ")
    // per-(m, code) score over the residual slice: dot − ‖c‖²/2
    val caseBranches = (0 until PqSub).map { m =>
      s"WHEN $m THEN ${dot(PqSubDim, j => s"res.r${m * PqSubDim + j}", pivoted("pq.p"))}"
    }.mkString(" ")
    val codePivot = (0 until PqSub)
      .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS k$m").mkString(", ")
    val lutJoins = (0 until PqSub)
      .map(m => s"JOIN pqp pm$m ON pm$m.m = $m AND pm$m.code = cw.k$m").mkString("\n  ")
    val lutSum = (0 until PqSub)
      .map(m => s"(${dot(PqSubDim, elem("q.embedding", m * PqSubDim), pivoted(s"pm$m.p"))})")
      .mkString(" + ")
    val wordsAsCw = if (words == "cw") "cw" else s"$words cw"
    s"""res AS (
       |  SELECT e.vec_id, a.cell, $resCols
       |  FROM emb e JOIN $assign a USING (vec_id) JOIN cb ON cb.cell = a.cell),
       |$score AS (
       |  SELECT res.vec_id, pq.m, pq.code,
       |    (CASE pq.m $caseBranches END) - h.half AS score
       |  FROM res CROSS JOIN pqp pq JOIN pqh h ON h.m = pq.m AND h.code = pq.code),
       |$codes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY score DESC, code ASC) AS r
       |    FROM $score) z WHERE r = 1),
       |$words AS (SELECT vec_id, $codePivot FROM $codes GROUP BY vec_id),
       |$probes AS (
       |  SELECT vec_id AS query_id, cell, s AS qdotcell FROM (
       |    SELECT sc.vec_id, sc.cell, sc.s,
       |      ROW_NUMBER() OVER (PARTITION BY sc.vec_id ORDER BY sc.s DESC, sc.cell ASC) AS r
       |    FROM $scores sc$restrictProbes) z WHERE r <= 4),
       |$adc AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    p.qdotcell + ($lutSum) AS adc
       |  FROM $probes p
       |  JOIN $assign a USING (cell)
       |  JOIN $wordsAsCw ON cw.vec_id = a.vec_id
       |  JOIN emb q ON q.vec_id = p.query_id
       |  $lutJoins
       |  WHERE p.query_id <> a.vec_id),
       |$cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC) AS r
       |    FROM $adc) z WHERE r <= 50)""".stripMargin
  }

  // ------------------------------------------------------------------
  // Grid, membership and cell-count oracles for trained-float dumps
  // ------------------------------------------------------------------

  /** MEMBERSHIP oracle for an exploded trained-float dump `(id, pos,
    * value)` (round-7 verdict #7): DuckDB cannot train ALS/k-means, so the
    * float VALUES pass through the engine's own dump via a left join —
    * self-referential by design, spec-checked on the engine side — while
    * the (id, pos) GRID is derived independently (`idsSql` × pos
    * 0..dim−1). The gate then pins row membership, row count, and schema:
    * a factor row for an id outside the derivation, a missing id, or a
    * missing position fails rows/hash; only the float magnitudes stay
    * engine-specific. This is the partial-green form the round-7 verdict
    * prescribed for the trained-float surfaces.
    */
  def membershipOracle(
      dump: String,
      idsSql: String,
      dim: Int,
      idCol: String = "id",
      posCol: String = "pos"): String =
    s"""WITH ids AS ($idsSql),
       |grid AS (
       |  SELECT ids.id, CAST(pp.p AS INT) AS pos
       |  FROM ids CROSS JOIN (SELECT unnest(generate_series(0, ${dim - 1})) AS p) pp)
       |SELECT g.id AS $idCol, g.pos AS $posCol, f.value
       |FROM grid g LEFT JOIN read_parquet('{{OUT}}/$dump/*.parquet') f
       |  ON f.$idCol = g.id AND f.$posCol = g.pos
       |ORDER BY g.id, g.pos""".stripMargin

  /** Fixed-grid membership oracle for a multi-key codebook/plane dump:
    * the expected key grid is the CROSS product of the given
    * `(name, count)` ranges (all engine-side constants or SQL-derivable
    * counts), values pass through the dump via a left join — the
    * [[membershipOracle]] form generalized to composite keys. Pins grid
    * completeness (exactly one row per key tuple), row count, and schema;
    * the trained floats stay engine-specific.
    */
  def gridOracle(dump: String, keys: Seq[(String, String)]): String = {
    val ctes = keys.map { case (k, n) =>
      s"g_$k AS (SELECT CAST(unnest(generate_series(0, ($n) - 1)) AS INT) AS $k)"
    }.mkString(",\n")
    val cross = keys.map(k => s"g_${k._1}").mkString(" CROSS JOIN ")
    val cols = keys.map(_._1)
    val sel = cols.map(k => s"grid.$k").mkString(", ")
    val on = cols.map(k => s"f.$k = grid.$k").mkString(" AND ")
    s"""WITH $ctes,
       |grid AS (SELECT ${cols.mkString(", ")} FROM $cross)
       |SELECT $sel, f.value
       |FROM grid LEFT JOIN read_parquet('{{OUT}}/$dump/*.parquet') f ON $on
       |ORDER BY ${cols.map(k => s"grid.$k").mkString(", ")}""".stripMargin
  }

  /** SQL twin of [[graft.ops.Similarity.defaultNumCells]] over a table's
    * row count: GREATEST(16, LEAST(4096, ROUND(SQRT(n)))) — keeps the grid
    * oracles count-agnostic now that codebooks are √n-sized (round 8).
    */
  def defaultCellsSql(table: String): String =
    s"GREATEST(16, LEAST(4096, CAST(ROUND(SQRT(CAST((SELECT COUNT(*) FROM $table) AS DOUBLE))) AS INT)))"

  /** DuckDB replay of [[graft.ops.PipelineOps.zOrderKey]]'s magic-number
    * bit spread: one SELECT-clause step per mask (chained through CTEs —
    * nesting the whole thing in one expression would duplicate each
    * sub-expression 16×).
    */
  def spread16Steps(tag: String, src: String): Seq[String] = Seq(
    s"($src & 65535) AS ${tag}0",
    s"((${tag}0 | (${tag}0 << 8)) & 16711935) AS ${tag}1",
    s"((${tag}1 | (${tag}1 << 4)) & 252645135) AS ${tag}2",
    s"((${tag}2 | (${tag}2 << 2)) & 858993459) AS ${tag}3",
    s"((${tag}3 | (${tag}3 << 1)) & 1431655765) AS ${tag}4")
}
