package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class SimilaritySpec extends AnyFunSuite with SparkFixture {

  private val dim = 16

  private def embDF(vs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(
      vs.map { case (id, v) => Row(id, v.toSeq, 0) }.asJava,
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    d / (na * nb)
  }

  private def randomVecs(n: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    (0L until n.toLong).map(i => (i, Array.fill(dim)(rng.nextFloat() * 2 - 1)))
  }

  test("brute-force top-k matches the plain-Scala oracle exactly") {
    val vs = randomVecs(30, 3)
    val df = embDF(vs)
    val got = Similarity.bruteForceTopK(df, df, k = 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    val byId = vs.toMap
    vs.foreach { case (q, qv) =>
      val expected = vs.filter(_._1 != q)
        .map { case (c, cv) => (c, cosine(qv, cv)) }
        .sortBy { case (c, s) => (-s, c) }
        .take(3).map(_._1)
      expected.zipWithIndex.foreach { case (nid, i) =>
        assert(got((q, i + 1)) == nid, s"query $q rank ${i + 1}")
      }
    }
  }

  test("LSH top-k achieves high top-1 recall vs brute force") {
    // Random vectors have NO true near neighbors (top-1 cosine ~0.5-0.65 at
    // dim 16), so the collision S-curve needs short signatures: with p =
    // 1-θ/π per plane, 4 planes × 12 tables gives ≥90% expected recall at
    // cos ≈ 0.5. Long signatures (8+ planes) are for true near-dup regimes.
    val vs = randomVecs(100, 7)
    val df = embDF(vs)
    val brute = Similarity.bruteForceTopK(df, df, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val lsh = Similarity.lshTopK(df, k = 1, dim = dim, numPlanes = 4, numTables = 12)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val hits = brute.count { case (q, n) => lsh.get(q).contains(n) }
    assert(hits >= 70, s"top-1 recall $hits/100 below 70%")
  }

  test("k-means codebook training improves the assignment objective") {
    val vs = randomVecs(200, 23)
    val df = embDF(vs)

    def objective(cells: Array[Array[Float]]): Double = {
      // Σ over vectors of max-dot against the codebook (what assignment
      // maximizes; Lloyd updates must not decrease it materially)
      vs.map { case (_, v) =>
        cells.map(c => c.zip(v).map { case (x, y) => x.toDouble * y }.sum).max
      }.sum
    }

    // iterations=0 yields the normalized cold-start codebook — the proper
    // same-scale baseline for the monotone spherical-k-means objective
    val cold = Similarity.trainCodebook(df, dim = dim, numCells = 8, iterations = 0)
    val trained = Similarity.trainCodebook(df, dim = dim, numCells = 8, iterations = 3)
    assert(trained.length == 8 && trained.forall(_.length == dim))
    assert(objective(trained) > objective(cold),
      s"training did not improve the assignment objective")
    // full-probe IVF with the trained codebook is still exact
    val brute = Similarity.bruteForceTopK(df, df, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val full = Similarity.ivfTopK(df, df, k = 1, nProbe = 8, numCells = 8, dim = dim,
      trainedCodebook = Some(trained))
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(full == brute)
  }

  test("IVF top-k with full probes equals brute force; fewer probes trade recall") {
    val vs = randomVecs(60, 11)
    val df = embDF(vs)
    val brute = Similarity.bruteForceTopK(df, df, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val full = Similarity.ivfTopK(df, df, k = 1, nProbe = 8, numCells = 8, dim = dim)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    // probing every cell = exact
    assert(full == brute)
    val partial = Similarity.ivfTopK(df, df, k = 1, nProbe = 2, numCells = 8, dim = dim)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val hits = brute.count { case (q, n) => partial.get(q).contains(n) }
    assert(hits >= 30, s"nProbe=2 recall $hits/60 suspiciously low")
  }

  test("partition-pruned serve over a written cell index matches in-memory IVF") {
    val vs = randomVecs(80, 17)
    val df = embDF(vs)
    val cb = Similarity.trainCodebook(df, dim = dim, numCells = 8, iterations = 2)
    val path = java.nio.file.Files.createTempDirectory("ivf_index_").toString
    Similarity.writeCellIndex(df, cb, path)
    val qid = 7L
    val qv = vs.find(_._1 == qid).get._2
    val served = Similarity.servePrunedTopK(
      spark.read.parquet(path), qid, qv, cb, k = 5, nProbe = 3)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    val inMem = Similarity.ivfTopK(df.where(col("vec_id") === qid), df,
      k = 5, nProbe = 3, numCells = 8, dim = dim, trainedCodebook = Some(cb))
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    assert(served.toSeq == inMem.toSeq)
    // the physical plan must prune partitions: only the probed cells scan
    val plan = Similarity.servePrunedTopK(
      spark.read.parquet(path), qid, qv, cb, k = 5, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "serve plan lost partition pruning")
  }

  test("MIPS-routed top-k reaches >=0.8 recall vs a brute raw-dot baseline") {
    val vs = randomVecs(400, 17)
    val df = embDF(vs)
    val k = 10
    val got = Similarity.mipsIvfTopK(df, df, k = k, nProbe = 6, numCells = 20,
      queryIdCol = "vec_id", corpusIdCol = "vec_id", vecCol = "embedding",
      dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val truth = vs.flatMap { case (q, qv) =>
      vs.map { case (c, cv) => (q, c, dot(qv, cv)) }
        .sortBy { case (_, c, s) => (-s, c) }.take(k).map { case (_, c, _) => (q, c) }
    }.toSet
    val recall = got.count(truth.contains).toDouble / truth.size
    assert(recall >= 0.8, s"MIPS recall@$k=$recall")
    // MIPS ranks by raw dot: long vectors must be able to outrank aligned
    // short ones — verify the scores are dots, not cosines, on one row
    val sample = Similarity.mipsIvfTopK(df, df, k = 1, nProbe = 6, numCells = 20,
      queryIdCol = "vec_id", corpusIdCol = "vec_id", vecCol = "embedding",
      dim = dim)
      // both id columns are named vec_id here — rename before sorting (the
      // materialized result has no lineage for Spark to resolve through)
      .toDF("query_id", "neighbor_id", "rank", "score")
      .orderBy("query_id").head()
    val byId = vs.toMap
    val expected = dot(byId(sample.getLong(0)), byId(sample.getLong(1)))
    assert(math.abs(sample.getDouble(3) - expected) < 1e-6)
  }

  test("mipsIvfTopK with a pre-trained index equals the train-per-call result") {
    val vs = randomVecs(150, 31)
    val df = embDF(vs)
    def rows(d: DataFrame): Seq[(Long, Long, Int)] =
      d.toDF("query_id", "neighbor_id", "rank", "score")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val perCall = Similarity.mipsIvfTopK(df, df, k = 3, nProbe = 4, numCells = 10,
      queryIdCol = "vec_id", corpusIdCol = "vec_id", vecCol = "embedding", dim = dim)
    val idx = Similarity.trainMipsIndex(df, vecCol = "embedding", dim = dim, numCells = 10)
    val served = Similarity.mipsIvfTopK(df, df, k = 3, nProbe = 4, numCells = 10,
      queryIdCol = "vec_id", corpusIdCol = "vec_id", vecCol = "embedding", dim = dim,
      trainedIndex = Some(idx))
    assert(rows(perCall) == rows(served),
      "pre-trained-index serving diverged from the train-per-call path")
  }

  test("trainMipsIndex fails fast with a clear message on an empty corpus") {
    val empty = embDF(Seq.empty)
    val e = intercept[IllegalArgumentException] {
      Similarity.trainMipsIndex(empty, vecCol = "embedding", dim = dim, numCells = 4)
    }
    assert(e.getMessage.contains("corpus has no rows"), s"opaque error: ${e.getMessage}")
    // and the serving entry point inherits the guard (round-6 ADVICE: was an NPE)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.mipsIvfTopK(embDF(randomVecs(3, 1)), empty,
        queryIdCol = "vec_id", corpusIdCol = "vec_id", vecCol = "embedding", dim = dim)
    }
    assert(e2.getMessage.contains("corpus has no rows"))
  }

  test("ivfTopK probes only occupied cells (dead cells cannot strand a query)") {
    // corpus = two tight clusters around ±e0, so a hand-built codebook of
    // [e0, -e0, e1..e6] has six provably DEAD cells (no corpus vector's
    // argmax-dot lands on an orthogonal axis). A query pointing along e5
    // would rank the dead e5 cell first: before the round-6 ADVICE fix its
    // single probe slot went there and it returned ZERO candidates; with
    // occupied-cell probing it must return a full k from the live cells.
    def axis(i: Int, s: Float): Array[Float] =
      Array.tabulate(dim)(d => if (d == i) s else 0f)
    val rng = new scala.util.Random(5)
    val vs: Seq[(Long, Array[Float])] = (0L until 40L).map { i =>
      val c = if (i % 2 == 0) 1f else -1f
      (i, Array.tabulate(dim)(d =>
        (if (d == 0) c else 0f) + (rng.nextFloat() - 0.5f) * 0.01f))
    }
    val cb: Array[Array[Float]] =
      Array(axis(0, 1f), axis(0, -1f)) ++ (1 to 6).map(i => axis(i, 1f))
    val queries = embDF(Seq((1000L, axis(5, 1f))))
    val got = Similarity.ivfTopK(queries, embDF(vs), k = 3, nProbe = 1,
      numCells = 8, dim = dim, trainedCodebook = Some(cb))
      .collect()
    assert(got.length == 3,
      s"query stranded with ${got.length} results — dead cell consumed its probe slot")
  }

  test("append-without-retrain serve equals a full index build") {
    val vs = randomVecs(90, 23)
    val df = embDF(vs)
    val cb = Similarity.trainCodebook(df, dim = dim, numCells = 8, iterations = 2)
    val full = java.nio.file.Files.createTempDirectory("ivf_full_").toString
    val incr = java.nio.file.Files.createTempDirectory("ivf_incr_").toString
    Similarity.writeCellIndex(df, cb, full)
    Similarity.writeCellIndex(df.where(col("vec_id") % 2 === 0), cb, incr)
    Similarity.appendToCellIndex(df.where(col("vec_id") % 2 === 1), cb, incr)
    for (qid <- Seq(0L, 7L, 41L)) {
      val qv = vs.find(_._1 == qid).get._2
      def serve(path: String) = Similarity.servePrunedTopK(
        spark.read.parquet(path), qid, qv, cb, k = 5, nProbe = 3)
        .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSeq
      assert(serve(incr) == serve(full), s"query $qid")
    }
  }

  test("results are deterministic across runs") {
    val df = embDF(randomVecs(40, 13))
    val a = Similarity.lshTopK(df, k = 3, dim = dim).collect().map(_.toString).sorted
    val b = Similarity.lshTopK(df, k = 3, dim = dim).collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  /** Cosine as the kernels score it: left-to-right double dot and norms,
    * 0.0 when either norm is zero.
    */
  private def kernelCosine(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < x.length) { s += x(i).toDouble * y(i); i += 1 }
      s
    }
    val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  /** Plain-Scala top-k of `q` over `candidates` ranked by the total order
    * (Double.compare on −score, then id), as `(query, rank) -> (neighbor,
    * score bits)`.
    */
  private def totalOrderTopK(
      q: (Long, Array[Float]),
      candidates: Seq[(Long, Array[Float])],
      k: Int): Seq[((Long, Int), (Long, Long))] =
    candidates.map { case (c, cv) => (c, kernelCosine(q._2, cv)) }
      .sortBy { case (c, sc) => (-sc, c) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      .take(k).zipWithIndex
      .map { case ((c, sc), i) => (q._1, i + 1) -> (c, java.lang.Double.doubleToLongBits(sc)) }

  private def topKRows(df: DataFrame): Map[(Long, Int), (Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(2)) ->
      (r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(3)))).toMap

  /** Random vectors with two all-NaN and one half-NaN member. */
  private def withNaNs(n: Int, seed: Int): Seq[(Long, Array[Float])] =
    randomVecs(n, seed).map {
      case (id, _) if id == 3L || id == n - 5L => (id, Array.fill(dim)(Float.NaN))
      case (id, v) if id == n / 2L => (id, v.indices.map(i => if (i % 2 == 0) Float.NaN else v(i)).toArray)
      case other => other
    }

  test("NaN vectors rank last in ivfTopK: every cell probed equals a total-order top-k") {
    val vs = withNaNs(60, 41)
    val df = embDF(vs)
    val k = 5
    val got = topKRows(Similarity.ivfTopK(df, df, k = k, nProbe = 8, numCells = 8, dim = dim))
    val want = vs.flatMap(q => totalOrderTopK(q, vs.filter(_._1 != q._1), k)).toMap
    assert(got == want, (want.toSet diff got.toSet).take(5).mkString("missing: ", ", ", ""))
  }

  test("NaN vectors rank last in lshTopK: equals a total-order top-k over its buckets") {
    val vs = withNaNs(60, 43)
    val df = embDF(vs)
    val (k, planes, tables) = (5, 2, 3)
    // the candidate set: ids sharing a (table, signature) bucket with the
    // query; maxBucket above the corpus size disables the cap
    val buckets: Map[Long, Set[(Int, Long)]] = Similarity
      .withHyperplaneSignatures(df.select(col("vec_id").as("id"), col("embedding").as("v")),
        "v", dim, planes, tables, 42L)
      .select("id", "sigs").collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1).map(b => (b.getInt(0), b.getLong(1))).toSet)
      .toMap
    def candidates(q: Long) =
      vs.filter(c => c._1 != q && (buckets(c._1) & buckets(q)).nonEmpty)
    assert(vs.exists(q => candidates(q._1).exists(_._1 == 3L) && candidates(q._1).size > k),
      "fixture must put a NaN vector in a bucket with more than k candidates")
    val got = topKRows(Similarity.lshTopK(df, k = k, dim = dim, numPlanes = planes,
      numTables = tables, maxBucket = 1000))
    val want = vs.flatMap(q => totalOrderTopK(q, candidates(q._1), k)).toMap
    assert(got == want, (want.toSet diff got.toSet).take(5).mkString("missing: ", ", ", ""))
  }

  /** Reference probe selector: boxed (cell, dot) pairs sorted by the
    * total order on (−(dot + 0.0), cell id), as TopCellsExpr ranks them.
    */
  private def probeCellsSubset(
      v: Array[Float],
      cells: Seq[(Int, Array[Float])],
      nProbe: Int): Seq[Int] =
    cells.map { case (cid, c) =>
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i).toDouble * c(i); i += 1 }
      (cid, s)
    }
      .sortBy { case (i, d) => (-(d + 0.0), i) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      .take(nProbe)
      .map(_._1)

  test("probeCellsPrim equals probeCellsSubset on random and adversarial tie inputs") {
    val rnd = new scala.util.Random(17)
    def vec(d: Int): Array[Float] = Array.fill(d)((rnd.nextInt(7) - 3).toFloat)
    for (trial <- 0 until 200) {
      val d = 1 + rnd.nextInt(6)
      val nCells = 1 + rnd.nextInt(12)
      // small integer coordinates force frequent exact score TIES, the
      // case where the (score desc, cell-id asc) contract actually bites
      val occ: Seq[(Int, Array[Float])] =
        (0 until nCells).map(c => (c * 3 + rnd.nextInt(2), vec(d)))
          .distinctBy(_._1).sortBy(_._1)
      val q = vec(d)
      val nProbe = 1 + rnd.nextInt(5)
      val boxed = probeCellsSubset(q, occ, nProbe)
      val ids = occ.map(_._1).toArray
      val mat = occ.flatMap(_._2).toArray
      val prim = Similarity.probeCellsPrim(q, ids, mat, nProbe).toSeq
      assert(prim == boxed, s"trial $trial: prim $prim != boxed $boxed")
    }
    // zero-vector query: every dot is -0.0-collapsible 0.0 -> pure id-asc
    val occZ: Seq[(Int, Array[Float])] =
      Seq((5, Array(1f, 2f)), (1, Array(-3f, 4f)), (9, Array(0f, 0f)))
    val z = Array(0f, 0f)
    assert(Similarity.probeCellsPrim(z, occZ.map(_._1).toArray,
      occZ.flatMap(_._2).toArray, 2).toSeq ==
      probeCellsSubset(z, occZ, 2))
    // NaN/Inf scores (round-14 ADVICE): primitive <,== are false for NaN,
    // which let a NaN-scored cell OVERWRITE the last slot; the boxed total
    // ordering ranks NaN last. Mix NaN, ±Inf and real centroids at every
    // nProbe so both the include-to-fill and the evict paths are hit.
    val occNaN: Seq[(Int, Array[Float])] = Seq(
      (0, Array(Float.NaN, 1f)),           // NaN score
      (2, Array(1f, 0f)),                  // real score
      (4, Array(Float.PositiveInfinity, 0f)), // +Inf score
      (6, Array(Float.NegativeInfinity, 0f)), // -Inf score
      (8, Array(Float.NaN, Float.NaN)),    // NaN score, ties cell 0 -> id asc
      (9, Array(-2f, 1f)))                 // real negative score
    val qNaN = Array(1f, 1f)
    for (nProbe <- 1 to occNaN.size) {
      val boxed = probeCellsSubset(qNaN, occNaN, nProbe)
      val prim = Similarity.probeCellsPrim(qNaN, occNaN.map(_._1).toArray,
        occNaN.flatMap(_._2).toArray, nProbe).toSeq
      assert(prim == boxed, s"nProbe $nProbe: prim $prim != boxed $boxed")
    }
  }

  test("PCA orders variance and preserves geometry at full rank") {
    val df = embDF(randomVecs(60, 29))
    val r = Similarity.pca(df, k = 8)
    // explained variance: a probability profile, decreasing
    assert(r.explainedVariance.forall(v => v >= 0.0 && v <= 1.0))
    assert(r.explainedVariance.sum <= 1.0 + 1e-9)
    r.explainedVariance.zip(r.explainedVariance.drop(1)).foreach { case (a, b) =>
      assert(a >= b - 1e-12, "explained variance must be non-increasing")
    }
    // full-rank projection multiplies by an orthonormal basis, so all
    // pairwise distances survive exactly
    val full = Similarity.pca(df, k = dim).projected
      .collect().map(row => row.getLong(0) -> row.getSeq[Double](1).toArray).toMap
    val orig = df.collect()
      .map(row => row.getLong(0) -> row.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ids = orig.keys.toSeq.sorted.take(10)
    for (i <- ids; j <- ids if i < j) {
      assert(math.abs(dist(full(i), full(j)) - dist(orig(i), orig(j))) < 1e-6,
        s"distance ($i,$j) not preserved at full rank")
    }
  }
}
