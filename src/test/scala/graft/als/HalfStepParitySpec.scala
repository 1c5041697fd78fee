package graft.als

import graft.SparkFixture
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Pins the half-step kernel of [[BlockedALS.computeFactors]] (row-major
  * [[RowGramian]] filled four observations per pass, in-place right-looking
  * Cholesky) BIT FOR BIT against the packed path it replaced: per-rating
  * [[NormalEquation.add]], a k×k symmetric unpack and a left-looking
  * Cholesky, reproduced driver-side by the oracle in the companion object.
  *
  * Every dst entity holds 1–9 ratings, so every four-observation remainder
  * (0–3 pending) runs; ranks straddle the vector widths; ratings include
  * zeros and negatives, which take the `b == 0` and zero-confidence
  * branches; both src-factor lookups (dense, and sparse via the injected
  * cap) are compared.
  *
  * The src side is ONE block: `computeYtY` sums one partial per block and
  * then merges the partials, so with several src blocks its YᵀY and the
  * oracle's single running sum can differ in the last bit.
  */
class HalfStepParitySpec extends AnyFunSuite with SparkFixture {
  import HalfStepParitySpec._

  private val Ranks = Seq(1, 3, 4, 5, 16, 63, 64, 65)
  private val RatingValues = Array(-2f, 0f, 0.5f, 1f, 3f, 5f)

  /** Item i is rated by (i % 9) + 1 distinct users; more users than the
    * largest rank, so the implicit path's YᵀY is positive definite even for
    * an item with no positive rating (λ = 0). */
  private def ratings(seed: Int): Seq[Rating] = {
    val rng = new scala.util.Random(seed)
    (0 until 54).flatMap { item =>
      rng.shuffle((0 until 120).toList).take(item % 9 + 1).map { u =>
        Rating(u.toLong, item.toLong, RatingValues(rng.nextInt(RatingValues.length)))
      }
    }
  }

  test("computeFactors is bit-identical to the packed per-rating kernel") {
    val sc = spark.sparkContext
    val userPart = new HashPartitioner(1)
    val itemPart = new HashPartitioner(2)
    val tiles = BlockedALS.partitionRatings(sc.parallelize(ratings(17), 4), userPart, itemPart)
    val (userIn, userOut, userBc) =
      BlockedALS.makeBlocks(tiles, userPart, itemPart, StorageLevel.MEMORY_ONLY)
    val swapped = tiles.map { case ((ub, ib), b) =>
      ((ib, ub), RatingBlock(b.dstIds, b.srcIds, b.ratings))
    }
    val (itemIn, itemOut, itemBc) =
      BlockedALS.makeBlocks(swapped, itemPart, userPart, StorageLevel.MEMORY_ONLY)
    val encoder = new LocalIndexEncoder(userPart.numPartitions)
    val outByBlock = userOut.collect().toMap
    val inByBlock = itemIn.collect().toMap
    val sizes = inByBlock.values.flatMap(b => b.dstPtrs.sliding(2).map(p => p(1) - p(0))).toSet
    assert(sizes == (1 to 9).toSet, s"entity sizes $sizes")

    for (rank <- Ranks) {
      // signed Gaussian factors, seeded per block so recomputation agrees
      val userFactors: RDD[(Int, Array[Array[Float]])] = userIn.mapValues { in =>
        val rng = new java.util.Random(rank * 1000L + in.srcIds.head)
        Array.fill(in.srcIds.length)(Array.fill(rank)(rng.nextGaussian().toFloat))
      }.persist(StorageLevel.MEMORY_ONLY)
      val factorsByBlock = userFactors.collect().toMap

      for ((implicitPrefs, nonnegative) <- Seq((false, false), (true, false), (false, true),
          (true, true))) {
        val regParam = 0.07
        val alpha = 1.5
        val yty = if (implicitPrefs) BlockedALS.computeYtY(userFactors, rank) else null
        val expected = oracleFactors(factorsByBlock, outByBlock, inByBlock, encoder, rank,
          regParam, implicitPrefs, alpha, nonnegative, yty)
        for (maxDense <- Seq(BlockedALS.DenseSrcFactorLookupMax, 0)) {
          val solver = if (nonnegative) new NNLSSolver else new CholeskySolver
          val got = BlockedALS.computeFactors(userFactors, userOut, itemIn, rank, regParam,
            encoder, implicitPrefs, alpha, solver, maxDense).collect().toMap
          val label = s"rank $rank implicit=$implicitPrefs nonnegative=$nonnegative " +
            s"maxDense=$maxDense"
          assert(got.keySet == expected.keySet, label)
          for ((block, rows) <- expected; (row, j) <- rows.zipWithIndex) {
            val bits = got(block)(j).map(java.lang.Float.floatToRawIntBits).toSeq
            assert(bits == row.map(java.lang.Float.floatToRawIntBits).toSeq,
              s"$label: block $block row $j differs")
          }
        }
      }
      userFactors.unpersist()
    }
    userIn.unpersist(); userOut.unpersist(); itemIn.unpersist(); itemOut.unpersist()
    userBc.unpersist(); itemBc.unpersist()
  }

  test("RowGramian accumulates exactly what NormalEquation.add does") {
    val rng = new java.util.Random(5)
    for (k <- Ranks; n <- 0 to 9) {
      val packed = new NormalEquation(k)
      val rows = new RowGramian(k)
      rows.reset(null)
      for (_ <- 0 until n) {
        val a = Array.fill(k)(rng.nextGaussian().toFloat)
        val b = if (rng.nextInt(3) == 0) 0.0 else rng.nextGaussian()
        val c = rng.nextDouble() * 3
        packed.add(a, b, c)
        rows.add(a, b, c)
      }
      rows.flush()
      var pos = 0
      for (i <- 0 until k; j <- i until k) {
        assert(java.lang.Double.doubleToRawLongBits(rows.rows(i)(j)) ==
          java.lang.Double.doubleToRawLongBits(packed.ata(pos)), s"k=$k n=$n ($i,$j)")
        pos += 1
      }
      assert(rows.atb.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
        packed.atb.toSeq.map(java.lang.Double.doubleToRawLongBits), s"k=$k n=$n atb")
    }
  }

  test("row Cholesky equals the left-looking form in double precision, factor and solution") {
    // the float factors above can hide a last-bit double difference; this
    // compares the factorization itself
    val rng = new java.util.Random(9)
    for (k <- Ranks; obs <- Seq(1, k / 2 + 1, 2 * k)) {
      val ne = new NormalEquation(k)
      for (_ <- 0 until obs) ne.add(Array.fill(k)(rng.nextGaussian().toFloat), rng.nextGaussian())
      val lambda = 0.03 * obs
      val dense = new Array[Double](k * k)
      val g = new RowGramian(k)
      g.reset(ne)
      var pos = 0
      for (i <- 0 until k) {
        for (j <- i until k) {
          dense(i * k + j) = ne.ata(pos); dense(j * k + i) = ne.ata(pos); pos += 1
        }
        dense(i * k + i) += lambda
        g.rows(i)(i) += lambda
      }
      val expected = leftLookingSolve(dense, ne.atb.clone(), k)
      CholeskySolver.solveInPlace(g.rows, g.atb, k)
      def bits(xs: Iterable[Double]) = xs.map(java.lang.Double.doubleToRawLongBits).toSeq
      assert(bits(g.atb) == bits(expected), s"k=$k obs=$obs: solution")
      for (i <- 0 until k; j <- i until k)
        assert(java.lang.Double.doubleToRawLongBits(g.rows(i)(j)) ==
          java.lang.Double.doubleToRawLongBits(dense(j * k + i)), s"k=$k obs=$obs: U($i,$j)")
    }
  }

  test("RowGramian keeps the observation checks") {
    val g = new RowGramian(3)
    intercept[IllegalArgumentException](g.add(Array(1f, 2f), 1.0))
    intercept[IllegalArgumentException](g.add(Array(1f, 2f, 3f), 1.0, -0.5))
    intercept[IllegalArgumentException](g.add(Array(1f, 2f, 3f), 1.0, Double.NaN))
  }
}

object HalfStepParitySpec {

  /** The half-step as it ran before the row-major kernel, on the driver. */
  def oracleFactors(
      srcFactors: Map[Int, Array[Array[Float]]],
      srcOut: Map[Int, OutBlock],
      dstIn: Map[Int, InBlock],
      encoder: LocalIndexEncoder,
      rank: Int,
      regParam: Double,
      implicitPrefs: Boolean,
      alpha: Double,
      nonnegative: Boolean,
      yty: NormalEquation): Map[Int, Array[Array[Float]]] =
    dstIn.map { case (dstBlock, inBlock) =>
      // what each src block ships to this dst block, in routing order
      val shipped = srcOut.collect { case (srcBlock, out) if out.dstBlockIds.contains(dstBlock) =>
        srcBlock -> out.activeIndices(out.dstBlockIds.indexOf(dstBlock)).map(srcFactors(srcBlock))
      }
      val ls = new NormalEquation(rank)
      dstBlock -> Array.tabulate(inBlock.srcIds.length) { j =>
        ls.reset()
        if (yty != null) ls.merge(yty)
        var numExplicits = 0
        for (i <- inBlock.dstPtrs(j) until inBlock.dstPtrs(j + 1)) {
          val encoded = inBlock.dstEncodedIndices(i)
          val srcFactor = shipped(encoder.blockId(encoded))(encoder.localIndex(encoded))
          val rating = inBlock.ratings(i)
          if (implicitPrefs) {
            val c1 = alpha * math.abs(rating)
            if (rating > 0.0f) numExplicits += 1
            ls.add(srcFactor, if (rating > 0.0f) 1.0 + c1 else 0.0, c1)
          } else {
            ls.add(srcFactor, rating)
            numExplicits += 1
          }
        }
        packedSolve(ls, numExplicits * regParam, nonnegative)
      }
    }

  /** The packed solve before the row form: k×k symmetric unpack plus λ on
    * the diagonal, then left-looking Cholesky or projected CG.
    */
  def packedSolve(ne: NormalEquation, lambda: Double, nonnegative: Boolean): Array[Float] = {
    val k = ne.k
    val a = new Array[Double](k * k)
    var pos = 0
    for (i <- 0 until k) {
      for (j <- i until k) {
        a(i * k + j) = ne.ata(pos)
        a(j * k + i) = ne.ata(pos)
        pos += 1
      }
      a(i * k + i) += lambda
    }
    val x =
      if (nonnegative) NNLS.solve(a, ne.atb.clone(), k)
      else leftLookingSolve(a, ne.atb.clone(), k)
    x.map(_.toFloat)
  }

  /** Left-looking (dot-product) Cholesky with forward and back solves on a
    * dense k×k matrix, as `CholeskySolver` ran it before the row form.
    */
  def leftLookingSolve(a: Array[Double], b: Array[Double], k: Int): Array[Double] = {
    var j = 0
    while (j < k) {
      var s = a(j * k + j)
      var p = 0
      while (p < j) { val l = a(j * k + p); s -= l * l; p += 1 }
      if (s <= 0.0 || s.isNaN)
        throw new ArithmeticException(
          s"Cholesky failed at pivot $j (value $s): Gramian not positive definite; " +
            "input factors likely contain NaN/Inf")
      val ljj = math.sqrt(s)
      a(j * k + j) = ljj
      var i = j + 1
      while (i < k) {
        var t = a(i * k + j)
        var q = 0
        while (q < j) { t -= a(i * k + q) * a(j * k + q); q += 1 }
        a(i * k + j) = t / ljj
        i += 1
      }
      j += 1
    }
    var i = 0
    while (i < k) {
      var t = b(i)
      var q = 0
      while (q < i) { t -= a(i * k + q) * b(q); q += 1 }
      b(i) = t / a(i * k + i)
      i += 1
    }
    i = k - 1
    while (i >= 0) {
      var t = b(i)
      var q = i + 1
      while (q < k) { t -= a(q * k + i) * b(q); q += 1 }
      b(i) = t / a(i * k + i)
      i -= 1
    }
    b
  }
}
