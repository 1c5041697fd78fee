package graft.als

import org.scalatest.funsuite.AnyFunSuite

class SolverSpec extends AnyFunSuite {

  private def denseFromPacked(ne: NormalEquation): Array[Array[Double]] = {
    val k = ne.k
    val m = Array.ofDim[Double](k, k)
    var pos = 0
    for (i <- 0 until k; j <- i until k) {
      m(i)(j) = ne.ata(pos); m(j)(i) = ne.ata(pos); pos += 1
    }
    m
  }

  test("NormalEquation.add matches the dense rank-1 oracle") {
    val k = 4
    val ne = new NormalEquation(k)
    val rows = Seq(
      (Array(1f, 2f, 3f, 4f), 2.0, 1.0),
      (Array(0.5f, -1f, 2f, 0f), -1.0, 3.0),
      (Array(2f, 2f, 2f, 2f), 0.5, 0.25))
    val oracle = Array.ofDim[Double](k, k)
    val oracleAtb = new Array[Double](k)
    rows.foreach { case (a, b, c) =>
      ne.add(a, b, c)
      for (i <- 0 until k; j <- 0 until k) oracle(i)(j) += c * a(i) * a(j)
      for (i <- 0 until k) oracleAtb(i) += b * a(i)
    }
    val dense = denseFromPacked(ne)
    for (i <- 0 until k; j <- 0 until k)
      assert(math.abs(dense(i)(j) - oracle(i)(j)) < 1e-9, s"ata($i,$j)")
    for (i <- 0 until k)
      assert(math.abs(ne.atb(i) - oracleAtb(i)) < 1e-9, s"atb($i)")
  }

  test("NormalEquation.merge equals adding on either side") {
    val k = 3
    val ne1 = new NormalEquation(k).add(Array(1f, 2f, 3f), 1.0)
    val ne2 = new NormalEquation(k).add(Array(4f, 5f, 6f), 2.0)
    val merged = new NormalEquation(k)
      .add(Array(1f, 2f, 3f), 1.0)
      .add(Array(4f, 5f, 6f), 2.0)
    ne1.merge(ne2)
    assert(ne1.ata.zip(merged.ata).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(ne1.atb.zip(merged.atb).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("CholeskySolver solves (AtA + λI) x = Atb exactly on a known system") {
    // A = [[1,0],[0,1],[1,1]], b = [1, 2, 4]
    val ne = new NormalEquation(2)
    ne.add(Array(1f, 0f), 1.0)
    ne.add(Array(0f, 1f), 2.0)
    ne.add(Array(1f, 1f), 4.0)
    val lambda = 0.5
    // AtA = [[2,1],[1,2]]; +λ -> [[2.5,1],[1,2.5]]; Atb = [5,6]
    // solution: x = inv([[2.5,1],[1,2.5]]) [5,6] = ([6.5, 10])/5.25
    val x = new CholeskySolver().solve(ne, lambda)
    assert(math.abs(x(0) - 6.5 / 5.25) < 1e-5)
    assert(math.abs(x(1) - 10.0 / 5.25) < 1e-5)
    // ne was reset
    assert(ne.ata.forall(_ == 0.0) && ne.atb.forall(_ == 0.0))
  }

  test("CholeskySolver matches a random dense oracle (Gaussian elimination)") {
    val rng = new scala.util.Random(7)
    val k = 6
    for (_ <- 0 until 20) {
      val ne = new NormalEquation(k)
      val rows = Array.fill(k + 3)(Array.fill(k)(rng.nextFloat() * 2 - 1))
      val bs = Array.fill(k + 3)(rng.nextDouble() * 2 - 1)
      rows.zip(bs).foreach { case (a, b) => ne.add(a, b) }
      val lambda = 0.3
      // dense oracle via naive Gaussian elimination with partial pivoting
      val m = denseFromPacked(ne)
      for (i <- 0 until k) m(i)(i) += lambda
      val rhs = ne.atb.clone()
      val x = new CholeskySolver().solve(ne, lambda)
      val xo = gaussianSolve(m, rhs)
      for (i <- 0 until k) assert(math.abs(x(i) - xo(i)) < 1e-4, s"x($i)")
    }
  }

  test("CholeskySolver fails fast on a non-PD system") {
    val ne = new NormalEquation(2)
    // zero matrix with zero lambda is singular
    intercept[ArithmeticException](new CholeskySolver().solve(ne, 0.0))
  }

  test("a non-PD system throws at the same pivot, with the same value, as the left-looking form") {
    def packed(k: Int, upper: Double*): NormalEquation = {
      val ne = new NormalEquation(k)
      upper.copyToArray(ne.ata)
      ne.atb.indices.foreach(i => ne.atb(i) = i + 1.0)
      ne
    }
    // (system, λ, failing pivot); the upper triangle is listed row by row
    val cases = Seq(
      (packed(2, 0, 0, 0), 0.0, 0),
      (packed(3, 4, 2, 0, 1, 0, 1), 0.0, 1),       // rank-deficient leading 2×2
      (packed(3, 1, 0, 0, 1, 0, -1), 0.0, 2),      // negative last pivot
      (packed(3, 1, Double.NaN, 0, 1, 0, 1), 0.5, 1),
      (packed(4, 1, 0, 0, 0, 1, 0, 0, -3, 0, 1), 1.0, 2))
    for ((ne, lambda, pivot) <- cases) {
      val expected = intercept[ArithmeticException](
        HalfStepParitySpec.packedSolve(ne, lambda, nonnegative = false)).getMessage
      val got = intercept[ArithmeticException](new CholeskySolver().solve(ne, lambda)).getMessage
      assert(got == expected)
      assert(got.startsWith(s"Cholesky failed at pivot $pivot "), got)
    }
    // rank-deficient Gramians at λ = 0: whichever way rounding takes the
    // last pivots, both forms agree (same exception or same bits)
    val rng = new java.util.Random(3)
    for (k <- Seq(5, 16, 33); obs <- Seq(1, k / 2, k - 1)) {
      val ne = new NormalEquation(k)
      for (_ <- 0 until obs) ne.add(Array.fill(k)(rng.nextGaussian().toFloat), rng.nextGaussian())
      val copy = new NormalEquation(k).merge(ne)
      val expected = scala.util.Try(HalfStepParitySpec.packedSolve(copy, 0.0, nonnegative = false))
      val got = scala.util.Try(new CholeskySolver().solve(ne, 0.0))
      (expected, got) match {
        case (scala.util.Failure(e), scala.util.Failure(g)) => assert(g.getMessage == e.getMessage)
        case (scala.util.Success(e), scala.util.Success(g)) =>
          assert(g.map(java.lang.Float.floatToRawIntBits).toSeq ==
            e.map(java.lang.Float.floatToRawIntBits).toSeq)
        case other => fail(s"k=$k obs=$obs: outcomes differ: $other")
      }
    }
  }

  test("NNLS returns the unconstrained solution when it is nonnegative") {
    val ne = new NormalEquation(2)
    ne.add(Array(1f, 0f), 1.0)
    ne.add(Array(0f, 1f), 2.0)
    ne.add(Array(1f, 1f), 4.0)
    val chol = {
      val ne2 = new NormalEquation(2)
      ne2.add(Array(1f, 0f), 1.0)
      ne2.add(Array(0f, 1f), 2.0)
      ne2.add(Array(1f, 1f), 4.0)
      new CholeskySolver().solve(ne2, 0.5)
    }
    val x = new NNLSSolver().solve(ne, 0.5)
    for (i <- 0 until 2) assert(math.abs(x(i) - chol(i)) < 1e-4)
  }

  test("NNLS clamps negative components and stays optimal on the boundary") {
    // min (x0 + x1 - 1)^2 + (x0 - x1 - 3)^2 : unconstrained x = (2, -1)
    val ne = new NormalEquation(2)
    ne.add(Array(1f, 1f), 1.0)
    ne.add(Array(1f, -1f), 3.0)
    val x = new NNLSSolver().solve(ne, 0.0)
    assert(x(0) >= 0 && x(1) >= 0)
    assert(x(1) == 0.0f)
    // with x1 fixed at 0: min (x0-1)^2 + (x0-3)^2 -> x0 = 2
    assert(math.abs(x(0) - 2.0) < 1e-4)
  }

  test("NNLS random PSD systems satisfy KKT conditions") {
    val rng = new scala.util.Random(11)
    val k = 5
    for (_ <- 0 until 20) {
      val ne = new NormalEquation(k)
      for (_ <- 0 until k + 5)
        ne.add(Array.fill(k)(rng.nextFloat() * 2 - 1), rng.nextDouble() * 2 - 1)
      val lambda = 0.1
      val dense = denseFromPacked(ne)
      for (i <- 0 until k) dense(i)(i) += lambda
      val atb = ne.atb.clone()
      val x = new NNLSSolver().solve(ne, lambda)
      // grad = Mx - q; KKT: x_i > 0 -> grad_i ≈ 0 ; x_i == 0 -> grad_i >= -eps
      for (i <- 0 until k) {
        val grad = (0 until k).map(j => dense(i)(j) * x(j)).sum - atb(i)
        if (x(i) > 1e-6) assert(math.abs(grad) < 1e-3, s"interior grad($i)=$grad")
        else assert(grad > -1e-3, s"boundary grad($i)=$grad")
      }
    }
  }

  test("single-owner assert trips on cross-thread solve when enabled") {
    def freshNe(): NormalEquation =
      new NormalEquation(3).add(Array(1f, 0f, 0f), 1.0).add(Array(0f, 1f, 1f), 2.0)
    val solver = new CholeskySolver
    solver.solve(freshNe(), 0.5) // binds the owner to this thread
    @volatile var caught: Throwable = null
    val t = new Thread(() => {
      try solver.solve(freshNe(), 0.5)
      catch { case e: Throwable => caught = e }
    })
    t.start(); t.join()
    assert(caught != null && caught.isInstanceOf[IllegalStateException],
      s"expected IllegalStateException from second thread, got $caught")
    // same thread keeps working
    solver.solve(freshNe(), 0.5)
    // a fresh instance on the other thread is fine (one instance per thread)
    @volatile var ok = false
    val t2 = new Thread(() => { new NNLSSolver().solve(freshNe(), 0.5); ok = true })
    t2.start(); t2.join()
    assert(ok)
  }

  private def gaussianSolve(m0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val k = b0.length
    val m = m0.map(_.clone())
    val b = b0.clone()
    for (col <- 0 until k) {
      val piv = (col until k).maxBy(r => math.abs(m(r)(col)))
      val tmp = m(col); m(col) = m(piv); m(piv) = tmp
      val tb = b(col); b(col) = b(piv); b(piv) = tb
      for (r <- col + 1 until k) {
        val f = m(r)(col) / m(col)(col)
        for (c <- col until k) m(r)(c) -= f * m(col)(c)
        b(r) -= f * b(col)
      }
    }
    val x = new Array[Double](k)
    for (r <- (k - 1) to 0 by -1) {
      x(r) = (b(r) - (r + 1 until k).map(c => m(r)(c) * x(c)).sum) / m(r)(r)
    }
    x
  }
}
