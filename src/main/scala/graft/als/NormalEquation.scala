package graft.als

/** Normal-equation accumulator for one least-squares subproblem.
  *
  * Accumulates `AᵀA` (as a packed upper-triangular array of k(k+1)/2
  * doubles, row-major over the upper triangle: (i,j) with j >= i at
  * position i*k - i*(i-1)/2 + (j - i)) and `Aᵀb` (dense length-k).
  *
  * Behavior matched against the reference's `Solver.py:18-63`
  * (`NormalEquation.add` = rank-1 `dspr` update + `daxpy`, `merge` = two
  * vector adds, `reset` = zero-fill). This packed form is the compact,
  * mergeable one — `computeYtY`, fold-in and their aggregations ship it —
  * but it is NOT the half-step's hot loop. Its inner loop reads `a(j)` but
  * writes `ata(pos)`, a second index, and C2's auto-vectorizer packs only
  * loops in which every array is addressed by the same induction variable;
  * at rank 64 it costs 1.5–2.4 µs per observation against 0.34–0.47 µs for
  * the [[RowGramian]] pass the half-step uses (SCALING §12.14 addendum).
  */
final class NormalEquation(val k: Int) extends Serializable {
  require(k > 0, s"rank must be positive, got $k")
  val triK: Int = k * (k + 1) / 2
  /** packed upper-triangular Gramian, row-major upper layout */
  val ata: Array[Double] = new Array[Double](triK)
  /** Aᵀb */
  val atb: Array[Double] = new Array[Double](k)

  /** Adds an observation (a, b) with confidence weight c:
    * `ata += c * a aᵀ`, `atb += b * a`. Reference: `Solver.py:31-48`.
    */
  def add(a: Array[Float], b: Double, c: Double = 1.0): this.type = {
    NormalEquation.checkObservation(a, c, k)
    var i = 0
    var pos = 0
    while (i < k) {
      val ci = c * a(i)
      var j = i
      while (j < k) {
        ata(pos) += ci * a(j)
        pos += 1
        j += 1
      }
      i += 1
    }
    if (b != 0.0) {
      var i2 = 0
      while (i2 < k) { atb(i2) += b * a(i2); i2 += 1 }
    }
    this
  }

  /** Merges another accumulator of the same rank. Reference: `Solver.py:50-59`. */
  def merge(other: NormalEquation): this.type = {
    require(other.k == k, s"rank mismatch: ${other.k} != $k")
    var i = 0
    while (i < triK) { ata(i) += other.ata(i); i += 1 }
    i = 0
    while (i < k) { atb(i) += other.atb(i); i += 1 }
    this
  }

  /** Zero-fills both accumulators. Reference: `Solver.py:61-63`. */
  def reset(): Unit = {
    java.util.Arrays.fill(ata, 0.0)
    java.util.Arrays.fill(atb, 0.0)
  }
}

private[als] object NormalEquation {
  /** The argument checks every observation passes, packed or row form. */
  def checkObservation(a: Array[Float], c: Double, k: Int): Unit = {
    require(c >= 0.0, s"confidence must be nonnegative, got $c")
    require(a.length == k, s"dimension mismatch: ${a.length} != $k")
  }
}

/** Row-major upper Gramian: the half-step's per-entity accumulator, and the
  * form every solver factors.
  *
  * Row i is its own length-k `Array[Double]`; only cells j >= i are read or
  * written. [[add]] widens each observation once into one of four `double`
  * panel rows and defers the Gramian update until four are pending, then
  * updates every cell with one pass:
  * `v = r(j); v += a0*p0(j); v += a1*p1(j); v += a2*p2(j); v += a3*p3(j); r(j) = v`
  * with `aN = cN * pN(i)`. Every array in that loop is addressed by the
  * same index `j`, which is what C2's auto-vectorizer needs; the same
  * four-observation pass over the packed array, whose cell position is a
  * second index, measured about twice the time per observation.
  *
  * Byte identity with per-observation `NormalEquation.add`: cell (i, j)
  * receives `(c * a(i)) * a(j)` for each observation, as the same double
  * operations, in observation order — the four-observation pass only
  * regroups WHICH cell is updated when, never the sequence of additions a
  * cell sees; a pass over fewer than four pending observations ([[flush]])
  * adds one at a time. `Aᵀb` is updated at once, observation by observation,
  * skipping `b == 0` exactly as `add` does. No fused multiply-add is
  * involved (the JVM never contracts `x + y * z`).
  *
  * Single-owner mutable scratch, like the solvers that consume it.
  */
private[als] final class RowGramian(val k: Int) {
  require(k > 0, s"rank must be positive, got $k")
  /** `rows(i)(j)` for j >= i is cell (i, j) of the upper triangle */
  val rows: Array[Array[Double]] = Array.fill(k)(new Array[Double](k))
  /** Aᵀb */
  val atb: Array[Double] = new Array[Double](k)
  /** pending observations, widened, and their confidences */
  private val panels = Array.fill(4)(new Array[Double](k))
  private val conf = new Array[Double](4)
  private var pending = 0

  /** Starts a new system: zero when `base` is null, else a copy of `base`.
    * For the implicit half-step's YᵀY base, the copy equals the packed
    * path's `reset(); merge(yty)` (that is, `0.0 + v`) for every `v` except
    * -0.0, which a sum started from +0.0 — as `computeYtY`'s is — never
    * produces.
    */
  def reset(base: NormalEquation): Unit = {
    pending = 0
    if (base == null) {
      var i = 0
      while (i < k) { java.util.Arrays.fill(rows(i), i, k, 0.0); i += 1 }
      java.util.Arrays.fill(atb, 0.0)
    } else {
      require(base.k == k, s"rank mismatch: ${base.k} != $k")
      // packed row i is contiguous: k - i cells starting at i*k - i*(i-1)/2
      var i = 0
      var pos = 0
      while (i < k) {
        System.arraycopy(base.ata, pos, rows(i), i, k - i)
        pos += k - i
        i += 1
      }
      System.arraycopy(base.atb, 0, atb, 0, k)
    }
  }

  /** Adds an observation (a, b) with confidence weight c — the same update
    * as [[NormalEquation.add]], with the Gramian part deferred (see the
    * class doc); [[flush]] completes it.
    */
  def add(a: Array[Float], b: Double, c: Double = 1.0): Unit = {
    NormalEquation.checkObservation(a, c, k)
    val p = panels(pending)
    var j = 0
    while (j < k) { p(j) = a(j); j += 1 }
    conf(pending) = c
    if (b != 0.0) {
      j = 0
      while (j < k) { atb(j) += b * a(j); j += 1 }
    }
    pending += 1
    if (pending == 4) {
      addFour()
      pending = 0
    }
  }

  /** Applies the pending observations (fewer than four) one at a time. */
  def flush(): Unit = {
    var s = 0
    while (s < pending) { addOne(panels(s), conf(s)); s += 1 }
    pending = 0
  }

  private def addFour(): Unit = {
    val c0 = conf(0); val c1 = conf(1); val c2 = conf(2); val c3 = conf(3)
    val q0 = panels(0); val q1 = panels(1); val q2 = panels(2); val q3 = panels(3)
    var i = 0
    while (i < k) {
      val a0 = c0 * q0(i); val a1 = c1 * q1(i); val a2 = c2 * q2(i); val a3 = c3 * q3(i)
      val r = rows(i)
      var j = i
      while (j < k) {
        var v = r(j)
        v += a0 * q0(j)
        v += a1 * q1(j)
        v += a2 * q2(j)
        v += a3 * q3(j)
        r(j) = v
        j += 1
      }
      i += 1
    }
  }

  private def addOne(p: Array[Double], c: Double): Unit = {
    var i = 0
    while (i < k) {
      val a0 = c * p(i)
      val r = rows(i)
      var j = i
      while (j < k) { r(j) += a0 * p(j); j += 1 }
      i += 1
    }
  }
}

/** Strategy interface for solving one accumulated normal equation.
  * Reference: `Solver.py:69-75`.
  *
  * THREADING CONTRACT: implementations carry mutable scratch that is reused
  * across `solve` calls, so a solver instance is single-owner — exactly one
  * thread may ever call `solve` on it. Inside `BlockedALS` this holds by
  * construction (each task deserializes its own private copy from the task
  * closure), and a caller sharing one instance across threads (e.g. a
  * parallel fold-in) gets an `IllegalStateException` instead of silently
  * corrupted factors.
  */
trait LeastSquaresNESolver extends Serializable {

  // Row-form copy of the packed input, reused across solves (the copy
  // overwrites every cell the solve reads); @transient so the empty
  // driver-side field is never shipped.
  @transient private var packedScratch: RowGramian = _

  /** Solves `(AᵀA + λI) x = Aᵀb` and resets `ne`: copies the packed
    * system into row form and runs [[solveRows]], so the result is
    * bit-identical to accumulating the same observations in a
    * [[RowGramian]].
    */
  final def solve(ne: NormalEquation, lambda: Double): Array[Float] = {
    assertSingleOwner()
    if (packedScratch == null || packedScratch.k != ne.k) packedScratch = new RowGramian(ne.k)
    packedScratch.reset(ne)
    val x = solveRows(packedScratch, lambda)
    ne.reset()
    x
  }

  /** Solves `(AᵀA + λI) x = Aᵀb` for the system in `g`, completing its
    * pending observations first. Consumes `g`: its rows and `atb` are
    * overwritten, so the caller `reset`s it before the next system.
    */
  private[als] def solveRows(g: RowGramian, lambda: Double): Array[Float]

  @transient private var ownerThread: Long = 0L

  /** Single-owner check: the first call binds the instance to the calling
    * thread, later calls from any other thread throw. One thread-id read
    * per solve.
    */
  protected final def assertSingleOwner(): Unit = {
    val t = Thread.currentThread().getId
    if (ownerThread == 0L) ownerThread = t
    else if (ownerThread != t)
      throw new IllegalStateException(
        s"solver instance shared across threads ($ownerThread then $t): " +
          "LeastSquaresNESolver scratch is single-owner; use one instance per thread")
  }
}

/** Cholesky solve of the regularized normal equations.
  *
  * Unlike the reference (`Solver.py:118-153`), which silently returns `Aᵀb`
  * when the matrix is not positive definite, this fails fast — with λ > 0 the
  * regularized Gramian is PD, so a failure indicates NaN/Inf input and must
  * not be masked.
  *
  * The factorization runs in place on the [[RowGramian]]'s rows, so there is
  * no k×k unpack and no scratch beyond the rows themselves.
  */
final class CholeskySolver extends LeastSquaresNESolver {

  override private[als] def solveRows(g: RowGramian, lambda: Double): Array[Float] = {
    assertSingleOwner()
    g.flush()
    val k = g.k
    var i = 0
    while (i < k) { g.rows(i)(i) += lambda; i += 1 }
    CholeskySolver.solveInPlace(g.rows, g.atb, k)
    val out = new Array[Float](k)
    i = 0
    while (i < k) { out(i) = g.atb(i).toFloat; i += 1 }
    out
  }
}

object CholeskySolver {
  /** In-place right-looking Cholesky on U = Lᵀ, then the two triangular
    * solves; `b` is overwritten with x. O(k³/6); k is the ALS rank.
    *
    * Row q of `u` becomes row q of U (cells j >= q). Each step takes the
    * pivot, scales row q by it, and subtracts `U(q, i) · U(q, j)` from every
    * trailing cell (i, j) — a row update in which both arrays share the
    * index j, so C2 vectorizes it. Byte identity with the left-looking
    * (dot-product) form: cell (i, j) starts from the same value, receives
    * the same products `L(i, q) · L(j, q)` for q = 0, 1, …, in that order,
    * and is divided by the same pivot; the forward solve subtracts
    * `L(i, q) · y(q)` from `b(i)` in increasing q and the back solve
    * `L(q, i) · x(q)` in increasing q, as the left-looking loops do. A
    * non-positive or NaN pivot throws at the same index, with the same value.
    */
  private[als] def solveInPlace(u: Array[Array[Double]], b: Array[Double], k: Int): Unit = {
    var q = 0
    while (q < k) {
      val uq = u(q)
      val s = uq(q)
      if (s <= 0.0 || s.isNaN)
        throw new ArithmeticException(
          s"Cholesky failed at pivot $q (value $s): Gramian not positive definite; " +
            "input factors likely contain NaN/Inf")
      val d = math.sqrt(s)
      uq(q) = d
      var j = q + 1
      while (j < k) { uq(j) = uq(j) / d; j += 1 }
      var i = q + 1
      while (i < k) {
        val ui = u(i)
        val f = uq(i)
        j = i
        while (j < k) { ui(j) -= f * uq(j); j += 1 }
        i += 1
      }
      q += 1
    }
    // forward solve Uᵀ y = b, column by column
    q = 0
    while (q < k) {
      val uq = u(q)
      val y = b(q) / uq(q)
      b(q) = y
      var i = q + 1
      while (i < k) { b(i) -= uq(i) * y; i += 1 }
      q += 1
    }
    // back solve U x = y, row by row
    var i = k - 1
    while (i >= 0) {
      val ui = u(i)
      var t = b(i)
      var j = i + 1
      while (j < k) { t -= ui(j) * b(j); j += 1 }
      b(i) = t / ui(i)
      i -= 1
    }
  }
}

/** Nonnegative least squares via projected-gradient conjugate gradient
  * (Polyak 1969), the same public algorithm family MLlib's NNLS uses.
  * The reference delegates to `scipy.optimize.nnls` (`Solver.py:95-101`,
  * with the bug that it returns scipy's `(x, rnorm)` tuple); on the JVM we
  * solve `min ‖Ax − b‖² s.t. x ≥ 0` directly on the Gramian.
  */
final class NNLSSolver extends LeastSquaresNESolver {

  // Per-entity allocation-churn fix (SCALING §12.14): the dense unpack
  // overwrites every cell and the CG workspace is zero-initialized by
  // NNLS.solve itself, so reuse is free; task closures deserialize private
  // solver copies, so single-threaded.
  @transient private var scratchAta: Array[Double] = _
  @transient private var ws: NNLS.Workspace = _

  override private[als] def solveRows(g: RowGramian, lambda: Double): Array[Float] = {
    assertSingleOwner()
    g.flush()
    val k = g.k
    if (scratchAta == null || scratchAta.length != k * k) {
      scratchAta = new Array[Double](k * k)
      ws = new NNLS.Workspace(k)
    }
    // projected CG multiplies by the full symmetric matrix: mirror the rows
    val ata = scratchAta
    var i = 0
    while (i < k) {
      val r = g.rows(i)
      var j = i
      while (j < k) {
        val v = r(j)
        ata(i * k + j) = v
        ata(j * k + i) = v
        j += 1
      }
      ata(i * k + i) += lambda
      i += 1
    }
    val x = NNLS.solve(ata, g.atb, k, ws)
    val out = new Array[Float](k)
    i = 0
    while (i < k) { out(i) = x(i).toFloat; i += 1 }
    out
  }
}

/** Projected-gradient CG solver for `min ½xᵀMx − qᵀx, x ≥ 0` with M PSD.
  * Fresh implementation of the classical Polyak projected-CG scheme.
  *
  * Package-private: when a [[Workspace]] is passed, `solve` returns the
  * workspace-owned `ws.x` buffer — zero-filled and overwritten by the next
  * solve on the same workspace — so callers must copy before the next call
  * (NNLSSolver copies to Float immediately). Keeping the object
  * `private[als]` confines that aliasing contract to this package.
  */
private[als] object NNLS {

  private def mulAdd(m: Array[Double], x: Array[Double], out: Array[Double], k: Int): Unit = {
    var i = 0
    while (i < k) {
      var s = 0.0
      var j = 0
      val row = i * k
      while (j < k) { s += m(row + j) * x(j); j += 1 }
      out(i) = s
      i += 1
    }
  }

  private def dot(a: Array[Double], b: Array[Double], k: Int): Double = {
    var s = 0.0; var i = 0
    while (i < k) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Reusable CG workspace — every member is (re)initialized by `solve`
    * before its first read (`x` by the explicit zero-fill, the rest by
    * full overwrites), so one instance serves any number of solves.
    */
  final class Workspace(k: Int) {
    val x = new Array[Double](k)
    val grad = new Array[Double](k)
    val dir = new Array[Double](k)
    val scratch = new Array[Double](k)
  }

  /** Solves min ½ xᵀ ata x − atb·x subject to x ≥ 0. `ata` is k×k dense.
    * With `ws != null` the result IS `ws.x` (invalidated by the next solve
    * on that workspace); with `ws == null` the caller owns a fresh array.
    */
  def solve(ata: Array[Double], atb: Array[Double], k: Int,
      ws: Workspace = null): Array[Double] = {
    val w = if (ws == null) new Workspace(k) else ws
    val x = w.x                       // iterate, starts at 0 (feasible)
    java.util.Arrays.fill(x, 0.0)
    val grad = w.grad                 // Mx − q
    val dir = w.dir                   // search direction
    val scratch = w.scratch
    var lastNorm = 0.0
    var iterno = 0
    var lastWall = 0 // iterations since last CG restart
    val maxIter = k * 3 + 20
    while (iterno < maxIter) {
      // grad = ata * x - atb
      mulAdd(ata, x, grad, k)
      var i = 0
      while (i < k) { grad(i) -= atb(i); i += 1 }
      // project gradient: zero where x_i == 0 and grad_i > 0 (moving further
      // negative is blocked by the constraint)
      var ngrad = 0.0
      i = 0
      while (i < k) {
        val g = if (x(i) == 0.0 && grad(i) > 0.0) 0.0 else grad(i)
        scratch(i) = g
        ngrad += g * g
        i += 1
      }
      if (ngrad < 1e-14) return x
      // CG direction with restart when the active set changed materially
      if (lastWall == 0 || lastNorm == 0.0) {
        i = 0
        while (i < k) { dir(i) = -scratch(i); i += 1 }
      } else {
        val beta = ngrad / lastNorm
        i = 0
        while (i < k) { dir(i) = -scratch(i) + beta * dir(i); i += 1 }
      }
      lastNorm = ngrad
      // zero direction components pushing into the boundary
      i = 0
      while (i < k) {
        if (x(i) == 0.0 && dir(i) < 0.0) dir(i) = 0.0
        i += 1
      }
      // exact line step for the quadratic: α = −gᵀd / dᵀMd
      mulAdd(ata, dir, scratch, k)
      val dMd = dot(dir, scratch, k)
      if (dMd <= 0.0) return x
      var alpha = -dot(grad, dir, k) / dMd
      if (alpha <= 0.0) return x
      // clip α at the first boundary crossing; a clip deactivates CG memory
      var clipped = false
      i = 0
      while (i < k) {
        if (dir(i) < 0.0) {
          val bound = -x(i) / dir(i)
          if (bound < alpha) { alpha = bound; clipped = true }
        }
        i += 1
      }
      i = 0
      while (i < k) {
        x(i) = math.max(0.0, x(i) + alpha * dir(i))
        i += 1
      }
      lastWall = if (clipped) 0 else lastWall + 1
      if (lastWall > k) lastWall = 0 // periodic restart
      iterno += 1
    }
    x
  }
}
