package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** MinHash signature of a shingle array as a native codegen expression:
  * `ARRAY<STRING> → ARRAY<BIGINT>` of `numHashes` minima, element `i-1`
  * the signed minimum over the array of Catalyst's `xxhash64(s, i)`.
  *
  * Replaces the `explode` + 64-column `min(xxhash64(s, lit(seed)))` hash
  * aggregate: one signature per ROW, so the signature needs no exchange.
  * Bit-identical to that aggregate because Catalyst's multi-argument
  * `xxhash64(s, lit(i))` is the chain `hashInt(i, hashUnsafeBytes(s, 42))`
  * (seed 42, children hashed left to right, a null child leaves the
  * running hash unchanged) — so each shingle's byte hash is computed ONCE
  * and the `numHashes` seeded values derive from it with one `hashInt`
  * each. The minimum is a signed `long` compare, as `min` on BIGINT; it
  * is duplicate-invariant, so repeated shingles change nothing.
  *
  * An empty array has no minimum and yields NULL (the aggregate emitted
  * no row for a document without shingles; callers filter `size > 0`
  * first to keep that rule). Null input yields NULL.
  */
case class MinhashExpr(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    MinhashKernel.expect(child, "minhash", ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    MinhashKernel.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinhashKernel.signature($c, $numHashes);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashExpr =
    copy(child = newChild)
}

/** LSH band keys of a MinHash signature as a native codegen expression:
  * `ARRAY<BIGINT> → ARRAY<BIGINT>` of `numBands` keys, key `b` the
  * Catalyst `xxhash64` of `slice(sig, b·rowsPerBand + 1, rowsPerBand)`.
  *
  * Replaces the `transform(sequence(0, numBands-1), b → xxhash64(slice…))`
  * higher-order function (interpreted, one slice array per band per row).
  * Bit-identical because Catalyst hashes an array by folding `hashLong`
  * over its elements from seed 42 (null elements skipped), and a slice
  * that starts past the end is empty (key 42) — the kernel folds the
  * same elements in the same order, straight out of the signature.
  *
  * Null input yields NULL (the HOF would have keyed every band 42).
  */
case class BandKeysExpr(child: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(numBands >= 1 && rowsPerBand >= 1,
    s"numBands and rowsPerBand must be >= 1, got $numBands and $rowsPerBand")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    MinhashKernel.expect(child, "band_keys", ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    MinhashKernel.bandKeys(input.asInstanceOf[ArrayData], numBands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashKernel.bandKeys($c, $numBands, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression): BandKeysExpr =
    copy(child = newChild)
}

/** Per-element Catalyst `xxhash64` of a string array as a native codegen
  * expression: `ARRAY<STRING> → ARRAY<BIGINT>`, element `i` the
  * `hashUnsafeBytes(s_i, 42)` that `xxhash64(s_i)` computes (42 for a
  * null element, as `xxhash64(null)`). Replaces the interpreted
  * `transform(sh, s → xxhash64(s))` the Jaccard verifies ran. Null input
  * yields NULL.
  */
case class HashedShinglesExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    MinhashKernel.expect(child, "hashed_shingles", ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    MinhashKernel.hashed(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.MinhashKernel.hashed($c);")

  override protected def withNewChildInternal(newChild: Expression): HashedShinglesExpr =
    copy(child = newChild)
}

/** Standalone object so the generated Java calls static forwarders. */
object MinhashKernel {

  /** Catalyst's `xxhash64` seed. */
  final val Seed = 42L

  /** `hashUnsafeBytes(s, 42)` per element; 42 for a null element. */
  private def baseHash(a: ArrayData, i: Int): Long =
    if (a.isNullAt(i)) Seed else XXH64.hashUTF8String(a.getUTF8String(i), Seed)

  def signature(sh: ArrayData, numHashes: Int): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var e = 0
    while (e < n) {
      val base = baseHash(sh, e)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i + 1, base)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      e += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  def bandKeys(sig: ArrayData, numBands: Int, rowsPerBand: Int): ArrayData = {
    val n = sig.numElements()
    val keys = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = Seed
      var j = b * rowsPerBand
      val end = math.min(j + rowsPerBand, n)
      while (j < end) {
        if (!sig.isNullAt(j)) h = XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      keys(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  def hashed(sh: ArrayData): ArrayData = {
    val out = new Array[Long](sh.numElements())
    var e = 0
    while (e < out.length) { out(e) = baseHash(sh, e); e += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private[functions] def expect(child: Expression, name: String, want: ArrayType): TypeCheckResult =
    child.dataType match {
      case ArrayType(t, _) if t == want.elementType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$name expects ARRAY<${want.elementType.sql}> input, got ${other.sql}")
    }
}
