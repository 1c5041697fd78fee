package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** The `id → features` map of one factor table, built on the driver and
  * shipped as one broadcast value: every features array is kept in its
  * UnsafeArrayData bytes, packed into one byte array, and found through an
  * open-addressing hash over the LONG ids. A lookup returns a view over
  * those bytes (no copy), so any array type and any element nulls survive
  * exactly as the table stored them.
  */
final class FactorTable private (
    keys: Array[Long],
    slots: Array[Int],
    offsets: Array[Int],
    sizes: Array[Int],
    bytes: Array[Byte]) extends Serializable {

  private def mask: Int = keys.length - 1

  /** Features of `id`, or null when the id is absent or its features are
    * null.
    */
  def get(id: Long): UnsafeArrayData = {
    var s = FactorTable.slotOf(id, mask)
    while (slots(s) != 0) {
      if (keys(s) == id) {
        val row = slots(s) - 1
        if (sizes(row) < 0) return null
        val a = new UnsafeArrayData
        a.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + offsets(row), sizes(row))
        return a
      }
      s = (s + 1) & mask
    }
    null
  }
}

object FactorTable {

  private def slotOf(id: Long, mask: Int): Int =
    (java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L) & Int.MaxValue) & mask

  /** Collects `factors` (`id`, `features`) into a table: one job. Rows with
    * a null id are skipped, as a join never matches them. A duplicate id
    * fails the build: a join would silently score its row twice.
    */
  def build(factors: DataFrame): FactorTable = {
    val frame = factors.select(col("id").cast("long"), col("features"))
    val schema = frame.schema
    val rows = frame.queryExecution.toRdd.mapPartitions { it =>
      val unsafe = UnsafeProjection.create(schema)
      it.filter(!_.isNullAt(0)).map { r =>
        val u = unsafe(r)
        val f =
          if (u.isNullAt(1)) null
          else {
            val a = u.getArray(1)
            val b = new Array[Byte](a.getSizeInBytes)
            a.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
            b
          }
        (u.getLong(0), f)
      }
    }.collect()
    val n = rows.length
    var cap = 2
    while (cap < 2L * n) cap <<= 1
    val keys = new Array[Long](cap)
    val slots = new Array[Int](cap)
    val offsets = new Array[Int](n)
    val sizes = new Array[Int](n)
    val total = rows.iterator.map(r => if (r._2 == null) 0L else r._2.length.toLong).sum
    require(total <= Int.MaxValue, s"factor table of $total feature bytes is too large to broadcast")
    val bytes = new Array[Byte](total.toInt)
    var off = 0
    var row = 0
    while (row < n) {
      val (id, f) = rows(row)
      var s = slotOf(id, cap - 1)
      while (slots(s) != 0) {
        require(keys(s) != id,
          s"factor table has duplicate id $id: a model's factor ids must be unique")
        s = (s + 1) & (cap - 1)
      }
      keys(s) = id
      slots(s) = row + 1
      if (f == null) sizes(row) = -1
      else {
        System.arraycopy(f, 0, bytes, off, f.length)
        offsets(row) = off
        sizes(row) = f.length
        off += f.length
      }
      row += 1
    }
    new FactorTable(keys, slots, offsets, sizes, bytes)
  }

  /** The features of `key` (INT or LONG) in a broadcast table, typed as
    * the table's `features` column: null for a null key, an absent id or
    * null features.
    */
  def lookup(key: Column, table: Broadcast[FactorTable], featuresType: DataType): Column =
    GraftSqlShims.column(
      FactorLookupExpr(GraftSqlShims.expression(key), table, featuresType))
}

/** `key → features` through a broadcast [[FactorTable]]: the serving form
  * of a left equi-join against a factor table small enough to broadcast,
  * without the join. The generated code reads the table once per task.
  */
case class FactorLookupExpr(
    child: Expression,
    table: Broadcast[FactorTable],
    featuresType: DataType) extends UnaryExpression {

  override def dataType: DataType = featuresType

  override def nullable: Boolean = true

  override def prettyName: String = "factor_lookup"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"factor_lookup expects an INT or BIGINT key, got $other")
  }

  @transient private lazy val values: FactorTable = table.value

  override def nullSafeEval(key: Any): Any = {
    val id = child.dataType match {
      case IntegerType => key.asInstanceOf[Int].toLong
      case _ => key.asInstanceOf[Long]
    }
    values.get(id)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("factorTableBroadcast", table)
    val cls = classOf[FactorTable].getName
    val values = ctx.addMutableState(cls, "factorTable",
      v => s"$v = ($cls) $bc.value();")
    nullSafeCodeGen(ctx, ev, key =>
      s"""
         |${ev.value} = $values.get((long) $key);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): FactorLookupExpr =
    copy(child = newChild)
}
