package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Column↔Expression plumbing, the standard
  * pattern for libraries that ship custom Catalyst expressions (Spark 4
  * moved Column construction behind ColumnNode).
  */
object GraftSqlShims {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes, as the
    * planner reads it (negative: broadcast joins are off).
    */
  def autoBroadcastJoinThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Wraps an already-produced `InternalRow` RDD back into a DataFrame —
    * the inverse of `queryExecution.toRdd`, exactly what
    * `Dataset.localCheckpoint` does internally after checkpointing. Used
    * by loops that need a HANDLE on the pre-truncation lineage (to sweep
    * retired shuffle files, see `graft.als.ShuffleLedger`), which the
    * built-in `localCheckpoint` hides.
    */
  def dataFrameFromInternalRdd(
      spark: SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Wraps an `InternalRow` RDD in a DataFrame whose plan leaf reports
    * `sizeInBytes` and `rowCount` as its statistics. A DataFrame built
    * from an RDD otherwise reports `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue), so the planner never broadcasts it and every join
    * against it is planned as a sort-merge join. With exact stats, the
    * `autoBroadcastJoinThreshold` rule decides at plan time. The caller
    * vouches for the figures: nothing checks them against the rows.
    */
  def dataFrameWithStats(
      spark: SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType,
      sizeInBytes: BigInt,
      rowCount: BigInt): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val plan = execution.LogicalRDD(DataTypeUtils.toAttributes(schema), rdd)(
      session, originStats = Some(Statistics(sizeInBytes, Some(rowCount))))
    classic.Dataset.ofRows(session, plan)
  }
}
