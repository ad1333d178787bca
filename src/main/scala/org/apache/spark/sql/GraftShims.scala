package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` constructors (public-pattern shim: building
  * a DataFrame from a custom LogicalPlan requires Dataset.ofRows, which is
  * package-private in Spark 4's classic module). */
object GraftShims {
  def ofRows(spark: classic.SparkSession, plan: LogicalPlan): classic.DataFrame =
    classic.Dataset.ofRows(spark, plan)

  /** Wrap a raw Catalyst expression as a Column (`ExpressionUtils.column`
    * is `private[sql]` in Spark 4's classic module). Lets helper
    * functions build native-kernel Columns without a SparkSession handle
    * (the function-registry route needs one per session). */
  def exprColumn(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse bridge: the Catalyst expression behind a Column. */
  def colExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Unload every cached state-store provider (`StateStore.unloadAll` is
    * `private[sql]`). A completed availableNow gate leaves its per-partition
    * providers — in-memory copies of the final state — in the executor's
    * provider cache until the maintenance thread eventually evicts them;
    * a run-to-completion gate should release that memory deterministically
    * (state recovery for a future run reads the checkpoint files, not the
    * cache). */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()

  /** `schema` with every field, array element and map value nullable
    * (`StructType.asNullable` is `private[spark]`): the schema a file
    * stream reads back what a batch frame wrote. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** Whether Spark's file index skips a file or directory of this name
    * (`HadoopFSUtils.shouldFilterOutPathName` is `private[spark]`): names
    * starting with `_` or `.`, except parquet summary files and `_k=v`
    * partition dirs, and in-flight `._COPYING_` copies. */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
