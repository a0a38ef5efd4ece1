package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters so
  * graft's native expressions (e.g. `VecDot`) can be used as Columns on
  * ANY session, registered extensions or not. The standard extension
  * pattern: one accessor file inside the `org.apache.spark.sql`
  * namespace, nothing else.
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `schema` with every field, array element and map value nullable —
    * the form a parquet read infers for what was written with it.
    */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** The persisted internal RDD behind a `localCheckpoint`ed frame —
    * `Dataset.localCheckpoint` persists the PHYSICAL InternalRow RDD
    * inside a `LogicalRDD` leaf, which `Dataset.rdd` does NOT return (it
    * builds a fresh deserializing RDD per call, whose unpersist would be
    * a no-op on the checkpoint blocks). Iterative operators
    * ([[graft.operators.Dedup.groupPairs]]) need the real handle to
    * release superseded rounds deterministically instead of waiting for
    * the ContextCleaner.
    */
  def checkpointedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
}
