package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4.x moved
  * Column onto ColumnNode; `classic.ExpressionUtils` is the supported
  * internal shim). Lives in the `org.apache.spark.sql` package purely for
  * access; contains no logic.
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The execution RDD itself (InternalRows, possibly reused per-row by the
    * producing operator — consume immediately or copy).
    */
  def internalRdd(df: DataFrame): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.queryExecution.toRdd

  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** The rows of a driver-held table: `df`'s plan is a `LocalRelation`,
    * alone or under a `Repartition`. None for any other plan.
    */
  def localRows(df: DataFrame): Option[Seq[catalyst.InternalRow]] = {
    import catalyst.plans.logical.{LocalRelation, Repartition}
    df.queryExecution.analyzed match {
      case l: LocalRelation => Some(l.data)
      case Repartition(_, _, l: LocalRelation) => Some(l.data)
      case _ => None
    }
  }

  /** The RDD a `localCheckpoint`ed DataFrame reads (the checkpoint
    * persisted it). None for any other plan.
    */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    Some(df.queryExecution.logical).collect { case l: execution.LogicalRDD => l.rdd }

  /** `schema` with every field nullable, as Spark writes files. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
