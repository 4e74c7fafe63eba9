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

  /** `df`'s execution RDD with an InternalRow-level mapPartitions applied,
    * re-rooted as a DataFrame of `schema` — lets engine code thread
    * per-partition imperative logic (sequence stamping, side-effect
    * statistics) through a plan WITHOUT the InternalRow→Row→InternalRow
    * round-trip that `Dataset.rdd` + `createDataFrame` costs (two object
    * allocations and a UTF8String re-encode per row — the round-3 verdict's
    * `links_tordd` hotspot).
    */
  def mapInternal(df: DataFrame, schema: types.StructType)(
      f: (Int, Iterator[catalyst.InternalRow]) => Iterator[catalyst.InternalRow]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd.mapPartitionsWithIndex(f), schema)
  }

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
