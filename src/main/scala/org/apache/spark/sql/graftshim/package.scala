package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark internals: Spark 4 `Column`s are
  * ColumnNode-backed, and the node→Expression converter lives behind
  * `private[sql]`. Pruning (graft.engine.StatsPruning) works on Catalyst
  * expression trees, so it needs this one accessor. Nothing else in the
  * library reaches into Spark internals.
  */
package object graftshim {
  def expressionOf(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Catalyst Expression -> Column (for SQL-DML conditions handed to
    * the engine API).
    */
  def columnOf(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** A parquet scan over `index` read with `dataSchema`: the
    * `HadoopFsRelation` that `spark.read.schema(..).parquet(paths)`
    * builds, without resolving a `DataSource` and so without globbing
    * or statting its paths. The schema is made nullable and the
    * partition schema left empty, exactly as that call does for
    * explicit file paths.
    */
  def parquetRelation(spark: SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType): DataFrame =
    dfFromPlan(spark, org.apache.spark.sql.execution.datasources.LogicalRelation(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
        new org.apache.spark.sql.types.StructType(), dataSchema.asNullable,
        None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty)(spark)))

  /** LogicalPlan -> DataFrame (Dataset.ofRows is private[sql]). */
  def dfFromPlan(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`'s rows, already computed as `rows`, as a DataFrame with
    * `df`'s own output attributes (Dataset.checkpoint's construction,
    * without truncating the lineage): a column resolved against `df`
    * or its inputs still resolves, and a plan over it reads `rows`
    * instead of running `df` again.
    */
  def dfOverRows(df: DataFrame,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }

  /** Batch DataFrame -> streaming-marked DataFrame. DSv1 streaming
    * Sources must return micro-batches whose plan has isStreaming=true
    * (MicroBatchExecution asserts it); Spark's own FileStreamSource
    * does exactly this via internalCreateDataFrame, which is
    * private[sql].
    */
  def streamingDfFromBatch(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
        isStreaming = true)
}
