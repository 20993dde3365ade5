package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for custom Catalyst expressions.
  * Spark 4 moved these conversions behind `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils); extension libraries
  * conventionally expose them via a same-package shim.
  */
object GraftShim {
  def toColumn(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def toExpression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** True when the session's CacheManager holds no `persist()` entries
    * (localCheckpoint RDD blocks are NOT tracked here — the
    * ContextCleaner manages those). The iterative operators' no-leak
    * contract is "the manager is as empty after the call as before";
    * CacheLeakSpec pins it.
    */
  def cacheManagerEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** `checkpointed` (an eager `localCheckpoint()`, whose plan is one
    * LogicalRDD) re-stated with `rows` as its row count and
    * `rows` × the estimated row width as its size. The checkpoint
    * otherwise carries the estimate of the plan it was cut from, so the
    * planner sizes joins over it from a guess instead of the truth.
    */
  def withRowCount(checkpointed: DataFrame, rows: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
    val ds = checkpointed.asInstanceOf[classic.Dataset[Row]]
    val r = ds.logicalPlan.asInstanceOf[execution.LogicalRDD]
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(r.output) * rows, rowCount = Some(rows))
    classic.Dataset.ofRows(ds.sparkSession,
      r.copy()(ds.sparkSession, Some(stats), Some(r.constraints)))
  }

  /** The duplicate-column check Spark's file write runs on its output
    * columns (`InsertIntoHadoopFsRelationCommand`). */
  def checkColumnNameDuplication(names: Seq[String], caseSensitive: Boolean): Unit =
    org.apache.spark.sql.util.SchemaUtils.checkColumnNameDuplication(names, caseSensitive)

  /** The partition-column check Spark's file write runs (no complex
    * type, not every column a partition column). */
  def validatePartitionColumns(schema: types.StructType, parts: Seq[String],
      caseSensitive: Boolean): Unit =
    execution.datasources.PartitioningUtils.validatePartitionColumn(schema, parts, caseSensitive)

  /** The frame over `plan`, as SNIPPETS [3] builds one from a plan. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The partition columns of the leaf directories `leafDirs` under
    * `base` and each directory's values, parsed and typed as a file
    * scan given `schema` types them (the file index's partition
    * inference, under the session's settings).
    */
  def partitions(spark: SparkSession, leafDirs: Seq[org.apache.hadoop.fs.Path],
      base: org.apache.hadoop.fs.Path, schema: types.StructType)
      : (types.StructType, Map[org.apache.hadoop.fs.Path, catalyst.InternalRow]) = {
    val spec = execution.datasources.GraftPartitions.parse(leafDirs, base, schema,
      spark.sessionState.conf)
    (spec.partitionColumns, spec.partitions.map(p => p.path -> p.values).toMap)
  }

  /** Whether the file index skips a file or directory of this name. */
  def hiddenPath(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** `e` with its floats normalized as joins, windows and aggregates
    * normalize their keys (one NaN, -0.0 as 0.0). */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Drop every CacheManager entry (test isolation helper). */
  def clearAllCache(spark: SparkSession): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.clearCache()

  /** Register a temp SQL function backed by a raw Catalyst expression
    * builder on an already-running session (the extensions path covers
    * new sessions; this covers `SparkSession.active`).
    */
  def registerTempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
