package org.apache.spark.sql.execution.datasources

/** The file index's partition inference, which Spark keeps inside this
  * package; `GraftShim.partitions` is its one caller. */
private[sql] object GraftPartitions {
  def parse(leafDirs: Seq[org.apache.hadoop.fs.Path], base: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType,
      conf: org.apache.spark.sql.internal.SQLConf): PartitionSpec =
    PartitioningUtils.parsePartitions(leafDirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled, basePaths = Set(base),
      userSpecifiedSchema = Some(schema), caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths)
}
