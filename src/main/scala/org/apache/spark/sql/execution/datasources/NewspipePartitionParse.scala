package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Reach into `private[datasources]` `PartitioningUtils.parsePartitions`
  * with the arguments directory discovery passes it; the public face is
  * [[org.apache.spark.sql.NewspipeSqlBridge.parsePartitions]].
  */
private[sql] object NewspipePartitionParse {
  def apply(conf: SQLConf, leafDirs: Seq[Path], base: Path,
      userSchema: Option[StructType]): PartitionSpec =
    PartitioningUtils.parsePartitions(leafDirs,
      conf.partitionColumnTypeInferenceEnabled, Set(base), userSchema,
      conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths)
}
