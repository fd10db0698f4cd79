package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own pieces of Parquet schema inference, which Spark keeps
  * package-private; [[graft.sources.ParquetRead]] composes them to infer
  * a schema on the driver without a job. */
object GraftFooterSchema {
  /** The schema Spark infers from `file`'s footer: the same footer
    * reader, conversion settings and row-metadata precedence as
    * `mergeSchemasInParallel`, run on the driver instead of in a job. */
  def read(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), Seq(file),
      spark.sessionState.conf.ignoreCorruptFiles), spark)

  def isGlob(path: Path): Boolean = SparkHadoopUtil.get.isGlobPath(path)

  /** Names Spark's file listing skips (`_SUCCESS`, `.crc`, `_temporary`). */
  def isHidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
