package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.types.StructType

/** `spark.read.parquet(path)` without the schema-inference job.
  *
  * Spark infers a Parquet schema with a one-task job
  * (`ParquetFileFormat.mergeSchemasInParallel`), even for a single file
  * with `mergeSchema` off. Without `mergeSchema` that job reads exactly
  * one footer: the first data file of the path-sorted listing. This
  * reads the same footer on the driver, through Spark's own
  * footer-to-schema code, and hands the schema to the reader. Session
  * settings (`nanosAsLong`, TimestampNTZ inference, binary-as-string,
  * INT96) and the precedence of Spark's row metadata over the Parquet
  * schema are therefore Spark's, and so is the schema.
  *
  * The reference reads schemas from file metadata too and launches no
  * job for it (pyquokka/df.py:413-562).
  *
  * Falls back to plain `spark.read.parquet` wherever Spark would read a
  * footer other than "the first visible file": a glob, summary files
  * (`_metadata`, `_common_metadata`), any subdirectory (hive
  * partitions), no data files, and `spark.sql.parquet.mergeSchema`.
  *
  * No cache: reading one local footer costs about a millisecond, less
  * than any check that a cached schema is still valid.
  */
object ParquetRead {
  def apply(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read)(spark.read.schema)
      .parquet(path)

  /** The schema Spark would infer for `path`, read from one footer on the
    * driver; None where the read falls back to Spark's inference. */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val root = new Path(path)
    if (GraftFooterSchema.isGlob(root) ||
        spark.sessionState.conf.isParquetSchemaMergingEnabled)
      return None
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val visible =
      try fs.listStatus(root).filterNot(s => GraftFooterSchema.isHidden(s.getPath.getName))
      catch { case _: FileNotFoundException => return None }
    // the visible names that start with `_` are summary files and
    // `_k=v` partition entries
    if (visible.exists(s => s.isDirectory || s.getPath.getName.startsWith("_")))
      None
    else visible.sortBy(_.getPath.toString).headOption
      .flatMap(GraftFooterSchema.read(spark, _))
  }
}
