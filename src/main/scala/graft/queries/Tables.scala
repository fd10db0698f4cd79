package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table loaders over the driver-provided parquet dirs. */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.sources.ParquetRead(spark, s"$dir/$name.parquet")
  }
  def lineitem(s: SparkSession, d: String) = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String) = t(s, d, "orders")
  def customer(s: SparkSession, d: String) = t(s, d, "customer")
  def supplier(s: SparkSession, d: String) = t(s, d, "supplier")
  def part(s: SparkSession, d: String) = t(s, d, "part")
  def nation(s: SparkSession, d: String) = t(s, d, "nation")
  def region(s: SparkSession, d: String) = t(s, d, "region")
  /** events.ts has shipped in two fixture vintages: parquet
    * TIMESTAMP(NANOS) (rejected by Spark's vectorized reader — sessions
    * set `spark.sql.legacy.parquet.nanosAsLong` and the long is converted
    * here) and plain µs TIMESTAMP (read as TIMESTAMP_NTZ). Normalize both
    * to session-zone TIMESTAMP (every entry point pins UTC) so downstream
    * queries see one type regardless of fixture vintage. */
  def events(s: SparkSession, d: String) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  /** Raw on-disk type of events.ts — the streaming gates need it to
    * build a matching user-provided source schema. Reads one footer on
    * the driver and runs no Spark job ([[graft.sources.ParquetRead]]). */
  def eventsRawTsType(s: SparkSession, d: String): org.apache.spark.sql.types.DataType =
    t(s, d, "events").schema("ts").dataType
  def documents(s: SparkSession, d: String) = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = t(s, d, "embeddings")
}
