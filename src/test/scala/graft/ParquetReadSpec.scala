package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.Tables
import graft.sources.{ParquetRead, Snapshots}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** [[ParquetRead]] reads a schema from one footer on the driver. It must
  * give exactly the schema Spark's inference job gives, run no job on
  * the fast path, and leave every case it does not handle to Spark. */
class ParquetReadSpec extends SparkSpecBase {

  /** The Spark jobs `f` starts on this thread, counted by a listener.
    * Listener events arrive asynchronously but in order, so once a
    * flush job's start has arrived every job `f` started has too. */
  private def jobsRun[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-read-spec-${System.nanoTime()}"
    val flush = s"$group-flush"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`flush`) => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(flush, "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def withConf[T](kv: (String, String))(f: => T): T = {
    val prev = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try f finally prev.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  private def tmp(name: String): Path = Files.createTempDirectory(s"parquet_read_$name")

  private def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** The footer path must be taken and agree with Spark's inference. */
  private def assertFooterMatches(path: String): Unit = {
    val footer = ParquetRead.footerSchema(spark, path)
    assert(footer.isDefined, s"$path fell back to Spark's inference")
    assert(ParquetRead(spark, path).schema == spark.read.parquet(path).schema, path)
  }

  private def fixtureTables(dir: String): Seq[String] = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  test("footer schema equals Spark's inferred schema for every fixture table") {
    for (d <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val tables = fixtureTables(sf(d))
      assert(tables.nonEmpty, s"no fixture tables in ${sf(d)}")
      tables.foreach(assertFooterMatches)
    }
  }

  test("footer schema follows the session's Parquet conversion settings") {
    for (kv <- Seq("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
                   "spark.sql.parquet.binaryAsString" -> "true",
                   "spark.sql.parquet.int96AsTimestamp" -> "false"))
      withConf(kv)(fixtureTables(sf()).foreach(assertFooterMatches))
  }

  /** Spark-written rows with the types whose inference depends on
    * Spark's row metadata: TimestampNTZ, session timestamps and arrays. */
  private def typed(n: Int): DataFrame = spark.range(n).select(
    col("id"),
    (col("id") * 1000000L).cast("timestamp").as("ts"),
    (col("id") * 1000000L).cast("timestamp").cast("timestamp_ntz").as("ts_ntz"),
    array(col("id").cast("string"), lit("x")).as("tags"),
    struct(col("id").as("a"), lit(1.5).as("b")).as("nested"))

  test("snapshot commit dirs: footer schema matches, reads run no job") {
    val dir = tmp("snap").toString
    Snapshots.write(typed(30).repartition(3), dir)
    Snapshots.write(typed(10), dir, mode = "append")
    Seq("data/v1", "data/v2").foreach(p => assertFooterMatches(s"$dir/$p"))
    val (df, jobs) = jobsRun(Snapshots.read(spark, dir))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(s"$dir/data/v1").schema)
    val want = typed(30).union(typed(10)).collect().map(_.toString).sorted
    assert(df.collect().map(_.toString).sorted.sameElements(want))
  }

  test("table reads and the raw events type run no Spark job") {
    // the counter sees the inference job ParquetRead avoids
    assert(jobsRun(spark.read.parquet(s"${sf()}/lineitem.parquet").schema)._2 >= 1)
    val (schema, jobs) = jobsRun(Tables.t(spark, sf(), "lineitem").schema)
    assert(jobs == 0)
    assert(schema == spark.read.parquet(s"${sf()}/lineitem.parquet").schema)
    assert(jobsRun(Tables.eventsRawTsType(spark, sf()))._2 == 0)
    assert(jobsRun(Tables.events(spark, sf()).schema)._2 == 0)
    assert(jobsRun(new graft.api.QContext(spark)
      .readParquet(s"${sf()}/orders.parquet").df.schema)._2 == 0)
  }

  /** Two Spark-written files with different schemas, copied into one
    * flat dir under names that fix which one sorts first. */
  private def mixedDir(firstWide: Boolean): String = {
    val narrow = tmp("narrow"); val wide = tmp("wide")
    spark.range(5).select(col("id").as("a")).coalesce(1)
      .write.mode("overwrite").parquet(narrow.toString)
    spark.range(5).select(col("id").as("a"), col("id").cast("string").as("b"))
      .coalesce(1).write.mode("overwrite").parquet(wide.toString)
    val dir = tmp("mixed")
    val (f0, f1) = if (firstWide) (wide, narrow) else (narrow, wide)
    Files.copy(dataFiles(f0).head, dir.resolve("part-0.parquet"))
    Files.copy(dataFiles(f1).head, dir.resolve("part-1.parquet"))
    dir.toString
  }

  test("a flat dir takes its schema from the first data file, as Spark does") {
    for (firstWide <- Seq(false, true)) {
      val dir = mixedDir(firstWide)
      assertFooterMatches(dir)
      assert(ParquetRead(spark, dir).schema.fieldNames.toSeq ==
        (if (firstWide) Seq("a", "b") else Seq("a")))
    }
  }

  test("fallbacks: hive partitions, mergeSchema, globs and summary files") {
    def same(ours: DataFrame, theirs: DataFrame) = assert(ours.schema == theirs.schema)
    val parts = tmp("hive").toString
    typed(20).withColumn("p", col("id") % 3)
      .write.mode("overwrite").partitionBy("p").parquet(parts)
    assert(ParquetRead.footerSchema(spark, parts).isEmpty)
    same(ParquetRead(spark, parts), spark.read.parquet(parts))
    assert(ParquetRead(spark, parts).schema.fieldNames.last == "p")

    val mixed = mixedDir(firstWide = false)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(ParquetRead.footerSchema(spark, mixed).isEmpty)
      same(ParquetRead(spark, mixed), spark.read.parquet(mixed))
      assert(ParquetRead(spark, mixed).schema.fieldNames.toSeq == Seq("a", "b"))
    }

    val glob = s"$mixed/*.parquet"
    assert(ParquetRead.footerSchema(spark, glob).isEmpty)
    same(ParquetRead(spark, glob), spark.read.parquet(glob))

    // Spark prefers a summary file's schema to any data file's
    val summarized = mixedDir(firstWide = false)
    Files.copy(java.nio.file.Paths.get(summarized, "part-1.parquet"),
      java.nio.file.Paths.get(summarized, "_common_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(ParquetRead.footerSchema(spark, summarized).isEmpty)
    same(ParquetRead(spark, summarized), spark.read.parquet(summarized))
    assert(ParquetRead(spark, summarized).schema.fieldNames.toSeq == Seq("a", "b"))
  }

  test("an empty dir raises Spark's own error") {
    val empty = tmp("empty").toString
    val ours = intercept[AnalysisException](ParquetRead(spark, empty))
    val theirs = intercept[AnalysisException](spark.read.parquet(empty))
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getMessage == theirs.getMessage)
  }
}
