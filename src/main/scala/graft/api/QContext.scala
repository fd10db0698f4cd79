package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session/context object — the engine's entry point.
  *
  * Mirrors the reference context's read surface (reference:
  * pyquokka/df.py:264-832) re-expressed on `spark.read`. Where the
  * reference hand-rolls schema sniffing, small-file materialization and
  * S3-prefix walking, Spark's DataSource framework already does all of it,
  * so this class is a thin veneer that returns [[DataStream]] wrappers.
  */
class QContext(val spark: SparkSession) {
  graft.functions.GraftFunctions.register(spark)

  /** CSV file or directory (reference df.py:264-411). */
  def readCsv(
      path: String,
      schema: Option[StructType] = None,
      hasHeader: Boolean = true,
      sep: String = ","): DataStream = {
    var r = spark.read.option("sep", sep).option("header", hasHeader.toString)
    r = schema.map(r.schema).getOrElse(r.option("inferSchema", "true"))
    new DataStream(r.csv(path))
  }

  /** Parquet file/dir/prefix (reference df.py:413-562). `nameColumn` adds
    * the source filename (reference's `name_column`) via
    * `input_file_name()`. */
  def readParquet(path: String, nameColumn: Option[String] = None): DataStream = {
    val df = graft.sources.ParquetRead(spark, path)
    new DataStream(nameColumn.fold(df)(c =>
      df.withColumn(c, org.apache.spark.sql.functions.input_file_name())))
  }

  /** ORC source (parity-plus: the other first-class columnar lake format
    * Spark reads natively — same pushdown/pruning machinery as parquet). */
  def readOrc(path: String): DataStream =
    new DataStream(spark.read.orc(path))

  /** JSON lines (reference dataset/unordered_readers.py:445-593). */
  def readJson(path: String, schema: Option[StructType] = None): DataStream = {
    val r = spark.read
    new DataStream(schema.map(r.schema).getOrElse(r).json(path))
  }

  /** Directory of binary blobs → (path, modificationTime, length, content)
    * (reference df.py:213-253 `read_files`). */
  def readFiles(path: String): DataStream =
    new DataStream(spark.read.format("binaryFile").load(path))

  /** Parquet with a sortedness contract on `timeCol` — the reference's
    * `read_sorted_parquet` (df.py:790-800). Spark gives no cross-partition
    * order, so the contract is (re-)established lazily by the ordered
    * operators themselves (range partition + sortWithinPartitions); this
    * tags the stream and, with `verify = true`, checks the contract the
    * way the reference's sorted reader does — per-file time ranges must
    * not overlap, read from parquet FOOTER column statistics
    * (ordered_readers.py:28-100), i.e. metadata-only I/O, no data pages.
    * Files without usable statistics fall back to a column-pruned
    * min/max scan of just those files. */
  def readSortedParquet(path: String, timeCol: String,
      verify: Boolean = false): OrderedStream = {
    val df = graft.sources.ParquetRead(spark, path)
    if (verify) verifySortedContract(path, timeCol)
    new OrderedStream(df, timeCol)
  }

  private def verifySortedContract(path: String, timeCol: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    val files: Seq[HPath] = {
      val st = fs.globStatus(root) match {
        case null => Array.empty[org.apache.hadoop.fs.FileStatus]
        case s => s
      }
      st.flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s)
      }.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).toSeq
    }
    implicit val cmp: Ordering[Comparable[Any]] = (a, b) => a.compareTo(b)
    // (file, lo, hi) from footer stats; files whose stats are missing go
    // to the scan fallback
    val (withStats, noStats) = files.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val stats = reader.getFooter.getBlocks.asScala.toSeq.flatMap(b =>
          b.getColumns.asScala.find(_.getPath.toDotString == timeCol)
            .map(_.getStatistics))
        if (stats.isEmpty ||
            stats.exists(s => s == null || !s.hasNonNullValue()))
          (p.toString, None)
        else {
          val los = stats.map(_.genericGetMin.asInstanceOf[Comparable[Any]])
          val his = stats.map(_.genericGetMax.asInstanceOf[Comparable[Any]])
          (p.toString, Some((los.min, his.max)))
        }
      } finally reader.close()
    }.partition(_._2.isDefined)
    val scanned = if (noStats.isEmpty) Nil else {
      import org.apache.spark.sql.functions._
      spark.read.parquet(noStats.map(_._1): _*)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(timeCol)).as("lo"), max(col(timeCol)).as("hi"))
        .collect().toSeq.map(r => (r.getString(0),
          (r.getAs[Any](1).asInstanceOf[Comparable[Any]],
            r.getAs[Any](2).asInstanceOf[Comparable[Any]])))
    }
    val ranges = (withStats.map { case (f, s) => (f, s.get) } ++ scanned)
      .sortBy(_._2._1)
    ranges.sliding(2).foreach {
      case Seq((f1, (_, hi1)), (f2, (lo2, _))) if cmp.lteq(lo2, hi1) =>
        throw new IllegalArgumentException(
          s"sortedness contract violated on '$timeCol': file time ranges " +
            s"overlap between $f1 and $f2")
      case _ => ()
    }
  }

  def readSortedCsv(
      path: String,
      timeCol: String,
      schema: Option[StructType] = None,
      hasHeader: Boolean = true,
      sep: String = ","): OrderedStream =
    new OrderedStream(readCsv(path, schema, hasHeader, sep).df, timeCol)

  /** Iceberg table, optionally at a snapshot (reference `read_iceberg`,
    * df.py:802-832 via pyiceberg+Glue; here the standard Spark-Iceberg
    * integration — requires the iceberg-spark-runtime jar and catalog
    * config on the session, the deployment-standard setup).
    *
    * UNSUPPORTED IN THIS BUILD: the offline container has no
    * iceberg-spark-runtime jar anywhere, so this method has never
    * executed (IcebergSpec's write→snapshot→time-travel gate
    * `assume`-cancels without the jar and runs the moment one is on the
    * classpath). It is NOT counted as an implemented operator — see
    * COVERAGE.md §2.1. */
  def readIceberg(table: String, snapshotId: Option[Long] = None): DataStream = {
    val r = spark.read.format("iceberg")
    new DataStream(snapshotId.fold(r)(id =>
      r.option("snapshot-id", id.toString)).load(table))
  }

  /** Snapshot-ID / time-travel reads WITHOUT an iceberg runtime jar:
    * [[graft.sources.Snapshots]]' parquet-manifest tables cover
    * `read_iceberg`'s capability (reference df.py:802-832) in this
    * offline container — same manifest-over-immutable-parquet design,
    * plain parquet scan underneath (pushdown/pruning intact). */
  def readSnapshot(dir: String, snapshotId: Option[Long] = None): DataStream =
    new DataStream(graft.sources.Snapshots.read(spark, dir, snapshotId))

  /** Commit a new snapshot (overwrite|append); returns the snapshot id. */
  def writeSnapshot(ds: DataStream, dir: String,
                    mode: String = "overwrite"): Long =
    graft.sources.Snapshots.write(ds.df, dir, mode)

  /** Paginated REST API as a source (reference `read_rest_get/post`,
    * df.py:655-663 + dataset/crypto_dataset.py:4-83). The fetcher is
    * injectable (page index → JSON body, None = exhausted); pages are
    * pulled on the driver — matching the reference, whose reader also
    * materializes the feed — then parallelized and parsed by the JSON
    * datasource. For truly large feeds implement a DataSourceV2; this
    * covers the reference's bounded-feed semantics. */
  def readRest(fetchPage: Int => Option[String], maxPages: Int = 10000): DataStream = {
    val records = Iterator.from(0).map(fetchPage)
      .takeWhile(_.isDefined).take(maxPages).flatten
      .flatMap(_.linesIterator).filter(_.trim.nonEmpty).toSeq
    import spark.implicits._
    new DataStream(spark.read.json(spark.createDataset(records)))
  }

  /** [[readRest]] with the retry/backoff discipline a rate-limited
    * paginated API needs (the reference's crypto fetch loop re-requests
    * on 429/5xx; dataset/crypto_dataset.py:4-83): each page is attempted
    * up to `1 + maxRetries` times, sleeping `backoffMs · 2^attempt`
    * between attempts, but ONLY for failures `isTransient` accepts —
    * a 404/parse error fails fast. `sleep` is injectable so retry
    * schedules are unit-testable without wall-clock; pagination stays a
    * bounded driver-side control loop exactly like [[readRest]]. */
  def readRestRetry(fetchPage: Int => Option[String],
      maxPages: Int = 10000, maxRetries: Int = 3, backoffMs: Long = 100L,
      isTransient: Throwable => Boolean = QContext.defaultTransient,
      sleep: Long => Unit = Thread.sleep): DataStream =
    readRest(QContext.withRetry(fetchPage, maxRetries, backoffMs,
      isTransient, sleep), maxPages)

  /** N-input custom stateful operator — the reference's `mingle`
    * (df.py:837-849, its "internal as much as it can" multi-source
    * StatefulNode; the runtime hands each Executor `(batches, stream_id)`,
    * executors/\*.py). Spark-first shape: every source is projected to the
    * common layout and tagged with its stream id, the union is hash-
    * partitioned on `partitionBy` and time-sorted within partitions, and
    * `f` consumes `(streamId, row)` — one shuffle, arbitrary fan-in,
    * identical information to the reference's executor contract. */
  def mingle[T: org.apache.spark.sql.Encoder](
      sources: Map[Int, DataFrame],
      partitionBy: Seq[String],
      orderWithinPartitionBy: Seq[String])(
      f: Iterator[(Int, org.apache.spark.sql.Row)] => Iterator[T]): org.apache.spark.sql.Dataset[T] = {
    require(sources.nonEmpty, "mingle needs at least one source")
    import org.apache.spark.sql.functions._
    val common = sources.values.head.columns.toSeq
    val tagged = sources.map { case (sid, d) =>
      d.select(common.map(col) :+ lit(sid).as("__stream"): _*)
    }.reduce(_ unionByName _)
    val sidIdx = common.length
    // __stream as the final sort key: rows with equal order keys from
    // different streams get a deterministic relative order (lower stream
    // id first) instead of shuffle-read order
    new DataStream(tagged)
      .statefulTransform(partitionBy,
        orderWithinPartitionBy :+ "__stream") { it =>
        f(it.map(r => (r.getInt(sidIdx), r)))
      }
  }

  /** Local data → stream (reference df.py:713-788 from_polars/pandas/arrow). */
  def fromDataFrame(df: DataFrame): DataStream = new DataStream(df)

  def fromSeq[T: org.apache.spark.sql.Encoder](rows: Seq[T]): DataStream =
    new DataStream(spark.createDataset(rows).toDF())

  /** Re-stream a cached result (reference df.py:665-710 read_dataset). */
  def readDataset(ds: DataStream): DataStream = ds

  /** Native SQL entry point. The reference transpiles DuckDB plans into its
    * DataStream API (pyquokka/sql.py:74-280); Spark parses SQL natively. */
  def sql(query: String): DataStream = new DataStream(spark.sql(query))

  /** Runtime config knobs (reference df.py set_config/get_config — there
    * they toggle the hand-rolled optimizer; here they reach Spark SQL
    * conf, e.g. "spark.sql.autoBroadcastJoinThreshold"). */
  def setConfig(key: String, value: String): Unit = spark.conf.set(key, value)
  def getConfig(key: String): String = spark.conf.get(key)
}

object QContext {
  def apply(spark: SparkSession): QContext = new QContext(spark)

  /** Transient HTTP failure (the retryable class: 429 rate limits,
    * 5xx, timeouts). The fetcher throws it; the retry loop honors it. */
  final class TransientHttpError(val status: Int, message: String)
    extends RuntimeException(message)

  /** Default retry classification: [[TransientHttpError]] and I/O
    * hiccups retry; everything else (auth errors, parse bugs) is
    * permanent and fails fast. */
  def defaultTransient(t: Throwable): Boolean = t match {
    case _: TransientHttpError => true
    case _: java.io.IOException => true
    case _ => false
  }

  /** Wrap a page fetcher with bounded exponential-backoff retry.
    * Attempt a+1 sleeps `backoffMs · 2^a` first; after `maxRetries`
    * failed retries the last transient error propagates (the caller
    * sees the real failure, not a swallowed empty page). */
  def withRetry(fetch: Int => Option[String], maxRetries: Int,
      backoffMs: Long, isTransient: Throwable => Boolean,
      sleep: Long => Unit): Int => Option[String] = {
    require(maxRetries >= 0, s"maxRetries must be >= 0, got $maxRetries")
    require(backoffMs >= 0, s"backoffMs must be >= 0, got $backoffMs")
    page => {
      var attempt = 0
      var out: Option[Option[String]] = None
      while (out.isEmpty) {
        try out = Some(fetch(page))
        catch {
          case t: Throwable if isTransient(t) && attempt < maxRetries =>
            sleep(backoffMs << attempt)
            attempt += 1
        }
      }
      out.get
    }
  }
}
