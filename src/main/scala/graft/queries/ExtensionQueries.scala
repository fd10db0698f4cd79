package graft.queries

import graft.api.DataStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated coverage for the surfaces that were previously spec-only:
  * the parquet sink (write → re-read fidelity), `stateful_transform` (the
  * reference's primary extension point, datastream.py:1312-1367), and
  * `cogroup` (datastream.py:2073-2111). Each query routes real data
  * through the extension surface and lands on an aggregate DuckDB can
  * compute directly from the source tables — so the driver gate verifies
  * the plumbing end-to-end, not just a spec example.
  */
object ExtensionQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** q172 fixture: orders + customer written ONCE per (JVM, fixture) as
    * co-bucketed, bucket-sorted catalog tables (8 buckets on the join
    * key) — the buildMorTable discipline; every probe and bench rep
    * reuses the layout. */
  private val bucketedTables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  /** The in-memory catalog forgets tables at JVM exit but the warehouse
    * directory persists, so a fresh JVM's saveAsTable would hit
    * LOCATION_ALREADY_EXISTS — clear both before writing. */
  private def dropStaleTable(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      s.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
  }

  private def bucketedPair(s: SparkSession, d: String): (String, String) =
    bucketedTables.computeIfAbsent(d, _ => {
      val key = java.lang.Integer.toHexString(d.hashCode)
      val ot = s"graft_orders_bk_$key"
      val ct = s"graft_customer_bk_$key"
      dropStaleTable(s, ot); dropStaleTable(s, ct)
      new DataStream(orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
        .writeBucketed(ot, Seq("o_custkey"), 8, sortCols = Seq("o_custkey"))
      new DataStream(customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")))
        .writeBucketed(ct, Seq("c_custkey"), 8, sortCols = Seq("c_custkey"))
      (ot, ct)
    })

  val queries: Map[String, Q] = Map(
    // co-located bucketed join (SURVEY §2.4 — the reference
    // pre-partitions both sides with its hash partitioner so the join
    // never re-exchanges; Spark persists that layout in the catalog
    // via bucketBy). The ZERO-SHUFFLE property IS the gate: the bare
    // join plan must contain no hash-partitioning exchange (both
    // bucketed scans already satisfy the join's distribution), stated
    // as a flag the oracle pins to 1. The MERGE hint keeps Catalyst
    // from auto-broadcasting the toy-scale dimension side, which would
    // make the flag vacuous — at 100 TB this sort-merge-over-buckets
    // path is the one that runs.
    "q172_bucketed_join" -> { (s, d) =>
      val (ot, ct) = bucketedPair(s, d)
      val j = s.table(ot).hint("MERGE")
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
      val noShuffle = !j.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning")
      j.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.Det.dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("ok_no_shuffle", lit(if (noShuffle) 1L else 0L))
        .orderBy("c_mktsegment")
    },

    // declarative data-quality validation (sources.Validate — Deequ
    // shape, the prescriptive half of q146's profiler): five scalar
    // rules compile into ONE aggregate over ONE documents scan
    // (conditional sums + the q146 Expand count-distinct), plus one
    // referential rule as a distinct-key left join over orders →
    // customer. Rules are chosen to exercise BOTH verdicts: in_range
    // and in_set have real nonzero violation counts the oracle states
    // exactly; the rest certify clean.
    "q175_validate" -> { (s, d) =>
      import graft.sources.Validate
      import graft.sources.Validate._
      val rules: Seq[Rule] = Seq(
        NotNull("text"),
        Unique(Seq("doc_id")),
        InRange("n_chars", 1L, 300L),
        Matches("lang", "^[a-z][a-z]$"),
        InSet("source", (0 until 10).map(i => s"src$i")))
      Validate.check(documents(s, d), rules)
        .unionByName(Validate.referencedIn(orders(s, d), "o_custkey",
          customer(s, d), "c_custkey", ruleNo = 5L))
        .orderBy("rule_no")
    },

    // single-pass column profiler: row/null/exact-distinct counts +
    // min/max for four columns from ONE aggregate over one scan —
    // profiled columns are integer/string so the min/max string forms
    // are engine-portable (double formatting differs across engines).
    "q146_profile" -> { (s, d) =>
      graft.sources.Profile.profile(documents(s, d),
        Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy("column")
    },

    // Z-order layout: Morton-interleave (l_partkey, l_suppkey), cut the
    // Z-line into ≤64 equal ranges (scale-adaptive: the fixed-prefix cut
    // degenerates on a small key domain), and report per-range extents
    // of BOTH keys — the stats a reader would prune on; tight min/max on
    // both columns at once is what a single-column sort cannot give.
    "q147_zorder_layout" -> { (s, d) =>
      graft.sources.Zorder.zorderRanges(
          lineitem(s, d).select(col("l_partkey"), col("l_suppkey")),
          "l_partkey", "l_suppkey", bits = 15, numRanges = 64)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
        .orderBy("bucket")
    },

    // integer-exact equi-width histogram (profiling's distribution
    // half): 8 bins over n_chars — data-derived non-divisible width, so
    // the integer edge arithmetic is genuinely exercised; empty bins
    // materialize as 0.
    "q149_histogram" -> { (s, d) =>
      graft.sources.Profile.histogram(documents(s, d), "n_chars", 8)
        .orderBy("bin")
    },

    // equi-DEPTH histogram (quantile bucketing, the optimizer-stats
    // shape): boundaries are the exact i/8 percentiles (q53-proven
    // percentile ≡ quantile_cont bit-parity), bucket = #{boundaries
    // < x} as a literal comparison chain; n_chars ties make bucket
    // populations genuinely unequal, exercising the tie semantics.
    "q196_equidepth_histogram" -> { (s, d) =>
      graft.sources.Profile.histogramEquiDepth(documents(s, d),
        "n_chars", 8)
        .orderBy("bucket")
    },

    // sink roundtrip: filter → writeParquet → re-read → aggregate. The
    // oracle aggregates the source directly, so any fidelity loss in the
    // write/read path (types, values, row count) fails the gate.
    "q83_sink_roundtrip" -> { (s, d) =>
      val tmp = "/tmp/graft_q83_roundtrip"
      new DataStream(lineitem(s, d).filter(col("l_quantity") >= 45))
        .writeParquet(tmp)
      graft.sources.ParquetRead(s, tmp)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          graft.functions.Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },

    // csv sink+source roundtrip (writeCsv → readCsv with schema). Java
    // double text round-trips exactly, so even float sums must match the
    // direct-source oracle bit-for-bit within rtol.
    "q86_csv_roundtrip" -> { (s, d) =>
      val tmp = "/tmp/graft_q86_roundtrip"
      val src = orders(s, d).select(col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").cast("string").as("o_orderdate"))
      new DataStream(src).writeCsv(tmp)
      new graft.api.QContext(s)
        .readCsv(tmp, Some(src.schema), hasHeader = true).df
        .groupBy(substring(col("o_orderdate"), 1, 4).as("o_year"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
        .orderBy(col("o_year"))
    },

    // json source roundtrip (spark json write → readJson).
    "q87_json_roundtrip" -> { (s, d) =>
      val tmp = "/tmp/graft_q87_roundtrip"
      val src = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"),
        col("s_acctbal"))
      src.write.mode("overwrite").json(tmp)
      // alias sorts alphabetically AFTER the integer columns: check.py's
      // row alignment must lead with exact-typed keys, not a float sum
      new graft.api.QContext(s).readJson(tmp, Some(src.schema)).df
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("s_acctbal")).as("total_bal"))
        .orderBy(col("s_nationkey"))
    },

    // orc sink+source roundtrip (parity-plus format).
    "q92_orc_roundtrip" -> { (s, d) =>
      val tmp = "/tmp/graft_q92_roundtrip"
      new DataStream(part(s, d).select(col("p_brand"), col("p_retailprice")))
        .writeOrc(tmp)
      new graft.api.QContext(s).readOrc(tmp).df
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("p_retailprice")).as("total"))
        .orderBy(col("p_brand"))
    },

    // stateful_transform: per-key totals via the sorted-partition
    // iterator (constant memory per key run — the executor contract the
    // reference extends with Executor classes).
    "q84_stateful_totals" -> { (s, d) =>
      val src = orders(s, d).select(col("o_custkey"), col("o_totalprice"))
      new DataStream(src)
        .statefulTransform[(Long, Double, Long)](Seq("o_custkey"), Seq()) { it =>
          val bi = it.buffered
          new Iterator[(Long, Double, Long)] {
            def hasNext: Boolean = bi.hasNext
            def next(): (Long, Double, Long) = {
              val k = bi.head.getLong(0)
              var n = 0L
              var tot = 0.0
              while (bi.hasNext && bi.head.getLong(0) == k) {
                tot += bi.head.getDouble(1); n += 1; bi.next()
              }
              (k, tot, n)
            }
          }
        }(org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong))
        .toDF("o_custkey", "total", "n")
        .orderBy(col("o_custkey"))
    },

    // binary-file source: ten documents written as raw byte files, read
    // back through the binaryFile source; digests must match DuckDB
    // hashing the source texts (ASCII corpus: bytes = text).
    "q88_binary_files" -> { (s, d) =>
      val dir = java.nio.file.Paths.get("/tmp/graft_q88_blobs")
      java.nio.file.Files.createDirectories(dir)
      // fixed file set doc_0..doc_9; Files.write truncates, so reruns
      // overwrite in place and no stale files accumulate
      documents(s, d).filter(col("doc_id") < 10)
        .select(col("doc_id"), col("text")).collect().foreach { r =>
          java.nio.file.Files.write(dir.resolve(s"doc_${r.getLong(0)}.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
      new graft.api.QContext(s).readFiles(dir.toString + "/*.bin").df
        .select(length(col("content")).as("byte_len"),
          md5(col("content")).as("digest"))
        .orderBy(col("digest"))
    },

    // REST source: a deterministic paginated fetcher serving the nation
    // table as JSON lines (5 rows per page) — gates pagination + JSON-
    // lines parsing against the table itself.
    "q89_rest_source" -> { (s, d) =>
      val rows = nation(s, d).select(col("n_nationkey"), col("n_name"))
        .collect().map(r =>
          (r.getAs[Number](0).longValue(), r.getString(1))).sortBy(_._1)
        .map { case (k, n) => s"""{"n_nationkey":$k,"n_name":"$n"}""" }
      val pages = rows.grouped(5).map(_.mkString("\n")).toVector
      new graft.api.QContext(s)
        .readRest(i => pages.lift(i), maxPages = 100).df
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey"))
    },

    // REST source under rate limiting (readRestRetry): every even page
    // 429s on its first attempt and succeeds on the retry; the gate
    // proves the rows arrive complete AND the retry schedule is exactly
    // the contract — per-page attempt counts and the recorded backoff
    // sleeps are checked against the closed-form expectation and stated
    // as flags (the row payload re-gates the q89 pagination path).
    "q183_rest_retry" -> { (s, d) =>
      val rows = nation(s, d).select(col("n_nationkey"), col("n_name"))
        .collect().map(r =>
          (r.getAs[Number](0).longValue(), r.getString(1))).sortBy(_._1)
        .map { case (k, n) => s"""{"n_nationkey":$k,"n_name":"$n"}""" }
      val pages = rows.grouped(5).map(_.mkString("\n")).toVector
      val attempts = scala.collection.mutable.Map.empty[Int, Int]
      val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
      val fetch: Int => Option[String] = { i =>
        val n = attempts.updateWith(i)(c => Some(c.getOrElse(0) + 1)).get
        if (n == 1 && i % 2 == 0)
          throw new graft.api.QContext.TransientHttpError(429, "rate limited")
        pages.lift(i)
      }
      val ds = new graft.api.QContext(s).readRestRetry(fetch,
        maxPages = 100, maxRetries = 2, backoffMs = 8L,
        sleep = ms => sleeps += ms)
      // pagination touches pages 0..pages.size (inclusive terminator);
      // even pages take 2 attempts, odd take 1; one 8 ms first-backoff
      // sleep per even page and nothing else
      val touched = 0 to pages.size
      val okAttempts =
        if (touched.forall(i => attempts(i) == (if (i % 2 == 0) 2 else 1))
          && attempts.size == touched.size) 1L else 0L
      val okSleeps =
        if (sleeps.toSeq == touched.filter(_ % 2 == 0).map(_ => 8L)) 1L
        else 0L
      ds.df.select(col("n_nationkey"), col("n_name"),
          lit(okAttempts).as("ok_attempts"), lit(okSleeps).as("ok_sleeps"))
        .orderBy(col("n_nationkey"))
    },

    // local-materialization entry (from_polars/pandas/arrow): a literal
    // row set vs a VALUES oracle.
    "q90_fromseq" -> { (s, d) =>
      val qc = new graft.api.QContext(s)
      import s.implicits._
      qc.fromSeq(Seq((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, "gamma", 3.5)))
        .df.toDF("id", "name", "score").orderBy(col("id"))
    },

    // cached-result re-stream (read_dataset): compute() persists, the
    // aggregate reads the cache, and the cache is released before
    // returning (result materialized first — scoped lifecycle, no
    // cross-invocation storage leak).
    "q91_compute_reuse" -> { (s, d) =>
      val ds = new DataStream(
        lineitem(s, d).filter(col("l_discount") > 0.05)).compute()
      val out = ds.df.groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_linestatus"))
        .localCheckpoint(true)
      ds.df.unpersist(false)
      out
    },

    // cogroup: co-partitioned two-input operator per customer key.
    "q85_cogroup_stats" -> { (s, d) =>
      val c = customer(s, d).select(col("c_custkey"))
      val o = orders(s, d).select(col("o_custkey"), col("o_totalprice"))
      val grouped = new DataStream(c).groupby("c_custkey")
      val out = grouped.cogroup[Long, (Long, Long, Double)](
        new DataStream(o).groupby("o_custkey"), (r: Row) => r.getLong(0)) {
        (k: Long, lit0: Iterator[Row], rit: Iterator[Row]) =>
          if (lit0.isEmpty) Iterator.empty
          else {
            // cogroup value order follows shuffle-merge arrival, which is
            // run-dependent — accumulate Det-style (each value half-even
            // rounded to 6 dp as an exact integer; math.rint == the
            // oracle's CAST(x AS DECIMAL(25,6))) so the float total is
            // order-independent and engine-identical.
            var n = 0L
            var totScaled = 0L
            rit.foreach { r =>
              totScaled += math.rint(r.getDouble(1) * 1e6).toLong; n += 1
            }
            if (n == 0) Iterator.empty
            else Iterator.single((k, n, totScaled.toDouble / 1e6))
          }
      }(org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble))
      out.toDF("c_custkey", "n", "total").orderBy(col("c_custkey"))
    }
  )

  val oracles: Map[String, String] = Map(
    // every rule restated as plain SQL aggregates; violation counts are
    // exact integers (nonzero for in_range / in_set on this fixture)
    "q175_validate" -> {
      def row(no: Int, rule: String, column: String, v: String,
          from: String = "documents") =
        s"""SELECT CAST($no AS BIGINT) AS rule_no, '$rule' AS rule,
           |  '$column' AS "column", count(*) AS n_rows,
           |  CAST($v AS BIGINT) AS n_violations,
           |  CAST(CASE WHEN $v = 0 THEN 1 ELSE 0 END AS BIGINT) AS ok
           |FROM $from""".stripMargin
      Seq(
        row(0, "not_null", "text",
          "sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)"),
        row(1, "unique", "doc_id", "count(*) - count(DISTINCT doc_id)"),
        row(2, "in_range[1,300]", "n_chars",
          "sum(CASE WHEN n_chars IS NOT NULL AND (n_chars < 1 OR n_chars > 300) THEN 1 ELSE 0 END)"),
        row(3, "matches[^[a-z][a-z]$]", "lang",
          "sum(CASE WHEN lang IS NOT NULL AND NOT regexp_matches(lang, '^[a-z][a-z]$') THEN 1 ELSE 0 END)"),
        row(4, "in_set[10]", "source",
          "sum(CASE WHEN source IS NOT NULL AND source NOT IN " +
            (0 until 10).map(i => s"'src$i'").mkString("(", ", ", ")") +
            " THEN 1 ELSE 0 END)"),
        row(5, "referenced_in[c_custkey]", "o_custkey",
          "sum(CASE WHEN o_custkey IS NOT NULL AND o_custkey NOT IN " +
            "(SELECT c_custkey FROM customer) THEN 1 ELSE 0 END)",
          from = "orders"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY rule_no")
    },

    // the values come straight off the source tables; the zero-shuffle
    // plan property is engine-side, stated as a literal 1
    "q172_bucketed_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${graft.functions.Det.dsumSql("o_totalprice")} AS sum_price,
         |  CAST(1 AS BIGINT) AS ok_no_shuffle
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // row-per-column UNION of the same exact aggregates; min/max cast
    // to VARCHAR after aggregation, mirroring Profile's cast placement.
    "q146_profile" -> {
      def row(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s FROM documents""".stripMargin
      Seq("doc_id", "lang", "source", "n_chars").map(row)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q149_histogram" ->
      """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS x FROM documents
        |  WHERE n_chars IS NOT NULL),
        |b AS (SELECT min(x) AS mn, max(x) - min(x) + 1 AS w FROM v),
        |c AS (SELECT ((x - mn) * 8) // w AS bin, count(*) AS n
        |  FROM v CROSS JOIN b GROUP BY 1),
        |g AS (SELECT unnest(range(8)) AS bin)
        |SELECT g.bin, b.mn + (g.bin * b.w) // 8 AS lo,
        |  b.mn + ((g.bin + 1) * b.w) // 8 AS hi, coalesce(c.n, 0) AS n
        |FROM g CROSS JOIN b LEFT JOIN c USING (bin) ORDER BY bin""".stripMargin,

    "q196_equidepth_histogram" -> {
      val bins = 8
      val bArr = (1 until bins)
        .map(i => s"quantile_cont(x, ${i.toDouble / bins})")
      val bSel = bArr.zipWithIndex
        .map { case (e, i) => s"$e AS b${i + 1}" }.mkString(", ")
      val bucketExpr = (1 until bins)
        .map(i => s"(CASE WHEN x > b$i THEN 1 ELSE 0 END)").mkString(" + ")
      val loCase = "CASE g.bucket WHEN 0 THEN mn " +
        (1 until bins).map(i => s"WHEN $i THEN b$i").mkString(" ") + " END"
      val hiCase = s"CASE g.bucket WHEN ${bins - 1} THEN mx " +
        (0 until bins - 1).map(i => s"WHEN $i THEN b${i + 1}").mkString(" ") +
        " END"
      s"""WITH v AS (SELECT n_chars::DOUBLE AS x FROM documents
         |  WHERE n_chars IS NOT NULL),
         |s AS (SELECT $bSel, min(x) AS mn, max(x) AS mx FROM v),
         |a AS (SELECT CAST($bucketExpr AS BIGINT) AS bucket FROM v, s),
         |cnt AS (SELECT bucket, count(*) AS n FROM a GROUP BY 1),
         |g AS (SELECT unnest(range($bins)) AS bucket)
         |SELECT g.bucket, $loCase AS lo, $hiCase AS hi,
         |  coalesce(cnt.n, 0) AS n
         |FROM g CROSS JOIN s LEFT JOIN cnt USING (bucket)
         |ORDER BY g.bucket""".stripMargin
    },

    "q147_zorder_layout" ->
      s"""WITH z AS (SELECT l_partkey, l_suppkey,
         |    (${graft.sources.Zorder.mortonSql("l_partkey", "l_suppkey", 15)}) AS zcode
         |  FROM lineitem),
         |mx AS (SELECT max(zcode) AS mz FROM z)
         |SELECT (zcode * 64) // (mz + 1) AS bucket, count(*) AS n,
         |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
         |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
         |FROM z CROSS JOIN mx GROUP BY 1 ORDER BY 1""".stripMargin,

    "q83_sink_roundtrip" ->
      s"""SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n,
        |  ${graft.functions.Det.dsumSql("l_extendedprice")} AS sum_price
        |FROM lineitem WHERE l_quantity >= 45
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q84_stateful_totals" ->
      """SELECT o_custkey, sum(o_totalprice) AS total, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q92_orc_roundtrip" ->
      """SELECT p_brand, count(*) AS n, sum(p_retailprice) AS total
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,

    "q88_binary_files" ->
      """SELECT octet_length(encode(text)) AS byte_len, md5(text) AS digest
        |FROM documents WHERE doc_id < 10 ORDER BY digest""".stripMargin,

    "q89_rest_source" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",

    // retry accounting is engine-side (closed-form attempt/sleep
    // checks), stated as flags; the payload is the real nation table
    "q183_rest_retry" ->
      """SELECT n_nationkey, n_name, CAST(1 AS BIGINT) AS ok_attempts,
        |  CAST(1 AS BIGINT) AS ok_sleeps
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q90_fromseq" ->
      """SELECT * FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5),
        |  (3, 'gamma', 3.5)) t(id, name, score) ORDER BY id""".stripMargin,

    "q91_compute_reuse" ->
      """SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_discount > 0.05
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q86_csv_roundtrip" ->
      """SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS o_year,
        |  count(*) AS n, sum(o_totalprice) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q87_json_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n, sum(s_acctbal) AS total_bal
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,

    "q85_cogroup_stats" ->
      s"""SELECT c.c_custkey, count(*) AS n,
        |  ${graft.functions.Det.dsumSql("o.o_totalprice")} AS total
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
