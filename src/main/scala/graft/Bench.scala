package graft
import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark surface. Contract: prints ONE JSON line on stdout
  * (`{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`)
  * AND writes the identical JSON (plus per-query rep detail) to
  * `target/bench.json`, so a driver whose stdout capture is polluted by
  * Spark/sbt noise can always parse the file.
  *
  * Noise handling (round-6 verdict: a contended machine made that
  * round's bench unusable and min-of-2 couldn't reject it): three timed
  * reps per query, and any query whose rep spread (max/min) exceeds 3×
  * — the signature of machine-wide contention, not plan cost — is
  * automatically re-run with up to two extra reps. Reported value is
  * the min across all reps (steady-state execution; codegen/JIT/GC
  * amortize at cluster scale); the file records every rep and the final
  * spread so a still-noisy round is visible instead of silent.
  *
  * Contention canary (round-7 verdict: SUSTAINED contention slows every
  * rep uniformly, which the spread check cannot see — q23 reported 4.16 s
  * that round vs 0.58 s idle): a fixed trivial query runs between every
  * catalog query; its baseline is the minimum canary time observed
  * anywhere in the run, and any sample > 3× that baseline brands the
  * span (the catalog query just timed) as contended. If any span is
  * contended the run self-reports `"contaminated": true` plus the
  * offending spans in both the stdout line and bench.json — a poisoned
  * run flags itself instead of masquerading as a regression.
  *
  * Failed queries (round-7 advice: timeOnce swallowed Throwable, so a
  * broken query's time-to-failure entered the min as a bogus fast rep):
  * each rep carries an ok flag; failed reps are recorded as -1 in the
  * reps JSON, excluded from the min, and a query with zero successful
  * reps reports -1 with its name under `"errors"`.
  *
  * Timing action (round 9): a `noop`-format write, NOT `df.count()`.
  * Catalyst prunes under a bare count — unused window expressions
  * vanish and a left join whose right side is aggregate-unique on the
  * join key is eliminated outright — so eleven catalog queries (both
  * as-of joins, the left join, shift/sliding windows, tpch09, the
  * backtest) were being timed on a fraction of their pipeline. The
  * noop sink requires every output column and discards rows at the
  * executor, which is also the honest comparison against the
  * reference baseline: that engine materializes full results. */
object Bench {
  /** The benched action: force full evaluation of every output column. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private val json = JsonMapper.builder()
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN).build()

  /** Seconds rounded to 4 decimals as an exact decimal, so the JSON
    * number is the same under any default locale. */
  private def dec(d: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d).setScale(4, java.math.RoundingMode.HALF_UP)

  /** `SPARK_GRAFT_CPUS`: a positive integer, 4 when unset. A bad value
    * fails the run instead of reaching the master URL or the JSON. */
  private[graft] def parseCpus(v: Option[String]): Int = v.fold(4) { s =>
    s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  private def compactNode(mins: Seq[(String, Double)], total: Double,
      sfDir: String, cpus: Int, contaminated: Boolean,
      errors: Seq[String]): ObjectNode = {
    val o = json.createObjectNode()
    o.put("metric", "total").put("value", dec(total)).put("unit", "sec")
    val qs = o.putObject("queries")
    mins.foreach { case (k, v) => qs.put(k, dec(v)) }
    o.put("sf", sfDir).put("cpus", cpus).put("contaminated", contaminated)
    errors.foldLeft(o.putArray("errors"))(_.add(_))
    o
  }

  /** The driver-parseable bench line (r17 verdict item 1): COMPACT —
    * contract fields only (total, per-query seconds, sf, cpus, plus the
    * contamination flag and failed-query names, both tiny and
    * load-bearing for interpreting the numbers). Every diagnostic
    * (canary samples, reps, spreads, heals) lives ONLY in
    * `target/bench.json`. MUST stay a single line: the driver parses
    * the last stdout line of the run (see `build.sbt`'s
    * `showSuccess := false`, which keeps sbt from printing its
    * `[success] Total time ...` trailer after this). */
  private[graft] def compactLine(mins: Seq[(String, Double)], total: Double,
      sfDir: String, cpus: Int, contaminated: Boolean,
      errors: Seq[String]): String =
    json.writeValueAsString(
      compactNode(mins, total, sfDir, cpus, contaminated, errors))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))
    // A/B hook for conf experiments (r17): `SPARK_GRAFT_EXTRA_CONF` is
    // `key=value;key=value`. The driver never sets it, so the recorded
    // bench always runs the defaults below.
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    // r17 ADVICE: a leftover A/B env var would silently perturb a
    // recorded bench — make any non-default session loudly visible.
    extraConf.foreach { case (k, v) =>
      println(s"[bench] WARNING non-default session conf from " +
        s"SPARK_GRAFT_EXTRA_CONF: $k=$v")
    }
    val spark = extraConf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the page cache + codegen/JIT once so per-query times measure
    // steady-state execution, not first-touch I/O.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try graft.queries.Tables.t(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { force(fn(spark, sfDir)); true }
               catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // The canary: a real (never cached) but trivially cheap job whose
    // cost is dominated by scheduler + one small scan — any 3× drift is
    // the machine, not the plan.
    val canaryFn = (s: SparkSession, d: String) =>
      graft.queries.Tables.nation(s, d).groupBy("n_regionkey")
        .count().filter(org.apache.spark.sql.functions.col("count") >= 0)
    // (span label, canary seconds); baseline = min over the whole run,
    // so a contended start can't hide later-visible contention
    val canarySamples = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def canary(label: String): Unit = {
      // min of two back-to-back runs: a one-off GC pause or scheduler
      // hiccup (µ-scale timings jitter hard) shouldn't brand the span —
      // sustained contention slows both runs and still trips the flag
      val ts = (1 to 2).flatMap { _ =>
        val (t, ok) = timeOnce(canaryFn); if (ok) Some(t) else None
      }
      if (ts.nonEmpty) canarySamples += (label -> ts.min)
    }
    // HEAVY untimed canary warmup: the JVM keeps re-tiering the
    // scheduler/codegen paths for many executions, so a single warmup
    // left __init samples 2-3.5× the late-run baseline — the 3×-of-
    // global-min check then false-flagged an idle machine (measured
    // round 9: ramp 0.43→0.12 s across the run while per-query numbers,
    // each behind its own warmup + min-of-reps, were unaffected).
    // ADAPTIVE: a fixed dozen reps proved not always enough (a later
    // clean-machine run still rode the ramp into the first two query
    // spans at 0.29 s vs an eventual 0.09 s floor — false contamination
    // again); warm until the last three reps form a plateau (max within
    // 1.3× of min — a still-descending ramp keeps failing this), capped
    // at 60 reps so a genuinely loaded machine exits the loop slow and
    // still trips the 3× check downstream.
    {
      val window = scala.collection.mutable.Queue.empty[Double]
      var n = 0
      var done = false
      while (!done && n < 60) {
        val (t, ok) = timeOnce(canaryFn)
        if (ok) {
          window.enqueue(t)
          if (window.size > 3) window.dequeue()
          done = window.size == 3 && window.max <= window.min * 1.3
        }
        n += 1
      }
    }
    (1 to 2).foreach(_ => canary("__init"))
    val reps = scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Double, Boolean)]]
    // dev subset runs (comma-separated names); the recorded per-round
    // bench always runs the full catalog (driver sets no filter)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val benched = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    benched.foreach { case (name, fn) =>
      timeOnce(fn) // untimed warmup: per-plan codegen + JIT land here,
                   // keeping rep spread a pure contention signal
      var times = Vector.fill(3)(timeOnce(fn))
      // spread > 3× (over successful reps) means at least one rep hit
      // external contention; two extra reps give the min a clean shot
      def okTimes = times.collect { case (t, true) => t }
      var extra = 0
      while (okTimes.size >= 2 &&
             okTimes.max / math.max(okTimes.min, 1e-9) > 3.0 && extra < 2) {
        times :+= timeOnce(fn); extra += 1
      }
      reps(name) = times
      canary(name) // canary AFTER the query: times the span it just ran in
    }
    def flaggedSpans: Vector[String] = {
      val base = if (canarySamples.isEmpty) 0.0 else canarySamples.map(_._2).min
      canarySamples.collect {
        case (label, t) if base > 0 && t > 3.0 * base => label
      }.distinct.toVector
    }
    // SELF-HEALING RETRY (round 9): across 151 spans on a shared host, a
    // single transient hiccup (one GC pause, one co-tenant burst) flagged
    // some one random span in otherwise-clean back-to-back runs, branding
    // the whole record not-a-result. A transient is distinguishable from
    // real load by RE-RUNNING the flagged query at the end of the run:
    // if its fresh canary span is clean, the retry reps replace the
    // perturbed ones and the flag clears; under sustained contention the
    // retry's canary trips again and the run stays honestly contaminated.
    // Every heal is RECORDED (round-9 advice): the perturbed reps and
    // canary samples it replaced land in bench.json's `healed_spans`, so
    // a healed run is distinguishable from a never-flagged one and an
    // "intermittent but recurring" pattern stays visible across rounds.
    // (label, original reps, retry reps, perturbed canary, fresh canary)
    val heals = scala.collection.mutable.ArrayBuffer
      .empty[(String, Vector[(Double, Boolean)], Vector[(Double, Boolean)],
              Vector[Double], Vector[Double])]
    // a flagged __init (no query attached) heals by re-sampling alone:
    // the sample exists only to witness the pre-sweep machine state
    flaggedSpans.filterNot(reps.contains).foreach { label =>
      val nBefore = canarySamples.length
      canary(label)
      val fresh = canarySamples.drop(nBefore)
      val base = canarySamples.map(_._2).min
      if (fresh.forall(_._2 <= 3.0 * base)) {
        val perturbed = canarySamples.zipWithIndex.collect {
          case ((l, t), i) if l == label && i < nBefore && t > 3.0 * base => t
        }.toVector
        heals += ((label, Vector.empty, Vector.empty, perturbed,
          fresh.map(_._2).toVector))
        val keep = canarySamples.zipWithIndex.filterNot { case ((l, t), i) =>
          l == label && i < nBefore && t > 3.0 * base
        }.map(_._1)
        canarySamples.clear()
        canarySamples ++= keep
      }
    }
    flaggedSpans.filter(reps.contains).foreach { name =>
      val fn = benched(name)
      timeOnce(fn)
      val retry = Vector.fill(3)(timeOnce(fn))
      val nBefore = canarySamples.length
      canary(name)
      val fresh = canarySamples.drop(nBefore)
      val retryClean = fresh.forall { case (_, t) =>
        val base = canarySamples.map(_._2).min
        t <= 3.0 * base
      }
      if (retryClean && retry.exists(_._2)) {
        val base = canarySamples.map(_._2).min
        val perturbed = canarySamples.zipWithIndex.collect {
          case ((l, t), i) if l == name && i < nBefore && t > 3.0 * base => t
        }.toVector
        heals += ((name, reps(name), retry, perturbed,
          fresh.map(_._2).toVector))
        reps(name) = retry
        // drop the perturbed span samples so the flag reflects the retry
        val keep = canarySamples.zipWithIndex.filterNot { case ((l, t), i) =>
          l == name && i < nBefore && t > 3.0 * base
        }.map(_._1)
        canarySamples.clear()
        canarySamples ++= keep
      }
    }
    val mins = reps.map { case (k, v) =>
      val ok = v.collect { case (t, true) => t }
      k -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    val errors = mins.collect { case (k, v) if v < 0 => k }.toVector
    val total = mins.values.filter(_ >= 0).sum
    val canaryBase = if (canarySamples.isEmpty) 0.0
                     else canarySamples.map(_._2).min
    val contaminatedSpans = flaggedSpans
    val contaminated = contaminatedSpans.nonEmpty
    def repArr(v: Vector[(Double, Boolean)]) = v.foldLeft(json.createArrayNode()) {
      case (a, (t, ok)) => if (ok) a.add(dec(t)) else a.add(-1)
    }
    def strArr(v: Seq[String]) = v.foldLeft(json.createArrayNode())(_.add(_))
    val full = compactNode(mins.toSeq, total, sfDir, cpus, contaminated,
      errors)
    val flags = json.createObjectNode()
    flags.put("contaminated", contaminated)
    flags.set[JsonNode]("contaminated_spans", strArr(contaminatedSpans))
    flags.set[JsonNode]("healed_spans", strArr(heals.map(_._1).toSeq))
    flags.set[JsonNode]("errors", strArr(errors))
    full.setAll[JsonNode](flags)
    val canaryJson = full.putObject("canary").put("baseline", dec(canaryBase))
    canarySamples.foldLeft(canaryJson.putArray("samples")) {
      case (a, (l, t)) => a.add(json.createArrayNode().add(l).add(dec(t)))
    }
    val repsJson = full.putObject("reps")
    reps.foreach { case (k, v) => repsJson.set[JsonNode](k, repArr(v)) }
    // spread = max/min over the 3 fastest successful reps: the stability
    // of the reported min. Slower reps (first-build I/O inside a query, a
    // contention spike already answered by the extra reps) stay visible
    // in the full rep list without branding a stable min as noisy.
    val spreads = full.putObject("spread")
    reps.foreach { case (k, v) =>
      val ok = v.collect { case (t, true) => t }
      val best = ok.sorted.take(3)
      spreads.put(k, dec(
        if (best.isEmpty) 0.0 else best.max / math.max(best.min, 1e-9)))
    }
    val healsJson = full.putArray("heals")
    heals.foreach { case (l, o, r, pc, fc) =>
      val h = healsJson.addObject().put("span", l)
      h.set[JsonNode]("orig_reps", repArr(o))
      h.set[JsonNode]("retry_reps", repArr(r))
      pc.foldLeft(h.putArray("orig_canary"))((a, t) => a.add(dec(t)))
      fc.foldLeft(h.putArray("retry_canary"))((a, t) => a.add(dec(t)))
    }
    val line = compactLine(mins.toSeq, total, sfDir, cpus, contaminated,
      errors)
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, json.writeValueAsBytes(full))
    // full diagnostics (healed/contaminated spans) stay visible in the
    // run log via stderr, keeping stdout's last line the parse target
    Console.err.println(s"[bench] ${json.writeValueAsString(flags)}")
    spark.stop()
    // the contract line, printed after spark.stop() so NOTHING can
    // follow it on stdout (r17 verdict item 1: the driver parses the
    // last stdout line, which used to be sbt's `[success]` trailer)
    println(line)
  }
}
