package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** Parquet-manifest snapshot tables: versioned writes + snapshot-ID /
  * time-travel reads with zero non-Spark dependencies.
  *
  * Covers the CAPABILITY of the reference's iceberg source
  * (`pyquokka/df.py:802-832` `read_iceberg(snapshot_id)`; plan in
  * `logical.py:233-273` — scan the file list a table snapshot pins)
  * in an environment with no iceberg runtime jar: the same
  * manifest-over-immutable-parquet design, scoped to what the engine
  * needs. `QContext.readIceberg` remains the documented jar-gated path
  * for real iceberg catalogs.
  *
  * Layout under a table directory:
  * {{{
  *   data/v<id>/part-*.parquet   — one immutable dir per commit
  *   manifests/v<id>.json        — snapshot: id, parent, op, data dirs
  *   HEAD                        — current snapshot id (atomic rename)
  * }}}
  *
  * Scale design: a manifest lists data DIRECTORIES, not rows — reading a
  * snapshot is one parquet scan per listed dir ([[ParquetRead]], no
  * schema-inference job), so column pruning, predicate pushdown, and
  * partition-level parallelism are exactly those of a plain parquet
  * scan; the manifest itself is O(commits) driver-side metadata. Old
  * data dirs are never rewritten or deleted (append
  * re-lists the parent's dirs), which is what makes every historical
  * snapshot readable forever — compaction would be a rewrite committed
  * as a fresh overwrite snapshot.
  *
  * Commit protocol: manifest written CREATE_NEW (two racing writers to
  * the same next id — one loses, loudly), then HEAD swung by atomic
  * rename. A reader resolving HEAD between the two steps sees the old
  * snapshot — never a partial one.
  */
object Snapshots {

  case class Snapshot(id: Long, parentId: Option[Long], timestampMs: Long,
                      operation: String, dataDirs: Seq[String])

  /** Commit `df` as a new snapshot of the table at `dir`.
    * `mode="overwrite"` starts the visible file set fresh;
    * `mode="append"` extends the parent snapshot's. Returns the new
    * snapshot id (1-based). */
  /** `partitionBy`: hive-style partition dirs INSIDE each commit dir
    * (`data/v<id>/col=value/…`) — readers filtering on the partition
    * columns prune whole directories within every snapshot (Spark
    * discovers partitions beneath each manifest-listed root). All
    * commits of one table must use the same partitioning. */
  def write(df: DataFrame, dir: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Long = {
    require(mode == "overwrite" || mode == "append",
      s"snapshot write mode must be overwrite|append, got $mode")
    val root = Paths.get(dir)
    Files.createDirectories(root.resolve("manifests"))
    val parent = currentSnapshotId(dir)
    val id = parent.getOrElse(0L) + 1L
    val dataDir = s"data/v$id"
    val w = df.write.mode("errorifexists")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(root.resolve(dataDir).toString)
    val parentDirs =
      if (mode == "append")
        parent.map(p => readManifest(root, p).dataDirs).getOrElse(Nil)
      else Nil
    val snap = Snapshot(id, parent, System.currentTimeMillis(), mode,
      parentDirs :+ dataDir)
    // CREATE_NEW: a concurrent committer racing to the same id fails here
    // instead of silently clobbering the manifest
    Files.write(root.resolve(s"manifests/v$id.json"),
      renderManifest(snap).getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    val tmp = root.resolve(s"HEAD.tmp$id")
    Files.write(tmp, id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, root.resolve("HEAD"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    id
  }

  /** Read a snapshot of the table at `dir`: the current one by default,
    * or exactly `snapshotId` (time travel).
    *
    * `mergeSchema = true` enables ADD-COLUMN schema evolution: commits
    * may carry columns earlier commits lack; rows from pre-evolution
    * commits surface the new columns as null (the Iceberg/Delta
    * add-column read semantics — each commit dir keeps its own physical
    * schema, evolution is resolved at read). The strict default rejects
    * skewed commits loudly instead of silently widening. */
  def read(spark: SparkSession, dir: String,
           snapshotId: Option[Long] = None,
           mergeSchema: Boolean = false): DataFrame = {
    val root = Paths.get(dir)
    val id = snapshotId.orElse(currentSnapshotId(dir)).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $dir"))
    val snap = readManifest(root, id)
    // one scan per commit dir, unioned: a multi-path read would try to
    // infer ONE partition scheme across roots and throw
    // CONFLICTING_DIRECTORY_STRUCTURES for hive-partitioned commits
    // (each data/v<id> is its own partition root); per-dir reads keep
    // partition discovery local and filters/pruning still push into
    // every branch of the union
    snap.dataDirs.map(p => ParquetRead(spark, root.resolve(p).toString))
      .reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
  }

  /** Treat an APPEND-ONLY snapshot table as a Structured Streaming
    * source — the change-data-feed bridge: every append commit's files
    * surface as new stream input, so a downstream job (index
    * maintenance, dedup tagging, aggregation) consumes commits
    * incrementally instead of re-scanning the table (pair with a
    * checkpointed sink: a drain after commit N+1 reads ONLY commit
    * N+1's files — spec-pinned).
    *
    * Append-only is a hard contract, enforced here: an overwrite
    * commit leaves its predecessors' files on disk (time travel needs
    * them), and a file stream over the data directory would keep
    * replaying rows the table no longer contains. */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    val ops = history(spark, dir)
      .orderBy(org.apache.spark.sql.functions.col("snapshot_id"))
      .select("operation").collect().map(_.getString(0))
    require(ops.drop(1).forall(_ == "append"),
      s"readStream requires an append-only table; $dir has " +
        s"post-initial overwrite commits (${ops.mkString(", ")})")
    // the data/* glob matches files directly under each commit dir —
    // a hive-PARTITIONED table (write(..., partitionBy)) nests files
    // one level deeper under col=val/ dirs whose partition column
    // exists only in the directory name, so the stream would miss the
    // column (or the files entirely); reject it loudly here
    val root = Paths.get(dir)
    val hasPartitionDirs = currentSnapshotId(dir).toSeq
      .flatMap(id => readManifest(root, id).dataDirs)
      .exists { p =>
        val d = root.resolve(p)
        Files.isDirectory(d) && {
          val s = Files.list(d)
          try s.anyMatch(c => Files.isDirectory(c))
          finally s.close()
        }
      }
    require(!hasPartitionDirs,
      s"readStream supports only UNPARTITIONED snapshot tables; $dir " +
        "has hive-partition subdirectories under its commit dirs " +
        "(partition columns live in dir names the flat data/* glob " +
        "cannot resolve)")
    // NOTE: the append-only contract is checked ONCE, at stream
    // construction — an overwrite commit made AFTER the stream starts
    // is not detected (the old files keep replaying); coordinate
    // writers accordingly.
    val schema = read(spark, dir).schema
    spark.readStream.schema(schema).parquet(s"$dir/data/*")
  }

  /** Snapshot history (id, parent, timestamp, operation, n_data_dirs) as
    * a DataFrame — the reference exposes table history the same way. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = Paths.get(dir)
    // skip-missing: [[expire]] removes manifests below the retention
    // horizon; history reports the surviving tail
    val snaps = currentSnapshotId(dir).toSeq
      .flatMap(h => (1L to h)
        .filter(id => Files.exists(root.resolve(s"manifests/v$id.json")))
        .map(readManifest(root, _)))
    snaps.map(s => (s.id, s.parentId.getOrElse(-1L), s.timestampMs,
        s.operation, s.dataDirs.length))
      .toDF("snapshot_id", "parent_id", "timestamp_ms", "operation",
        "n_data_dirs")
  }

  /** Snapshot EXPIRATION (vacuum): drop every snapshot below the
    * `keepLast`-deep retention horizon and physically delete the data
    * directories no surviving snapshot references — the Iceberg
    * `expire_snapshots` / Delta `VACUUM` maintenance op that bounds a
    * frequently-committed table's storage at O(retained), where the
    * default keep-everything contract is O(all commits ever).
    *
    * Safety: a surviving APPEND snapshot lists its ancestors' data dirs
    * in its own manifest, so the reference set is the UNION over kept
    * manifests — an old dir stays on disk as long as any kept snapshot
    * pins it, no matter how old the commit that wrote it. Time travel
    * below the horizon fails loudly afterwards ("snapshot N does not
    * exist"); [[history]] reports the surviving tail. Not concurrency-
    * safe against in-flight readers of expiring snapshots OR racing
    * WRITERS: a commit landing between the horizon computation and the
    * deletes could reference a dir being vacuumed, so HEAD is re-read
    * just before deleting and the vacuum aborts (loudly) if it
    * advanced — a cheap guard, not a lock; run it in the table's
    * maintenance window like any vacuum.
    *
    * Returns (expired manifest count, deleted data-dir count). */
  def expire(dir: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val root = Paths.get(dir)
    val head = currentSnapshotId(dir).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $dir"))
    val horizon = math.max(1L, head - keepLast + 1L)
    val all = (1L to head).filter(id =>
      Files.exists(root.resolve(s"manifests/v$id.json")))
    val (dead, kept) = all.partition(_ < horizon)
    val referenced = kept.flatMap(id => readManifest(root, id).dataDirs).toSet
    def rmTree(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        val children = try s.toArray(new Array[Path](_)) finally s.close()
        children.foreach(rmTree)
      }
      Files.deleteIfExists(p)
    }
    val deadDirs = dead.flatMap(id => readManifest(root, id).dataDirs)
      .distinct.filterNot(referenced)
    // racing-writer guard: the dead set was computed against `head`; a
    // concurrent commit may reference dirs we are about to delete.
    val headNow = currentSnapshotId(dir).getOrElse(-1L)
    if (headNow != head)
      throw new IllegalStateException(
        s"expire: HEAD advanced $head -> $headNow during vacuum at " +
          s"$dir; aborting before any delete — re-run in a quiet window")
    deadDirs.foreach(p => rmTree(root.resolve(p)))
    dead.foreach(id =>
      Files.deleteIfExists(root.resolve(s"manifests/v$id.json")))
    (dead.size, deadDirs.size)
  }

  /** Absolute data-dir paths a snapshot pins — manifest resolution for
    * readers that need the dir list itself rather than the DataFrame
    * (e.g. [[MergeOnRead]]'s mergeSchema read). */
  private[sources] def dataDirsOf(root: Path, id: Long): Seq[String] =
    readManifest(root, id).dataDirs.map(p => root.resolve(p).toString)

  def currentSnapshotId(dir: String): Option[Long] = {
    val head = Paths.get(dir).resolve("HEAD")
    if (Files.exists(head))
      Some(new String(Files.readAllBytes(head), StandardCharsets.UTF_8)
        .trim.toLong)
    else None
  }

  // manifests are self-written one-liners; render/parse by hand so the
  // layer stays dependency-free (dirs are `data/v<N>` — no escaping needed)
  private def renderManifest(s: Snapshot): String = {
    val dirs = s.dataDirs.map(d => "\"" + d + "\"").mkString("[", ",", "]")
    // commit_nonce: a per-commit UUID that makes every manifest unique
    // even when a delete-and-rebuild lands on the same id within the
    // same millisecond (r16 review round 2) — readManifest ignores
    // unknown keys, so old manifests without it stay readable
    s"""{"snapshot_id":${s.id},"parent_id":${s.parentId.getOrElse(-1L)},""" +
      s""""timestamp_ms":${s.timestampMs},"operation":"${s.operation}",""" +
      s""""commit_nonce":"${java.util.UUID.randomUUID()}",""" +
      s""""data_dirs":$dirs}"""
  }

  /** A token unique to one physical commit — a cheap (one local JSON
    * read, no Spark job) rebuild detector: a table deleted and rebuilt
    * at the same path restarts ids at 1, but gets a fresh
    * commit_nonce (and timestamp). Used by the vector-index handle
    * memos to key cached centroids/codebooks (r16 review finding).
    * Manifests from before the nonce fall back to the timestamp MIXED
    * WITH the manifest file's size and mtime (r17 ADVICE): a
    * delete-and-rebuild of an old-format index landing in the same
    * millisecond would otherwise produce an identical token and let a
    * handle memo serve the dead index's centroids — exactly the hole
    * the nonce closes for new-format manifests. Size+mtime come from
    * the filesystem, not the (attacker-stable) JSON body, so two
    * physically distinct manifest files collide only if byte-identical
    * AND written in the same mtime tick — at which point they describe
    * the same commit. */
  def commitToken(dir: String, id: Long): String = {
    val f = Paths.get(dir).resolve(s"manifests/v$id.json")
    require(Files.exists(f), s"snapshot $id does not exist under $dir")
    val text = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
    """"commit_nonce":"([^"]+)"""".r.findFirstMatchIn(text)
      .map(_.group(1))
      .getOrElse {
        val ts = """"timestamp_ms":(-?\d+)""".r.findFirstMatchIn(text)
          .map(_.group(1)).getOrElse(
            throw new IllegalArgumentException(
              s"malformed manifest for snapshot $id under $dir"))
        val mtime = Files.getLastModifiedTime(f).toMillis
        s"legacy:$ts:${Files.size(f)}:$mtime"
      }
  }

  private def readManifest(root: Path, id: Long): Snapshot = {
    val f = root.resolve(s"manifests/v$id.json")
    require(Files.exists(f), s"snapshot $id does not exist under $root")
    val text = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
    def long(k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(text).get.group(1).toLong
    val op = """"operation":"(\w+)"""".r.findFirstMatchIn(text).get.group(1)
    val dirs = """"data_dirs":\[([^\]]*)\]""".r.findFirstMatchIn(text).get
      .group(1).split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty)
    val parent = long("parent_id")
    Snapshot(long("snapshot_id"), if (parent < 0) None else Some(parent),
      long("timestamp_ms"), op, dirs)
  }
}
