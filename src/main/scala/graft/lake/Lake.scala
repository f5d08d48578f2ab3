package graft.lake

import graft.io.Parquet
import org.apache.spark.sql.{DataFrame, GraftLineage, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Iceberg-style table emulation (SURVEY.md §7: no Iceberg jar ships in
  * this sandbox): each stage commit = parquet data files + an
  * atomically-renamed JSON snapshot manifest that carries the
  * per-partition lineage rows. A rerun
  * consults the manifest and skips committed stages — the
  * checkpoint/resume contract of the north rule. Swap [[LakeTable]] for a
  * real Iceberg catalog by reimplementing the four methods. */
class LakeTable(val root: String) {

  /** Files.list/Files.walk hold an OS directory handle until closed — a
    * per-micro-batch caller (the replay probe) would otherwise leak one fd
    * per batch between GC cycles (round-4 review). */
  private def withStream[A](s: java.util.stream.Stream[java.nio.file.Path])(
      f: Iterator[java.nio.file.Path] => A): A = {
    import scala.jdk.CollectionConverters._
    try f(s.iterator().asScala) finally s.close()
  }

  private def stageDir(stage: String) = s"$root/$stage"
  private def manifestPath(stage: String) = Paths.get(s"${stageDir(stage)}/_manifest.json")

  def isCommitted(stage: String): Boolean = Files.exists(manifestPath(stage))

  private def manifestField(json: String, key: String): Option[String] =
    ("\"" + key + "\":\"([^\"]*)\"").r.findFirstMatchIn(json).map(_.group(1))

  /** The data directories (relative to the stage dir) a snapshot manifest
    * references: `data_paths` (comma-separated, written by appends) wins
    * over the single `data_path` of a rewrite commit. */
  private def dataRelPaths(m: String): Seq[String] =
    manifestField(m, "data_paths").map(_.split(",").toSeq)
      .orElse(manifestField(m, "data_path").map(Seq(_)))
      .getOrElse(Seq.empty)

  /** The current snapshot's rows. A known `schema` (the build's, right
    * after committing it) skips parquet's footer-inference job; a file
    * source makes it nullable, so it equals the inferred one. */
  def read(spark: SparkSession, stage: String,
           schema: Option[StructType] = None): DataFrame = {
    val rels = manifest(stage).map(dataRelPaths).filter(_.nonEmpty)
      .getOrElse(Seq("data"))
    val paths = rels.map(r => s"${stageDir(stage)}/$r")
    schema.fold(Parquet.read(spark, paths: _*))(Parquet.read(spark, _, paths: _*))
  }

  /** The current snapshot's lineage, one row per write task that wrote
    * rows: (partition_id, output_rows, checksum, stage, wall_ms). Built
    * from the manifest alone — no Spark job, no file read. */
  def readLineage(spark: SparkSession, stage: String): DataFrame = {
    val m = manifest(stage).getOrElse(
      throw new IllegalArgumentException(s"stage $stage has no committed snapshot"))
    val lin = manifestField(m, "lineage").getOrElse(
      throw new IllegalStateException(s"stage $stage: manifest carries no lineage"))
    val wallMs = manifestField(m, "wall_ms").fold(0L)(_.toLong)
    val rows = lin.split(",").toSeq.filter(_.nonEmpty).map { e =>
      val Array(p, n, c) = e.split(":")
      Row(p.toInt, n.toLong, c.toLong, stage, wallMs)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, LakeTable.LineageSchema)
  }

  // ------------------------------------------------- snapshots / time-travel
  /** Committed snapshot versions of a stage, ascending (Iceberg-style
    * snapshot list: every commit is a new immutable version; the current
    * pointer is the atomically-replaced `_manifest.json`). */
  def versions(stage: String): Seq[Int] = {
    val dir = Paths.get(stageDir(stage))
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val re = "_manifest_v(\\d+)\\.json".r
      withStream(Files.list(dir))(_
        .flatMap(p => re.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toInt))
        .toSeq.sorted)
    }
  }

  def manifestAt(stage: String, version: Int): Option[String] = {
    val p = Paths.get(s"${stageDir(stage)}/_manifest_v$version.json")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    else None
  }

  /** Time-travel read: the data files of snapshot `version`, regardless of
    * where the current pointer sits. */
  def readAt(spark: SparkSession, stage: String, version: Int): DataFrame = {
    val m = manifestAt(stage, version).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$version for stage $stage"))
    val rels = dataRelPaths(m)
    if (rels.isEmpty)
      throw new IllegalArgumentException(s"snapshot v$version has no data_path")
    Parquet.read(spark, rels.map(r => s"${stageDir(stage)}/$r"): _*)
  }

  /** Re-point the current manifest at an older snapshot (atomic move, same
    * crash-safety as commit). Data files of newer snapshots stay on disk —
    * rollback is itself reversible via another rollback. */
  def rollback(stage: String, version: Int): Unit = {
    val m = manifestAt(stage, version).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$version for stage $stage"))
    // under the pointer lock: a rollback interleaving with a concurrent
    // commit's CAS must serialize (the commit then fails its parent check
    // instead of silently re-burying the rolled-back-to snapshot)
    withPointerLock(stage) {
      val tmp = Paths.get(s"${stageDir(stage)}/_manifest.json.tmp")
      Files.write(tmp, m.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, manifestPath(stage), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** Commit a stage — single-pass (VERDICT r1 #7 / ADVICE r1):
    *  1. write + lineage in one job: ONE evaluation of the plan writes the
    *     data parquet, and each write task counts and checksums exactly
    *     the rows it hands the writer ([[GraftLineage]]), so the lineage
    *     describes the committed files without reading them back;
    *  2. manifest: the P lineage rows (bounded by partition count, never
    *     by data size) and the row count go into the snapshot manifest,
    *     which lands via write-tmp + ATOMIC_MOVE.
    * Partial writes without a manifest are invisible to readers and get
    * overwritten on retry.
    *
    * Returns the version it actually wrote (ADVICE r3: callers must not
    * re-derive it from `versions(stage).last`, which can name a DIFFERENT
    * concurrent commit).
    *
    * MULTI-WRITER SAFETY (VERDICT r4 #4 — optimistic concurrency, the
    * Iceberg commit protocol): version numbers are CLAIMED atomically
    * (`_claim_v<N>.json` via CREATE_NEW), so two writers can never write
    * the same snapshot files; the current pointer then advances by
    * COMPARE-AND-SWAP — it lands only if the pointer still sits on the
    * snapshot this commit was built against. A writer that loses the race
    * gets [[ConcurrentCommitException]] (its snapshot files stay on disk,
    * nothing is clobbered) and re-runs its commit against the new current
    * snapshot; [[commitAppend]] retries internally, metadata-only. */
  def commit(stage: String, data: DataFrame, meta: Map[String, String]): Int =
    commitFrom(stage, data, meta, currentVersion(stage).getOrElse(0))

  /** The commit body with the base snapshot explicit — `expectedParent` is
    * what the CAS checks against (spec hook: a stale parent simulates a
    * writer that lost the race mid-flight). */
  private[lake] def commitFrom(stage: String, data: DataFrame,
                               meta: Map[String, String],
                               expectedParent: Int): Int = {
    val sf = writeSnapshotFiles(stage, data)
    val json = manifestJson(stage, sf.version, sf, meta,
      parentRels = Nil, parentRows = 0L)
    if (!advancePointer(stage, sf.version, json, expectedParent))
      throw new ConcurrentCommitException(stage, sf.version,
        currentVersion(stage).getOrElse(0))
    sf.version
  }

  /** Fast append (Iceberg `append` snapshot): commit ONLY the delta's
    * parquet files; the new snapshot's manifest references the parent
    * snapshot's data directories PLUS the delta's — readers of the new
    * version see old ∪ delta without a single parent byte being rewritten.
    * This is what makes a daily batch-append to a 100-TB store O(|batch|)
    * instead of O(|store|). Lineage rows describe the delta (the only
    * files this commit wrote); `row_count` is the snapshot TOTAL
    * (parent + delta). Accumulated small delta files are the job of
    * [[compact]], which folds a multi-directory snapshot back into one
    * clustered directory; [[vacuum]] never deletes a data directory a
    * retained snapshot still references. */
  def commitAppend(stage: String, delta: DataFrame, meta: Map[String, String]): Int = {
    if (!isCommitted(stage)) throw new IllegalStateException(
      s"stage $stage has no committed snapshot to append to — use commit")
    val sf = writeSnapshotFiles(stage, delta)
    var attemptVersion = sf.version
    // CAS retry loop: on a concurrent advance the delta's data/lineage
    // files are REUSED — only a fresh version claim + manifest + pointer
    // attempt run again (Iceberg fast-append conflict resolution is the
    // same metadata-only retry; the expensive write never repeats). The
    // loop terminates because each round's claim is strictly newer and a
    // finite set of concurrent writers each advance the pointer at most
    // once per own-retry.
    while (true) {
      val m = manifest(stage).getOrElse(throw new IllegalStateException(
        s"stage $stage lost its snapshot mid-append"))
      // parent version comes from the SAME manifest read as the parent data
      // paths — a second currentVersion() read would open a TOCTOU window
      // where a commit landing between the two reads passes the CAS while
      // this manifest (and so data_paths/row_count) predates it, silently
      // dropping the intervening snapshot's data from the append.
      val parentV = manifestField(m, "version").map(_.toInt).getOrElse(0)
      val parentRows = manifestField(m, "row_count").map(_.toLong).getOrElse(0L)
      onAppendBeforeCas()
      val json = manifestJson(stage, attemptVersion, sf,
        meta + ("append_of" -> parentV.toString),
        parentRels = dataRelPaths(m), parentRows = parentRows)
      if (advancePointer(stage, attemptVersion, json, parentV))
        return attemptVersion
      attemptVersion = claimVersion(stage)
    }
    -1 // unreachable
  }

  /** Test seam: runs after [[commitAppend]] reads the parent manifest and
    * before its CAS attempt — a spec overrides this to inject a concurrent
    * commit deterministically into the read→CAS window (the lost-update
    * TOCTOU the single-manifest-read parentV closes). No-op in production. */
  protected def onAppendBeforeCas(): Unit = ()

  /** snapshot payload files on disk, not yet referenced by any pointer,
    * with the lineage their write tasks recorded. */
  private case class SnapshotFiles(version: Int, dataRel: String,
                                   lineage: Seq[GraftLineage.Part], wallMs: Long) {
    def rows: Long = lineage.map(_.rows).sum
  }

  /** Atomically claim the next free version number: CREATE_NEW on
    * `_claim_v<N>.json` — two concurrent writers can never both own N, so
    * snapshot file paths (keyed by claimed version) never collide. */
  private def claimVersion(stage: String): Int = {
    val dir = Paths.get(stageDir(stage))
    Files.createDirectories(dir)
    val re = "_(?:manifest|claim)_v(\\d+)\\.json".r
    val taken = withStream(Files.list(dir))(_
      .flatMap(p => re.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toInt))
      .toSeq)
    var v = (0 +: taken).max + 1
    while (true) {
      try {
        Files.createFile(Paths.get(s"${stageDir(stage)}/_claim_v$v.json"))
        return v
      } catch { case _: java.nio.file.FileAlreadyExistsException => v += 1 }
    }
    -1 // unreachable
  }

  /** Write the snapshot's data under a freshly-claimed version, recording
    * its lineage in the same job. Invisible to readers until a pointer
    * references it. */
  private def writeSnapshotFiles(stage: String, data: DataFrame): SnapshotFiles = {
    val t0 = System.nanoTime()
    val version = claimVersion(stage)
    val lineage = GraftLineage.recordWhile(data)(
      _.write.mode("overwrite").parquet(s"${stageDir(stage)}/data_v$version"))
    SnapshotFiles(version, s"data_v$version", lineage,
      (System.nanoTime() - t0) / 1000000)
  }

  /** `version` names the manifest; the payload paths come from `sf` (they
    * differ on an append retry, which reuses earlier-written files). */
  private def manifestJson(stage: String, version: Int, sf: SnapshotFiles,
                           meta: Map[String, String],
                           parentRels: Seq[String], parentRows: Long): String = {
    val rels = parentRels :+ sf.dataRel
    val fields = meta ++ Map(
      "stage" -> stage,
      "version" -> version.toString,
      "data_path" -> sf.dataRel,
      "data_paths" -> rels.mkString(","),
      "lineage" -> sf.lineage
        .map(p => s"${p.partition}:${p.rows}:${p.checksum}").mkString(","),
      "wall_ms" -> sf.wallMs.toString,
      "row_count" -> (parentRows + sf.rows).toString,
      "committed_at" -> java.time.Instant.now().toString)
    fields.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\"", "'") + "\""
    }.mkString("{", ",", "}")
  }

  /** CAS pointer advance: under the cross-process pointer lock, move the
    * current pointer IF AND ONLY IF it still sits on `expectedParent`, and
    * only THEN write the immutable `_manifest_v<version>.json` (tmp +
    * atomic rename, immediately before the pointer move). Returns false
    * when a concurrent writer advanced first; the attempted snapshot's
    * DATA stays on disk for inspection/retry, but no versioned manifest is
    * written for it — a CAS loser must never leave a `_manifest_v<N>.json`
    * below the winner's currentVersion, or rollback/readAt/versions/vacuum
    * would treat a never-committed snapshot as commit evidence (the
    * pointer-reachability invariant). The only residual orphan source is a
    * crash inside this lock between the two renames — a version ABOVE
    * current at that instant, i.e. exactly the crash-orphan class the
    * replay rules already exclude. */
  private def advancePointer(stage: String, version: Int, json: String,
                             expectedParent: Int): Boolean = {
    val dir = stageDir(stage)
    Files.createDirectories(Paths.get(dir))
    withPointerLock(stage) {
      val cur = currentVersion(stage).getOrElse(0)
      if (cur != expectedParent) false
      else {
        // tmp name must NOT contain "_manifest_v<N>.json" — versions()'s
        // regex is unanchored and would count a crash-leftover tmp
        val vtmp = Paths.get(s"$dir/_vtmp_$version.tmp")
        Files.write(vtmp, json.getBytes(StandardCharsets.UTF_8))
        Files.move(vtmp, Paths.get(s"$dir/_manifest_v$version.json"),
          StandardCopyOption.ATOMIC_MOVE)
        val tmp = Paths.get(s"$dir/_manifest.json.tmp")
        Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, manifestPath(stage), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        true
      }
    }
  }

  /** Cross-process mutual exclusion on the stage's pointer: an OS file
    * lock, serialized in-JVM first (FileChannel.lock throws
    * OverlappingFileLockException for same-JVM contenders — the JVM
    * monitor makes in-process writers queue instead). Held for
    * microseconds (one read + one rename). */
  private def withPointerLock[A](stage: String)(body: => A): A =
    LakeTable.PointerMonitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(s"${stageDir(stage)}/_pointer.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try body finally lk.release()
      } finally ch.close()
    }

  def manifest(stage: String): Option[String] =
    if (isCommitted(stage)) Some(new String(
      Files.readAllBytes(manifestPath(stage)), StandardCharsets.UTF_8))
    else None

  def currentVersion(stage: String): Option[Int] =
    manifest(stage).flatMap(manifestField(_, "version")).map(_.toInt)

  /** The current snapshot's total row count from its manifest — the stats
    * read that replaces a full data scan for monitoring/reporting. */
  def rowCount(stage: String): Option[Long] =
    manifest(stage).flatMap(manifestField(_, "row_count")).map(_.toLong)

  // ------------------------------------------------- table maintenance
  /** Bytes of parquet data files in snapshot `version` (the stats a real
    * table format keeps in its manifest; here read from the filesystem). */
  def dataBytes(stage: String, version: Int): Long = {
    // an append snapshot spans its parent's directories too — size ALL of
    // them (compact uses this to pick the rewrite's file count)
    val rels = manifestAt(stage, version).map(dataRelPaths).filter(_.nonEmpty)
      .getOrElse(Seq(s"data_v$version"))
    rels.map { rel =>
      val dir = Paths.get(s"${stageDir(stage)}/$rel")
      if (!Files.isDirectory(dir)) 0L
      else withStream(Files.walk(dir))(_
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(Files.size).sum)
    }.sum
  }

  /** Small-file compaction (Iceberg `rewrite_data_files` / Delta
    * `OPTIMIZE`): rewrite the CURRENT snapshot's rows into
    * ceil(bytes/targetFileBytes) files and commit the result as a NEW
    * snapshot — readers are never blocked (old snapshot stays readable
    * until vacuumed), a crash mid-compaction leaves the pointer on the old
    * snapshot. `clusterBy` optionally range-partitions + sorts the rewrite
    * (Delta `ZORDER BY`-shaped: contiguous key ranges per file, so
    * min/max stats give file-level skipping on those columns — the
    * maintenance-time twin of q66's write-time clustering). At 100 TB
    * this is the nightly job that keeps a streamed-in table scannable.
    * Returns the new snapshot version. */
  def compact(spark: SparkSession, stage: String, targetFileBytes: Long,
              clusterBy: Seq[String] = Nil): Int = {
    val cur = currentVersion(stage).getOrElse(
      throw new IllegalStateException(s"stage $stage has no committed snapshot"))
    val bytes = dataBytes(stage, cur)
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val data = read(spark, stage)
    val rewritten =
      if (clusterBy.nonEmpty) {
        val keys = clusterBy.map(col)
        data.repartitionByRange(nFiles, keys: _*)
          .sortWithinPartitions(keys: _*)
      } else data.repartition(nFiles)
    // propagate the version commit() actually wrote (ADVICE r3:
    // versions(stage).last could name a different writer's snapshot)
    commit(stage, rewritten, Map(
      "compaction_of" -> cur.toString,
      "target_file_bytes" -> targetFileBytes.toString,
      "cluster_by" -> clusterBy.mkString(",")))
  }

  /** Snapshot-retention vacuum (Iceberg `expire_snapshots` + orphan-file
    * removal): drop every snapshot older than the newest `retainLast`,
    * ALWAYS keeping the one the current pointer references (a rolled-back
    * table never loses the data it is serving) — then delete the dropped
    * snapshots' data files and any stray tmp dirs. Time-travel to
    * a dropped version fails afterwards; retained versions are untouched.
    * Returns the dropped versions. */
  def vacuum(stage: String, retainLast: Int,
             orphanMinAgeMs: Long = LakeTable.DefaultOrphanMinAgeMs): Seq[Int] = {
    require(retainLast >= 1, "retainLast must be >= 1")
    val all = versions(stage)
    val keep = all.takeRight(retainLast).toSet ++ currentVersion(stage)
    val drop = all.filterNot(keep)
    // append snapshots reference their PARENTS' data directories: a data
    // dir is deletable only when no retained snapshot's manifest lists it
    // (Iceberg expire_snapshots keeps reachable files the same way)
    val referenced: Set[String] =
      keep.flatMap(v => manifestAt(stage, v).map(dataRelPaths).getOrElse(Nil))
    def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p))
      withStream(Files.walk(p).sorted(java.util.Comparator.reverseOrder()))(
        _.foreach(Files.delete))
    drop.foreach { v =>
      if (!referenced.contains(s"data_v$v"))
        rmTree(Paths.get(s"${stageDir(stage)}/data_v$v"))
      Files.deleteIfExists(Paths.get(s"${stageDir(stage)}/_manifest_v$v.json"))
      Files.deleteIfExists(Paths.get(s"${stageDir(stage)}/_claim_v$v.json"))
    }
    // orphaned crash leftovers (never referenced by any manifest). An
    // age cutoff keeps the sweep from racing a CONCURRENT commit/rollback
    // whose _manifest.json.tmp exists between write and ATOMIC_MOVE —
    // Iceberg's remove_orphan_files has the same guard for the same
    // reason (default there: 3 days; crash leftovers are old by
    // definition, in-flight tmps are milliseconds old).
    val dir = Paths.get(stageDir(stage))
    if (Files.isDirectory(dir)) {
      val cutoff = System.currentTimeMillis() - orphanMinAgeMs
      val stale = withStream(Files.list(dir))(_
        .filter(_.getFileName.toString.endsWith(".tmp"))
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .toSeq)
      stale.foreach(rmTree) // delete AFTER the listing stream closes
    }
    drop
  }
}

object LakeTable {
  /** Orphan-sweep age cutoff: a .tmp younger than this is presumed to be a
    * concurrent commit/rollback between write and ATOMIC_MOVE, not a crash
    * leftover (Iceberg remove_orphan_files ships the same guard). */
  val DefaultOrphanMinAgeMs: Long = 60L * 60 * 1000

  /** In-JVM serialization ahead of the OS pointer lock (same-JVM
    * contenders on one file lock throw OverlappingFileLockException). */
  private[lake] val PointerMonitor = new Object

  /** [[readLineage]]'s columns. */
  private val LineageSchema = new StructType()
    .add("partition_id", IntegerType, nullable = false)
    .add("output_rows", LongType, nullable = false)
    .add("checksum", LongType, nullable = false)
    .add("stage", StringType, nullable = false)
    .add("wall_ms", LongType, nullable = false)
}

/** A concurrent writer advanced the stage pointer past the snapshot this
  * commit was built against. Nothing was lost: the attempted snapshot's
  * files are on disk under the version in `attempted`, and the winner's
  * commit is `current`. Re-run the commit against the new current
  * snapshot (appends retry automatically, metadata-only). */
final class ConcurrentCommitException(val stage: String, val attempted: Int,
                                      val current: Int)
  extends RuntimeException(
    s"stage $stage: commit built against a stale snapshot — a concurrent " +
      s"writer advanced the pointer to v$current while this writer " +
      s"prepared v$attempted; retry against the current snapshot")

/** Deterministic stage DAG runner with per-partition lineage
  * (stage, partition_id, output_rows, checksum) — SURVEY.md §2.11. */
object StageRunner {

  /** Run (or resume) a stage: if the manifest exists, read the committed
    * result instead of recomputing — rerunning a failed job resumes after
    * the last committed stage. The build plan is evaluated exactly once
    * (the data write inside [[LakeTable.commit]]), and a fresh commit is
    * read back with the build's schema. */
  def stage(spark: SparkSession, lake: LakeTable, name: String,
            meta: Map[String, String] = Map.empty)(build: => DataFrame): DataFrame =
    if (lake.isCommitted(name)) lake.read(spark, name)
    else {
      val df = build
      lake.commit(name, df, meta)
      lake.read(spark, name, Some(df.schema))
    }
}
