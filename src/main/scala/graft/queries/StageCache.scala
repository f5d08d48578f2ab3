package graft.queries

import org.apache.spark.sql.DataFrame

/** Process-shared, fingerprint-keyed parquet stage cache for derived tables
  * of an input file (the query-facing twin of a committed lake stage —
  * CorpusDedupJob stages the same tables through [[graft.lake.LakeTable]]).
  * A stage directory name encodes the SOURCE path and fingerprint (the
  * data-file listing of [[graft.io.Parquet.fingerprint]]) plus every
  * algorithm constant the caller folds into `key`, so a
  * stale cache can never outlive a code or data change. Values must be
  * deterministic: a replay reads identical bytes and every gate hash is
  * unchanged. */
object StageCache {

  /** fingerprint-keyed cache directory for a derived table of `srcPath`. */
  def dir(srcPath: String, what: String, key: String): java.io.File = {
    val src = new java.io.File(srcPath)
    val full = s"$what:${src.getCanonicalPath}:${graft.io.Parquet.fingerprint(src.getPath)}:$key"
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(full.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft-stage-cache/${what}_$fp")
  }

  def isPublished(dir: java.io.File): Boolean =
    new java.io.File(dir, "_SUCCESS").exists()

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The publish-under-lock choreography every stage site needs:
    * double-checked per-dir in-process lock (cross-process safety comes
    * from [[publish]]'s atomic rename), `build` evaluated only on the
    * cold path, then the COMMITTED bytes are what callers read.
    * `afterPublish` runs on the freshly-built frame once its bytes are on
    * disk — the hook for releasing build-internal checkpoint blocks. */
  def getOrPublish(spark: org.apache.spark.sql.SparkSession,
                   dir: java.io.File,
                   partitionCols: Seq[String] = Nil,
                   afterPublish: DataFrame => Unit = _ => ())
                  (build: => DataFrame): DataFrame = {
    locked(dir) {
      if (!isPublished(dir)) {
        val df = build
        publish(df, dir, partitionCols)
        afterPublish(df)
      }
    }
    graft.io.Parquet.read(spark, dir.getAbsolutePath)
  }

  /** [[getOrPublish]] for a stage that is not a parquet table: `write`
    * fills an empty directory (only on the cold path) and the published
    * `dir` is returned. */
  def getOrPublishFiles(dir: java.io.File)(write: java.io.File => Unit): java.io.File = {
    locked(dir) { publishWith(dir)(write) }
    dir
  }

  private def locked(dir: java.io.File)(body: => Unit): Unit =
    locks.computeIfAbsent(dir.getAbsolutePath, _ => new Object).synchronized(body)

  /** Publish a stage-cache table ATOMICALLY (see [[publishWith]]).
    * `partitionCols`, when non-empty, lays the table out hive-partitioned
    * (one directory per key) so readers get FILE-level pruning on those
    * columns — the write-time-clustering contract of q66. */
  def publish(df: DataFrame, dir: java.io.File,
              partitionCols: Seq[String] = Nil): Unit =
    publishWith(dir) { tmp =>
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp.getAbsolutePath)
    }

  /** Publish `dir` ATOMICALLY: `write` fills a process-unique sibling, a
    * `_SUCCESS` marker is added, and the sibling is renamed into place
    * (same filesystem → atomic); a lost race discards it — a concurrent
    * JVM can never observe a half-written dir. */
  private def publishWith(dir: java.io.File)(write: java.io.File => Unit): Unit = {
    if (isPublished(dir)) return
    val tmp = new java.io.File(dir.getParentFile,
      dir.getName + ".tmp-" + java.lang.ProcessHandle.current().pid())
    tmp.mkdirs()
    write(tmp)
    new java.io.File(tmp, "_SUCCESS").createNewFile()
    try {
      java.nio.file.Files.move(tmp.toPath, dir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.AccessDeniedException |
           _: java.nio.file.FileSystemException =>
        // another process published first — its content is identical
        // (deterministic values); drop ours
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(tmp)
    }
  }
}
