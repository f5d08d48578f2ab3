package graftbench

import graft.lake.LakeTable

/** Lake-layer metrics read back from what the jobs committed: bytes, commits
  * and data files under the lake and store directories, and per stage the
  * survivors (`row_count`) and the time since the previous commit
  * (successive manifest `committed_at`; the first stage counts from the
  * start of the job call). */
object Lakes {
  private val CommittedAt = "\"committed_at\"\\s*:\\s*\"([^\"]+)\"".r

  /** `lake.<workload>.*`: the crawl and spatial lakes hold different tables,
    * so their totals carry the workload in the name. */
  def sizes(run: Run, workload: String, dirs: Seq[String]): Unit = {
    val roots = dirs.map(new java.io.File(_))
    run.metrics(s"lake.$workload.bytes_written") = roots.map(Files.bytesUnder).sum.toDouble
    run.metrics(s"lake.$workload.commits") =
      roots.map(r => Files.filesUnder(r, f => f.getName.matches("_manifest_v\\d+\\.json")).size).sum.toDouble
    run.metrics(s"lake.$workload.data_files") =
      roots.map(r => Files.filesUnder(r, _.getName.endsWith(".parquet")).size).sum.toDouble
  }

  def stages(run: Run, lakeRoot: String, stages: Seq[(String, String)], callStartMs: Long): Unit = {
    val lake = new LakeTable(lakeRoot)
    var prev = callStartMs
    stages.foreach { case (stage, short) =>
      val at = lake.manifest(stage).flatMap(m => CommittedAt.findFirstMatchIn(m))
        .map(m => java.time.Instant.parse(m.group(1)).toEpochMilli)
      at.foreach { t =>
        run.metrics(s"lake.$short.s") = (t - prev) / 1000.0
        prev = t
      }
      run.metrics(s"lake.$short.rows") = lake.rowCount(stage).getOrElse(0L).toDouble
    }
  }
}
