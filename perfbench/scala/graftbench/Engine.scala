package graftbench

/** Spark engine metrics per phase from the listener: `spark.<phase>.<m>`
  * for the cold and warm passes and the crawl pipeline, plus the task skew of the
  * largest stage. */
object Engine {
  /** the timed passes, and the crawl pipeline of the catalog's traced run */
  val Phases: Seq[String] = Seq("cold", "warm", "crawl")

  def metrics(run: Run, l: PhaseListener): Unit = l.synchronized {
    val passWall = Map("cold" -> run.metrics("cold_s"),
      "warm" -> run.info("warm_pass_s").asInstanceOf[Seq[Double]].sum)
    Phases.foreach { p =>
      val a = l.byPhase.getOrElse(p, new l.Acc)
      val m = Seq(
        "jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble, "tasks" -> a.tasks.toDouble,
        "task_busy_s" -> a.busyMs / 1000.0, "task_wait_s" -> a.waitMs / 1000.0,
        "shuffle_write_bytes" -> a.shuffleWrite.toDouble, "shuffle_read_bytes" -> a.shuffleRead.toDouble,
        "gc_s" -> a.gcMs / 1000.0)
      m.foreach { case (k, v) => run.metrics(s"spark.$p.$k") = v }
      // share of the passes' core time in which tasks ran (scan, kernels, shuffle)
      passWall.get(p).foreach(w => run.metrics(s"spark.$p.core_share") = a.busyMs / 1000.0 / (Main.Cores * w))
    }
    run.metrics("spark.task_max_over_median") = l.maxOverMedian
  }
}
