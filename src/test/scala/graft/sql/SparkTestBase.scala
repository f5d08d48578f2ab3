package graft.sql

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for SQL-layer suites. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = { /* shared session stays up for the run */ }

  /** Full physical-plan walk: `collect()` does not cross AQE query-stage
    * or reused-exchange boundaries — cross them explicitly so plan asserts
    * can reach scan nodes inside adaptive stages. */
  protected def allPlanNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(allPlanNodes)
  }

  /** `body` evaluated with the session confs `kvs` set, each restored
    * afterwards. */
  protected def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body` evaluated with `spark.sql.codegen.factoryMode` and
    * `spark.sql.codegen.wholeStage` set, both restored afterwards — run a
    * check once compiled (`CODEGEN_ONLY`, whole-stage) and once interpreted
    * (`NO_CODEGEN`, no whole-stage). */
  protected def withCodegen[A](factoryMode: String, wholeStage: Boolean)(body: => A): A =
    withConf("spark.sql.codegen.factoryMode" -> factoryMode,
      "spark.sql.codegen.wholeStage" -> wholeStage.toString)(body)

  /** `body`'s result with the jobs it started and the input bytes its tasks
    * read. The listener bus is asynchronous, so a marker job runs after
    * `body` and is awaited: events arrive in order, so once the marker's
    * end is seen every event of `body` has been counted. */
  protected def withJobStats[A](body: => A): (A, SparkTestBase.JobStats) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val marker = "graft.test.marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0)
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(marker) != null)) markerJob.set(j.jobId)
        else { jobs.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) { bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead); () }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == markerJob.get) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not drained")
      (out, SparkTestBase.JobStats(jobs.get, bytesRead.get))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  final case class JobStats(jobs: Int, bytesRead: Long)

  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = GraftSession.builder("local[4]", shufflePartitions = 4)
      .config("spark.sql.warehouse.dir", wh)
      // this host has heavy co-tenant CPU steal (CLAUDE.md): a multi-second
      // scheduler stall can starve the in-process heartbeater until the
      // executor self-exits with code 56 and kills the whole forked suite.
      // Long intervals + high failure tolerance make the 25-minute
      // single-JVM run immune to stall bursts (observed: one such abort).
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeat.maxFailures", "240")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
