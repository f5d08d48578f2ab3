package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a pass: a query, a job call or a stream drain. */
final case class Op(name: String, phase: String, startMs: Long, wall: Double, var ok: Boolean, var error: String)

/** State of one workload run: the session, the tracer, the operations
  * attempted, the metrics measured and the outputs handed to the
  * out-of-process checks. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val dataDir: String, val workDir: String,
                val small: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** outputs the Python side checks against the DuckDB oracle or the
    * recorded reference digests. */
  val outputs = mutable.LinkedHashMap.empty[String, Any]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def dir(name: String): String = {
    val f = new java.io.File(workDir, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Times `body` as one operation. A throw marks it failed; its wall is
    * kept only for the pass total, never reported as an op time. */
  def op[A](name: String, phase: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    try {
      val (a, wall) = tracer.span(name, phase, name)(body)
      ops += Op(name, phase, startMs, wall, ok = true, error = null)
      Some(a)
    } catch {
      case e: Throwable =>
        ops += Op(name, phase, startMs, (System.nanoTime() - t0) / 1e9, ok = false,
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** keys of the output checks that ran */
  val checksRun = mutable.LinkedHashSet.empty[String]

  /** Marks operation `opName` failed when output check `key` does not hold. */
  def check(opName: String, key: String, ok: => Boolean, what: => String): Unit = {
    checksRun += key
    val good = try ok catch {
      case e: Throwable => System.err.println(s"[perfbench] check $key threw: $e"); false
    }
    if (!good) {
      System.err.println(s"[perfbench] check $key failed for $opName: $what")
      ops.filter(_.name == opName).foreach { o =>
        o.ok = false
        if (o.error == null) o.error = s"check: $what"
      }
    }
  }

  def okWalls(phase: String): Seq[Double] = ops.filter(o => o.phase == phase && o.ok).map(_.wall).toSeq
}

trait Workload {
  /** Writes this run's inputs under `dir` from the seed. Timed into setup_s. */
  def generate(run: Run, dir: String): Unit
  /** One pass over the workload's operations; `phase` is "cold" or "warm",
    * `tag` names the pass in op names and directories. Returns its wall. */
  def pass(run: Run, inputDir: String, phase: String, tag: String): Double

  /** Kernel-tier metrics of the layers this workload exercises. */
  def kernels(run: Run): Unit

  /** The timed window: one cold pass (fresh JVM, empty caches and lakes),
    * then [[Workload.WarmPasses]] warm passes; a pass that would start after
    * `run.seconds` is skipped, so a slow host cannot run away. */
  def measure(run: Run, inputDir: String): Unit = {
    val t0 = System.nanoTime()
    val cold = pass(run, inputDir, "cold", "cold")
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < Workload.WarmPasses && (warm.isEmpty || (System.nanoTime() - t0) / 1e9 < run.seconds))
      warm += pass(run, inputDir, "warm", s"warm${warm.size + 1}")
    run.metrics("cold_s") = cold
    run.metrics("warm_s") = Main.median(warm.toSeq)
    run.info("op_warm_p50_s") = Main.median(run.okWalls("warm"))
    run.info("warm_passes") = warm.size
    run.info("warm_pass_s") = warm.toSeq
  }

  /** median wall of op `name` over the warm passes (0 when every one failed) */
  def warmWall(run: Run, name: String): Double = {
    val ws = (1 to run.info("warm_passes").asInstanceOf[Int]).flatMap(i => run.ops.find(o => o.name == s"warm$i/$name" && o.ok).map(_.wall))
    if (ws.isEmpty) 0.0 else Main.median(ws)
  }
  /** Output checks, outside the timed window. */
  def check(run: Run, inputDir: String): Unit
  /** Per-layer metrics only a traced run collects. */
  def traced(run: Run, inputDir: String, listener: PhaseListener): Unit = ()
}

object Workload {
  /** a fixed count, so every run of a workload has the same estimator */
  val WarmPasses = 2
}

object Main {
  val Cores = 4
  val SetupReps = 3

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = kv("workload") match {
      case "catalog" => Catalog
      case "spatial" => Spatial
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val traceOn = kv("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.sql.GraftSession.builder(s"local[$Cores]", Cores * 2)
      .config("spark.local.dir", kv("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.spark.sql.GraftRegistrar.ensure(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer(traceOn)
    tracer.attach(spark.sparkContext)
    val listener = new PhaseListener(tracer)
    if (traceOn) spark.sparkContext.addSparkListener(listener)
    val run = new Run(spark, tracer, kv("seed").toLong, kv("seconds").toDouble,
      kv("data"), kv("work"), kv.get("small").contains("1"))

    val (_, totalWall) = tracer.span(s"workload.${kv("workload")}") {
      // several set-ups, median reported: one sample of a fresh JVM's
      // first Spark jobs is too noisy to gate on
      val gens = (0 until SetupReps).map { i =>
        val d = run.dir(s"input$i")
        tracer.span("setup.generate", "setup")(workload.generate(run, d))._2
      }
      (1 until SetupReps).foreach(i => Files.rm(new java.io.File(run.workDir, s"input$i")))
      run.metrics("setup_s") = sessionS + median(gens)
      run.info("setup_session_s") = sessionS
      run.info("setup_generate_s") = gens

      run.info("weather_before_rows_per_s") = Kernels.weather()
      val heap = new HeapSampler
      heap.start()
      val input = new java.io.File(run.workDir, "input0").getAbsolutePath
      workload.measure(run, input)
      heap.finish()
      run.metrics("peak_heap_mb") = heap.peakBytes / (1024.0 * 1024.0)
      run.info("weather_after_rows_per_s") = Kernels.weather()

      tracer.span("checks", "checks")(workload.check(run, input))
      if (traceOn) {
        // tracing overhead, A-B-A so the JVM's warm-up drift cancels: the
        // last (traced) warm pass, an untraced pass, one more traced pass
        val a1 = run.info("warm_pass_s").asInstanceOf[Seq[Double]].last
        tracer.enabled = false
        spark.sparkContext.removeSparkListener(listener)
        val b = workload.pass(run, input, "overhead", "untraced")
        tracer.enabled = true
        spark.sparkContext.addSparkListener(listener)
        val a2 = workload.pass(run, input, "overhead", "traced")
        run.metrics("trace.overhead_share") = (a1 + a2) / 2 / b - 1
        tracer.span("kernels", "kernels")(workload.kernels(run))
        workload.traced(run, input, listener)
      }
    }
    if (traceOn) {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      Engine.metrics(run, listener)
    }
    run.info("workload_wall_s") = totalWall
    run.info("nproc") = Runtime.getRuntime.availableProcessors()
    run.info("xmx_mb") = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    run.info("jdk") = System.getProperty("java.version")
    run.info("spark") = spark.version
    run.info("seed") = run.seed
    run.info("leaked_rdds") = org.apache.spark.graft.BenchProbes.persistedRddCount(spark.sparkContext)

    val result = mutable.LinkedHashMap[String, Any](
      "ops" -> run.ops.map(o => mutable.LinkedHashMap[String, Any](
        "name" -> o.name, "phase" -> o.phase, "wall" -> o.wall, "ok" -> o.ok, "error" -> o.error)),
      "metrics" -> run.metrics,
      "outputs" -> run.outputs,
      "checks" -> run.checksRun,
      "info" -> run.info,
      "spans" -> tracer.all.map(s => Seq(s.id, s.parent, s.name, s.startUs, s.endUs)))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(kv("out")), result)
    spark.stop()
  }
}

/** Highest heap in use after a collection (the live set plus what the
  * collector kept), over every GC between `start` and `finish`. The peak
  * before a collection tracks the collector's sizing heuristics rather
  * than the program's data, and repeats far worse from run to run. */
final class HeapSampler {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._
  @volatile var peakBytes = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        synchronized { peakBytes = math.max(peakBytes, after) }
      }
  }
  def start(): Unit = beans.foreach(_.addNotificationListener(listener, null, null))
  def finish(): Unit = {
    System.gc() // the live set at the end of the window counts too
    Thread.sleep(200)
    beans.foreach(_.removeNotificationListener(listener))
  }
}

object Files {
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def bytesUnder(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def filesUnder(f: java.io.File, pred: java.io.File => Boolean): Seq[java.io.File] =
    if (!f.exists()) Nil
    else if (f.isFile) (if (pred(f)) Seq(f) else Nil)
    else Option(f.listFiles()).map(_.toSeq.sortBy(_.getName).flatMap(filesUnder(_, pred))).getOrElse(Nil)
}
