package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. Times are epoch microseconds so benchmark spans
  * and Spark listener spans (epoch milliseconds) share one clock. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** In-memory span recorder for one workload run. Spans nest
  * workload → phase → call; the innermost open span of the calling thread
  * is the parent of the next one. When tracing is off nothing is recorded
  * and no Spark local properties are set, so the untraced run pays only a
  * clock read per call. */
final class Tracer(@volatile var enabled: Boolean) {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var sc: SparkContext = _

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Tag Spark jobs started from this thread with the open span, so the
    * listener can parent job and stage spans and bucket their counters. */
  def attach(context: SparkContext): Unit = sc = context

  def current: Long = open.get.headOption.getOrElse(0L)

  /** Runs `body` inside span `name`; returns its result and wall seconds.
    * `phase` and `op`, when given, label the Spark jobs started inside. */
  def span[A](name: String, phase: String = null, op: String = null)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val a = body
      return (a, (System.nanoTime() - t0) / 1e9)
    }
    val id = ids.incrementAndGet()
    val parent = current
    val s0 = nowUs
    open.set(id :: open.get)
    val saved = Option(sc).map(c =>
      (c.getLocalProperty(Tracer.SpanKey), c.getLocalProperty(Tracer.PhaseKey),
        c.getLocalProperty(Tracer.OpKey)))
    Option(sc).foreach { c =>
      c.setLocalProperty(Tracer.SpanKey, id.toString)
      if (phase != null) c.setLocalProperty(Tracer.PhaseKey, phase)
      if (op != null) c.setLocalProperty(Tracer.OpKey, op)
    }
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      open.set(open.get.tail)
      for (c <- Option(sc); (s, p, o) <- saved) {
        c.setLocalProperty(Tracer.SpanKey, s)
        c.setLocalProperty(Tracer.PhaseKey, p)
        c.setLocalProperty(Tracer.OpKey, o)
      }
      spans.add(Span(id, parent, name, s0, nowUs))
    }
  }

  /** Records a span measured elsewhere (the Spark listener's jobs and stages). */
  def record(parent: Long, name: String, startUs: Long, endUs: Long): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, name, startUs, endUs))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))
}

object Tracer {
  val SpanKey = "graftbench.span"
  val PhaseKey = "graftbench.phase"
  val OpKey = "graftbench.op"
}

/** Spark engine counters per phase (and per op, for per-query job counts),
  * taken from the listener bus. Registered only in traced runs. */
final class PhaseListener(tracer: Tracer) extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var busyMs = 0L; var waitMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L
  }
  val byPhase = mutable.Map.empty[String, Acc]
  val jobsByOp = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val jobInfo = mutable.Map.empty[Int, (Long, Long)] // parent span, start ms
  private val stagePhase = mutable.Map.empty[Int, (String, Long)]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  /** (phase, stage) → task durations, for the skew ratio of the largest stage. */
  val taskMs = mutable.Map.empty[(String, Int), mutable.ArrayBuffer[Long]]

  private def acc(p: String) = byPhase.getOrElseUpdate(p, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val phase = props.flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).getOrElse("other")
    val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).foreach(o => jobsByOp(o) += 1)
    acc(phase).jobs += 1
    jobInfo(e.jobId) = (parent, e.time)
    e.stageIds.foreach(s => stagePhase(s) = (phase, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (parent, t0) =>
      tracer.record(parent, "spark.job", t0 * 1000L, e.time * 1000L)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val (phase, parent) = stagePhase.getOrElse(info.stageId, ("other", 0L))
    acc(phase).stages += 1
    for (t0 <- info.submissionTime; t1 <- info.completionTime)
      tracer.record(parent, "spark.stage", t0 * 1000L, t1 * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (phase, _) = stagePhase.getOrElse(e.stageId, ("other", 0L))
    val a = acc(phase)
    a.tasks += 1
    val info = e.taskInfo
    stageSubmitMs.get(e.stageId).foreach(s => a.waitMs += math.max(0L, info.launchTime - s))
    taskMs.getOrElseUpdate((phase, e.stageId), mutable.ArrayBuffer.empty) += info.duration
    Option(e.taskMetrics).foreach { m =>
      a.busyMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** max ÷ median task time of the stage with the most task time. */
  def maxOverMedian: Double = synchronized {
    if (taskMs.isEmpty) 0.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2)
      if (med <= 0) ts.last.toDouble else ts.last.toDouble / med
    }
  }
}
