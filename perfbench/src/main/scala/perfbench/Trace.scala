package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; times are nanoseconds since the run's origin.
  * `parallel` spans (worker partitions) run beside the driver timeline and
  * never own Spark jobs.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, end: Long, parallel: Boolean = false) {
  def dur: Long = end - start
}

/** Spark counters of one span. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, shuffleRead, shuffleWrite, spill, resultBytes, inputBytes, planMs = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; resultBytes += o.resultBytes; inputBytes += o.inputBytes
    planMs += o.planMs
  }
}

/** Spans kept in memory for one run, all sharing `runId`, plus the Spark
  * and planning events that a SparkListener and a QueryExecutionListener
  * see while the tracer is attached. Events are attributed to the innermost
  * driver span open at their start time; the client is a single closed loop,
  * so driver spans never overlap except by nesting.
  */
final class Tracer(val enabled: Boolean) {
  /** Spans are recorded only while on; the untraced segment turns it off. */
  @volatile var on: Boolean = enabled
  val runId: String = java.util.UUID.randomUUID().toString
  val originNs: Long = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now: Long = System.nanoTime() - originNs
  def fromNanoTime(t: Long): Long = t - originNs
  private def fromMs(ms: Long): Long = (ms - originMs) * 1000000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, String, Long)] = Nil
  private var nextId = 0

  def current: Int = stack.headOption.map(_._1).getOrElse(-1)

  def open(layer: String, name: String): Unit = if (on) {
    stack ::= ((nextId, layer, name, now)); nextId += 1
  }

  def close(): Unit = if (on) {
    val (id, layer, name, start) = stack.head
    stack = stack.tail
    spans += Span(id, current, layer, name, start, now)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else { open(layer, name); try body finally close() }

  /** A span measured elsewhere (worker partitions, stage builds). */
  def add(parent: Int, layer: String, name: String, start: Long, end: Long,
      parallel: Boolean = false): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, layer, name, start, end, parallel)
    id
  }

  def all: Seq[Span] = spans.toSeq

  /** The innermost driver span open at `t`, or -1. */
  def innermost(t: Long): Int =
    spans.filter(s => !s.parallel && s.start <= t && s.end >= t)
      .sortBy(s => (s.start, s.id)).lastOption.map(_.id).getOrElse(-1)

  // ---- Spark events -------------------------------------------------------
  // Stage ids restart with every SparkContext, so events carry the number of
  // the context they came from (set-up rebuilds the session).
  private final case class Job(start: Long, stages: Seq[(Int, Int)])
  private final case class Task(stage: (Int, Int), ok: Boolean, runMs: Long, shRead: Long,
      shWrite: Long, spill: Long, result: Long, input: Long)
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stagesDone = mutable.ArrayBuffer.empty[(Int, Int)]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (start, planning ms)

  private final class Listener(ctx: Int) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Job(fromMs(e.time), e.stageInfos.map(i => (ctx, i.stageId)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stagesDone += ((ctx, e.stageInfo.stageId)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      tasks += (if (m == null) Task((ctx, e.stageId), ok = false, 0, 0, 0, 0, 0, 0)
        else Task((ctx, e.stageId), e.reason == Success, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize, m.inputMetrics.bytesRead))
    }
  }
  private var contexts = 0
  private var lastContext: org.apache.spark.SparkContext = _
  private var sparkListener: Listener = _

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans += ((fromMs(ph.map(_.startTimeMs).min), ph.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    if (!(spark.sparkContext eq lastContext)) {
      contexts += 1
      lastContext = spark.sparkContext
      sparkListener = new Listener(contexts)
    }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Counters attributed to each span, own events only (not children's). */
  def ownCounters(): Map[Int, Counters] = synchronized {
    val driver = spans.filterNot(_.parallel).sortBy(s => (s.start, s.id)).toArray
    def owner(t: Long): Int = {
      var best = -1
      var i = 0
      while (i < driver.length && driver(i).start <= t) {
        if (driver(i).end >= t) best = driver(i).id
        i += 1
      }
      best
    }
    val out = mutable.Map.empty[Int, Counters]
    def at(id: Int) = out.getOrElseUpdate(id, new Counters)
    val stageJob = mutable.Map.empty[(Int, Int), Int]
    jobs.foreach { j =>
      val s = owner(j.start)
      at(s).jobs += 1
      j.stages.foreach(st => stageJob.getOrElseUpdate(st, s))
    }
    stagesDone.foreach(st => stageJob.get(st).foreach(s => at(s).stages += 1))
    tasks.foreach { t =>
      stageJob.get(t.stage).foreach { s =>
        val c = at(s)
        c.tasks += 1
        if (!t.ok) c.failedTasks += 1
        c.runMs += t.runMs; c.shuffleRead += t.shRead; c.shuffleWrite += t.shWrite
        c.spill += t.spill; c.resultBytes += t.result; c.inputBytes += t.input
      }
    }
    plans.foreach { case (t, ms) => at(owner(t)).planMs += ms }
    out.toMap
  }

  /** Own counters plus those of every descendant span. */
  def inclusiveCounters(): Map[Int, Counters] = {
    val own = ownCounters()
    val kids = spans.groupBy(_.parent)
    val memo = mutable.Map.empty[Int, Counters]
    def incl(id: Int): Counters = memo.getOrElseUpdate(id, {
      val c = new Counters
      own.get(id).foreach(c.add)
      kids.getOrElse(id, Nil).foreach(k => c.add(incl(k.id)))
      c
    })
    (spans.map(_.id) :+ -1).map(id => id -> incl(id)).toMap
  }

  /** Span duration minus the part of it that child spans cover. */
  def selfTimes(): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var hi = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > hi) { covered += b - a; hi = b }
        else if (b > hi) { covered += b - hi; hi = b }
      }
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** JVM-wide counters read from the management beans. */
object Jvm {
  import scala.jdk.CollectionConverters._
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  /** Peak resident set size (VmHWM) of this process, MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
