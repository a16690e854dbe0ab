package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval around a call into a layer. Counters are filled by
  * [[Tracer]]'s listener from the Spark jobs submitted while the span was
  * the innermost one on the submitting thread (or on a thread that thread
  * created, such as the ETL exporter pool). */
final class Span(val id: Int, val name: String, val parent: Int,
    val trace: Int, val startNs: Long) {
  @volatile var endNs: Long = 0L
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskBusyMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakTaskMemBytes = 0L
  /** Job intervals in listener clock (epoch ms). */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val startMs: Long = System.currentTimeMillis()
  @volatile var endMs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the SparkListener that attributes job,
  * task, shuffle, spill and memory counters to spans. Spans are written
  * as JSON lines once the run ends. With `enabled = false` it only runs
  * the bodies, so untraced runs carry no listener. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private var nextId = 0
  private var nextTrace = 0

  private var handlerNs = 0L
  private def timedHandler(body: => Unit): Unit = lock.synchronized {
    val t0 = System.nanoTime()
    body
    handlerNs += System.nanoTime() - t0
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedHandler {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      sid.flatMap(s => byId.get(s.toInt)).foreach { sp =>
        sp.jobs += 1
        jobSpan(e.jobId) = sp
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = sp)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedHandler {
      jobSpan.remove(e.jobId).foreach { sp =>
        sp.jobIntervals += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedHandler {
      stageSpan.get(e.stageId).foreach { sp =>
        sp.tasks += 1
        if (!e.taskInfo.successful) sp.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          sp.taskBusyMs += m.executorRunTime
          sp.gcMs += m.jvmGCTime
          sp.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          sp.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          sp.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          sp.peakTaskMemBytes = math.max(sp.peakTaskMemBytes, m.peakExecutionMemory)
          val overhead = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime + e.taskInfo.gettingResultTime
          sp.schedDelayMs += math.max(0L, e.taskInfo.duration - overhead)
        }
      }
    }
  }
  private object lock

  if (enabled) sc.addSparkListener(listener)

  /** Runs `body` inside a span named `name`, nested under the calling
    * thread's current span. A span with no parent starts a new trace. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parentId = Option(sc.getLocalProperty(Key)).map(_.toInt).getOrElse(-1)
      val sp = lock.synchronized {
        val trace = byId.get(parentId).map(_.trace).getOrElse { nextTrace += 1; nextTrace }
        val s = new Span(nextId, name, parentId, trace, System.nanoTime())
        nextId += 1
        spans += s
        byId(s.id) = s
        s
      }
      sc.setLocalProperty(Key, sp.id.toString)
      try body
      finally {
        sp.endNs = System.nanoTime()
        sp.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Key, if (parentId < 0) null else parentId.toString)
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def settle(): Unit = if (enabled) org.apache.spark.BenchListenerBus.drain(sc)

  /** Seconds the listener spent handling events on Spark's listener
    * thread, which does not block the driver. */
  def handlerSeconds: Double = lock.synchronized(handlerNs / 1e9)

  def all: Seq[Span] = lock.synchronized(spans.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def children(sp: Span): Seq[Span] = all.filter(_.parent == sp.id)

  /** Seconds of the span during which none of its own jobs ran: driver-side
    * planning, collects, file commits and publish copies. */
  def driverGapSeconds(sp: Span): Double =
    math.max(0.0, sp.seconds - unionMs(sp.jobIntervals.toSeq, sp.startMs, sp.endMs) / 1e3)

  /** Span duration minus the part of its interval its children cover. */
  def selfSeconds(sp: Span): Double = {
    val kids = children(sp).map(k => (k.startMs, k.endMs))
    math.max(0.0, sp.seconds - unionMs(kids, sp.startMs, sp.endMs) / 1e3)
  }

  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s0 > curE) {
        if (curE > curS) covered += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def toJsonLines: Seq[String] = all.map { s =>
    f"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}%.6f,""" +
      f""""self_seconds":${selfSeconds(s)}%.6f,"driver_gap_seconds":${driverGapSeconds(s)}%.6f,""" +
      f""""jobs":${s.jobs},"tasks":${s.tasks},"failed_tasks":${s.failedTasks},""" +
      f""""task_busy_ms":${s.taskBusyMs},"sched_delay_ms":${s.schedDelayMs},"gc_ms":${s.gcMs},""" +
      f""""shuffle_read_bytes":${s.shuffleReadBytes},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
      f""""spill_bytes":${s.spillBytes},"peak_task_mem_bytes":${s.peakTaskMemBytes}}"""
  }
}
