package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed interval at a layer boundary, the span that caused
  * it, and the operation it belongs to. Times are ms since the run's
  * origin. */
final case class Span(id: Int, name: String, kind: String, start: Double,
  end: Double, parent: Int, op: Int)

/** Per-operation engine counters, filled by [[EngineListener]] from the
  * jobs the operation's driver thread submitted. */
final class OpCounters {
  var jobs = 0; var stages = 0; var tasks = 0
  var jobMs = 0.0; var delayMs = 0.0; var taskMs = 0.0; var gcMs = 0.0
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0.0
  var spill = 0L; var scanBytes = 0L; var scanRows = 0L
  /** (start, end) of each job, ms since the run's origin. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Spans kept in memory and written when the run ends. Disabled, it
  * records nothing and costs one branch per boundary. */
final class Tracer(val origin: Long) {
  @volatile var enabled = false
  /** Called with (operation id, span id) whenever the innermost open
    * span changes, so engine jobs can be tagged with it. */
  var onEnter: (Int, Int) => Unit = null
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var opId = 0

  def now: Double = (System.nanoTime() - origin) / 1e6

  /** Run `body` inside a span of `kind`; `newOp` starts a new operation
    * id (one public call), otherwise the enclosing one is kept. */
  def span[T](name: String, kind: String, newOp: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      if (newOp) opId += 1
      val op = opId
      stack.push(id)
      if (onEnter != null) onEnter(op, id)
      val t0 = now
      try body
      finally {
        val t1 = now
        stack.pop()
        if (onEnter != null) onEnter(op, parent)
        spans.synchronized(spans += Span(id, name, kind, t0, t1, parent, op))
      }
    }

  def currentOp: Int = opId

  def addJobSpans(jobs: Seq[(Int, Double, Double, Int)]): Unit = spans.synchronized {
    jobs.foreach { case (parent, s, e, op) =>
      spans += Span(nextId, "job", "job", s, e, parent, op); nextId += 1
    }
  }

  /** Self time per span kind: duration minus the union of its children's
    * intervals. Returns kind -> (total self ms, span count). */
  def selfTimes: Map[String, (Double, Int)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (k, ss) =>
      k -> (ss.map(s => s.end - s.start - Tracer.covered(
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq, s.start, s.end)).sum, ss.size)
    }
  }

  def toJson: String = spans.sortBy(_.id).map { s =>
    f"""{"id":${s.id},"name":"${s.name}","kind":"${s.kind}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"parent":${s.parent},"op":${s.op}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Length of the part of [lo, hi] covered by the union of `ivs`. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN) { curS = s; curE = e }
        else if (s <= curE) curE = math.max(curE, e)
        else { total += curE - curS; curS = s; curE = e }
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Engine-layer counters per operation. The harness tags every job with
  * the local property [[EngineListener.OpKey]] (the operation id and the
  * span that was open when the job started); job, stage and task events
  * are folded into that operation's [[OpCounters]]. */
final class EngineListener(origin: Long) extends SparkListener {
  import EngineListener._
  val ops = new java.util.concurrent.ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int, Double)]()
  /** Job spans completed since the last drain: (parent span, start, end, op). */
  val finishedJobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Double, Int)]()

  /** Epoch ms of the run's origin, to put listener times (epoch ms) on
    * the spans' clock. */
  private val originEpochMs =
    System.currentTimeMillis() - (System.nanoTime() - origin) / 1e6
  private def ms(epochMs: Long): Double = epochMs - originEpochMs

  def idle: Boolean = jobInfo.isEmpty

  private def counters(op: Int): OpCounters = ops.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
    tag.foreach { t =>
      val Array(op, span) = t.split(":").map(_.toInt)
      jobInfo.put(e.jobId, (op, span, ms(e.time)))
      val c = counters(op)
      c.synchronized { c.jobs += 1; c.stages += e.stageInfos.size }
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (op, span, t0) =>
      val t1 = ms(e.time)
      val c = counters(op)
      c.synchronized { c.jobMs += t1 - t0; c.jobIntervals += ((t0, t1)) }
      finishedJobs.add((span, t0, t1, op))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val c = counters(op)
      val m = e.taskMetrics
      val i = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.delayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.scanBytes += m.inputMetrics.bytesRead
          c.scanRows += m.inputMetrics.recordsRead
        }
      }
    }
}

object EngineListener {
  val OpKey = "perfbench.op"

  /** Tag the jobs the calling thread submits from now on. */
  def tag(sc: SparkContext, op: Int, span: Int): Unit =
    sc.setLocalProperty(OpKey, s"$op:$span")
}
