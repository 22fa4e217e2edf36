package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are epoch microseconds so spans recorded
  * by the harness and job spans reported by Spark share one clock. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startUs: Long, endUs: Long)

/** In-memory span store. Disabled (the untraced runs) it records
  * nothing; otherwise everything is written once at the end of the run
  * as JSON lines. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L

  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `body` as span `name`; the span id is passed to the body so
    * children can name it as their parent. */
  def span[T](name: String, parent: Long, trace: String)(body: Long => T): T = {
    val id = if (enabled) nextId() else 0L
    val t0 = nowUs()
    try body(id)
    finally add(Span(id, parent, trace, name, t0, nowUs()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeJsonl(path: String): Unit = Util.writeFile(path, all.sortBy(_.startUs)
    .map(s => Util.json(Map("id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace, "name" -> s.name, "start_us" -> s.startUs,
      "end_us" -> s.endUs))).mkString("", "\n", "\n"))

  /** Summed self time per span name, seconds: a span's duration minus
    * the part of it that its children cover. */
  def selfSeconds(): Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = -1L; var curB = -1L
        kids.foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        covered += curB - curA
        (s.endUs - s.startUs - covered) / 1e6
      }.sum
    }
  }
}

/** Counters of the execution layer, summed per trace id. */
final class ExecCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskNs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var resultBytes = 0L; var inputBytes = 0L
  def +=(o: ExecCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskNs += o.taskNs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    resultBytes += o.resultBytes; inputBytes += o.inputBytes
  }
}

object ExecListener {
  val TraceKey = "graftbench.trace"
  val SpanKey = "graftbench.span"
  val PhaseKey = "graftbench.phase"
}

/** SparkListener that turns jobs into child spans of the phase that
  * issued them (read from the local properties the harness sets
  * before each call) and sums task metrics per trace id and phase. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  import ExecListener._
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]()
  private val jobOwner = new ConcurrentHashMap[Int, (String, Long, Long)]()
  private val counters = mutable.Map[(String, String), ExecCounters]()
  private def ctr(k: (String, String)): ExecCounters =
    synchronized(counters.getOrElseUpdate(k, new ExecCounters))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val trace = prop(TraceKey).getOrElse("-")
    val phase = prop(PhaseKey).getOrElse("-")
    val span = prop(SpanKey).map(_.toLong).getOrElse(0L)
    jobOwner.put(e.jobId, (trace, span, e.time))
    e.stageIds.foreach(s => stageOwner.put(s, (trace, phase)))
    synchronized(ctr((trace, phase)).jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOwner.remove(e.jobId)).foreach { case (trace, span, t0) =>
      tracer.add(Span(tracer.nextId(), span, trace, "job", t0 * 1000L,
        math.max(t0, e.time) * 1000L))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val o = Option(stageOwner.get(e.stageInfo.stageId)).getOrElse(("-", "-"))
    synchronized(ctr(o).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val o = Option(stageOwner.get(e.stageId)).getOrElse(("-", "-"))
    synchronized {
      val c = ctr(o)
      c.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultBytes += m.resultSize
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Sum of the counters whose (trace, phase) key passes `keep`. */
  def sum(keep: (String, String) => Boolean): ExecCounters = synchronized {
    val out = new ExecCounters
    counters.foreach { case ((t, p), c) => if (keep(t, p)) out += c }
    out
  }
}

object Tracing {
  /** Attribute the Spark jobs the current thread issues to `trace`. */
  def tag(sc: SparkContext, trace: String, phase: String, span: Long): Unit = {
    sc.setLocalProperty(ExecListener.TraceKey, trace)
    sc.setLocalProperty(ExecListener.PhaseKey, phase)
    sc.setLocalProperty(ExecListener.SpanKey, span.toString)
  }
  def untag(sc: SparkContext): Unit =
    Seq(ExecListener.TraceKey, ExecListener.PhaseKey, ExecListener.SpanKey)
      .foreach(sc.setLocalProperty(_, null))
}
