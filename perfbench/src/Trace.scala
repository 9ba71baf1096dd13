package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span is (name, start, end,
  * parent, op id); spans of one timed op share its op id. Nothing is written
  * until [[Tracer.spans]] is read at the end of the run. When disabled every
  * call is a plain pass-through, which is what the untraced run uses. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Long, end: Long)

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  private var opId = -1
  private var active = false

  /** Record `body` as a root span named `name` when `traced`; ops that are
    * not traced still run with tracing code paths switched off. */
  def op[T](name: String, traced: Boolean)(body: => T): T =
    if (!enabled || !traced) body
    else {
      opId += 1
      active = true
      try span(name)(body) finally active = false
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setLocalProperty(Tracer.PhaseKey, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done += Span(id, name, parent, opId, t0, t1)
        stack = stack.tail
        sc.setLocalProperty(Tracer.PhaseKey, stack.headOption.map(_._2).orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time per span name: duration minus the time its direct children
    * cover (children of one span run sequentially on the calling thread). */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childNs.getOrElse(s.id, 0L)).sum / 1e9 }
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
}

/** Engine counters for the traced run, attributed through the local
  * properties [[Tracer]] sets: a job belongs to the innermost span that was
  * open when it was submitted, and its stages and tasks follow the job.
  * Jobs submitted outside any traced op are ignored. */
final class Counters extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakExecMem = 0L
  }
  private val byPhase = mutable.Map.empty[String, Acc]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (start ms, end ms) of every attributed job, for the executing-wall union. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def acc(p: String) = byPhase.getOrElseUpdate(p, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val phase = props.flatMap(p => Option(p.getProperty(Tracer.PhaseKey)))
    phase.foreach { p =>
      acc(p).jobs += 1
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stagePhase(_) = p)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagePhase.get(e.stageInfo.stageId).foreach(p => acc(p).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stagePhase.get(e.stageId).foreach { p =>
      val a = acc(p)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def phases: Map[String, Acc] = synchronized(byPhase.toMap)

  /** Wall seconds during which at least one attributed job was running. */
  def execWallSeconds: Double = synchronized {
    val sorted = jobIntervals.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
