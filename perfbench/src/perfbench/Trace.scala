package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval. `op` is shared by every span of one operation. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
}

/** Spark counters accumulated per job group, plus engine totals. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  def add(m: org.apache.spark.executor.TaskMetrics, durMs: Long): Unit = {
    tasks += 1; taskMs += durMs
    if (m != null) {
      cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** Attributes jobs, tasks, CPU, GC and shuffle bytes to the job group the
  * benchmark set around each call, and sums graft.xml's named
  * parsed/dropped accumulators from task updates. (Spill is not collected:
  * it is always 0 at the benchmark's input sizes.)
  */
final class GroupListener extends SparkListener {
  val byGroup = mutable.Map.empty[String, Counters]
  val total = new Counters
  var xmlParsed = 0L
  var xmlDropped = 0L
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup(s) = g)
    val c = group(g)
    c.jobs += 1
    total.jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val dur = e.taskInfo.duration
    group(g).add(e.taskMetrics, dur)
    total.add(e.taskMetrics, dur)
    e.taskInfo.accumulables.foreach { a =>
      (a.name, a.update) match {
        case (Some("graft.xml: records parsed"), Some(v: java.lang.Long)) => xmlParsed += v
        case (Some("graft.xml: malformed records dropped"), Some(v: java.lang.Long)) =>
          xmlDropped += v
        case _ =>
      }
    }
  }
}

/** Span recorder. Disabled, it only runs the body: the untraced run pays no
  * bookkeeping. Enabled, it keeps spans in memory and sets the Spark job
  * group to the innermost span so [[GroupListener]] can attribute work.
  */
final class Tracer(sc: => SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextOp = 0

  /** A root span for one closed-loop operation; its layer spans share its id. */
  def op[T](name: String)(body: => T): T = {
    nextOp += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.length, name, parent.map(_.id).getOrElse(-1), nextOp,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Self time of every span: its duration minus the part its children
    * cover (children of one thread never overlap).
    */
  def selfSeconds: Map[Int, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.map(s => s.id -> (s.end - s.start - childNs(s.id)) / 1e9).toMap
  }
}
