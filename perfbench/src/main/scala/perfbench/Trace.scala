package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Engine counters of one span (or of the whole run). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var cpuNs = 0L
  /** Summed task durations, launch to finish: the time cores were busy. */
  var taskMs = 0L

  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; cpuNs += o.cpuNs; taskMs += o.taskMs
    this
  }

  def minus(o: Work): Work = {
    val w = new Work().add(this)
    w.jobs -= o.jobs; w.stages -= o.stages; w.tasks -= o.tasks
    w.shuffleWriteBytes -= o.shuffleWriteBytes; w.shuffleReadBytes -= o.shuffleReadBytes
    w.spillBytes -= o.spillBytes; w.gcMs -= o.gcMs; w.cpuNs -= o.cpuNs; w.taskMs -= o.taskMs
    w
  }
}

/** Counts jobs, stages, tasks and task metrics, in total and per span.
  *
  * A job belongs to the span named by the `perfbench.span` local property
  * it was submitted under (local properties travel with the job, so the
  * attribution does not depend on when the listener sees the event, and
  * they are inherited by the threads a call starts); its stages and tasks
  * belong to the same span.
  */
final class Counters extends SparkListener {
  private val total = new Work
  private val bySpan = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def spanWork(span: Int): Option[Work] =
    if (span < 0) None else Some(bySpan.getOrElseUpdate(span, new Work))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    total.jobs += 1
    spanWork(span).foreach(_.jobs += 1)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    spanWork(stageSpan.getOrElse(e.stageInfo.stageId, -1)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val targets = Seq(total) ++ spanWork(stageSpan.getOrElse(e.stageId, -1))
    val m = e.taskMetrics
    targets.foreach { w =>
      w.tasks += 1
      w.taskMs += e.taskInfo.duration
      if (m != null) {
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.spillBytes += m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
        w.cpuNs += m.executorCpuTime
      }
    }
  }

  /** Totals so far; call [[settle]] first. */
  def snapshot(): Work = synchronized(new Work().add(total))

  def ofSpan(id: Int): Work = synchronized(new Work().add(bySpan.getOrElse(id, new Work)))

  def settle(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

object Tracer {
  /** Records nothing. */
  val Off = new Tracer(null, on = false)
  /** Span ids are unique across tracers, since [[Counters]] keys on them. */
  private val ids = new java.util.concurrent.atomic.AtomicInteger
}

object Counters {
  val SpanKey = "perfbench.span"
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls into the program's layers, in memory.
  *
  * Off, [[span]] only runs its body. On, it also sets the span id as a
  * local property so [[Counters]] can give the engine work to the span.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = Tracer.ids.getAndIncrement()
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setLocalProperty(Counters.SpanKey, id.toString)
      try body
      finally {
        val (_, _, start) = stack.head
        done += Span(id, parent, name, start, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Counters.SpanKey, stack.headOption.map(_._1.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Spans whose parent is `id`, in start order. */
  def children(id: Int): Seq[Span] = done.filter(_.parent == id).sortBy(_.startNs).toSeq

  /** The span and everything below it. */
  def subtree(id: Int): Seq[Int] = id +: children(id).flatMap(c => subtree(c.id))

  /** The most recent finished span of this name. */
  def last(name: String): Span = done.filter(_.name == name).maxBy(_.endNs)

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq
}
