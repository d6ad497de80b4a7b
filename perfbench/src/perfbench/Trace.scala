package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark-side counters attributed to one span. */
final class Counters {
  var jobs, stages, taskMs, rowsRead, shuffleBytes, spillBytes,
      peakExecMem = 0L
  /** (start, end) epoch ms of every job, to measure in-job wall time. */
  val jobWindows = mutable.ArrayBuffer[(Long, Long)]()

  /** Wall ms covered by at least one running job (overlaps counted once). */
  def inJobMs: Long = {
    var covered, reach = 0L
    jobWindows.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }
}

/** One traced call: name, start, end, parent span (0 for none) and the
  * reconciliation it belongs to. Times are `System.nanoTime` values. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Wraps each layer call of one reconciliation. */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
}

/** Records spans in memory and attributes every Spark job started inside
  * a span to it, through a thread-local job property that the listener
  * reads back. One instance per traced reconciliation; [[finish]] drains
  * the event bus and detaches the listener. */
final class SpanTracer(sc: SparkContext, runId: String, firstId: Int)
    extends Tracer {
  import SpanTracer.Prop

  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.Map[Int, Counters]()
  private var current = 0
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobs = mutable.Map[Int, (Int, Long)]() // job -> (span, start ms)

  private def of(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .foreach { s =>
          val id = s.toInt
          e.stageIds.foreach(stageSpan(_) = id)
          jobs(e.jobId) = (id, e.time)
          of(id).jobs += 1
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { case (id, start) =>
        of(id).jobWindows += ((start, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = of(id)
        c.taskMs += m.executorRunTime
        c.rowsRead += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = Span(firstId + spans.length, name, current, runId, System.nanoTime)
    spans += s
    val prev = current
    current = s.id
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime
      current = prev
      sc.setLocalProperty(Prop, if (prev == 0) null else prev.toString)
    }
  }

  /** Wait for every event of the traced calls, then stop listening. */
  def finish(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }
}

object SpanTracer {
  val Prop = "perfbench.span"
}
