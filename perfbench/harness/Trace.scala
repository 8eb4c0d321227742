package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval in epoch milliseconds (fractional: operation bounds
  * come from nanoTime offsets, Spark's events from currentTimeMillis).
  */
final case class Span(start: Double, end: Double) {
  def ms: Double = math.max(0.0, end - start)
  def clip(p: Span): Span =
    Span(math.min(math.max(start, p.start), p.end), math.max(math.min(end, p.end), p.start))
}

object Span {
  /** Length of the union of `xs`, each first clipped to `within`. */
  def unionMs(xs: Seq[Span], within: Span): Double = {
    val s = xs.map(_.clip(within)).filter(_.ms > 0).sortBy(_.start)
    var total = 0.0
    var cur: Option[Span] = None
    s.foreach { x =>
      cur match {
        case Some(c) if x.start <= c.end => cur = Some(Span(c.start, math.max(c.end, x.end)))
        case Some(c) => total += c.ms; cur = Some(x)
        case None => cur = Some(x)
      }
    }
    total + cur.map(_.ms).getOrElse(0.0)
  }
}

/** Everything Spark reported between two drains of the listener bus. With
  * one client issuing one operation at a time, that is one operation.
  */
final class OpEvents {
  val jobs = mutable.Map.empty[Int, (Double, Double)]
  var stages, tasks, aqeReplans = 0L
  var taskMs, cpuMs, gcMs, inputBytes, inputRecords = 0L
  var shuffleWriteBytes, shuffleRecords, spillBytes = 0L
  var materializedBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var codegenCompiles, codegenNs = 0L
  val batches = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
}

/** Listeners attached only in traced passes: Spark's scheduler events, the
  * block manager's updates, each action's QueryExecution (Catalyst phase
  * times) and each micro-batch's progress report. Events accumulate into
  * `current`; the harness drains the bus after every operation and takes
  * the buffer.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile private var cur = new OpEvents
  def take(): OpEvents = synchronized { val c = cur; cur = new OpEvents; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs(e.jobId) = (e.time.toDouble, Double.NaN)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur.jobs.get(e.jobId).foreach { case (s, _) => cur.jobs(e.jobId) = (s, e.time.toDouble) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      cur.taskMs += m.executorRunTime
      cur.cpuMs += m.executorCpuTime / 1000000L
      cur.gcMs += m.jvmGCTime
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.inputRecords += m.inputMetrics.recordsRead
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid) cur.materializedBytes += i.memSize + i.diskSize
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { cur.aqeReplans += 1 }
    case _ => ()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    cur.analysisMs += ms("analysis")
    cur.optimizationMs += ms("optimization")
    cur.planningMs += ms("planning")
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { cur.batches += e.progress }
  }
}
