package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One `StreamingQueryProgress` as the harness keeps it: the batch, the
  * wall-clock time its event reached the listener, and the fields the
  * metrics read. */
final case class Progress(
    batchId: Long, arrivalMs: Long, triggerStartMs: Long, inputRows: Long,
    durationMs: Map[String, Long], stateCommitMs: Long, stateRows: Long,
    stateMemoryBytes: Long)

/** Collects every progress event of the queries it is attached to. Its
  * arrival time is when a frame's row counts as committed. */
final class ProgressLog(trace: Trace) extends StreamingQueryListener {
  private val events = mutable.ArrayBuffer.empty[Progress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val arrival = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val p = e.progress
    val ops = Option(p.stateOperators).getOrElse(Array.empty)
    val d = p.durationMs
    val durations = d.keySet().toArray.map(_.toString).map(k => k -> d.get(k).longValue()).toMap
    val rec = Progress(p.batchId, arrival,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, durations,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    synchronized { events += rec }
    trace.count("progress.batches", 1)
    trace.count("progress.input_rows", p.numInputRows)
    trace.listenerNs.addAndGet(System.nanoTime() - t0)
  }

  def snapshot: Seq[Progress] = synchronized(events.toList)
  def clear(): Unit = synchronized(events.clear())
  def committedRows: Long = synchronized(events.map(_.inputRows).sum)
}

/** Per-job-group task totals from a SparkListener: busy time, shuffle and
  * spill bytes, task and job counts, the slowest task. A job without a
  * group (one submitted from a pool thread, or by a streaming query) is
  * charged to `label`, the step the harness is running when it starts. */
final class TaskTally(trace: Trace) extends SparkListener {
  @volatile var label: String = ""
  final class Totals {
    var jobs = 0L; var tasks = 0L; var busyMs = 0L; var maxTaskMs = 0L
    var maxReduceTaskMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, Totals]

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(f)
    trace.listenerNs.addAndGet(System.nanoTime() - t0): Unit
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(label)
    e.stageIds.foreach(stageGroup(_) = g)
    totals.getOrElseUpdate(g, new Totals).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val g = stageGroup.getOrElse(e.stageId, "")
    val t = totals.getOrElseUpdate(g, new Totals)
    val m = e.taskMetrics
    t.tasks += 1
    trace.count(s"tasks.$g", 1)
    t.maxTaskMs = math.max(t.maxTaskMs, e.taskInfo.duration)
    if (m != null) {
      t.busyMs += m.executorRunTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (m.shuffleReadMetrics.totalBytesRead > 0)
        t.maxReduceTaskMs = math.max(t.maxReduceTaskMs, e.taskInfo.duration)
    }
  }

  def get(group: String): Totals = synchronized(totals.getOrElse(group, new Totals))
}
