package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-batch load reporting — the engine-side replacement for the
  * reference producer's ZooKeeper FPS reports
  * (/root/reference/dvaf/producer/.../VideoEventCreator.java:69-90 writing
  * "fps=…" to /dvaf/cameras/{id}): Spark already computes per-batch input
  * rates, so the report is a listener over StreamingQueryProgress instead
  * of a side channel. Reports are kept in a bounded in-memory buffer (the
  * latest [[LoadReportListener.MaxReports]]).
  */
class LoadReportListener extends StreamingQueryListener {

  import LoadReportListener.{MaxReports, Report}

  private val buf = new ConcurrentLinkedQueue[Report]()
  private val count = new java.util.concurrent.atomic.AtomicInteger(0)

  def reports: Seq[Report] = {
    val it = buf.iterator()
    val b = Seq.newBuilder[Report]
    while (it.hasNext) b += it.next()
    b.result()
  }

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val observedRows = Option(p.observedMetrics.get("graft_load"))
      .map(_.getAs[Long]("rows"))
    val r = Report(
      queryName = Option(p.name).getOrElse(p.id.toString),
      batchId = p.batchId,
      numInputRows = p.numInputRows,
      inputRowsPerSecond =
        if (p.inputRowsPerSecond.isNaN) 0.0 else p.inputRowsPerSecond,
      observedRows = observedRows)
    buf.add(r)
    // O(1) trim: ConcurrentLinkedQueue.size() walks the whole list
    if (count.incrementAndGet() > MaxReports) {
      if (buf.poll() != null) count.decrementAndGet()
    }
  }

  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object LoadReportListener {
  val MaxReports = 1024

  final case class Report(
      queryName: String,
      batchId: Long,
      numInputRows: Long,
      inputRowsPerSecond: Double,
      observedRows: Option[Long])
}
