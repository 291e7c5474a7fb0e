package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** "Every N DATA-BEARING micro-batches" cadence for foreachBatch
  * maintenance folds: a batchId-modulo cadence counts no-data commit
  * batches too — AvailableNow's first wave runs one extra
  * watermark-advance batch after its data batch, and a production stream
  * with idle triggers commits mostly-empty batches — so modulo-on-batchId
  * folds land at an arbitrary fraction of the configured cadence (ext134's
  * folds used to land on waves 3/5 instead of 2/4 for exactly this
  * reason). This counter increments only for batches that carried rows.
  *
  * Durability and replay: (lastBatchId, count) persist atomically
  * ([[graft.util.AtomicPublish.file]]) in a dot-file INSIDE the stream's
  * checkpoint dir — the checkpoint IS the stream's identity (restarts
  * reuse it; deleting it resets the stream and the cadence together;
  * Spark's checkpoint layout reads only its own named entries, so the
  * foreign dot-file is invisible to it). The batch-id guard makes the
  * count exactly-once under foreachBatch's at-least-once replay: a
  * replayed batch finds its own id already counted, re-reads the same
  * count, and re-fires the same fold decision — which is the correct
  * re-fire, because the fold it may have crashed out of heals forward.
  * Only the LAST batch can ever replay (the streaming commit contract),
  * so one remembered id is the whole dedup window.
  */
private[streaming] final class DataBatchCadence(checkpoint: String) {

  private val Magic = "GRAFT_DATA_BATCH_CADENCE_V1"
  private def path = new Path(checkpoint, ".graft_data_batches")

  /** True iff this batch carries rows AND is the `every`-th data-bearing
    * batch of the stream's life (counted across restarts). A no-data
    * batch never consumes a cadence slot and never touches the file. */
  def fires(conf: Configuration, every: Int, batchId: Long,
      hasData: Boolean): Boolean = {
    if (every <= 0 || !hasData) return false
    val target = path
    val (lastId, n0) =
      graft.util.AtomicPublish.readFile(conf, target, Some(Magic))(
        in => (in.readLong(), in.readLong())).getOrElse((-1L, 0L))
    val n = if (batchId == lastId) n0 else n0 + 1
    if (batchId != lastId)
      graft.util.AtomicPublish.file(conf, target, Some(Magic)) { out =>
        out.writeLong(batchId); out.writeLong(n)
      }
    n % every == 0
  }
}
