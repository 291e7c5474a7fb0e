package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.functions.{col, count, count_if, lit}

/** Audited retention (expiry) for the append-only AUDIT tables — the
  * rejects tables every audited ingest posture grows one row per rejected
  * delivery forever, the excisions table, any evidence trail. Losing a
  * REJECTS row outside the policy silently un-audits a suspect, so
  * retention is a filter over [[TableCompaction.rewrite]]: the kept rows
  * are staged, journaled and swapped in, and a crash at any point heals
  * forward on the next call — a reader may see a kept row twice during
  * the swap, and never sees it missing. Retention shares the single-writer
  * maintenance window with the graduation and the marker compaction: run
  * it between micro-batches, then
  * [[graft.streaming.CorpusIngest.compactGraduated]] to drop the markers
  * that mirrored the expired suspects.
  *
  * Scale shape: one scan of the table, one filtered write — no shuffle
  * (the filter is map-side; files pack into read splits, so the rewrite
  * also consolidates an append-cadence table's small files). The stats
  * counts are observed on that one pass.
  */
object Retention {

  /** One retention pass's accounting. `rowsExpired` is what the policy
    * removed — the number the audit log records. */
  final case class RetentionStats(
      rowsBefore: Long, rowsKept: Long, rowsExpired: Long)

  /** Rewrite `table` keeping only the rows matching `keep`. `partitionBy`
    * must restate the table's partition columns when it has them, so the
    * rewrite preserves the directory layout. No-op when the table holds
    * no committed data. Rewriting a PARTITIONED table down to zero kept
    * rows leaves a dir with no data files — "never held rows" to
    * [[graft.util.CommittedTable.hasData]]. */
  def rewriteKeeping(
      spark: SparkSession,
      table: String,
      keep: Column,
      partitionBy: Seq[String] = Nil): RetentionStats = {
    // partition-column TYPE inference is lossy on values whose string
    // form is not the canonical rendering of the inferred type (a
    // `source=01` dir inferred int would be rewritten `source=1`), so
    // the partitioned rewrite reads with inference OFF and the staged
    // write re-renders the dir strings byte-identically. The pin rides
    // a sibling session carrying the caller's runtime conf (the session
    // timeZone feeding the keep predicate's casts, parquet writer
    // options), so it cannot leak to the caller's own reads
    val session =
      if (partitionBy.isEmpty) spark
      else graft.ScaleScope.sibling(spark,
        "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false")
    val obs = new org.apache.spark.sql.Observation()
    var foldedBefore: Option[Long] = None
    val rewrote = TableCompaction.rewrite(session, table, partitionBy) { rows =>
      val kept = rows
        .observe(obs, count(lit(1)).as("n_before"), count_if(keep).as("n_kept"))
        .filter(keep)
      // a keep predicate the optimizer proves constant-false folds the
      // whole filter subtree, CollectMetrics included, into an empty
      // relation, so the observation never fires: that shape is "kept
      // nothing", and the before count pays the one scan the fold
      // skipped, while the rows are still in place
      if (kept.queryExecution.optimizedPlan
          .find(_.isInstanceOf[CollectMetrics]).isEmpty)
        foldedBefore = Some(rows.count())
      kept
    }
    if (!rewrote) return RetentionStats(0L, 0L, 0L)
    val (rowsBefore, rowsKept) = foldedBefore.map(_ -> 0L).getOrElse {
      val m = obs.get
      (m("n_before").asInstanceOf[Long], m("n_kept").asInstanceOf[Long])
    }
    RetentionStats(rowsBefore, rowsKept, rowsBefore - rowsKept)
  }

  /** The age policy over an ingest-timestamped audit table: keep rows
    * with `tsCol` at or after `cutoff`, expire the rest. A NULL
    * timestamp is KEPT, not expired: the age policy cannot claim a row
    * it cannot date, and silently deleting it would be exactly the
    * un-audited loss this operator exists to prevent — callers with
    * null-timestamped rows owe them an explicit policy via
    * [[rewriteKeeping]]. */
  def expireOlderThan(
      spark: SparkSession,
      table: String,
      tsCol: String,
      cutoff: java.sql.Timestamp,
      partitionBy: Seq[String] = Nil): RetentionStats =
    rewriteKeeping(spark, table,
      col(tsCol).isNull || col(tsCol) >= lit(cutoff),
      partitionBy)
}
