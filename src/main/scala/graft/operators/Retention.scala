package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}

/** Audited retention (expiry) for the append-only AUDIT tables — the
  * rejects tables every audited ingest posture grows one row per rejected
  * delivery forever, the excisions table, any evidence trail: the
  * "operator's retention policy" that
  * [[graft.streaming.CorpusIngest.compactGraduated]]'s contract has
  * always referenced as its upstream step ("run after each
  * rejects-retention pass") without the repo actually having one. Unlike
  * the graduated markers — where losing a row is safe-by-direction (the
  * suspect merely re-pays an idempotent scan) — losing a REJECTS row is
  * not: a `contaminated_maybe` suspect that vanishes outside the policy
  * was never graduated and never audited, silently. So retention cannot
  * be compactGraduated's checkpoint-then-overwrite (whose crash window
  * re-runs harmlessly); it is a STAGED REWRITE behind a pending marker,
  * the [[VectorIndex]] generation-swap discipline:
  *
  *  1. stage the kept rows to a dot-invisible sibling dir (plain readers
  *     see the untouched table throughout),
  *  2. atomically publish a `.retention_pending` marker naming the staged
  *     dir ([[graft.util.AtomicPublish.file]]),
  *  3. swap: delete the table dir, rename the staged dir in,
  *  4. delete the marker.
  *
  * Every call heals a leftover marker FORWARD first: staged dir present →
  * finish the swap (the marker is only ever published after staging
  * completed, so the staged bytes ARE the committed intent — a crash
  * with both dirs present rolls forward to the staged state, never back);
  * staged dir gone with the table present → the swap already finished,
  * drop the marker; both gone → surface loudly, never guess. The only
  * reader-visible gap is the delete→rename blink inside the swap itself,
  * which is why retention shares the single-writer maintenance window
  * with the graduation and the marker compaction (their shared class
  * contract) — run it between micro-batches, then
  * [[graft.streaming.CorpusIngest.compactGraduated]] to drop the markers
  * that mirrored the expired suspects.
  *
  * Scale shape: one scan of the table, one filtered write — no shuffle at
  * all (the filter is map-side; files pack into read splits, so the
  * rewrite also consolidates an append-cadence table's small files as a
  * side effect). The stats counts ride the same two bounded actions.
  */
object Retention {

  /** One retention pass's accounting. `rowsExpired` is what the policy
    * removed — the number the audit log records. */
  final case class RetentionStats(
      rowsBefore: Long, rowsKept: Long, rowsExpired: Long)

  private val MarkerMagic = "GRAFT_RETENTION_PENDING_V1"

  private def markerFor(table: Path): Path =
    new Path(table.getParent, s".${table.getName}.retention_pending")

  private def qualified(spark: SparkSession, table: String): Path = {
    val p = new Path(table)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p)
  }

  /** Heal a leftover pending marker FORWARD (class doc). True iff a
    * marker was found and resolved. Runs first in every
    * [[rewriteKeeping]]. */
  private[graft] def healPending(
      spark: SparkSession, table: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = qualified(spark, table)
    val fs = root.getFileSystem(conf)
    val marker = markerFor(root)
    // a hard kill INSIDE the marker's own publish leaves a young
    // dot-temp that confirmedAbsent counts as in-flight for the orphan
    // horizon — but under the single-writer window nothing else can be
    // publishing, so a read that still ends in FileNotFound IS the
    // pre-marker crash (the atomic publish either landed whole or not
    // at all): treat it as no-marker instead of failing every retention
    // call until the temp ages out
    val markerBytes: Option[String] =
      if (graft.util.AtomicPublish.confirmedAbsent(fs, marker)) None
      else
        try Some(graft.util.AtomicPublish.readFile(conf, marker,
          Some(MarkerMagic))(_.readUTF()))
        catch { case _: java.io.FileNotFoundException => None }
    val found = markerBytes match {
      case None => false
      case Some(stagedName) =>
        val staged = new Path(root.getParent, stagedName)
        if (fs.exists(staged)) {
          // staging completed before the marker existed, so the staged
          // rows are the committed intent: roll FORWARD even when the
          // old table dir is still present (crash between marker and
          // delete)
          graft.util.AtomicPublish.replaceDir(fs, staged, root)
        } else
          require(fs.exists(root),
            s"retention heal: $marker names a staged dir that is gone " +
              s"and $root is gone too — manual recovery required")
        fs.delete(marker, false): Unit
        true
    }
    // with no marker outstanding, every staged sibling is an orphan from
    // a pre-marker crash (single-writer window) — sources were never
    // touched, so reclaim; the dirs are dot-invisible but disk is disk
    Option(fs.globStatus(new Path(root.getParent,
        s".${root.getName}.retention_staged_*")))
      .getOrElse(Array.empty)
      .foreach(st => fs.delete(st.getPath, true): Unit)
    found
  }

  /** Rewrite `table` keeping only the rows matching `keep` (class doc
    * for the protocol and crash contract). `partitionBy` must restate
    * the table's partition columns when it has them, so the rewrite
    * preserves the directory layout. No-op (no marker, no staging) when
    * the table holds no committed data. NOTE: rewriting a PARTITIONED
    * table down to zero kept rows leaves a dir with no data files (the
    * dynamic write's marker-only output) — structurally "never held
    * rows" to [[graft.util.CommittedTable.hasData]], which is the
    * convention every emptiness branch here already reads. */
  def rewriteKeeping(
      spark: SparkSession,
      table: String,
      keep: Column,
      partitionBy: Seq[String] = Nil): RetentionStats = {
    healPending(spark, table): Unit
    if (!graft.util.CommittedTable.hasData(spark, table))
      return RetentionStats(0L, 0L, 0L)
    val root = qualified(spark, table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (stagedName, rowsBefore, rowsKept) =
      stageAndMark(spark, root, keep, partitionBy)
    graft.util.AtomicPublish.replaceDir(fs,
      new Path(root.getParent, stagedName), root)
    fs.delete(markerFor(root), false): Unit
    RetentionStats(rowsBefore, rowsKept, rowsBefore - rowsKept)
  }

  /** The stage → count → marker prefix of the protocol, shared verbatim
    * between [[rewriteKeeping]] and the spec's crash-injection seam (a
    * restated copy would drift from the real protocol). On return the
    * marker is PUBLISHED and the live table is still untouched. */
  private def stageAndMark(
      spark: SparkSession, root: Path, keep: Column,
      partitionBy: Seq[String]): (String, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    // partition-column TYPE inference is lossy on values whose string
    // form is not the canonical rendering of the inferred type (a
    // `source=01` dir inferred int would be rewritten `source=1`), so
    // for the partitioned rewrite the inference is pinned OFF —
    // partition values stay the exact dir strings and the staged write
    // re-renders them byte-identically. The pin rides a sibling session
    // (own SQLConf, shared SparkContext), so it cannot leak to unrelated
    // partitioned reads concurrently resolving on the caller's session;
    // the sibling carries the caller's runtime conf (session timeZone
    // feeding the keep predicate's casts, parquet writer options, shuffle
    // partitions), and the read, the observed staging write and the
    // counts below all bind to it
    val before =
      if (partitionBy.isEmpty) spark.read.parquet(root.toString)
      else graft.ScaleScope.sibling(spark,
          "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false")
        .read.parquet(root.toString)
    // BOTH counts observed on the single staging pass — no separate
    // count() scan of a forever-growing table, and no read-back of the
    // staged dir (whose zero-kept partitioned form has no inferable
    // schema)
    val obs = new org.apache.spark.sql.Observation()
    val stagedName = s".${root.getName}.retention_staged_" +
      java.util.UUID.randomUUID().toString.take(12)
    val staged = new Path(root.getParent, stagedName)
    val writer = before
      .observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_before"),
        org.apache.spark.sql.functions.count_if(keep).as("n_kept"))
      .filter(keep).write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
     else writer).parquet(staged.toString)
    val metrics = obs.get
    // a keep predicate the optimizer can prove constant-false folds the
    // whole filter subtree — CollectMetrics included — into an empty
    // relation, so the observation never fires (empty map, not a hang).
    // That shape is exactly "kept nothing", and the before count pays
    // the one scan the fold skipped
    val (rowsBefore, rowsKept) =
      if (metrics.isEmpty)
        (spark.read.parquet(root.toString).count(), 0L)
      else
        (metrics("n_before").asInstanceOf[Long],
          metrics("n_kept").asInstanceOf[Long])
    // marker AFTER staging, BEFORE any mutation — heal can always
    // complete forward from here
    graft.util.AtomicPublish.file(conf, markerFor(root),
      Some(MarkerMagic))(_.writeUTF(stagedName))
    (stagedName, rowsBefore, rowsKept)
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
      partitionBy: Seq[String] = Nil): RetentionStats = {
    import org.apache.spark.sql.functions.{col, lit}
    rewriteKeeping(spark, table,
      col(tsCol).isNull || col(tsCol) >= lit(cutoff),
      partitionBy)
  }

  /** Staging + marker WITHOUT the swap — the crash-injection seam the
    * spec drives to pin the heal paths. Returns the staged dir name.
    * Production code never calls this. */
  private[graft] def stageAndMarkOnly(
      spark: SparkSession, table: String, keep: Column,
      partitionBy: Seq[String] = Nil): String = {
    require(graft.util.CommittedTable.hasData(spark, table),
      "stageAndMarkOnly: nothing to stage")
    stageAndMark(spark, qualified(spark, table), keep, partitionBy)._1
  }
}
