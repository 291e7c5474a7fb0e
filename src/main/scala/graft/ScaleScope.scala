package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Sibling sessions: the one way part of a job runs under a different
  * SQLConf than its caller's.
  *
  * A sibling shares the caller's SparkContext (executors, cached blocks,
  * checkpoints) but owns its SQLConf, so an override never leaks to
  * queries running concurrently on the caller. Three rules keep it honest:
  *
  *  - [[sibling]] returns ONE session per (caller, overrides), so memos
  *    keyed on session identity ([[graft.operators.MaterializedPairs]])
  *    are shared between repeated calls. On every call the sibling's
  *    runtime conf is made equal to the caller's current runtime conf plus
  *    the overrides: `newSession()` starts from the context's conf, not the
  *    caller's, so without the copy a runtime-set caller key (a session
  *    timeZone feeding a cast, a writer option) silently reverts to its
  *    default in the sibling.
  *  - [[forRows]] derives the shuffle partitioning from the data: a small
  *    input runs at ceil(rows / rowsPerPartition) partitions instead of
  *    paying the per-task scheduling floor on near-empty tasks; at
  *    production scale the derivation saturates and the caller itself is
  *    returned.
  *  - A frame executes under the conf of the session it belongs to, so a
  *    frame crossing sessions goes through [[bind]] — on the way in, or the
  *    sibling's conf is ignored; on the way out, or the caller's actions on
  *    the result silently run at the sibling's conf.
  */
object ScaleScope {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** caller → (overrides → sibling). Weak keys: an entry dies with its
    * caller; entries whose context stopped are evicted on the next call. */
  private val siblings = new java.util.WeakHashMap[
    SparkSession, java.util.HashMap[Map[String, String], SparkSession]]()

  /** The sibling of `s` with `overrides` applied over `s`'s current
    * runtime conf. Static and core keys cannot be set on a live session
    * and are skipped; a sibling created from the same context already
    * carries them. */
  def sibling(s: SparkSession, overrides: (String, String)*): SparkSession = {
    val key = overrides.toMap
    val sib = siblings.synchronized {
      siblings.keySet.removeIf(_.sparkContext.isStopped)
      siblings.computeIfAbsent(s, _ => new java.util.HashMap())
        .computeIfAbsent(key, _ => s.newSession())
    }
    val want = s.conf.getAll ++ key
    val have = sib.conf.getAll
    def attempt(change: => Unit): Unit =
      try change catch { case _: AnalysisException => () }
    (have.keySet -- want.keySet).foreach(k => attempt(sib.conf.unset(k)))
    want.foreach { case (k, v) =>
      if (!have.get(k).contains(v)) attempt(sib.conf.set(k, v))
    }
    sib
  }

  /** `s` itself when ceil(rows / rowsPerPartition) reaches `s`'s shuffle
    * partitioning, else the sibling of `s` shuffling into that many (at
    * least 1) partitions. */
  def forRows(s: SparkSession, rows: Long, rowsPerPartition: Long): SparkSession = {
    val n = math.max(1L, math.ceil(rows.toDouble / rowsPerPartition).toLong)
    if (n >= s.conf.get(ShufflePartitions).toLong) s
    else sibling(s, ShufflePartitions -> n.toString)
  }

  /** `df` bound to session `s`: itself when it already belongs to `s`,
    * else re-created in `s` from its RDD (per-row conversion, so callers
    * pass materialized frames). */
  def bind(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else s.createDataFrame(df.rdd, df.schema)
}
