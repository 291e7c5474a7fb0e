package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session-scoped materialization of the corpus-wide near-duplicate pair
  * table — the production shape for a 100 TB pipeline: the J ≥ t pair set
  * is computed ONCE (it is the single most expensive artifact in the dedup
  * family) and every consumer — retention accounting, leakage guards,
  * cluster audits, survivor policies — reads the same materialization
  * instead of re-running the similarity join. On a cluster this is a
  * parquet table written by one job; in-session it is a persisted
  * DataFrame keyed by (session, input key, shingle n, threshold).
  *
  * The first caller pays the join and a `count()` that (a) materializes
  * the cache before any concurrent reader can fork a second computation
  * and (b) logs the pair count — fanout on a skewed corpus must never be
  * silent. `computeIfAbsent` serializes concurrent first-callers on the
  * same key (Verify runs the catalog 4 queries at a time).
  */
object MaterializedPairs {

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Seconds each memoized table's FIRST materialization cost, keyed by a
    * human-readable label (kind + caller key, session prefix stripped).
    * Bench emits this as `pair_build_sec` (r16 verdict #8: with the
    * re-time passes reusing the memo, a consumer's min-of-N is a
    * warm-read time — the build cost it amortizes must be disclosed as
    * its own number or the artifact reads as if the build were free). */
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Snapshot of the build-cost ledger (label -> seconds). */
  def buildSecsSnapshot: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  /** Strip the `applicationId#identityHash|` session prefix from a memo
    * key so the ledger label is stable across runs. */
  private def label(key: String): String = {
    val i = key.indexOf('|')
    if (i >= 0 && key.take(i).contains("#")) key.drop(i + 1) else key
  }

  /** [[Dedup.setSimilarityJoin]] memoized per (session, `key`, `n`,
    * `threshold`). `key` must identify the input data (the SF dir path);
    * the session identity is added automatically so stale frames from a
    * stopped SparkSession are never returned.
    */
  def setSimPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, key: String): DataFrame =
    memoPairs(docs, "word", textCol, idCol, n, threshold, key)(
      Dedup.setSimilarityJoin(docs, textCol, idCol, n, threshold))

  /** [[Dedup.charSetSimilarityJoin]] (CHAR-n-gram template-level pairs)
    * memoized under the same discipline — shared by the transitive leakage
    * guard (ext87) and the record linker's blocking stage (ext95), which
    * read the same bounded template-pair table instead of each paying the
    * char-gram prefix-filter join.
    */
  def charSetSimPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, key: String): DataFrame =
    memoPairs(docs, "char", textCol, idCol, n, threshold, key)(
      Dedup.charSetSimilarityJoin(docs, textCol, idCol, n, threshold))

  /** Generic session-scoped materialized-frame memo under the same
    * discipline (persist + eager count + logged row count): for shared
    * inputs that are not similarity-pair tables — e.g. the trade-graph
    * edge list ext94 (PageRank) and ext96 (HITS) both iterate over. The
    * caller owns key hygiene (include the context identity + input dir).
    */
  def frame(key: String)(build: => DataFrame): DataFrame =
    memoize(key, label(key), s"frame: key=$key")(build)

  /** The session component of every memo key: applicationId (changes when
    * a context stops and a new one starts, so a recycled identityHashCode
    * after GC can never alias a dead session's entry) plus the session's
    * identity hash (distinguishes [[graft.ScaleScope]] siblings sharing
    * one context — each owns its SQLConf, so their frames must not be
    * shared).
    */
  private[operators] def sessionKey(s: org.apache.spark.sql.SparkSession): String =
    s"${s.sparkContext.applicationId}#${System.identityHashCode(s)}"

  /** Drop entries whose backing context has stopped: their frames can
    * never be served again (the key embeds the applicationId), so holding
    * them is unbounded growth across session restarts in one JVM. */
  private def evictStopped(): Unit =
    memo.entrySet().removeIf { e =>
      val dead =
        try e.getValue.sparkSession.sparkContext.isStopped
        catch { case _: Throwable => true }
      if (dead) { try e.getValue.unpersist() catch { case _: Throwable => () } }
      dead
    }

  private def memoPairs(docs: DataFrame, kind: String, textCol: String,
      idCol: String, n: Int, threshold: Double, key: String)(
      build: => DataFrame): DataFrame =
    memoize(Seq(sessionKey(docs.sparkSession), kind, key,
        textCol, idCol, n, threshold).mkString("|"),
      s"$kind-setsim|$key|n=$n|t=$threshold",
      s"$kind setsim pairs: key=$key n=$n t=$threshold")(build)

  /** The one memo body (object doc): the first caller of `key` builds,
    * persists and materializes the frame with an eager `count()`, books
    * the build seconds under `ledgerLabel` and logs `what` with the row
    * count; every later caller gets the same frame. */
  private def memoize(key: String, ledgerLabel: String, what: String)(
      build: => DataFrame): DataFrame = {
    evictStopped()
    memo.computeIfAbsent(key, _ => {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      val t0 = System.nanoTime()
      val rows = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      buildSecs.put(ledgerLabel, secs)
      System.err.println(
        f"[graft] materialized $what rows=$rows build=$secs%.1fs")
      df
    })
  }

  /** Drop every cached pair table (unpersist + forget). Bench calls this
    * between timed passes so repeat timings measure the query, not a cache
    * hit from the previous pass.
    */
  def clear(): Unit = {
    memo.values.forEach { df =>
      try df.unpersist() catch { case _: Throwable => () }
    }
    memo.clear()
  }
}
