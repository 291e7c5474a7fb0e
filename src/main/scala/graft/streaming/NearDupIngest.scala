package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Streaming NEAR-duplicate suppression for text — the MinHash-LSH
  * counterpart of [[CorpusIngest]]'s exact digest dedup, and the text
  * adapter over the [[PerceptualIngest]] core: an arriving document is
  * dropped when its estimated Jaccard against ANY document seen within
  * the watermark horizon reaches `threshold`, so lightly-edited
  * redeliveries (the case a content digest cannot catch) stay out of the
  * landing table.
  *
  * The adapter supplies the fingerprint — the signature from
  * [[graft.functions.TextFunctions.minHashFromText]] — its LSH band keys
  * (`lshBands`, the same arithmetic as the batch
  * [[graft.operators.Dedup.minHashLsh]], so batch and stream agree on
  * what "near-duplicate" means), the comparison (signature agreement =
  * estimated Jaccard) and the evidence columns; bucket state, eviction,
  * the quality-gate pass-through and the land/reject sink are the core's.
  *
  * Full-history near-dedup stays the batch job
  * ([[graft.operators.Dedup.minHashLsh]]); this is the at-ingest guard,
  * same division of labor as [[CorpusIngest]].
  */
object NearDupIngest {

  /** The batch LSH dials ([[graft.operators.Dedup.minHashLsh]]'s
    * defaults): 3-word shingles, 64 permutations in 16 bands. */
  private val ShingleN = 3
  private val Perms = 64
  private val Bands = 16

  /** Fraction of equal signature positions — estimated Jaccard, rounded
    * to 6 dp; 0.0 for an empty bucket. */
  private val Agreement = PerceptualIngest.Compare[Seq[Long]]((a, b) => {
    var n = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) n += 1; i += 1 }
    math.rint(n.toDouble / a.length * 1e6) / 1e6
  }, 0.0, _ > _)

  /** Per-doc rollup of one micro-batch's verdicts: keep iff the strongest
    * band estimate stays under `threshold`. Output: (doc_id, source,
    * ingest_ts, text, max_est, matched_doc, keep, reason).
    */
  private def rollup(batch: DataFrame, threshold: Double): DataFrame =
    PerceptualIngest.decide(batch.groupBy(col("item_id").as("doc_id"))
      .agg(
        first(col("source")).as("source"),
        timestamp_millis(first(col("ts_millis"))).as("ingest_ts"),
        first(col("payload"), ignoreNulls = true).as("text"),
        max(col("score")).as("max_est"),
        // tie-break the evidence doc deterministically (two bands can
        // report the same estimate against different stored docs)
        max_by(col("matched_item"), struct(col("score"), col("matched_item")))
          .as("matched_doc"),
        first(col("reason"), ignoreNulls = true).as("quality_reason")),
      col("max_est") < threshold)

  /** End-to-end: parsed docs ([[CorpusIngest.parse]] schema) →
    * near-deduped landing table (kept docs, partitioned by source),
    * `threshold` estimated-Jaccard suppression within `watermarkDelay`.
    * The dropped docs are not silently discarded — they land in
    * `<table>_rejects` with their match evidence (`reason` = the quality
    * rule or "near_duplicate"), the audit trail a dedup gate owes its
    * operators.
    *
    * `qualityGate`: [[TextFunctions.qualityReason]] — empty /
    * too-few-tokens / repetitive, the ext100 funnel gate's exact
    * distinct_ratio arithmetic, pure built-in expressions — evaluated
    * BEFORE banding. Failing docs never reach bucket state (no bucket
    * slot, no band fan-out, cannot suppress later arrivals) and land in
    * rejects with their rule as the reason. Like every modality's gate
    * they share the suppressor's lateness policy
    * ([[PerceptualIngest.QualityBand]]): a doc older than the watermark
    * is dropped whether it would pass or fail the gate, so a late
    * gate-failing doc is neither landed nor audited.
    */
  def writeNearDeduped(
      docs: DataFrame, table: String, checkpoint: String,
      threshold: Double = 0.9, watermarkDelay: String = "10 minutes",
      qualityGate: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    val reason =
      if (qualityGate) TextFunctions.qualityReason(col("text"))
      else lit(null).cast("string")
    val signed = docs
      .select(col("doc_id").as("itemId"), col("source"), col("ingest_ts"),
        reason.as("reason"), col("text").as("payload"))
      // null/short text has no signature: nothing to band. Fenced like the
      // decode UDFs: unfenced, the banding's not-null filter is pushed
      // below this projection with a copy of the UDF, so each doc would
      // be signed twice
      .withColumn("fp", when(col("reason").isNull,
        TextFunctions.minHashUdf(ShingleN, Perms).asNondeterministic()(col("payload"))))
    val banded = PerceptualIngest.bandRows[Seq[Long], String](signed,
      sig => transform(TextFunctions.lshBands(sig, Bands, Perms / Bands),
        s => struct(s("band").as("b"), s("key").as("v"))),
      watermarkDelay)
    PerceptualIngest.landAndReject(
      PerceptualIngest.verdicts(banded, Agreement,
        PerceptualIngest.ttlMillisOf(watermarkDelay),
        PerceptualIngest.MaxPerBucket),
      table, checkpoint, rollup(_, threshold))
  }
}
