package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.AudioDedup

/** Streaming AUDIO near-duplicate suppression — the audio instantiation of
  * the modality-generic [[PerceptualIngest]] core, completing streaming
  * parity with the batch dedup family (text [[NearDupIngest]], image
  * [[ImageIngest]], audio here): an arriving clip is dropped when its
  * spectral fingerprint ([[AudioDedup.fingerprint]] — the EXACT arithmetic
  * of the batch pair join ext102, bucket keys via the shared band slices)
  * sits within Hamming 3 of ANY clip seen inside the watermark
  * horizon, so a re-encoded, volume-normalized or resampled redelivery
  * stays out of the landing table. See [[PerceptualIngest]] for the
  * state/eviction/rollup contract.
  */
object AudioIngest {

  /** End-to-end: (clip_id, source, ingest_ts, wav) stream → near-deduped
    * landing table (kept clips, partitioned by source) + `<table>_rejects`
    * with match evidence. The suppressor starts cold: no fingerprint
    * store bootstraps it and none is written back.
    */
  def writeDeduped(
      clips: DataFrame, table: String, checkpoint: String,
      watermarkDelay: String = "10 minutes",
      qualityGate: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    PerceptualIngest.writeDeduped(
      clips, AudioDedup.fingerprint, idCol = "clip_id", payloadCol = "wav",
      table = table, checkpoint = checkpoint,
      watermarkDelay = watermarkDelay,
      rename = Map("item_id" -> "clip_id", "payload" -> "wav",
        "matched_item" -> "matched_clip"),
      // the ext114 audio gate (identical thresholds/rule order to the
      // batch verdicts) as a map-side pre-filter; rule + spectral
      // fingerprint from ONE fenced decode — see ImageIngest
      gateFingerprint =
        if (qualityGate) Some(c => gateFingerprintUdf(c)) else None)

  /** ONE decode → (failing rule | spectral fingerprint): the ext114 rule
    * scalar plus [[graft.cv.AudioOps.spectralHash64]] — the same scalar
    * [[AudioDedup.fingerprint]] wraps, so batch/stream hash agreement
    * holds bit-for-bit. Fenced like every decode UDF. */
  private val gateFingerprintUdf = org.apache.spark.sql.functions.udf {
    bytes: Array[Byte] =>
      Option(bytes).flatMap(graft.cv.AudioOps.decodeWav) match {
        case None => PerceptualIngest.GateResult("undecodable", None)
        case Some(a) =>
          graft.operators.MediaQuality.audioReasonOfDecoded(a) match {
            case Some(r) => PerceptualIngest.GateResult(r, None)
            case None => PerceptualIngest.GateResult(null,
              Some(graft.cv.AudioOps.spectralHash64(a)))
          }
      }
  }.asNondeterministic()
}
