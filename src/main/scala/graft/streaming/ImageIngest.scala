package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.{ImageDedup, MediaQuality}

/** Streaming IMAGE near-duplicate suppression — the image instantiation of
  * the modality-generic [[PerceptualIngest]] core: an arriving image is
  * dropped when its fingerprint ([[ImageDedup.fingerprint]], the
  * mirror-canonical DCT pHash — the EXACT arithmetic of the batch pair
  * join ext101, bucket keys included via [[ImageDedup.bandSlices]]) sits
  * within Hamming 3 of ANY image seen inside the watermark
  * horizon, so a re-encoded, lightly-perturbed or mirrored redelivery
  * (the cases a byte digest cannot catch) stays out of the landing table.
  * See [[PerceptualIngest]] for the state/eviction/rollup contract.
  */
object ImageIngest {

  /** End-to-end: (img_id, source, ingest_ts, png) stream → near-deduped
    * landing table (kept images, partitioned by source) + `<table>_rejects`
    * with match evidence — the audit trail the gate owes its operators.
    * `bootstrapFrom` = (persisted fingerprint table (id, phash), state
    * timestamp): warm-starts the suppressor from
    * [[graft.operators.FingerprintStore]]'s table so corpus
    * near-duplicates reject from the FIRST micro-batch
    * ([[PerceptualIngest.bootstrapState]]). `qualityGate` runs the
    * ext113 image gate (identical thresholds, rule order and rounding to
    * the batch verdicts via the shared `imageReasonOfDecoded` scalar) as
    * a map-side pre-filter: failing images go straight to rejects with
    * their rule as the reason and never enter band state — the ext118
    * funnel's gate-before-dedup economics, stream side. Gate rules and
    * the dedup fingerprint come from ONE fenced decode
    * ([[gateFingerprintUdf]]), so the gated path pays exactly the
    * ungated path's decode count. `writeBackTo` persists each
    * micro-batch's landed fingerprints back into the store as
    * epoch-keyed delivery partitions (exactly-once on replay) — point it
    * at the `bootstrapFrom` store for the full batch↔stream loop;
    * `writeBackCompactEvery`/`writeBackKeepRecent` fold old epoch
    * partitions on the same cadence (the store's small-file discipline,
    * run from inside the writer's own exclusive window —
    * [[PerceptualIngest.writeDeduped]]).
    */
  def writeDeduped(
      images: DataFrame, table: String, checkpoint: String,
      watermarkDelay: String = "10 minutes",
      bootstrapFrom: Option[(DataFrame, Long)] = None,
      qualityGate: Boolean = false,
      writeBackTo: Option[String] = None,
      writeBackCompactEvery: Int = 0,
      writeBackKeepRecent: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    PerceptualIngest.writeDeduped(
      images, ImageDedup.fingerprint, idCol = "img_id", payloadCol = "png",
      table = table, checkpoint = checkpoint,
      watermarkDelay = watermarkDelay,
      rename = Map("item_id" -> "img_id", "payload" -> "png",
        "matched_item" -> "matched_img"),
      bootstrapFrom = bootstrapFrom,
      gateFingerprint =
        if (qualityGate) Some(c => gateFingerprintUdf(c)) else None,
      writeBackTo = writeBackTo,
      writeBackCompactEvery = writeBackCompactEvery,
      writeBackKeepRecent = writeBackKeepRecent)

  /** ONE decode → (failing rule | dedup fingerprint): the ext113 rule
    * scalar and the batch pair join's exact mirror-canonical DCT pHash
    * ([[graft.cv.ImageOps.pHash64MirrorCanonical]], the same scalar
    * [[ImageDedup.fingerprint]] wraps — batch/stream hash agreement holds
    * bit-for-bit). Fenced like every decode UDF. */
  private val gateFingerprintUdf = org.apache.spark.sql.functions.udf {
    bytes: Array[Byte] =>
      Option(bytes).flatMap(graft.cv.ImageOps.decode) match {
        case None => PerceptualIngest.GateResult("undecodable", None)
        case Some(img) => MediaQuality.imageReasonOfDecoded(img) match {
          case Some(r) => PerceptualIngest.GateResult(r, None)
          case None => PerceptualIngest.GateResult(null,
            Some(graft.cv.ImageOps.pHash64MirrorCanonical(img)))
        }
      }
  }.asNondeterministic()
}
