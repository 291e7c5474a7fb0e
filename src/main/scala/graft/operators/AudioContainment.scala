package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cv.AudioOps

/** AUDIO CLIP CONTAINMENT — "which tracks contain this clip (and where)":
  * the Shazam-shaped retrieval the whole-clip fingerprint (ext102,
  * [[AudioDedup]]) structurally cannot answer, because its 65 segments are
  * PROPORTIONAL to duration — a jingle inside a longer track lands on
  * entirely different segment boundaries than the standalone jingle.
  *
  * Composition from the engine's existing cores, nothing bespoke:
  *  - fingerprinting: fixed-duration window spectral hashes
  *    ([[AudioOps.windowSpectralHashes]] — one [[AudioOps.spectralHash64]]
  *    per `windowSec` window; one map-side decode+hash pass per track, the
  *    window-level analog of [[VideoDedup.frameHashes]]);
  *  - silence windows dropped by the shared popcount band
  *    ([[TemporalAlignment.informative]]) — they match every track's quiet
  *    windows, carry no identity, and their band buckets grow with the
  *    corpus (the same skew source the video path filters);
  *  - candidates: the SAME Hamming-banded core as every perceptual
  *    modality ([[ImageDedup.hammingNearDupPairs]] over (track, window)
  *    composite ids) — equi-join on hash slices, pigeonhole recall,
  *    never all-pairs;
  *  - verdict: the shared [[TemporalAlignment.alignedOverlap]] vote —
  *    matched windows histogrammed by window offset, only the best ±1
  *    alignment counts, so two tracks coincidentally sharing scattered
  *    windows never score like a genuine containment, and the winning
  *    offset IS the answer to "where in the track does the clip start".
  *
  * A pair is reported when the best alignment covers ≥ [[MinCoverage]] of
  * the SHORTER side's surviving windows — clip-in-track containment when
  * lengths differ (the clip is the shorter side), full near-duplication
  * when they match. Window-aligned insertions are matched exactly; an
  * insertion offset INSIDE a window shifts every embedded window's
  * content and is invisible at the default non-overlapping grid — pass
  * `hopSec` < `windowSec` (overlapping windows) to catch any insertion
  * offset the hop divides, at hop-ratio× more rows: the standard
  * granularity/cost dial of landmark fingerprints, spec-demonstrated at
  * hop = window/2.
  */
object AudioContainment {

  /** Window-hash Hamming distance at or under which two windows match. */
  private[graft] val MaxDist = 2
  /** Best-alignment share of the shorter side that reports a pair. */
  private[graft] val MinCoverage = 0.8

  // asNondeterministic is an OPTIMIZER FENCE, not a semantics claim: an
  // expensive deterministic UDF left unfenced gets INLINED by
  // CollapseProject into every reference and PUSHED into the parquet
  // scan's row-level DataFilters by the inferred isnotnull/size>0
  // generate filters — measured 3+ full decode+hash passes per row on
  // this exact chain. The fence pins one evaluation in one Project.
  private def windowHashUdf(windowSec: Double, hopSec: Double) =
    udf { bytes: Array[Byte] =>
      if (bytes == null) None
      else AudioOps.decodeWav(bytes)
        .map(AudioOps.windowSpectralHashes(_, windowSec, hopSec))
    }.asNondeterministic()

  /** (id, win_idx, whash, n_windows) per full window of each decodable
    * track — `n_windows` rides along so no second pass over the blobs is
    * needed; undecodable blobs drop (the modality family's contract).
    */
  def windowHashes(tracks: DataFrame, audioCol: String, idCol: String,
      windowSec: Double, hopSec: Double = 0.0): DataFrame =
    tracks
      .select(col(idCol).as("id"),
        windowHashUdf(windowSec, hopSec)(col(audioCol)).as("ws"))
      .filter(col("ws").isNotNull)
      .select(col("id"), size(col("ws")).as("n_windows"),
        explode(col("ws")).as("w"))
      .select(col("id"), col("w._1").as("win_idx"),
        col("w._2").as("whash"), col("n_windows"))

  /** Verified containment/overlap pairs:
    * (clip_id, track_id, offset_windows, offset_seconds, matched_windows,
    * coverage) — clip_id is the side with FEWER surviving windows (ties:
    * the smaller id), offset_windows the window index in the track where
    * the clip's window 0 aligns (≥ 0 for a true containment; the sign
    * carries through for partial head overlaps), coverage the best-single-
    * alignment support over the shorter side's surviving windows, capped
    * at 1.0. Pairs with coverage >= [[MinCoverage]] survive.
    */
  def containmentPairs(tracks: DataFrame, audioCol: String, idCol: String,
      windowSec: Double = 0.512, hopSec: Double = 0.0): DataFrame =
    containmentPairsFromWindows(
      keptWindowHashes(tracks, audioCol, idCol, windowSec, hopSec)
        .localCheckpoint(true),
      hop = if (hopSec > 0) hopSec else windowSec)

  /** The informative (post-silence-filter) window-hash table the verdict
    * consumes — the [[VideoDedup.keptFrameHashes]] sibling, exposed so a
    * caller can materialize or export (oracle-aux) the exact unit rows
    * [[containmentPairsFromWindows]] votes over. */
  def keptWindowHashes(tracks: DataFrame, audioCol: String, idCol: String,
      windowSec: Double, hopSec: Double = 0.0): DataFrame =
    windowHashes(tracks, audioCol, idCol, windowSec, hopSec)
      .filter(TemporalAlignment.informative(col("whash")))

  /** [[containmentPairs]] downstream of an already-built
    * [[keptWindowHashes]] frame (`hop` in seconds converts the winning
    * window offset to `offset_seconds`). */
  def containmentPairsFromWindows(wh: DataFrame, hop: Double): DataFrame = {
    val windowPairs = ImageDedup.hammingNearDupPairs(
      wh.select(struct(col("id"), col("win_idx")).as("id"),
        col("whash").as("phash")),
      MaxDist)
      .select(col("id_a.id").as("a0"), col("id_a.win_idx").as("wa0"),
        col("id_b.id").as("b0"), col("id_b.win_idx").as("wb0"))
      .filter(col("a0") =!= col("b0"))
      // canonicalize: the composite struct sorts (id, win_idx)
      // lexicographically, so a pair can arrive either way around — keep
      // both window indices aligned with their canonical sides
      .select(
        least(col("a0"), col("b0")).as("id_a"),
        greatest(col("a0"), col("b0")).as("id_b"),
        when(col("a0") <= col("b0"), col("wa0")).otherwise(col("wb0")).as("ta"),
        when(col("a0") <= col("b0"), col("wb0")).otherwise(col("wa0")).as("tb"))
    // post-filter counts: the denominator counts only windows allowed to
    // match (the video path's r8 ADVICE contract, inherited via the core)
    val counts = wh.groupBy(col("id")).agg(count(lit(1)).as("n_kept"))
    TemporalAlignment.alignedOverlap(windowPairs, counts, jitter = 1)
      .withColumn("coverage",
        least(lit(1.0), round(col("aligned_units").cast("double") /
          least(col("na"), col("nb")), 6)))
      .filter(col("coverage") >= MinCoverage)
      // the clip is the shorter surviving side; its start in the track is
      // (track window) − (clip window) at the winning alignment: best_off
      // is ta − tb, so the sign flips with which side is the clip
      .select(
        when(col("na") <= col("nb"), col("id_a")).otherwise(col("id_b"))
          .as("clip_id"),
        when(col("na") <= col("nb"), col("id_b")).otherwise(col("id_a"))
          .as("track_id"),
        when(col("na") <= col("nb"), -col("best_off")).otherwise(col("best_off"))
          .as("offset_windows"),
        round(when(col("na") <= col("nb"), -col("best_off"))
          .otherwise(col("best_off")) * hop, 6).as("offset_seconds"),
        col("matched_units").as("matched_windows"),
        col("coverage"))
  }
}
