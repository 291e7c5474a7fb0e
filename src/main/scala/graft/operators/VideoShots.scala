package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SHOT-BOUNDARY detection over video binary columns — the temporal
  * SEGMENTATION dual of [[VideoDedup]]'s cross-video matching, and the
  * batch analytics a video corpus owner runs before sampling training
  * frames (one frame per shot beats every-nth sampling when shots vary in
  * length: a 2-hour static interview contributes one frame, not 3600).
  *
  * Mechanics, composed entirely from existing cores: per-sampled-frame
  * dHash (the same [[graft.cv.ImageOps]] gradient-sign hash as near-dup,
  * minus the cross-video mirror canonicalization — see [[frameHashUdf]]
  * for why the canonical min is wrong within one video), then ONE
  * per-video window pass: a frame
  * whose Hamming distance to its predecessor exceeds [[CutDist]] opens a new
  * shot (hard-cut detection by perceptual-hash discontinuity — the
  * standard cheap shot detector; dissolves need a frame-difference model
  * and land in the same running-sum shape), and the shot index is the
  * running count of cuts. No join anywhere: decode+hash is map-side, the
  * lag/running-sum window partitions by video (skew bounded by the longest
  * single video — at 100 TB a 10-hour video is ~10^6 frames, one
  * partition's worth of longs), and the rollup is one keyed agg.
  */
object VideoShots {

  /** Plain (NON-mirror-canonical) dHash over an already-DECODED frame row
    * — deliberately not [[VideoDedup]]'s canonical min(h, mirror(h)):
    * canonicalization is a CROSS-video invariance (catch mirrored
    * re-uploads) whose min can flip sides between two visually identical
    * frames whenever their two orientation hashes are numerically close,
    * manufacturing a ~32-bit discontinuity — a fake cut — inside a static
    * scene. Within one video both frames of every comparison share an
    * orientation, so the raw gradient-sign hash is the right metric.
    * The shared [[graft.cv.ImageOps]] core still guarantees shots and
    * dedup agree on what a frame "looks like".
    */
  private val frameHashUdf =
    udf { (rows: Int, cols: Int, ch: Int, px: Array[Byte]) =>
      graft.cv.ImageOps.dHash64(
        graft.cv.ImageOps.DecodedImage(rows, cols, ch, px))
    }

  /** The shot path's per-frame hash as a column, exposed package-wide so
    * sibling frame-table analytics ([[MediaQuality.videoStats]]'s
    * static/low-info ratios) measure frames with the SAME hash the
    * segmentation cuts on — the two can then be cross-checked row for row.
    */
  private[graft] def frameHash(px: Column, rows: Column, cols: Column,
      channels: Column): Column = frameHashUdf(rows, cols, channels, px)

  /** A frame whose dHash is more than this many bits from its
    * predecessor's opens a new shot. */
  private[graft] val CutDist = 10

  /** Per-shot segmentation: (video_id, shot_idx, start_frame, end_frame,
    * n_frames) — frame indices are ORIGINAL indices (sampling stride
    * preserved in `start_frame`/`end_frame`; `n_frames` counts SAMPLED
    * frames in the shot). Undecodable blobs drop; a video with no
    * decodable frames emits nothing.
    */
  def shots(videos: DataFrame, videoCol: String, idCol: String,
      everyNth: Int = 1): DataFrame =
    shotsFromFrames(
      graft.sources.Video.framesById(videos, videoCol, idCol), everyNth)

  /** The sampled-frame dHash table [[shotAssignment]] rolls up from —
    * public as the oracle-aux seam (r16): ext110/ext112 export it during
    * Verify so DuckDB can restate the lag / cut-threshold / running-sum
    * segmentation and the ceil-middle keyframe rank over the exact
    * hashes the engine computed; the decode+hash pass stays engine-side.
    */
  def frameHashes(frameRows: DataFrame, everyNth: Int = 1): DataFrame =
    graft.sources.Video.sampleFrames(frameRows, everyNth)
      .select(col("video_id").as("id"), col("frame_idx"),
        frameHashUdf(col("rows"), col("cols"), col("channels"), col("px"))
          .as("phash"))

  /** (id, frame_idx, shot_idx) per sampled frame — the per-frame shot
    * assignment [[shotsFromFrames]] and [[keyframes]] both roll up from:
    * one lag + one running sum over the per-video window.
    */
  private def shotAssignment(frameRows: DataFrame,
      everyNth: Int): DataFrame = {
    val fh = frameHashes(frameRows, everyNth)
    val w = Window.partitionBy("id").orderBy("frame_idx")
    fh
      .withColumn("prev", lag(col("phash"), 1).over(w))
      .withColumn("is_cut",
        when(col("prev").isNotNull &&
          bit_count(col("phash").bitwiseXOR(col("prev"))) > CutDist, 1L)
          .otherwise(0L))
      .withColumn("shot_idx",
        sum(col("is_cut")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .select(col("id"), col("frame_idx"), col("shot_idx"))
  }

  /** [[shots]] over an already-decoded frames table
    * ((video_id, frame_idx, rows, cols, channels, px) —
    * [[graft.sources.Video.framesById]]'s shape): the form a session with
    * a MATERIALIZED decoded-frames table uses, paying zero extra decodes.
    */
  def shotsFromFrames(frameRows: DataFrame, everyNth: Int = 1): DataFrame =
    shotAssignment(frameRows, everyNth)
      .groupBy(col("id"), col("shot_idx"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"))
      .select(col("id").as("video_id"), col("shot_idx"),
        col("start_frame"), col("end_frame"), col("n_frames"))

  /** ONE representative frame per shot — the extraction step the
    * segmentation exists for (training-frame sampling: a static interview
    * contributes one frame, a montage one per cut): the MIDDLE sampled
    * frame of each shot (most shot-representative under a hard-cut model
    * — first/last frames sit next to transitions; deterministic:
    * ceil-middle of the sorted sampled frames). Output (video_id,
    * shot_idx, keyframe_idx, shot_frames) — same window partitioning as
    * the segmentation, one extra rank/count pass, still no join. Every
    * frame is sampled.
    */
  def keyframes(frameRows: DataFrame): DataFrame = {
    val ws = Window.partitionBy("id", "shot_idx").orderBy("frame_idx")
    val wc = Window.partitionBy("id", "shot_idx")
    shotAssignment(frameRows, everyNth = 1)
      .withColumn("rn", row_number().over(ws))
      .withColumn("cnt", count(lit(1)).over(wc))
      .filter(col("rn") === floor((col("cnt") + 1) / 2)) // SQL `/` is double
      .select(col("id").as("video_id"), col("shot_idx"),
        col("frame_idx").as("keyframe_idx"), col("cnt").as("shot_frames"))
  }

  /** Per-video shot summary: (video_id, n_shots, longest_shot_frames,
    * mean_shot_frames) — the corpus-curation rollup (shot-count and
    * shot-length distributions are standard video-quality signals: a
    * single-shot static video and a 1-cut-per-frame slideshow both get
    * flagged), over every frame.
    */
  def shotSummary(frameRows: DataFrame): DataFrame =
    shotsFromFrames(frameRows)
      .groupBy(col("video_id"))
      .agg(count(lit(1)).as("n_shots"),
        max(col("n_frames")).as("longest_shot_frames"),
        round(avg(col("n_frames")), 6).as("mean_shot_frames"))
}
