package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cv.AudioOps

/** SILENCE-GAP segmentation of audio tracks — the audio sibling of
  * [[VideoShots]]'s shot-boundary detection, and the VAD-shaped primitive
  * a speech-corpus pipeline runs before cutting training utterances:
  * energy-based voice-activity detection (frame RMS against a threshold,
  * the classic pre-neural VAD) splits each track at silence gaps, so a
  * 2-hour recording contributes utterance-sized segments instead of one
  * opaque blob, and pure-silence tracks contribute nothing.
  *
  * Scale shape (deliberately [[VideoShots]]'s): ONE map-side decode per
  * track exploding to (frame_idx, rms) rows on a fixed 512-sample grid →
  * voiced-frame filter → one per-track lag window (a gap longer than
  * [[MaxGapFrames]] opens a segment; shorter dropouts — a breath, a
  * plosive dip — stay inside) → per-(track, segment) rollup. No join
  * anywhere; skew bounded by the longest single track, exactly the
  * frame-table argument. The decode UDF is `asNondeterministic()` — the
  * standard optimizer fence for expensive multimodal UDFs here.
  *
  * Segment times are reported on the frame grid (start/end frame index +
  * seconds at the track's sample rate); undecodable blobs drop (the
  * modality family's contract — count them upstream via the quality
  * gate's `decodable` flag, which is exactly where corrupt blobs get
  * counted).
  */
object AudioSegmentation {

  /** The segmentation frame grid, shared with
    * [[MediaQuality.SilenceFrameSamples]] so the quality gate's
    * silence_ratio and the segmenter count the same frames.
    */
  val FrameSamples: Int = MediaQuality.SilenceFrameSamples

  // optimizer fence — see AudioContainment.windowHashUdf
  private val frameRmsUdf = udf { bytes: Array[Byte] =>
    if (bytes == null) None
    else AudioOps.decodeWav(bytes).map { a =>
      (a.sampleRate, AudioOps.frameRms(a, FrameSamples).toSeq)
    }
  }.asNondeterministic()

  /** (id, frame_idx, rms, sample_rate) per 512-sample frame of each
    * decodable track, rms rounded to 6 dp (per-item math only).
    */
  def frameRms(tracks: DataFrame, audioCol: String, idCol: String): DataFrame =
    tracks
      .select(col(idCol).as("id"), frameRmsUdf(col(audioCol)).as("r"))
      .filter(col("r").isNotNull)
      .select(col("id"), col("r._1").as("sample_rate"),
        posexplode(col("r._2")).as(Seq("frame_idx", "rms")))
      .select(col("id"), col("frame_idx"), round(col("rms"), 6).as("rms"),
        col("sample_rate"))

  /** A frame at or above this RMS is voiced. */
  private[graft] val VoiceRms = 0.01
  /** Longest silent gap, in frames, that does not end a segment. */
  private[graft] val MaxGapFrames = 1

  /** Voiced segments per track: (id, seg_idx, start_frame, end_frame,
    * n_voiced_frames, duration_sec) — a segment is a maximal run of
    * frames with rms >= [[VoiceRms]] allowing interior silent gaps of at
    * most [[MaxGapFrames]]; duration spans start..end inclusive (interior
    * tolerated gaps count toward duration, as they do in the audio).
    * Tracks with no voiced frames emit nothing.
    */
  def segments(tracks: DataFrame, audioCol: String,
      idCol: String): DataFrame = {
    val voiced = frameRms(tracks, audioCol, idCol)
      .filter(col("rms") >= VoiceRms)
    val w = Window.partitionBy("id").orderBy("frame_idx")
    voiced
      .withColumn("gap", col("frame_idx") - lag(col("frame_idx"), 1).over(w))
      .withColumn("newSeg",
        when(col("gap").isNull || col("gap") > MaxGapFrames + 1, 1L)
          .otherwise(0L))
      .withColumn("seg_idx", sum(col("newSeg")).over(w) - 1)
      .groupBy(col("id"), col("seg_idx"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_voiced_frames"),
        round((max(col("frame_idx")) - min(col("frame_idx")) + 1) *
          lit(FrameSamples.toDouble) / first(col("sample_rate")), 6)
          .as("duration_sec"))
  }
}
