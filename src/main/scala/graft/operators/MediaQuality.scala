package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cv.{AudioOps, ImageOps, Kernels}

/** Per-item QUALITY SCORING for multimodal binary columns — the image /
  * audio / video analog of the text quality gate (ext05's length /
  * punctuation / stopword ratios): the filters a large-scale curation
  * pipeline runs BEFORE dedup and sampling, since a flat gray thumbnail or
  * a silent clip costs as much to store and train on as real content.
  * Public precedent: LAION-5B filtered scraped images on size and
  * image-level scores before CLIP filtering (Schuhmann et al. 2022), and
  * the classic blur gate is variance-of-gradient/Laplacian (Pech-Pacheco
  * et al., ICPR 2000) — the sharpness score here is that family's
  * mean-absolute-gradient member.
  *
  * Scale shape: ONE map-side decode per item producing a fixed-width stats
  * struct — no shuffle at all until whatever rollup the caller adds; the
  * decode UDFs are `asNondeterministic()` optimizer fences like every
  * expensive multimodal UDF in this codebase (one evaluation in one
  * Project, never inlined into scan-level filters). Video stats ride the
  * session's MATERIALIZED decoded-frame table (decode once, analyze many)
  * and reduce per video with one window/agg pass partitioned by video_id —
  * skew bounded by the longest single video, no join anywhere.
  *
  * Undecodable items are NOT dropped (unlike the dedup path, where they
  * cannot pair anyway): quality scoring is exactly where a pipeline counts
  * its corrupt blobs, so they surface as `decodable = false` rows with
  * NULL stats and a failing verdict.
  */
object MediaQuality {

  // ------------------------------------------------------------ images

  /** Luma statistics of a decoded image: (mean, stddev, RMS neighbor
    * gradient, 16-bin histogram entropy in bits). All on the 0..255 luma
    * scale; entropy in [0, 4]. The sharpness score is ROOT-MEAN-SQUARE
    * gradient, not mean-absolute: a step edge of height h contributes h²
    * to gradient energy however it is positioned, but smoothing it into a
    * ramp of width k divides the energy by k — so blur crushes the RMS
    * score while the mean-absolute form (total variation) is nearly
    * blur-invariant along each scan line and separates nothing.
    */
  private[graft] def imageLumaStats(
      img: ImageOps.DecodedImage): (Double, Double, Double, Double) = {
    val gray = Kernels.grayscale(img.px, img.rows, img.cols, img.channels)
    val n = img.rows * img.cols
    var sum = 0.0
    var sumSq = 0.0
    val hist = new Array[Long](16)
    var i = 0
    while (i < n) {
      val v = gray(i) & 0xff
      sum += v
      sumSq += v.toDouble * v
      hist(v >> 4) += 1
      i += 1
    }
    val mean = sum / n
    val variance = math.max(0.0, sumSq / n - mean * mean)
    // gradient ENERGY over all horizontal + vertical neighbor pairs —
    // the blur gate (see class doc: RMS, not mean-absolute)
    var gradSum = 0.0
    var gradN = 0L
    var r = 0
    while (r < img.rows) {
      var c = 0
      val row = r * img.cols
      while (c < img.cols) {
        val v = gray(row + c) & 0xff
        if (c + 1 < img.cols) {
          val d = (gray(row + c + 1) & 0xff) - v
          gradSum += d.toDouble * d; gradN += 1
        }
        if (r + 1 < img.rows) {
          val d = (gray(row + img.cols + c) & 0xff) - v
          gradSum += d.toDouble * d; gradN += 1
        }
        c += 1
      }
      r += 1
    }
    var entropy = 0.0
    var b = 0
    while (b < 16) {
      if (hist(b) > 0) {
        val p = hist(b).toDouble / n
        entropy -= p * math.log(p) / math.log(2.0)
      }
      b += 1
    }
    (mean, math.sqrt(variance),
      if (gradN == 0) 0.0 else math.sqrt(gradSum / gradN), entropy)
  }

  private val imageStatsUdf = udf { bytes: Array[Byte] =>
    if (bytes == null) None
    else ImageOps.decode(bytes).map { img =>
      val (mean, std, grad, ent) = imageLumaStats(img)
      (img.cols, img.rows, mean, std, grad, ent)
    }
  }.asNondeterministic()

  /** Per-image quality stats over an encoded-image binary column:
    * (id, decodable, width, height, mean_luma, contrast, sharpness,
    * entropy) — stats NULL when undecodable; doubles rounded to 6 dp so
    * the output is stable across partitionings (all per-item math, no
    * cross-row float reduction anywhere).
    */
  def imageStats(images: DataFrame, imageCol: String, idCol: String): DataFrame =
    images
      .select(col(idCol).as("id"), imageStatsUdf(col(imageCol)).as("s"))
      .select(col("id"), col("s").isNotNull.as("decodable"),
        col("s._1").as("width"), col("s._2").as("height"),
        round(col("s._3"), 6).as("mean_luma"),
        round(col("s._4"), 6).as("contrast"),
        round(col("s._5"), 6).as("sharpness"),
        round(col("s._6"), 6).as("entropy"))

  /** The image-gate thresholds — named so the BATCH verdict
    * ([[imageVerdicts]]), the catalog entry (ext113) and the STREAMING
    * pre-filter ([[imageQualityReason]], fed to
    * [[graft.streaming.ImageIngest]]) can never drift apart. */
  val DefaultMinSide = 32
  val DefaultMinMeanLuma = 20.0
  val DefaultMinContrast = 8.0
  val DefaultMinSharpness = 8.0

  /** Spark `round(x, 6)`'s exact arithmetic (HALF_UP on the decimal
    * rendering) — the scalar reason functions round stats the same way
    * [[imageStats]]/[[audioStats]] do before ruling, so stream and batch
    * verdicts agree to the last bit even AT a threshold. */
  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The image gate as ONE scalar: bytes → failing reason (None = pass),
    * decode → stats → the EXACT [[imageVerdicts]] rule order over
    * 6-dp-rounded stats. Shared by the streaming pre-filter UDF and the
    * stream/batch parity spec. */
  private[graft] def imageReasonOf(bytes: Array[Byte]): Option[String] =
    Option(bytes).flatMap(ImageOps.decode) match {
      case None => Some("undecodable")
      case Some(img) => imageReasonOfDecoded(img)
    }

  /** The rule half of [[imageReasonOf]] over an ALREADY-decoded image —
    * split out so the gated ingest's combined gate+fingerprint UDF can
    * rule and hash from ONE decode. */
  private[graft] def imageReasonOfDecoded(
      img: ImageOps.DecodedImage): Option[String] = {
    val (mean, std, grad, _) = imageLumaStats(img)
    if (math.min(img.cols, img.rows) < DefaultMinSide) Some("too_small")
    else if (r6(mean) < DefaultMinMeanLuma) Some("too_dark")
    else if (r6(std) < DefaultMinContrast) Some("low_contrast")
    else if (r6(grad) < DefaultMinSharpness) Some("blurred")
    else None
  }

  // the same optimizer fence as every expensive multimodal UDF here: one
  // decode in one Project, never inlined into scan-level filters
  private val imageReasonUdf = udf { bytes: Array[Byte] =>
    imageReasonOf(bytes)
  }.asNondeterministic()

  /** Failing-reason column for an encoded-image column (NULL = pass) —
    * the standalone column form of the quality gate (one fenced decode),
    * for pipelines that want the verdict without stats or fingerprints;
    * the streaming ingest adapters use the
    * combined gate+fingerprint UDFs built on [[imageReasonOfDecoded]]
    * instead, so their gate and dedup share one decode. */
  def imageQualityReason(imageCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    imageReasonUdf(imageCol)

  /** Keep/drop verdict over [[imageStats]] output — the standard curation
    * gate shape: reject undecodable, tiny, too-dark, near-uniform
    * (contrast) and blurred (sharpness) images, with the failing reason
    * (first failing rule in a FIXED order, so the output is deterministic;
    * too_dark precedes the contrast/sharpness rules because darkening
    * scales both scores down — a dark image should fail as dark, not as
    * incidentally blurry): (…stats…, keep BOOL, reason STRING|NULL).
    */
  def imageVerdicts(stats: DataFrame): DataFrame =
    stats.withColumn("reason",
        when(!col("decodable"), "undecodable")
          .when(least(col("width"), col("height")) < DefaultMinSide,
            "too_small")
          .when(col("mean_luma") < DefaultMinMeanLuma, "too_dark")
          .when(col("contrast") < DefaultMinContrast, "low_contrast")
          .when(col("sharpness") < DefaultMinSharpness, "blurred"))
      .withColumn("keep", col("reason").isNull)

  // ------------------------------------------------------------ audio

  /** Silence-frame geometry: RMS is measured per 512-sample frame; a frame
    * under [[SilenceRms]] (on the [-1, 1] scale) counts as silence.
    */
  val SilenceFrameSamples = 512
  val SilenceRms = 0.005
  /** |sample| at or above this (of 32767) counts as digitally clipped. */
  val ClipLevel = 32700

  private[graft] def audioQualityStats(
      a: AudioOps.DecodedAudio): (Double, Double, Double, Double, Double) = {
    val n = a.samples.length
    if (n == 0) return (0.0, 0.0, 0.0, 0.0, 1.0)
    val (rms, peak, _) = AudioOps.features(a)
    var clipped = 0L
    var i = 0
    while (i < n) {
      if (math.abs(a.samples(i).toInt) >= ClipLevel) clipped += 1
      i += 1
    }
    // per-frame silence over the mono mix of each 512-sample span
    var silent = 0L
    var frames = 0L
    var off = 0
    while (off < n) {
      val end = math.min(n, off + SilenceFrameSamples * a.channels)
      var sumSq = 0.0
      var j = off
      while (j < end) {
        val v = a.samples(j) / 32768.0
        sumSq += v * v
        j += 1
      }
      if (math.sqrt(sumSq / (end - off)) < SilenceRms) silent += 1
      frames += 1
      off = end
    }
    val durationSec =
      n.toDouble / a.channels / a.sampleRate
    (durationSec, rms, peak, clipped.toDouble / n, silent.toDouble / frames)
  }

  private val audioStatsUdf = udf { bytes: Array[Byte] =>
    if (bytes == null) None
    else AudioOps.decodeWav(bytes).map { a =>
      val (dur, rms, peak, clip, sil) = audioQualityStats(a)
      (dur, rms, peak, clip, sil)
    }
  }.asNondeterministic()

  /** Per-track audio quality stats over a WAV binary column:
    * (id, decodable, duration_sec, rms, peak, clipping_ratio,
    * silence_ratio) — stats NULL when undecodable, doubles rounded to 6 dp
    * (per-item math only, partition-order-independent).
    */
  def audioStats(tracks: DataFrame, audioCol: String, idCol: String): DataFrame =
    tracks
      .select(col(idCol).as("id"), audioStatsUdf(col(audioCol)).as("s"))
      .select(col("id"), col("s").isNotNull.as("decodable"),
        round(col("s._1"), 6).as("duration_sec"),
        round(col("s._2"), 6).as("rms"),
        round(col("s._3"), 6).as("peak"),
        round(col("s._4"), 6).as("clipping_ratio"),
        round(col("s._5"), 6).as("silence_ratio"))

  /** The audio-gate thresholds — shared like the image set. */
  val DefaultMinDurationSec = 0.5
  val DefaultMinRms = 0.01
  val DefaultMaxSilenceRatio = 0.5
  val DefaultMaxClippingRatio = 0.01

  /** The audio gate as ONE scalar: bytes → failing reason (None = pass),
    * the EXACT [[audioVerdicts]] rule order over 6-dp-rounded stats —
    * shared by the streaming pre-filter UDF and the parity spec. */
  private[graft] def audioReasonOf(bytes: Array[Byte]): Option[String] =
    Option(bytes).flatMap(AudioOps.decodeWav) match {
      case None => Some("undecodable")
      case Some(a) => audioReasonOfDecoded(a)
    }

  /** The rule half of [[audioReasonOf]] over an already-decoded track —
    * see [[imageReasonOfDecoded]]. */
  private[graft] def audioReasonOfDecoded(
      a: AudioOps.DecodedAudio): Option[String] = {
    val (dur, rms, _, clip, sil) = audioQualityStats(a)
    if (r6(dur) < DefaultMinDurationSec) Some("too_short")
    else if (r6(rms) < DefaultMinRms) Some("near_silent")
    else if (r6(sil) > DefaultMaxSilenceRatio) Some("mostly_silent")
    else if (r6(clip) > DefaultMaxClippingRatio) Some("clipped")
    else None
  }

  private val audioReasonUdf = udf { bytes: Array[Byte] =>
    audioReasonOf(bytes)
  }.asNondeterministic()

  /** Failing-reason column for a WAV binary column (NULL = pass) — the
    * standalone column form of the audio gate; see
    * [[imageQualityReason]] for the ingest adapters' combined variant. */
  def audioQualityReason(audioCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    audioReasonUdf(audioCol)

  /** Keep/drop verdict over [[audioStats]] — reject undecodable, too-short,
    * near-silent, mostly-silent and clipped tracks (first failing rule in
    * fixed order): (…stats…, keep BOOL, reason STRING|NULL).
    */
  def audioVerdicts(stats: DataFrame): DataFrame =
    stats.withColumn("reason",
        when(!col("decodable"), "undecodable")
          .when(col("duration_sec") < DefaultMinDurationSec, "too_short")
          .when(col("rms") < DefaultMinRms, "near_silent")
          .when(col("silence_ratio") > DefaultMaxSilenceRatio, "mostly_silent")
          .when(col("clipping_ratio") > DefaultMaxClippingRatio, "clipped"))
      .withColumn("keep", col("reason").isNull)

  // ------------------------------------------------------------ video

  // Per-frame mean luma in MICRO-units (round(mean·10⁶) as a Long): the
  // video summary's cross-video mean then reduces by an exact integer
  // SUM — order-independent however the frames are partitioned — instead
  // of a float sum whose low bits depend on add order. The 10⁻⁶ grain
  // matches the 6-dp output rounding, so nothing visible is lost.
  private val frameLumaMicrosUdf = udf {
    (px: Array[Byte], rows: Int, cols: Int, channels: Int) =>
      val gray = Kernels.grayscale(px, rows, cols, channels)
      var sum = 0.0
      var i = 0
      while (i < gray.length) { sum += (gray(i) & 0xff); i += 1 }
      if (gray.length == 0) 0L else math.round(sum / gray.length * 1e6)
  }.asNondeterministic()

  /** The per-frame substrate of [[videoStats]]: (video_id, frame_idx,
    * luma_micro, fh, w, h) — one row per decoded frame, all per-item
    * math (the dHash and the micro-unit luma), no shuffle. Exposed as
    * the oracle-aux seam (ext115 exports it and DuckDB replays the
    * summary rollup) and so a caller holding the materialized frame
    * table can compute several summaries from one hash/luma pass. */
  def videoFrameStats(frameRows: DataFrame): DataFrame =
    frameRows.select(col("video_id"), col("frame_idx"),
      frameLumaMicrosUdf(col("px"), col("rows"), col("cols"), col("channels"))
        .as("luma_micro"),
      VideoShots.frameHash(col("px"), col("rows"), col("cols"),
        col("channels")).as("fh"),
      col("cols").as("w"), col("rows").as("h"))

  /** Per-video quality stats over a DECODED frame table
    * ([[graft.sources.Video.framesById]] schema) — the fourth consumer of
    * the materialized frame table (shots hash it, motion backfill kernels
    * it, keyframes sample it, this summarizes it): per video,
    * (video_id, n_frames, width, height, mean_luma, low_info_ratio,
    * static_ratio) where low_info_ratio is the fraction of frames whose
    * dHash popcount falls outside [[TemporalAlignment.informative]]'s
    * band (black frames / title cards) and static_ratio is the fraction
    * of frame TRANSITIONS whose dHash Hamming distance is <= [[StaticDist]]
    * (a 2-hour static interview scores ~1.0; a montage ~0.0). One
    * window + one agg, both partitioned by video_id — no join. Every
    * cross-row reduction is order-independent (exact integer sums for
    * the luma mean, exact 0/1 sums for the ratios), so the summary is
    * bit-stable across partitionings — and oracle-replayable.
    */
  def videoStats(frameRows: DataFrame): DataFrame =
    videoStatsFromFrames(videoFrameStats(frameRows))

  /** A frame transition at or under this dHash distance counts as static. */
  private[graft] val StaticDist = 2

  /** [[videoStats]] downstream of an already-built [[videoFrameStats]]
    * frame. */
  def videoStatsFromFrames(pf: DataFrame): DataFrame = {
    val w = Window.partitionBy("video_id").orderBy("frame_idx")
    pf
      .withColumn("prev", lag(col("fh"), 1).over(w))
      .groupBy(col("video_id"))
      .agg(count(lit(1)).as("n_frames"),
        first(col("w")).as("width"),
        first(col("h")).as("height"),
        round(sum(col("luma_micro")) / (count(lit(1)) * lit(1e6)), 6)
          .as("mean_luma"),
        round(avg(when(TemporalAlignment.informative(col("fh")), 0.0)
          .otherwise(1.0)), 6).as("low_info_ratio"),
        round(coalesce(
          avg(when(col("prev").isNotNull,
            when(bit_count(col("prev").bitwiseXOR(col("fh"))) <= StaticDist,
              1.0).otherwise(0.0))), lit(0.0)), 6).as("static_ratio"))
  }
}
