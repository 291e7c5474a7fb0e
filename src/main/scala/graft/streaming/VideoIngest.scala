package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{ImageDedup, VideoDedup}

/** Streaming VIDEO near-duplicate suppression — the video adapter over
  * the [[PerceptualIngest]] core (beside text [[NearDupIngest]], image
  * [[ImageIngest]] and audio [[AudioIngest]]). A video is not one hash
  * but a BAG of sampled frame hashes, so the adapter fans each arriving
  * clip into per-frame band rows
  * (mirror-canonical dHash on every [[EveryNth]]th decoded frame, the EXACT
  * arithmetic of the batch pair join ext104 — sampling stride,
  * low-information filter band [[VideoDedup.LowInfoMinBits]] and banding
  * [[ImageDedup.bandSlices]] all shared), routes them through the SAME
  * (band, slice)-keyed watermark-evicted state, and votes at video level
  * in the sink: the clip is rejected when ≥ [[MinOverlap]] of its surviving
  * sampled frames match ONE retained video at ONE temporal alignment
  * (±[[EveryNth]] frame-offset window — ext104's montage rejection, so a
  * shuffled recut of retained footage does not count as a re-upload).
  *
  * Frame identity rides the core's Long itemId as a packed composite
  * (video_id << 20 | frame_idx); the core's `sameGroup` skip compares the
  * video prefix so a static scene's sibling frames can neither reject
  * their own clip nor shadow a true cross-video match in the best-match
  * scan.
  *
  * Streaming asymmetries vs the batch twin, stated: the overlap
  * denominator is the ARRIVING clip's surviving frame count only (the
  * retained side's count lives in evicted state, not in this batch) — the
  * containment semantics of ext104's "shorter side" when the arriving
  * clip is the shorter, conservative otherwise; and per (frame, band) the
  * state reports the single closest retained frame, so when several
  * retained near-dups share a bucket the per-video vote undercounts —
  * suppression evidence is the best single alignment found, never a
  * false merge. An all-low-information clip (every sampled frame filtered)
  * carries no fingerprintable identity and is dropped like an undecodable
  * blob — same contract as the batch path, which can never pair it.
  */
object VideoIngest {

  /** Frame-index bits in the packed composite id: frame_idx < 2^20 (~1M
    * sampled frames per clip) and video ids below 2^43 — enforced at
    * pack time. */
  val FrameBits = 20
  private val FrameMask = (1L << FrameBits) - 1

  /** ext104's frame stride, frame-match distance and overlap threshold. */
  private val EveryNth = VideoDedup.NearDupEveryNth
  private val MaxDist = VideoDedup.MaxDist
  private val MinOverlap = 0.6
  /** The gate's least informative-frame share (ext115's low-info rule). */
  private val MinInfoRatio = 0.5

  /** gvid bytes → every sampled (frame_idx, mirror-canonical dHash), None
    * when undecodable: [[VideoDedup.sampleFrameHashes]] — the batch path's
    * sampler, shared so stride/hash arithmetic cannot drift. The
    * low-information filter is an array expression over its output, so
    * the gate's ratio rule and the band rows share one decode. Fenced
    * like every decode UDF: unfenced, the optimizer copies it into each
    * consumer and the clip decodes once per copy. */
  private val sampleUdf = udf { bytes: Array[Byte] =>
    VideoDedup.sampleFrameHashes(bytes, EveryNth)
  }.asNondeterministic()

  /** vid + frame_idx → packed composite id, range-checked at pack time. */
  private def packedId(vid: Column, frameIdx: Column): Column =
    when(vid.between(0L, (1L << (63 - FrameBits)) - 1) &&
      frameIdx < (1 << FrameBits),
      shiftleft(vid, FrameBits).bitwiseOR(frameIdx.cast("long")))
      .otherwise(raise_error(concat(lit("VideoIngest: id/frame out of "),
        lit(s"packing range (id < 2^${63 - FrameBits}, frame < 2^$FrameBits)"))))

  /** Per-clip vote over one micro-batch's frame-level verdicts (all of a
    * clip's band rows share its micro-batch, so this is plain batch work —
    * the [[PerceptualIngest]] division of labor): matched frames are
    * histogrammed per (arriving clip, retained video, frame offset), the
    * best ±[[EveryNth]] offset window per retained video is the clip's
    * aligned support, and the clip keeps iff its best support over ALL
    * retained videos stays below [[MinOverlap]] of its surviving frames.
    * Output: (vid_id, source, ingest_ts, gvid, n_frames, matched_vid,
    * overlap_ratio, keep, reason).
    */
  private def rollup(batch: DataFrame): DataFrame = {
    val v = batch
      .withColumn("vid_id", shiftright(col("item_id"), FrameBits))
      .withColumn("own_f", col("item_id").bitwiseAND(lit(FrameMask)))
    val base = v.groupBy(col("vid_id"))
      .agg(first(col("source")).as("source"),
        timestamp_millis(first(col("ts_millis"))).as("ingest_ts"),
        first(col("payload"), ignoreNulls = true).as("gvid"),
        countDistinct(col("own_f")).as("n_frames"),
        // a clip's group is either all dedup-path frame rows or ONE
        // quality row (gated clips skip the frame fan-out entirely)
        first(col("reason"), ignoreNulls = true).as("quality_reason"))
    val perOffset = v
      .filter(col("score") <= MaxDist && col("matched_item") >= 0)
      .withColumn("matched_vid", shiftright(col("matched_item"), FrameBits))
      .withColumn("off",
        col("own_f") - col("matched_item").bitwiseAND(lit(FrameMask)))
      .groupBy(col("vid_id"), col("matched_vid"), col("off"))
      .agg(countDistinct(col("own_f")).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vid_id", "matched_vid").orderBy("off")
      .rangeBetween(-EveryNth, EveryNth)
    val best = perOffset
      .withColumn("win", sum(col("cnt")).over(w))
      .groupBy(col("vid_id"), col("matched_vid"))
      .agg(max(col("win")).as("aligned"))
      // best single retained video per clip; ties → lower matched_vid
      .groupBy(col("vid_id"))
      .agg(max(struct(col("aligned"), (-col("matched_vid")).as("nm"))).as("b"))
      .select(col("vid_id"), col("b.aligned").as("aligned_frames"),
        (-col("b.nm")).as("matched_vid"))
    PerceptualIngest.decide(base.join(best, Seq("vid_id"), "left")
        .withColumn("overlap_ratio",
          least(lit(1.0), round(coalesce(col("aligned_frames"), lit(0L))
            .cast("double") / col("n_frames"), 6))),
        col("overlap_ratio") < MinOverlap)
      .select("vid_id", "source", "ingest_ts", "gvid", "n_frames",
        "matched_vid", "overlap_ratio", "keep", "reason")
  }

  /** End-to-end: (vid_id, source, ingest_ts, gvid) stream → near-deduped
    * landing table (kept clips, partitioned by source) + `<table>_rejects`
    * with (matched_vid, overlap_ratio, n_frames, reason) match evidence.
    * Each clip is sampled ONCE per micro-batch; its surviving frames fan
    * out into per-frame band rows (the gvid payload rides on the first
    * surviving frame only), and a clip with no surviving frame is dropped.
    *
    * `qualityGate`: reasons derive from the SAME single sampler
    * evaluation that feeds banding, entirely as expression-level array
    * ops over the sampled (frame_idx, hash) list: "undecodable" (decode
    * failed), "no_informative_frames" (every sampled frame inside the
    * low-info band — a silent drop when ungated, an audited reject here),
    * "mostly_low_info" (surviving fraction < [[MinInfoRatio]] — ext115's
    * low_info_ratio rule evaluated on the sampled grid). A failing clip
    * rides one placeholder frame into a single
    * [[PerceptualIngest.QualityBand]] row, never fans out into frame band
    * state, and lands in rejects with its rule. */
  def writeDeduped(
      videos: DataFrame, table: String, checkpoint: String,
      watermarkDelay: String = "10 minutes",
      qualityGate: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    val sampled = videos
      .select(col("vid_id").as("vid"), col("source"), col("ingest_ts"),
        sampleUdf(col("gvid")).as("fs_all"), col("gvid").as("blob"))
      .withColumn("fs", filter(col("fs_all"), f =>
        graft.operators.TemporalAlignment.informative(f.getField("_2"),
          VideoDedup.LowInfoMinBits, VideoDedup.LowInfoMaxBits)))
      .withColumn("reason",
        if (!qualityGate) lit(null).cast("string")
        else when(col("fs_all").isNull, "undecodable")
          .when(size(col("fs")) === 0, "no_informative_frames")
          .when(size(col("fs")).cast("double") / size(col("fs_all"))
            < MinInfoRatio, "mostly_low_info"))
    val frames = sampled
      .select(col("vid"), col("source"), col("ingest_ts"), col("blob"),
        col("reason"),
        posexplode(when(col("reason").isNull, col("fs"))
          .otherwise(array(struct(lit(0).as("_1"), lit(0L).as("_2")))))
          .as(Seq("p", "f")))
      .select(packedId(col("vid"), col("f._1")).as("itemId"), col("source"),
        col("ingest_ts"), col("reason"), col("f._2").as("fp"),
        when(col("p") === 0, col("blob")).as("payload"))
    val bandRows = PerceptualIngest.bandRows[Long, Array[Byte]](frames,
      ImageDedup.bandSlices(_, MaxDist), watermarkDelay)
    PerceptualIngest.landAndReject(
      PerceptualIngest.verdicts(bandRows, PerceptualIngest.Hamming,
        PerceptualIngest.ttlMillisOf(watermarkDelay),
        PerceptualIngest.MaxPerBucket,
        sameGroup = (a, b) => (a >> FrameBits) == (b >> FrameBits)),
      table, checkpoint, rollup,
      landDrop = Seq("matched_vid", "overlap_ratio"),
      rejectDrop = Seq("gvid"))
  }
}
