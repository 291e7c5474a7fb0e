package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cv.ImageOps
import graft.sources.Video

/** Perceptual near-duplicate detection over VIDEO binary columns — the
  * last modality of the dedup family, composed from the pieces the engine
  * already has: GVID decode ([[Video.decodeFrames]] — the stubbed codec
  * boundary; a real mp4 decoder changes only that body), every-nth frame
  * SAMPLING (temporal subsampling before any expensive work), per-sampled-
  * frame dHash ([[ImageOps.dHash64]] on the raw plane, no PNG round-trip),
  * then the SAME Hamming-banded core as images/audio at FRAME level and a
  * vote aggregation at video level.
  *
  * Scale shape: fingerprinting is one map-side pass per video (decode +
  * k sampled hashes, k = nFrames/everyNth); the frame-hash table is
  * O(k·|videos|) rows; candidates are the banded equi-join on frame-hash
  * slices (never all-pairs); the video-level verdict is one hash agg over
  * frame matches. Two videos near-dup when ≥ `minOverlap` of their sampled
  * frames match within [[MaxDist]] — robust to a re-encode (hashes stable),
  * an intro/outro edit (only some frames must match), and frame jitter
  * (every sampled frame of A is tested against every sampled frame of B
  * that lands in the same band bucket, not just the same index).
  */
object VideoDedup {

  /** Low-information frame band: a sampled frame's mirror-canonical dHash
    * participates in pairing only when its popcount sits in
    * [LowInfoMinBits, LowInfoMaxBits] — shared with [[graft.streaming.VideoIngest]]
    * so batch and stream agree bit-for-bit on which frames carry identity. */
  val LowInfoMinBits = 4
  val LowInfoMaxBits = 60

  /** Frame-hash Hamming distance at or under which two frames match. */
  private[graft] val MaxDist = 3
  /** The near-dup path's frame stride (containment samples every frame). */
  private[graft] val NearDupEveryNth = 2
  /** Whole-video and segment signature tiers' banding distances (see
    * [[segmentCandidates]] for why the segment tier's is tight). */
  private val SigMaxDist = 10
  private val SegSigMaxDist = 4
  /** Best-alignment share of the shorter clip that reports containment. */
  private[graft] val MinCoverage = 0.8

  def informativeHash(h: Long): Boolean = {
    val b = java.lang.Long.bitCount(h)
    b >= LowInfoMinBits && b <= LowInfoMaxBits
  }

  /** GVID bytes → sampled (frame_idx, hash), None if undecodable — THE
    * sampler, shared with the streaming suppressor
    * ([[graft.streaming.VideoIngest]]) so stride base and hash variant can
    * never drift between batch and stream. Frame hashes are
    * MIRROR-CANONICAL ([[ImageOps.dHash64MirrorCanonical]]) so a
    * horizontally mirrored re-upload matches its original frame-for-frame —
    * the same evasion the image path canonicalizes away; the temporal
    * alignment vote is untouched (mirroring is spatial, frame indices keep
    * their offsets).
    */
  def sampleFrameHashes(bytes: Array[Byte],
      everyNth: Int): Option[Seq[(Int, Long)]] =
    if (bytes == null) None
    else Video.decodeFrames(bytes).map { case (rows, cols, ch, _, frames) =>
      frames.zipWithIndex.collect { case (px, i) if i % everyNth == 0 =>
        (i, ImageOps.dHash64MirrorCanonical(ImageOps.DecodedImage(rows, cols, ch, px)))
      }
    }

  // optimizer fence — see AudioContainment.windowHashUdf: unfenced, the
  // full GVID decode + per-frame hash runs once for the isNotNull filter,
  // once for size() and once for the explode generator
  private def sampleHashUdf(everyNth: Int) =
    udf { bytes: Array[Byte] => sampleFrameHashes(bytes, everyNth) }
      .asNondeterministic()

  /** (id, frame_idx, phash, n_sampled) per sampled frame of each decodable
    * video — `n_sampled` rides along so the overlap denominator needs no
    * second pass over the blobs.
    */
  def frameHashes(videos: DataFrame, videoCol: String, idCol: String,
      everyNth: Int = 2): DataFrame =
    videos
      .select(col(idCol).as("id"),
        sampleHashUdf(everyNth)(col(videoCol)).as("fs"))
      .filter(col("fs").isNotNull)
      .select(col("id"), size(col("fs")).as("n_sampled"),
        explode(col("fs")).as("f"))
      .select(col("id"), col("f._1").as("frame_idx"),
        col("f._2").as("phash"), col("n_sampled"))

  /** The informative (post-low-info-filter) frame-hash table — the frame
    * substrate [[nearDupPairs]] and [[prefilteredNearDupPairsFromKept]] both
    * consume; expose it so a session can materialize ONE decode pass for
    * all of them (the decoded-frame-table discipline).
    */
  def keptFrameHashes(videos: DataFrame, videoCol: String, idCol: String,
      everyNth: Int = 2): DataFrame =
    frameHashes(videos, videoCol, idCol, everyNth)
      // drop LOW-INFORMATION frames (black frames, title cards, uniform
      // scenes → dHash with almost no set bits): they match every video's
      // quiet frames, convey no identity, and their band buckets grow with
      // the CORPUS, not the content — the one skew source the banded join
      // cannot bound. Standard fingerprinting practice (same reason
      // audio fingerprints skip silence).
      .filter(TemporalAlignment.informative(col("phash"),
        LowInfoMinBits, LowInfoMaxBits))

  /** Verified near-duplicate video pairs: (id_a < id_b, matched_frames,
    * overlap_ratio).
    *
    * Overlap contract: both numerator and denominator count frames that
    * SURVIVE the low-information filter ([[keptFrameHashes]]; r8 ADVICE: a pre-filter
    * denominator made a duplicate dominated by near-uniform frames
    * unreachable, since filtered frames can never match). `matched_frames`
    * counts distinct matched frames on the SMALLER (post-filter) side —
    * counting the larger side could exceed the denominator when many of
    * its frames match few of the other's (static scenes).
    *
    * TEMPORAL ALIGNMENT (r8 ask #4): `overlap_ratio` is the largest
    * single-alignment support via the shared
    * [[TemporalAlignment.alignedOverlap]] core (jitter = the stride, one
    * original frame either side), so a shuffled MONTAGE of A's frames no
    * longer scores like a re-encode of A (its matches are real but
    * scattered across offsets), while re-encodes, splices, contained clips
    * and uniformly time-shifted copies all concentrate their matches at
    * one offset and keep their scores. Capped at 1.0 (a static-scene
    * duplicate matches every frame at every offset; its best window
    * over-counts the same frames at neighboring offsets).
    * Pairs with overlap_ratio >= 0.6 survive.
    */
  def nearDupPairs(videos: DataFrame, videoCol: String,
      idCol: String): DataFrame =
    nearDupPairsFromKept(keptFrameHashes(videos, videoCol, idCol,
      NearDupEveryNth).localCheckpoint(false))

  /** [[nearDupPairs]] over an already-built [[keptFrameHashes]] frame
    * (sampled every [[NearDupEveryNth]] frames). */
  def nearDupPairsFromKept(fh: DataFrame,
      minOverlap: Double = 0.6): DataFrame = {
    // frame-level banded join on a composite key; same-video collisions
    // (static scenes) are dropped by the different-video filter
    val framePairs = ImageDedup.hammingNearDupPairs(
      fh.select(struct(col("id"), col("frame_idx")).as("id"), col("phash")),
      MaxDist)
      .select(col("id_a.id").as("va0"), col("id_a.frame_idx").as("fa0"),
        col("id_b.id").as("vb0"), col("id_b.frame_idx").as("fb0"))
      .filter(col("va0") =!= col("vb0"))
      // canonicalize: the struct ordering above sorts (id, frame_idx)
      // lexicographically, so a pair can arrive either way around — keep
      // BOTH frame indices aligned with their canonical sides
      .select(
        least(col("va0"), col("vb0")).as("id_a"),
        greatest(col("va0"), col("vb0")).as("id_b"),
        when(col("va0") <= col("vb0"), col("fa0")).otherwise(col("fb0")).as("ta"),
        when(col("va0") <= col("vb0"), col("fb0")).otherwise(col("fa0")).as("tb"))
    // POST-FILTER per-video frame counts — the denominator must count only
    // frames that are allowed to match
    val counts = fh.groupBy(col("id")).agg(count(lit(1)).as("n_kept"))
    TemporalAlignment.alignedOverlap(framePairs, counts,
      jitter = NearDupEveryNth)
      .select(col("id_a").as("vid_a"), col("id_b").as("vid_b"),
        col("matched_units").as("matched_frames"),
        least(lit(1.0), round(col("aligned_units").cast("double") /
          least(col("na"), col("nb")), 6)).as("overlap_ratio"))
      .filter(col("overlap_ratio") >= minOverlap)
  }

  /** One 64-bit VIDEO-LEVEL signature per video: the per-bit MAJORITY
    * vote over its informative frame hashes. The tiered-retrieval dial
    * for corpus-scale video dedup: frame-level banding emits
    * |frames|×(maxDist+1) band rows — at archive scale that candidate
    * stream dwarfs the video count by 2–3 orders of magnitude — while the
    * majority signature gives ONE row per video whose Hamming distance is
    * small exactly when most frames agree (a re-encode votes identically;
    * a family variant near-identically; an unrelated video ~32 bits
    * away). Computed as one hash aggregation over the frame-hash table
    * (64 codegen'd bit-sums, no UDF, no second decode).
    */
  def videoSignatures(frameHashFrame: DataFrame): DataFrame =
    majoritySignatures(frameHashFrame.groupBy(col("id")))

  /** SEGMENT-level majority signatures — the splice-recall dial of the
    * two-tier prefilter (r9 verdict #2): one signature per `segLen`
    * consecutive SAMPLED frames (fixed spans of `everyNth * segLen`
    * original frames, so batch grids agree across videos), alongside the
    * whole-video signature. A HEAVY SPLICE shares whole spans of its
    * source even when its minority share dilutes the global majority vote
    * past [[SigMaxDist]] — the shared spans' segment signatures still sit
    * within threshold and carry the pair to refine. Candidate volume
    * stays |videos| × (1 + ⌈k/segHop⌉) signature rows (k = sampled
    * frames/video), 2–3 orders below frame-level banding.
    *
    * `segHop` (r10 verdict #2 — the audio hop dial,
    * [[AudioContainment]]'s `hopSec < windowSec`, in sampled-frame
    * units): spans start every `segHop` sampled frames instead of every
    * `segLen` (0 = aligned grid, the default). The aligned grid's named
    * miss class is a splice whose copied run is shifted by a
    * non-multiple of `segLen` with content varying within every shared
    * span — no span of the copy then covers the same frame set as any
    * span of the source, and every vote dilutes. With `segHop =
    * segLen/2` any shift ≡ 0 (mod segHop) puts some copy span exactly
    * over a source span again (spec-pinned: a constructed splice the
    * aligned grid provably misses is caught), at ⌈segLen/segHop⌉× the
    * segment rows — the IVF nProbe trade, priced by ext124's hop-tier
    * histogram and reported by ext122. Output: (id, phash), several
    * rows per id.
    */
  def segmentSignatures(fh: DataFrame, everyNth: Int = 2,
      segLen: Int = 16, segHop: Int = 0): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    val hop = if (segHop <= 0) segLen else segHop
    require(hop <= segLen, s"segHop must be <= segLen, got $segHop > $segLen")
    if (hop == segLen)
      // aligned grid: keep the explode-free plan (one project, no Generate)
      majoritySignatures(
        fh.withColumn("seg", floor(col("frame_idx") / (everyNth * segLen)))
          .groupBy(col("id"), col("seg")))
    else {
      // overlapping spans: span k covers sampled-frame units
      // [k*hop, k*hop + segLen); a frame at unit u belongs to spans
      // k ∈ [max(0, ceil((u-segLen+1)/hop)), floor(u/hop)] —
      // ⌈segLen/hop⌉ rows per frame, the whole cost of the dial
      val u = floor(col("frame_idx") / everyNth)
      majoritySignatures(
        fh.withColumn("seg", explode(sequence(
            greatest(lit(0L), floor((u - lit(segLen) + lit(hop)) / lit(hop))),
            floor(u / lit(hop)))))
          .groupBy(col("id"), col("seg")))
    }
  }

  /** Per-bit majority vote over each group's `phash` values — one hash
    * aggregation of 64 codegen'd bit-sums, no UDF, shared by the video-
    * and segment-level signature builders. */
  private def majoritySignatures(
      grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = {
    val bitSums = (0 until 64).map { b =>
      sum(shiftrightunsigned(col("phash"), b).bitwiseAND(lit(1L))).as(s"b$b")
    }
    grouped
      .agg(count(lit(1)).as("n"), bitSums: _*)
      .select(col("id"),
        (0 until 64).map { b =>
          when(col(s"b$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_)).as("phash"))
  }

  /** Candidate video pairs from the SEGMENT tier alone: the Hamming-
    * banded join over [[segmentSignatures]], distinct different-video
    * (id_a, id_b). [[SegSigMaxDist]] is deliberately TIGHT (4, vs
    * the whole-video tier's 10): the segment tier exists to catch CLEAN
    * shared spans, whose segment votes come out near-identical — global
    * drift tolerance is the whole-video tier's job — and banding at
    * distance d cuts the hash into d+1 slices, so a tight threshold
    * means WIDE slices (5 × ~13 bits vs 11 × ~6), a large slice-value
    * space, and small buckets: joining segments at distance 10 made
    * bucket sizes explode quadratically at corpus scale for recall the
    * tier does not need. */
  def segmentCandidates(fh: DataFrame, everyNth: Int = 2,
      segLen: Int = 16, segHop: Int = 0): DataFrame =
    ImageDedup.hammingNearDupPairs(
      segmentSignatures(fh, everyNth, segLen, segHop), SegSigMaxDist)
      .select(col("id_a"), col("id_b")).distinct()

  /** Candidate video pairs for the two-tier path: the whole-video
    * [[videoSignatures]] banded join at [[SigMaxDist]] UNION the
    * [[segmentCandidates]] at their tight [[SegSigMaxDist]] — each
    * granularity joined in ITS OWN band space so bucket sizes never add
    * across tiers (see [[segmentCandidates]]). `segLen <= 0` disables
    * the segment tier (whole-video signatures only — the r9 behavior,
    * kept callable so ext122 can report both tiers' candidate counts
    * side by side). */
  def signatureCandidates(fh: DataFrame, everyNth: Int = 2,
      segLen: Int = 16, segHop: Int = 0): DataFrame = {
    val whole = ImageDedup.hammingNearDupPairs(videoSignatures(fh), SigMaxDist)
      .select(col("id_a"), col("id_b"))
    (if (segLen <= 0) whole
     else whole.unionByName(
       segmentCandidates(fh, everyNth, segLen, segHop)))
      .distinct()
  }

  /** PREFILTERED near-dup pairs over an already-built
    * [[keptFrameHashes]] frame — the two-tier form of [[nearDupPairs]]
    * for archive scale, the ANN playbook (coarse candidates → exact
    * refine on the pool, ext61's IVF-PQ shape) applied to video:
    *  1. candidate video pairs from a Hamming-banded join over the
    *     [[videoSignatures]] UNION the [[segmentSignatures]]
    *     (|videos| × (1 + segments) rows, not |frames|) at [[SigMaxDist]];
    *  2. the SAME temporal-alignment vote as the full path, evaluated
    *     per candidate pair over the two videos' collected frame-hash
    *     lists — O(na·nb) per pair, bounded by item length, paid only
    *     for candidates.
    * APPROXIMATE BY DESIGN: duplicates sharing the FULL frame set
    * (re-encodes, perturbed variants, mirrored or time-shifted copies —
    * the overwhelming duplicate class in a scraped archive) vote
    * near-identical whole-video signatures and always reach refine; a
    * HEAVY SPLICE that dilutes the global majority vote past
    * [[SigMaxDist]] is carried to refine by the SEGMENT tier instead
    * (r9 verdict #2 — its shared spans vote clean segment signatures;
    * spec-pinned: the splice the whole-video tier provably misses is
    * caught with the segment tier on). The residual miss class is
    * named in [[segmentSignatures]]'s doc (grid-misaligned splices with
    * within-span variation — shrink `segLen` to trade candidate rows
    * for that recall); the whole trade is AUDITED against the exact
    * path by ext122 exactly as ext16/ext17/ext62 audit the ANN tiers,
    * now reporting both tiers' candidate counts. [[SigMaxDist]] cannot
    * simply be raised instead: banding at distance d needs d+1 slices,
    * and past ~10 the slices get so narrow that bucket collisions
    * regress the candidate join toward all-pairs. Verdict semantics on
    * surviving candidates are bit-identical to [[nearDupPairs]]
    * (spec-pinned parity), so prefiltered ⊆ exact holds whatever the
    * candidate tier admits.
    */
  def prefilteredNearDupPairsFromKept(fh: DataFrame,
      segLen: Int = 16): DataFrame =
    refineCandidates(fh,
      signatureCandidates(fh, NearDupEveryNth, segLen), NearDupEveryNth)

  /** The refine stage alone: the exact temporal-alignment vote over an
    * externally supplied candidate-pair frame (id_a, id_b) — split out so
    * an audit (ext122) that already materialized [[signatureCandidates]]
    * for counting can refine the SAME frame instead of recomputing the
    * signature aggregations and banded join a second time. */
  def refineCandidates(fh: DataFrame, cands: DataFrame, everyNth: Int = 2,
      minOverlap: Double = 0.6): DataFrame = {
    val lists = fh.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("frame_idx"), col("phash"))))
        .as("fs"))
    val refined = cands
      .join(lists.select(col("id").as("id_a"), col("fs").as("fa")), Seq("id_a"))
      .join(lists.select(col("id").as("id_b"), col("fs").as("fb")), Seq("id_b"))
      .select(col("id_a").as("vid_a"), col("id_b").as("vid_b"),
        refineUdf(everyNth)(col("fa"), col("fb")).as("r"))
      .select(col("vid_a"), col("vid_b"),
        col("r._1").as("matched_frames"),
        col("r._2").as("overlap_ratio"))
    refined.filter(col("overlap_ratio") >= minOverlap)
  }

  /** The alignment vote over two in-memory frame-hash lists — the refine
    * step's per-pair kernel, mirroring [[TemporalAlignment.alignedOverlap]]
    * semantics exactly (matched = distinct small-side units; best ±jitter
    * offset window; ratio over the smaller side, capped). Kept
    * package-visible so the parity spec can call it directly.
    */
  private[graft] def alignLists(fa: Seq[(Int, Long)], fb: Seq[(Int, Long)],
      maxDist: Int, jitter: Int): (Long, Double) = {
    val (small, large, smallIsA) =
      if (fa.length <= fb.length) (fa, fb, true) else (fb, fa, false)
    val matchedSmall = scala.collection.mutable.Set.empty[Int]
    // per-offset distinct small-side units
    val perOffset = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Set[Int]]
    fa.foreach { case (ta, ha) =>
      fb.foreach { case (tb, hb) =>
        if (java.lang.Long.bitCount(ha ^ hb) <= maxDist) {
          val smallT = if (smallIsA) ta else tb
          matchedSmall += smallT
          perOffset.getOrElseUpdate(ta - tb,
            scala.collection.mutable.Set.empty[Int]) += smallT
        }
      }
    }
    if (matchedSmall.isEmpty) return (0L, 0.0)
    // best ±jitter window; ties -> smallest center offset (the DataFrame
    // core's max_by(off, struct(win, -off)) tie-break)
    val offs = perOffset.keys.toSeq.sorted
    var bestWin = -1L
    offs.foreach { off =>
      val win = (off - jitter to off + jitter)
        .map(o => perOffset.get(o).map(_.size.toLong).getOrElse(0L)).sum
      if (win > bestWin) { bestWin = win }
    }
    // HALF_UP on the canonical decimal rendering — Spark's round() — so
    // parity with the DataFrame core is exact to the last bit
    val ratio = math.min(1.0,
      java.math.BigDecimal.valueOf(bestWin.toDouble / small.length)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    (matchedSmall.size.toLong, ratio)
  }

  private def refineUdf(jitter: Int) =
    udf { (fa: Seq[org.apache.spark.sql.Row], fb: Seq[org.apache.spark.sql.Row]) =>
      alignLists(
        fa.map(r => (r.getInt(0), r.getLong(1))),
        fb.map(r => (r.getInt(0), r.getLong(1))),
        MaxDist, jitter)
    }.asNondeterministic()

  /** Verified CLIP-IN-VIDEO containment pairs — the video sibling of
    * [[AudioContainment.containmentPairs]], answering "which videos
    * contain this clip, and WHERE" (the retrieval [[nearDupPairs]]'s
    * symmetric near-dup verdict does not localize): same frame hashes,
    * same low-information filter, same Hamming-banded candidate core,
    * same temporal-alignment vote — but coverage is measured over the
    * SHORTER side's surviving frames and the winning alignment's offset
    * is REPORTED as the clip's start frame in the track.
    *
    * Every frame is sampled here (vs [[nearDupPairs]]'s every 2nd):
    * localization wants every frame — a stride of s quantizes the
    * reported offset to multiples of s and halves vote support for
    * embeds misaligned to the stride grid (the audio path's hop-dial
    * argument, in frame units).
    *
    * Output: (clip_id, track_id, offset_frames, matched_frames,
    * coverage) — clip_id is the side with fewer surviving frames (ties:
    * smaller id), offset_frames the frame index in the track where the
    * clip's frame 0 aligns (≥ 0 for a true containment; the sign carries
    * through for partial head overlaps), coverage capped at 1.0. Pairs
    * with coverage >= [[MinCoverage]] survive.
    */
  def containmentPairs(videos: DataFrame, videoCol: String,
      idCol: String): DataFrame =
    containmentPairsFromKept(
      keptFrameHashes(videos, videoCol, idCol, everyNth = 1)
        .localCheckpoint(false))

  /** [[containmentPairs]] downstream of an already-built
    * [[keptFrameHashes]] frame — the oracle-aux seam (ext117 exports the
    * frame table and this runs the localization vote over the exact
    * exported rows), sampled every frame. */
  def containmentPairsFromKept(fh: DataFrame): DataFrame = {
    val framePairs = ImageDedup.hammingNearDupPairs(
      fh.select(struct(col("id"), col("frame_idx")).as("id"), col("phash")),
      MaxDist)
      .select(col("id_a.id").as("va0"), col("id_a.frame_idx").as("fa0"),
        col("id_b.id").as("vb0"), col("id_b.frame_idx").as("fb0"))
      .filter(col("va0") =!= col("vb0"))
      .select(
        least(col("va0"), col("vb0")).as("id_a"),
        greatest(col("va0"), col("vb0")).as("id_b"),
        when(col("va0") <= col("vb0"), col("fa0")).otherwise(col("fb0")).as("ta"),
        when(col("va0") <= col("vb0"), col("fb0")).otherwise(col("fa0")).as("tb"))
    val counts = fh.groupBy(col("id")).agg(count(lit(1)).as("n_kept"))
    TemporalAlignment.alignedOverlap(framePairs, counts, jitter = 1)
      .withColumn("coverage",
        least(lit(1.0), round(col("aligned_units").cast("double") /
          least(col("na"), col("nb")), 6)))
      .filter(col("coverage") >= MinCoverage)
      // the clip is the shorter surviving side; its start in the track is
      // (track frame) − (clip frame) at the winning alignment: best_off
      // is ta − tb, so the sign flips with which side is the clip
      .select(
        when(col("na") <= col("nb"), col("id_a")).otherwise(col("id_b"))
          .as("clip_id"),
        when(col("na") <= col("nb"), col("id_b")).otherwise(col("id_a"))
          .as("track_id"),
        when(col("na") <= col("nb"), -col("best_off")).otherwise(col("best_off"))
          .as("offset_frames"),
        col("matched_units").as("matched_frames"),
        col("coverage"))
  }
}
