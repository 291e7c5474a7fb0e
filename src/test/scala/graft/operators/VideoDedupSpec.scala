package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.{Video, VideoCorpus}

/** Video-fingerprint dedup semantics: family recall through the frame-level
  * banded join, the overlap-vote threshold under partial splices, and
  * undecodable handling.
  */
class VideoDedupSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("family variants are caught; different families are not") {
    val ids = (0L until 30L).toDF("doc_id")
    val vids = VideoCorpus.forIds(ids, "doc_id")
    val pairs = VideoDedup.nearDupPairs(vids, "gvid", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 10L).flatMap { f =>
      val m = Seq(f * 3, f * 3 + 1, f * 3 + 2)
      for (i <- m; j <- m if i < j) yield (i, j)
    }.toSet
    assert(pairs == expected,
      s"missing=${expected -- pairs} spurious=${pairs -- expected}")
  }

  test("splice threshold: 8/12 borrowed frames match (0.67 >= 0.6), 4/12 do not") {
    val a = Video.decodeFrames(VideoCorpus.render(0L)).get
    val z = Video.decodeFrames(VideoCorpus.render(30L)).get // unrelated family
    def splice(nFromA: Int): Array[Byte] =
      Video.encode(VideoCorpus.Side, VideoCorpus.Side, 3, fps = 10,
        a._5.take(nFromA) ++ z._5.take(VideoCorpus.NFrames - nFromA))
    val df = Seq(
      (0L, VideoCorpus.render(0L)),
      (100L, splice(8)),  // samples 0,2,4,6 from A → 4/6 = 0.67
      (200L, splice(4)))  // samples 0,2 from A → 2/6 = 0.33
      .toDF("doc_id", "gvid")
    val pairs = VideoDedup.nearDupPairs(df, "gvid", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.contains((0L, 100L)),
      s"the 8-frame splice must be caught (got $pairs)")
    assert(pairs((0L, 100L)) >= 0.6 && pairs((0L, 100L)) < 1.0)
    assert(!pairs.contains((0L, 200L)),
      s"the 4-frame splice must fall under the vote threshold (got $pairs)")
  }

  test("a clip contained in a longer video scores on the SHORTER side") {
    val a = Video.decodeFrames(VideoCorpus.render(0L)).get
    val clip = Video.encode(VideoCorpus.Side, VideoCorpus.Side, 3, fps = 10,
      a._5.take(6)) // first half of video 0
    val df = Seq((0L, VideoCorpus.render(0L)), (300L, clip))
      .toDF("doc_id", "gvid")
    val pairs = VideoDedup.nearDupPairs(df, "gvid", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.get((0L, 300L)).contains(1.0),
      s"containment must score 1.0 on the clip's own frames (got $pairs)")
  }

  test("a shuffled montage of A's frames is rejected by the alignment vote; a time-shifted copy is not") {
    val a = Video.decodeFrames(VideoCorpus.render(0L)).get
    // reversed frame order: every sampled montage frame matches SOME frame
    // of A (raw match count = 6/6, the pre-r9 vote would score 1.0), but the
    // offsets 2i-11 are spaced 4 apart — wider than the ±2 alignment window,
    // so no single alignment explains more than one match
    val montage = Video.encode(VideoCorpus.Side, VideoCorpus.Side, 3, fps = 10,
      a._5.reverse)
    // rotation by two frames: a uniformly time-shifted copy — all matches
    // concentrate at one offset and the vote must keep it (shift by an EVEN
    // amount: an odd shift puts every-2nd sampling on the off-grid frames,
    // which is a sampling-density question, not an alignment one)
    val shifted = Video.encode(VideoCorpus.Side, VideoCorpus.Side, 3, fps = 10,
      a._5.drop(2) ++ a._5.take(2))
    val df = Seq(
      (0L, VideoCorpus.render(0L)),
      (400L, montage),
      (500L, shifted))
      .toDF("doc_id", "gvid")
    val pairs = VideoDedup.nearDupPairs(df, "gvid", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(!pairs.contains((0L, 400L)),
      s"the shuffled montage must fail the alignment vote (got $pairs)")
    assert(pairs.get((0L, 500L)).exists(_ >= 0.6),
      s"a time-shifted copy concentrates at one offset and must survive (got $pairs)")
  }

  test("overlap denominator counts only frames that survive the low-info filter") {
    val a = Video.decodeFrames(VideoCorpus.render(0L)).get
    // half informative frames (from A), half black frames: the black frames
    // are filtered before pairing, so they must not inflate the denominator —
    // with a pre-filter denominator this duplicate scored 3/6 < 0.6 and was
    // unreachable (r8 ADVICE)
    val black = new Array[Byte](VideoCorpus.Side * VideoCorpus.Side * 3)
    val dilute = Video.encode(VideoCorpus.Side, VideoCorpus.Side, 3, fps = 10,
      a._5.take(6) ++ Array.fill(6)(black.clone()))
    val df = Seq((0L, VideoCorpus.render(0L)), (600L, dilute))
      .toDF("doc_id", "gvid")
    val pairs = VideoDedup.nearDupPairs(df, "gvid", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.get((0L, 600L)).contains(1.0),
      s"post-filter denominator must score the surviving half 3/3 (got $pairs)")
  }

  test("a horizontally mirrored re-upload is caught frame-for-frame") {
    val a = Video.decodeFrames(VideoCorpus.render(0L)).get
    val mirrored = Video.encode(VideoCorpus.Side, VideoCorpus.Side, 3, fps = 10,
      a._5.map { px =>
        graft.cv.ImageOps.hflip(
          graft.cv.ImageOps.DecodedImage(VideoCorpus.Side, VideoCorpus.Side, 3, px)).px
      })
    val df = Seq((0L, VideoCorpus.render(0L)), (700L, mirrored))
      .toDF("doc_id", "gvid")
    val pairs = VideoDedup.nearDupPairs(df, "gvid", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(pairs.get((0L, 700L)).contains(1.0),
      s"mirror-canonical frame hashes must catch the flipped re-upload (got $pairs)")
  }

  test("undecodable blobs are dropped, not crashed on") {
    val df = Seq(
      (1L, VideoCorpus.render(1L)),
      (2L, Array[Byte](1, 2, 3)),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "gvid")
    assert(VideoDedup.frameHashes(df, "gvid", "doc_id").select("id")
      .distinct().count() == 1)
    assert(VideoDedup.nearDupPairs(df, "gvid", "doc_id").count() == 0)
  }

  test("the frame-level candidate join is equi — no cartesian in the plan") {
    val ids = (0L until 12L).toDF("doc_id")
    val p = VideoDedup.nearDupPairs(
      VideoCorpus.forIds(ids, "doc_id"), "gvid", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"banded frame join degenerated to all-pairs:\n$p")
  }

  test("ext117: planted clip-in-video containments found with exact offsets") {
    val ids = (0L until 41L).toDF("doc_id")
    val got = VideoDedup.containmentPairs(
      VideoCorpus.clipTracksFor(ids, "doc_id"), "gvid", "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("clip_id"), r.getAs[Long]("track_id")) ->
        (r.getAs[Int]("offset_frames").toLong, r.getAs[Double]("coverage"))).toMap
    val want = (0L until 41L).filter(c => c % 4 == 0 && c + 3 <= 40)
      .map(c => (c, c + 3)).toSet
    assert(got.keySet == want,
      s"pairs ${got.keySet.toSeq.sorted} want ${want.toSeq.sorted}")
    got.foreach { case ((c, t), (off, cov)) =>
      assert(off == VideoCorpus.EmbedOffset.toLong,
        s"clip $c in track $t: offset $off, want ${VideoCorpus.EmbedOffset}")
      // the +6 luma lift can flip an isolated frame's mirror-canonical
      // winner (the min(h, mirror(h)) hazard VideoShots documents) — the
      // vote tolerates a lost frame, so pin >= threshold per pair and
      // perfection for the large majority
      assert(cov >= 0.8, s"clip $c in track $t: coverage $cov, want >= 0.8")
    }
    val perfect = got.values.count(_._2 == 1.0)
    assert(perfect * 10 >= got.size * 8,
      s"only $perfect/${got.size} planted pairs at coverage 1.0")
  }

  test("ext117: the embedded copy is perceptual, not byte-identical") {
    val clip = Video.decodeFrames(VideoCorpus.renderClipTrack(0L)).get._5
    val track = Video.decodeFrames(VideoCorpus.renderClipTrack(3L)).get._5
    val emb = track.slice(VideoCorpus.EmbedOffset,
      VideoCorpus.EmbedOffset + VideoCorpus.ClipFrames)
    assert(clip.zip(emb).forall { case (a, b) => !a.sameElements(b) },
      "embedded frames should differ byte-wise (uniform luma lift)")
  }

  test("ext117: a scattered montage of the clip's frames is rejected; an aligned embed lands") {
    val (r, c, ch, fps, clipFrames) =
      Video.decodeFrames(VideoCorpus.renderClipTrack(0L)).get
    val noise = Video.decodeFrames(VideoCorpus.renderClipTrack(2L)).get._5
    // aligned: clip's frames appended as a contiguous run after the noise
    val aligned = Video.encode(r, c, ch, fps, noise ++ clipFrames)
    // scattered: same frames, interleaved one per two noise frames in
    // REVERSED order — every matched pair lands at a different offset
    val scattered = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val rev = clipFrames.reverse
      var i = 0
      while (i < rev.length) {
        buf += rev(i)
        buf ++= noise.slice(i * 2, i * 2 + 2)
        i += 1
      }
      Video.encode(r, c, ch, fps, buf.toSeq)
    }
    val clipBytes = VideoCorpus.renderClipTrack(0L)
    val okPairs = VideoDedup.containmentPairs(
      Seq((0L, clipBytes), (100L, aligned)).toDF("doc_id", "gvid"),
      "gvid", "doc_id").collect()
    assert(okPairs.length == 1 &&
      okPairs.head.getAs[Long]("clip_id") == 0L &&
      okPairs.head.getAs[Int]("offset_frames") == noise.length,
      s"aligned embed should land at offset ${noise.length}: " +
        okPairs.mkString(","))
    val rejected = VideoDedup.containmentPairs(
      Seq((0L, clipBytes), (100L, scattered)).toDF("doc_id", "gvid"),
      "gvid", "doc_id").collect()
    assert(rejected.isEmpty,
      s"scattered montage must fail the alignment vote: ${rejected.mkString(",")}")
  }

  test("ext122: prefiltered pairs equal the exact path pair-for-pair on the corpus") {
    val ids = (0L until 30L).toDF("doc_id")
    val fh = VideoDedup.keptFrameHashes(
      VideoCorpus.forIds(ids, "doc_id"), "gvid", "doc_id", everyNth = 2)
      .localCheckpoint(true)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vid_a"), r.getAs[Long]("vid_b")) ->
        (r.getAs[Long]("matched_frames"), r.getAs[Double]("overlap_ratio")))
      .toMap
    val full = toMap(VideoDedup.nearDupPairsFromKept(fh))
    val pre = toMap(VideoDedup.prefilteredNearDupPairsFromKept(fh))
    assert(pre == full,
      s"missing=${full.keySet -- pre.keySet} extra=${pre.keySet -- full.keySet} " +
        s"diffs=${full.keySet.intersect(pre.keySet).filter(k => full(k) != pre(k))
          .map(k => (k, full(k), pre(k)))}")
  }

  test("ext122: the refine kernel agrees with the DataFrame core on every fixture class") {
    val a = Video.decodeFrames(VideoCorpus.render(0L)).get
    val z = Video.decodeFrames(VideoCorpus.render(30L)).get
    def enc(frames: Seq[Array[Byte]]) =
      Video.encode(VideoCorpus.Side, VideoCorpus.Side, 3, fps = 10, frames)
    val fixtures = Seq(
      100L -> enc(a._5.take(8) ++ z._5.take(4)),   // splice above threshold
      200L -> enc(a._5.take(4) ++ z._5.take(8)),   // splice below threshold
      400L -> enc(a._5.reverse),                   // montage (alignment reject)
      500L -> enc(a._5.drop(2) ++ a._5.take(2)))   // time-shifted copy
    val df = (Seq(0L -> VideoCorpus.render(0L)) ++ fixtures)
      .toDF("doc_id", "gvid")
    val fh = VideoDedup.keptFrameHashes(df, "gvid", "doc_id", everyNth = 2)
      .localCheckpoint(true)
    def toMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("vid_a"), r.getAs[Long]("vid_b")) ->
        r.getAs[Double]("overlap_ratio")).toMap
    val full = toMap(VideoDedup.nearDupPairsFromKept(fh))
    val pre = toMap(VideoDedup.prefilteredNearDupPairsFromKept(fh))
    // the exact path's verdicts on these fixtures are pinned by the tests
    // above; here (a) the two paths must agree wherever the prefilter
    // admits the candidate (refine parity — never a DIFFERENT verdict),
    // (b) duplicates sharing the full frame set (the time-shifted copy;
    // at corpus scale: re-encodes, variants) survive the coarse tier, and
    // (c) with the segment tier effectively OFF (these 12-frame fixtures
    // fit in one default-width segment, so segment sig == video sig) the
    // 8/12 splice is the whole-video tier's DOCUMENTED miss: only 2/3 of
    // its frames vote with A, diluting the majority signature past
    // sigMaxDist — the segment-tier test below is what closes it
    assert(full.contains((0L, 100L)) && full.contains((0L, 500L)) &&
      !full.contains((0L, 200L)) && !full.contains((0L, 400L)))
    pre.foreach { case (k, v) =>
      assert(full.get(k).contains(v), s"pair $k: pre=$v full=${full.get(k)}")
    }
    assert(pre.contains((0L, 500L)),
      s"a full-frame-set duplicate must survive the coarse tier: $pre")
    assert(!pre.contains((0L, 100L)),
      "the heavy splice is the whole-video tier's documented miss — if " +
        "this now passes, the signature got MORE robust: update the docs")
    // THE R10 CLOSE (verdict #2): segments of 2 sampled frames (span 4
    // original frames, proportional to the 12-frame fixtures; production
    // 16) — the splice's borrowed spans vote clean segment signatures, so
    // the pair the diluted global signature misses reaches refine, with
    // the SAME verdict as the exact path; the sub-threshold splice and
    // the montage stay correctly out (refine, not the candidate tier,
    // decides), and parity still holds pair-for-pair
    val preSeg = toMap(VideoDedup.prefilteredNearDupPairsFromKept(
      fh, segLen = 2))
    preSeg.foreach { case (k, v) =>
      assert(full.get(k).contains(v),
        s"segment tier pair $k: pre=$v full=${full.get(k)}")
    }
    assert(preSeg.contains((0L, 100L)) && preSeg((0L, 100L)) == full((0L, 100L)),
      s"the segment tier must carry the heavy splice to refine: $preSeg")
    assert(preSeg.contains((0L, 500L)))
    assert(!preSeg.contains((0L, 200L)) && !preSeg.contains((0L, 400L)),
      s"refine must still reject sub-threshold/montage candidates: $preSeg")
  }

  test("ext122: the segment tier's candidate volume stays bounded — segments only ADD grid-aligned span candidates") {
    // candidate-count accounting on the corpus: whole-video tier ⊆
    // segment tier (the union can only add pairs), and the segment tier
    // stays far below all-pairs — the dial's cost side, driver-visible
    // via ext122's n_cands_video / n_cands_segment columns
    val ids = (0L until 30L).toDF("doc_id")
    val fh = VideoDedup.keptFrameHashes(
      VideoCorpus.forIds(ids, "doc_id"), "gvid", "doc_id", everyNth = 2)
      .localCheckpoint(true)
    def pairs(segLen: Int) = VideoDedup.signatureCandidates(
      fh, everyNth = 2, segLen = segLen)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val whole = pairs(0)
    val seg = pairs(3)
    assert(whole.subsetOf(seg),
      s"segment tier lost whole-video candidates: ${whole -- seg}")
    val allPairs = 30L * 29 / 2
    assert(seg.size < allPairs / 2,
      s"segment tier candidates ${seg.size} regressed toward all-pairs ($allPairs)")
  }

  test("segHop: a grid-misaligned splice the ALIGNED segment tier provably misses is caught at hop=segLen/2") {
    // the aligned grid's named residual miss class (r10 verdict #2),
    // constructed exactly: A = [P×4, Q×4, R×4, S×4] (segLen 4, so A's
    // aligned votes are clean P/Q/R/S); B copies A[2..9] at shift 2 — a
    // non-multiple of segLen but a multiple of hop — and pads with U×8.
    // Every ALIGNED span of B mixes two blocks (votes P∧Q, Q∧R) or is
    // pure U, all > segSigMaxDist from every A vote, and the whole-video
    // votes sit far apart: the full aligned two-tier path yields NO
    // (A, B) candidate. With segHop = 2, B's span [0..3] covers the same
    // frame set as A's hop span [2..5] — identical votes, distance 0 —
    // and the pair reaches refine, which confirms the 8-frame overlap.
    val P = 0x000000000000FFFFL; val Q = 0x00000000FFFF0000L
    val R = 0x0000FFFF00000000L; val S = 0xFFFF000000000000L
    val U = 0x0F0F0F0F0F0F0F0FL
    val a = Seq.fill(4)(P) ++ Seq.fill(4)(Q) ++ Seq.fill(4)(R) ++ Seq.fill(4)(S)
    val b = a.slice(2, 10) ++ Seq.fill(8)(U)
    val fh = (a.zipWithIndex.map { case (h, i) => (1L, i, h) } ++
      b.zipWithIndex.map { case (h, i) => (2L, i, h) })
      .toDF("id", "frame_idx", "phash").localCheckpoint(true)
    def cands(segHop: Int) = VideoDedup.signatureCandidates(
      fh, everyNth = 1, segLen = 4, segHop = segHop)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands(0) == Set.empty,
      s"the aligned grid must MISS this constructed splice: ${cands(0)}")
    assert(cands(2) == Set((1L, 2L)),
      s"hop=segLen/2 must catch it: ${cands(2)}")
    // candidate bound: |videos| × (1 + ceil(k/segHop)) signature rows
    assert(VideoDedup.segmentSignatures(fh, everyNth = 1, segLen = 4,
      segHop = 2).count() == 16L, "8 hop spans per 16-frame video")
    // hop == segLen (or 0) reproduces the aligned grid bit-for-bit
    val aligned = VideoDedup.segmentSignatures(fh, everyNth = 1, segLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val hop4 = VideoDedup.segmentSignatures(fh, everyNth = 1, segLen = 4,
      segHop = 4).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(hop4 == aligned, "segHop == segLen must equal the aligned grid")
    // end-to-end: refine confirms the caught pair (the constant-block
    // construction repeats hashes within each video, so neighboring
    // offsets in the ±jitter window re-count units and the ratio lands
    // above the raw 8/16 — the vote is conservative upward here, never
    // a false merge of unmatched frames)
    val refined = VideoDedup.refineCandidates(fh,
      Seq((1L, 2L)).toDF("id_a", "id_b"), everyNth = 1, minOverlap = 0.4).collect()
    assert(refined.length == 1 &&
      refined.head.getAs[Double]("overlap_ratio") >= 0.5,
      s"refine on the hop-caught pair: ${refined.toSeq}")
  }

  test("ext122: family signatures sit close; cross-family far (the coarse tier's premise)") {
    val ids = (0L until 12L).toDF("doc_id")
    val sigs = VideoDedup.videoSignatures(
      VideoDedup.keptFrameHashes(
        VideoCorpus.forIds(ids, "doc_id"), "gvid", "doc_id", everyNth = 2))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("phash")).toMap
    def d(x: Long, y: Long) = java.lang.Long.bitCount(sigs(x) ^ sigs(y))
    (0L until 12L by 3).foreach { f =>
      assert(d(f, f + 1) <= 2 && d(f, f + 2) <= 2,
        s"family ${f / 3}: member signatures drifted (${d(f, f + 1)}, ${d(f, f + 2)})")
    }
    assert(d(0L, 3L) >= 10 && d(3L, 6L) >= 10 && d(6L, 9L) >= 10,
      "cross-family signatures must stay far apart")
  }

  test("the two-tier candidate joins stay equi — no cartesian in either band space") {
    val ids = (0L until 12L).toDF("doc_id")
    val fh = VideoDedup.keptFrameHashes(
      VideoCorpus.forIds(ids, "doc_id"), "gvid", "doc_id", everyNth = 2)
    val p = VideoDedup.prefilteredNearDupPairsFromKept(fh, segLen = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"a signature tier degenerated to all-pairs:\n$p")
  }

  test("ext124: signature band health equals an independent histogram on both tiers") {
    // reference computed HERE with a reimplementation of the slicing
    // arithmetic (b*64/nBands contiguous cuts), so the audit's shared
    // bandSlices definition is cross-checked, not assumed
    val ids = (0L until 30L).toDF("doc_id")
    val fh = VideoDedup.keptFrameHashes(
      VideoCorpus.forIds(ids, "doc_id"), "gvid", "doc_id", everyNth = 2)
      .localCheckpoint(true)
    def reference(sigs: Seq[Long], maxDist: Int): Map[(Int, Long), (Long, Long, Long)] = {
      val nBands = maxDist + 1
      val buckets = scala.collection.mutable.Map.empty[(Int, Long), Long]
      sigs.foreach { h =>
        (0 until nBands).foreach { b =>
          val lo = b * 64 / nBands
          val w = (b + 1) * 64 / nBands - lo
          val v = if (w >= 64) h else (h >>> lo) & ((1L << w) - 1)
          buckets((b, v)) = buckets.getOrElse((b, v), 0L) + 1
        }
      }
      buckets.toSeq
        .groupBy { case ((b, _), sz) =>
          // exact integer log2 (bit length - 1) — the operator's contract
          (b, (63 - java.lang.Long.numberOfLeadingZeros(sz)).toLong)
        }
        .view.mapValues { g =>
          (g.size.toLong, g.map(_._2).sum, g.map { case (_, sz) => sz * (sz - 1) / 2 }.sum)
        }.toMap
    }
    def check(sigFrame: org.apache.spark.sql.DataFrame, maxDist: Int): Unit = {
      val sigs = sigFrame.collect().map(_.getAs[Long]("phash")).toSeq
      val want = reference(sigs, maxDist)
      val got = ImageDedup.bandBucketHealth(sigFrame, maxDist)
        .collect().map(r => (r.getAs[Int]("band"), r.getAs[Long]("size_class")) ->
          (r.getAs[Long]("n_buckets"), r.getAs[Long]("n_items"),
            r.getAs[Long]("pairs_contrib"))).toMap
      assert(got == want, s"maxDist=$maxDist: got=$got want=$want")
    }
    check(VideoDedup.videoSignatures(fh), maxDist = 10)
    check(VideoDedup.segmentSignatures(fh, everyNth = 2, segLen = 3), maxDist = 4)
    // the hop tier rides the same histogram arithmetic (ext124's third row
    // group prices the segHop dial before anyone pays it)
    check(VideoDedup.segmentSignatures(fh, everyNth = 2, segLen = 3,
      segHop = 2), maxDist = 4)
    // the r10 lesson as an invariant: on the same corpus the distance-10
    // banding's candidate-pair cost dwarfs the tight segment banding's
    // even though the segment table holds MORE rows
    def pairs(sigFrame: org.apache.spark.sql.DataFrame, maxDist: Int) =
      ImageDedup.bandBucketHealth(sigFrame, maxDist)
        .agg(org.apache.spark.sql.functions.sum("pairs_contrib"))
        .head().getLong(0)
    val wide = pairs(VideoDedup.videoSignatures(fh), 10)
    val tight = pairs(VideoDedup.segmentSignatures(fh, 2, 3), 4)
    assert(tight < wide,
      s"tight segment banding must cost fewer candidate pairs: d4=$tight d10=$wide")
  }

  test("ext122 fuzz: the refine kernel never drifts from the DataFrame core on random lists") {
    // alignLists deliberately REIMPLEMENTS TemporalAlignment.alignedOverlap
    // for per-pair refine; this seeded sweep keeps the two from drifting:
    // random frame lists with planted shared hashes at random offsets must
    // produce identical (matched_frames, overlap_ratio) through both paths
    val rnd = new scala.util.Random(91L)
    for (iter <- 1 to 15) {
      def randHash(): Long = {
        // keep popcount informative so the low-info filter is a no-op here
        var h = rnd.nextLong()
        while (!VideoDedup.informativeHash(h)) h = rnd.nextLong()
        h
      }
      val na = 6 + rnd.nextInt(8)
      val nb = 6 + rnd.nextInt(8)
      val fa = (0 until na).map(i => (i, randHash()))
      val fbBase = (0 until nb).map(i => (i, randHash()))
      // plant 2-5 of A's hashes into B at random positions (some aligned
      // to one offset, some scattered)
      val nPlant = 2 + rnd.nextInt(4)
      val fb = fbBase.toArray
      (0 until nPlant).foreach { _ =>
        val src = rnd.nextInt(na)
        val dst = rnd.nextInt(nb)
        fb(dst) = (fb(dst)._1, fa(src)._2)
      }
      val fhRows = fa.map { case (i, h) => (1L, i, h, na) } ++
        fb.map { case (i, h) => (2L, i, h, nb) }
      val fh = fhRows.toDF("id", "frame_idx", "phash", "n_sampled")
      val df = VideoDedup.nearDupPairsFromKept(fh, minOverlap = 0.0)
        .collect().map(r => (r.getAs[Long]("matched_frames"),
          r.getAs[Double]("overlap_ratio"))).headOption
      val kernel = VideoDedup.alignLists(fa, fb.toSeq, maxDist = 3, jitter = 2)
      df match {
        case Some(core) =>
          assert(core == kernel, s"iter $iter: core=$core kernel=$kernel " +
            s"fa=$fa fb=${fb.toSeq}")
        case None =>
          assert(kernel._1 == 0L, s"iter $iter: kernel found matches " +
            s"$kernel where the core found none")
      }
    }
  }
}
