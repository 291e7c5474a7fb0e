package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.{Video, VideoCorpus}

/** Shot-boundary segmentation (ext110) and the batch motion backfill
  * (ext111): segmentation equals the scene corpus's constructed structure,
  * sampling and degenerate cases behave, and the two entries satisfy
  * their cross-invariant (shots == motion cuts + 1) — the two analytics
  * read one decoded-frame table and must agree on where scenes change.
  */
class VideoShotsSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("segmentation equals the constructed scene structure") {
    val ids = (0L until 10L).toDF("doc_id")
    val got = VideoShots.shots(
      VideoCorpus.scenesFor(ids, "doc_id"), "gvid", "doc_id", everyNth = 1)
      .collect()
      .groupBy(_.getAs[Long]("video_id"))
    (0L until 10L).foreach { id =>
      val lens = VideoCorpus.sceneLengths(id)
      val shots = got(id).sortBy(_.getAs[Long]("shot_idx"))
      assert(shots.length == lens.size,
        s"video $id: ${shots.length} shots, expected ${lens.size}")
      val bounds = lens.scanLeft(0)(_ + _)
      shots.zipWithIndex.foreach { case (s, i) =>
        assert(s.getAs[Int]("start_frame").toLong == bounds(i).toLong &&
          s.getAs[Int]("end_frame").toLong == (bounds(i + 1) - 1).toLong &&
          s.getAs[Long]("n_frames") == lens(i).toLong,
          s"video $id shot $i: got (${s.getAs[Int]("start_frame").toLong}, " +
            s"${s.getAs[Int]("end_frame").toLong}, ${s.getAs[Long]("n_frames")}), " +
            s"expected (${bounds(i)}, ${bounds(i + 1) - 1}, ${lens(i)})")
      }
    }
  }

  test("everyNth sampling preserves the shot count; summary rolls up") {
    val ids = (0L until 6L).toDF("doc_id")
    val vids = VideoCorpus.scenesFor(ids, "doc_id")
    // scene lengths are 4–7 frames, so every scene keeps >= 2 sampled
    // frames at stride 2 and every cut is still visible
    val n2 = VideoShots.shots(vids, "gvid", "doc_id", everyNth = 2)
      .groupBy("video_id").count().collect()
      .map(r => r.getAs[Long]("video_id") -> r.getAs[Long]("count")).toMap
    (0L until 6L).foreach { id =>
      assert(n2(id) == VideoCorpus.sceneLengths(id).size.toLong,
        s"video $id at stride 2: ${n2(id)} shots")
    }
    val summary = VideoShots.shotSummary(
      Video.framesById(vids, "gvid", "doc_id"))
      .collect().map(r => r.getAs[Long]("video_id") -> r).toMap
    (0L until 6L).foreach { id =>
      val lens = VideoCorpus.sceneLengths(id)
      assert(summary(id).getAs[Long]("n_shots") == lens.size.toLong)
      assert(summary(id).getAs[Long]("longest_shot_frames") == lens.max.toLong)
    }
  }

  test("keyframes: ceil-middle of every constructed scene, one per shot") {
    val ids = (0L until 8L).toDF("doc_id")
    val kf = VideoShots.keyframes(
      Video.framesById(VideoCorpus.scenesFor(ids, "doc_id"), "gvid", "doc_id"))
      .collect()
      .groupBy(_.getAs[Long]("video_id"))
    (0L until 8L).foreach { id =>
      val lens = VideoCorpus.sceneLengths(id)
      val rows = kf(id).sortBy(_.getAs[Long]("shot_idx"))
      assert(rows.length == lens.size, s"video $id: ${rows.length} keyframes")
      val bounds = lens.scanLeft(0)(_ + _)
      rows.zipWithIndex.foreach { case (r, i) =>
        // ceil-middle of frames [bounds(i), bounds(i+1)): index (len+1)/2
        // within the shot, 1-based → bounds(i) + (len+1)/2 - 1
        val want = bounds(i) + (lens(i) + 1) / 2 - 1
        assert(r.getAs[Int]("keyframe_idx") == want,
          s"video $id shot $i: keyframe ${r.getAs[Int]("keyframe_idx")}, " +
            s"expected $want")
        assert(r.getAs[Long]("shot_frames") == lens(i).toLong)
      }
    }
  }

  test("a cut-free video is one shot; undecodable blobs drop") {
    val still = Video.encode(32, 32, 3, fps = 10,
      Seq.fill(5)(Array.fill[Byte](32 * 32 * 3)(7)))
    val df = Seq((1L, still), (2L, Array[Byte](9, 9)),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "gvid")
    val shots = VideoShots.shots(df, "gvid", "doc_id").collect()
    assert(shots.length == 1 && shots.head.getAs[Long]("video_id") == 1L &&
      shots.head.getAs[Long]("n_frames") == 5L,
      s"got ${shots.mkString(", ")}")
  }

  test("ext110/ext111 cross-invariant at sf0.001: shots == motion cuts + 1") {
    val dir = "/root/testdata/sf0.001"
    val shotCounts = graft.SparkEntry.queries("ext110_video_shots")(spark, dir)
      .groupBy("video_id").count().collect()
      .map(r => r.getAs[Long]("video_id") -> r.getAs[Long]("count")).toMap
    val motion = graft.SparkEntry.queries("ext111_batch_motion")(spark, dir)
      .collect()
    assert(motion.nonEmpty && shotCounts.nonEmpty)
    motion.foreach { r =>
      val id = r.getAs[Long]("video_id")
      val lens = VideoCorpus.sceneLengths(id)
      assert(r.getAs[Long]("frames_with_motion") == (lens.size - 1).toLong,
        s"video $id: frames_with_motion ${r.getAs[Long]("frames_with_motion")}" +
          s", expected ${lens.size - 1}")
      assert(r.getAs[Long]("n_frames") == lens.sum.toLong)
      assert(shotCounts(id) == r.getAs[Long]("frames_with_motion") + 1,
        s"video $id: ext110 and ext111 disagree on scene changes")
    }
  }
}
