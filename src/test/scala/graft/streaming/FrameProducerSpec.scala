package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Producer parity: generation determinism, wire round-trip, topic-routing
  * math (TopicScaler.java:97-183 golden cases), FPS metric, and the full
  * producer → wire → processor loop ending in motion detections.
  */
class FrameProducerSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val t0 = 1700600000000L

  test("framesBatch is deterministic round-robin over cameras with stepped timestamps") {
    val frames = FrameProducer.framesBatch(spark, nCameras = 2, framesPerCamera = 3,
      t0Millis = t0, fps = 10.0).collect()
    assert(frames.length == 6)
    val byCam = frames.groupBy(_.camId).view.mapValues(_.map(_.timestamp.getTime).sorted).toMap
    assert(byCam.keySet == Set("cam0", "cam1"))
    assert(byCam("cam0").toSeq == Seq(t0, t0 + 100, t0 + 200))
    assert(byCam("cam1").toSeq == Seq(t0, t0 + 100, t0 + 200))
    // same (camera, seq) → identical pixels
    val again = FrameProducer.framesBatch(spark, 2, 3, t0, 10.0).collect()
    assert(frames.map(_.data).sorted.toSeq == again.map(_.data).sorted.toSeq)
  }

  test("wire JSON round-trips through the processor's parseFrames") {
    val frames = FrameProducer.framesBatch(spark, 2, 2, t0)
    val wire = FrameProducer.toWire(frames, nCameras = 2)
    assert(wire.columns.toSeq == Seq("key", "value", "topic"))
    val back = MotionPipeline.parseFrames(wire.select("value")).collect()
    val orig = frames.collect()
    assert(back.length == orig.length)
    assert(back.map(f => (f.camId, f.timestamp.getTime, f.rows, f.cols, f.matType, f.data)).sortBy(_.toString).toSeq ==
      orig.map(f => (f.camId, f.timestamp.getTime, f.rows, f.cols, f.matType, f.data)).sortBy(_.toString).toSeq)
  }

  test("topic routing reproduces the scaler's assignment math") {
    def wireTopics(n: Int): Map[String, String] =
      FrameProducer.toWire(FrameProducer.framesBatch(spark, n, 1, t0), n)
        .select("key", "topic").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    def routerTopics(n: Int): Map[String, String] = {
      val r = new TopicRouter()
      r.observe((0 until n).map(i => s"cam$i"))
      r.assignments
    }
    // 5 cameras, maxPerTopic=2 → required = ceil(5/2) = 3 topics;
    // cam0,1→0  cam2,3→1  cam4→min(2, 2)=2
    assert(wireTopics(5) == Map(
      "cam0" -> "video-events-0", "cam1" -> "video-events-0",
      "cam2" -> "video-events-1", "cam3" -> "video-events-1",
      "cam4" -> "video-events-2"))
    // 12 cameras: ids sort as strings, so cam10 has rank 2 and shares
    // topic 1 with cam11 (a trailing-digit rule would send it to topic 5)
    val twelve = wireTopics(12)
    assert(twelve == routerTopics(12))
    assert(twelve("cam10") == "video-events-1" &&
      twelve("cam11") == "video-events-1" && twelve("cam2") == "video-events-2")
    assert(twelve.values.toSet == (0 until 6).map(i => s"video-events-$i").toSet)
  }

  test("fpsByCamera counts frames per tumbling window") {
    // 10 fps for 1 s per camera → one 2 s window with n=10, fps=5.0
    val frames = FrameProducer.framesBatch(spark, 2, 10, t0, fps = 10.0)
    val fps = FrameProducer.fpsByCamera(frames).collect()
    assert(fps.length == 2)
    fps.foreach { r =>
      assert(r.getAs[Long]("n_frames") == 10)
      assert(r.getAs[Double]("fps") == 5.0)
    }
  }

  test("rate-micro-batch generator streams deterministic frames through detection") {
    val img = graft.ScratchDir.dir("rmb-img")
    val frames = FrameProducer.framesStreamDeterministic(
      spark, nCameras = 2, rowsPerBatch = 4, startMillis = t0)
    assert(frames.isStreaming)
    val sink = s"sink_${System.nanoTime()}"
    val wire = FrameProducer.toWire(frames, nCameras = 2).select("value")
    val q = MotionPipeline.detectBin(MotionPipeline.decodeWire(wire), img)
      .writeStream.format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // one AvailableNow batch of 4 rows → 2 cameras × 2 frames, one result each
    val rows = spark.table(sink).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[String]("cameraId")).distinct.sorted.toSeq == Seq("cam0", "cam1"))
    // frame times derive from the sequence, so same-camera frames in one
    // micro-batch never tie (deterministic order, distinct PNG paths)
    val perCam = rows.groupBy(_.getAs[String]("cameraId"))
    perCam.values.foreach { rs =>
      val ts = rs.map(_.getAs[java.sql.Timestamp]("frameTimestamp").getTime)
      assert(ts.distinct.length == ts.length)
    }
  }

  test("end-to-end: produced frames flow through the motion pipeline and detect motion") {
    val img = graft.ScratchDir.dir("prod-img")
    // square teleports every frame → motion on every frame after the first
    val frames = FrameProducer.framesBatch(spark, 2, 4, t0, fps = 1.0)
    val wire = FrameProducer.toWire(frames, 2)
    val results = MotionPipeline.detectBin(
      MotionPipeline.decodeWire(wire.select("value")), img).collect()
    assert(results.length == 8) // one per frame
    val saved = new java.io.File(img).list().toSeq
    assert(saved.length == 6) // 3 motion frames per camera
    assert(saved.forall(n => n.matches("cam[01]-T-\\d+\\.png")))
  }
}
