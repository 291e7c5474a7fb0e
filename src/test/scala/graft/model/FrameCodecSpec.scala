package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** OpenCV Mat type-code math (MotionDetector.java:97-99) and payload sizing. */
class FrameCodecSpec extends AnyFunSuite {

  test("channelsOf decodes CV_8UC1 / CV_8UC3 / CV_8UC4") {
    assert(FrameCodec.channelsOf(0) == 1) // CV_8UC1
    assert(FrameCodec.channelsOf(16) == 3) // CV_8UC3
    assert(FrameCodec.channelsOf(24) == 4) // CV_8UC4
  }

  test("expectedBytes = rows * cols * channels") {
    assert(FrameCodec.expectedBytes(480, 640, 16) == 480 * 640 * 3)
    assert(FrameCodec.expectedBytes(2, 3, 0) == 6)
    // untrusted wire geometry: in Int this product wraps to 2, the length
    // of the overflow fixture's 2-byte payload
    assert(FrameCodec.expectedBytes(2, 715827883, 16) == 4294967298L)
  }

  test("wire schema matches the reference JSON field set") {
    assert(FrameCodec.wireSchema.fieldNames.toSeq ==
      Seq("camId", "timestamp", "rows", "cols", "type", "data"))
  }
}
