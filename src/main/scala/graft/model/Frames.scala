package graft.model

import java.sql.Timestamp
import org.apache.spark.sql.types._

/** Wire/stream records of the video-analytics pipeline.
  *
  * Mirrors the reference's two POJOs (cited from /root/reference):
  * `VideoFrameData` (producer/.../model/VideoFrameData.java:15-35) and
  * `ProcessingResult` (processor/.../model/ProcessingResult.java:13-25),
  * re-expressed as Scala case classes with Spark Encoders.
  */

/** One video frame on the wire. `data` is base64 of raw uncompressed pixels,
  * length rows*cols*channels (VideoEventCreator.java:218-230).
  * `matType` is the OpenCV Mat type code (16 = CV_8UC3); channel count is
  * recovered with [[FrameCodec.channelsOf]] (MotionDetector.java:98).
  */
final case class VideoFrameData(
    camId: String,
    timestamp: Timestamp,
    rows: Int,
    cols: Int,
    matType: Int,
    data: String)

/** One axis-aligned detection box. */
final case class MotionRegion(x: Int, y: Int, w: Int, h: Int)

/** Derived analytic record (ProcessingResult.java:13-25). The reference
  * emits one row per frame — first frame of a key included — with
  * detectionType="motion" and detectionCount hardcoded 1
  * (VideoProcessor.java:188-200); we preserve that quirk.
  */
final case class ProcessingResult(
    id: String,
    cameraId: String,
    frameTimestamp: Timestamp,
    processingTimestamp: Timestamp,
    detectionType: String,
    detectionCount: Int,
    frameRows: Int,
    frameCols: Int,
    imagePath: String,
    metadata: String)

object FrameCodec {

  /** JSON wire schema for `from_json`. The reference serializes `timestamp`
    * as an ISO-8601 instant string (VideoFrameData.java:20-22 @JsonFormat);
    * field name `type` on the wire maps to `matType` in the case class.
    */
  val wireSchema: StructType = StructType(Seq(
    StructField("camId", StringType),
    StructField("timestamp", TimestampType),
    StructField("rows", IntegerType),
    StructField("cols", IntegerType),
    StructField("type", IntegerType),
    StructField("data", StringType)))

  /** OpenCV type-code → channel count: CV_MAT_CN(t) = ((t >> 3) & 0x1ff) + 1
    * (MotionDetector.java:97-99). CV_8UC1=0, CV_8UC3=16, CV_8UC4=24.
    */
  def channelsOf(matType: Int): Int = ((matType >> 3) & 0x1ff) + 1

  /** Inverse for 8-bit unsigned layouts: channels → CV_8UCn type code. */
  def matTypeOf(channels: Int): Int = (channels - 1) << 3

  /** Raw pixel payload length validation (MotionDetector.java:101-104).
    * Computed in Long: wire geometry is untrusted, and an Int product can
    * wrap onto a tiny payload's length.
    */
  def expectedBytes(rows: Int, cols: Int, matType: Int): Long =
    rows.toLong * cols * channelsOf(matType)

  /** The layouts the CV kernels read: gray, BGR, BGRA. Grayscale reads
    * three samples per pixel of multi-channel input, so 2 channels would
    * read past the payload and 5 would be misread. */
  def readableChannels(channels: Int): Boolean =
    channels == 1 || channels == 3 || channels == 4

  /** The frame-layout predicate every motion path applies first. */
  def readable(px: Array[Byte], rows: Int, cols: Int, matType: Int): Boolean =
    px != null && rows > 0 && cols > 0 && readableChannels(channelsOf(matType)) &&
      px.length == expectedBytes(rows, cols, matType)
}
