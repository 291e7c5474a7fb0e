package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cv.Kernels

/** Video as a multimodal binary column.
  *
  * Real-world video (mp4/h264) needs native codecs that don't exist in this
  * offline environment (SURVEY.md §7 hard-parts list) — so the CODEC here is
  * a deterministic stand-in: `GVID`, a trivial container of raw BGR frames
  * (header: magic, rows, cols, channels, fps, nFrames; then frame payloads).
  * Everything AROUND the codec is the real production plumbing: binaryFile
  * scans, decode → explode to per-frame rows, every-nth frame sampling, and
  * per-frame feature columns. Swapping in a real decoder changes only
  * [[decodeFrames]]' body.
  */
object Video {

  private val Magic = 0x47564944 // "GVID"

  /** Monotonic count of [[decodeFrames]] calls in this JVM — decode is the
    * dominant cost of every video operator, so specs pin decode COUNTS
    * against it (e.g. the gated streaming path must pay exactly one decode
    * per clip, not one per plan branch — r10 ADVICE). Local-mode
    * diagnostic; an atomic increment is noise next to the decode itself. */
  private[graft] val decodeCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Pack frames (each rows*cols*channels bytes) into a GVID blob. */
  def encode(rows: Int, cols: Int, channels: Int, fps: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val frameLen = rows * cols * channels
    require(frames.forall(_.length == frameLen), "frame size mismatch")
    val buf = ByteBuffer.allocate(24 + frameLen * frames.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(Magic).putInt(rows).putInt(cols).putInt(channels)
      .putInt(fps).putInt(frames.length)
    frames.foreach(buf.put)
    buf.array()
  }

  /** Decode a GVID blob → (rows, cols, channels, fps, frames). None for
    * anything unrecognized. THIS is the stubbed codec boundary.
    */
  def decodeFrames(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Seq[Array[Byte]])] = {
    decodeCalls.incrementAndGet(): Unit
    try {
      if (bytes.length < 24) return None
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      if (buf.getInt != Magic) return None
      val rows = buf.getInt; val cols = buf.getInt
      val channels = buf.getInt; val fps = buf.getInt; val n = buf.getInt
      // header fields are untrusted: validate sign, keep to the layouts
      // the CV kernels read, and compute the frame length in Long space so
      // rows*cols*channels can't wrap past the bounds check
      if (rows <= 0 || cols <= 0 || n < 0 ||
        !graft.model.FrameCodec.readableChannels(channels)) return None
      val frameLenL = rows.toLong * cols * channels
      if (frameLenL > Int.MaxValue ||
        bytes.length.toLong < 24L + frameLenL * n) return None
      val frameLen = frameLenL.toInt
      val frames = (0 until n).map { i =>
        val f = new Array[Byte](frameLen)
        System.arraycopy(bytes, 24 + i * frameLen, f, 0, frameLen)
        f
      }
      Some((rows, cols, channels, fps, frames))
    } catch { case _: Exception => None }
  }

  def readVideoDir(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", "*.gvid").load(dir)

  // optimizer fence — see AudioContainment.windowHashUdf: unfenced, the
  // full-corpus decode runs once for the isNotNull filter and once for
  // the explode generator
  private val explodeUdf = udf((bytes: Array[Byte]) =>
    decodeFrames(bytes).map { case (rows, cols, ch, fps, frames) =>
      frames.zipWithIndex.map { case (px, i) => (i, rows, cols, ch, fps, px) }
    }).asNondeterministic()

  /** One row per frame: (path, frame_idx, rows, cols, channels, fps, px).
    * Undecodable blobs are dropped. The explode happens executor-side — a
    * 100 TB corpus fans out by file, then by frame.
    */
  def frames(videos: DataFrame): DataFrame =
    explodeFrames(videos.select(col("path"), col("content").as("blob")), "path")

  /** [[frames]] for an id-keyed video COLUMN (doc-table corpora) instead
    * of a binaryFile directory: one row per decoded frame, keyed by
    * `idCol` as `video_id` — the same executor-side fan-out (by video,
    * then by frame).
    */
  def framesById(videos: DataFrame, videoCol: String, idCol: String): DataFrame =
    explodeFrames(videos.select(col(idCol).as("video_id"), col(videoCol).as("blob")), "video_id")

  private def explodeFrames(keyed: DataFrame, key: String): DataFrame =
    keyed
      .select(col(key), explodeUdf(col("blob")).as("fs"))
      .filter(col("fs").isNotNull)
      .select(col(key), explode(col("fs")).as("f"))
      .select(col(key), col("f._1").as("frame_idx"), col("f._2").as("rows"),
        col("f._3").as("cols"), col("f._4").as("channels"), col("f._5").as("fps"),
        col("f._6").as("px"))

  /** Keep every nth frame (temporal subsampling before expensive work). */
  def sampleFrames(frameRows: DataFrame, everyNth: Int): DataFrame =
    frameRows.filter(col("frame_idx") % everyNth === 0)

  private val motionUdf = udf(
    (prev: Array[Byte], cur: Array[Byte], rows: Int, cols: Int, ch: Int) => {
      // NULL (not a sentinel) for the first frame or any layout the
      // entry point rejects — same contract as motion_region_count
      val n = Kernels.motionRegionCount(prev, cur, rows, cols,
        graft.model.FrameCodec.matTypeOf(ch))
      if (n < 0) null.asInstanceOf[java.lang.Integer] else java.lang.Integer.valueOf(n)
    })

  /** Per-frame motion vs the previous frame of the same video — the batch
    * window-lag form of the streaming pipeline, applied to decoded files
    * (`keyCol` = "path") or to id-keyed corpora ([[framesById]],
    * `keyCol` = "video_id"). Each pair runs [[graft.cv.Motion.Step]], the
    * live detector's step, through [[Kernels.motionRegionCount]], so a
    * backfill over archived footage and the streaming detector can never
    * disagree.
    */
  def withMotion(frameRows: DataFrame, keyCol: String = "path"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy("frame_idx")
    frameRows.withColumn("n_regions",
      motionUdf(lag("px", 1).over(w), col("px"),
        col("rows"), col("cols"), col("channels")))
  }
}
