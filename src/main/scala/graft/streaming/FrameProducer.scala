package graft.streaming

import java.util.Base64

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.VideoFrameData

/** Producer-side parity (reference modules `producer` + `scaler`,
  * /root/reference/dvaf): synthetic frame generation (VideoEventCreator
  * .java:54-96 — no mp4 decode in this offline env, SURVEY.md §7), JSON wire
  * serialization (:218-233), per-camera rate limiting (:78), camera→topic
  * assignment math (TopicScaler.java:97-183), and the windowed FPS load
  * metric (:69-90).
  *
  * Scale design: frame synthesis is a deterministic function of
  * (camera, sequence) evaluated inside executors — `spark.range`/`rate`
  * partitions parallelize generation with no driver involvement; routing is
  * a computed column (no ZooKeeper, SURVEY.md §2.A A17/A18).
  */
object FrameProducer {

  val DefaultRows = 48
  val DefaultCols = 48
  val Channels = 3
  val MatTypeC3 = 16 // CV_8UC3

  /** Deterministic synthetic BGR frame: dark background with a bright 20×20
    * square teleporting between two disjoint positions by sequence parity —
    * every consecutive pair of frames shows detectable motion (diff area
    * 2×400 px > minArea 300).
    */
  def synthPixels(seq: Long, rows: Int = DefaultRows, cols: Int = DefaultCols,
      moving: Boolean = true): Array[Byte] = {
    val px = Array.fill(rows * cols * Channels)(10.toByte)
    val x0 = if (moving && seq % 2 == 1) 26 else 4
    val y0 = 10
    var r = y0
    while (r < y0 + 20 && r < rows) {
      var c = x0
      while (c < x0 + 20 && c < cols) {
        val o = (r * cols + c) * Channels
        px(o) = 230.toByte; px(o + 1) = 230.toByte; px(o + 2) = 230.toByte
        c += 1
      }
      r += 1
    }
    px
  }

  private val synthDataUdf = udf((seq: Long, rows: Int, cols: Int, moving: Boolean) =>
    Base64.getEncoder.encodeToString(synthPixels(seq, rows, cols, moving)))

  /** Shape a generator relation (`rate-micro-batch` stream or `range`
    * batch with columns value, timestamp) into per-camera frames: camera =
    * value mod n, sequence = value div n — one interleaved round-robin.
    */
  private def shape(gen: DataFrame, nCameras: Int, rows: Int, cols: Int,
      moving: Boolean): Dataset[VideoFrameData] = {
    val spark = gen.sparkSession
    import spark.implicits._
    gen.select(
      concat(lit("cam"), (col("value") % nCameras).cast("string")).as("camId"),
      col("timestamp"),
      lit(rows).as("rows"),
      lit(cols).as("cols"),
      lit(MatTypeC3).as("matType"),
      synthDataUdf(col("value") / nCameras, lit(rows), lit(cols), lit(moving)).as("data"))
      .as[VideoFrameData]
  }

  /** Deterministic streaming generator for tests/replay: `rate-micro-batch`
    * emits exactly `rowsPerBatch` rows per micro-batch with a fixed start
    * timestamp — reproducible micro-batch boundaries, unlike the wall-clock
    * `rate` source. Moving default-size frames, 30 fps per camera
    * (VideoEventCreator.java:78's rate).
    */
  def framesStreamDeterministic(
      spark: SparkSession, nCameras: Int, rowsPerBatch: Int,
      startMillis: Long = 1700000000000L): Dataset[VideoFrameData] = {
    val stepMs = (1000.0 / 30.0).toLong
    shape(
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rowsPerBatch.toLong)
        .option("startTimestamp", startMillis)
        .load()
        // rate-micro-batch stamps every row of a batch with ONE timestamp;
        // frame time must come from the sequence instead or same-camera
        // frames in a batch would tie (undefined order, colliding PNG paths)
        .withColumn("timestamp",
          timestamp_millis(lit(startMillis) + (col("value") / nCameras).cast("long") * stepMs)),
      nCameras, DefaultRows, DefaultCols, moving = true)
  }

  /** Bounded batch frame source: nCameras × framesPerCamera frames, 1/fps s
    * apart starting at t0 (for tests and fixture generation).
    */
  def framesBatch(
      spark: SparkSession, nCameras: Int, framesPerCamera: Int,
      t0Millis: Long, fps: Double = 30.0,
      rows: Int = DefaultRows, cols: Int = DefaultCols,
      moving: Boolean = true): Dataset[VideoFrameData] = {
    val stepMs = (1000.0 / fps).toLong
    shape(
      spark.range(nCameras.toLong * framesPerCamera).toDF("value")
        .withColumn("timestamp",
          timestamp_millis(lit(t0Millis) + (col("value") / nCameras).cast("long") * stepMs)),
      nCameras, rows, cols, moving)
  }

  // ------------------------------------------------------------- wire out

  /** Frames → Kafka-shaped (key, value[, topic]) records: key = camId
    * (VideoEventCreator.java:237), value = the reference's exact JSON field
    * set with ISO-8601 instant timestamp and base64 payload (:218-233),
    * topic = the [[TopicRouter]] assignment of cameras `cam0 ..
    * cam{nCameras-1}` (TopicScaler.java:97-183's sorted-rank rule, replacing
    * the ZK-watched assignment), computed on the driver.
    */
  def toWire(frames: Dataset[VideoFrameData], nCameras: Int): DataFrame = {
    val router = new TopicRouter()
    router.observe((0 until nCameras).map(i => s"cam$i"))
    frames.select(
      col("camId").as("key"),
      to_json(struct(
        col("camId"),
        date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("timestamp"),
        col("rows"),
        col("cols"),
        col("matType").as("type"),
        col("data"))).as("value"),
      router.topicColumn(router.assignments, "camId").as("topic"))
  }

  /** Kafka writer (acks/batching tuned like producer.properties:1-9) — wire
    * parity; needs a broker, so exercised only in deployment.
    */
  def writeToKafka(wire: DataFrame, bootstrapServers: String, checkpointDir: String): StreamingQuery =
    wire.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("kafka.acks", "all")
      .option("kafka.compression.type", "gzip")
      .option("kafka.max.request.size", (5 * 1024 * 1024).toString)
      .option("checkpointLocation", checkpointDir)
      .start()

  // ------------------------------------------------------------- metrics

  /** Per-camera FPS over tumbling wall-clock windows — the producer's load
    * report to ZooKeeper (VideoEventCreator.java:69-90, fps = n·1000/Δt)
    * restated as a windowed aggregate over 2 s windows. Works on batch and
    * (with a watermark) streaming inputs.
    */
  def fpsByCamera(frames: Dataset[VideoFrameData]): DataFrame = {
    val windowSeconds = 2
    frames
      .groupBy(window(col("timestamp"), s"$windowSeconds seconds"), col("camId"))
      .agg(count(lit(1)).as("n_frames"))
      .select(
        col("camId"),
        col("window.start").as("window_start"),
        col("n_frames"),
        round(col("n_frames").cast("double") / windowSeconds, 2).as("fps"))
  }
}
