package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.VideoFrameData

/** Declared streaming surface beyond the motion pipeline (SURVEY.md §2.B
  * "Streaming"): event-time windows with watermarks, session windows,
  * late-data drop, and watermark-bounded streaming dedup. The reference has
  * no watermarks at all (WatermarkStrategy.noWatermarks(),
  * /root/reference/dvaf/processor/.../VideoProcessor.java:76) — these are the
  * operators a Spark deployment adds on top for correctness under disorder.
  *
  * All builders work identically on batch and streaming Datasets; specs
  * exercise them through MemoryStream micro-batches.
  */
object StreamOps {

  /** Tumbling event-time frame counts per camera with a watermark: the
    * streaming restatement of "frames per camera-day" (Cassandra partition
    * key (camera_id, day), CassandraService.java:125-145) at 10 s window
    * granularity. Rows later than the watermark delay are dropped.
    */
  def framesPerWindow(
      frames: Dataset[VideoFrameData],
      watermarkDelay: String = "5 seconds"): DataFrame =
    frames
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(window(col("timestamp"), "10 seconds"), col("camId"))
      .agg(count(lit(1)).as("n_frames"))
      .select(
        col("camId").as("camera_id"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_frames"))

  /** Sliding-window frame rate (FPS over the trailing 10 s, emitted every
    * 5 s): the producer's load metric (VideoEventCreator.java:69-90) as an
    * overlapping event-time window.
    */
  def slidingFps(
      frames: Dataset[VideoFrameData],
      watermarkDelay: String = "5 seconds"): DataFrame = {
    val windowSeconds = 10
    frames
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(
        window(col("timestamp"), s"$windowSeconds seconds", "5 seconds"),
        col("camId"))
      .agg(count(lit(1)).as("n_frames"))
      .select(
        col("camId").as("camera_id"),
        col("window.start").as("window_start"),
        round(col("n_frames").cast("double") / windowSeconds, 3).as("fps"))
  }

  /** Session windows per camera: contiguous activity bursts separated by
    * 30 s of silence — "recording sessions" derived from frame arrivals.
    */
  def cameraSessions(
      frames: Dataset[VideoFrameData],
      watermarkDelay: String = "5 seconds"): DataFrame =
    frames
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(session_window(col("timestamp"), "30 seconds"), col("camId"))
      .agg(count(lit(1)).as("n_frames"))
      .select(
        col("camId").as("camera_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_frames"))

  /** Stream-stream interval self-join with watermarks: purchases within
    * [[ConversionHorizonSeconds]] after an error by the same user — the streaming
    * restatement of the batch range join (q09). Both sides carry watermarks
    * so Spark can bound the join state: error rows older than
    * watermark + horizon are evicted.
    * Input columns: (user_id, event_id, event_type, ts: timestamp).
    */
  def streamConversions(
      events: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val err = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts").as("err_ts"))
      .withWatermark("err_ts", watermarkDelay)
    val pur = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("event_id").as("purchase_id"), col("ts").as("pur_ts"))
      .withWatermark("pur_ts", watermarkDelay)
    err.join(pur,
      col("user_id") === col("u2") &&
        col("pur_ts") > col("err_ts") &&
        col("pur_ts") <= col("err_ts") +
          expr(s"INTERVAL $ConversionHorizonSeconds SECONDS"))
      .select("user_id", "error_id", "purchase_id", "err_ts", "pur_ts")
  }

  /** LEFT OUTER variant of [[streamConversions]] — the "which errors did
    * NOT convert" stream, the question the inner join cannot answer. The
    * semantics are the subtle part: an unmatched error row is held in
    * state and emits its null-padded result only once the watermark passes
    * `err_ts` + [[ConversionHorizonSeconds]] (before that, a matching purchase could
    * still arrive), so the output is eventually-complete and the state
    * stays bounded by exactly the same eviction rule as the inner join.
    * Spec-pinned in StreamOpsSpec: no premature null row, the null row
    * appears after the watermark crosses the horizon, and a matched error
    * never emits a null twin.
    */
  def streamConversionsOuter(
      events: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val err = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts").as("err_ts"))
      .withWatermark("err_ts", watermarkDelay)
    val pur = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("event_id").as("purchase_id"), col("ts").as("pur_ts"))
      .withWatermark("pur_ts", watermarkDelay)
    err.join(pur,
      col("user_id") === col("u2") &&
        col("pur_ts") > col("err_ts") &&
        col("pur_ts") <= col("err_ts") +
          expr(s"INTERVAL $ConversionHorizonSeconds SECONDS"),
      "left_outer")
      .select("user_id", "error_id", "purchase_id", "err_ts", "pur_ts")
  }

  /** How long after an error a purchase still counts as its conversion. */
  private val ConversionHorizonSeconds = 3600

  /** One camera's liveness state: the latest frame event time seen. */
  final case class CamSeen(lastSeenMs: Long)

  /** Camera-offline detector — TIMER-DRIVEN emission, the one stateful
    * shape the rest of the streaming surface doesn't exercise: every other
    * operator here emits when DATA arrives, but "camera went dark" is an
    * alert about data that did NOT arrive, so the row must be produced by
    * the state timeout itself (Flink's onTimer analog; the watch half of
    * the reference's camera registry, TopicScaler.java's reconcile loop,
    * restated as event-time semantics). Keyed by camera: each frame
    * re-arms an event-time timeout at lastSeen + `silence`; when the
    * WATERMARK (not wall clock — replays behave identically) passes that
    * deadline with no new frame, one alert row
    * (camera_id, last_seen, silence_ms) emits and the state clears, so a
    * returning camera starts a fresh liveness cycle and can alert again.
    * State is one timestamp per camera — bounded by the fleet size.
    */
  def cameraOfflineAlerts(
      frames: Dataset[VideoFrameData],
      silence: String = "30 seconds",
      watermarkDelay: String = "5 seconds"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = frames.sparkSession
    import spark.implicits._
    val silenceMs = PerceptualIngest.ttlMillisOf(silence)
    def transition(cam: String, rows: Iterator[VideoFrameData],
        state: GroupState[CamSeen]): Iterator[(String, java.sql.Timestamp, Long)] =
      if (state.hasTimedOut) {
        val lastSeen = state.get.lastSeenMs
        state.remove()
        Iterator((cam, new java.sql.Timestamp(lastSeen), silenceMs))
      } else {
        val newest = rows.map(_.timestamp.getTime).max
        val lastSeen = state.getOption.map(_.lastSeenMs.max(newest)).getOrElse(newest)
        state.update(CamSeen(lastSeen))
        state.setTimeoutTimestamp(lastSeen + silenceMs)
        Iterator.empty
      }
    frames
      .withWatermark("timestamp", watermarkDelay)
      .groupByKey(_.camId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        transition)
      .toDF("camera_id", "last_seen", "silence_ms")
  }

  /** Watermark-bounded streaming dedup on (camId, timestamp) — the remedy
    * for the at-least-once duplicate rows the reference's random-UUID sink
    * produces under replay (VideoProcessor.java:189, SURVEY.md §7). State is
    * bounded: keys older than the watermark are evicted.
    */
  def dedupFrames(
      frames: Dataset[VideoFrameData],
      watermarkDelay: String = "5 seconds"): Dataset[VideoFrameData] =
    if (frames.isStreaming)
      frames
        .withWatermark("timestamp", watermarkDelay)
        .dropDuplicatesWithinWatermark("camId", "timestamp")
    else
      // batch has the whole input: plain dedup is the same result with no
      // watermark machinery (dropDuplicatesWithinWatermark is streaming-only)
      frames.dropDuplicates("camId", "timestamp")
}
