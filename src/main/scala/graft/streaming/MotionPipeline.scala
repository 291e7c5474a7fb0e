package graft.streaming

import java.sql.Timestamp
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.cv.{Kernels, Motion, Png}
import graft.model.{FrameCodec, ProcessingResult, VideoFrameData}

/** The reference's entire Flink job (source → parse → filter → keyBy →
  * stateful motion detect → sinks) re-expressed on Structured Streaming.
  *
  * Reference chain (/root/reference/dvaf/processor/.../VideoProcessor.java):
  * Kafka pattern source (:106-141) → JSON parse to POJO (:143-153) → null
  * filter (:83-84) → keyBy(camId) (:86-87) → KeyedProcessFunction with
  * ValueState<previous frame> (:155-205) → Cassandra + PNG sinks.
  *
  * Deployed chain ([[runStream]]): `readStream.text` → [[decodeWire]] (parse
  * + drop malformed) → [[detectBin]] (`groupByKey(_.camId)` →
  * `flatMapGroupsWithState` over [[graft.cv.Motion.Step]], the one motion
  * step `motion_region_count` and the batch backfill also run) →
  * [[writeResults]] (`foreachBatch` parquet partitioned by (camera_id, day)
  * — the Cassandra PK analog, CassandraService.java:139-140). [[runBatch]]
  * runs the same chain once.
  *
  * Scale design:
  *  - the only shuffle is the keyBy; frame payloads never enter a second
  *    shuffle (results carry metadata + path, not pixels);
  *  - state per key is ONE blurred grayscale plane (rows·cols bytes), not the
  *    full color frame the reference keeps (3× smaller; semantically identical
  *    because the reference re-derives exactly this plane from its stored
  *    frame each call, MotionDetector.java:33-37);
  *  - per-key event-time ordering is restored by sorting each group iterator
  *    (sanctioned by the reference's own sort, MotionDetector.java:41-43);
  *  - PNG side-writes use deterministic names ([[graft.cv.Png.frameName]],
  *    MotionDetector.java:147) so at-least-once replays are idempotent;
  *  - state is bounded exactly when the input's `timestamp` is watermarked:
  *    a camera's deadline is the newest frame of its latest batch, and the
  *    watermark passing it evicts the plane. [[runStream]] passes
  *    unwatermarked input, so it keeps every camera's plane (see
  *    [[detectBin]]).
  */
object MotionPipeline {

  /** Per-key state: the blurred grayscale plane of the last processed frame. */
  final case class PrevPlane(grayBlur: Array[Byte], rows: Int, cols: Int)

  /** Internal post-decode frame: pixels as binary, not base64 text. Decoding
    * happens BEFORE the keyBy shuffle ([[decodeWire]], parallel across all
    * input partitions) so the per-camera sequential path never
    * touches base64 and the shuffle moves 3/4 of the bytes.
    */
  final case class BinFrame(
      camId: String, timestamp: java.sql.Timestamp,
      rows: Int, cols: Int, matType: Int, px: Array[Byte])

  // ------------------------------------------------------------- sources

  /** Kafka pattern-subscribe source — wire parity with the reference's
    * `setTopicPattern("video-events-.*")` + earliest offsets
    * (VideoProcessor.java:106-141). Not runnable in the offline test env
    * (no broker); above the value projection it feeds the same
    * [[decodeWire]] chain as the directory source of [[runStream]].
    */
  def framesStreamFromKafka(
      spark: SparkSession,
      bootstrapServers: String,
      topicPattern: String = "video-events-.*",
      startingOffsets: String = "earliest"): Dataset[BinFrame] =
    decodeWire(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribePattern", topicPattern)
        .option("startingOffsets", startingOffsets)
        .option("maxOffsetsPerTrigger", 1000) // backpressure at 1.23 MB/frame
        .load()
        .selectExpr("CAST(value AS STRING) AS value"))

  /** Specialized wire decoder: JSON value column → [[BinFrame]] in one pass
    * with Jackson's streaming API. `getBinaryValue()` base64-decodes the
    * pixel payload straight out of the token buffer — no 1.2 MB
    * String/UnsafeRow intermediates, which makes this ~20× faster per row
    * than `from_json` on frame-sized records ([[parseFrames]] is the
    * `from_json` reference it is spec'd against). Malformed rows, and frames
    * whose layout fails [[FrameCodec.readable]], are dropped here, before
    * the keyBy shuffle — the reference's parse-null-then-filter
    * (VideoProcessor.java:143-153 + :83-84).
    */
  def decodeWire(raw: DataFrame): Dataset[BinFrame] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(col("value")).as[String].mapPartitions { it =>
      val factory = new com.fasterxml.jackson.core.JsonFactory()
      it.flatMap(decodeJsonFrame(factory, _))
    }
  }

  private[streaming] def decodeJsonFrame(
      factory: com.fasterxml.jackson.core.JsonFactory,
      s: String): Option[BinFrame] = {
    import com.fasterxml.jackson.core.JsonToken
    try {
      val p = factory.createParser(s)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return None
        var camId: String = null
        var ts: Timestamp = null
        var rows, cols, matType = 0
        var px: Array[Byte] = null
        while (p.nextToken() != JsonToken.END_OBJECT) {
          val name = p.currentName()
          p.nextToken()
          name match {
            case "camId" if p.currentToken() == JsonToken.VALUE_STRING =>
              camId = p.getText
            case "timestamp" if p.currentToken() == JsonToken.VALUE_STRING =>
              val t = p.getText
              val instant =
                try java.time.Instant.parse(t)
                catch {
                  case _: java.time.format.DateTimeParseException =>
                    java.time.OffsetDateTime.parse(t).toInstant
                }
              ts = Timestamp.from(instant)
            case "rows" => rows = p.getIntValue
            case "cols" => cols = p.getIntValue
            case "type" => matType = p.getIntValue
            case "data" if p.currentToken() == JsonToken.VALUE_STRING =>
              px = p.getBinaryValue() // base64 → bytes, zero intermediate copies
            case _ => p.skipChildren()
          }
        }
        if (camId == null || ts == null || !FrameCodec.readable(px, rows, cols, matType)) None
        else Some(BinFrame(camId, ts, rows, cols, matType, px))
      } finally p.close()
    } catch { case _: Exception => None }
  }

  /** JSON string column → typed frames via `from_json`; unparseable rows →
    * null struct → dropped (PERMISSIVE-with-drop, VideoProcessor.java:143-153
    * + :83-84). The SQL-surface reference for [[decodeWire]]: with the
    * payload still base64 text, it keeps the rows `decodeWire` keeps before
    * its layout check.
    */
  def parseFrames(raw: DataFrame): Dataset[VideoFrameData] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw
      .select(from_json(col("value"), FrameCodec.wireSchema).as("f"))
      // a missing timestamp or geometry field must drop the record here:
      // downstream encoders use non-nullable Ints and the state fn derives
      // paths from the timestamp, so a null would poison the query
      .filter(col("f").isNotNull && col("f.camId").isNotNull &&
        col("f.timestamp").isNotNull && col("f.rows").isNotNull &&
        col("f.cols").isNotNull && col("f.type").isNotNull)
      .select(
        col("f.camId").as("camId"),
        col("f.timestamp").as("timestamp"),
        col("f.rows").as("rows"),
        col("f.cols").as("cols"),
        col("f.type").as("matType"),
        col("f.data").as("data"))
      .as[VideoFrameData]
  }

  // ------------------------------------------------------------- operator

  /** keyBy(camId) + stateful motion detection over [[decodeWire]] output —
    * the one detect operator, on batch and streaming Datasets alike
    * (flatMapGroupsWithState in batch mode starts from empty state).
    *
    * State is bounded exactly when the input's `timestamp` is watermarked
    * (`frames.withWatermark("timestamp", delay)` on a streaming Dataset):
    * a camera's deadline is the newest frame of its latest batch, and its
    * plane is evicted once the watermark passes it, so `delay` is the one
    * horizon for both late frames (dropped before the operator: no row, no
    * PNG) and idle cameras. A camera that returns after eviction starts
    * over: its first frame emits a row but runs no diff, as in the
    * reference after a restart without a checkpoint.
    *
    * Unwatermarked input (what [[runStream]] and [[runBatch]] pass) keeps
    * every camera's plane forever, the reference's never-cleared ValueState,
    * and accepts frames of any age. A watermark on a batch Dataset is
    * ignored.
    */
  def detectBin(frames: Dataset[BinFrame], imageOutputDir: String): Dataset[ProcessingResult] = {
    val spark = frames.sparkSession
    import spark.implicits._
    val evicting = frames.isStreaming &&
      frames.schema("timestamp").metadata.contains(EventTimeWatermark.delayKey)
    frames
      .groupByKey(_.camId)
      .flatMapGroupsWithState[PrevPlane, ProcessingResult](
        OutputMode.Append(),
        if (evicting) GroupStateTimeout.EventTimeTimeout() else GroupStateTimeout.NoTimeout())(
        transition(imageOutputDir, evicting) _)
  }

  /** The per-key state transition (KeyedProcessFunction analog,
    * VideoProcessor.java:177-204, over MotionDetector.java:23-92): fold
    * the batch's frames in event-time order through one [[Motion.Step]]
    * resumed from the stored plane — save an annotated PNG iff it finds
    * regions, emit exactly one result row per frame (first frame of a key
    * included, detectionCount hardcoded 1, imagePath always populated —
    * faithful to the reference's quirks). A frame whose layout fails
    * [[FrameCodec.readable]] (which [[decodeWire]] has already dropped;
    * [[detectBin]] takes any Dataset), or whose PNG write fails, is skipped
    * without advancing state (FrameProcessorHelper.java:13-30's
    * exception→null path). Then store the step's plane and, when
    * `evicting`, re-arm the camera's event-time deadline at the newest frame
    * of this batch, clamped past the current watermark (Spark rejects a
    * deadline behind it). A timed-out call only drops the plane.
    *
    * The step is this call's alone: the stored plane may alias its
    * scratch, and no other key's frames can overwrite it.
    */
  private def transition(imageOutputDir: String, evicting: Boolean)(
      camId: String,
      frames: Iterator[BinFrame],
      state: GroupState[PrevPlane]): Iterator[ProcessingResult] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val batch = frames.toArray.sortBy(f => Option(f.timestamp).map(_.getTime).getOrElse(0L))
      val step = new Motion.Step
      state.getOption.foreach(p => step.resume(p.grayBlur, p.rows, p.cols))
      val out = batch.flatMap { f =>
        if (!FrameCodec.readable(f.px, f.rows, f.cols, f.matType)) None
        else try {
          val channels = FrameCodec.channelsOf(f.matType)
          val millis = f.timestamp.getTime
          val regions = step.detect(f.px, f.rows, f.cols, channels)
          if (regions.nonEmpty) {
            val annotated = f.px.clone()
            regions.foreach(Kernels.drawRect(annotated, f.rows, f.cols, channels, _))
            Png.saveFrame(annotated, f.rows, f.cols, channels, camId, millis, imageOutputDir)
          }
          step.commit()
          Some(ProcessingResult(
            id = UUID.randomUUID().toString,
            cameraId = camId,
            frameTimestamp = f.timestamp,
            processingTimestamp = new Timestamp(System.currentTimeMillis()),
            detectionType = "motion",
            detectionCount = 1,
            frameRows = f.rows,
            frameCols = f.cols,
            imagePath = s"$imageOutputDir/${Png.frameName(camId, millis)}",
            metadata = null))
        } catch {
          // a null field that slipped the parse filter or I/O on the PNG
          // write skips the frame (the reference helper's exception→null)
          case scala.util.control.NonFatal(_) => None
        }
      }
      if (out.nonEmpty) state.update(PrevPlane(step.plane, step.rows, step.cols))
      if (evicting && state.exists) {
        val newest = batch.foldLeft(0L)((m, f) =>
          if (f.timestamp == null) m else math.max(m, f.timestamp.getTime))
        state.setTimeoutTimestamp(math.max(newest, state.getCurrentWatermarkMs() + 1))
      }
      out.iterator
    }

  // ------------------------------------------------------------- sinks

  /** Snake-case the result columns and derive the `day` partition column —
    * the Cassandra `dvaf.processing_results` layout
    * (CassandraService.java:125-145, day derivation :153).
    */
  def toStorageLayout(results: Dataset[ProcessingResult]): DataFrame =
    results.select(
      col("cameraId").as("camera_id"),
      date_format(col("frameTimestamp"), "yyyy-MM-dd").as("day"),
      col("frameTimestamp").as("frame_timestamp"),
      col("id"),
      col("processingTimestamp").as("processing_timestamp"),
      col("detectionType").as("detection_type"),
      col("detectionCount").as("detection_count"),
      col("frameRows").as("frame_rows"),
      col("frameCols").as("frame_cols"),
      col("imagePath").as("image_path"),
      col("metadata"))

  /** Streaming sink: per micro-batch append into parquet partitioned by
    * (camera_id, day) — partition pruning then serves the reference's
    * one-camera-one-day point reads (CassandraService.java:139-140).
    * Exactly-once state via checkpointLocation; at-least-once rows (random
    * UUID ids), same delivery contract as the reference's Cassandra sink.
    *
    * Each micro-batch appends about one file per live (camera_id, day).
    * Fold those small files between drains with
    * [[graft.operators.TableCompaction.compactLanded]] on `tableDir`, or on
    * a `camera_id=…/day=…` subtree to scope the run: it is crash-safe
    * (journaled, heals forward) and leaves the checkpoint untouched, so the
    * next drain appends as before.
    */
  def writeResults(
      results: Dataset[ProcessingResult],
      tableDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    toStorageLayout(results)
      // per-batch load metrics surfaced through StreamingQueryProgress
      // .observedMetrics — the producer's ZK load report
      // (VideoEventCreator.java:69-90) without a side channel
      .observe("graft_load",
        count(lit(1)).as("rows"),
        approx_count_distinct(col("camera_id")).as("cameras"))
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => appendPartitioned(batch, tableDir) }
      .start()

  /** Append storage-layout rows to the results table, partitioned by
    * (camera_id, day). Clustering on the partition columns first keeps it
    * to one file per live partition: without it every state task writes
    * its own file per (camera_id, day), tasks × live partitions small
    * files per write. The extra shuffle is tiny (metadata rows; the pixels
    * went to the PNG sink) and AQE sizes it.
    */
  private def appendPartitioned(rows: DataFrame, tableDir: String): Unit =
    rows.repartition(col("camera_id"), col("day"))
      .write.mode("append").partitionBy("camera_id", "day").parquet(tableDir)

  /** Whole pipeline, batch mode: fixtures dir → results parquet + PNGs.
    * Uses the [[decodeWire]] fast path end-to-end.
    */
  def runBatch(
      spark: SparkSession, inputJsonDir: String,
      tableDir: String, imageDir: String): Unit = {
    val results = detectBin(
      decodeWire(spark.read.text(inputJsonDir).toDF("value")), imageDir)
    appendPartitioned(toStorageLayout(results), tableDir)
  }

  /** Whole pipeline, streaming mode over a watched directory. */
  def runStream(
      spark: SparkSession, inputJsonDir: String,
      tableDir: String, imageDir: String, checkpointDir: String): StreamingQuery =
    writeResults(
      detectBin(
        decodeWire(spark.readStream.schema("value STRING").text(inputJsonDir).toDF("value")),
        imageDir),
      tableDir, checkpointDir)
}
