package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Watermark/window semantics (SURVEY.md §2.B Streaming): tumbling counts,
  * sliding FPS, session windows, late-data drop past the watermark, and
  * watermark-bounded dedup — all through MemoryStream micro-batches.
  */
/** Top-level so spark.implicits can derive its Encoder. */
final case class StreamEv(user_id: Long, event_id: Long, event_type: String, ts: java.sql.Timestamp)

class StreamOpsSpec extends AnyFunSuite with SparkTestSession {

  // small 8×8 frames are enough for windowing tests (payload content unused)
  private def frame(camId: String, epochMillis: Long): String = {
    val b64 = java.util.Base64.getEncoder.encodeToString(Array.fill(8 * 8 * 3)(1.toByte))
    val iso = java.time.Instant.ofEpochMilli(epochMillis).toString
    s"""{"camId":"$camId","timestamp":"$iso","rows":8,"cols":8,"type":16,"data":"$b64"}"""
  }

  private val t0 = 1700700000000L // window-aligned (multiple of 10 s)

  private def runQuery(
      stream: MemoryStream[String],
      build: org.apache.spark.sql.Dataset[graft.model.VideoFrameData] => org.apache.spark.sql.DataFrame,
      mode: OutputMode,
      batches: Seq[Seq[String]]): Seq[org.apache.spark.sql.Row] = {
    val sink = s"sink_${System.nanoTime()}"
    val q = build(MotionPipeline.parseFrames(stream.toDF().toDF("value")))
      .writeStream.format("memory").queryName(sink).outputMode(mode).start()
    batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    q.stop()
    spark.table(sink).collect().toSeq
  }

  test("tumbling window counts per camera; late rows beyond the watermark are dropped") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val rows = runQuery(
      stream,
      ds => StreamOps.framesPerWindow(ds, "5 seconds"),
      OutputMode.Append(),
      Seq(
        // batch 1: 3 frames in window [t0, t0+10s) + 1 in the next window
        Seq(frame("camA", t0), frame("camA", t0 + 3000),
          frame("camA", t0 + 6000), frame("camA", t0 + 12000)),
        // batch 2: advance watermark far past window 1 (event time t0+60s):
        // window 1 finalizes and emits
        Seq(frame("camA", t0 + 60000)),
        // batch 3: a LATE row for window 1 (watermark is now t0+55s) — must
        // be dropped, not re-emitted
        Seq(frame("camA", t0 + 1000)),
        // batch 4: push watermark further so window 2 also finalizes
        Seq(frame("camA", t0 + 90000))))
    val byStart = rows.map(r =>
      r.getAs[java.sql.Timestamp]("window_start").getTime -> r.getAs[Long]("n_frames")).toMap
    assert(byStart(t0) == 3L) // late row did NOT bump this to 4
    assert(byStart(t0 + 10000) == 1L)
  }

  test("sliding windows emit overlapping FPS readings") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val rows = runQuery(
      stream,
      ds => StreamOps.slidingFps(ds),
      OutputMode.Append(),
      Seq(
        Seq(frame("camA", t0 + 1000), frame("camA", t0 + 2000)), // in 2 windows each
        Seq(frame("camA", t0 + 60000)))) // advance watermark
    val byStart = rows.map(r =>
      r.getAs[java.sql.Timestamp]("window_start").getTime -> r.getAs[Double]("fps")).toMap
    assert(byStart(t0) == 0.2) // 2 frames / 10 s
    assert(byStart(t0 - 5000) == 0.2) // the overlapping window [t0-5, t0+5)
  }

  test("session windows split on the gap and merge within it") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val rows = runQuery(
      stream,
      ds => StreamOps.cameraSessions(ds),
      OutputMode.Append(),
      Seq(
        // burst 1: 3 frames 10 s apart (within gap) … then 100 s silence …
        // burst 2: 2 frames
        Seq(frame("camB", t0), frame("camB", t0 + 10000), frame("camB", t0 + 20000),
          frame("camB", t0 + 120000), frame("camB", t0 + 125000)),
        Seq(frame("camB", t0 + 600000)))) // advance watermark to close both
    val sessions = rows.map(r => (
      r.getAs[java.sql.Timestamp]("session_start").getTime,
      r.getAs[Long]("n_frames"))).sortBy(_._1)
    assert(sessions.take(2) == Seq((t0, 3L), (t0 + 120000, 2L)))
  }

  test("stream-stream interval join matches errors to later purchases per user") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ev(u: Long, id: Long, t: String, ms: Long) = StreamEv(u, id, t, new java.sql.Timestamp(ms))

    val stream = MemoryStream[StreamEv]
    val sink = s"sink_${System.nanoTime()}"
    val q = StreamOps.streamConversions(stream.toDF())
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()

    // batch 1: error for user 1; batch 2: purchase 30 min later (join across
    // micro-batches via state), purchase by user 2 (no matching error), and
    // a purchase 2 h later for user 1 (outside the horizon)
    stream.addData(ev(1, 10, "error", t0))
    q.processAllAvailable()
    stream.addData(
      ev(1, 11, "purchase", t0 + 30 * 60 * 1000),
      ev(2, 20, "purchase", t0 + 10 * 60 * 1000),
      ev(1, 12, "purchase", t0 + 2 * 3600 * 1000))
    q.processAllAvailable()
    q.stop()

    val got = spark.table(sink).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("error_id"), r.getAs[Long]("purchase_id")))
    assert(got.toSeq == Seq((1L, 10L, 11L)))
  }

  test("outer stream-stream join: unmatched error emits null-padded ONLY after the watermark passes the horizon") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ev(u: Long, id: Long, t: String, ms: Long) = StreamEv(u, id, t, new java.sql.Timestamp(ms))

    val stream = MemoryStream[StreamEv]
    val sink = s"sink_${System.nanoTime()}"
    // short watermark delay so the test can advance past err_ts + horizon
    val q = StreamOps.streamConversionsOuter(stream.toDF(),
        watermarkDelay = "1 minutes")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    def rows() = spark.table(sink).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("error_id"),
        Option(r.getAs[java.lang.Long]("purchase_id")).map(_.toLong)))

    // batch 1: two errors; user 1's converts in batch 2, user 3's never does
    stream.addData(ev(1, 10, "error", t0), ev(3, 30, "error", t0))
    q.processAllAvailable()
    stream.addData(ev(1, 11, "purchase", t0 + 30 * 60 * 1000))
    q.processAllAvailable()
    val mid = rows()
    assert(mid.toSet == Set((1L, 10L, Some(11L))),
      s"user 3's error must NOT emit a null twin while a purchase could still arrive (got ${mid.toSeq})")

    // advance the watermark past err_ts + horizon + delay with far-future
    // rows on BOTH sides (the global watermark is the MIN across the two
    // watermarked inputs — advancing only the purchase side would hold the
    // join watermark at the last error): the unmatched error is now
    // provably unmatched and must emit
    stream.addData(ev(9, 90, "purchase", t0 + 3 * 3600 * 1000),
      ev(9, 92, "error", t0 + 3 * 3600 * 1000))
    q.processAllAvailable()
    // one more batch so the watermark update (computed at batch END) is
    // applied to the join state eviction
    stream.addData(ev(9, 91, "purchase", t0 + 3 * 3600 * 1000 + 1000),
      ev(9, 93, "error", t0 + 3 * 3600 * 1000 + 1000))
    q.processAllAvailable()
    q.stop()

    val fin = rows()
    assert(fin.toSet.contains((3L, 30L, None)),
      s"unmatched error must emit null-padded after the horizon (got ${fin.toSeq})")
    assert(!fin.toSet.contains((1L, 10L, None)),
      "a matched error must never also emit a null twin")
  }

  test("cameraOfflineAlerts: alert emits on the TIMEOUT (no data), clears, and re-arms on return") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val sink = s"sink_${System.nanoTime()}"
    val q = StreamOps.cameraOfflineAlerts(
        MotionPipeline.parseFrames(stream.toDF().toDF("value")),
        silence = "30 seconds", watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    def alerts() = spark.table(sink).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSeq

    // camA sends two frames, then goes dark; camB keeps the watermark moving
    stream.addData(frame("camA", t0), frame("camA", t0 + 2000), frame("camB", t0 + 1000))
    q.processAllAvailable()
    assert(alerts().isEmpty, "no alert while the watermark is before lastSeen + silence")
    // camB frame far enough ahead that watermark (maxEvent - 5 s) passes
    // camA's deadline (t0 + 2 s + 30 s); one more batch applies the new
    // watermark to the timeout evaluation
    stream.addData(frame("camB", t0 + 60000))
    q.processAllAvailable()
    stream.addData(frame("camB", t0 + 61000))
    q.processAllAvailable()
    val a1 = alerts()
    assert(a1 == Seq(("camA", t0 + 2000)),
      s"exactly one offline alert for camA with its true last_seen (got $a1)")

    // camA returns: fresh liveness cycle → a second dark period alerts again
    stream.addData(frame("camA", t0 + 70000))
    q.processAllAvailable()
    stream.addData(frame("camB", t0 + 120000))
    q.processAllAvailable()
    stream.addData(frame("camB", t0 + 121000))
    q.processAllAvailable()
    q.stop()
    val a2 = alerts()
    assert(a2.toSet == Set(("camA", t0 + 2000L), ("camA", t0 + 70000L)),
      s"returning camera must re-arm and alert again (got $a2)")
  }

  test("interval parameters reject month units") {
    import spark.implicits._
    val frames = MotionPipeline.parseFrames(Seq(frame("camA", t0)).toDF("value"))
    val e = intercept[IllegalArgumentException](
      StreamOps.cameraOfflineAlerts(frames, silence = "1 month"))
    assert(e.getMessage.contains("month units"), e.getMessage)
    val docs = Seq((1L, "src", new java.sql.Timestamp(t0), "text"))
      .toDF("doc_id", "source", "ingest_ts", "text")
    intercept[IllegalArgumentException](
      NearDupIngest.writeNearDeduped(docs, graft.ScratchDir.dir("nd-month"),
        graft.ScratchDir.dir("nd-month-ckpt"), watermarkDelay = "2 months"))
    assert(PerceptualIngest.ttlMillisOf("1 day 2 seconds") == 86402000L)
  }

  private def rocksDb = graft.ScaleScope.sibling(spark,
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  test("camera-offline alerts survive a checkpoint restart (flatMapGroupsWithState)") {
    val s = rocksDb
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val table = graft.ScratchDir.dir("oa-flatMapGroupsWithState-out")
    val ckpt = graft.ScratchDir.dir("oa-flatMapGroupsWithState-ckpt")
    val stream = MemoryStream[String]
    // a NEW query per run, recovered from the same checkpoint: liveness
    // state, the armed timer AND the watermark must all carry over
    def runOnce(): Unit =
      StreamOps.cameraOfflineAlerts(
          MotionPipeline.parseFrames(stream.toDF().toDF("value")), "30 seconds", "5 seconds")
        .writeStream.format("parquet").option("path", table)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    def alerts() = spark.read.parquet(table).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSeq

    stream.addData(frame("camA", t0), frame("camA", t0 + 2000), frame("camB", t0 + 1000))
    runOnce()
    assert(alerts().isEmpty, "no alert before the deadline")
    stream.addData(frame("camB", t0 + 60000)) // advances the watermark…
    runOnce()
    stream.addData(frame("camB", t0 + 61000)) // …which this run applies
    runOnce()
    val a1 = alerts()
    assert(a1 == Seq(("camA", t0 + 2000)),
      s"the restored timer must fire across restarts (got $a1)")

    stream.addData(frame("camA", t0 + 70000)) // camA returns, re-arms
    runOnce()
    stream.addData(frame("camB", t0 + 120000))
    runOnce()
    stream.addData(frame("camB", t0 + 121000))
    runOnce()
    val a2 = alerts()
    assert(a2.toSet == Set(("camA", t0 + 2000L), ("camA", t0 + 70000L)),
      s"fresh cycle after return must alert again across restarts (got $a2)")
  }

  test("stateful ops run on the RocksDB state store (the at-scale provider)") {
    val s = rocksDb
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val stream = MemoryStream[String]
    val sink = s"sink_${System.nanoTime()}"
    val q = StreamOps.dedupFrames(
      MotionPipeline.parseFrames(stream.toDF().toDF("value")), "5 seconds")
      .select("camId", "timestamp")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    stream.addData(frame("camK", t0), frame("camK", t0))
    q.processAllAvailable()
    stream.addData(frame("camK", t0), frame("camK", t0 + 1000))
    q.processAllAvailable()
    q.stop()
    assert(s.table(sink).count() == 2) // dedup state lived in RocksDB
  }

  test("update output mode emits partial window counts before finalization") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val sink = s"sink_${System.nanoTime()}"
    val q = StreamOps.framesPerWindow(
      MotionPipeline.parseFrames(stream.toDF().toDF("value")), "5 seconds")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Update()).start()
    stream.addData(frame("camU", t0))
    q.processAllAvailable()
    // update mode shows the in-progress window immediately
    val partial = spark.table(sink).collect()
    assert(partial.length == 1 && partial.head.getAs[Long]("n_frames") == 1L)
    stream.addData(frame("camU", t0 + 2000))
    q.processAllAvailable()
    // the same window re-emits with the updated count
    val updated = spark.table(sink).collect().map(_.getAs[Long]("n_frames"))
    assert(updated.contains(2L))
    q.stop()
  }

  test("complete output mode re-emits the whole aggregate table every batch") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val sink = s"sink_${System.nanoTime()}"
    val q = MotionPipeline.parseFrames(stream.toDF().toDF("value"))
      .groupBy($"camId").count()
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Complete()).start()
    stream.addData(frame("camX", t0), frame("camY", t0))
    q.processAllAvailable()
    assert(spark.table(sink).collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("camX" -> 1L, "camY" -> 1L))
    stream.addData(frame("camX", t0 + 1000))
    q.processAllAvailable()
    // complete mode: the FULL table (both keys) re-emitted with running totals
    assert(spark.table(sink).collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("camX" -> 2L, "camY" -> 1L))
    q.stop()
  }

  test("dedupFrames works on batch Datasets too (plain dropDuplicates fallback)") {
    import spark.implicits._
    val batch = MotionPipeline.parseFrames(
      Seq(frame("camB1", t0), frame("camB1", t0), frame("camB1", t0 + 1000)).toDF("value"))
    assert(!batch.isStreaming)
    assert(StreamOps.dedupFrames(batch).count() == 2)
  }

  test("dropDuplicatesWithinWatermark removes replayed frames across batches") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val sink = s"sink_${System.nanoTime()}"
    val q = StreamOps.dedupFrames(
      MotionPipeline.parseFrames(stream.toDF().toDF("value")), "5 seconds")
      .select("camId", "timestamp")
      .writeStream.format("memory").queryName(sink).outputMode(OutputMode.Append()).start()
    stream.addData(frame("camC", t0), frame("camC", t0)) // dup within batch
    q.processAllAvailable()
    stream.addData(frame("camC", t0)) // replay in next batch (within watermark)
    q.processAllAvailable()
    stream.addData(frame("camC", t0 + 1000))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(sink).collect().map(_.getAs[java.sql.Timestamp]("timestamp").getTime)
    assert(rows.sorted.toSeq == Seq(t0, t0 + 1000))
  }
}
