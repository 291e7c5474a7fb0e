package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.FrameCodec

/** SURVEY.md §5.2 items 2–3: stateful operator + end-to-end pipeline tests
  * on deterministic fixtures. Covers per-frame result emission (first frame
  * of a key included), PNG-only-on-motion, per-key isolation, in-batch
  * event-time re-ordering, and state carry-over across micro-batches AND
  * across query restarts from the checkpoint.
  */
class MotionPipelineSpec extends AnyFunSuite with SparkTestSession {

  private def tmp(prefix: String): String =
    graft.ScratchDir.dir(prefix)

  private def pngs(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.list()).map(_.toSeq.sorted).getOrElse(Nil)
  }

  test("Kafka plan parity, pinned structurally: the frame-parse chain " +
      "above the source leaf is source-invariant, and the Kafka builder's " +
      "offline failure is the CONNECTOR boundary, never a plan mismatch") {
    // framesStreamFromKafka feeds its value projection into the same
    // decodeWire chain as the directory sources. The Kafka leaf itself
    // cannot be constructed here (no spark-sql-kafka connector jar in the
    // offline image — load() fails resolving the data source, before any
    // plan exists), so the claim is pinned at its actual content: the
    // operator chain decodeWire adds above ANY (value STRING) relation —
    // batch file, streaming file, or a binary value cast to string as
    // framesStreamFromKafka does — has identical node structure and schema.
    import org.apache.spark.sql.catalyst.plans.logical.LeafNode
    def nodes(ds: org.apache.spark.sql.Dataset[_]): Seq[String] =
      ds.queryExecution.analyzed.collect {
        case n if !n.isInstanceOf[LeafNode] => n.nodeName
      }
    def chain(raw: org.apache.spark.sql.DataFrame): Seq[String] = {
      val all = nodes(MotionPipeline.decodeWire(raw))
      val below = nodes(raw)
      assert(all.takeRight(below.length) == below, s"$all does not end in $below")
      all.dropRight(below.length)
    }
    val in = tmp("kafka-parity")
    val lines = FrameFixtures.sequence("camA", 1700000000000L, 2,
      moving = false)
    Files.write(Paths.get(in, "wire.jsonl"),
      String.join("\n", lines: _*).getBytes)
    import spark.implicits._
    val batch = spark.read.text(in).toDF("value")
    val stream = spark.readStream.schema("value STRING").text(in).toDF("value")
    // the stand-in for Kafka's binary `value` and its string projection
    val kafkaLike = Seq("not json".getBytes).toDF("value")
      .selectExpr("CAST(value AS STRING) AS value")
    assert(chain(batch).nonEmpty)
    assert(chain(batch) == chain(stream),
      s"batch=${chain(batch)} stream=${chain(stream)}")
    assert(chain(kafkaLike) == chain(stream),
      s"kafka=${chain(kafkaLike)} stream=${chain(stream)}")
    val schemas = Seq(batch, stream, kafkaLike).map(MotionPipeline.decodeWire(_).schema)
    assert(schemas.distinct.length == 1)
    // the offline boundary is the missing connector, surfaced while
    // resolving the source — not a divergent downstream plan
    val e = intercept[Exception] {
      MotionPipeline.framesStreamFromKafka(spark, "broker:9092")
    }
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  test("batch end-to-end: one result per frame, PNGs only for motion frames") {
    val in = tmp("frames-in"); val img = tmp("frames-img"); val table = tmp("frames-out")
    val t0 = 1700000000000L
    // camA: 4 frames moving square → motion on frames 2..4
    // camB: 3 frames static square → no motion at all
    val lines = FrameFixtures.sequence("camA", t0, 4, moving = true) ++
      FrameFixtures.sequence("camB", t0, 3, moving = false)
    Files.write(Paths.get(in, "batch.jsonl"), String.join("\n", lines: _*).getBytes)

    MotionPipeline.runBatch(spark, in, table, img)

    val results = spark.read.parquet(table)
    assert(results.count() == 7) // every frame emits exactly one row
    assert(results.where("detection_type = 'motion' AND detection_count = 1").count() == 7)
    // partitioned storage layout (camera_id, day)
    assert(new java.io.File(s"$table/camera_id=camA").exists())
    assert(new java.io.File(s"$table/camera_id=camB").exists())
    // PNG side-output: camA frames 2..4 moved; camB never did
    assert(pngs(img) == (1 to 3).map(i => s"camA-T-${t0 + i * 1000L}.png"))
    // image_path populated for every row, motion or not (reference quirk)
    assert(results.where("image_path IS NULL").count() == 0)
  }

  test("unsorted input within a key is re-ordered by event time before detection") {
    val img = tmp("sort-img")
    val t0 = 1700100000000L
    val shuffled = Seq(2, 0, 3, 1).map(i =>
      FrameFixtures.frameJson("camS", t0 + i * 1000L,
        squareX = if (i % 2 == 1) FrameFixtures.PosB else FrameFixtures.PosA))
    import spark.implicits._
    val results = MotionPipeline.detectBin(
      MotionPipeline.decodeWire(shuffled.toDF("value")), img).collect()
    assert(results.length == 4)
    // processed 0,1,2,3 in time order → motion PNGs for frames 1..3 exactly
    assert(pngs(img) == (1 to 3).map(i => s"camS-T-${t0 + i * 1000L}.png"))
  }

  test("decodeWire fast path agrees with the from_json path and drops malformed rows") {
    import spark.implicits._
    val t0 = 1700250000000L
    val good = Seq(
      FrameFixtures.frameJson("camW", t0, FrameFixtures.PosA),
      FrameFixtures.frameJson("camW", t0 + 1000, FrameFixtures.PosB))
    val junk = Seq("""{"not json""", """{"camId":null,"rows":1}""", "", "42",
      """{"timestamp":"2024-01-01T00:00:00Z","rows":2}""")
    // well-formed records whose layout FrameCodec.readable rejects: a short
    // payload, a geometry overflowing Int, 2 and 5 channels
    def layout(cam: String, ms: Long, matType: Int, n: Int): String = {
      val iso = java.time.Instant.ofEpochMilli(ms).toString
      val b64 = java.util.Base64.getEncoder.encodeToString(Array.fill(n)(9.toByte))
      val (r, c) = (FrameFixtures.Rows, FrameFixtures.Cols)
      s"""{"camId":"$cam","timestamp":"$iso","rows":$r,"cols":$c,"type":$matType,"data":"$b64"}"""
    }
    val px = FrameFixtures.Rows * FrameFixtures.Cols
    val unreadable = Seq(
      layout("camShort", t0 + 2000, FrameFixtures.MatTypeC3, px * 3 - 1),
      FrameFixtures.overflowJson("camOverflow", t0 + 3000),
      layout("camC2", t0 + 4000, FrameCodec.matTypeOf(2), px * 2),
      layout("camC5", t0 + 5000, FrameCodec.matTypeOf(5), px * 5))
    val raw = (good ++ junk ++ unreadable).toDF("value")

    val fast = MotionPipeline.decodeWire(raw).collect()
      .sortBy(_.timestamp.getTime)
    // the from_json reference keeps the unreadable layouts until its
    // base64 decode lets the layout predicate see the payload
    val slow = MotionPipeline.parseFrames(raw).collect()
      .map(s => (s, java.util.Base64.getDecoder.decode(s.data)))
      .filter { case (s, p) => FrameCodec.readable(p, s.rows, s.cols, s.matType) }
      .sortBy(_._1.timestamp.getTime)
    assert(fast.length == 2 && slow.length == 2)
    assert(fast.map(_.camId).toSet == Set("camW"), "unreadable layouts crossed the decoder")
    fast.zip(slow).foreach { case (f, (s, p)) =>
      assert(f.camId == s.camId)
      assert(f.timestamp == s.timestamp)
      assert((f.rows, f.cols, f.matType) == (s.rows, s.cols, s.matType))
      assert(f.px.toSeq == p.toSeq)
    }

    // identical detection results through either path
    val imgA = tmp("wire-a"); val imgB = tmp("wire-b")
    val viaFast = MotionPipeline.detectBin(MotionPipeline.decodeWire(raw), imgA)
      .collect().map(r => (r.cameraId, r.frameTimestamp, r.detectionCount)).sortBy(_.toString)
    // the from_json reference decodes base64 pre-shuffle in SQL; undecodable
    // payloads become null px, and the layout filter drops them with the
    // unreadable layouts
    val slowBin = MotionPipeline.parseFrames(raw)
      .withColumn("px", expr("try_to_binary(data, 'base64')")).drop("data")
      .as[MotionPipeline.BinFrame]
      .filter(f => FrameCodec.readable(f.px, f.rows, f.cols, f.matType))
    val viaSlow = MotionPipeline.detectBin(slowBin, imgB)
      .collect().map(r => (r.cameraId, r.frameTimestamp, r.detectionCount)).sortBy(_.toString)
    assert(viaFast.toSeq == viaSlow.toSeq)
    assert(pngs(imgA) == pngs(imgB))
  }

  test("malformed and null-field JSON rows are dropped before the operator") {
    import spark.implicits._
    val good = FrameFixtures.frameJson("camX", 1700200000000L, 4)
    val rows = Seq(good,
      """{"not json""",
      """{"camId":null,"rows":1}""",
      "", "42",
      // missing timestamp / missing geometry — would poison the typed
      // encoder and the state fn's path derivation if not dropped here
      """{"camId":"camX","rows":2,"cols":2,"type":16,"data":"AAAA"}""",
      """{"camId":"camX","timestamp":"2024-01-01T00:00:00Z","data":"AAAA"}""")
    val parsed = MotionPipeline.parseFrames(rows.toDF("value")).collect()
    assert(parsed.map(_.camId).toSeq == Seq("camX"))
    val fast = MotionPipeline.decodeWire(rows.toDF("value")).collect()
    assert(fast.map(_.camId).toSeq == Seq("camX"))
  }

  test("corrupt base64 payload skips the frame without advancing state") {
    val img = tmp("corrupt-img")
    val t0 = 1700300000000L
    val bad = s"""{"camId":"camC","timestamp":"${java.time.Instant.ofEpochMilli(t0 + 1000)}","rows":48,"cols":48,"type":16,"data":"AAAA"}"""
    val lines = Seq(
      FrameFixtures.frameJson("camC", t0, FrameFixtures.PosA),
      bad, // wrong payload length → skipped
      FrameFixtures.overflowJson("camC", t0 + 1500), // wrapped size check → skipped
      FrameFixtures.frameJson("camC", t0 + 2000, FrameFixtures.PosB))
    import spark.implicits._
    val results = MotionPipeline.detectBin(
      MotionPipeline.decodeWire(lines.toDF("value")), img).collect()
    // 2 valid frames → 2 rows; diff runs frame1 vs frame3 (skip didn't clear state)
    assert(results.length == 2)
    assert(pngs(img) == Seq(s"camC-T-${t0 + 2000}.png"))
  }

  test("streaming: state carries across micro-batches and query restarts") {
    val img = tmp("stream-img"); val table = tmp("stream-out"); val ckpt = tmp("stream-ckpt")
    val t0 = 1700400000000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val source = MemoryStream[String]
    val frames = MotionPipeline.decodeWire(source.toDF().toDF("value"))
    def runOnce(): Unit = {
      val q = MotionPipeline.writeResults(
        MotionPipeline.detectBin(frames, img), table, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }

    // batch 1: two frames, square moves → 1 PNG (frame 2 vs frame 1)
    source.addData(FrameFixtures.frameJson("camZ", t0, FrameFixtures.PosA))
    source.addData(FrameFixtures.frameJson("camZ", t0 + 1000, FrameFixtures.PosB))
    runOnce()
    assert(spark.read.parquet(table).count() == 2)
    assert(pngs(img) == Seq(s"camZ-T-${t0 + 1000}.png"))

    // batch 2 on a NEW query from the same checkpoint: the previous plane
    // must be restored — frame 3 diffs against frame 2, not against nothing.
    source.addData(FrameFixtures.frameJson("camZ", t0 + 2000, FrameFixtures.PosA))
    runOnce()
    assert(spark.read.parquet(table).count() == 3)
    assert(pngs(img) == Seq(s"camZ-T-${t0 + 1000}.png", s"camZ-T-${t0 + 2000}.png"))

    // static follow-up frame → row emitted, no new PNG
    source.addData(FrameFixtures.frameJson("camZ", t0 + 3000, FrameFixtures.PosA))
    runOnce()
    assert(spark.read.parquet(table).count() == 4)
    assert(pngs(img).length == 2)
  }

  test("runStream watches a directory end-to-end: new files become new rows + PNGs") {
    val in = tmp("rs-in"); val table = tmp("rs-out")
    val img = tmp("rs-img"); val ckpt = tmp("rs-ckpt")
    val t0 = 1700950000000L

    Files.write(Paths.get(in, "a.jsonl"), String.join("\n",
      FrameFixtures.frameJson("camR", t0, FrameFixtures.PosA),
      FrameFixtures.frameJson("camR", t0 + 1000, FrameFixtures.PosB)).getBytes)
    val q1 = MotionPipeline.runStream(spark, in, table, img, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(table).count() == 2)
    assert(pngs(img) == Seq(s"camR-T-${t0 + 1000}.png"))

    // drop a second file; a new query from the same checkpoint only reads
    // the new file and carries the camera state forward
    Files.write(Paths.get(in, "b.jsonl"),
      FrameFixtures.frameJson("camR", t0 + 2000, FrameFixtures.PosA).getBytes)
    val q2 = MotionPipeline.runStream(spark, in, table, img, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(table).count() == 3)
    assert(pngs(img).length == 2) // frame 3 moved vs frame 2 from the old file
  }

  test("runStream drops malformed wire rows and keeps the query and its state alive") {
    val in = tmp("bad-in"); val table = tmp("bad-out")
    val img = tmp("bad-img"); val ckpt = tmp("bad-ckpt")
    val t0 = 1700970000000L
    def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    val malformed = Seq(
      """{"camId":"camV","timestamp":"""", // truncated JSON
      s"""{"camId":"camV","rows":48,"cols":48,"type":16,"data":"AAAA"}""", // no timestamp
      s"""{"camId":"camV","timestamp":"${iso(t0 + 200)}","type":16,"data":"AAAA"}""", // no geometry
      s"""{"camId":"camV","timestamp":"${iso(t0 + 300)}","rows":48,"cols":48,"type":16,"data":"!!not base64!!"}""",
      s"""{"camId":"camV","timestamp":"${iso(t0 + 400)}","rows":48,"cols":48,"type":16,"data":"AAAA"}""", // wrong length
      FrameFixtures.overflowJson("camV", t0 + 500))
    Files.write(Paths.get(in, "a.jsonl"), String.join("\n",
      (FrameFixtures.frameJson("camV", t0, FrameFixtures.PosA) +: malformed :+
        FrameFixtures.frameJson("camV", t0 + 1000, FrameFixtures.PosB)): _*).getBytes)

    def drain(): Unit = {
      val q = MotionPipeline.runStream(spark, in, table, img, ckpt)
      q.awaitTermination()
      assert(q.exception.isEmpty)
    }
    def landed(): Seq[(String, Long)] =
      spark.read.parquet(table).select("camera_id", "frame_timestamp").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime)).sorted.toSeq

    drain()
    assert(landed() == Seq(("camV", t0), ("camV", t0 + 1000)))
    assert(pngs(img) == Seq(s"camV-T-${t0 + 1000}.png"))

    // a second drain from the same checkpoint: the PosB plane is restored,
    // so the PosA frame diffs against it and saves a motion PNG
    Files.write(Paths.get(in, "b.jsonl"), String.join("\n",
      FrameFixtures.overflowJson("camV", t0 + 1500),
      FrameFixtures.frameJson("camV", t0 + 2000, FrameFixtures.PosA)).getBytes)
    drain()
    assert(landed() == Seq(("camV", t0), ("camV", t0 + 1000), ("camV", t0 + 2000)))
    assert(pngs(img) == Seq(s"camV-T-${t0 + 1000}.png", s"camV-T-${t0 + 2000}.png"))
  }

  private val Hour = 3600_000L

  /** detectBin over a MemoryStream into a memory sink; `delay` watermarks
    * the decoded `timestamp`. Each batch is drained before the next one is
    * added, so the no-data batch that applies an advanced watermark runs in
    * between. Returns the sink's (camera, millis) rows, sorted. */
  private def streamDetect(img: String, delay: Option[String])(
      batches: Seq[String]*): Seq[(String, Long)] = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val decoded = MotionPipeline.decodeWire(stream.toDF().toDF("value"))
    val sink = s"sink_${System.nanoTime()}"
    val q = MotionPipeline.detectBin(delay.fold(decoded)(decoded.withWatermark("timestamp", _)), img)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    spark.table(sink).collect().toSeq
      .map(r => (r.getAs[String]("cameraId"), r.getAs[java.sql.Timestamp]("frameTimestamp").getTime))
      .sorted
  }

  test("watermarked detectBin evicts an idle camera; its return is a first frame") {
    val t0 = 1700990000000L
    val img = tmp("wm-evict-img")
    val rows = streamDetect(img, Some("1 second"))(
      // camA's deadline is t0; camB an hour later moves the watermark past
      // it, and the no-data batch that follows evicts camA's plane
      Seq(FrameFixtures.frameJson("camA", t0, FrameFixtures.PosA)),
      Seq(FrameFixtures.frameJson("camB", t0 + Hour, FrameFixtures.PosA)),
      Seq(FrameFixtures.frameJson("camB", t0 + Hour + 10_000L, FrameFixtures.PosA)),
      // camA returns MOVED: with its plane gone no diff runs, so no PNG
      Seq(FrameFixtures.frameJson("camA", t0 + Hour + 20_000L, FrameFixtures.PosB)))
    assert(rows.length == 4) // every frame still emits its row
    assert(pngs(img).isEmpty) // eviction prevented the would-be motion diff
  }

  test("watermarked detectBin drops a frame older than the watermark: no row, no PNG") {
    val t0 = 1700991000000L
    val img = tmp("wm-late-img")
    val rows = streamDetect(img, Some("1 second"))(
      Seq(FrameFixtures.frameJson("camA", t0 + Hour, FrameFixtures.PosA)),
      // an hour late and moved: it would diff and save a PNG if it landed
      Seq(FrameFixtures.frameJson("camA", t0, FrameFixtures.PosB)))
    assert(rows == Seq(("camA", t0 + Hour)))
    assert(pngs(img).isEmpty)
  }

  test("watermarked detectBin bounds state: 64 cameras shrink to the one past the horizon") {
    val t0 = 1700992000000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val q = MotionPipeline.detectBin(
        MotionPipeline.decodeWire(stream.toDF().toDF("value")).withWatermark("timestamp", "1 second"),
        tmp("wm-64-img"))
      .writeStream.format("noop").start()
    try {
      def stateRows(): Long = q.lastProgress.stateOperators(0).numRowsTotal
      stream.addData((0 until 64).map(i => FrameFixtures.frameJson(f"cam$i%02d", t0, FrameFixtures.PosA)): _*)
      q.processAllAvailable()
      assert(stateRows() == 64)
      stream.addData(FrameFixtures.frameJson("cam00", t0 + Hour, FrameFixtures.PosA))
      q.processAllAvailable()
      assert(stateRows() == 1)
    } finally q.stop()
  }

  test("watermarked detectBin evicts across AvailableNow restarts on one checkpoint") {
    val t0 = 1700993000000L
    val img = tmp("wm-restart-img"); val table = tmp("wm-restart-out")
    val ckpt = tmp("wm-restart-ckpt")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    // a NEW query per batch: the plane, the armed deadline and the
    // watermark all come back from the checkpoint
    def runOnce(frame: String): Unit = {
      stream.addData(frame)
      MotionPipeline.writeResults(
        MotionPipeline.detectBin(
          MotionPipeline.decodeWire(stream.toDF().toDF("value")).withWatermark("timestamp", "1 second"),
          img),
        table, ckpt, Trigger.AvailableNow()).awaitTermination()
    }
    runOnce(FrameFixtures.frameJson("camA", t0, FrameFixtures.PosA))
    runOnce(FrameFixtures.frameJson("camB", t0 + Hour, FrameFixtures.PosA))
    runOnce(FrameFixtures.frameJson("camA", t0 + Hour + 10_000L, FrameFixtures.PosB))
    assert(spark.read.parquet(table).count() == 3)
    assert(pngs(img).isEmpty) // camA was evicted before it returned moved
  }

  test("a watermark on a batch Dataset is ignored: output equals unwatermarked detectBin") {
    import spark.implicits._
    val t0 = 1700994000000L
    // out of event-time order and spread over hours: a live watermark
    // would evict camQ and drop the late frames
    val raw = Seq(
      FrameFixtures.frameJson("camQ", t0 + 2 * Hour, FrameFixtures.PosB),
      FrameFixtures.frameJson("camQ", t0, FrameFixtures.PosB),
      FrameFixtures.frameJson("camQ", t0 + Hour, FrameFixtures.PosA),
      FrameFixtures.frameJson("camR", t0 + 3 * Hour, FrameFixtures.PosB)).toDF("value")
    def run(img: String, watermark: Boolean): Seq[(String, Long)] = {
      val frames = MotionPipeline.decodeWire(raw)
      MotionPipeline.detectBin(
          if (watermark) frames.withWatermark("timestamp", "1 second") else frames, img)
        .collect().map(r => (r.cameraId, r.frameTimestamp.getTime)).sorted.toSeq
    }
    val imgW = tmp("wm-batch-w"); val imgU = tmp("wm-batch-u")
    val withWm = run(imgW, watermark = true)
    assert(withWm == run(imgU, watermark = false))
    assert(withWm.length == 4)
    assert(pngs(imgW) == pngs(imgU))
    assert(pngs(imgW) == Seq(s"camQ-T-${t0 + Hour}.png", s"camQ-T-${t0 + 2 * Hour}.png"))
  }

  test("unwatermarked detectBin keeps an idle camera's plane past an hour of event time") {
    val t0 = 1700995000000L
    val img = tmp("nowm-idle-img")
    val rows = streamDetect(img, None)(
      Seq(FrameFixtures.frameJson("camA", t0, FrameFixtures.PosA)),
      Seq(FrameFixtures.frameJson("camB", t0 + 2 * Hour, FrameFixtures.PosA)),
      // camA returns moved after two hours: it diffs against its kept plane
      Seq(FrameFixtures.frameJson("camA", t0 + 2 * Hour + 1000L, FrameFixtures.PosB)))
    assert(rows.length == 3)
    assert(pngs(img) == Seq(s"camA-T-${t0 + 2 * Hour + 1000L}.png"))
  }

  test("unwatermarked detectBin lands a frame an hour older than the fleet's newest") {
    val t0 = 1700996000000L
    val img = tmp("nowm-late-img")
    val rows = streamDetect(img, None)(
      Seq(FrameFixtures.frameJson("camA", t0 + Hour, FrameFixtures.PosA),
        FrameFixtures.frameJson("camB", t0 + Hour, FrameFixtures.PosA)),
      Seq(FrameFixtures.frameJson("camB", t0, FrameFixtures.PosB)))
    assert(rows == Seq(("camA", t0 + Hour), ("camB", t0), ("camB", t0 + Hour)))
    // camB's old frame diffs against its kept (newer) plane
    assert(pngs(img) == Seq(s"camB-T-$t0.png"))
  }

  test("runStream restarted at every batch boundary lands what a single drain lands") {
    val t0 = 1700997000000L
    // 3 cameras × 6 moving frames; file i carries every camera's frame i
    val files = (0 until 6).map { i =>
      Seq("camX", "camY", "camZ").map(c =>
        FrameFixtures.frameJson(c, t0 + i * 1000L,
          if (i % 2 == 1) FrameFixtures.PosB else FrameFixtures.PosA))
    }
    def drain(tag: String, perQuery: Seq[Seq[Int]]): (Seq[(String, Long)], Seq[String]) = {
      val in = tmp(s"$tag-in"); val table = tmp(s"$tag-out")
      val img = tmp(s"$tag-img"); val ckpt = tmp(s"$tag-ckpt")
      perQuery.foreach { ids =>
        ids.foreach(i => Files.write(Paths.get(in, s"f$i.jsonl"),
          String.join("\n", files(i): _*).getBytes))
        val q = MotionPipeline.runStream(spark, in, table, img, ckpt)
        q.awaitTermination()
        assert(q.exception.isEmpty)
      }
      val landed = spark.read.parquet(table).select("camera_id", "frame_timestamp").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime)).sorted.toSeq
      (landed, pngs(img))
    }
    val (once, oncePngs) = drain("rs-once", Seq(0 until 6))
    val (restarted, restartedPngs) = drain("rs-restart", (0 until 6).map(Seq(_)))
    assert(once.length == 18)
    assert(restarted == once)
    assert(oncePngs.length == 15) // every frame after each camera's first moved
    assert(restartedPngs == oncePngs)
  }

  test("LoadReportListener captures per-batch rates and observed rows") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val listener = new LoadReportListener()
    spark.streams.addListener(listener)
    try {
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
      val t0 = 1700980000000L
      // data first: an AvailableNow query drains what exists when it starts
      stream.addData(
        FrameFixtures.frameJson("camL", t0, FrameFixtures.PosA),
        FrameFixtures.frameJson("camL", t0 + 1000, FrameFixtures.PosB))
      val q = MotionPipeline.writeResults(
        MotionPipeline.detectBin(
          MotionPipeline.decodeWire(stream.toDF().toDF("value")), tmp("lrl-img")),
        tmp("lrl-out"), tmp("lrl-ckpt"))
      q.awaitTermination()
      // listener delivery is async — poll briefly
      var tries = 0
      while (listener.reports.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val withRows = listener.reports.filter(_.numInputRows > 0)
      assert(withRows.nonEmpty)
      assert(withRows.map(_.numInputRows).sum == 2)
      assert(withRows.flatMap(_.observedRows).sum == 2)
    } finally spark.streams.removeListener(listener)
  }

  test("writeResults surfaces per-batch load metrics via observe()") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val t0 = 1700960000000L
    // data first: an AvailableNow query drains what exists when it starts
    stream.addData(
      FrameFixtures.frameJson("camM", t0, FrameFixtures.PosA),
      FrameFixtures.frameJson("camN", t0, FrameFixtures.PosA))
    val q = MotionPipeline.writeResults(
      MotionPipeline.detectBin(
        MotionPipeline.decodeWire(stream.toDF().toDF("value")), tmp("obs-img")),
      tmp("obs-out"), tmp("obs-ckpt"))
    q.awaitTermination()
    val observed = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("graft_load")))
    assert(observed.nonEmpty)
    assert(observed.map(_.getAs[Long]("rows")).sum == 2)
  }

  test("per-key isolation: cameras never see each other's previous frame") {
    val img = tmp("iso-img")
    val t0 = 1700500000000L
    // camP's square is at x=4; camQ's single frame has it at x=30. If state
    // leaked across keys, camQ would "detect motion" against camP's plane.
    val lines = Seq(
      FrameFixtures.frameJson("camP", t0, 4),
      FrameFixtures.frameJson("camQ", t0 + 500, 30),
      FrameFixtures.frameJson("camP", t0 + 1000, 4))
    import spark.implicits._
    val results = MotionPipeline.detectBin(
      MotionPipeline.decodeWire(lines.toDF("value")), img).collect()
    assert(results.length == 3)
    assert(pngs(img).isEmpty) // camP static; camQ has no previous frame
  }
}
