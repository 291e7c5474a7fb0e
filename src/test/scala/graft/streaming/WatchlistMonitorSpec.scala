package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.{AudioCorpus, VideoCorpus}

/** The streaming watchlist containment monitor: a planted embed arriving
  * on a MemoryStream is flagged at the right offset, clean/unwatched/junk
  * items pass silently, and the flagged verdict equals the batch
  * containment path (ext109 audio / ext117 video) number-for-number —
  * same hashing, same low-info filter, same alignment vote, same
  * rounding.
  */
class WatchlistMonitorSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  private def runStream(flagged: DataFrame, out: String, ckpt: String): Unit =
    flagged.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .start().awaitTermination()

  test("audio: a planted embed arriving on a stream is flagged at the right offset; verdict == ext109 batch") {
    val winSec = AudioCorpus.TrackWindowSec
    val watch = WatchlistMonitor.audioWatchlist(
      Seq((0L, AudioCorpus.renderTrack(0L))).toDF("doc_id", "wav"),
      "wav", "doc_id", windowSec = winSec)
    assert(watch.map(_.clip_id) == Seq(0L) && watch.head.units.size == 4)
    val base = graft.ScratchDir.dir("watchmon-audio")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    stream.addData(
      (3L, "feedA", ts(1700000000L), AudioCorpus.renderTrack(3L)), // embeds clip 0 at window 3
      (7L, "feedB", ts(1700000000L), AudioCorpus.renderTrack(7L)), // embeds UNWATCHED clip 4
      (11L, "feedA", ts(1700000000L), Array[Byte](1, 2, 3)))       // junk → silent
    runStream(
      WatchlistMonitor.flagAudio(
        stream.toDF().toDF("track_id", "source", "ingest_ts", "wav"),
        "wav", watch, windowSec = winSec),
      s"$base/flags", s"$base/ckpt")
    val flags = spark.read.parquet(s"$base/flags").collect()
    assert(flags.length == 1, s"exactly the planted embed flags: ${flags.toSeq}")
    val f = flags.head
    assert(f.getAs[Long]("track_id") == 3L && f.getAs[Long]("clip_id") == 0L)
    assert(f.getAs[Int]("offset_units") == 3,
      s"clip 0 embeds at window 3, got ${f.getAs[Int]("offset_units")}")
    assert(f.getAs[Double]("coverage") >= 0.99)
    // verdict parity vs the ext109 batch path on the same two media
    val b = graft.operators.AudioContainment.containmentPairs(
      Seq((0L, AudioCorpus.renderTrack(0L)), (3L, AudioCorpus.renderTrack(3L)))
        .toDF("doc_id", "wav"),
      "wav", "doc_id", windowSec = winSec)
      .collect()
    assert(b.length == 1 && b.head.getAs[Long]("clip_id") == 0L &&
      b.head.getAs[Long]("track_id") == 3L)
    assert(f.getAs[Int]("offset_units") == b.head.getAs[Int]("offset_windows"))
    assert(f.getAs[Double]("offset_seconds") ==
      b.head.getAs[Double]("offset_seconds"))
    assert(f.getAs[Long]("matched_units") ==
      b.head.getAs[Long]("matched_windows"))
    assert(f.getAs[Double]("coverage") == b.head.getAs[Double]("coverage"))
  }

  test("video: a planted embed flags at the EmbedOffset; montage-shaped and unwatched footage passes; verdict == ext117 batch") {
    val watch = WatchlistMonitor.videoWatchlist(
      Seq((0L, VideoCorpus.renderClipTrack(0L))).toDF("doc_id", "gvid"),
      "gvid", "doc_id")
    assert(watch.map(_.clip_id) == Seq(0L))
    val base = graft.ScratchDir.dir("watchmon-video")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    stream.addData(
      (3L, "chanA", ts(1700100000L), VideoCorpus.renderClipTrack(3L)), // embeds clip 0
      (7L, "chanB", ts(1700100000L), VideoCorpus.renderClipTrack(7L))) // embeds UNWATCHED clip 4
    runStream(
      WatchlistMonitor.flagVideo(
        stream.toDF().toDF("vid_id", "source", "ingest_ts", "gvid"),
        "gvid", watch),
      s"$base/flags", s"$base/ckpt")
    val flags = spark.read.parquet(s"$base/flags").collect()
    assert(flags.length == 1, s"exactly the planted embed flags: ${flags.toSeq}")
    val f = flags.head
    assert(f.getAs[Long]("vid_id") == 3L && f.getAs[Long]("clip_id") == 0L)
    assert(f.getAs[Int]("offset_units") == VideoCorpus.EmbedOffset,
      s"embed offset ${f.getAs[Int]("offset_units")}, want ${VideoCorpus.EmbedOffset}")
    // verdict parity vs the ext117 batch path on the same two media
    val b = graft.operators.VideoDedup.containmentPairs(
      Seq((0L, VideoCorpus.renderClipTrack(0L)),
        (3L, VideoCorpus.renderClipTrack(3L))).toDF("doc_id", "gvid"),
      "gvid", "doc_id")
      .collect()
    assert(b.length == 1 && b.head.getAs[Long]("clip_id") == 0L &&
      b.head.getAs[Long]("track_id") == 3L)
    assert(f.getAs[Int]("offset_units") == b.head.getAs[Int]("offset_frames"))
    assert(f.getAs[Long]("matched_units") ==
      b.head.getAs[Long]("matched_frames"))
    assert(f.getAs[Double]("coverage") == b.head.getAs[Double]("coverage"))
  }

  test("image: perturbed and mirrored re-posts of a watched image flag on a stream; fresh families and junk pass; distance == ext101 pair arithmetic") {
    import graft.cv.{ImageOps, Png}
    import graft.sources.ImageCorpus
    val watch = WatchlistMonitor.imageWatchlist(
      Seq((0L, ImageCorpus.render(0L))).toDF("doc_id", "png"),
      "png", "doc_id")
    assert(watch.map(_._1) == Seq(0L))
    // a horizontally mirrored re-post of the watched image, through the
    // engine's own PNG path (the classic hash-list evasion)
    val img = ImageOps.decode(ImageCorpus.render(0L)).get
    val flipped = new Array[Byte](img.px.length)
    for (r <- 0 until img.rows; c <- 0 until img.cols; k <- 0 until img.channels)
      flipped((r * img.cols + c) * img.channels + k) =
        img.px((r * img.cols + (img.cols - 1 - c)) * img.channels + k)
    val mirrorPng = Png.encodeBytes(flipped, img.rows, img.cols, img.channels)
    val base = graft.ScratchDir.dir("watchmon-image")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, Array[Byte])]
    stream.addData(
      (1L, "feedA", ImageCorpus.render(1L)),  // family member (perturbed)
      (2L, "feedA", mirrorPng),               // mirrored re-post
      (9L, "feedB", ImageCorpus.render(9L)),  // fresh family -> silent
      (10L, "feedB", Array[Byte](9, 9, 9)))   // junk -> silent
    runStream(
      WatchlistMonitor.flagImage(
        stream.toDF().toDF("img_id", "source", "png"), "png", watch),
      s"$base/flags", s"$base/ckpt")
    val flags = spark.read.parquet(s"$base/flags").collect()
      .map(r => (r.getAs[Long]("img_id"), r.getAs[Long]("clip_id"),
        r.getAs[Int]("distance"))).sortBy(_._1).toSeq
    assert(flags.map(f => (f._1, f._2)) == Seq((1L, 0L), (2L, 0L)), s"got $flags")
    // mirror canonicalization is exact: the mirrored re-post at distance 0
    assert(flags.find(_._1 == 2L).get._3 == 0)
    // distance parity with the ext101 batch pair arithmetic
    val b = graft.operators.ImageDedup.nearDupPairs(
      Seq((0L, ImageCorpus.render(0L)), (1L, ImageCorpus.render(1L)))
        .toDF("doc_id", "png"), "png", "doc_id").collect()
    assert(b.length == 1 &&
      flags.find(_._1 == 1L).get._3.toLong == b.head.getAs[Long]("dist"))
  }

  test("the same transform runs unchanged over a batch frame (stream==batch by construction)") {
    // the monitor is a pure stateless transform: point it at a static
    // frame and the flag set is identical to what the stream produced —
    // this is the property that makes the stream/batch parity above
    // structural rather than coincidental
    val winSec = AudioCorpus.TrackWindowSec
    val watch = WatchlistMonitor.audioWatchlist(
      Seq((0L, AudioCorpus.renderTrack(0L))).toDF("doc_id", "wav"),
      "wav", "doc_id", windowSec = winSec)
    val items = Seq(
      (3L, AudioCorpus.renderTrack(3L)),
      (7L, AudioCorpus.renderTrack(7L))).toDF("track_id", "wav")
    val got = WatchlistMonitor.flagAudio(items, "wav", watch,
        windowSec = winSec)
      .collect().map(r => (r.getAs[Long]("track_id"), r.getAs[Long]("clip_id"),
        r.getAs[Int]("offset_units"), r.getAs[Double]("coverage"))).toSeq
    assert(got.map(g => (g._1, g._2, g._3)) == Seq((3L, 0L, 3)), s"got $got")
    assert(got.head._4 >= 0.99)
  }

  test("dynamic watchlist: a clip added to the takedown list while the monitor runs is enforced from the next refresh on") {
    // the list is not frozen at deploy time: batch 1 runs with clip 0
    // watched (track 7's embed of clip 4 passes SILENTLY), the list gains
    // clip 4, and the re-arriving track 7 flags at the same offset the
    // static path would report
    val winSec = AudioCorpus.TrackWindowSec
    val base = graft.ScratchDir.dir("watchmon-dynamic")
    val wlDir = s"$base/watchlist"
    Seq((0L, AudioCorpus.renderTrack(0L))).toDF("doc_id", "wav")
      .write.mode("overwrite").parquet(wlDir)
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    def runOnce(): Unit =
      WatchlistMonitor.monitorStream(
        stream.toDF().toDF("track_id", "source", "ingest_ts", "wav"),
        () => WatchlistMonitor.audioWatchlist(
          spark.read.parquet(wlDir), "wav", "doc_id", windowSec = winSec),
        (b: DataFrame, w: Seq[WatchlistMonitor.WatchClip]) =>
          WatchlistMonitor.flagAudio(b, "wav", w, windowSec = winSec),
        s"$base/flags", s"$base/ckpt").awaitTermination()
    stream.addData(
      (3L, "feedA", ts(1700000000L), AudioCorpus.renderTrack(3L)), // embeds watched clip 0
      (7L, "feedB", ts(1700000000L), AudioCorpus.renderTrack(7L))) // embeds clip 4 — not watched yet
    runOnce()
    val after1 = spark.read.parquet(s"$base/flags").collect()
    assert(after1.length == 1 && after1.head.getAs[Long]("track_id") == 3L &&
      after1.head.getAs[Long]("clip_id") == 0L,
      s"only the clip-0 embed may flag before the list grows: ${after1.toSeq}")
    // a new claim lands on the takedown list
    Seq((4L, AudioCorpus.renderTrack(4L))).toDF("doc_id", "wav")
      .write.mode("append").parquet(wlDir)
    stream.addData(
      (7L, "feedB", ts(1700000060L), AudioCorpus.renderTrack(7L)))
    runOnce()
    val after2 = spark.read.parquet(s"$base/flags").collect()
      .map(r => (r.getAs[Long]("track_id"), r.getAs[Long]("clip_id"),
        r.getAs[Int]("offset_units"))).toSet
    assert(after2 == Set((3L, 0L, 3), (7L, 4L, 3)),
      s"the grown list must catch track 7's embed of clip 4 at offset 3: $after2")
  }

  test("retroactive sweep: a clip watched TODAY finds yesterday's LANDED corpus at the monitor's own offsets, flag schema identical") {
    val winSec = AudioCorpus.TrackWindowSec
    val base = graft.ScratchDir.dir("watchmon-sweep")
    // yesterday: tracks 3 and 7 landed while only clip 0 was watched —
    // track 7's embed of clip 4 passed the door silently and LANDED
    val landedDir = s"$base/landed"
    Seq(
      (3L, "feedA", ts(1700000000L), AudioCorpus.renderTrack(3L)),
      (7L, "feedB", ts(1700000000L), AudioCorpus.renderTrack(7L)))
      .toDF("track_id", "source", "ingest_ts", "wav")
      .write.parquet(landedDir)
    // today: clip 4 joins the takedown list. The live monitor enforces it
    // against new arrivals (a fresh copy of track 7 re-arrives)...
    val fullList = WatchlistMonitor.audioWatchlist(
      Seq((0L, AudioCorpus.renderTrack(0L)), (4L, AudioCorpus.renderTrack(4L)))
        .toDF("doc_id", "wav"), "wav", "doc_id", windowSec = winSec)
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    stream.addData((7L, "feedB", ts(1700086400L), AudioCorpus.renderTrack(7L)))
    WatchlistMonitor.monitorStream(
      stream.toDF().toDF("track_id", "source", "ingest_ts", "wav"),
      () => fullList,
      (b: DataFrame, w: Seq[WatchlistMonitor.WatchClip]) =>
        WatchlistMonitor.flagAudio(b, "wav", w, windowSec = winSec),
      s"$base/flags", s"$base/ckpt").awaitTermination()
    // ... and the SWEEP enforces it against the landed table, with only
    // the DELTA (clip 4) broadcast, appending to the same flags table
    val newClips = WatchlistMonitor.audioWatchlist(
      Seq((4L, AudioCorpus.renderTrack(4L))).toDF("doc_id", "wav"),
      "wav", "doc_id", windowSec = winSec)
    val swept = WatchlistMonitor.sweepLanded(
      spark, landedDir, newClips,
      (b: DataFrame, w: Seq[WatchlistMonitor.WatchClip]) =>
        WatchlistMonitor.flagAudio(b, "wav", w, windowSec = winSec),
      out = Some(s"$base/flags"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("track_id"), r.getAs[Long]("clip_id"))
    def verdict(r: org.apache.spark.sql.Row) =
      (r.getAs[Int]("offset_units"), r.getAs[Double]("offset_seconds"),
        r.getAs[Long]("matched_units"), r.getAs[Long]("aligned_units"),
        r.getAs[Double]("coverage"))
    val sweptRows = swept.collect()
    assert(sweptRows.map(key).toSet == Set((7L, 4L)),
      s"exactly the landed-before-watched embed flags: ${sweptRows.toSeq}")
    // flag-schema parity + verdict parity with the live monitor's row for
    // the same (item, clip): shared transform, so identical by
    // construction — pinned here so a refactor cannot silently fork them
    val flagsTable = spark.read.parquet(s"$base/flags")
    assert(flagsTable.columns.toSeq == swept.columns.toSeq,
      "sweep flags must land in the monitor's table with its schema")
    val monitorRow = flagsTable.collect()
      .filter(r => key(r) == ((7L, 4L)) &&
        r.getAs[java.sql.Timestamp]("ingest_ts") == ts(1700086400L))
    assert(monitorRow.length == 1, "the live monitor flagged the re-arrival")
    assert(verdict(sweptRows.head) == verdict(monitorRow.head),
      s"sweep verdict must equal the monitor's: " +
        s"${verdict(sweptRows.head)} vs ${verdict(monitorRow.head)}")
  }

  test("watermarked sweep computes its own delta: a re-run is idempotent, a newly watched clip sweeps only itself") {
    val winSec = AudioCorpus.TrackWindowSec
    val base = graft.ScratchDir.dir("watchmon-sweep-wm")
    // the landed corpus: embed tracks 3 (of clip 0) and 7 (of clip 4)
    val landedDir = s"$base/landed"
    Seq((3L, AudioCorpus.renderTrack(3L)), (7L, AudioCorpus.renderTrack(7L)))
      .toDF("track_id", "wav").write.parquet(landedDir)
    val out = s"$base/flags"
    def loadClips(ids: Seq[Long]): Seq[WatchlistMonitor.WatchClip] =
      WatchlistMonitor.audioWatchlist(
        ids.map(id => (id, AudioCorpus.renderTrack(id)))
          .toDF("doc_id", "wav"), "wav", "doc_id", windowSec = winSec)
    def sweep(watched: Seq[Long]) = WatchlistMonitor.sweepWatchlist(
      spark, landedDir, watched, loadClips,
      (b: DataFrame, w: Seq[WatchlistMonitor.WatchClip]) =>
        WatchlistMonitor.flagAudio(b, "wav", w, windowSec = winSec), out)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("track_id"), r.getAs[Long]("clip_id"))
    def table() = spark.read.parquet(out).collect().map(key).toSeq.sorted
    // first sweep: only clip 0 watched — only its embed flags
    val first = sweep(Seq(0L))
    assert(first.collect().map(key).toSet == Set((3L, 0L)))
    assert(table() == Seq((3L, 0L)))
    // RE-RUN with the unchanged watched set: the watermark makes the
    // delta empty — an empty frame in the flag schema returns, and the
    // flags table is byte-for-byte the same rows (no double-append)
    val rerun = sweep(Seq(0L))
    assert(rerun.isEmpty && rerun.columns.toSeq == first.columns.toSeq,
      "an already-swept watchlist must sweep nothing, in the flag schema")
    assert(table() == Seq((3L, 0L)), "the re-run appended duplicate flags")
    // clip 4 joins the takedown list: the sweep computes the delta
    // itself and flags ONLY the new clip's embed
    val second = sweep(Seq(0L, 4L))
    assert(second.collect().map(key).toSet == Set((7L, 4L)),
      "the delta sweep must score only the newly watched clip")
    assert(table() == Seq((3L, 0L), (7L, 4L)))
    // the delta's verdict carries the monitor-parity offset
    val row = second.collect().head
    assert(row.getAs[Int]("offset_units") == 3 &&
      row.getAs[Double]("coverage") == 1.0, s"verdict: $row")
    // watermark bookkeeping: one epoch per effective sweep
    val swept = spark.read.parquet(s"${out}_swept").collect()
      .map(r => r.getAs[Long]("clip_id") -> r.getAs[Long]("sweep_epoch"))
      .toMap
    assert(swept == Map(0L -> 1L, 4L -> 2L), s"watermark: $swept")
    // and a final no-op re-run over the grown set
    assert(sweep(Seq(0L, 4L)).isEmpty && table().size == 2)
  }

  test("the sweep watermark read distinguishes 'nothing durably swept' from a broken table") {
    val winSec = AudioCorpus.TrackWindowSec
    val base = graft.ScratchDir.dir("watchmon-sweep-edge")
    val landedDir = s"$base/landed"
    Seq((3L, AudioCorpus.renderTrack(3L)))
      .toDF("track_id", "wav").write.parquet(landedDir)
    val out = s"$base/flags"
    def loadClips(ids: Seq[Long]): Seq[WatchlistMonitor.WatchClip] =
      WatchlistMonitor.audioWatchlist(
        ids.map(id => (id, AudioCorpus.renderTrack(id)))
          .toDF("doc_id", "wav"), "wav", "doc_id", windowSec = winSec)
    def sweep(watched: Seq[Long]) = WatchlistMonitor.sweepWatchlist(
      spark, landedDir, watched, loadClips,
      (b: DataFrame, w: Seq[WatchlistMonitor.WatchClip]) =>
        WatchlistMonitor.flagAudio(b, "wav", w, windowSec = winSec), out)
    // a half-created watermark dir (crash before any file committed):
    // structurally "nothing durably swept" — the sweep proceeds whole
    val sweptDir = new java.io.File(s"${out}_swept")
    assert(sweptDir.mkdirs())
    assert(sweep(Seq(0L)).collect().length == 1,
      "an empty watermark dir must read as a first sweep")
    // a HEALTHY watermark that fails to read must PROPAGATE, not be
    // treated as empty: empty-as-fallback would re-sweep the entire
    // watched set and double-append every historical flag
    graft.util.LocalFs.deleteRecursively(sweptDir)
    assert(sweptDir.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${out}_swept/part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] { sweep(Seq(0L, 4L)) }
    // ... and the failed attempt appended nothing
    assert(spark.read.parquet(out).count() == 1,
      "a failed watermark read must not have swept anything")
  }

  test("sweep delta plan: ONE aggregate pass over the watermark computes delta + epoch — no join, no second scan, the watermark never shuffles or reaches the driver") {
    // the r13 verdict #3 shape, plan-pinned: the watermark grows with
    // every clip ever watched, so the delta must come from a map-side
    // probe of the watermark scan (the watched set is the
    // driver-bounded Seq, compiled into an In/InSet predicate feeding
    // collect_set) computed IN THE SAME JOB as the max-epoch — two
    // separate scans would double the sweep hot path's watermark I/O,
    // and any Join/SortMergeJoin would shuffle the watermark — the
    // driver-sized structure's return in exchange form
    val winSec = AudioCorpus.TrackWindowSec
    // DELIBERATELY SHORT slug: the plan filter below matches the
    // watermark dir's "flags_swept" suffix inside the executedPlan
    // STRING, and FileSourceScanExec truncates its Location metadata at
    // spark.sql.maxMetadataStringLength (100 chars) — a scratch path a
    // few chars longer silently cuts the suffix out of the rendered
    // plan and the pin reads 0 scans (this bit the r16 scratch-dir
    // sweep: the shared-root layout pushed the path past the boundary)
    val base = graft.ScratchDir.dir("wmsp")
    // loud guard so a future path-layout change fails HERE, not as a
    // mysterious 0-scan assertion: "InMemoryFileIndex(1 paths)[" is 27
    // chars of the 100-char metadata budget, so the rendered file: URI
    // must fit in the remaining 72 for "flags_swept" to survive
    assert(s"file:${base}/flags_swept".length <= 72,
      s"scratch path too long for the plan-string pin: $base")
    val landedDir = s"$base/landed"
    Seq((3L, AudioCorpus.renderTrack(3L)), (7L, AudioCorpus.renderTrack(7L)))
      .toDF("track_id", "wav").write.parquet(landedDir)
    val out = s"$base/flags"
    def loadClips(ids: Seq[Long]): Seq[WatchlistMonitor.WatchClip] =
      WatchlistMonitor.audioWatchlist(
        ids.map(id => (id, AudioCorpus.renderTrack(id)))
          .toDF("doc_id", "wav"), "wav", "doc_id", windowSec = winSec)
    def sweep(watched: Seq[Long]) = WatchlistMonitor.sweepWatchlist(
      spark, landedDir, watched, loadClips,
      (b: DataFrame, w: Seq[WatchlistMonitor.WatchClip]) =>
        WatchlistMonitor.flagAudio(b, "wav", w, windowSec = winSec), out)
    sweep(Seq(0L)) // creates the watermark — the delta path needs one
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      sweep(Seq(0L, 4L)) // delta path: the one-pass delta+epoch agg runs
      org.apache.spark.graft.ListenerGlue.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    // scope to plans that actually SCAN this test's watermark (the
    // session and its listener bus are suite-shared, so a concurrently
    // running suite's jobs must not be able to flake this pin; the
    // sweep's own watermark APPEND carries the path too but reads a
    // LocalRelation, not a parquet scan of it)
    val scans = plans.asScala.filter(p =>
      p.contains("flags_swept") && !p.contains("InsertIntoHadoopFsRelation"))
    assert(scans.size == 1,
      s"delta + epoch must come from ONE pass over the watermark, saw ${scans.size}:\n${scans.mkString("\n----\n")}")
    scans.foreach { p =>
      assert(p.contains("HashAggregate") && !p.contains("Join"),
        s"the watermark pass must be a map-side-probed aggregate, never a join:\n$p")
    }
  }

  test("the sweep watermark folds past its file bound: one file per sweep, fold to one row per clip, idempotency intact across the fold") {
    val winSec = AudioCorpus.TrackWindowSec
    val base = graft.ScratchDir.dir("watchmon-sweep-fold")
    val landedDir = s"$base/landed"
    Seq((3L, AudioCorpus.renderTrack(3L)), (7L, AudioCorpus.renderTrack(7L)),
      (11L, AudioCorpus.renderTrack(11L)))
      .toDF("track_id", "wav").write.parquet(landedDir)
    val out = s"$base/flags"
    def loadClips(ids: Seq[Long]): Seq[WatchlistMonitor.WatchClip] =
      WatchlistMonitor.audioWatchlist(
        ids.map(id => (id, AudioCorpus.renderTrack(id)))
          .toDF("doc_id", "wav"), "wav", "doc_id", windowSec = winSec)
    def sweep(watched: Seq[Long]) = WatchlistMonitor.sweepWatchlist(
      spark, landedDir, watched, loadClips,
      (b: DataFrame, w: Seq[WatchlistMonitor.WatchClip]) =>
        WatchlistMonitor.flagAudio(b, "wav", w, windowSec = winSec), out,
      compactFileBound = 2)
    def sweptFiles() = new java.io.File(s"${out}_swept").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    // each effective sweep appends exactly ONE file (the coalesce(1)
    // contract the bound's amortization rests on)
    sweep(Seq(0L))
    assert(sweptFiles() == 1, "a sweep must append exactly one file")
    sweep(Seq(0L, 4L))
    assert(sweptFiles() == 2)
    // third sweep trips the bound (3 > 2): the fold rewrites the
    // watermark to ONE file holding one row per clip
    sweep(Seq(0L, 4L, 8L))
    assert(sweptFiles() == 1,
      s"the fold must collapse the watermark to one file, got ${sweptFiles()}")
    val swept = spark.read.parquet(s"${out}_swept").collect()
      .map(r => r.getAs[Long]("clip_id") -> r.getAs[Long]("sweep_epoch"))
    assert(swept.map(_._1).sorted.toSeq == Seq(0L, 4L, 8L),
      s"fold must keep one row per all-time swept clip: ${swept.toSeq}")
    assert(swept.toMap == Map(0L -> 1L, 4L -> 2L, 8L -> 3L),
      s"fold keeps the latest epoch per clip: ${swept.toSeq}")
    // idempotency survives the fold: re-run is an empty delta, and the
    // flags table kept exactly one row per embed
    assert(sweep(Seq(0L, 4L, 8L)).isEmpty)
    assert(spark.read.parquet(out).count() == 3,
      "the folded watermark must still suppress every re-sweep")
  }

  test("a crash inside the sweep watermark's fold heals forward at the next sweep: no watermark row lost, nothing re-swept") {
    val winSec = AudioCorpus.TrackWindowSec
    val base = graft.ScratchDir.dir("watchmon-sweep-crash")
    val landedDir = s"$base/landed"
    Seq((3L, AudioCorpus.renderTrack(3L)), (7L, AudioCorpus.renderTrack(7L)),
      (11L, AudioCorpus.renderTrack(11L)))
      .toDF("track_id", "wav").write.parquet(landedDir)
    def loadClips(ids: Seq[Long]): Seq[WatchlistMonitor.WatchClip] =
      WatchlistMonitor.audioWatchlist(
        ids.map(id => (id, AudioCorpus.renderTrack(id)))
          .toDF("doc_id", "wav"), "wav", "doc_id", windowSec = winSec)
    for (k <- Seq(0, 1)) {
      val out = s"$base/flags$k"
      def sweep(watched: Seq[Long]) = WatchlistMonitor.sweepWatchlist(
        spark, landedDir, watched, loadClips,
        (b: DataFrame, w: Seq[WatchlistMonitor.WatchClip]) =>
          WatchlistMonitor.flagAudio(b, "wav", w, windowSec = winSec), out,
        compactFileBound = 2)
      def watermark() = spark.read.parquet(s"${out}_swept").collect()
        .map(r => r.getAs[Long]("clip_id") -> r.getAs[Long]("sweep_epoch"))
        .toSeq.sorted
      sweep(Seq(0L))
      sweep(Seq(0L, 4L))
      // the third sweep appends its flags and watermark row, then its
      // fold stops at the journal (k = 0) or after the folded file's
      // rename (k = 1), the three appended files not yet deleted
      assert(graft.operators.TableCompaction.crashingAfter(k)(
        sweep(Seq(0L, 4L, 8L))), s"k=$k")
      val expected = Seq(0L -> 1L, 4L -> 2L, 8L -> 3L)
      assert(watermark().distinct == expected, s"k=$k: ${watermark()}")
      // the next sweep heals the fold forward first, so the delta is
      // empty: nothing re-swept, nothing re-appended
      assert(sweep(Seq(0L, 4L, 8L)).isEmpty, s"k=$k")
      assert(watermark() == expected, s"k=$k: ${watermark()}")
      assert(graft.operators.TableCompaction.committedDataFiles(
        spark, s"${out}_swept") == 1)
      assert(spark.read.parquet(out).count() == 3, s"k=$k: flags re-appended")
    }
  }
}
