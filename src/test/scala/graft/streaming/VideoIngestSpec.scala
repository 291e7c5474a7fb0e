package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.{Video, VideoCorpus}

/** Streaming video near-dup suppression — the [[VideoIngest]] adapter:
  * a re-encoded/variant redelivery drops across a restart, a shuffled
  * MONTAGE of retained footage lands (the alignment vote, ext104's batch
  * semantics carried into the stream), a contained clip is judged on its
  * own (shorter) side, and an all-low-information clip is dropped like an
  * undecodable blob.
  */
class VideoIngestSpec extends AnyFunSuite with SparkTestSession {

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  private def runBatches(table: String, ckpt: String, delay: String,
      rocksDb: Boolean = false)(
      batches: Seq[Seq[(Long, String, java.sql.Timestamp, Array[Byte])]]): Unit = {
    // rocksDb = true: conf-isolated sibling session on the production
    // provider (see ImageIngestSpec.runBatches)
    val s = if (!rocksDb) spark else graft.ScaleScope.sibling(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    batches.foreach { b =>
      stream.addData(b: _*)
      // a NEW query per batch group: restart-resilience is part of the test
      VideoIngest.writeDeduped(
        stream.toDF().toDF("vid_id", "source", "ingest_ts", "gvid"),
        table, ckpt, watermarkDelay = delay)
        .awaitTermination()
    }
  }

  /** Re-encode `id`'s clip with its frames rearranged by `perm` (index i of
    * the new clip holds original frame perm(i)). */
  private def rearranged(id: Long, perm: Seq[Int]): Array[Byte] = {
    val Some((rows, cols, ch, fps, frames)) =
      Video.decodeFrames(VideoCorpus.render(id)): @unchecked
    Video.encode(rows, cols, ch, fps, perm.map(frames))
  }

  test("variant redelivery drops across a restart; other family passes; evidence lands") {
    val base = graft.ScratchDir.dir("vidingest")
    val t0 = 1710000000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((1L, "chanA", ts(t0), VideoCorpus.render(0L))),
      Seq( // batch 2, next query restart: state must carry over
        (2L, "chanA", ts(t0 + 60), VideoCorpus.render(1L)), // variant of 0 → drop
        (3L, "chanB", ts(t0 + 60), VideoCorpus.render(30L))))) // other family → keep
    val kept = spark.read.parquet(s"$base/t")
    assert(kept.select("vid_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(kept.filter("gvid IS NULL").count() == 0, "kept rows carry the blob")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("vid_id") == 2L)
    assert(rej.head.getAs[Long]("matched_vid") == 1L, "evidence names the survivor")
    assert(rej.head.getAs[Double]("overlap_ratio") >= 0.6)
  }

  private def runGatedBatches(table: String, ckpt: String)(
      batches: Seq[Seq[(Long, String, java.sql.Timestamp, Array[Byte])]]): Unit = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    batches.foreach { b =>
      stream.addData(b: _*)
      VideoIngest.writeDeduped(
        stream.toDF().toDF("vid_id", "source", "ingest_ts", "gvid"),
        table, ckpt, watermarkDelay = "10 minutes", qualityGate = true)
        .awaitTermination()
    }
  }

  test("quality gate: black/mostly-black/undecodable clips reject with their rule, never entering frame state") {
    // black clip: every sampled frame inside the low-info band — the
    // silent drop of the ungated path becomes an AUDITED reject; the
    // mostly-black clip (2 informative of 12 frames → 1/6 surviving
    // < 0.5) fails the ratio rule, and its re-arrival under a new id
    // fails the GATE again (its informative frame never entered state);
    // junk bytes surface as undecodable instead of vanishing
    val a = Video.decodeFrames(VideoCorpus.render(0L)).get
    val black = new Array[Byte](VideoCorpus.Side * VideoCorpus.Side * 3)
    val allBlack = Video.encode(VideoCorpus.Side, VideoCorpus.Side, 3, 10,
      Seq.fill(VideoCorpus.NFrames)(black.clone()))
    val mostlyBlack = Video.encode(VideoCorpus.Side, VideoCorpus.Side, 3, 10,
      a._5.take(2) ++ Seq.fill(VideoCorpus.NFrames - 2)(black.clone()))
    val base = graft.ScratchDir.dir("vidingest-gate")
    val t0 = 1711000000L
    runGatedBatches(s"$base/t", s"$base/c")(Seq(
      Seq((1L, "chanA", ts(t0), allBlack),
        (2L, "chanA", ts(t0), mostlyBlack),
        (3L, "chanA", ts(t0), Array[Byte](9, 9, 9)),
        (4L, "chanB", ts(t0), VideoCorpus.render(30L))),
      Seq((5L, "chanA", ts(t0 + 60), mostlyBlack))))
    val kept = spark.read.parquet(s"$base/t").select("vid_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(4L), s"only the healthy clip lands: $kept")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
      .map(r => r.getAs[Long]("vid_id") -> r.getAs[String]("reason")).toMap
    assert(rej == Map(1L -> "no_informative_frames", 2L -> "mostly_low_info",
      3L -> "undecodable", 5L -> "mostly_low_info"), s"rejects: $rej")
  }

  test("quality gate: near-dup suppression through the gated pipeline is unchanged") {
    val base = graft.ScratchDir.dir("vidingest-gate-dup")
    val t0 = 1711100000L
    runGatedBatches(s"$base/t", s"$base/c")(Seq(
      Seq((1L, "chanA", ts(t0), VideoCorpus.render(0L))),
      Seq((2L, "chanA", ts(t0 + 60), VideoCorpus.render(1L)))))
    val kept = spark.read.parquet(s"$base/t").select("vid_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("vid_id") == 2L)
    assert(rej.head.getAs[String]("reason") == "near_duplicate")
    assert(rej.head.getAs[Long]("matched_vid") == 1L &&
      rej.head.getAs[Double]("overlap_ratio") >= 0.6)
  }

  test("gated path decodes each clip exactly ONCE per micro-batch — single branch, no per-branch re-decode") {
    // the r10 two-branch design re-evaluated the nondeterministic sampler
    // per branch, decoding every clip twice (r10 ADVICE); pin one decode
    // per clip at the codec boundary (Video.decodeCalls — suites run
    // sequentially in the forked test JVM, so the JVM-global counter is
    // interference-free inside this test body)
    val base = graft.ScratchDir.dir("vidingest-deccount")
    val t0 = 1711200000L
    val clips = Seq(
      (7L, "chanA", ts(t0), VideoCorpus.render(3L)),
      (8L, "chanB", ts(t0), VideoCorpus.render(33L)))
    val before = Video.decodeCalls.get
    runGatedBatches(s"$base/t", s"$base/c")(Seq(clips))
    val delta = Video.decodeCalls.get - before
    assert(delta == clips.length,
      s"${clips.length} clips must decode exactly ${clips.length} times in " +
        s"the gated stream, got $delta")
    assert(spark.read.parquet(s"$base/t").count() == 2L)
  }

  test("variant redelivery drops across a restart ON THE ROCKSDB STATE STORE") {
    // the frame-granular packed-id state (and its sameGroup scan) must
    // round-trip RocksDB serialization across a query restart with
    // identical verdicts — the provider a production GraftSession runs
    val base = graft.ScratchDir.dir("vidingest-rocks")
    val t0 = 1710500000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes", rocksDb = true)(Seq(
      Seq((1L, "chanA", ts(t0), VideoCorpus.render(0L))),
      Seq(
        (2L, "chanA", ts(t0 + 60), VideoCorpus.render(1L)),
        (3L, "chanB", ts(t0 + 60), VideoCorpus.render(30L)))))
    val kept = spark.read.parquet(s"$base/t").select("vid_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L))
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("vid_id") == 2L)
  }

  test("an identical re-upload rejects at 1.0; a shuffled montage of the same frames lands") {
    // the montage places the retained clip's sampled (even) frames at even
    // positions in scrambled order: every sampled frame MATCHES something
    // in state, but no ±2 offset window collects more than 3 of the 6 —
    // the alignment vote (ext104 r9) is what separates it from a re-upload
    val base = graft.ScratchDir.dir("vidingest-montage")
    val t0 = 1710100000L
    val scramble = Seq(4, 1, 8, 3, 0, 5, 10, 7, 2, 9, 6, 11)
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((1L, "chan", ts(t0), VideoCorpus.render(6L))),
      Seq((2L, "chan", ts(t0 + 30), VideoCorpus.render(6L)),        // re-upload
        (3L, "chan", ts(t0 + 60), rearranged(6L, scramble)))))      // montage
    val kept = spark.read.parquet(s"$base/t").select("vid_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L),
      "the montage must land; the re-upload must not")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("vid_id") == 2L)
    assert(rej.head.getAs[Double]("overlap_ratio") == 1.0,
      "an identical re-upload aligns every sampled frame at offset 0")
  }

  test("a LATER-batch same-id re-upload is suppressed; evidence names its own prior landing") {
    // the sameGroup skip is batch-local: the clip's own frames in CARRIED
    // state prove a prior landing, so a retry of vid_id 5 lands once
    val base = graft.ScratchDir.dir("vidingest-crossbatch")
    val t0 = 1710400000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((5L, "chan", ts(t0), VideoCorpus.render(21L))),
      Seq((5L, "chan", ts(t0 + 60), VideoCorpus.render(21L)))))
    val kept = spark.read.parquet(s"$base/t").collect()
    assert(kept.map(_.getAs[Long]("vid_id")).toSeq == Seq(5L),
      "exactly one landing row across both batches")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("vid_id") == 5L)
    assert(rej.head.getAs[Long]("matched_vid") == 5L &&
      rej.head.getAs[Double]("overlap_ratio") == 1.0)
  }

  test("a contained clip is judged on its own shorter side and drops") {
    // first 6 frames of the retained clip: 3 sampled frames, all matching
    // at offset 0 → 3/3 = 1.0 on the arriving side (the streaming
    // denominator is the arriving clip's surviving frames)
    val base = graft.ScratchDir.dir("vidingest-contain")
    val t0 = 1710200000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((1L, "chan", ts(t0), VideoCorpus.render(9L))),
      Seq((2L, "chan", ts(t0 + 30), rearranged(9L, 0 until 6)))))
    val kept = spark.read.parquet(s"$base/t").select("vid_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("vid_id") == 2L)
    assert(rej.head.getAs[Long]("n_frames") == 3L,
      "the denominator counts the arriving clip's surviving sampled frames")
  }

  test("an all-low-information clip is dropped like an undecodable blob; junk bytes too") {
    val base = graft.ScratchDir.dir("vidingest-lowinfo")
    val t0 = 1710300000L
    val black = Video.encode(32, 32, 3, fps = 10,
      Seq.fill(12)(new Array[Byte](32 * 32 * 3)))
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((1L, "chan", ts(t0), VideoCorpus.render(12L)),
        (2L, "chan", ts(t0), black),
        (3L, "chan", ts(t0), Array[Byte](9, 9, 9)))))
    val kept = spark.read.parquet(s"$base/t").select("vid_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L),
      "no fingerprintable identity → nothing to suppress against → dropped")
    if (new java.io.File(s"$base/t_rejects").exists())
      assert(spark.read.parquet(s"$base/t_rejects").count() == 0,
        "a low-info clip is not a duplicate — nothing lands in rejects")
  }
}
