package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.ImageCorpus

/** Streaming image near-dup suppression: a perturbed redelivery must drop
  * (the case a byte digest cannot catch), distinct images must pass, state
  * must survive a restart and must NOT outlive the watermark — the
  * NearDupIngest contract, image modality.
  */
class ImageIngestSpec extends AnyFunSuite with SparkTestSession {

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  private def runBatches(
      table: String, ckpt: String, delay: String, rocksDb: Boolean = false)(
      batches: Seq[Seq[(Long, String, java.sql.Timestamp, Array[Byte])]]): Unit = {
    // rocksDb = true runs the suppressor on the production state store
    // (GraftSession's default provider) in a conf-isolated sibling session —
    // at 100 TB ingest the HDFS-backed store's in-heap state is the
    // bottleneck, so both providers need green restart coverage
    val s = if (!rocksDb) spark else graft.ScaleScope.sibling(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    batches.foreach { b =>
      stream.addData(b: _*)
      // a NEW query per batch group: restart-resilience is part of the test
      ImageIngest.writeDeduped(
        stream.toDF().toDF("img_id", "source", "ingest_ts", "png"),
        table, ckpt, maxDist = 3, watermarkDelay = delay)
        .awaitTermination()
    }
  }

  test("perturbed redelivery drops across a restart; distinct image passes; evidence lands") {
    val base = graft.ScratchDir.dir("imgingest")
    val t0 = 1700000000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((1L, "camA", ts(t0), ImageCorpus.render(0L))),
      Seq( // batch 2, next query restart: state must carry over
        (2L, "camA", ts(t0 + 60), ImageCorpus.render(1L)), // variant of 0 → drop
        (3L, "camB", ts(t0 + 60), ImageCorpus.render(30L))))) // other family → keep
    val kept = spark.read.parquet(s"$base/t")
    assert(kept.select("img_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(kept.filter("png IS NULL").count() == 0, "kept rows carry the blob")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("img_id") == 2L)
    assert(rej.head.getAs[Long]("matched_img") == 1L, "evidence names the survivor")
    assert(rej.head.getAs[Long]("min_dist") <= 3L)
  }

  test("a persisted fingerprint store warm-starts the suppressor: corpus near-dups reject in batch ONE") {
    // the batch->stream handoff: bootstrap from FingerprintStore's table
    // (ids 0..2 = one family, hashed but never streamed) and verify the
    // very first micro-batch rejects a family variant with the CORPUS
    // image as evidence - a blind-start suppressor would admit it
    val base = graft.ScratchDir.dir("imgingest-boot")
    val t0 = 1700900000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val storeHashes = graft.operators.ImageDedup.hashes(
      ImageCorpus.forIds((0L until 3L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    stream.addData(
      (10L, "camA", ts(t0), ImageCorpus.render(1L)), // family-0 variant → reject
      (11L, "camB", ts(t0), ImageCorpus.render(30L))) // fresh family → land
    ImageIngest.writeDeduped(
      stream.toDF().toDF("img_id", "source", "ingest_ts", "png"),
      s"$base/t", s"$base/c", maxDist = 3, watermarkDelay = "10 minutes",
      bootstrapFrom = Some((storeHashes, t0 * 1000)))
      .awaitTermination()
    val kept = spark.read.parquet(s"$base/t").select("img_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(11L), s"kept $kept — bootstrap state missed")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("img_id") == 10L)
    assert((0L until 3L).contains(rej.head.getAs[Long]("matched_img")),
      "evidence must name a CORPUS image that was never streamed")
    // batch 2 on a fresh query: bootstrapped state must have been
    // persisted through the checkpoint like any other state
    stream.addData((12L, "camA", ts(t0 + 60), ImageCorpus.render(2L)))
    ImageIngest.writeDeduped(
      stream.toDF().toDF("img_id", "source", "ingest_ts", "png"),
      s"$base/t", s"$base/c", maxDist = 3, watermarkDelay = "10 minutes",
      bootstrapFrom = Some((storeHashes, t0 * 1000)))
      .awaitTermination()
    val rej2 = spark.read.parquet(s"$base/t_rejects").collect()
      .map(_.getAs[Long]("img_id")).toSet
    assert(rej2 == Set(10L, 12L),
      s"restarted query must still hold the corpus state: $rej2")
  }

  test("warm start composes with store compaction: a compacted store's read feeds bootstrap, first-batch rejects carry compacted-base evidence") {
    // the r10 write-back/warm-start loop and the r11 versioned compaction
    // composed: after deliveries fold into a compacted-N base, the store
    // READ (all partitions, bases included) must still seed the
    // suppressor — a fingerprint living ONLY in the compacted base has to
    // reject its streaming near-dup in batch one
    val base = graft.ScratchDir.dir("imgingest-compactboot")
    val t0 = 1700910000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.FingerprintStore
    val hashes = graft.operators.ImageDedup.hashes(
      ImageCorpus.forIds((0L until 9L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val dir = graft.ScratchDir.dir("imgingest-store") + "/store"
    FingerprintStore.init(hashes.filter($"id" < 3), dir)
    FingerprintStore.ingest(spark, dir, "d1",
      hashes.filter($"id".isin(3L, 4L))).collect(): Unit // kept: 3
    FingerprintStore.ingest(spark, dir, "d2",
      hashes.filter($"id".isin(6L, 7L))).collect(): Unit // kept: 6
    FingerprintStore.compact(spark, dir, keepRecent = 1) // folds __init__+d1
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    stream.addData(
      (100L, "camA", ts(t0), ImageCorpus.render(1L)),  // vs compacted 0..2
      (101L, "camA", ts(t0), ImageCorpus.render(4L)),  // vs COMPACTED-only 3
      (102L, "camB", ts(t0), ImageCorpus.render(30L))) // fresh family → land
    ImageIngest.writeDeduped(
      stream.toDF().toDF("img_id", "source", "ingest_ts", "png"),
      s"$base/t", s"$base/c", maxDist = 3, watermarkDelay = "10 minutes",
      bootstrapFrom = Some((FingerprintStore.read(spark, dir), t0 * 1000)))
      .awaitTermination()
    val kept = spark.read.parquet(s"$base/t").select("img_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(102L), s"kept $kept")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
      .map(r => r.getAs[Long]("img_id") -> r.getAs[Long]("matched_img")).toMap
    assert(rej.keySet == Set(100L, 101L), s"rejects: $rej")
    assert(rej(101L) == 3L,
      s"evidence must name the fingerprint that lives ONLY in the " +
        s"compacted base: ${rej(101L)}")
    assert((0L until 3L).contains(rej(100L)), s"evidence: ${rej(100L)}")
  }

  test("perturbed redelivery drops across a restart ON THE ROCKSDB STATE STORE") {
    // the same scenario as above, on the provider a production session runs
    // (GraftSession defaults to RocksDB): state must round-trip RocksDB's
    // serialization across the query restart with identical verdicts
    val base = graft.ScratchDir.dir("imgingest-rocks")
    val t0 = 1700500000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes", rocksDb = true)(Seq(
      Seq((1L, "camA", ts(t0), ImageCorpus.render(0L))),
      Seq(
        (2L, "camA", ts(t0 + 60), ImageCorpus.render(1L)),
        (3L, "camB", ts(t0 + 60), ImageCorpus.render(30L)))))
    val kept = spark.read.parquet(s"$base/t").select("img_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L))
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("img_id") == 2L)
  }

  test("an identical-id redelivery in one batch lands exactly once, not zero times") {
    // both copies carry img_id 40; without the self-match skip the rollup
    // group's min_dist=0 rejected BOTH and the image never landed (r8 ADVICE)
    val base = graft.ScratchDir.dir("imgingest-selfid")
    val t0 = 1700600000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((40L, "camA", ts(t0), ImageCorpus.render(12L)),
        (40L, "camA", ts(t0 + 1), ImageCorpus.render(12L)))))
    val kept = spark.read.parquet(s"$base/t").collect()
    assert(kept.map(_.getAs[Long]("img_id")).toSeq == Seq(40L),
      "the redelivered image must land exactly once")
    if (new java.io.File(s"$base/t_rejects").exists())
      assert(spark.read.parquet(s"$base/t_rejects").count() == 0,
        "a self-redelivery is not a duplicate of another image")
  }

  test("a LATER-batch same-id redelivery is suppressed — the item lands exactly once overall") {
    // batch 1 lands img_id 45; batch 2 redelivers the same id+bytes (a
    // producer retry after a timeout). The batch-local self-skip must NOT
    // apply to state carried from the earlier batch: the state hit proves
    // the image already landed, so the retry goes to rejects instead of
    // appending a second landing row.
    val base = graft.ScratchDir.dir("imgingest-crossbatch")
    val t0 = 1700700000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((45L, "camA", ts(t0), ImageCorpus.render(15L))),
      Seq((45L, "camA", ts(t0 + 60), ImageCorpus.render(15L)))))
    val kept = spark.read.parquet(s"$base/t").collect()
    assert(kept.map(_.getAs[Long]("img_id")).toSeq == Seq(45L),
      "exactly one landing row across both batches")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("img_id") == 45L)
    assert(rej.head.getAs[Long]("matched_img") == 45L &&
      rej.head.getAs[Long]("min_dist") == 0L,
      "the evidence names the prior landing of the same id")
  }

  test("same-batch exact duplicate keeps the earliest, rejects at distance 0") {
    val base = graft.ScratchDir.dir("imgingest-exact")
    val t0 = 1700100000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((10L, "camA", ts(t0), ImageCorpus.render(3L)),
        (11L, "camA", ts(t0 + 1), ImageCorpus.render(3L)))))
    val kept = spark.read.parquet(s"$base/t").collect()
    assert(kept.map(_.getAs[Long]("img_id")).toSeq == Seq(10L), "earlier ts survives")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("img_id") == 11L)
    assert(rej.head.getAs[Long]("min_dist") == 0L)
  }

  test("state does not outlive the watermark: a re-arrival past the horizon is kept") {
    val base = graft.ScratchDir.dir("imgingest-evict")
    val t0 = 1700200000L
    runBatches(s"$base/t", s"$base/c", delay = "1 minutes")(Seq(
      Seq((20L, "camA", ts(t0), ImageCorpus.render(6L))),
      // advance the watermark far past t0 + delay with an unrelated image
      Seq((21L, "camA", ts(t0 + 3600), ImageCorpus.render(60L))),
      // same image again, an hour later: the bucket was evicted → kept
      Seq((22L, "camA", ts(t0 + 3700), ImageCorpus.render(6L)))))
    val kept = spark.read.parquet(s"$base/t").select("img_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(20L, 21L, 22L),
      "the evicted bucket must not suppress a post-horizon re-arrival")
  }

  test("stream/batch parity is EXACT: streaming keep set == batch pair-table survivors") {
    // Unlike the text path (estimated vs true Jaccard, bounded
    // disagreement — StreamBatchParitySpec), the image path uses the SAME
    // dHash + banding + Hamming threshold on both sides, so parity is
    // strict equality: an image drops in the stream iff it is the LATER
    // side of some batch pair (both policies add every arrival to state).
    import spark.implicits._
    val ids = 0L until 30L
    val batchPairs = graft.operators.ImageDedup.nearDupPairs(
      ImageCorpus.forIds(ids.toDF("doc_id"), "doc_id"),
      "png", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectedKeep = ids.toSet -- batchPairs.map(_._2).toSet
    val base = graft.ScratchDir.dir("imgingest-parity")
    val t0 = 1700400000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      ids.map(i => (i, "cam", ts(t0 + i), ImageCorpus.render(i)))))
    val kept = spark.read.parquet(s"$base/t").select("img_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == expectedKeep,
      s"missing=${expectedKeep -- kept} spurious=${kept -- expectedKeep}")
  }

  private def runGatedBatches(
      table: String, ckpt: String)(
      batches: Seq[Seq[(Long, String, java.sql.Timestamp, Array[Byte])]]): Unit = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    batches.foreach { b =>
      stream.addData(b: _*)
      ImageIngest.writeDeduped(
        stream.toDF().toDF("img_id", "source", "ingest_ts", "png"),
        table, ckpt, maxDist = 3, watermarkDelay = "10 minutes",
        qualityGate = true)
        .awaitTermination()
    }
  }

  test("quality gate: a too-dark image rejects with its rule and NEVER enters band state") {
    // graded corpus: id%5==3 → too_dark, id%5==0 → pass. The same dark
    // bytes arrive again in batch 2 under a NEW id: had the first copy
    // entered state, the re-arrival would reject as near_duplicate at
    // dist 0 — pinning its reason as too_dark proves the gate kept it
    // out of the suppressor entirely (r9 verdict #5)
    val base = graft.ScratchDir.dir("imgingest-gate")
    val t0 = 1700800000L
    runGatedBatches(s"$base/t", s"$base/c")(Seq(
      Seq((50L, "camA", ts(t0), ImageCorpus.renderGraded(3L)),
        (51L, "camA", ts(t0), ImageCorpus.renderGraded(0L))),
      Seq((52L, "camA", ts(t0 + 60), ImageCorpus.renderGraded(3L)))))
    val kept = spark.read.parquet(s"$base/t").select("img_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(51L), s"only the passing image lands: $kept")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
      .map(r => r.getAs[Long]("img_id") ->
        (r.getAs[String]("reason"), r.getAs[Long]("min_dist"),
          r.getAs[Long]("matched_img"))).toMap
    assert(rej.keySet == Set(50L, 52L), s"rejects: $rej")
    assert(rej(50L) == (("too_dark", 64L, -1L)), s"got ${rej(50L)}")
    assert(rej(52L) == (("too_dark", 64L, -1L)),
      s"the re-arrival must fail the GATE, not the suppressor — the dark " +
        s"image held no bucket slot: ${rej(52L)}")
  }

  test("quality gate: a near-dup of a LANDED image still rejects as near_duplicate with evidence") {
    // gate on, both images pass quality: the dedup path through the gated
    // pipeline must behave exactly as ungated — reason column says
    // near_duplicate, evidence intact
    val base = graft.ScratchDir.dir("imgingest-gate-dup")
    val t0 = 1701000000L
    runGatedBatches(s"$base/t", s"$base/c")(Seq(
      Seq((60L, "camA", ts(t0), ImageCorpus.render(0L))),
      Seq((61L, "camA", ts(t0 + 60), ImageCorpus.render(1L)))))
    val kept = spark.read.parquet(s"$base/t").select("img_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(60L))
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("img_id") == 61L)
    assert(rej.head.getAs[String]("reason") == "near_duplicate")
    assert(rej.head.getAs[Long]("matched_img") == 60L &&
      rej.head.getAs[Long]("min_dist") <= 3L)
  }

  test("quality gate composes with the fingerprint-store warm start: gate fires first, corpus state still rejects") {
    // both features on: a DARK image must fail the GATE (reason too_dark)
    // even if its hash would match warm-started corpus state, while a
    // healthy near-dup of the corpus must still reject against the
    // bootstrapped bucket with corpus evidence — the gate prunes work
    // BEFORE the suppressor without blinding it
    val base = graft.ScratchDir.dir("imgingest-gate-boot")
    val t0 = 1701200000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val storeHashes = graft.operators.ImageDedup.hashes(
      ImageCorpus.forIds((0L until 3L).toDF("doc_id"), "doc_id"),
      "png", "doc_id").localCheckpoint(true)
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    stream.addData(
      (70L, "camA", ts(t0), ImageCorpus.renderGraded(3L)), // dark → gate
      (71L, "camA", ts(t0), ImageCorpus.render(1L)),  // corpus near-dup → state
      (72L, "camB", ts(t0), ImageCorpus.render(30L))) // fresh → land
    ImageIngest.writeDeduped(
      stream.toDF().toDF("img_id", "source", "ingest_ts", "png"),
      s"$base/t", s"$base/c", maxDist = 3, watermarkDelay = "10 minutes",
      bootstrapFrom = Some((storeHashes, t0 * 1000)),
      qualityGate = true)
      .awaitTermination()
    val kept = spark.read.parquet(s"$base/t").select("img_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(72L), s"kept: $kept")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
      .map(r => r.getAs[Long]("img_id") ->
        (r.getAs[String]("reason"), r.getAs[Long]("matched_img"))).toMap
    assert(rej.keySet == Set(70L, 71L), s"rejects: $rej")
    assert(rej(70L)._1 == "too_dark" && rej(70L)._2 == -1L,
      s"the dark image must fail the gate, not the suppressor: ${rej(70L)}")
    assert(rej(71L)._1 == "near_duplicate" &&
      (0L until 3L).contains(rej(71L)._2),
      s"the healthy near-dup must reject against warm-started corpus " +
        s"state with corpus evidence: ${rej(71L)}")
  }

  test("quality gate: stream verdicts equal the batch ext113 gate class-for-class") {
    // one graded image per failure class (ids 0..4 = pass / low_contrast /
    // blurred / too_dark / too_small): the streaming gate must agree with
    // MediaQuality.imageVerdicts — same thresholds, same rule order, same
    // rounding — so the batch funnel (ext118) and the stream admit the
    // same corpus (the stream/batch funnel parity pin)
    import spark.implicits._
    val ids = 0L until 5L
    val batchReasons = graft.operators.MediaQuality.imageVerdicts(
      graft.operators.MediaQuality.imageStats(
        graft.sources.ImageCorpus.gradedFor(ids.toDF("doc_id"), "doc_id"),
        "png", "doc_id"))
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[String]("reason"))).toMap
    val base = graft.ScratchDir.dir("imgingest-gate-parity")
    val t0 = 1701100000L
    runGatedBatches(s"$base/t", s"$base/c")(Seq(
      ids.map(i => (i, "cam", ts(t0 + i), ImageCorpus.renderGraded(i)))))
    val streamed =
      spark.read.parquet(s"$base/t").select("img_id")
        .collect().map(_.getLong(0) -> None).toMap[Long, Option[String]] ++
      spark.read.parquet(s"$base/t_rejects")
        .collect().map(r => r.getAs[Long]("img_id") ->
          Some(r.getAs[String]("reason"))).toMap
    assert(streamed == batchReasons,
      s"stream=$streamed batch=$batchReasons")
  }

  test("store write-back: landed fingerprints persist, and a REPLAYED micro-batch overwrites its own partition (exactly-once)") {
    // the write-back half of the batch<->stream handoff (r10 verdict #1):
    // each micro-batch's landed (id, phash) rows land as an epoch-keyed
    // delivery partition. Forcing a real replay (delete the epoch's
    // commit marker, restart) must re-run batch 0 onto the SAME partition
    // — store rows stay exactly one per landed item, while the landing
    // table's appends are allowed to duplicate (at-least-once, as
    // documented)
    val base = graft.ScratchDir.dir("imgingest-writeback")
    val store = s"$base/store"
    val t0 = 1701400000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    stream.addData(
      (1L, "camA", ts(t0), ImageCorpus.render(0L)),
      (2L, "camA", ts(t0 + 1), ImageCorpus.render(1L)), // near-dup of 1 → rejected
      (3L, "camB", ts(t0), ImageCorpus.render(30L)))
    def runOnce(): Unit =
      ImageIngest.writeDeduped(
        stream.toDF().toDF("img_id", "source", "ingest_ts", "png"),
        s"$base/t", s"$base/c", maxDist = 3, watermarkDelay = "10 minutes",
        writeBackTo = Some(store)).awaitTermination()
    runOnce()
    val expected = graft.operators.ImageDedup.hashes(
      Seq((1L, ImageCorpus.render(0L)), (3L, ImageCorpus.render(30L)))
        .toDF("img_id", "png"), "png", "img_id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"))).toSet
    def storeRows() = graft.operators.FingerprintStore.read(spark, store)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"))).toSeq
    assert(storeRows().toSet == expected,
      s"store must hold exactly the landed hashes: ${storeRows()}")
    // force a REAL replay of epoch 0: offsets/0 without commits/0 makes
    // the restarted query re-execute the batch with the same batchId
    assert(new java.io.File(s"$base/c/commits/0").delete(),
      "commit marker for epoch 0 must exist")
    runOnce()
    assert(storeRows().length == 2 && storeRows().toSet == expected,
      s"replayed epoch must overwrite its own partition, got ${storeRows()}")
  }

  test("store write-back: a restarted stream warm-starts from its OWN prior landings via the store") {
    // kill the stream (fresh checkpoint, so no state-store carryover) and
    // bootstrap from the write-back store: a near-dup of what the FIRST
    // run landed must reject with the landed item as evidence — only the
    // store knows it; a blind restart would re-admit it
    val base = graft.ScratchDir.dir("imgingest-writeback-boot")
    val store = s"$base/store"
    val t0 = 1701500000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val s1 = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    s1.addData(
      (1L, "camA", ts(t0), ImageCorpus.render(0L)),
      (3L, "camB", ts(t0), ImageCorpus.render(30L)))
    ImageIngest.writeDeduped(
      s1.toDF().toDF("img_id", "source", "ingest_ts", "png"),
      s"$base/t1", s"$base/c1", maxDist = 3, watermarkDelay = "10 minutes",
      writeBackTo = Some(store)).awaitTermination()
    // second run: NEW checkpoint + NEW stream — state is gone; only the
    // store carries the first run's landings
    val s2 = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    s2.addData(
      (5L, "camA", ts(t0 + 60), ImageCorpus.render(1L)),  // variant of landed 1
      (6L, "camB", ts(t0 + 60), ImageCorpus.render(60L))) // fresh → lands
    ImageIngest.writeDeduped(
      s2.toDF().toDF("img_id", "source", "ingest_ts", "png"),
      s"$base/t2", s"$base/c2", maxDist = 3, watermarkDelay = "10 minutes",
      bootstrapFrom = Some((
        graft.operators.FingerprintStore.read(spark, store), (t0 + 60) * 1000)),
      writeBackTo = Some(store)).awaitTermination()
    val kept2 = spark.read.parquet(s"$base/t2").select("img_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept2 == Seq(6L), s"kept: $kept2")
    val rej = spark.read.parquet(s"$base/t2_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("img_id") == 5L &&
      rej.head.getAs[Long]("matched_img") == 1L,
      "the evidence must name the FIRST run's landing, known only via the store")
    // and the second run's landing joined the store too
    val ids = graft.operators.FingerprintStore.read(spark, store)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(ids == Set(1L, 3L, 6L), s"store after both runs: $ids")
  }

  test("store write-back compaction: epoch partitions fold on cadence, contents survive, and a restart still warm-starts from the compacted store") {
    // one partition per micro-batch is the small-file trajectory compact()
    // exists for; folding from INSIDE foreachBatch is the writer's own
    // exclusive window. keepRecent=1 keeps the partition the current
    // batch just wrote, so the only replayable epoch always finds it.
    val base = graft.ScratchDir.dir("imgingest-wb-compact")
    val store = s"$base/store"
    val t0 = 1701600000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    def runOnce(): Unit =
      ImageIngest.writeDeduped(
        stream.toDF().toDF("img_id", "source", "ingest_ts", "png"),
        s"$base/t", s"$base/c", maxDist = 3, watermarkDelay = "10 minutes",
        writeBackTo = Some(store),
        writeBackCompactEvery = 2, writeBackKeepRecent = 1)
        .awaitTermination()
    // four epochs, one fresh image each (families 0,10,20,30 — all
    // mutually far): every batch lands its image and writes a partition.
    // The cadence counts DATA batches only (r14 verdict #5), so it fires
    // on epochs 2 and 4 — epoch 2's firing is absorbed by the fold's
    // lone-input guard, epoch 4's folds {b0,b2,b3} behind the kept b4
    val seeds = Seq(0L, 30L, 60L, 90L)
    seeds.zipWithIndex.foreach { case (seed, i) =>
      stream.addData((i + 1L, "camA", ts(t0 + i), ImageCorpus.render(seed)))
      runOnce()
    }
    val expected = graft.operators.ImageDedup.hashes(
      seeds.zipWithIndex.map { case (s, i) => (i + 1L, ImageCorpus.render(s)) }
        .toDF("img_id", "png"), "png", "img_id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"))).toSet
    assert(graft.operators.FingerprintStore.read(spark, store)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("phash"))).toSet
      == expected, "compaction must not change store contents")
    // LIVE layout: epochs 0..3 with compaction after epochs 1 and 3 →
    // the youngest epoch partition survives, everything older lives in
    // a compacted-N base; no per-epoch partition trail. Read from the
    // manifest, not the directory — the directory also RETAINS the
    // previous compaction's folded inputs for pinned readers (r12
    // verdict #7), and those are exactly not the live set
    import scala.jdk.CollectionConverters._
    val parts = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(store, "_manifest")).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#") &&
        !l.startsWith("retired:")) // LIVE lines only (v2 format, r13)
      .map(_.stripPrefix("delivery_id=")).toSet
    val bases = parts.filter(_.startsWith("compacted-"))
    assert(bases.nonEmpty, s"expected a compacted base, got $parts")
    assert((parts -- bases).size <= 1,
      s"at most the youngest epoch partition may remain unfolded, got $parts")
    // provenance after folding: recent rows keep their epoch id, folded
    // rows carry the base id
    val tagged = graft.operators.FingerprintStore.readTagged(spark, store)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("delivery_id"))
      .toMap
    assert(tagged(4L).startsWith("stream-"),
      s"the youngest landing keeps its epoch partition, got ${tagged(4L)}")
    assert(tagged(1L).startsWith("compacted-"),
      s"epoch-0 landings must have folded, got ${tagged(1L)}")
    // the full loop still composes: a NEW stream bootstrapped from the
    // compacted store rejects a near-dup of the FIRST epoch's landing
    val s2 = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    s2.addData((9L, "camB", ts(t0 + 600), ImageCorpus.render(1L))) // variant of seed 0 = img 1
    ImageIngest.writeDeduped(
      s2.toDF().toDF("img_id", "source", "ingest_ts", "png"),
      s"$base/t2", s"$base/c2", maxDist = 3, watermarkDelay = "10 minutes",
      bootstrapFrom = Some((
        graft.operators.FingerprintStore.read(spark, store), (t0 + 600) * 1000)))
      .awaitTermination()
    val rej = spark.read.parquet(s"$base/t2_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("img_id") == 9L &&
      rej.head.getAs[Long]("matched_img") == 1L,
      "the compacted store must still carry epoch-0's landing as evidence")
  }

  test("gated path evaluates the gate UDF exactly ONCE per item — single branch, no per-branch re-decode") {
    // the r10 two-branch design (stateless fails ∪ stateful passes)
    // evaluated the nondeterministic gate UDF once PER BRANCH, so every
    // payload decoded twice per micro-batch (r10 ADVICE). The single-
    // branch QualityBand routing must pay one evaluation per item; a
    // counting gate pins the count AND that verdicts are unchanged.
    val base = graft.ScratchDir.dir("imgingest-evalcount")
    val t0 = 1701300000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    ImageIngestSpec.gateEvals.set(0L)
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    stream.addData(
      (80L, "camA", ts(t0), ImageCorpus.renderGraded(3L)), // too_dark → gate
      (81L, "camA", ts(t0), ImageCorpus.render(0L)),       // passes → lands
      (82L, "camB", ts(t0), ImageCorpus.render(30L)))      // passes → lands
    PerceptualIngest.writeDeduped(
      stream.toDF().toDF("img_id", "source", "ingest_ts", "png"),
      graft.operators.ImageDedup.fingerprint, "img_id", "png",
      s"$base/t", s"$base/c", maxDist = 3, watermarkDelay = "10 minutes",
      gateFingerprint = Some(c => ImageIngestSpec.countingGate(c)))
      .awaitTermination()
    assert(ImageIngestSpec.gateEvals.get == 3L,
      s"3 items must decode exactly 3 times, got ${ImageIngestSpec.gateEvals.get} " +
        "— a second evaluation means the gate projection is consumed by " +
        "more than one plan branch")
    val kept = spark.read.parquet(s"$base/t").select("item_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(81L, 82L), s"kept: $kept")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("item_id") == 80L &&
      rej.head.getAs[String]("reason") == "too_dark")
  }

  test("undecodable blobs are dropped map-side, not landed and not crashed on") {
    val base = graft.ScratchDir.dir("imgingest-junk")
    val t0 = 1700300000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((30L, "camA", ts(t0), ImageCorpus.render(9L)),
        (31L, "camA", ts(t0), Array[Byte](1, 2, 3)))))
    val kept = spark.read.parquet(s"$base/t").select("img_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(30L))
    // the sink writes the (empty) rejects partition eagerly — the contract
    // is zero reject ROWS, not a missing directory
    if (new java.io.File(s"$base/t_rejects").exists())
      assert(spark.read.parquet(s"$base/t_rejects").count() == 0,
        "an undecodable blob is not a duplicate — nothing lands in rejects")
  }

  test("ext134 entry: the streaming write-back compaction arc is structural — folds fire on DATA waves 2/4/6; disk retains then reclaims; rows move only at epochs") {
    val out = graft.SparkEntry.queries("ext134_writeback_compaction")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getAs[String]("phase")).toSeq ==
      Seq("seed", "fire_noop", "append_1", "fold_1", "append_2",
        "fold_2_reclaim"))
    assert(out.map(_.getAs[Long]("n_live_partitions")).toSeq ==
      Seq(1L, 2L, 3L, 2L, 3L, 2L),
      "the cadence fires on data waves 2/4/6 (the no-data watermark " +
        "batch consumes no slot — r14 verdict #5); wave 2's firing is " +
        "absorbed by the lone-input guard, fold_1 collapses {b0,b2,b3} " +
        "into compacted-1 keeping the protected current epoch, fold_2 " +
        "collapses {compacted-1,b4,b5} into {compacted-2, b6}")
    assert(out.map(_.getAs[Long]("n_compacted_bases")).toSeq ==
      Seq(0L, 0L, 0L, 1L, 1L, 1L),
      "exactly one folded base is live from the first real fold on")
    assert(out.map(_.getAs[Long]("n_disk_partitions")).toSeq ==
      Seq(1L, 2L, 3L, 5L, 6L, 5L),
      "fold_1 RETAINS its folded inputs on disk (5 vs 2 live); fold_2 " +
        "reclaims that retired generation while retiring its own " +
        "(5 on disk, not 8)")
    assert(out.map(_.getAs[Long]("n_rows")).toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L),
      "every epoch lands exactly one fresh fingerprint; folding never " +
        "moves row counts")
  }
}

object ImageIngestSpec {
  /** JVM-global evaluation counter for the decode-count pin (suites run
    * sequentially in the forked test JVM, so no cross-suite interference). */
  val gateEvals = new java.util.concurrent.atomic.AtomicLong(0)

  /** ImageIngest's gate+fingerprint UDF with an evaluation counter — same
    * rules, same hash, so verdicts stay comparable. */
  val countingGate: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { bytes: Array[Byte] =>
      gateEvals.incrementAndGet(): Unit
      Option(bytes).flatMap(graft.cv.ImageOps.decode) match {
        case None => PerceptualIngest.GateResult("undecodable", None)
        case Some(img) =>
          graft.operators.MediaQuality.imageReasonOfDecoded(img) match {
            case Some(r) => PerceptualIngest.GateResult(r, None)
            case None => PerceptualIngest.GateResult(null,
              Some(graft.cv.ImageOps.pHash64MirrorCanonical(img)))
          }
      }
    }.asNondeterministic()
}
