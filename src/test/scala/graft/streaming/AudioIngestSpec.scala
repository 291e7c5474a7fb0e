package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.cv.AudioOps
import graft.sources.AudioCorpus

/** Streaming audio near-dup suppression through the modality-generic
  * PerceptualIngest core: a volume-normalized redelivery must drop across
  * a restart (the case a byte digest cannot catch), the streaming keep set
  * must equal the batch pair-table survivors exactly (same fingerprint +
  * banding on both sides), and undecodable blobs must drop map-side.
  */
class AudioIngestSpec extends AnyFunSuite with SparkTestSession {

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  private def runBatches(
      table: String, ckpt: String, delay: String)(
      batches: Seq[Seq[(Long, String, java.sql.Timestamp, Array[Byte])]]): Unit = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    batches.foreach { b =>
      stream.addData(b: _*)
      // a NEW query per batch group: restart-resilience is part of the test
      AudioIngest.writeDeduped(
        stream.toDF().toDF("clip_id", "source", "ingest_ts", "wav"),
        table, ckpt, watermarkDelay = delay)
        .awaitTermination()
    }
  }

  test("volume-normalized redelivery drops across a restart; distinct clip passes") {
    // halve the amplitude: the spectral fingerprint is invariant under ln,
    // so the redelivery sits at Hamming ~0 of the original
    val a = AudioOps.decodeWav(AudioCorpus.render(0L)).get
    val quiet = AudioOps.encodeWav(a.sampleRate, a.channels,
      a.samples.map(s => (s / 2).toShort))
    val base = graft.ScratchDir.dir("audingest")
    val t0 = 1700000000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((1L, "podA", ts(t0), AudioCorpus.render(0L))),
      Seq( // batch 2, next query restart: state must carry over
        (2L, "podA", ts(t0 + 60), quiet), // normalized copy → drop
        (3L, "podB", ts(t0 + 60), AudioCorpus.render(30L))))) // other family → keep
    val kept = spark.read.parquet(s"$base/t")
    assert(kept.select("clip_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(kept.filter("wav IS NULL").count() == 0, "kept rows carry the blob")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("clip_id") == 2L)
    assert(rej.head.getAs[Long]("matched_clip") == 1L, "evidence names the survivor")
    assert(rej.head.getAs[Long]("min_dist") <= 3L)
  }

  test("quality gate: a too-short clip rejects with its rule and NEVER enters band state") {
    // graded corpus: id%5==4 → too_short, id%5==0 → pass. The same short
    // bytes arrive again under a new id: if the first copy had entered
    // state the re-arrival would reject as near_duplicate — pinning
    // too_short proves the gate kept it out of the suppressor (the image
    // sibling test's contract, audio modality; parity with the ext114
    // batch gate is by the SHARED audioReasonOf scalar)
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = graft.ScratchDir.dir("audingest-gate")
    val t0 = 1700800000L
    val stream = MemoryStream[(Long, String, java.sql.Timestamp, Array[Byte])]
    def run(): Unit =
      AudioIngest.writeDeduped(
        stream.toDF().toDF("clip_id", "source", "ingest_ts", "wav"),
        s"$base/t", s"$base/c", watermarkDelay = "10 minutes",
        qualityGate = true)
        .awaitTermination()
    stream.addData(
      (50L, "podA", ts(t0), AudioCorpus.renderGraded(4L)),
      (51L, "podA", ts(t0), AudioCorpus.renderGraded(0L)))
    run()
    stream.addData((52L, "podA", ts(t0 + 60), AudioCorpus.renderGraded(4L)))
    run()
    val kept = spark.read.parquet(s"$base/t").select("clip_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(51L), s"only the passing clip lands: $kept")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
      .map(r => r.getAs[Long]("clip_id") ->
        (r.getAs[String]("reason"), r.getAs[Long]("matched_clip"))).toMap
    assert(rej.keySet == Set(50L, 52L), s"rejects: $rej")
    assert(rej(50L) == (("too_short", -1L)) && rej(52L) == (("too_short", -1L)),
      s"gate, not suppressor, must reject both short clips: $rej")
    // stream/batch gate parity on the same payloads
    val batchReasons = graft.operators.MediaQuality.audioVerdicts(
      graft.operators.MediaQuality.audioStats(
        AudioCorpus.gradedFor(Seq(0L, 4L).toDF("doc_id"), "doc_id"),
        "wav", "doc_id"))
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[String]("reason"))).toMap
    assert(batchReasons == Map(0L -> None, 4L -> Some("too_short")),
      s"batch gate drifted from the graded corpus: $batchReasons")
  }

  test("stream/batch parity is EXACT: streaming keep set == batch pair-table survivors") {
    import spark.implicits._
    val ids = 0L until 30L
    val batchPairs = graft.operators.AudioDedup.nearDupPairs(
      AudioCorpus.forIds(ids.toDF("doc_id"), "doc_id"),
      "wav", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectedKeep = ids.toSet -- batchPairs.map(_._2).toSet
    val base = graft.ScratchDir.dir("audingest-parity")
    val t0 = 1700400000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      ids.map(i => (i, "pod", ts(t0 + i), AudioCorpus.render(i)))))
    val kept = spark.read.parquet(s"$base/t").select("clip_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == expectedKeep,
      s"missing=${expectedKeep -- kept} spurious=${kept -- expectedKeep}")
  }

  test("undecodable blobs are dropped map-side, not landed and not crashed on") {
    val base = graft.ScratchDir.dir("audingest-junk")
    val t0 = 1700300000L
    runBatches(s"$base/t", s"$base/c", delay = "10 minutes")(Seq(
      Seq((30L, "podA", ts(t0), AudioCorpus.render(9L)),
        (31L, "podA", ts(t0), Array[Byte](82, 73, 70, 70))))) // truncated RIFF
    val kept = spark.read.parquet(s"$base/t").select("clip_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(30L))
    if (new java.io.File(s"$base/t_rejects").exists())
      assert(spark.read.parquet(s"$base/t_rejects").count() == 0,
        "an undecodable blob is not a duplicate — nothing lands in rejects")
  }
}
