package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Streaming near-dup suppression: a lightly-edited redelivery must drop
  * (the case exact digest dedup cannot catch), distinct docs must pass,
  * state must survive a restart and must NOT outlive the watermark.
  */
class NearDupIngestSpec extends AnyFunSuite with SparkTestSession {

  // long shared body → near-identical shingle sets for edited copies
  private val body = (1 to 80).map(i => s"token$i").mkString(" ")
  private def jsonl(id: Long, text: String, tsSec: Long, source: String = "web") =
    s"""{"doc_id":$id,"text":"$text","source":"$source","ingest_ts":"${
      java.time.Instant.ofEpochSecond(tsSec)}"}"""

  private def runBatches(
      table: String, ckpt: String, threshold: Double, delay: String,
      rocksDb: Boolean = false)(
      batches: Seq[Seq[String]]): Unit = {
    // rocksDb = true: conf-isolated sibling session on the production
    // provider (see ImageIngestSpec.runBatches)
    val s = if (!rocksDb) spark else graft.ScaleScope.sibling(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val stream = MemoryStream[String]
    batches.foreach { b =>
      stream.addData(b: _*)
      // a NEW query per batch group: restart-resilience is part of the test
      NearDupIngest.writeNearDeduped(
        CorpusIngest.parse(stream.toDF().toDF("value")),
        table, ckpt, threshold = threshold, watermarkDelay = delay)
        .awaitTermination()
    }
  }

  test("edited redelivery drops, distinct doc passes, evidence lands in rejects") {
    val base = graft.ScratchDir.dir("neardup")
    val t0 = 1700000000L
    runBatches(s"$base/t", s"$base/c", threshold = 0.9, delay = "10 minutes")(Seq(
      Seq(jsonl(1, body, t0)),
      Seq( // batch 2, next query restart: state must carry over
        jsonl(2, body + " appended tail", t0 + 60), // near-dup of 1 → drop
        jsonl(3, (200 to 280).map(i => s"other$i").mkString(" "), t0 + 60)))) // distinct → keep
    val kept = spark.read.parquet(s"$base/t")
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // kept rows carry their payload exactly once
    assert(kept.filter("text IS NULL").count() == 0)
    val rejects = spark.read.parquet(s"$base/t_rejects")
    val r = rejects.collect()
    assert(r.length == 1 && r.head.getAs[Long]("doc_id") == 2L)
    assert(r.head.getAs[Long]("matched_doc") == 1L, "evidence names the matched survivor")
    assert(r.head.getAs[Double]("max_est") >= 0.9)
  }

  test("quality gate: a repetitive doc rejects with its rule and NEVER enters bucket state") {
    // "spam spam spam…": distinct_ratio 1/40 « 0.55 (the ext100 funnel
    // gate's exact arithmetic via TextFunctions.qualityReason). The same
    // text arrives again under a new id: had the first copy entered LSH
    // state, the re-arrival would reject as near_duplicate at est 1.0 —
    // pinning "repetitive" proves the gate kept it out of the suppressor.
    // A healthy doc lands; a 3-token doc fails too_few_tokens.
    val spamText = Seq.fill(40)("spam").mkString(" ")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = graft.ScratchDir.dir("neardup-gate")
    val t0 = 1700800000L
    val stream = MemoryStream[String]
    def run(): Unit =
      NearDupIngest.writeNearDeduped(
        CorpusIngest.parse(stream.toDF().toDF("value")),
        s"$base/t", s"$base/c", threshold = 0.9,
        watermarkDelay = "10 minutes", qualityGate = true)
        .awaitTermination()
    stream.addData(
      jsonl(10, spamText, t0),
      jsonl(11, body, t0),
      jsonl(12, "just three tokens", t0))
    run()
    stream.addData(jsonl(13, spamText, t0 + 60))
    run()
    val kept = spark.read.parquet(s"$base/t").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(11L), s"only the healthy doc lands: $kept")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("reason"), r.getAs[Long]("matched_doc"))).toMap
    assert(rej.keySet == Set(10L, 12L, 13L), s"rejects: $rej")
    assert(rej(10L) == (("repetitive", -1L)) && rej(12L) == (("too_few_tokens", -1L)))
    assert(rej(13L) == (("repetitive", -1L)),
      s"the re-arrival must fail the GATE, not the suppressor: ${rej(13L)}")
    // batch parity: the gate is ext100's distinct_ratio arithmetic
    val dr = Seq(spamText, body).toDF("text")
      .select(graft.functions.TextFunctions.qualityFeatures(
        org.apache.spark.sql.functions.col("text")).toMap
        .apply("distinct_ratio").as("dr"))
      .collect().map(_.getDouble(0))
    assert(dr(0) < 0.55 && dr(1) >= 0.55,
      s"fixture drifted from the ext100 gate threshold: ${dr.toSeq}")
  }

  test("quality gate: near-dup suppression through the gated pipeline is unchanged") {
    val base = graft.ScratchDir.dir("neardup-gate-dup")
    val t0 = 1700900000L
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    def run(): Unit =
      NearDupIngest.writeNearDeduped(
        CorpusIngest.parse(stream.toDF().toDF("value")),
        s"$base/t", s"$base/c", threshold = 0.9,
        watermarkDelay = "10 minutes", qualityGate = true)
        .awaitTermination()
    stream.addData(jsonl(20, body, t0))
    run()
    stream.addData(jsonl(21, body + " appended tail", t0 + 60))
    run()
    val kept = spark.read.parquet(s"$base/t").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(20L))
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("doc_id") == 21L)
    assert(rej.head.getAs[String]("reason") == "near_duplicate")
    assert(rej.head.getAs[Long]("matched_doc") == 20L &&
      rej.head.getAs[Double]("max_est") >= 0.9)
  }

  test("quality gate: a gate-failing doc later than the watermark is dropped, not audited") {
    // gate failures ride the watermarked single branch, like every
    // modality's gate: once the watermark has passed a doc's ingest_ts
    // the doc is dropped whether it would pass or fail the gate. The
    // on-time spam doc of the same batch is still audited.
    val spamText = Seq.fill(40)("spam").mkString(" ")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = graft.ScratchDir.dir("neardup-gate-late")
    val t0 = 1701000000L
    val stream = MemoryStream[String]
    def run(): Unit =
      NearDupIngest.writeNearDeduped(
        CorpusIngest.parse(stream.toDF().toDF("value")),
        s"$base/t", s"$base/c", threshold = 0.9,
        watermarkDelay = "10 minutes", qualityGate = true)
        .awaitTermination()
    stream.addData(jsonl(30, body, t0 + 3600)) // watermark → t0 + 50 min
    run()
    stream.addData(
      jsonl(31, spamText, t0),               // 50 min behind: late
      jsonl(32, spamText, t0 + 3600 + 60))   // on time
    run()
    val kept = spark.read.parquet(s"$base/t").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(30L), s"kept: $kept")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(rej == Map(32L -> "repetitive"),
      s"the late gate-failing doc must be dropped, not audited: $rej")
  }

  test("edited redelivery drops across a restart ON THE ROCKSDB STATE STORE") {
    val base = graft.ScratchDir.dir("neardup-rocks")
    val t0 = 1700500000L
    runBatches(s"$base/t", s"$base/c", threshold = 0.9, delay = "10 minutes",
      rocksDb = true)(Seq(
      Seq(jsonl(1, body, t0)),
      Seq(jsonl(2, body + " appended tail", t0 + 60),
        jsonl(3, (200 to 280).map(i => s"other$i").mkString(" "), t0 + 60))))
    val kept = spark.read.parquet(s"$base/t").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L))
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("doc_id") == 2L)
  }

  test("an identical-id redelivery in one batch lands exactly once, not zero times") {
    val base = graft.ScratchDir.dir("neardup-selfid")
    val t0 = 1700600000L
    runBatches(s"$base/t", s"$base/c", threshold = 0.9, delay = "10 minutes")(Seq(
      Seq(jsonl(50, body, t0), jsonl(50, body, t0 + 1))))
    val kept = spark.read.parquet(s"$base/t").collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSeq == Seq(50L),
      "the redelivered doc must land exactly once")
    if (new java.io.File(s"$base/t_rejects").exists())
      assert(spark.read.parquet(s"$base/t_rejects").count() == 0,
        "a self-redelivery is not a duplicate of another doc")
  }

  test("a LATER-batch same-id redelivery is suppressed — one landing row overall") {
    // the batch-local self-skip must not blind the suppressor to a state
    // entry of the SAME id from an earlier batch: that entry proves the
    // doc already landed, so the retry routes to rejects (see
    // PerceptualIngest.transition)
    val base = graft.ScratchDir.dir("neardup-crossbatch")
    val t0 = 1700800000L
    runBatches(s"$base/t", s"$base/c", threshold = 0.9, delay = "10 minutes")(Seq(
      Seq(jsonl(60, body, t0)),
      Seq(jsonl(60, body, t0 + 60))))
    val kept = spark.read.parquet(s"$base/t").collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSeq == Seq(60L),
      "exactly one landing row across both batches")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("doc_id") == 60L)
    assert(rej.head.getAs[Long]("matched_doc") == 60L,
      "the evidence names the prior landing of the same id")
  }

  test("exact duplicate estimates 1.0 and same-batch ties keep the earliest") {
    val base = graft.ScratchDir.dir("neardup-exact")
    val t0 = 1700100000L
    runBatches(s"$base/t", s"$base/c", threshold = 0.9, delay = "10 minutes")(Seq(
      Seq(jsonl(10, body, t0), jsonl(11, body, t0 + 1)))) // same batch, exact dup
    val kept = spark.read.parquet(s"$base/t").collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSeq == Seq(10L), "earlier ts survives")
    val rej = spark.read.parquet(s"$base/t_rejects").collect()
    assert(rej.length == 1 && rej.head.getAs[Long]("doc_id") == 11L)
    assert(rej.head.getAs[Double]("max_est") == 1.0)
  }

  test("state does not outlive the watermark: a late re-arrival past the horizon is kept") {
    val base = graft.ScratchDir.dir("neardup-evict")
    val t0 = 1700200000L
    runBatches(s"$base/t", s"$base/c", threshold = 0.9, delay = "1 minutes")(Seq(
      Seq(jsonl(20, body, t0)),
      // advance the watermark far past t0 + delay with an unrelated doc
      Seq(jsonl(21, (300 to 380).map(i => s"advance$i").mkString(" "), t0 + 3600)),
      // same body again, one hour later: the bucket was evicted → kept
      Seq(jsonl(22, body, t0 + 3700))))
    val kept = spark.read.parquet(s"$base/t").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(20L, 21L, 22L),
      "doc 22 must pass once the watermark evicted doc 20's signatures")
  }

  test("each doc is signed once per micro-batch: one MinHash UDF in the executed plan") {
    // unfenced, the banding's not-null filter is pushed below the signing
    // projection with a copy of the UDF (two signatures per doc)
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val base = graft.ScratchDir.dir("neardup-signonce")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    // event time inside the first watermark delay: the watermark stays
    // put, so the drain's last batch is the data batch, not a no-data one
    stream.addData(jsonl(30, body, 60L), jsonl(31, "too short", 60L))
    for (gate <- Seq(false, true)) {
      val q = NearDupIngest.writeNearDeduped(
        CorpusIngest.parse(stream.toDF().toDF("value")),
        s"$base/t-$gate", s"$base/c-$gate", qualityGate = gate)
      q.awaitTermination()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.optimizedPlan
      val signers = plan.flatMap(_.expressions.flatMap(_.collect {
        case u: ScalaUDF if u.dataType.isInstanceOf[ArrayType] &&
          u.dataType.asInstanceOf[ArrayType].elementType == LongType => u
      }))
      assert(signers.size == 1, s"gate=$gate: ${signers.size} MinHash UDFs in\n$plan")
      assert(spark.read.parquet(s"$base/t-$gate").count() == (if (gate) 1L else 2L))
    }
  }
}
