package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, explode}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Streaming corpus ingestion: parse-with-drop, quality gate, and
  * watermark-bounded content dedup across micro-batches and restarts.
  */
class CorpusIngestSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def tmp(tag: String): String =
    graft.ScratchDir.dir(s"corpus-$tag")

  private def doc(id: Long, text: String, source: String, ts: String): String =
    s"""{"doc_id":$id,"text":"$text","source":"$source","ingest_ts":"$ts"}"""

  test("parse drops malformed JSON and records missing required fields") {
    val lines = Seq(
      doc(1, "alpha beta gamma delta epsilon", "a", "2026-01-01 00:00:00"),
      """{"doc_id":2,"text":"no source or ts"}""",
      "not json at all",
      """{"text":"no id","source":"a","ingest_ts":"2026-01-01 00:00:10"}"""
    ).toDF("value")
    val parsed = CorpusIngest.parse(lines)
    assert(parsed.count() == 1)
    assert(parsed.select("doc_id").head().getLong(0) == 1L)
  }

  test("each line is parsed once per micro-batch: one JsonToStructs in the executed plan") {
    // with the fields projected out of the parsed struct, the not-null
    // filter is pushed below the parse with one pruned from_json per field
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val table = tmp("parse-once-table"); val ckpt = tmp("parse-once-ckpt")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[String]
    // event time inside the first watermark delay: the watermark stays
    // put, so the drain's last batch is the data batch, not a no-data one
    source.addData(
      doc(1, "alpha beta gamma delta epsilon zeta", "srcA", "1970-01-01 00:01:00"),
      doc(2, "one two three four five six seven", "srcB", "1970-01-01 00:01:01"),
      """{"doc_id":3,"text":"no source or ts"}""",
      "not json at all")
    val q = CorpusIngest.writeCorpus(
      CorpusIngest.prepare(CorpusIngest.parse(source.toDF().toDF("value")),
        watermarkDelay = "10 minutes"),
      table, ckpt)
    q.awaitTermination()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    val parses = plan.collect { case n => n.expressions.flatMap(_.collect {
      case j: JsonToStructs => j }) }.flatten
    assert(parses.size == 1, s"${parses.size} JsonToStructs in\n$plan")
    assert(spark.read.parquet(table).select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("streaming ingest: gate + digest dedup across micro-batches and restarts") {
    val table = tmp("table"); val ckpt = tmp("ckpt")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

    val source = MemoryStream[String]
    val prepared = CorpusIngest.prepare(
      CorpusIngest.parse(source.toDF().toDF("value")),
      watermarkDelay = "10 minutes")
    def runOnce(): Unit =
      CorpusIngest.writeCorpus(prepared, table, ckpt).awaitTermination()

    // batch 1: one good doc, one too short, one too repetitive, one
    // in-batch duplicate of the good doc's text (later id)
    source.addData(
      doc(1, "alpha beta gamma delta epsilon zeta", "srcA", "2026-01-01 00:00:00"),
      doc(2, "hi there", "srcA", "2026-01-01 00:00:01"),
      doc(3, "a a a a a a a a a a", "srcA", "2026-01-01 00:00:02"),
      doc(4, "alpha beta gamma delta epsilon zeta", "srcB", "2026-01-01 00:00:03"))
    runOnce()
    val afterB1 = spark.read.parquet(table)
    assert(afterB1.count() == 1, "gate + in-batch dedup must keep exactly one good doc")
    // WHICH of the two same-digest duplicates (ids 1 and 4) survives a
    // shuffled streaming dedup is not contractually ordered — assert on the
    // surviving CONTENT, and carry the survivor's id into the batch-2 check
    val survivor = afterB1.select("doc_id", "text").head()
    assert(survivor.getString(1) == "alpha beta gamma delta epsilon zeta")
    val survivorId = survivor.getLong(0)
    assert(Set(1L, 4L).contains(survivorId))

    // batch 2 on a fresh query from the same checkpoint: a replayed
    // duplicate within the watermark drops, a genuinely new doc lands
    source.addData(
      doc(5, "alpha beta gamma delta epsilon zeta", "srcC", "2026-01-01 00:05:00"),
      doc(6, "one two three four five six seven", "srcC", "2026-01-01 00:05:01"))
    runOnce()
    val afterB2 = spark.read.parquet(table)
    assert(afterB2.count() == 2)
    assert(afterB2.select("doc_id").collect().map(_.getLong(0)).toSet == Set(survivorId, 6L))

    // the landing table is source-partitioned (corpus analog of the
    // (camera_id, day) frame sink layout)
    val dirs = new java.io.File(table).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.contains("source=srcA") && dirs.contains("source=srcC"))
  }

  /** Deterministic word soup (spaces every 5 letters so the quality gate
    * sees real tokens). */
  private def soupWords(seed: Long, nWords: Int): String =
    graft.TextFixtures.soupWords(seed, nWords)

  test("audited ingest with a decontamination watchlist: leaked benchmark text rejects with evidence, quality rejects carry their rule, passers land, digest dups stay silent") {
    import graft.operators.ContaminationGuard
    val bench = soupWords(1L, 40) // 239 chars
    val idx = ContaminationGuard.benchmarkIndex(
      Seq((7L, bench)).toDF("doc_id", "text"), "text", "doc_id")
    val prefix = soupWords(2L, 10) // 59 chars
    val leaked = prefix + " " + bench.substring(0, 100) // hit at pos 61
    val clean = soupWords(3L, 12)
    val table = tmp("aud-table"); val ckpt = tmp("aud-ckpt")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    source.addData(
      (1L, clean, "srcA", t0),
      (2L, leaked, "srcA", t0),
      (3L, "hi there", "srcA", t0),
      (4L, clean, "srcB", t0)) // digest dup of 1 — silent by design
    val evalsBefore = ContaminationGuard.probeEvals.get()
    CorpusIngest.writeAudited(
      source.toDF().toDF("doc_id", "text", "source", "ingest_ts"),
      table, ckpt, watchlist = Some(idx)).awaitTermination()
    // ONE plan branch => the probe UDF runs exactly once per arriving doc
    // (a kept/reject union off the gate projection would double it — the
    // r10 two-branch decode bug's text sibling)
    assert(ContaminationGuard.probeEvals.get() - evalsBefore == 4L,
      s"probe evaluations: ${ContaminationGuard.probeEvals.get() - evalsBefore}")
    val landed = spark.read.parquet(table).collect()
    assert(landed.length == 1 &&
      landed.head.getAs[String]("text") == clean &&
      Set(1L, 4L).contains(landed.head.getAs[Long]("doc_id")))
    val rejects = spark.read.parquet(s"${table}_rejects").collect()
    val byId = rejects.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.keySet == Set(2L, 3L), s"got ${byId.keySet}")
    assert(byId(2L).getAs[String]("reject_reason") == "contaminated")
    assert(byId(2L).getAs[Long]("bench_id") == 7L)
    assert(byId(2L).getAs[Long]("match_pos") == prefix.length + 2L,
      s"first leaked window right after the prefix+space, got ${byId(2L).getAs[Long]("match_pos")}")
    assert(byId(3L).getAs[String]("reject_reason") == "too_few_tokens")
    assert(byId(3L).isNullAt(byId(3L).fieldIndex("bench_id")))
    // batch parity: prepare with the same watchlist drops the leaked doc
    val batchKept = CorpusIngest.prepare(
      Seq((1L, clean, "a", t0), (2L, leaked, "a", t0))
        .toDF("doc_id", "text", "source", "ingest_ts"),
      watchlist = Some(idx))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchKept == Set(1L))
  }

  test("compactLandedEvery folds the landing table's own small files on " +
      "micro-batch cadence; contents, layout column and rejects untouched") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def drive(every: Int): (String, Long) = {
      val table = tmp(s"cmpk$every-table"); val ckpt = tmp(s"cmpk$every-ckpt")
      val source = MemoryStream[(Long, String, String, java.sql.Timestamp)]
      var id = 0L
      // four waves on one checkpoint; with every=2 the DATA-batch cadence
      // (r14 verdict #5) folds after waves 2 and 4 — the first wave's
      // no-data watermark batch consumes no slot
      for (_ <- 0 until 4) {
        source.addData((0 until 6).map { _ =>
          id += 1
          (id, soupWords(id, 8), s"src${id % 2}", t0)
        }: _*)
        // one gate reject per wave, so the rejects table actually holds
        // files for the untouched-by-the-fold assertion to observe
        id += 1
        source.addData((id, "hi", s"src${id % 2}", t0))
        CorpusIngest.writeAudited(
          source.toDF().toDF("doc_id", "text", "source", "ingest_ts"),
          table, ckpt, compactLandedEvery = every).awaitTermination()
      }
      (table, graft.operators.TableCompaction.committedDataFiles(
        spark, table))
    }
    val (plain, plainFiles) = drive(0)
    val (folded, foldedFiles) = drive(2)
    // the fold changed the LAYOUT only: strictly fewer files, identical
    // rows, and the partition column still lives in the dir names
    assert(foldedFiles < plainFiles,
      s"cadence fold did not reduce files: $foldedFiles vs $plainFiles")
    def rows(t: String) = spark.read.parquet(t)
      .select("doc_id", "text", "source").collect()
      .map(_.toString).sorted.toSeq
    assert(rows(folded) == rows(plain))
    assert(!spark.read.parquet(s"$folded/source=src0/")
      .columns.contains("source"))
    // the knob never touches the rejects table: same audited rows AND
    // the same file count as the unfolded run (a fold pointed at the
    // rejects dir would have collapsed its per-wave appends)
    def rejectRows(t: String) = spark.read.parquet(s"${t}_rejects")
      .select("doc_id", "reject_reason").collect()
      .map(_.toString).sorted.toSeq
    assert(rejectRows(folded).nonEmpty)
    assert(rejectRows(folded) == rejectRows(plain))
    assert(graft.operators.TableCompaction.committedDataFiles(
      spark, s"${folded}_rejects") ==
      graft.operators.TableCompaction.committedDataFiles(
        spark, s"${plain}_rejects"))
  }

  test("a reject-only micro-batch consumes no landing-fold cadence slot: " +
      "the dial is LANDED rows, observed on the landing write itself") {
    // r15 ADVICE: the slot dial used to be a separate !b.isEmpty action
    // (a third run of the gate-verdict plan per batch); it now rides an
    // observe() on the landing write — and counts LANDED rows, so a
    // batch that only audited rejects (no landing append) cannot pull
    // the landing-table fold cadence forward
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val table = tmp("rocad-table"); val ckpt = tmp("rocad-ckpt")
    val source = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    def dataBatches(): Long = graft.util.AtomicPublish.readFile(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(ckpt, ".graft_data_batches"),
      Some("GRAFT_DATA_BATCH_CADENCE_V1"))(
      in => { in.readLong(); in.readLong() }).getOrElse(0L)
    def wave(rows: (Long, String, String, java.sql.Timestamp)*): Unit = {
      source.addData(rows: _*)
      CorpusIngest.writeAudited(
        source.toDF().toDF("doc_id", "text", "source", "ingest_ts"),
        table, ckpt, compactLandedEvery = 100).awaitTermination()
    }
    wave((1L, soupWords(1L, 8), "srcA", t0),
      (2L, soupWords(2L, 8), "srcA", t0))
    assert(dataBatches() == 1L)
    wave((3L, "hi", "srcA", t0)) // gate reject: too_few_tokens
    assert(dataBatches() == 1L,
      "a reject-only batch appends no landing files — no slot")
    assert(spark.read.parquet(s"${table}_rejects").count() == 1L)
    wave((4L, soupWords(4L, 8), "srcA", t0))
    assert(dataBatches() == 2L)
  }

  test("BLOOM-gated ingest: suspects reject with the run start, verdict classes match the exact gate, and the rejects graduate to confirmed leaks") {
    import graft.operators.ContaminationGuard
    val bench = soupWords(21L, 40)
    val benchDf = Seq((7L, bench)).toDF("doc_id", "text")
    val builtIdx = ContaminationGuard.bloomIndex(benchDf, "text")
    // persistence: the ingest loads the saved index at (re)start instead
    // of re-enumerating the benchmark suite — the gate below runs on the
    // LOADED bits, so this whole spec pins the round-trip end-to-end
    val idxDir = tmp("bloom-idx")
    builtIdx.save(spark, idxDir)
    val bloomIdx = ContaminationGuard.loadBloomIndex(spark, idxDir)
    assert(bloomIdx.window == builtIdx.window &&
      bloomIdx.hexPrefix == builtIdx.hexPrefix &&
      bloomIdx.fpp == builtIdx.fpp,
      "the parameter bundle must survive the round-trip with the bits")
    val prefix = soupWords(22L, 10) // 59 chars
    val leaked = prefix + " " + bench.substring(0, 100) // run starts at 61
    val clean = soupWords(23L, 12)
    val table = tmp("bloom-table"); val ckpt = tmp("bloom-ckpt")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    source.addData(
      (1L, clean, "srcA", t0),
      (2L, leaked, "srcA", t0),
      (3L, "hi there", "srcA", t0)) // junk → the guard skips the scan
    val evalsBefore = ContaminationGuard.bloomGateEvals.get()
    CorpusIngest.writeAuditedBloom(
      source.toDF().toDF("doc_id", "text", "source", "ingest_ts"),
      table, ckpt, watchlist = bloomIdx).awaitTermination()
    // single plan branch: one probe invocation per arriving doc
    assert(ContaminationGuard.bloomGateEvals.get() - evalsBefore == 3L)
    val landed = spark.read.parquet(table).collect()
    assert(landed.length == 1 && landed.head.getAs[Long]("doc_id") == 1L)
    val rejects = spark.read.parquet(s"${table}_rejects").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rejects.keySet == Set(2L, 3L))
    // the suspect verdict is honest about its tier: _maybe, run start as
    // evidence (the first window fully inside the leak), no attribution
    assert(rejects(2L).getAs[String]("reject_reason") == "contaminated_maybe")
    assert(rejects(2L).getAs[Long]("match_pos") == prefix.length + 2L)
    assert(rejects(3L).getAs[String]("reject_reason") == "too_few_tokens")
    assert(rejects(3L).isNullAt(rejects(3L).fieldIndex("match_pos")))
    // verdict classes equal the exact gate's on the same stream (no FPs
    // survive minRun=3 on this fixture) ...
    val exactClasses = CorpusIngest.gateVerdicts(
      Seq((1L, clean, "a", t0), (2L, leaked, "a", t0), (3L, "hi there", "a", t0))
        .toDF("doc_id", "text", "source", "ingest_ts"),
      watchlist = Some(ContaminationGuard.benchmarkIndex(
        benchDf, "text", "doc_id")))
      .select("doc_id", "reject_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(exactClasses == Map(1L -> None, 2L -> Some("contaminated"),
      3L -> Some("too_few_tokens")))
    // ... and the batch graduation over the bounded rejects confirms the
    // suspect with full attribution — the funnel's final word
    val suspects = spark.read.parquet(s"${table}_rejects")
      .filter(col("reject_reason") === "contaminated_maybe")
      .select("doc_id", "text")
    val confirmed = ContaminationGuard.flag(suspects, "text", "doc_id",
      ContaminationGuard.benchmarkIndex(benchDf, "text", "doc_id"))
      .collect()
    assert(confirmed.length == 1 &&
      confirmed.head.getAs[Long]("doc_id") == 2L &&
      confirmed.head.getAs[Long]("bench_id") == 7L &&
      confirmed.head.getAs[Long]("n_matched_windows") == 37L)
  }

  test("bloom-gate graduation re-admits cleared false positives exactly once; confirmed suspects return with full attribution") {
    // the re-admission path a false-positive-able gate owes the corpus:
    // the filter is bit-deterministic, so a cleared FP re-fed through
    // the gate rejects forever — graduation is the only way back in.
    // fpp=0.5 + minRun=1 makes a long clean doc an (effectively certain,
    // and deterministic once built) false positive
    import graft.operators.ContaminationGuard
    val bench = soupWords(31L, 40)
    val benchDf = Seq((7L, bench)).toDF("doc_id", "text")
    val noisyBloom = ContaminationGuard.bloomIndex(benchDf, "text",
      fpp = 0.5)
    val cleanLong = soupWords(32L, 60) // ~300 windows -> FP near-certain
    val leaked = soupWords(33L, 10) + " " + bench.substring(0, 100)
    val table = tmp("grad-table"); val ckpt = tmp("grad-ckpt")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    source.addData(
      (1L, cleanLong, "srcA", t0),
      (2L, leaked, "srcA", t0))
    CorpusIngest.writeAuditedBloom(
      source.toDF().toDF("doc_id", "text", "source", "ingest_ts"),
      table, ckpt, watchlist = noisyBloom, minRun = 1).awaitTermination()
    val suspectIds = spark.read.parquet(s"${table}_rejects")
      .filter(col("reject_reason") === "contaminated_maybe")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(suspectIds == Set(1L, 2L),
      s"at fpp 0.5 both docs must reject as suspects, got $suspectIds")
    // graduation: the exact tier clears the FP and confirms the leak
    val confirmed = CorpusIngest.graduateBloomRejects(
      spark, table, benchDf, "text", "doc_id")
    val conf = confirmed.collect()
    assert(conf.length == 1 && conf.head.getAs[Long]("doc_id") == 2L &&
      conf.head.getAs[Long]("bench_id") == 7L &&
      conf.head.getAs[Long]("n_matched_windows") == 37L,
      s"only the true leak confirms, with attribution: ${conf.toSeq}")
    val landed = spark.read.parquet(table).collect()
    assert(landed.length == 1 && landed.head.getAs[Long]("doc_id") == 1L &&
      landed.head.getAs[String]("text") == cleanLong,
      "the cleared false positive must land")
    // a re-run is a no-op on BOTH sides: the graduated-marker table
    // anti-joins the already-processed suspects away before the exact
    // scan (each maintenance run pays only for NEW suspects, not the
    // all-time rejects trail), so nothing re-confirms and nothing
    // re-lands
    val rerun = CorpusIngest.graduateBloomRejects(
      spark, table, benchDf, "text", "doc_id")
    assert(rerun.isEmpty,
      "already-graduated suspects must not re-confirm on a re-run")
    assert(spark.read.parquet(table).count() == 1,
      "a second graduation run must not duplicate the cleared doc")
    // marker compaction: the graduated table mirrors the rejects audit
    // trail — once retention removes a suspect from the rejects, its
    // marker is dead weight. Simulate a retention pass that keeps only
    // doc 2's reject, compact, and pin that (a) doc 1's marker is gone,
    // (b) doc 2's marker survives so the graduation stays a no-op.
    val markers0 = spark.read.parquet(s"${table}_graduated")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(markers0 == Set(1L, 2L), s"both suspects marked: $markers0")
    val retained = spark.read.parquet(s"${table}_rejects")
      .filter(col("doc_id") === 2L).localCheckpoint(true)
    retained.write.mode("overwrite").parquet(s"${table}_rejects")
    CorpusIngest.compactGraduated(spark, table)
    val markers1 = spark.read.parquet(s"${table}_graduated")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(markers1 == Set(2L),
      s"compaction keeps exactly the live suspects' markers: $markers1")
    val rerun2 = CorpusIngest.graduateBloomRejects(
      spark, table, benchDf, "text", "doc_id")
    assert(rerun2.isEmpty && spark.read.parquet(table).count() == 1,
      "graduation after marker compaction is still a no-op")
    // a retention pass that removed the rejects table ENTIRELY: every
    // marker now mirrors nothing — compaction must rewrite the marker
    // table to empty instead of throwing on the missing read (r12 ADVICE)
    graft.util.LocalFs.deleteRecursively(s"${table}_rejects")
    CorpusIngest.compactGraduated(spark, table)
    assert(spark.read.parquet(s"${table}_graduated").count() == 0,
      "with no rejects table left, every marker is dead weight")
  }

  test("EXCISE-policy ingest: leaked spans cut at the door, cleaned text lands and dedups, excisions audited, excised-to-junk rejects with evidence") {
    import graft.operators.ContaminationGuard
    val bench = soupWords(11L, 40) // 239 chars
    val idx = ContaminationGuard.benchmarkIndex(
      Seq((7L, bench)).toDF("doc_id", "text"), "text", "doc_id")
    val prefix = soupWords(12L, 10) // 59 chars
    val suffix = soupWords(13L, 10)
    // leaked = prefix ␣ bench[0,100) ␣ suffix → matched window starts at
    // chars 61..97, one island [61, 160] (100 chars), cleaned = the text
    // around the cut: chars 1..60 (prefix + space) ++ chars 161.. (space
    // + suffix)
    val leaked = prefix + " " + bench.substring(0, 100) + " " + suffix
    val expectedCleaned = prefix + "  " + suffix
    val clean = soupWords(14L, 12)
    val table = tmp("exc-table"); val ckpt = tmp("exc-ckpt")
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    def runOnce(): Unit =
      CorpusIngest.writeAuditedExcising(
        source.toDF().toDF("doc_id", "text", "source", "ingest_ts"),
        table, ckpt, watchlist = idx).awaitTermination()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    source.addData(
      (1L, clean, "srcA", t0),
      (2L, leaked, "srcA", t0),
      (3L, bench, "srcA", t0),     // pure benchmark text → excised to ""
      (4L, "hi there", "srcA", t0)) // original junk → scan never paid
    val evalsBefore = ContaminationGuard.cutsEvals.get()
    runOnce()
    // ONE plan branch => the cut-list UDF is invoked exactly once per doc
    assert(ContaminationGuard.cutsEvals.get() - evalsBefore == 4L,
      s"cut-probe evaluations: ${ContaminationGuard.cutsEvals.get() - evalsBefore}")
    val landed = spark.read.parquet(table).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(landed.keySet == Set(1L, 2L), s"landed: ${landed.keySet}")
    assert(landed(1L).getAs[String]("text") == clean)
    assert(landed(2L).getAs[String]("text") == expectedCleaned,
      "the leaked doc must land with the island cut out")
    // parity with the batch remediation: same cut, same rebuilt digest
    val batchExcise = ContaminationGuard.excise(
      Seq((2L, leaked)).toDF("doc_id", "text"), "text", "doc_id", idx)
      .head()
    assert(landed(2L).getAs[String]("digest") ==
      batchExcise.getAs[String]("cleaned_digest"))
    assert(batchExcise.getAs[Long]("n_spans") == 1L &&
      batchExcise.getAs[Long]("removed_chars") == 100L)
    val excisions = spark.read.parquet(s"${table}_excisions").collect()
    assert(excisions.length == 1 &&
      excisions.head.getAs[Long]("doc_id") == 2L &&
      excisions.head.getAs[Long]("n_spans") == 1L &&
      excisions.head.getAs[Long]("removed_chars") == 100L &&
      excisions.head.getAs[String]("digest") ==
        batchExcise.getAs[String]("cleaned_digest"),
      s"excision audit: ${excisions.mkString(",")}")
    // attribution survives the excision: WHICH benchmark leaked rides
    // the audit row (the original text does not land anywhere)
    assert(excisions.head.getSeq[Long](
      excisions.head.fieldIndex("bench_ids")) == Seq(7L))
    val rejects = spark.read.parquet(s"${table}_rejects").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rejects.keySet == Set(3L, 4L), s"rejects: ${rejects.keySet}")
    // pure-bench doc: the whole text is one island → cleaned is empty →
    // the CLEANED text's quality rule, with the why in removed_chars
    assert(rejects(3L).getAs[String]("reject_reason") == "empty")
    assert(rejects(3L).getAs[Long]("n_spans") == 1L &&
      rejects(3L).getAs[Long]("removed_chars") == bench.length.toLong)
    assert(rejects(3L).getSeq[Long](rejects(3L).fieldIndex("bench_ids")) == Seq(7L),
      "the excised-to-junk reject must name the leaked benchmark")
    // original junk never paid the scan: quality rule, zero spans
    assert(rejects(4L).getAs[String]("reject_reason") == "too_few_tokens")
    assert(rejects(4L).getAs[Long]("n_spans") == 0L)
    assert(rejects(4L).isNullAt(rejects(4L).fieldIndex("bench_ids")))
    // excision bookkeeping stays out of the corpus
    assert(!spark.read.parquet(table).columns.contains("bench_ids"))
    // dedup is on the CLEANED digest: a clean copy of the leaked doc's
    // unique remainder arriving later dedups silently against it
    source.addData((5L, expectedCleaned, "srcB",
      java.sql.Timestamp.valueOf("2026-01-01 00:05:00")))
    runOnce()
    assert(spark.read.parquet(table).count() == 2,
      "the cleaned remainder's digest already landed — silent dup")
    // batch parity: the same gate on a batch frame yields the same classes
    val batchVerdicts = CorpusIngest.gateVerdictsExcising(
      Seq((1L, clean, "a", t0), (2L, leaked, "a", t0), (3L, bench, "a", t0),
        (4L, "hi there", "a", t0))
        .toDF("doc_id", "text", "source", "ingest_ts"), idx)
      .select("doc_id", "reject_reason", "text").collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), r.getString(2))).toMap
    assert(batchVerdicts(1L) == (None, clean))
    assert(batchVerdicts(2L) == (None, expectedCleaned))
    assert(batchVerdicts(3L)._1.contains("empty"))
    assert(batchVerdicts(4L)._1.contains("too_few_tokens"))
  }

  test("excise attribution graduates: (doc_id, bench_id) pairs off the ingest verdicts re-derive exact extents via refineFlags on the source delivery") {
    // the scaladoc contract made concrete: the cleaned text destroys the
    // original, so a reviewer re-derives extents by feeding the carried
    // bench_ids attribution + the SOURCE delivery to the exact tier
    import graft.operators.ContaminationGuard
    val bench = soupWords(11L, 40)
    val idx = ContaminationGuard.benchmarkIndex(
      Seq((7L, bench)).toDF("doc_id", "text"), "text", "doc_id")
    val leaked = soupWords(12L, 10) + " " + bench.substring(0, 100) + " " +
      soupWords(13L, 10)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val delivery = Seq(
      (1L, soupWords(14L, 12), "a", t0),
      (2L, leaked, "a", t0),
      (3L, bench, "a", t0))
      .toDF("doc_id", "text", "source", "ingest_ts")
    val pairs = CorpusIngest.gateVerdictsExcising(delivery, idx)
      .filter(col("bench_ids").isNotNull)
      .select(col("doc_id"), explode(col("bench_ids")).as("bench_id"))
    val refined = ContaminationGuard.refineFlags(
      pairs, delivery, Seq((7L, bench)).toDF("doc_id", "text"),
      "text", "doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id")) ->
        (r.getAs[Long]("n_matched_windows"),
          r.getAs[Long]("contaminated_chars"))).toMap
    val direct = ContaminationGuard.flag(
      delivery.filter(col("doc_id").isin(2L, 3L)), "text", "doc_id", idx)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id")) ->
        (r.getAs[Long]("n_matched_windows"),
          r.getAs[Long]("contaminated_chars"))).toMap
    assert(refined.keySet == Set((2L, 7L), (3L, 7L)), s"refined: $refined")
    assert(refined == direct,
      s"graduated extents must equal the exact tier: $refined vs $direct")
  }

  test("prepare on a BATCH frame applies the same gate with whole-input dedup") {
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "a", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      (2L, "alpha beta gamma delta epsilon zeta", "b", java.sql.Timestamp.valueOf("2026-01-02 00:00:00")),
      (3L, "hi", "a", java.sql.Timestamp.valueOf("2026-01-03 00:00:00")))
      .toDF("doc_id", "text", "source", "ingest_ts")
    val kept = CorpusIngest.prepare(batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 1 && (kept == Set(1L) || kept == Set(2L)))
  }
}
