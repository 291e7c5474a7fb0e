package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.TextFunctions

/** Streaming corpus ingestion: the LLM-data-pipeline counterpart of the
  * frame pipeline (SURVEY.md §2.7). Documents arrive continuously as JSONL,
  * are parsed with drop-on-malformed semantics (the same
  * PERMISSIVE-with-drop contract as the frame wire,
  * `/root/reference/dvaf/processor/.../VideoProcessor.java:143-153`),
  * quality-scored and gated map-side, exact-deduped on a content digest
  * within a watermark, and appended to a source-partitioned table.
  *
  * Scale design: parse/score/gate are stateless map work; the only state is
  * the dedup digest store, which the watermark bounds — a digest older than
  * `watermarkDelay` is evicted, so state size tracks the ingest rate × the
  * replay horizon, not the corpus (full-history exact dedup is the batch
  * job, [[graft.operators.Dedup.exact]]; this is the at-ingest guard that
  * keeps replayed/duplicate deliveries out of the landing table).
  */
object CorpusIngest {

  /** Wire schema for one JSONL document record. */
  val wireSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, source STRING, ingest_ts TIMESTAMP")

  /** The corpus gate's thresholds ([[TextFunctions.qualityReason]]). */
  private val MinTokens = 5
  private val MinDistinctRatio = 0.2

  /** Parse the raw `value` lines; malformed JSON or records missing the
    * required fields drop (null-filter), matching the frame path's
    * contract. Each line is parsed once: the fields come out of an
    * `inline` generator, which the optimizer cannot push the not-null
    * filter below (over a projection it would copy one pruned `from_json`
    * into the filter per checked field).
    */
  def parse(lines: DataFrame): DataFrame =
    lines
      .select(inline(array(from_json(col("value"), wireSchema))))
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        col("source").isNotNull && col("ingest_ts").isNotNull)

  /** The stateless gate verdicts — every parsed doc plus `reject_reason`
    * (null = pass) and contamination evidence. Reasons, in rule order:
    * the text quality gate ([[TextFunctions.qualityReason]] — empty /
    * too_few_tokens / repetitive, the same scalar the near-dup
    * suppressor's gate runs), then "contaminated" when a `watchlist`
    * (the ext126/ext127 [[graft.operators.ContaminationGuard]] broadcast
    * index — decontamination AT THE DOOR, so a leaked eval excerpt never
    * lands in the corpus and never occupies a dedup digest slot) is given
    * and the doc holds any benchmark window; `bench_id`/`match_pos` carry
    * the first hit's evidence (the full island story is one
    * `ContaminationGuard.flag` call over the bounded rejects, never the
    * corpus). The probe's hashing scan only runs on quality-passers —
    * the quality verdict is passed INTO the probe UDF as its guard
    * (`withHit(guard = …)`), because a CASE wrapper around a fenced
    * nondeterministic UDF masks the result without skipping the work.
    * All map-side; identical on a stream and a batch frame.
    */
  def gateVerdicts(
      docs: DataFrame,
      watchlist: Option[graft.operators.ContaminationGuard.BenchIndex] = None): DataFrame = {
    val probed = watchlist match {
      case None => scored(docs)
        .withColumn("contamination",
          lit(null).cast("struct<bench_id:bigint,match_pos:bigint>"))
      case Some(idx) =>
        graft.operators.ContaminationGuard.withHit(
          scored(docs), "text", idx, guard = col("__q_reason").isNull)
    }
    probed
      .withColumn("reject_reason",
        coalesce(col("__q_reason"),
          when(col("contamination").isNotNull, "contaminated")))
      .withColumn("bench_id", col("contamination.bench_id"))
      .withColumn("match_pos", col("contamination.match_pos"))
      .drop("__q_reason", "contamination")
  }

  /** Quality-scored docs plus the `__q_reason` verdict — ONE definition
    * of the scoring block the exact ([[gateVerdicts]]) and Bloom
    * ([[gateVerdictsBloom]]) gates share, so their spec-pinned
    * class-parity cannot drift on the quality/digest side. */
  private def scored(docs: DataFrame): DataFrame = {
    val feats = TextFunctions.qualityFeatures(col("text")).toMap
    docs
      .withColumn("n_tokens", feats("n_tokens"))
      .withColumn("distinct_ratio", feats("distinct_ratio"))
      .withColumn("digest", md5(col("text")))
      .withColumn("__q_reason",
        TextFunctions.qualityReason(col("text"), MinTokens, MinDistinctRatio))
  }

  /** Score, gate, and dedup: keeps documents with at least
    * [[MinTokens]] tokens and a distinct-token ratio of at least
    * [[MinDistinctRatio]]
    * (plus, when a `watchlist` is given, no benchmark-window hit —
    * [[gateVerdicts]]), then drops any document whose md5 digest was
    * already seen within the watermark window. Works identically on batch
    * frames (dedup falls back to plain dropDuplicates — batch has the
    * whole input).
    */
  def prepare(
      docs: DataFrame,
      watermarkDelay: String = "10 minutes",
      watchlist: Option[graft.operators.ContaminationGuard.BenchIndex] = None): DataFrame =
    dedupByDigest(
      gateVerdicts(docs, watchlist)
        .filter(col("reject_reason").isNull)
        .drop("reject_reason", "bench_id", "match_pos"),
      watermarkDelay)

  private def dedupByDigest(gated: DataFrame, watermarkDelay: String): DataFrame =
    if (gated.isStreaming)
      gated
        .withWatermark("ingest_ts", watermarkDelay)
        .dropDuplicatesWithinWatermark("digest")
    else
      gated.dropDuplicates("digest")

  /** Append the prepared stream to a source-partitioned parquet table —
    * the corpus analog of the frame sink's (camera_id, day) layout.
    */
  def writeCorpus(
      prepared: DataFrame, table: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    prepared.writeStream
      .partitionBy("source")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .format("parquet")
      .option("path", table)
      .start()

  /** [[writeCorpus]] with the audit trail a gate owes its operators (the
    * near-dup suppressor's pattern): gate rejects — the quality rules
    * and, when a `watchlist` is given, "contaminated" with first-hit
    * evidence — land in `<table>_rejects` instead of vanishing, while
    * passers flow through the watermark digest-dedup into the
    * source-partitioned landing table. ONE query AND ONE PLAN BRANCH
    * (the r10 two-branch decode lesson applied to the hashing probe —
    * branching kept/rejects off the gate projection would evaluate the
    * fenced probe UDF once per branch): rejects ride the SAME stateful
    * dedup as passers under a reject-unique key — "r:"-prefixed so it
    * can never collide with a content digest, keyed by (digest, doc_id)
    * so two distinct junk docs with identical text both audit while an
    * exact redelivery of the same reject dedups the way a landing
    * would. A reject therefore costs one watermark-bounded state entry
    * instead of a second full gate evaluation per document, and gate
    * failures share the dedup's lateness policy — a DELIBERATE trade
    * (the image/audio suppressors made the same one): a gate failure
    * arriving later than `watermarkDelay` is dropped by the dedup
    * operator UNAUDITED, so the rejects table is complete only within
    * the watermark horizon, like every other at-ingest guard here; the
    * full-history audit is the batch guard over the landed corpus
    * (ext126), which a late-dropped doc never entered. The digest
    * dedup's own
    * drops stay silent BY DESIGN — they are duplicates of rows that
    * landed (the full-history evidence job is the batch dedup family).
    * `docs` is a parsed ([[parse]]-schema) stream. The `watchlist` index
    * is FIXED for the life of the query (it rides the gate's broadcast
    * inside one continuous plan — unlike [[WatchlistMonitor
    * .monitorStream]]'s per-epoch foreachBatch scoring, the stateful
    * dedup pipeline here cannot swap it mid-run): restart the query to
    * pick up a new eval suite; docs that landed before the suite existed
    * are the batch guard's job (ext126).
    */
  def writeAudited(
      docs: DataFrame, table: String, checkpoint: String,
      watermarkDelay: String = "10 minutes",
      watchlist: Option[graft.operators.ContaminationGuard.BenchIndex] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      compactLandedEvery: Int = 0): StreamingQuery =
    writeRouted(gateVerdicts(docs, watchlist),
      checkpoint, watermarkDelay, trigger)(
      auditedSinks(table, evidenceCols = Seq("bench_id", "match_pos"),
        compactLandedEvery, checkpoint))

  /** The passers/rejects sink pair every audited writer shares — kept
    * rows land source-partitioned minus the gate's `evidenceCols`
    * (evidence belongs in the audit tables, not the corpus), rejects
    * keep everything — so the landing/rejects routing has ONE
    * definition across the three contamination postures.
    *
    * `compactLandedEvery > 0` folds the LANDING table's own small files
    * every that-many DATA-BEARING micro-batches
    * ([[graft.operators.TableCompaction.compactLanded]]), from inside
    * foreachBatch's exclusive-writer window — the
    * [[PerceptualIngest]] `writeBackCompactEvery` discipline carried to
    * the plain-parquet landing table, including its [[DataBatchCadence]]
    * counting (r14 verdict #5): a no-data watermark-advance commit batch
    * never consumes a cadence slot, so folds land every N batches of
    * actual appends, durable across restarts beside the checkpoint and
    * exactly-once under replay. Safe against the stream's own
    * replay because the landing idempotence is content-based (the k:/r:
    * dedup keys), never file-based; a compaction crash heals forward on
    * the next cadence firing. A fold FAILURE is non-fatal by design:
    * the batch's appends have already landed when the fold runs, and
    * foreachBatch is at-least-once — failing the batch here would
    * replay it and permanently DUPLICATE its rows in the landing and
    * rejects tables (the appends are not idempotent; only the layout
    * fold is), and a persistently failing fold would crash-loop one
    * more duplicate copy per restart. So the fold logs and moves on;
    * its own journal contract already heals any torn state at the next
    * firing. External readers CONCURRENT with a fold
    * can transiently hit a listing blink (a bin's sources deleted after
    * its replacement landed — a scan that listed before and reads after
    * fails with FileNotFound, never wrong rows): enable the knob when
    * downstream scans run between batches or tolerate a retry, else
    * compact out-of-band in the maintenance window. The REJECTS table is
    * deliberately not folded here — its maintenance is the retention
    * pass ([[graft.operators.Retention]]), whose staged rewrite already
    * consolidates files. */
  private def auditedSinks(table: String, evidenceCols: Seq[String],
      compactLandedEvery: Int, checkpoint: String): (DataFrame, Long) => Unit = {
    val cadence = new DataBatchCadence(checkpoint)
    (b: DataFrame, batchId: Long) => {
      // the cadence dial rides an observe() ON the landing write itself
      // (r15 ADVICE: a separate isEmpty probe is a third action over the
      // gate-verdict plan on the ingest hot path — and "the shell's
      // cache makes it free" is a claim about cache substitution this
      // leaves nothing depending on). Landed-rows is also the RIGHT
      // dial: the cadence gates compaction of the LANDING table, so a
      // batch that only audited rejects appends no landing files and
      // must not consume a fold slot
      val obs = new org.apache.spark.sql.Observation()
      b.filter(col("reject_reason").isNull)
        .drop("__dedup_key" +: "reject_reason" +: evidenceCols: _*)
        .observe(obs, count(lit(1)).as("n_landed"))
        .write.mode("append").partitionBy("source").parquet(table)
      b.filter(col("reject_reason").isNotNull)
        .drop("__dedup_key")
        .write.mode("append").parquet(s"${table}_rejects")
      // the landing write always executes the observed plan, so the
      // metric is present; the getOrElse(0) is pure defense
      val landed = obs.get.get("n_landed")
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      if (cadence.fires(b.sparkSession.sparkContext.hadoopConfiguration,
          compactLandedEvery, batchId, hasData = landed > 0))
        try graft.operators.TableCompaction.compactLanded(
          b.sparkSession, table): Unit
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[graft] compactLanded cadence fold failed on $table at " +
                s"batch $batchId (will heal at the next firing): $e")
        }
    }
  }

  /** THE routing skeleton [[writeAudited]] and [[writeAuditedExcising]]
    * share — the dedup-key scheme, the watermark policy, and the
    * cache/try/unpersist micro-batch shell live HERE and only here (two
    * hand-synced copies of a key scheme is exactly the divergence the
    * single-plan-branch lessons were about): passers dedup on
    * "k:<digest>" (content identity — a redelivery of what landed is
    * silent), rejects audit under "r:<digest>:<doc_id>" (reject-unique,
    * cannot collide with a content key; two distinct junk docs with the
    * same text both audit, an exact redelivery of the same reject dedups
    * like a landing would), and both classes share the watermark's
    * lateness policy. `sinks` runs against the CACHED deduped
    * micro-batch — route every output off that one frame, never off a
    * re-evaluated plan branch. */
  private def writeRouted(
      verdicts: DataFrame, checkpoint: String, watermarkDelay: String,
      trigger: Trigger)(sinks: (DataFrame, Long) => Unit): StreamingQuery =
    verdicts
      .withColumn("__dedup_key",
        when(col("reject_reason").isNull, concat(lit("k:"), col("digest")))
          .otherwise(concat_ws(":", lit("r"), col("digest"),
            col("doc_id").cast("string"))))
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("__dedup_key")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.cache()
        try sinks(b, batchId) finally { b.unpersist(); () }
      }
      .start()

  /** [[gateVerdicts]] on the Bloom MEMBERSHIP tier — the gate for the
    * ingest whose eval suite outgrows the exact map's broadcast
    * ([[graft.operators.ContaminationGuard.bloomIndex]]: megabytes
    * however large the suite, ext130's funnel at the door): same quality
    * rules and rule order, but the contamination probe is the
    * first-qualifying-run Bloom gate — `minRun` consecutive
    * might-contain windows reject the doc as "contaminated_maybe" with
    * the run's start as `match_pos`. The verdict is honest about its
    * tier: attribution-free and false-positive-able at ~fpp^minRun per
    * position, so suspects land in the rejects table for the batch
    * graduation (one exact [[graft.operators.ContaminationGuard.flag]]
    * over the bounded rejects — never the corpus) instead of claiming a
    * confirmed leak. Quality verdicts guard the probe in-UDF like the
    * exact gate's. */
  def gateVerdictsBloom(
      docs: DataFrame,
      watchlist: graft.operators.ContaminationGuard.BloomIndex,
      minRun: Int = 3): DataFrame =
    graft.operators.ContaminationGuard.withBloomHit(
      scored(docs),
      "text", watchlist, minRun, outCol = "__hit",
      guard = col("__q_reason").isNull)
      .withColumn("reject_reason",
        coalesce(col("__q_reason"),
          when(col("__hit").isNotNull, "contaminated_maybe")))
      .withColumn("match_pos", col("__hit"))
      .drop("__q_reason", "__hit")

  /** [[writeAudited]] with the Bloom gate ([[gateVerdictsBloom]]) — the
    * firehose-scale decontaminating ingest: passers land, quality
    * rejects carry their rule, and "contaminated_maybe" suspects carry
    * the qualifying run's start position, awaiting the batch graduation
    * over `<table>_rejects`. Same [[writeRouted]] skeleton (one plan
    * branch, k:/r: keys, watermark policy); the watchlist is fixed per
    * query run like [[writeAudited]]'s. */
  def writeAuditedBloom(
      docs: DataFrame, table: String, checkpoint: String,
      watchlist: graft.operators.ContaminationGuard.BloomIndex,
      watermarkDelay: String = "10 minutes",
      minRun: Int = 3,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    writeRouted(gateVerdictsBloom(docs, watchlist, minRun),
      checkpoint, watermarkDelay, trigger)(
      auditedSinks(table, evidenceCols = Seq("match_pos"),
        compactLandedEvery = 0, checkpoint))

  /** The batch GRADUATION [[writeAuditedBloom]]'s suspects await — and
    * the RE-ADMISSION path a false-positive-able gate owes its corpus:
    * the Bloom filter is bit-deterministic, so a cleared suspect re-fed
    * through the same gate rejects again FOREVER; without this step
    * every false positive is silent permanent loss (≈ the fpp^minRun
    * per-position rate, over every long clean doc in the firehose).
    * Reads `<table>_rejects`' "contaminated_maybe" rows, runs the EXACT
    * tier over that bounded set (never the corpus; verdicts
    * checkpointed before the landing table is touched), and APPENDS the
    * cleared suspects to the landing table — content-deduped within the
    * batch and against already-landed digests, so a suspect rejected
    * under two doc_ids lands once and a re-run is a no-op. The rejects
    * table keeps its rows (it is the audit trail, not a queue) —
    * instead, processed suspects are recorded in `<table>_graduated`
    * (doc_id, digest) and anti-joined away up front, so each
    * maintenance run pays the exact scan only for suspects NEW since
    * the last run, not for the all-time rejects trail (which only
    * grows). A crash between landing and the marker write re-processes
    * that run's suspects next time: the exact scan is idempotent, the
    * landed-digest anti-join stops duplicate landings, and confirmed
    * rows re-report — confirmed reporting is at-least-once across
    * crashes, exactly-once otherwise. The CONFIRMED suspects' full
    * attribution — [[graft.operators.ContaminationGuard.flag]]'s exact
    * columns — is the return value. Run in the ingest's maintenance
    * window (it reads what the stream writes). */
  def graduateBloomRejects(spark: SparkSession, table: String,
      bench: DataFrame, textCol: String, idCol: String): DataFrame = {
    val graduatedPath = s"${table}_graduated"
    val allSuspects = spark.read.parquet(s"${table}_rejects")
      .filter(col("reject_reason") === "contaminated_maybe")
    val unmarked =
      scala.util.Try(
        spark.read.parquet(graduatedPath).select("doc_id", "digest")) match {
        case scala.util.Success(done) =>
          // NO broadcast hint on the marker side (r11 verdict/advice):
          // `_graduated` grows for the life of the ingest — one row per
          // all-time suspect — so pinning it to a broadcast is a
          // driver-memory trajectory at firehose scale. AQE broadcasts it
          // while it is small and shuffles once it isn't; the growth
          // itself is bounded by [[compactGraduated]].
          allSuspects.join(done, Seq("doc_id", "digest"), "left_anti")
        case scala.util.Failure(_) => allSuspects // first run
      }
    // ONE materialized snapshot (r11 advice): the exact scan, the
    // cleared anti-join and the marker write all derive from THIS
    // frame — without it each consumer re-reads the rejects parquet and
    // the "marked == scanned" invariant rests implicitly on the
    // relation's one-time file-listing snapshot (three traversals of a
    // growing table, provably-same-set by luck of the listing).
    val suspects = unmarked.localCheckpoint(true)
    val confirmed = graft.operators.ContaminationGuard.flag(
      suspects, "text", "doc_id",
      graft.operators.ContaminationGuard.benchmarkIndex(
        bench, textCol, idCol))
      .localCheckpoint(true)
    val cleared = suspects
      .join(broadcast(confirmed.select("doc_id").distinct()),
        Seq("doc_id"), "left_anti")
      .dropDuplicates("digest")
    // Try, not fs.exists: an all-rejected stream leaves the landing dir
    // holding only _SUCCESS (empty partitionBy writes produce no data
    // files), which exists but has no inferable schema
    val toLand =
      scala.util.Try(spark.read.parquet(table).select("digest")) match {
        case scala.util.Success(landedDigests) =>
          cleared.join(landedDigests, Seq("digest"), "left_anti")
        case scala.util.Failure(_) => cleared // nothing landed yet
      }
    toLand
      .select(col("doc_id"), col("text"), col("source"), col("ingest_ts"),
        col("n_tokens"), col("distinct_ratio"), col("digest"))
      .write.mode("append").partitionBy("source").parquet(table)
    // marker LAST (scaladoc's crash contract): suspects processed this
    // run — confirmed and cleared alike — never pay the exact scan again
    suspects.select(col("doc_id"), col("digest")).distinct()
      .write.mode("append").parquet(graduatedPath)
    confirmed
  }

  /** Bound the `<table>_graduated` marker table's growth — the price of
    * "never pay the exact scan twice" is one marker row per all-time
    * suspect, and nothing else ever deletes one. A marker's only job is
    * to anti-join its suspect row away in [[graduateBloomRejects]], so
    * once the retention policy ([[graft.operators.Retention]]) removes a
    * suspect from `<table>_rejects` (the audit trail the markers
    * mirror), its marker is dead weight: this keeps exactly the markers
    * whose (doc_id, digest) still exists among the rejects'
    * "contaminated_maybe" rows — a semi-join over
    * [[graft.operators.TableCompaction.rewrite]], so a crash heals
    * forward on the next call and never loses a marker. A rejects table
    * that retention removed ENTIRELY is decided structurally
    * ([[graft.util.CommittedTable.hasData]]): every marker then mirrors
    * nothing and the rewrite keeps none, while a genuine read failure on
    * a healthy table propagates. Run after each rejects-retention pass,
    * in the same single-writer maintenance window as the graduation.
    * No-op when no marker table exists. */
  def compactGraduated(spark: SparkSession, table: String): Unit = {
    val rejects = s"${table}_rejects"
    val haveRejects = graft.util.CommittedTable.hasData(spark, rejects)
    graft.operators.TableCompaction.rewrite(spark, s"${table}_graduated") {
      done =>
        if (!haveRejects) done.limit(0)
        else done.join(
          spark.read.parquet(rejects)
            .filter(col("reject_reason") === "contaminated_maybe")
            .select("doc_id", "digest"),
          Seq("doc_id", "digest"), "left_semi").distinct()
    }: Unit
  }

  /** The EXCISE-policy gate verdicts — [[gateVerdicts]]'s reject-on-hit
    * contamination posture replaced by ext128's argument applied at the
    * door: cutting the leaked span beats dropping the document, which
    * loses its clean majority. Per doc, in rule order:
    *
    *  1. the quality gate runs on the ORIGINAL text — an already-junk doc
    *     rejects without paying the hashing scan (the scan's `guard`);
    *  2. quality passers get the island cut list from ONE map-side
    *     broadcast-probe pass ([[graft.operators.ContaminationGuard
    *     .withCuts]] — the same scan [[gateVerdicts]]'s first-hit probe
    *     runs, continued to the full island story since the cuts need it
    *     anyway) and `text` becomes the REBUILT text (the shared no-UDF
    *     aggregate/substring fold); clean docs keep their bytes;
    *  3. excised docs are re-gated on the CLEANED text — a doc that was
    *     mostly eval leak cuts down to a stub and rejects with the
    *     quality rule the stub fails ("empty" when nothing remains),
    *     carrying `removed_chars` as the why.
    *
    * `digest`, `n_tokens` and `distinct_ratio` are of the text that would
    * LAND (the cleaned text), so the downstream digest dedup unifies a
    * leaked doc with a clean copy of its unique remainder — the landed
    * corpus carries one copy of the surviving content, however it
    * arrived. Output adds (n_spans, removed_chars, bench_ids) — (0, 0,
    * null) for clean docs — to [[gateVerdicts]]'s columns: `bench_ids`
    * is the sorted distinct benchmarks the doc leaked ([[gateVerdicts]]'s
    * first-hit evidence widened to full attribution, since the original
    * text is gone once the cleaned text replaces it — explode it into
    * the (doc_id, bench_id) pairs [[graft.operators.ContaminationGuard
    * .refineFlags]] takes to re-derive exact extents from the SOURCE
    * delivery when a reviewer needs them). All map-side; identical on a
    * stream and a batch frame.
    */
  def gateVerdictsExcising(
      docs: DataFrame,
      watchlist: graft.operators.ContaminationGuard.BenchIndex): DataFrame = {
    val qual = (c: org.apache.spark.sql.Column) =>
      TextFunctions.qualityReason(c, MinTokens, MinDistinctRatio)
    val feats = TextFunctions.qualityFeatures(col("text")).toMap
    val Seq(nSpans, removedChars) =
      graft.operators.ContaminationGuard.spanStats(col("cuts"))
    graft.operators.ContaminationGuard.withCuts(
      docs.withColumn("__q_orig", qual(col("text"))),
      "text", watchlist, guard = col("__q_orig").isNull)
      .withColumn("n_spans", nSpans)
      .withColumn("removed_chars", removedChars)
      // the attribution that must survive the excision (the original
      // text will not): which benchmarks this doc leaked
      .withColumn("bench_ids",
        when(col("cuts").isNotNull,
          sort_array(array_distinct(flatten(col("cuts.benches"))))))
      .withColumn("text",
        when(col("cuts").isNull, col("text"))
          .otherwise(graft.operators.SubstringDedup.rebuildCleaned))
      .withColumn("n_tokens", feats("n_tokens"))
      .withColumn("distinct_ratio", feats("distinct_ratio"))
      .withColumn("digest", md5(col("text")))
      .withColumn("reject_reason",
        coalesce(col("__q_orig"),
          when(col("n_spans") > 0, qual(col("text")))))
      .drop("cuts", "__q_orig")
  }

  /** [[writeAudited]] under the EXCISE contamination policy
    * ([[gateVerdictsExcising]]): leaked spans are cut at the door and the
    * CLEANED text lands, instead of the whole doc rejecting. Three sinks
    * off ONE plan branch and one cached micro-batch (the r10/r11
    * single-branch discipline — the fenced hashing probe runs exactly
    * once per arriving doc, spec-pinned): the landing table (same schema
    * as [[writeAudited]]'s — excision bookkeeping stays out of the
    * corpus), `<table>_excisions` with (doc_id, source, ingest_ts,
    * n_spans, removed_chars, bench_ids, digest) for every landed doc
    * that was cut — the remediation audit a compliance pipeline owes
    * (which docs were touched, how much, WHICH benchmarks leaked, and
    * the digest of what landed), and `<table>_rejects` with the quality
    * rule plus (n_spans, removed_chars, bench_ids) so an excised-to-junk
    * doc shows why it became junk and what leaked into it.
    * Dedup is on the CLEANED digest under the same "k:"/"r:" key scheme
    * and watermark policy as [[writeAudited]] (a redelivered leaked doc
    * dedups against its first landing; so does a clean copy of its
    * unique remainder), and the watchlist is fixed per query run like
    * [[writeAudited]]'s (restart to pick up a new eval suite). */
  def writeAuditedExcising(
      docs: DataFrame, table: String, checkpoint: String,
      watchlist: graft.operators.ContaminationGuard.BenchIndex,
      watermarkDelay: String = "10 minutes",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val sharedSinks = auditedSinks(table,
      evidenceCols = Seq("n_spans", "removed_chars", "bench_ids"),
      compactLandedEvery = 0, checkpoint)
    writeRouted(gateVerdictsExcising(docs, watchlist),
      checkpoint, watermarkDelay, trigger) { (b, batchId) =>
      sharedSinks(b, batchId)
      // the third sink this posture owes: WHICH landed docs were cut.
      // Order vs the shared pair is crash-neutral (a mid-batch crash
      // replays the WHOLE batch, duplicating whichever sinks had
      // landed), and the cadence fold touches only `table`, never this
      // sibling dir
      b.filter(col("reject_reason").isNull && col("n_spans") > 0)
        .select(col("doc_id"), col("source"), col("ingest_ts"),
          col("n_spans"), col("removed_chars"), col("bench_ids"),
          col("digest"))
        .write.mode("append").parquet(s"${table}_excisions")
    }
  }

  /** End-to-end convenience over a JSONL directory. The default
    * `AvailableNow` trigger DRAINS the currently-present files and stops
    * (the batch-ingest shape the specs and bench use); pass a processing-
    * time trigger to actually watch the directory continuously.
    */
  def runStream(
      spark: SparkSession, inDir: String, table: String, checkpoint: String,
      watermarkDelay: String = "10 minutes",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val lines = spark.readStream.schema("value STRING").text(inDir)
    writeCorpus(prepare(parse(lines), watermarkDelay), table, checkpoint,
      trigger)
  }
}
