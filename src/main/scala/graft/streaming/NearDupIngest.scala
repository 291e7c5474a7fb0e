package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextFunctions

/** Streaming NEAR-duplicate suppression — the MinHash-LSH counterpart of
  * [[CorpusIngest]]'s exact digest dedup: an arriving document is dropped
  * when its estimated Jaccard against ANY document seen within the
  * watermark horizon reaches `threshold`, so lightly-edited redeliveries
  * (the case a content digest cannot catch) stay out of the landing table.
  *
  * Shape: the signature and its band keys are computed MAP-SIDE (the same
  * [[graft.functions.TextFunctions.minHashFromText]]/`lshBands` arithmetic
  * as the batch [[graft.operators.Dedup.minHashLsh]], so batch and stream
  * agree on what "near-duplicate" means), then ONE stateful operator keyed
  * by (band, bucket) holds the signatures seen in that bucket. Per-bucket
  * state is bounded twice: the watermark evicts entries older than the
  * replay horizon, and `maxPerBucket` caps pathological boilerplate
  * buckets (oldest-out; a documented recall trade, not a crash). A doc's
  * verdict rows all emit in its OWN micro-batch (its band rows travel in
  * the same batch), so the per-doc any-band rollup is plain batch work in
  * the sink — no second stateful operator, which Append mode would refuse
  * anyway.
  *
  * Full-history near-dedup stays the batch job
  * ([[graft.operators.Dedup.minHashLsh]]); this is the at-ingest guard,
  * same division of labor as [[CorpusIngest]].
  */
object NearDupIngest {

  /** One band row: key fields, the full signature for estimation, and the
    * payload (text carried ONCE, on band 0 — the other band rows stay
    * skinny so the explode does not multiply the document body).
    */
  final case class BandRow(
      band: Int, key: Long, docId: Long, source: String,
      // stays a TIMESTAMP: the watermark tag lives on this attribute, and
      // event-time timeout requires the watermarked column to reach the
      // stateful operator (a unix_millis projection would strip the tag)
      ts: java.sql.Timestamp,
      sig: Seq[Long], text: String)

  final case class BucketEntry(tsMillis: Long, docId: Long, sig: Seq[Long])
  final case class BucketState(entries: Seq[BucketEntry])

  /** Per-(doc, band) verdict: the strongest match this band's bucket held.
    * `est` is matching-perms / perms against the closest stored signature
    * (0.0 when the bucket was empty); text non-null only on band 0.
    * `reason` is null on every dedup-path row; quality-gated docs
    * ([[writeNearDeduped]]'s gate branch — rows that never reach the
    * state store) carry their failing rule here with band −1. */
  final case class BandVerdict(
      doc_id: Long, source: String, ts_millis: Long, band: Int,
      est: Double, matched_doc: Long, text: String,
      reason: String = null)

  /** Explode parsed docs ([[CorpusIngest.parse]] schema) into watermarked
    * band rows. `perms`/`bands`/`shingleN` default to the batch LSH dials.
    */
  def bandRows(
      docs: DataFrame, watermarkDelay: String,
      shingleN: Int = 3, perms: Int = 64, bands: Int = 16): Dataset[BandRow] = {
    require(bands > 0 && bands <= perms && perms % bands == 0,
      s"bands must divide perms (got perms=$perms bands=$bands)")
    val spark = docs.sparkSession
    import spark.implicits._
    val withSig = docs
      .withColumn("sig", TextFunctions.minHashFromText(col("text"), shingleN, perms))
      .filter(col("sig").isNotNull) // null/short text: nothing to band
      .withWatermark("ingest_ts", watermarkDelay)
      .select(col("doc_id"), col("source"), col("ingest_ts"), col("sig"),
        explode(TextFunctions.lshBands(col("sig"), bands, perms / bands)).as("bk"),
        col("text"))
    withSig.select(
      col("bk.band").as("band"), col("bk.key").as("key"),
      col("doc_id").as("docId"), col("source"),
      col("ingest_ts").as("ts"),
      col("sig"),
      when(col("bk.band") === 0, col("text")).as("text"))
      .as[BandRow]
  }

  private def agreement(a: Seq[Long], b: Seq[Long]): Double = {
    var n = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) n += 1; i += 1 }
    n.toDouble / a.length
  }

  /** The keyed state transition. Values are processed in (ts, docId) order
    * so same-batch near-dups resolve deterministically (earliest survives,
    * like the batch min-id survivor convention).
    */
  private[streaming] def processBucket(ttlMillis: Long, maxPerBucket: Int)(
      key: (Int, Long),
      rows: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[BandVerdict] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val horizon = state.getCurrentWatermarkMs() - ttlMillis
      val prior = state.getOption.map(_.entries).getOrElse(Seq.empty)
        .filter(_.tsMillis >= horizon)
      var added = Seq.empty[BucketEntry]
      val out = Seq.newBuilder[BandVerdict]
      rows.toSeq.sortBy(r => (r.ts.getTime, r.docId)).foreach { r =>
        val tsMillis = r.ts.getTime
        var best = 0.0
        var bestDoc = -1L
        def scan(e: BucketEntry): Unit = {
          val a = agreement(r.sig, e.sig)
          if (a > best || (a == best && bestDoc == -1L)) { best = a; bestDoc = e.docId }
        }
        // the self-match skip is BATCH-LOCAL (see PerceptualIngest
        // .processBucket): a same-batch same-id redelivery must not reject
        // itself through its shared rollup group, but a same-id entry
        // CARRIED IN STATE means the doc already landed in a prior batch —
        // that later-batch retry is exactly what the suppressor drops
        prior.foreach(scan)
        added.foreach { e => if (e.docId != r.docId) scan(e) }
        out += BandVerdict(r.docId, r.source, tsMillis, r.band,
          math.rint(best * 1e6) / 1e6, bestDoc, r.text)
        added = added :+ BucketEntry(tsMillis, r.docId, r.sig)
      }
      val entries = (prior ++ added)
        .sortBy(e => (e.tsMillis, e.docId)).takeRight(maxPerBucket)
      if (entries.isEmpty) state.remove()
      else {
        state.update(BucketState(entries))
        // evict the whole bucket once every entry has aged out of the
        // horizon (strictly beyond the current watermark, per the contract)
        state.setTimeoutTimestamp(math.max(
          entries.map(_.tsMillis).max + ttlMillis,
          state.getCurrentWatermarkMs() + 1))
      }
      out.result().iterator
    }
  }

  /** Band rows → per-(doc, band) verdicts through the keyed state store. */
  def verdicts(
      rows: Dataset[BandRow], ttlMillis: Long,
      maxPerBucket: Int = 256): Dataset[BandVerdict] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[BucketState, BandVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        processBucket(ttlMillis, maxPerBucket))(
        Encoders.product[BucketState], Encoders.product[BandVerdict])
  }

  /** Per-doc rollup of one micro-batch's verdicts (plain batch work — see
    * the object doc for why all of a doc's band rows share its batch):
    * keep iff the strongest band estimate stays under `threshold`. Output:
    * (doc_id, source, ingest_ts, text, max_est, matched_doc, keep).
    */
  def rollup(batch: DataFrame, threshold: Double): DataFrame =
    batch.groupBy(col("doc_id"))
      .agg(
        first(col("source")).as("source"),
        timestamp_millis(first(col("ts_millis"))).as("ingest_ts"),
        first(col("text"), ignoreNulls = true).as("text"),
        max(col("est")).as("max_est"),
        // tie-break the evidence doc deterministically (two bands can
        // report the same estimate against different stored docs)
        max_by(col("matched_doc"), struct(col("est"), col("matched_doc")))
          .as("matched_doc"),
        first(col("reason"), ignoreNulls = true).as("quality_reason"))
      .withColumn("keep",
        col("quality_reason").isNull && col("max_est") < threshold)
      .withColumn("reason", coalesce(col("quality_reason"),
        when(!col("keep"), lit("near_duplicate"))))
      .drop("quality_reason")

  /** End-to-end: parsed docs → near-deduped landing table (kept docs) via
    * foreachBatch rollup, `threshold` estimated-Jaccard suppression within
    * `watermarkDelay`. The dropped docs are not silently discarded — they
    * land in `<table>_rejects` with their match evidence (`reason` = the
    * quality rule or "near_duplicate"), the audit trail a dedup gate owes
    * its operators.
    *
    * `qualityGate` (the text sibling of the perceptual adapters' gate):
    * [[TextFunctions.qualityReason]] — empty / too-few-tokens /
    * repetitive, the ext100 funnel gate's exact distinct_ratio
    * arithmetic, pure built-in expressions — evaluated BEFORE banding.
    * Failing docs never reach the state store (no bucket slot, no band
    * fan-out, cannot suppress later arrivals) and land in rejects with
    * their rule as the reason.
    */
  def writeNearDeduped(
      docs: DataFrame, table: String, checkpoint: String,
      threshold: Double = 0.9, watermarkDelay: String = "10 minutes",
      shingleN: Int = 3, perms: Int = 64, bands: Int = 16,
      maxPerBucket: Int = 256,
      qualityGate: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    val ttlMillis = PerceptualIngest.ttlMillisOf(watermarkDelay)
    val spark = docs.sparkSession
    import spark.implicits._
    val (pass, qualityRejects) =
      if (!qualityGate) (docs, None)
      else {
        val tagged = docs.withColumn("__q_reason",
          TextFunctions.qualityReason(col("text")))
        val fails = tagged.filter(col("__q_reason").isNotNull)
          .select(col("doc_id"), col("source"),
            unix_millis(col("ingest_ts")).as("ts_millis"),
            lit(-1).as("band"), lit(0.0).as("est"),
            lit(-1L).as("matched_doc"), col("text"),
            col("__q_reason").as("reason"))
          .as[BandVerdict]
        (tagged.filter(col("__q_reason").isNull).drop("__q_reason"),
          Some(fails))
      }
    val deduped = verdicts(
      bandRows(pass, watermarkDelay, shingleN, perms, bands),
      ttlMillis, maxPerBucket)
    qualityRejects.fold(deduped)(deduped.union(_))
      .toDF()
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val r = rollup(batch, threshold).cache()
        try {
          r.filter(col("keep")).drop("keep", "reason")
            .repartition(col("source"))
            .write.mode("append").partitionBy("source").parquet(table)
          r.filter(!col("keep")).drop("keep")
            .write.mode("append").parquet(s"${table}_rejects")
        } finally { r.unpersist(); () }
      }
      .start()
  }
}
