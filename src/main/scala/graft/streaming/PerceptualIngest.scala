package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.ImageDedup

/** The MODALITY-GENERIC streaming perceptual near-duplicate suppressor —
  * the Hamming-banded core of [[ImageIngest]] factored over any
  * (id, 64-bit perceptual hash, binary payload): an arriving item is
  * dropped when its fingerprint sits within Hamming `maxDist` of ANY item
  * seen inside the watermark horizon. [[ImageIngest]] (mirror-canonical
  * DCT pHash) and [[AudioIngest]] (spectral Goertzel fingerprint) are thin
  * adapters over this object; [[VideoIngest]] rides the same core at FRAME
  * granularity with a packed composite id and a clip-level alignment vote
  * in its sink.
  *
  * Batch/stream agreement: the caller supplies the SAME fingerprint column
  * used by its batch pair join, and the bucket keys are
  * [[ImageDedup.bandSlices]] — the exact arithmetic of the batch side, so
  * both agree on what "near-duplicate" means and which band bucket a hash
  * lands in (pigeonhole recall at the threshold holds per bucket exactly
  * as in batch). One stateful operator keyed by (band, slice value);
  * per-bucket state is watermark-evicted AND capped (`maxPerBucket`,
  * oldest-out — the documented recall trade). An item's verdict rows all
  * travel in its own micro-batch, so the per-item any-band rollup is plain
  * batch work in the sink, exactly the [[NearDupIngest]] division of labor.
  */
object PerceptualIngest {

  /** Interval string ("10 minutes") → millis (day-time intervals only —
    * month units have no fixed millis): every adapter's watermark-delay
    * state TTL and [[StreamOps.cameraOfflineAlerts]]' silence. */
  private[streaming] def ttlMillisOf(interval: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(interval))
    require(iv.months == 0, s"interval '$interval' must not use month units")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Band index reserved for quality-gate failures: a gated-out item
    * travels as ONE row with this band (key = its own id, so the group
    * is singleton) through the same stateful operator as the dedup rows
    * — [[processBucket]] passes it through WITHOUT touching state. This
    * keeps the gated pipeline a SINGLE branch off the gate projection:
    * with two branches (stateless fails ∪ stateful passes) Spark
    * re-evaluates the nondeterministic gate UDF per branch and every
    * payload decodes twice per micro-batch (r10 ADVICE). */
  val QualityBand = -1

  /** One band row; the binary payload rides ONCE (band 0, or the single
    * [[QualityBand]] row of a gated-out item) so the explode does not
    * multiply the blob. `reason` is null on every dedup-path row. */
  final case class BandRow(
      band: Int, key: Long, itemId: Long, source: String,
      ts: java.sql.Timestamp, phash: Long, payload: Array[Byte],
      reason: String = null)

  final case class Entry(tsMillis: Long, itemId: Long, phash: Long)
  final case class BucketState(entries: Seq[Entry])

  /** Output shape of a combined gate+fingerprint UDF ([[writeDeduped]]'s
    * `gateFingerprint`): the failing rule (null = pass) and, for passing
    * items only, the dedup fingerprint — both from one decode. */
  final case class GateResult(reason: String, phash: Option[Long])

  /** Per-(item, band) verdict: the closest hash this band's bucket held —
    * `dist` 64 (sentinel, farther than any threshold) when the bucket was
    * empty; payload non-null only on band 0. `reason` is null on every
    * dedup-path row; quality-gated items ([[writeDeduped]]'s
    * `gateFingerprint` branch — rows that never reach the state store)
    * carry their failing rule here with band −1. */
  final case class BandVerdict(
      item_id: Long, source: String, ts_millis: Long, band: Int,
      dist: Long, matched_item: Long, payload: Array[Byte],
      reason: String = null,
      // the item's own fingerprint, carried so the sink can write landed
      // hashes back to a FingerprintStore without a second decode (0 on
      // quality rows, which are never landed)
      phash: Long = 0L)

  /** Explode (`idCol`, source, ingest_ts, `payloadCol`) into watermarked
    * band rows under `fingerprint` (NULL-hashing rows — undecodable blobs —
    * are dropped map-side: they can duplicate nothing).
    */
  def bandRows(items: DataFrame, fingerprint: Column => Column,
      idCol: String, payloadCol: String, watermarkDelay: String,
      maxDist: Int = 3): Dataset[BandRow] =
    bandRowsFromHashed(
      items.withColumn("phash", fingerprint(col(payloadCol))),
      idCol, payloadCol, watermarkDelay, maxDist)

  /** [[bandRows]] over items that ALREADY carry their `phash` column —
    * the gated path computes reason and hash in one fenced UDF and feeds
    * the hash here, so a passing item decodes exactly once. */
  def bandRowsFromHashed(items: DataFrame,
      idCol: String, payloadCol: String, watermarkDelay: String,
      maxDist: Int = 3): Dataset[BandRow] = {
    val spark = items.sparkSession
    import spark.implicits._
    items
      .filter(col("phash").isNotNull)
      .withWatermark("ingest_ts", watermarkDelay)
      .select(col(idCol), col("source"), col("ingest_ts"), col("phash"),
        explode(ImageDedup.bandSlices(col("phash"), maxDist)).as("s"),
        col(payloadCol))
      .select(col("s.b").as("band"), col("s.v").as("key"),
        col(idCol).as("itemId"), col("source"),
        col("ingest_ts").as("ts"), col("phash"),
        when(col("s.b") === 0, col(payloadCol)).as("payload"),
        lit(null).cast("string").as("reason"))
      .as[BandRow]
  }

  /** The GATED banding projection — gate verdict, fingerprint and band
    * fan-out all derive from ONE evaluation of `gateOf` per row (the
    * fenced combined gate+fingerprint UDF): passing items explode into
    * their dedup band rows exactly like [[bandRows]]; failing items emit
    * a single [[QualityBand]] row carrying the failing rule, which
    * [[processBucket]] passes through statelessly. One branch, one
    * decode — the r10 two-branch union evaluated the UDF once PER
    * branch, doubling every decode. Consequence of the single branch:
    * gate failures share the suppressor's lateness policy (a row older
    * than the watermark is dropped whether it would pass or fail the
    * gate), which is the consistent contract anyway. */
  def gatedBandRows(items: DataFrame, gateOf: Column => Column,
      idCol: String, payloadCol: String, watermarkDelay: String,
      maxDist: Int = 3): Dataset[BandRow] = {
    val spark = items.sparkSession
    import spark.implicits._
    items
      .withColumn("__g", gateOf(col(payloadCol)))
      .withWatermark("ingest_ts", watermarkDelay)
      .select(col(idCol), col("source"), col("ingest_ts"),
        col("__g.reason").as("reason"), col("__g.phash").as("phash"),
        col(payloadCol))
      // gate contract: pass → phash, fail → reason; neither = undecodable
      // with no rule, droppable like bandRows' null-hash rows
      .filter(col("reason").isNotNull || col("phash").isNotNull)
      .select(col(idCol), col("source"), col("ingest_ts"), col("reason"),
        col("phash"),
        explode(when(col("reason").isNull,
            ImageDedup.bandSlices(col("phash"), maxDist))
          .otherwise(array(struct(lit(QualityBand).as("b"),
            col(idCol).cast("long").as("v"))))).as("s"),
        col(payloadCol))
      .select(col("s.b").as("band"), col("s.v").as("key"),
        col(idCol).as("itemId"), col("source"),
        col("ingest_ts").as("ts"),
        coalesce(col("phash"), lit(0L)).as("phash"),
        when(col("s.b") === 0 || col("s.b") === QualityBand,
          col(payloadCol)).as("payload"),
        col("reason"))
      .as[BandRow]
  }

  /** The keyed state transition — rows in (ts, itemId) order so same-batch
    * duplicates resolve deterministically (earliest survives). The
    * same-group skip is BATCH-LOCAL: entries added by THIS micro-batch are
    * skipped when they share the row's group (a same-batch identical-id
    * redelivery must not reject itself through its shared rollup group —
    * r8 ADVICE — and [[VideoIngest]]'s sibling frames must not shadow a
    * true cross-video match), but entries CARRIED IN STATE from earlier
    * batches match regardless of group — a same-group state hit means the
    * item already LANDED in a prior batch, which is exactly the
    * redelivery a suppressor exists to drop (without this, a later-batch
    * retry of an already-landed item would land a second time).
    * `sameGroup` defaults to plain id equality; adapters whose items are
    * fragments of a larger unit pass their grouping. */
  private[streaming] def processBucket(ttlMillis: Long, maxPerBucket: Int,
      sameGroup: (Long, Long) => Boolean = _ == _)(
      key: (Int, Long),
      rows: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[BandVerdict] = {
    if (key._1 == QualityBand) {
      // gated-out items: stateless pass-through — no bucket slot, no
      // timeout registration, cannot suppress later arrivals
      rows.map(r => BandVerdict(r.itemId, r.source, r.ts.getTime,
        QualityBand, 64L, -1L, r.payload, r.reason))
    } else if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val horizon = state.getCurrentWatermarkMs() - ttlMillis
      val prior = state.getOption.map(_.entries).getOrElse(Seq.empty)
        .filter(_.tsMillis >= horizon)
      var added = Seq.empty[Entry]
      val out = Seq.newBuilder[BandVerdict]
      rows.toSeq.sortBy(r => (r.ts.getTime, r.itemId)).foreach { r =>
        val tsMillis = r.ts.getTime
        var best = 64L
        var bestItem = -1L
        def scan(e: Entry): Unit = {
          val d = java.lang.Long.bitCount(r.phash ^ e.phash).toLong
          if (d < best) { best = d; bestItem = e.itemId }
        }
        prior.foreach(scan) // prior landings match even within the group
        added.foreach { e => if (!sameGroup(e.itemId, r.itemId)) scan(e) }
        out += BandVerdict(r.itemId, r.source, tsMillis, r.band,
          best, bestItem, r.payload, phash = r.phash)
        added = added :+ Entry(tsMillis, r.itemId, r.phash)
      }
      val entries = (prior ++ added)
        .sortBy(e => (e.tsMillis, e.itemId)).takeRight(maxPerBucket)
      if (entries.isEmpty) state.remove()
      else {
        state.update(BucketState(entries))
        state.setTimeoutTimestamp(math.max(
          entries.map(_.tsMillis).max + ttlMillis,
          state.getCurrentWatermarkMs() + 1))
      }
      out.result().iterator
    }
  }

  /** INITIAL bucket state from a persisted fingerprint table (id, phash)
    * — the batch→stream handoff: a restarted ingest stream bootstrapped
    * from [[graft.operators.FingerprintStore]]'s table rejects
    * near-duplicates of the EXISTING corpus from its very first
    * micro-batch, instead of starting blind and re-admitting items the
    * batch path already holds. Bootstrapped entries carry
    * `bootstrapTsMillis` (typically the stream's start time) and age out
    * of each bucket exactly like arrived items — the suppressor remains a
    * HORIZON guard; permanence stays with the batch probe (ext108/121).
    * Buckets are capped to `maxPerBucket` up front, so resident initial
    * state is bounded by the store slice and never grows on its own.
    * Banding is [[ImageDedup.bandSlices]] — the same arithmetic as the
    * live rows, so bootstrapped and arriving hashes meet in the same
    * buckets.
    */
  def bootstrapState(hashes: DataFrame, bootstrapTsMillis: Long,
      maxDist: Int = 3, maxPerBucket: Int = 256)
      : KeyValueGroupedDataset[(Int, Long), BucketState] = {
    val spark = hashes.sparkSession
    import spark.implicits._
    hashes
      .select(col("id").cast("long").as("id"), col("phash"),
        explode(ImageDedup.bandSlices(col("phash"), maxDist)).as("s"))
      .select(col("s.b").as("band"), col("s.v").as("key"), col("id"),
        col("phash"))
      .as[(Int, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (k, it) =>
        val entries = it
          .map(r => Entry(bootstrapTsMillis, r._3, r._4)).toSeq
          .sortBy(e => (e.tsMillis, e.itemId)).takeRight(maxPerBucket)
        (k, BucketState(entries))
      }
      .groupByKey(_._1)
      .mapValues(_._2)
  }

  /** Band rows → per-(item, band) verdicts through the keyed state store;
    * `initial` optionally warm-starts the store ([[bootstrapState]]). */
  def verdicts(rows: Dataset[BandRow], ttlMillis: Long,
      maxPerBucket: Int = 256,
      sameGroup: (Long, Long) => Boolean = _ == _,
      initial: Option[KeyValueGroupedDataset[(Int, Long), BucketState]] = None)
      : Dataset[BandVerdict] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val grouped = rows.groupByKey(r => (r.band, r.key))
    initial match {
      case Some(init) =>
        grouped.flatMapGroupsWithState[BucketState, BandVerdict](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout(), init)(
          processBucket(ttlMillis, maxPerBucket, sameGroup))(
          Encoders.product[BucketState], Encoders.product[BandVerdict])
      case None =>
        grouped.flatMapGroupsWithState[BucketState, BandVerdict](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
          processBucket(ttlMillis, maxPerBucket, sameGroup))(
          Encoders.product[BucketState], Encoders.product[BandVerdict])
    }
  }

  /** Per-item rollup of one micro-batch's verdicts: keep iff the item
    * passed the quality gate (if any) AND the CLOSEST match across all
    * bands stays beyond `maxDist`. Output: (item_id, source, ingest_ts,
    * payload, min_dist, matched_item, phash, keep, reason) — reason is
    * the quality rule for gated items, "near_duplicate" for dedup drops,
    * NULL for kept rows (a group is either all dedup-path rows or one
    * quality row, never mixed: gated items skip banding entirely);
    * phash feeds the store write-back and is dropped before the landing
    * tables. */
  def rollup(batch: DataFrame, maxDist: Int): DataFrame =
    batch.groupBy(col("item_id"))
      .agg(
        first(col("source")).as("source"),
        timestamp_millis(first(col("ts_millis"))).as("ingest_ts"),
        first(col("payload"), ignoreNulls = true).as("payload"),
        min(col("dist")).as("min_dist"),
        first(col("phash")).as("phash"),
        // tie-break the evidence item deterministically
        min_by(col("matched_item"), struct(col("dist"), col("matched_item")))
          .as("matched_item"),
        first(col("reason"), ignoreNulls = true).as("quality_reason"))
      .withColumn("keep",
        col("quality_reason").isNull && col("min_dist") > maxDist)
      .withColumn("reason", coalesce(col("quality_reason"),
        when(!col("keep"), lit("near_duplicate"))))
      .drop("quality_reason")

  /** End-to-end: (`idCol`, source, ingest_ts, `payloadCol`) stream →
    * near-deduped landing table (kept items, partitioned by source) +
    * `<table>_rejects` with match evidence (`reason` = the quality rule
    * or "near_duplicate"). `rename` maps the neutral output columns back
    * to the adapter's modality vocabulary (e.g. item_id → img_id) so
    * each modality's tables keep their natural schema.
    *
    * `gateFingerprint` (r9 verdict #5 — the ext118 funnel's
    * gate-BEFORE-dedup economics, stream side): a map-side column
    * (payload bytes → struct(reason STRING, phash LONG)) producing the
    * failing rule (NULL = pass) AND, for passing items, the dedup
    * fingerprint — from ONE fenced decode, so the gated path pays
    * exactly the ungated path's decode count (single-branch
    * [[gatedBandRows]]; the decode count is spec-pinned). Failing items
    * NEVER enter bucket state — they travel as stateless [[QualityBand]]
    * rows through the same operator, cannot suppress later arrivals,
    * hold no bucket slot, pay no band fan-out — and land in
    * `<table>_rejects` with their rule as the reason. They share the
    * suppressor's lateness policy: a row older than the watermark is
    * dropped whether it would pass or fail the gate.
    *
    * `writeBackTo` = a [[graft.operators.FingerprintStore]] directory:
    * each micro-batch's LANDED (id, phash) rows are persisted as an
    * epoch-keyed delivery partition (see the foreachBatch comment), so
    * restarts (via `bootstrapFrom` over the same store) and the next
    * batch probe see what the stream admitted — the write-back half of
    * the batch↔stream handoff. Point it at the store `bootstrapFrom`
    * reads for the full loop.
    *
    * `writeBackCompactEvery` (0 = off): one partition per micro-batch is
    * exactly the small-file trajectory [[graft.operators.FingerprintStore
    * .compact]] exists for, at micro-batch cadence instead of delivery
    * cadence — so fold the store every N DATA-BEARING micro-batches FROM
    * INSIDE foreachBatch, which IS the store's exclusive writer window
    * while the stream owns it (the store contract's one-writer rule —
    * don't point other writers, or readers that can't tolerate the
    * rewrite, at the store while a compacting stream runs). "Data
    * bearing" is the [[DataBatchCadence]] contract (r14 verdict #5): a
    * no-data watermark-advance commit batch — AvailableNow runs one
    * after the stream's first data batch, and idle-trigger production
    * streams commit them constantly — never consumes a cadence slot, so
    * folds land every N batches OF WORK, not at an arbitrary fraction of
    * it; the count is durable beside the checkpoint and exactly-once
    * under replay. `writeBackKeepRecent` (≥ 1 when
    * compaction is on, enforced) partitions stay unfolded; the floor any
    * setting must respect is the replay horizon, and for the stream's
    * OWN epochs that horizon is exactly ONE — only the last uncommitted
    * micro-batch ever re-runs, and the current epoch's partition is
    * passed to the fold as `protect`ed (named explicitly, not inferred
    * from mtime recency, so a coarse-timestamp filesystem cannot
    * tie-rank it below an older partition), so a crash between the
    * write-back and the epoch's commit replays onto a partition that is
    * still there. Committed epochs never replay, so folding them loses
    * nothing. CAVEAT for the shared batch↔stream store: the stream can
    * only vouch for its own epochs — a BATCH delivery partition older
    * than `writeBackKeepRecent` entries folds too, and if that
    * delivery's at-least-once window is still open its replay flips
    * from idempotent to fresh-ingest ([[graft.operators.FingerprintStore
    * .compact]]'s compacted-replay contract). Either leave compaction to
    * the batch side's own maintenance window, or size
    * `writeBackKeepRecent` to cover every batch writer's retry
    * horizon. */
  def writeDeduped(
      items: DataFrame, fingerprint: Column => Column,
      idCol: String, payloadCol: String,
      table: String, checkpoint: String,
      maxDist: Int = 3, watermarkDelay: String = "10 minutes",
      maxPerBucket: Int = 256,
      rename: Map[String, String] = Map.empty,
      bootstrapFrom: Option[(DataFrame, Long)] = None,
      gateFingerprint: Option[Column => Column] = None,
      writeBackTo: Option[String] = None,
      writeBackCompactEvery: Int = 0,
      writeBackKeepRecent: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    require(writeBackCompactEvery <= 0 || writeBackKeepRecent >= 1,
      "writeBackKeepRecent must be >= 1 when compaction is on: folding " +
        "every epoch including the current one would fold the only " +
        s"replayable partition (got $writeBackKeepRecent)")
    val ttlMillis = ttlMillisOf(watermarkDelay)
    val streamTag = streamTagOf(checkpoint)
    val spark = items.sparkSession
    import spark.implicits._
    val initial = bootstrapFrom.map { case (hashes, ts0) =>
      bootstrapState(hashes, ts0, maxDist, maxPerBucket)
    }
    val banded = gateFingerprint match {
      case None =>
        bandRows(items, fingerprint, idCol, payloadCol, watermarkDelay,
          maxDist)
      case Some(gateOf) =>
        gatedBandRows(items, gateOf, idCol, payloadCol, watermarkDelay,
          maxDist)
    }
    val cadence = new DataBatchCadence(checkpoint)
    verdicts(banded, ttlMillis, maxPerBucket, initial = initial)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val r = rollup(batch, maxDist).cache()
        try {
          // STORE WRITE-BACK (r10 verdict #1 — closes the perceptual
          // lifecycle loop): the micro-batch's landed fingerprints become
          // a delivery partition keyed by (stream tag, epoch id), so a
          // restarted stream's bootstrapFrom and the next batch probe see
          // what the stream admitted. The epoch id makes a replayed
          // micro-batch land on the SAME partition, and writeDelivery
          // overwrites only it → exactly-once for the store even though
          // the landing-table appends below stay at-least-once. Skipped
          // when the batch landed nothing (replay is deterministic — a
          // versioned state store plus replayed offsets reproduce the
          // same landed set — so there is no stale partial to clear).
          writeBackTo.foreach { storeDir =>
            val landed = r.filter(col("keep"))
              .select(col("item_id").as("id"), col("phash"))
            if (!landed.isEmpty)
              graft.operators.FingerprintStore.writeDelivery(
                storeDir, s"$streamTag-b$batchId", landed)
            // data-batch-cadence compaction (scaladoc): inside
            // foreachBatch is the store's exclusive-writer window, the
            // current epoch — the only batch that can ever replay — is
            // protected BY NAME (not by trusting mtime recency), and a
            // no-data commit batch never consumes a cadence slot
            if (cadence.fires(
                batch.sparkSession.sparkContext.hadoopConfiguration,
                writeBackCompactEvery, batchId, hasData = !r.isEmpty))
              graft.operators.FingerprintStore.compact(
                landed.sparkSession, storeDir,
                keepRecent = writeBackKeepRecent,
                protect = Set(s"$streamTag-b$batchId"))
          }
          val renamed = rename.foldLeft(r.drop("phash")) {
            case (df, (from, to)) => df.withColumnRenamed(from, to)
          }
          renamed.filter(col("keep")).drop("keep", "reason")
            .repartition(col("source"))
            .write.mode("append").partitionBy("source").parquet(table)
          renamed.filter(!col("keep")).drop("keep")
            .write.mode("append").parquet(s"${table}_rejects")
        } finally { r.unpersist(); () }
      }
      .start()
  }

  /** Stable per-stream delivery-id prefix for the store write-back: the
    * checkpoint location IS the stream's identity (restarts reuse it and
    * epoch ids are scoped to it), hashed into the store's safe delivery
    * charset. */
  private[streaming] def streamTagOf(checkpoint: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8"))
    "stream-" + d.take(6).map(b => f"$b%02x").mkString
  }
}
