package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

import graft.operators.ImageDedup

/** THE streaming near-duplicate suppressor: an arriving item is dropped
  * when its fingerprint is close enough to ANY item seen inside the
  * watermark horizon. One pipeline — band rows → candidate buckets →
  * exact comparison → per-item verdict — with four thin adapters that
  * supply only the fingerprint, its bucket keys, the comparison and the
  * evidence columns:
  *   - [[NearDupIngest]]: text, MinHash signature, LSH band keys,
  *     signature agreement;
  *   - [[ImageIngest]] / [[AudioIngest]]: a 64-bit perceptual hash
  *     ([[writeDeduped]]), [[ImageDedup.bandSlices]] keys, Hamming
  *     distance;
  *   - [[VideoIngest]]: the same Hamming core at FRAME granularity under
  *     a packed composite id, with a clip-level alignment vote as rollup.
  *
  * Batch/stream agreement: every adapter's fingerprint and bucket keys
  * are the exact arithmetic of its batch pair join, so both sides agree
  * on what "near-duplicate" means and which bucket an item lands in. One
  * stateful operator keyed by (band, key); per-bucket state is
  * watermark-evicted AND capped ([[PerceptualIngest.MaxPerBucket]],
  * oldest-out — the documented recall trade). An item's verdict rows all
  * travel in its own micro-batch, so the per-item any-band rollup is
  * plain batch work in the one land/reject sink ([[landAndReject]]).
  */
object PerceptualIngest {

  /** Stored entries per band bucket, every adapter's cap. */
  private[streaming] val MaxPerBucket = 256
  /** Hamming distance at or under which [[writeDeduped]]'s 64-bit
    * fingerprints are near-duplicates. */
  private val MaxDist = 3

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
    * travels as ONE row with this band (key = its own id) through the
    * same stateful operator as the dedup rows, which passes it through
    * WITHOUT touching state. This keeps a gated pipeline a SINGLE branch
    * off the gate projection: with two branches (stateless fails ∪
    * stateful passes) Spark re-evaluates a nondeterministic gate UDF per
    * branch and every payload decodes twice per micro-batch. Consequence
    * of the single branch: gate failures share the suppressor's lateness
    * policy — a row older than the watermark is dropped whether it would
    * pass or fail the gate. */
  val QualityBand = -1

  /** How an adapter's fingerprints compare inside one bucket: `score` of
    * an arriving fingerprint against a stored one, `empty` = the score an
    * empty bucket reports, `closer(a, b)` = score `a` is a closer match
    * than score `b`. */
  private[streaming] final case class Compare[F](
      score: (F, F) => Double, empty: Double,
      closer: (Double, Double) => Boolean)

  /** Hamming distance between 64-bit hashes; 64 (farther than any
    * threshold) for an empty bucket. */
  private[streaming] val Hamming: Compare[Long] = Compare(
    (a, b) => java.lang.Long.bitCount(a ^ b).toDouble, 64.0, _ < _)

  /** One band row; the payload rides ONCE (band 0, or the single
    * [[QualityBand]] row of a gated-out item) so the explode does not
    * multiply it. `reason` is null on every dedup-path row. `ts` stays a
    * TIMESTAMP: the watermark tag lives on this attribute, and event-time
    * timeout needs it to reach the stateful operator. */
  private[streaming] final case class BandRow[F, P](
      band: Int, key: Long, itemId: Long, source: String,
      ts: java.sql.Timestamp, fp: F, payload: P, reason: String)

  private[streaming] final case class Entry[F](
      tsMillis: Long, itemId: Long, fp: F)
  private[streaming] final case class BucketState[F](entries: Seq[Entry[F]])

  /** Output shape of a combined gate+fingerprint UDF ([[writeDeduped]]'s
    * `gateFingerprint`): the failing rule (null = pass) and, for passing
    * items only, the dedup fingerprint — both from one decode. */
  final case class GateResult(reason: String, phash: Option[Long])

  /** Per-(item, band) verdict: the closest fingerprint this band's bucket
    * held (`score`, [[Compare.empty]] when the bucket was empty, and its
    * item, −1 when none). `payload` and the item's own `fp` ride only on
    * the row that carries the payload; `reason` is the failing gate rule
    * on a [[QualityBand]] row, null otherwise. */
  private[streaming] final case class BandVerdict[F, P](
      item_id: Long, source: String, ts_millis: Long, band: Int,
      score: Double, matched_item: Long, payload: P, reason: String,
      fp: Option[F])

  /** The one banding projection. Input columns: (itemId LONG, source,
    * ingest_ts, reason, fp, payload). A row with a null `reason` explodes
    * into `bands(fp)` — an array of struct(b INT, v LONG) bucket keys;
    * a row with a reason (a gate failure) becomes one [[QualityBand]]
    * row keyed by its own id. A row with neither reason nor fingerprint
    * (an undecodable blob, ungated) is dropped map-side: it can duplicate
    * nothing. */
  private[streaming] def bandRows[F: TypeTag, P: TypeTag](
      items: DataFrame, bands: Column => Column,
      watermarkDelay: String): Dataset[BandRow[F, P]] = {
    val spark = items.sparkSession
    import spark.implicits._
    // a gated-out item has no fingerprint; a primitive one needs a value
    val fp = if (items.schema("fp").dataType == LongType)
      coalesce(col("fp"), lit(0L)) else col("fp")
    items
      .filter(col("reason").isNotNull || col("fp").isNotNull)
      .withWatermark("ingest_ts", watermarkDelay)
      .select(col("itemId"), col("source"), col("ingest_ts"), col("reason"),
        fp.as("fp"), col("payload"),
        explode(when(col("reason").isNull, bands(col("fp")))
          .otherwise(array(struct(lit(QualityBand).as("b"),
            col("itemId").as("v"))))).as("s"))
      .select(col("s.b").as("band"), col("s.v").as("key"), col("itemId"),
        col("source"), col("ingest_ts").as("ts"), col("fp"),
        when(col("s.b") === 0 || col("s.b") === QualityBand,
          col("payload")).as("payload"),
        col("reason"))
      .as[BandRow[F, P]]
  }

  /** The keyed state transition — rows in (ts, itemId) order so same-batch
    * duplicates resolve deterministically (earliest survives). The
    * same-group skip is BATCH-LOCAL: entries added by THIS micro-batch are
    * skipped when they share the row's group (a same-batch identical-id
    * redelivery must not reject itself through its shared rollup group,
    * and [[VideoIngest]]'s sibling frames must not shadow a true
    * cross-video match), but entries CARRIED IN STATE from earlier
    * batches match regardless of group — a same-group state hit means the
    * item already LANDED in a prior batch, which is exactly the
    * redelivery a suppressor exists to drop. `sameGroup` is plain id
    * equality unless an adapter's items are fragments of a larger unit. */
  private def transition[F, P](compare: Compare[F], ttlMillis: Long,
      maxPerBucket: Int, sameGroup: (Long, Long) => Boolean)(
      key: (Int, Long),
      rows: Iterator[BandRow[F, P]],
      state: GroupState[BucketState[F]]): Iterator[BandVerdict[F, P]] = {
    def verdict(r: BandRow[F, P], score: Double, matched: Long) =
      BandVerdict(r.itemId, r.source, r.ts.getTime, r.band, score, matched,
        r.payload, r.reason, if (r.payload != null) Option(r.fp) else None)
    if (key._1 == QualityBand) {
      // gated-out items: stateless pass-through — no bucket slot, no
      // timeout registration, cannot suppress later arrivals
      rows.map(verdict(_, compare.empty, -1L))
    } else if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val horizon = state.getCurrentWatermarkMs() - ttlMillis
      val prior = state.getOption.map(_.entries).getOrElse(Seq.empty)
        .filter(_.tsMillis >= horizon)
      var added = Vector.empty[Entry[F]]
      val out = Seq.newBuilder[BandVerdict[F, P]]
      rows.toSeq.sortBy(r => (r.ts.getTime, r.itemId)).foreach { r =>
        var best = compare.empty
        var bestItem = -1L
        def scan(e: Entry[F]): Unit = {
          val s = compare.score(r.fp, e.fp)
          if (bestItem == -1L || compare.closer(s, best)) {
            best = s; bestItem = e.itemId
          }
        }
        prior.foreach(scan) // prior landings match even within the group
        added.foreach { e => if (!sameGroup(e.itemId, r.itemId)) scan(e) }
        out += verdict(r, best, bestItem)
        added :+= Entry(r.ts.getTime, r.itemId, r.fp)
      }
      val entries = (prior ++ added)
        .sortBy(e => (e.tsMillis, e.itemId)).takeRight(maxPerBucket)
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

  /** INITIAL bucket state from a persisted fingerprint table (id, phash)
    * — the batch→stream handoff: a restarted ingest stream bootstrapped
    * from [[graft.operators.FingerprintStore]]'s table rejects
    * near-duplicates of the EXISTING corpus from its very first
    * micro-batch, instead of starting blind and re-admitting items the
    * batch path already holds. Bootstrapped entries carry
    * `bootstrapTsMillis` (typically the stream's start time) and age out
    * of each bucket exactly like arrived items — the suppressor remains a
    * HORIZON guard; permanence stays with the batch probe (ext108/121).
    * Buckets are capped to [[MaxPerBucket]] up front, so resident initial
    * state is bounded by the store slice and never grows on its own.
    * Banding is [[ImageDedup.bandSlices]] — the same arithmetic as the
    * live rows, so bootstrapped and arriving hashes meet in the same
    * buckets.
    */
  private[streaming] def bootstrapState(
      hashes: DataFrame, bootstrapTsMillis: Long)
      : KeyValueGroupedDataset[(Int, Long), BucketState[Long]] = {
    val spark = hashes.sparkSession
    import spark.implicits._
    hashes
      .select(col("id").cast("long").as("id"), col("phash"),
        explode(ImageDedup.bandSlices(col("phash"), MaxDist)).as("s"))
      .select(col("s.b").as("band"), col("s.v").as("key"), col("id"),
        col("phash"))
      .as[(Int, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (k, it) =>
        val entries = it
          .map(r => Entry(bootstrapTsMillis, r._3, r._4)).toSeq
          .sortBy(e => (e.tsMillis, e.itemId)).takeRight(MaxPerBucket)
        (k, BucketState(entries))
      }
      .groupByKey(_._1)
      .mapValues(_._2)
  }

  /** Band rows → per-(item, band) verdicts through the keyed state store;
    * `initial` optionally warm-starts the store ([[bootstrapState]]). An
    * absent `initial` is an empty one, so every adapter runs the same
    * operator. */
  private[streaming] def verdicts[F: TypeTag, P: TypeTag](
      rows: Dataset[BandRow[F, P]], compare: Compare[F], ttlMillis: Long,
      maxPerBucket: Int, sameGroup: (Long, Long) => Boolean = _ == _,
      initial: Option[KeyValueGroupedDataset[(Int, Long), BucketState[F]]] =
        None)
      : Dataset[BandVerdict[F, P]] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val init = initial.getOrElse(
      spark.emptyDataset[((Int, Long), BucketState[F])]
        .groupByKey(_._1).mapValues(_._2))
    rows.groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout(), init)(
        transition[F, P](compare, ttlMillis, maxPerBucket, sameGroup))
  }

  /** The rollup tail every adapter shares: `keep` iff the item passed the
    * quality gate (no `quality_reason`) AND `novel` holds; `reason` is
    * the quality rule, "near_duplicate" for a dedup drop, NULL for a kept
    * row. A group is either all dedup-path rows or one quality row, never
    * mixed: gated items skip banding entirely. */
  private[streaming] def decide(rolled: DataFrame, novel: Column): DataFrame =
    rolled
      .withColumn("keep", col("quality_reason").isNull && novel)
      .withColumn("reason", coalesce(col("quality_reason"),
        when(!col("keep"), lit("near_duplicate"))))
      .drop("quality_reason")

  /** Per-item rollup of one micro-batch's Hamming verdicts: keep iff the
    * CLOSEST match across all bands stays beyond [[MaxDist]]. Output:
    * (item_id, source, ingest_ts, payload, min_dist, phash, matched_item,
    * keep, reason); phash feeds the store write-back and is dropped before
    * the landing tables. */
  private def rollup(batch: DataFrame): DataFrame =
    decide(batch.groupBy(col("item_id"))
      .agg(
        first(col("source")).as("source"),
        timestamp_millis(first(col("ts_millis"))).as("ingest_ts"),
        first(col("payload"), ignoreNulls = true).as("payload"),
        min(col("score")).cast("long").as("min_dist"),
        first(col("fp"), ignoreNulls = true).as("phash"),
        // tie-break the evidence item deterministically
        min_by(col("matched_item"), struct(col("score"), col("matched_item")))
          .as("matched_item"),
        first(col("reason"), ignoreNulls = true).as("quality_reason")),
      col("min_dist") > MaxDist)

  /** The one land/reject sink: each micro-batch's verdicts → `rollup`
    * (which must yield `keep`, `reason` and `source`), cached once; kept
    * rows append to `table` partitioned by `source` without `keep`,
    * `reason` and `landDrop`; the rest append to `<table>_rejects` without
    * `keep` and `rejectDrop`. `beforeLanding` sees the rolled batch and
    * its id first (the store write-back). */
  private[streaming] def landAndReject(verdicts: Dataset[_], table: String,
      checkpoint: String, rollup: DataFrame => DataFrame,
      landDrop: Seq[String] = Nil, rejectDrop: Seq[String] = Nil,
      beforeLanding: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    verdicts
      .toDF()
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val r = rollup(batch).cache()
        try {
          beforeLanding(r, batchId)
          r.filter(col("keep")).drop(Seq("keep", "reason") ++ landDrop: _*)
            .repartition(col("source"))
            .write.mode("append").partitionBy("source").parquet(table)
          r.filter(!col("keep")).drop("keep" +: rejectDrop: _*)
            .write.mode("append").parquet(s"${table}_rejects")
        } finally { r.unpersist(); () }
      }
      .start()

  /** End-to-end: (`idCol`, source, ingest_ts, `payloadCol`) stream →
    * near-deduped landing table (kept items, partitioned by source) +
    * `<table>_rejects` with match evidence (`reason` = the quality rule
    * or "near_duplicate"), under a 64-bit `fingerprint` compared by
    * Hamming distance. `rename` maps the neutral output columns back to
    * the adapter's modality vocabulary (e.g. item_id → img_id) so each
    * modality's tables keep their natural schema.
    *
    * `gateFingerprint` (the ext118 funnel's gate-BEFORE-dedup economics,
    * stream side): a map-side column (payload bytes → struct(reason
    * STRING, phash LONG)) producing the failing rule (NULL = pass) AND,
    * for passing items, the dedup fingerprint — from ONE fenced decode,
    * so the gated path pays exactly the ungated path's decode count (the
    * decode count is spec-pinned). Failing items NEVER enter bucket
    * state — they travel as stateless [[QualityBand]] rows through the
    * same operator, cannot suppress later arrivals, hold no bucket slot,
    * pay no band fan-out — and land in `<table>_rejects` with their rule
    * as the reason. They share the suppressor's lateness policy: a row
    * older than the watermark is dropped whether it would pass or fail
    * the gate.
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
    * bearing" is the [[DataBatchCadence]] contract: a no-data
    * watermark-advance commit batch — AvailableNow runs one after the
    * stream's first data batch, and idle-trigger production streams
    * commit them constantly — never consumes a cadence slot, so folds
    * land every N batches OF WORK, not at an arbitrary fraction of it;
    * the count is durable beside the checkpoint and exactly-once under
    * replay. `writeBackKeepRecent` (≥ 1 when compaction is on,
    * enforced) partitions stay unfolded; the floor any setting must
    * respect is the replay horizon, and for the stream's OWN epochs that
    * horizon is exactly ONE — only the last uncommitted micro-batch ever
    * re-runs, and the current epoch's partition is passed to the fold as
    * `protect`ed (named explicitly, not inferred from mtime recency, so a
    * coarse-timestamp filesystem cannot tie-rank it below an older
    * partition), so a crash between the write-back and the epoch's
    * commit replays onto a partition that is still there. Committed
    * epochs never replay, so folding them loses nothing. CAVEAT for the
    * shared batch↔stream store: the stream can only vouch for its own
    * epochs — a BATCH delivery partition older than
    * `writeBackKeepRecent` entries folds too, and if that delivery's
    * at-least-once window is still open its replay flips from idempotent
    * to fresh-ingest ([[graft.operators.FingerprintStore.compact]]'s
    * compacted-replay contract). Either leave compaction to the batch
    * side's own maintenance window, or size `writeBackKeepRecent` to
    * cover every batch writer's retry horizon. */
  def writeDeduped(
      items: DataFrame, fingerprint: Column => Column,
      idCol: String, payloadCol: String,
      table: String, checkpoint: String,
      watermarkDelay: String = "10 minutes",
      rename: Map[String, String] = Map.empty,
      bootstrapFrom: Option[(DataFrame, Long)] = None,
      gateFingerprint: Option[Column => Column] = None,
      writeBackTo: Option[String] = None,
      writeBackCompactEvery: Int = 0,
      writeBackKeepRecent: Int = 2): StreamingQuery = {
    require(writeBackCompactEvery <= 0 || writeBackKeepRecent >= 1,
      "writeBackKeepRecent must be >= 1 when compaction is on: folding " +
        "every epoch including the current one would fold the only " +
        s"replayable partition (got $writeBackKeepRecent)")
    val streamTag = streamTagOf(checkpoint)
    // gated: the rule AND the fingerprint from ONE fenced evaluation
    val (gated, reason, fp) = gateFingerprint match {
      case None =>
        (items, lit(null).cast("string"), fingerprint(col(payloadCol)))
      case Some(gateOf) =>
        (items.withColumn("__g", gateOf(col(payloadCol))),
          col("__g.reason"), col("__g.phash"))
    }
    val hashed = gated
      .select(col(idCol).cast("long").as("itemId"), col("source"),
        col("ingest_ts"), reason.as("reason"), fp.as("fp"),
        col(payloadCol).as("payload"))
    val banded = bandRows[Long, Array[Byte]](hashed,
      ImageDedup.bandSlices(_, MaxDist), watermarkDelay)
    val initial = bootstrapFrom.map { case (hashes, ts0) =>
      bootstrapState(hashes, ts0)
    }
    val idName = rename.getOrElse("item_id", "item_id")
    val cadence = new DataBatchCadence(checkpoint)
    landAndReject(
      verdicts(banded, Hamming, ttlMillisOf(watermarkDelay), MaxPerBucket,
        initial = initial),
      table, checkpoint,
      rollup = b => rename.foldLeft(rollup(b)) {
        case (df, (from, to)) => df.withColumnRenamed(from, to)
      },
      landDrop = Seq("phash"), rejectDrop = Seq("phash"),
      beforeLanding = (r, batchId) =>
        // STORE WRITE-BACK: the micro-batch's landed fingerprints become
        // a delivery partition keyed by (stream tag, epoch id), so a
        // restarted stream's bootstrapFrom and the next batch probe see
        // what the stream admitted. The epoch id makes a replayed
        // micro-batch land on the SAME partition, and writeDelivery
        // overwrites only it → exactly-once for the store even though
        // the landing-table appends stay at-least-once. Skipped when the
        // batch landed nothing (replay is deterministic — a versioned
        // state store plus replayed offsets reproduce the same landed
        // set — so there is no stale partial to clear).
        writeBackTo.foreach { storeDir =>
          val landed = r.filter(col("keep"))
            .select(col(idName).as("id"), col("phash"))
          if (!landed.isEmpty)
            graft.operators.FingerprintStore.writeDelivery(
              storeDir, s"$streamTag-b$batchId", landed)
          // data-batch-cadence compaction (scaladoc): inside
          // foreachBatch is the store's exclusive-writer window, the
          // current epoch — the only batch that can ever replay — is
          // protected BY NAME (not by trusting mtime recency), and a
          // no-data commit batch never consumes a cadence slot
          if (cadence.fires(r.sparkSession.sparkContext.hadoopConfiguration,
              writeBackCompactEvery, batchId, hasData = !r.isEmpty))
            graft.operators.FingerprintStore.compact(
              r.sparkSession, storeDir,
              keepRecent = writeBackKeepRecent,
              protect = Set(s"$streamTag-b$batchId"))
        })
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
