package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cv.AudioOps
import graft.operators.{AudioContainment, ContaminationGuard, TemporalAlignment, VideoDedup}

/** STREAMING CLIP-CONTAINMENT MONITOR — the operational shape a
  * rights/compliance pipeline runs (r10 verdict #7): a SMALL watchlist of
  * clips (takedown targets, licensed jingles, known-bad footage) is
  * fingerprinted ONCE with the batch containment arithmetic
  * (ext109 [[AudioContainment.windowHashes]] / ext117
  * [[VideoDedup.keptFrameHashes]]), broadcast, and every arriving item is
  * scored against it MAP-SIDE: one decode per item, the shared
  * [[TemporalAlignment]] alignment vote per (item, clip), a flag row when
  * the best single alignment covers ≥ the batch path's coverage threshold
  * of the shorter side.
  * No state store, no watermark, no shuffle — the monitor composes with
  * the existing suppressors without growing their state, and the same
  * transform runs unchanged over a batch frame or a stream (the parity
  * spec leans on exactly that).
  *
  * Verdict parity with the batch path is spec-pinned: for a flagged
  * (clip, item) pair, (offset, matched, coverage) equal
  * [[AudioContainment.containmentPairs]] / [[VideoDedup.containmentPairs]]
  * on the same two media — same window/frame hashing, same low-info
  * filter, same vote kernel ([[TemporalAlignment.alignListsFull]]), same
  * HALF_UP 6-dp rounding.
  *
  * Scale shape: the watchlist is collected and broadcast — BOUNDED BY
  * CONTRACT (a takedown list is thousands of clips, not a corpus; cost
  * per item is O(|item units| × Σ|clip units|) comparisons map-side).
  * A corpus-sized "watchlist" is not a monitor but a batch containment
  * join — use ext109/ext117's banded path for that.
  */
object WatchlistMonitor {

  /** One watchlist entry: informative (time_index, hash64) units, sorted. */
  final case class WatchClip(clip_id: Long, units: Seq[(Int, Long)])

  /** One flagged (item, clip) alignment. `offset_units` is where the
    * clip's unit 0 aligns inside the ARRIVING item (≥ 0 for a true
    * containment), matching the batch paths' offset convention when the
    * clip is the canonical (smaller-id) side. */
  final case class Hit(clip_id: Long, offset_units: Int,
      matched_units: Long, aligned_units: Long, coverage: Double)

  /** Fingerprint a batch frame of watchlist audio: ext109's window
    * hashes, low-info windows dropped. Bounded collect (class doc). */
  def audioWatchlist(clips: DataFrame, audioCol: String, idCol: String,
      windowSec: Double): Seq[WatchClip] =
    toClips(AudioContainment.windowHashes(clips, audioCol, idCol, windowSec)
      .filter(TemporalAlignment.informative(col("whash")))
      .select(col("id"), col("win_idx").as("t"), col("whash").as("h")))

  /** Fingerprint a batch frame of watchlist video: ext117's
    * mirror-canonical hashes of every frame, low-info frames dropped. */
  def videoWatchlist(clips: DataFrame, videoCol: String,
      idCol: String): Seq[WatchClip] =
    toClips(VideoDedup.keptFrameHashes(clips, videoCol, idCol, everyNth = 1)
      .select(col("id"), col("frame_idx").as("t"), col("phash").as("h")))

  private def toClips(units: DataFrame): Seq[WatchClip] =
    units.collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        WatchClip(id, rs.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq)
      }
      .toSeq.sortBy(_.clip_id)

  /** Flag arriving audio against the watchlist. Output: every column of
    * `items` except the payload, plus (clip_id, offset_units,
    * offset_seconds, matched_units, aligned_units, coverage) — one row
    * per flagged (item, clip), nothing for clean items. Works on a
    * stream or a batch frame identically. Windows do not overlap, as in
    * ext109. */
  def flagAudio(items: DataFrame, audioCol: String,
      watchlist: Seq[WatchClip], windowSec: Double): DataFrame = {
    val flagged = monitor(items, audioCol, watchlist,
      bytes => Option(bytes).flatMap(AudioOps.decodeWav)
        .map(AudioOps.windowSpectralHashes(_, windowSec)),
      AudioContainment.MaxDist, jitter = 1, AudioContainment.MinCoverage)
    flagged.withColumn("offset_seconds",
      round(col("offset_units") * windowSec, 6))
      // keep the column order stable: seconds right after units
      .select(flagged.columns.takeWhile(_ != "matched_units").map(col) ++
        (col("offset_seconds") +: flagged.columns
          .dropWhile(_ != "matched_units").map(col)): _*)
  }

  /** Flag arriving video against the watchlist — ext117's frame units
    * (every frame, like the batch path: localization wants every
    * frame). */
  def flagVideo(items: DataFrame, videoCol: String,
      watchlist: Seq[WatchClip]): DataFrame =
    monitor(items, videoCol, watchlist,
      bytes => VideoDedup.sampleFrameHashes(bytes, 1),
      VideoDedup.MaxDist, jitter = 1, VideoDedup.MinCoverage)

  /** Fingerprint a batch frame of watchlist IMAGES — the known-bad-image
    * list shape (the PhotoDNA/industry hash-list pattern): whole-item
    * perceptual hashes, no temporal axis, so a watch entry is just
    * (clip_id, mirror-canonical DCT pHash) — the EXACT fingerprint of
    * ext101's batch pair join and the streaming suppressor. Undecodable
    * watchlist entries are dropped. Bounded collect (class doc). */
  def imageWatchlist(images: DataFrame, imageCol: String,
      idCol: String): Seq[(Long, Long)] =
    graft.operators.ImageDedup.hashes(images, imageCol, idCol)
      .select(col("id").cast("long"), col("phash"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  /** Flag arriving images within Hamming [[ImageMaxDist]] of any
    * watchlist entry — ext101's pair verdict (`bit_count(a XOR b) <= 3` on
    * the shared mirror-canonical fingerprint, so a mirrored or
    * re-encoded re-post of a watched image still flags) as a stateless
    * map-side broadcast probe: one fenced decode per item, a linear scan
    * of the broadcast list per item (a takedown list, not a corpus — the
    * corpus-scale form is ext101's banded join). Output: every column of
    * `items` except the payload, plus (clip_id, distance) per flagged
    * (item, watch) pair; undecodable and clean items pass silently. */
  def flagImage(items: DataFrame, imageCol: String,
      watchlist: Seq[(Long, Long)]): DataFrame = {
    val bc = items.sparkSession.sparkContext.broadcast(watchlist.toArray)
    val hitsUdf = udf { bytes: Array[Byte] =>
      Option(bytes).flatMap(graft.cv.ImageOps.decode) match {
        case None => Array.empty[ImageHit]
        case Some(img) =>
          val h = graft.cv.ImageOps.pHash64MirrorCanonical(img)
          bc.value.flatMap { case (cid, wh) =>
            val d = java.lang.Long.bitCount(h ^ wh)
            if (d <= ImageMaxDist) Some(ImageHit(cid, d)) else None
          }
      }
    }.asNondeterministic() // optimizer fence — one decode per item
    val keep = items.columns.filterNot(_ == imageCol).map(col)
    items.withColumn("__hits", hitsUdf(col(imageCol)))
      .select(keep :+ explode(col("__hits")).as("hit"): _*)
      .select(keep :+ col("hit.clip_id") :+ col("hit.distance"): _*)
  }

  /** One flagged (item, watched image) pair: Hamming distance between
    * the two mirror-canonical fingerprints (<= [[ImageMaxDist]]). */
  final case class ImageHit(clip_id: Long, distance: Int)

  /** ext101's pair threshold on the image fingerprint. */
  private val ImageMaxDist = 3

  /** Fingerprint a batch frame of watchlist TEXT — the
    * benchmark-contamination shape ([[ContaminationGuard]]): the
    * watchlist is an eval/benchmark suite whose leaked excerpts must not
    * ride an ingest into the training corpus. Same bounded-collect
    * contract as the media watchlists. */
  def textWatchlist(bench: DataFrame, textCol: String, idCol: String,
      window: Int = 64): ContaminationGuard.BenchIndex =
    ContaminationGuard.benchmarkIndex(bench, textCol, idCol, window)

  /** Flag arriving text against the watchlist — [[ContaminationGuard.flag]]
    * keeping the item's envelope columns: every column of `items` except
    * the text, plus (bench_id, n_matched_windows, contaminated_chars,
    * longest_run_chars, bench_coverage); one row per flagged
    * (item, benchmark doc), nothing for clean items. Stateless map-side
    * broadcast probe — runs on a stream or a batch frame identically,
    * number-for-number with the batch guard (shared implementation, not
    * just shared arithmetic). */
  def flagText(items: DataFrame, textCol: String,
      watchlist: ContaminationGuard.BenchIndex): DataFrame =
    ContaminationGuard.flagKeeping(items, textCol, watchlist,
      items.columns.filterNot(_ == textCol).map(col).toSeq)

  /** Run any of the flag* transforms as a LONG-LIVED monitor whose
    * watchlist REFRESHES while the stream runs — a takedown list is not
    * frozen at deploy time; entries arrive (new claims) and leave
    * (resolved disputes) daily. `loadWatchlist` re-resolves the list
    * (e.g. [[audioWatchlist]] over a small parquet table — the same
    * bounded-collect contract as the static paths) at every
    * micro-batch, driver-side between batches, and each micro-batch is
    * scored with `flag` against the list current at its epoch; flag rows
    * append to `out` (at-least-once on replay, like every landing sink
    * here — and a REPLAYED batch scores against the list current at
    * replay time, the probe-answers-from-the-current-store posture the
    * fingerprint store documents). The refresh costs one bounded
    * watchlist fingerprint job per micro-batch, so a list change is
    * enforced from the next epoch on. Modality-generic: `W` is whatever the chosen flagger takes
    * ([[WatchClip]]s, image hash pairs, a
    * [[ContaminationGuard.BenchIndex]]).
    */
  def monitorStream[W](
      items: DataFrame,
      loadWatchlist: () => W,
      flag: (DataFrame, W) => DataFrame,
      out: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    items.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        flag(batch, loadWatchlist()).write.mode("append").parquet(out)
      }
      .start()

  /** The RETROACTIVE half of enforcement — [[monitorStream]]'s refresh
    * scores a newly-watched clip against NEW arrivals only, but a
    * takedown claim filed today must also find YESTERDAY's landed
    * corpus. This sweeps the landed table with the SAME flag transform
    * the monitor runs (shared implementation, so flag-schema parity is
    * by construction, not convention — spec-pinned): pass ONLY the clips
    * added since the last sweep as `newClips`, so each sweep broadcasts
    * the watchlist DELTA and pays one map-side decode-and-vote pass over
    * the landed table — zero shuffle, the irreducible price of
    * retroactivity, parallelizing like any broadcast probe at 100 TB.
    * Items already enforced against the old list need no re-scoring (a
    * clip on the list when they arrived already flagged them at the
    * door). Flags append to `out` when given — point it at the
    * monitor's own flags table so both enforcement directions land in
    * one place; a re-run re-appends (dedup downstream, give each sweep
    * its own out — or use [[sweepWatchlist]], whose persisted watermark
    * makes re-runs no-ops). Prune `landed` BEFORE calling when metadata
    * bounds the exposure window (e.g. only partitions older than the
    * clip's watch-from date — newer ones the live monitor covered).
    * Modality-generic exactly like [[monitorStream]]: `W` is whatever
    * the chosen flagger takes. */
  def sweepLanded[W](
      spark: org.apache.spark.sql.SparkSession, landedTable: String,
      newClips: W, flag: (DataFrame, W) => DataFrame,
      out: Option[String] = None): DataFrame = {
    // materialize the one pass (r12 ADVICE): the optional write AND the
    // returned frame both consume THIS snapshot — unmaterialized, any
    // caller action on the return (collect, a second write) re-ran the
    // full decode-and-vote pass over the landed table, contradicting the
    // one-pass contract the scaladoc states
    val flags = flag(spark.read.parquet(landedTable), newClips)
      .localCheckpoint(true)
    out.foreach(p => flags.write.mode("append").parquet(p))
    flags
  }

  /** [[sweepLanded]] with PERSISTED bookkeeping:
    * instead of the CALLER tracking "clips added since the last sweep",
    * a `<out>_swept` parquet watermark beside the flags table records
    * (clip_id, sweep_epoch) for every clip ever swept, the sweep
    * computes its own delta (`watchedIds` minus the watermark — pass
    * the CURRENT full watched set; bounded by the watchlist contract,
    * class doc), and a re-run with an unchanged watched set is
    * IDEMPOTENT: empty delta, zero landed-table passes, zero appended
    * rows — while a newly watched clip sweeps only itself. `loadClips`
    * fingerprints exactly the delta ids (e.g. [[audioWatchlist]] over
    * the watchlist table filtered to them), so each sweep broadcasts the
    * delta and pays one map-side pass, the [[sweepLanded]] economics.
    *
    * Crash contract — at-least-once, the landing-sink posture
    * everywhere here: the watermark is written LAST, so a crash between
    * the flags append and the watermark write re-sweeps the delta and
    * re-appends its flags (dedup downstream), but a clip is never
    * recorded as swept while its flags never landed — the silent-loss
    * direction is impossible. Returns the delta's flags (empty frame in
    * the flag schema when the delta is empty).
    *
    * The watermark is never collected to the driver: the delta AND the
    * max epoch come from ONE aggregate pass over the watermark scan (a
    * map-side `isin` probe of the driver-bounded watched set feeding a
    * `collect_set`, beside the `max`). Once its committed files pass
    * `compactFileBound` the watermark folds back to one row per clip
    * (latest epoch) through [[graft.operators.TableCompaction.rewrite]],
    * so it stays a compact (clip_id, latest epoch) table at
    * takedown-archive scale; a crash inside the fold heals forward at
    * the start of the next sweep — a watermark row may read twice during
    * the swap, and is never missing. */
  def sweepWatchlist[W](
      spark: org.apache.spark.sql.SparkSession, landedTable: String,
      watchedIds: Seq[Long], loadClips: Seq[Long] => W,
      flag: (DataFrame, W) => DataFrame, out: String,
      compactFileBound: Int = SweptCompactFileBound): DataFrame = {
    val sweptPath = s"${out}_swept"
    // finish a fold a crash interrupted before the watermark is read
    graft.operators.TableCompaction.healJournal(spark, sweptPath): Unit
    // "nothing durably swept" is decided STRUCTURALLY
    // ([[graft.util.CommittedTable]] — never by swallowing a read
    // failure): a transient IO error on a healthy watermark must
    // propagate, because treating it as empty would silently re-sweep
    // the ENTIRE watched set against the (100 TB) landed table and
    // double-append every historical flag
    val haveSwept = graft.util.CommittedTable.hasData(spark, sweptPath)
    import spark.implicits._
    // delta + epoch computed DISTRIBUTED: the watermark holds one row
    // per clip EVER swept, so it never reaches the driver, and ONE
    // aggregate pass computes both: the WATCHED set is driver-bounded
    // by contract (it arrives as a Seq), so it probes as a map-side
    // `isin` (In/InSet — no join, no exchange of watermark rows beyond
    // the partial-agg row per task) feeding a `collect_set` beside the
    // `max`; the driver receives one row whose set column is bounded by
    // the same watchlist contract.
    val (delta, epoch): (Seq[Long], Long) = {
      val watched = watchedIds.distinct
      if (!haveSwept) (watched.sorted, 1L)
      else if (watched.isEmpty) (Seq.empty, 1L) // epoch unused: no sweep
      else {
        val row = spark.read.parquet(sweptPath)
          .agg(
            coalesce(max("sweep_epoch"), lit(0L)).as("e"),
            collect_set(when(col("clip_id").isin(watched: _*),
              col("clip_id"))).as("hit"))
          .collect()(0)
        val sweptWatched = row.getAs[Seq[Long]]("hit").toSet
        (watched.filterNot(sweptWatched).sorted, row.getAs[Long]("e") + 1)
      }
    }
    if (delta.isEmpty)
      // already fully swept: the flags table is complete — an empty
      // frame in the flag schema, without paying a landed-table pass
      flag(spark.read.parquet(landedTable).limit(0), loadClips(Seq.empty))
    else {
      val flags = sweepLanded(spark, landedTable, loadClips(delta), flag,
        out = Some(out))
      // one file per sweep — a LocalRelation write otherwise fans the
      // driver-bounded delta out to min(|delta|, defaultParallelism)
      // part files, defeating SweptCompactFileBound's amortization
      delta.toDF("clip_id")
        .withColumn("sweep_epoch", lit(epoch))
        .coalesce(1)
        .write.mode("append").parquet(sweptPath)
      // bound the watermark's file/row accretion: each sweep appends one
      // file, and a crash re-sweep may duplicate a clip's row
      // (at-least-once, as documented). coalesce(1): the folded
      // (long, long) rows would otherwise land as up-to-32 mostly-empty
      // files and re-trip the bound on the very next sweep
      if (graft.operators.TableCompaction.committedDataFiles(spark, sweptPath) >
          compactFileBound)
        graft.operators.TableCompaction.rewrite(spark, sweptPath)(
          _.groupBy("clip_id").agg(max("sweep_epoch").as("sweep_epoch"))
            .coalesce(1)): Unit
      flags
    }
  }

  /** Default committed-file count the `_swept` watermark may accrete
    * before [[sweepWatchlist]] folds it back to one row per clip (one
    * file per effective sweep, so ~16 sweeps between folds; overridable
    * per call for tests). */
  private val SweptCompactFileBound = 16

  /** The modality-generic core: ONE fenced decode per item, the vote per
    * broadcast clip, explode to flag rows. The broadcast ships the
    * watchlist once per executor, not once per task. */
  private def monitor(items: DataFrame, payloadCol: String,
      watchlist: Seq[WatchClip],
      decode: Array[Byte] => Option[Seq[(Int, Long)]],
      maxDist: Int, jitter: Int, minCoverage: Double): DataFrame = {
    val bc = items.sparkSession.sparkContext.broadcast(
      watchlist.map(c => (c.clip_id, c.units.toArray)).toArray)
    val hitsUdf = udf { bytes: Array[Byte] =>
      decode(bytes) match {
        case None => Array.empty[Hit]
        case Some(units) =>
          val kept = units.filter { case (_, h) =>
            VideoDedup.informativeHash(h) } // the shared [4, 60] band
          if (kept.isEmpty) Array.empty[Hit]
          else bc.value.flatMap { case (cid, cu) =>
            // fa = clip, fb = item → best_off = t_clip − t_item; the
            // clip's start inside the item is its negation (the batch
            // convention with the clip on the canonical a side)
            val (matched, aligned, bestOff) =
              TemporalAlignment.alignListsFull(cu.toSeq, kept, maxDist, jitter)
            val denom = math.min(cu.length, kept.size)
            val cov =
              if (denom == 0 || aligned == 0L) 0.0
              else math.min(1.0,
                java.math.BigDecimal.valueOf(aligned.toDouble / denom)
                  .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
            if (cov >= minCoverage) Some(Hit(cid, -bestOff, matched, aligned, cov))
            else None
          }
      }
    }.asNondeterministic() // optimizer fence — one decode per item
    val keep = items.columns.filterNot(_ == payloadCol).map(col)
    items.withColumn("__hits", hitsUdf(col(payloadCol)))
      .select(keep :+ explode(col("__hits")).as("hit"): _*)
      .select(keep :+ col("hit.clip_id") :+ col("hit.offset_units") :+
        col("hit.matched_units") :+ col("hit.aligned_units") :+
        col("hit.coverage"): _*)
  }
}
