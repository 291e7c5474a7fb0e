package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.util.{AtomicPublish, CommittedTable}

/** PERSISTED perceptual fingerprint table + the ingest cycle over it —
  * the concrete form of the "at scale this is a parquet table maintained
  * by ingest" parenthesis the incremental dedup entries (ext108) state:
  * the [[graft.operators.VectorIndex]] lifecycle discipline (ext73)
  * carried to the perceptual modality. The store is 8 bytes + id per
  * item; a daily delivery decodes ONLY its own blobs, probes the store
  * through the two-sided Hamming banded join, and merges its surviving
  * hashes back — the old corpus is never re-decoded and never re-read
  * beyond the hash column (parquet column pruning does the rest).
  *
  * MODALITY-GENERIC like the banded core: any (id, 64-bit hash) works —
  * image pHashes, audio spectral hashes, video-level signatures.
  *
  * Consistency contract: [[ingest]] computes the delivery's verdicts
  * EAGERLY (checkpoint) before touching the store, so the probe never
  * observes its own delivery's rows; one writer at a time (the daily
  * ingest job). The `_manifest` file names the LIVE partitions, every
  * mutation's last step rewrites it atomically, and every read resolves
  * through it — so a read sees exactly one layout, pre- or
  * post-mutation, never a partial one: a read that starts
  * mid-compaction resolves the pre-publish layout (published-but-unlisted
  * base invisible, folded inputs still listed) or the post-publish one,
  * never the duplicated union and never a missing-path error. A
  * directory with no manifest is an error to the readers; to the
  * writers it is an EMPTY store (nothing live, nothing retired) while
  * none of its partitions was ever visible, and an error otherwise (a
  * lost manifest — see `writerState`). Compaction
  * RETAINS the partitions it folds for one full generation: their files
  * are deleted only by the NEXT [[compact]] call's reclaim pass, so a
  * reader that resolved the old manifest keeps resolving real files
  * across the entire publish — the only reader that can still fail is
  * one whose resolved manifest is TWO compactions old. A REPLAYED
  * delivery rewrites its own partition's files in place, so a reader of
  * that one partition still needs the writer's exclusive window (replay
  * is a crash-recovery path, not steady state).
  *
  * REPLAY SAFETY: the store is PARTITIONED BY `delivery_id`
  * (`dir/delivery_id=<id>/`, the ext73 inverted-file directory
  * discipline), every [[ingest]] call names its delivery, and the probe
  * side always EXCLUDES the caller's own delivery partition — its own
  * prior append is invisible to it, so survivors cannot self-match. An
  * immediate replay (before any later delivery lands) recomputes
  * bit-identical verdicts (within-delivery dedup is deterministic).
  * After LATER deliveries have merged, verdict CLASSES remain stable by
  * construction — a kept item cannot gain a match, because any later
  * near-duplicate of it dropped AGAINST it instead of appending, and a
  * dropped item's original match is still stored — but a
  * dropped_existing row's EVIDENCE may name a nearer (or tie-smaller)
  * survivor that arrived after the first run: the probe answers from the
  * current store, not a historical snapshot. Both halves of this
  * contract are fuzz-pinned. The merge is an OVERWRITE of only the
  * caller's `delivery_id=<id>/` partition directory (written directly,
  * the standard partition layout — dynamic partition overwrite by path):
  * a re-run REPLACES its own prior append instead of stacking a second
  * copy, which also heals a partial append left by a mid-write crash —
  * including the zero-survivor replay, where the overwrite lands an
  * empty (schema-bearing) file that clears any stale partial rows.
  * Deliveries must carry unique ids (reusing an id for DIFFERENT data
  * is an overwrite, by construction).
  */
object FingerprintStore {

  /** Reserved delivery tag for [[init]]'s seed partition. */
  val InitDelivery = "__init__"

  /** Reserved delivery-tag PREFIX for [[compact]]'s merged base
    * partitions — bases are VERSIONED (`compacted-1`, `compacted-2`, …)
    * so publishing a new base never has to delete the previous one
    * first: the fold's rows live in at least one on-disk partition at
    * every instant, and a crash at any point loses nothing (see
    * [[compact]]'s crash-safety note). */
  val CompactedPrefix = "compacted"

  /** Delivery ids are interpolated raw into the partition path, so they
    * must stay inside the charset Spark's partition discovery reads back
    * verbatim: a '/', '=', '%' or space would make the DISCOVERED value
    * (Spark unescapes %XX) differ from the FILTER value, silently
    * defeating the probe's own-partition exclusion — exactly the
    * self-match bug the mechanism exists to prevent. */
  private val SafeDeliveryId = "[A-Za-z0-9._-]+"

  /** Exactly the reserved base names (`compacted`, `compacted-<n>`) —
    * NOT the whole `compacted*` namespace, so a legal delivery id like
    * `compacted2025` keeps working and keeps its replay partition.
    * Public as the layout-observability predicate that pairs with
    * [[livePartitions]] (ext134 counts folded bases). */
  def isCompactedBase(id: String): Boolean =
    id == CompactedPrefix || id.matches(s"$CompactedPrefix-\\d+")

  private def requireSafeId(deliveryId: String): Unit =
    require(deliveryId.matches(SafeDeliveryId) &&
      deliveryId != InitDelivery && !isCompactedBase(deliveryId),
      s"deliveryId must match $SafeDeliveryId and not be a reserved tag " +
        s"($InitDelivery, $CompactedPrefix, $CompactedPrefix-<n>); " +
        s"got '$deliveryId'")

  private def partitionPath(dir: String, deliveryId: String) =
    new Path(dir, s"delivery_id=$deliveryId")

  /** The concurrent-reader snapshot: a text file every mutation rewrites
    * ATOMICALLY as its last step ([[AtomicPublish.file]]), so a reader
    * sees exactly one layout — pre- or post-mutation — never a partial
    * one. Its first line is the `#graft-manifest-v2` header; then the
    * live partition names, one per line, and `retired:<name>` lines
    * naming the RETAINED generation — partitions whose files are still
    * on disk for pinned readers but whose generation is over, i.e.
    * exactly the set the next [[compact]]'s reclaim pass may delete.
    * Retirement is EXPLICIT so reclaim can tell "generation ended" from
    * "complete partition whose manifest merge was lost to a racing
    * rewrite" — the latter is someone's landed data and is RE-ADOPTED,
    * never deleted (see [[compact]]). */
  private val ManifestFile = "_manifest"
  private val ManifestHeader = "#graft-manifest-v2"
  private val RetiredPrefix = "retired:"

  /** The store-owned delivery ACKNOWLEDGMENT marker, written into a
    * partition directory AFTER its manifest merge succeeds. Its
    * existence is what [[compact]]'s reclaim pass trusts to distinguish
    * "this delivery's merge succeeded and a later racing rewrite lost
    * the line" (re-adopt — it is landed, once-visible data) from "this
    * write never became visible" (a torn write, or a crash between the
    * data write and the merge — reclaim, consistent with the caller
    * never having been told the delivery landed). Hadoop's `_SUCCESS`
    * marker can NOT play this role: it is written by the parquet commit
    * (before the merge, so it cannot encode visibility) and is disabled
    * entirely on common object-store configs
    * (mapreduce.fileoutputcommitter.marksuccessfuljobs=false). The
    * underscore prefix keeps it invisible to Spark's file discovery. */
  private val AckFile = "_graft_ack"

  private def writeAck(fs: FileSystem, partition: Path): Unit =
    fs.create(new Path(partition, AckFile), true).close()

  /** One parsed manifest: the live set and the retired set, both from a
    * SINGLE read. */
  private case class ManifestState(live: Seq[String], retired: Seq[String])


  private def fsOf(dir: String, conf: Configuration) = {
    val base = new Path(dir)
    (base.getFileSystem(conf), base)
  }

  /** The one read of `_manifest`, None when the directory has none —
    * [[AtomicPublish.readFile]], which the compaction journal and the
    * data-batch cadence counter share. */
  private def manifestState(spark: SparkSession,
      dir: String): Option[ManifestState] = {
    val mf = new Path(dir, ManifestFile)
    AtomicPublish.readFile(spark.sparkContext.hadoopConfiguration, mf)(
      parseManifest(mf, _))
  }

  private def parseManifest(mf: Path,
      in: java.io.InputStream): ManifestState = {
    val lines = scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    require(lines.headOption.contains(ManifestHeader),
      s"$mf is not a fingerprint-store manifest: its first line must be " +
        s"'$ManifestHeader', got '${lines.headOption.getOrElse("")}'")
    val (retired, live) = lines.tail.partition(_.startsWith(RetiredPrefix))
    ManifestState(live, retired.map(_.stripPrefix(RetiredPrefix)))
  }

  private def noManifest(dir: String) = new IllegalStateException(
    s"$dir has no $ManifestFile — not a fingerprint store; init or " +
      "writeDelivery creates one")

  /** The manifest as the WRITERS see it. With no manifest, the store is
    * EMPTY (nothing live, nothing retired) only while no partition in
    * the directory ever became visible — at most a first delivery's torn
    * or unmerged write, which carries no ack. A compacted base or an
    * acked partition without a manifest means the manifest was LOST:
    * [[AtomicPublish.file]] replaces it in one rename, so no publish
    * leaves the store without one, but a `_manifest` can still be
    * deleted from outside. An empty live set would let the next
    * [[compact]]'s reclaim delete every folded base, so the writers
    * refuse instead. */
  private def writerState(spark: SparkSession,
      dir: String): ManifestState =
    manifestState(spark, dir).getOrElse {
      val (fs, base) = fsOf(dir, spark.sparkContext.hadoopConfiguration)
      val onceVisible = fs.exists(base) && fs.listStatus(base).exists { s =>
        val n = s.getPath.getName
        s.isDirectory && n.startsWith("delivery_id=") &&
          (isCompactedBase(n.stripPrefix("delivery_id=")) ||
            fs.exists(new Path(s.getPath, AckFile)))
      }
      if (onceVisible)
        throw new IllegalStateException(
          s"$dir has acknowledged or compacted partitions but no " +
            s"$ManifestFile — the manifest was lost, and writing as if " +
            "the store were empty would reclaim them; restore the deleted " +
            ManifestFile)
      ManifestState(Seq.empty, Seq.empty)
    }

  /** Atomically publish the manifest naming `live` as the live
    * partitions and `retired` as the retained-but-generation-over set. */
  private def writeManifest(conf: Configuration, base: Path,
      live: Seq[String], retired: Seq[String] = Seq.empty): Unit =
    AtomicPublish.file(conf, new Path(base, ManifestFile)) { out =>
      out.write(((ManifestHeader +: live.sorted) ++
        retired.sorted.map(RetiredPrefix + _))
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  /** Add `name` to the manifest's live set — the delivery writers'
    * manifest maintenance: the writer knows exactly which one partition
    * it touched, so it names it instead of trusting the directory (which
    * also holds the previous generation's retained partitions and
    * possibly crash leftovers — none of which may become live). With no
    * manifest yet (`writerState`), the new one lists `name` alone.
    *
    * VERIFIED merge: [[writeManifest]]'s rename-with-overwrite is atomic
    * per write, but not around the read-modify-write — two merges racing
    * (a zombie retry of this writer, two deliveries against one store)
    * can each overwrite the other's name. The verify loop below re-reads
    * after writing and retries until its own name is visible, which
    * heals every race where the competing overwrite lands before the
    * verify read; an overwrite landing AFTER a successful verify still
    * loses the name TRANSIENTLY — but only transiently, because the
    * caller writes the [[AckFile]] marker once the merge returns and
    * [[compact]]'s reclaim pass RE-ADOPTS an unlisted ACKNOWLEDGED
    * partition instead of deleting it, so the race costs
    * visibility-until-next-compact, not data. The one residual
    * exposure is a crash INSIDE the merge→ack window (listed but
    * unacked): compact's ack backfill heals it — every live-listed
    * partition is visible by definition and gets its ack there — so
    * data loss additionally requires the line to be lost BEFORE any
    * compact runs, a double failure inside one delivery's window. A
    * merged name is also removed from the retired set: a compacted
    * delivery's REPLAY re-creates its partition, and a stale
    * retirement line would schedule the replayed write for deletion. */
  private val MaxManifestMergeAttempts = 8
  private def mergeIntoManifest(spark: SparkSession, dir: String,
      name: String): Unit = {
    var attempts = 0
    var visible = false
    while (!visible && attempts < MaxManifestMergeAttempts) {
      attempts += 1
      val st = writerState(spark, dir)
      writeManifest(spark.sparkContext.hadoopConfiguration, new Path(dir),
        (st.live :+ name).distinct,
        retired = st.retired.distinct.filterNot(_ == name))
      visible = manifestState(spark, dir).exists(_.live.contains(name))
    }
    if (!visible)
      throw new IllegalStateException(
        s"manifest merge of $name into $dir lost to concurrent rewrites " +
          s"$MaxManifestMergeAttempts times — concurrent writers are " +
          "contending faster than the verify loop converges")
  }

  /** The store frame (id, phash, delivery_id) resolved through the
    * manifest: exactly its live partitions, by explicit path (`basePath`
    * keeps the delivery_id partition column derivable). Errors for a
    * directory with no manifest. */
  private def resolvedFrame(spark: SparkSession, dir: String): DataFrame = {
    val live = manifestState(spark, dir).getOrElse(throw noManifest(dir)).live
    if (live.nonEmpty)
      spark.read.option("basePath", dir)
        .parquet(live.map(n => new Path(dir, n).toString): _*)
    else
      // an empty LIVE set reads as zero rows of the canonical schema,
      // not a zero-path AnalysisException: no mutation here publishes
      // one, but a hand-repaired manifest can
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("id", LongType),
          StructField("phash", LongType),
          StructField("delivery_id", StringType))))
  }

  /** Initialize (or reset) the store from a hash frame (id, phash) —
    * the whole table is overwritten; the seed rows land in the reserved
    * `__init__` delivery partition (written even when empty, so the
    * store always reads back with its schema), which the new manifest
    * lists alone. */
  def init(hashes: DataFrame, dir: String): Unit = {
    val conf = hashes.sparkSession.sparkContext.hadoopConfiguration
    val (fs, base) = fsOf(dir, conf)
    fs.delete(base, true): Unit
    val seed = partitionPath(dir, InitDelivery)
    hashes.select(col("id"), col("phash"))
      .write.mode("overwrite").parquet(seed.toString)
    writeManifest(conf, base, Seq(seed.getName))
    writeAck(fs, seed)
  }

  /** The store as a frame (id, phash), resolved through the `_manifest`
    * snapshot: the read sees exactly one published layout, never a
    * mid-mutation mix, and never the previous generation's RETAINED
    * partitions. Errors for a directory with no manifest. */
  def read(spark: SparkSession, dir: String): DataFrame =
    resolvedFrame(spark, dir).select(col("id"), col("phash"))

  /** The store with its delivery provenance: (id, phash, delivery_id),
    * resolved as in [[read]]. */
  def readTagged(spark: SparkSession, dir: String): DataFrame =
    resolvedFrame(spark, dir)
      .select(col("id"), col("phash"), col("delivery_id").cast("string"))

  /** The LIVE partition names from the manifest snapshot (delivery ids,
    * `delivery_id=` prefix stripped) — the layout-observability read:
    * unlike a distinct over [[readTagged]], it also counts live EMPTY
    * partitions (a zero-survivor delivery is manifest-listed but
    * contributes no rows). Errors for a directory with no manifest. */
  def livePartitions(spark: SparkSession, dir: String): Seq[String] =
    manifestState(spark, dir).getOrElse(throw noManifest(dir))
      .live.map(_.stripPrefix("delivery_id="))

  /** One delivery through the store: verdicts for every delivered id
    * ([[ImageDedup.incrementalVerdicts]] semantics — dedupe the delivery
    * within itself, then probe the persisted table), then MERGE the
    * surviving (kept) hashes into the caller's own `delivery_id`
    * partition so the next delivery sees them. IDEMPOTENT per
    * `deliveryId`: the probe excludes the caller's partition and the
    * merge overwrites only it, so a replay returns the same verdicts
    * and leaves the store unchanged (class doc). Returns the verdict
    * frame (id, verdict, matched_id, dist), eagerly computed.
    */
  def ingest(spark: SparkSession, dir: String, deliveryId: String,
      deliveryHashes: DataFrame): DataFrame = {
    requireSafeId(deliveryId)
    val delivery = deliveryHashes.select(col("id"), col("phash"))
      .localCheckpoint(true)
    // the probe NEVER sees this delivery's own rows — first run or replay
    val probe = readTagged(spark, dir)
      .filter(col("delivery_id") =!= deliveryId)
      .select(col("id"), col("phash"))
    val verdicts = ImageDedup.incrementalVerdicts(delivery, probe)
      .localCheckpoint(true) // materialize BEFORE mutating the store
    writeDelivery(dir, deliveryId,
      delivery.join(
        verdicts.filter(col("verdict") === "kept").select("id"), Seq("id")))
    verdicts
  }

  /** Land `hashes` (id, phash) as delivery `deliveryId`, REPLACING any
    * prior content of that partition — the overwrite-own-partition merge
    * step of [[ingest]], exposed for writers that computed their verdicts
    * elsewhere: the streaming suppressors' per-micro-batch write-back
    * ([[graft.streaming.PerceptualIngest]]) keys the delivery by its
    * epoch, so a replayed micro-batch lands on the SAME partition and
    * the overwrite gives exactly-once for free. An empty frame still
    * writes a schema-bearing empty file, clearing any partial rows a
    * crashed earlier attempt left behind.
    *
    * The write lands in three ordered steps — data, manifest merge,
    * [[AckFile]] acknowledgment — so a crash at any point is readable
    * from the files: data without ack and without a manifest line was
    * never visible (the next [[compact]] reclaims it, and the caller
    * was never told it landed); an acked partition whose manifest line
    * a later racing rewrite lost is once-visible landed data (compact
    * RE-ADOPTS it). */
  def writeDelivery(dir: String, deliveryId: String,
      hashes: DataFrame): Unit = {
    requireSafeId(deliveryId)
    val partition = partitionPath(dir, deliveryId)
    // mode("overwrite") replaces the whole partition dir, so a replay
    // also clears the prior ack until its own merge re-earns it
    hashes.select(col("id"), col("phash"))
      .write.mode("overwrite").parquet(partition.toString)
    val spark = hashes.sparkSession
    mergeIntoManifest(spark, dir, partition.getName)
    val (fs, _) = fsOf(dir, spark.sparkContext.hadoopConfiguration)
    writeAck(fs, partition)
    // A compact racing this writer's data→merge window (outside the
    // one-mutator contract, or an unprotected in-flight delivery) can
    // reclaim the just-written unlisted-unacked partition; the merge
    // then lists it and writeAck re-creates the directory EMPTY — a
    // manifest line pointing at zero data files, rows silently missing
    // from every read. Detect it here and fail the write instead: the
    // caller replays, and the replay rewrites data before re-merging.
    // (An empty delivery still writes a schema-bearing parquet file,
    // so file-presence is the right test, not row count.)
    val landed =
      try CommittedTable.hasData(spark, partition.toString)
      catch {
        // the racing compact can also delete the whole directory
        // mid-listing — same race, same curated diagnosis
        case _: java.io.FileNotFoundException => false
      }
    if (!landed)
      throw new IllegalStateException(
        s"delivery $deliveryId's data files vanished between write and " +
          s"acknowledgment in $dir — a concurrent compact reclaimed the " +
          "in-flight partition (pass it in compact's `protect`, or keep " +
          "to one mutator at a time); replay the delivery")
  }

  /** Fold old delivery partitions into a single versioned
    * `delivery_id=compacted-N` base — one-partition-per-delivery-forever
    * is a small-file trajectory at ingest cadence (the ext73 lifecycle
    * discipline). The `keepRecent` most recent REAL deliveries (by
    * partition mtime, ties by id — `__init__` and any existing compacted
    * bases always fold) keep their own partitions, so their replay
    * contract is untouched.
    *
    * Contract after compaction:
    *  - store CONTENTS (id, phash) are unchanged (spec-pinned);
    *  - a replay of a RECENT (kept) delivery is still idempotent — its
    *    partition still exists, the probe still excludes it;
    *  - a replay of a COMPACTED delivery is a FRESH ingest against the
    *    full store: its own survivors now live in the base partition the
    *    probe does NOT exclude, so they self-match at distance 0 and the
    *    replay returns dropped_existing for them (evidence = the stored
    *    copy), writes an empty partition under its id, and leaves the
    *    stored (id, phash) set unchanged. Compact a delivery only once
    *    its at-least-once window has passed.
    *
    * Crash safety AND reader retention: the merged base is staged under
    * a dot-prefixed dir (invisible to partition discovery), published by
    * rename to a FRESH VERSIONED name (`compacted-N`, N above every
    * existing base — the previous base is never deleted to make room),
    * and the manifest swapped to the new layout as the mutation's last
    * step — with the folded inputs named on explicit `retired:` lines.
    * They are thus RETAINED on disk for one full generation: a reader
    * that resolved the pre-swap manifest keeps resolving real files for
    * as long as this compaction's outputs are live, because only the
    * NEXT [[compact]] call's opening reclaim pass deletes them — and
    * reclaim deletes ONLY by explicit evidence: the retired set, an
    * unlisted compacted base (a crashed publish; its rows are still live
    * in the old manifest's fold inputs), and unlisted partitions without
    * the [[AckFile]] acknowledgment (torn writes, and deliveries that
    * crashed between the data write and the manifest merge — consistent
    * with their write never having become visible, so a caller that
    * reprocessed the same documents under a new id never probes phantom
    * rows). An unlisted ACKNOWLEDGED delivery partition is the one
    * remaining possibility — once-visible landed data whose manifest
    * line a racing rewrite lost — and is RE-ADOPTED as live instead of
    * deleted, so bookkeeping losing a line can cost visibility until the
    * next compact, never the data. With no manifest in a store none of
    * whose partitions was ever visible (`writerState`), the live and
    * retired sets are empty and the same rule deletes every leftover.
    * A crash at any point therefore leaves either the old manifest
    * layout intact (staging and an unpublished base are invisible; a
    * re-run reclaims and rebuilds) or the new layout plus the retained
    * generation — never a layout any manifest-resolved reader sees
    * torn. (A crash inside the manifest's own local-filesystem replace
    * leaves no manifest at all; readers and writers then refuse rather
    * than guess, so nothing is reclaimed.) NOTE: every compact call reclaims, including one that then
    * finds nothing to fold — so "one generation" means "until the next
    * compact", not "forever".
    *
    * `protect`: delivery ids that keep their partitions REGARDLESS of
    * the recency ranking — recency is mtime-ranked (ties by id), and an
    * mtime tie on a coarse-granularity filesystem could otherwise rank a
    * partition written THIS instant below an older one, folding the one
    * delivery whose replay window is provably open. A caller that knows
    * which delivery is in flight names it here instead of trusting the
    * clock (the streaming write-back protects its current epoch);
    * protecting an id with no partition is a no-op. */
  def compact(spark: SparkSession, dir: String, keepRecent: Int,
      protect: Set[String] = Set.empty): Unit = {
    require(keepRecent >= 0, s"keepRecent must be >= 0, got $keepRecent")
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, base) = fsOf(dir, conf)
    if (!fs.exists(base)) return
    val st = writerState(spark, dir)
    val (live0, retired0) = (st.live.toSet, st.retired.toSet)
    // RECLAIM pass (scaladoc): deletion is by EXPLICIT evidence only —
    //  * `retired:` partitions: the previous compaction's retained
    //    inputs; their generation ends here;
    //  * an unlisted compacted base: a crashed compact published it
    //    without listing it, and its rows are still live in the fold
    //    inputs the old manifest kept;
    //  * an unlisted partition WITHOUT the ack marker: a torn write,
    //    or a delivery that crashed before its manifest merge — either
    //    way never visible, so no reader or prober ever saw its rows.
    // An unlisted ACKNOWLEDGED delivery partition is none of those —
    // once-visible landed data whose manifest line a racing rewrite
    // lost — and is RE-ADOPTED as live instead of deleted: the one
    // wrong direction here is destroying a delivery because
    // bookkeeping lost a line.
    var readopted = Set.empty[String]
    fs.listStatus(base)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("delivery_id=") &&
        !live0.contains(s.getPath.getName))
      .foreach { s =>
        val n = s.getPath.getName
        val acked = fs.exists(new Path(s.getPath, AckFile))
        if (retired0.contains(n) ||
            isCompactedBase(n.stripPrefix("delivery_id=")) || !acked)
          fs.delete(s.getPath, true): Unit
        else readopted += n
      }
    val live = live0 ++ readopted
    // publish the healed layout before folding: re-adopted rows become
    // visible, reclaimed retirement lines drop — an atomic, consistent
    // intermediate state even if the fold below never runs
    if (readopted.nonEmpty || retired0.nonEmpty)
      writeManifest(conf, base, live.toSeq)
    val parts = fs.listStatus(base)
      .filter(s => s.isDirectory && live.contains(s.getPath.getName))
      .map(s => (s.getPath.getName.stripPrefix("delivery_id="), s))
    // ACK BACKFILL: a live-listed partition IS visible — exactly what
    // the ack asserts — so any live partition missing one gets it here:
    // a crash inside writeDelivery's merge→ack window (listed but
    // unacked) heals instead of staying re-adoption-ineligible forever
    parts.foreach { case (_, s) =>
      if (!fs.exists(new Path(s.getPath, AckFile))) writeAck(fs, s.getPath)
    }
    val real = parts.filter { case (id, _) =>
      id != InitDelivery && !isCompactedBase(id) }
    val keep = real.sortBy { case (id, s) => (-s.getModificationTime, id) }
      .take(keepRecent).map(_._1).toSet ++ protect
    val fold = parts.filter { case (id, _) => !keep.contains(id) }
    // folding fewer than two partitions is pure churn (and would
    // needlessly destroy a lone delivery's replay partition) → no-op,
    // files byte-identical
    if (fold.length <= 1) return
    val staging = new Path(dir, ".compact_staging")
    fs.delete(staging, true): Unit
    spark.read.parquet(fold.map(_._2.getPath.toString).toIndexedSeq: _*)
      .select(col("id"), col("phash"))
      // distinct: heals duplicate rows an interrupted prior compaction
      // could have landed in a partially-readable state
      .distinct()
      .write.mode("overwrite").parquet(staging.toString)
    val nextN = fs.listStatus(base).map(_.getPath.getName)
      .filter(_.startsWith(s"delivery_id=$CompactedPrefix-"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(s"delivery_id=$CompactedPrefix-").toLong).toOption)
      .foldLeft(0L)(math.max) + 1
    val target = partitionPath(dir, s"$CompactedPrefix-$nextN")
    AtomicPublish.dirFresh(fs, staging, target)
    // manifest swap is the mutation's LAST step: readers flip atomically
    // from the old layout (inputs listed, new base invisible) to the new
    // one; the folded inputs stay on disk as the retained generation —
    // named on `retired:` lines so the NEXT compact's reclaim pass
    // deletes exactly them and nothing merely unlisted
    writeManifest(conf, base,
      parts.map(_._1).filter(keep.contains).map(id => s"delivery_id=$id") :+
        target.getName,
      retired = fold.map { case (id, _) => s"delivery_id=$id" }.toSeq)
  }
}
