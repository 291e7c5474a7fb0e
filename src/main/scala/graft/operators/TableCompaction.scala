package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.CommittedTable

/** The one way the engine rewrites a committed plain-parquet table in
  * place: stage → journal → swap → heal. The table stays a plain
  * partitioned dir at every committed state, so any engine (the DuckDB
  * oracle included) reads it without a manifest. Two planners feed the
  * protocol:
  *
  *  - [[compactLanded]] / [[compactBacklog]] bin-pack small files. Per
  *    partition directory, first-fit-decreasing packs the committed data
  *    files SMALLER than `targetBytes` into bins of at most `targetBytes`
  *    total, rewrites each bin of ≥ [[MinBinFiles]] files into ONE
  *    fresh-named file in the same directory, and deletes the bin's
  *    sources. Files already ≥ `targetBytes` are never read, rewritten or
  *    moved, so the rewrite cost is bounded by the small-file bytes. Bins
  *    are rewritten by one Spark job per distinct PER-DIRECTORY schema,
  *    never a job that unions schemas across partition dirs. Within a job
  *    the binned files are read as an explicit file list
  *    (`recursiveFileLookup`, so no partition inference re-adds the
  *    dir-encoded columns into the data files), each row routed to its
  *    bin map-side by matching `input_file_name()` against a literal map
  *    keyed by the scan's own path rendering (an unmapped file ⇒
  *    `raise_error`), then ONE shuffle partitioned by bin id writes one
  *    file per bin.
  *  - [[rewrite]] stages `f(rows in scope)`, where the scope is the whole
  *    table or a set of its partition dirs, and journals the move of every
  *    staged file into the scope followed by the deletion of every source
  *    file in it. Retention's filter, the graduated-marker semi-join, the
  *    sweep watermark's fold and the IVF delete's anti-join all run here.
  *
  * Protocol: the planner stages its output under a dot-prefixed staging
  * dir that plain readers cannot see. Then a journal naming every
  * (target, staged, sources) move is atomically published
  * ([[graft.util.AtomicPublish.file]]). Only then does the swap apply the
  * moves in journal order: rename the staged file to its target, then
  * delete that move's sources. A [[rewrite]] journals its publishes first
  * and one delete-only move last, so no source is deleted before every
  * staged file of the run is published.
  *
  * Crash contract — heal FORWARD, never lose, duplicate only inside the
  * crash window. Every run heals a leftover journal first, through the
  * same move application: target present → delete the remaining sources;
  * staged present → finish the rename, then delete; neither → legal only
  * for a bin whose sources all survive (skipped, sources intact), while a
  * move with NO sources (a rewrite's publish) fails loudly before any
  * later move deletes a source. A crash before the journal orphans only
  * the staging dir (reclaimed by the next heal). A crash between a
  * rename and the deletes leaves those rows transiently DUPLICATED, never
  * missing: a reader may see a rewritten row twice during the swap, and
  * never sees it missing. Rewriting row-to-file identity is safe for these
  * tables because none pins file names; a table whose exactly-once story
  * does — a streaming file-sink output with a `_spark_metadata` log — is
  * REFUSED loudly.
  *
  * Concurrency contract: single-writer maintenance window. Run between
  * micro-batches (or in foreachBatch's exclusive window); a reader
  * concurrent with nothing sees only committed plain-parquet states.
  *
  * Driver-memory bound at extreme file counts: the plan (one recursive
  * listing, the bins, the file→bin literal map) is driver-side metadata
  * sized by the files one run touches. `table` may be ANY directory, and
  * the journal, staging and heal are all per-root, so runs over disjoint
  * subtrees compose. [[compactBacklog]] applies that bound automatically:
  * it probes the file count with an EARLY-EXIT listing (never more than
  * `budgetFiles`+1 entries held), and a subtree over budget recurses into
  * its visible child directories — healing any journal a prior
  * differently-sharded run left at the intermediate root, then compacting
  * the root's own direct files as one scoped leaf. A single FLAT
  * directory over budget cannot shard below its own file count and
  * compacts as one leaf.
  */
object TableCompaction {

  /** One compaction run's accounting: committed data files before/after,
    * bins rewritten (including zero-row delete-only bins), source bytes
    * rewritten, and journal bins healed forward from a prior crash. */
  final case class CompactStats(
      filesBefore: Long,
      filesAfter: Long,
      binsWritten: Long,
      bytesRewritten: Long,
      healedBins: Long)

  /** The one default fold target, shared with the streaming cadence
    * knobs so the in-stream fold and the out-of-band operator cannot
    * silently drift apart. */
  val DefaultTargetBytes: Long = 128L << 20

  private val JournalName = ".compact_journal"
  private val JournalMagic = "GRAFT_COMPACT_JOURNAL_V1"
  private val StagingPrefix = ".compact_staging_"
  private val BinCol = "__graft_bin"

  /** One journaled move, paths relative to the table root. target == ""
    * marks a DELETE-ONLY move: a bin whose every source was verified
    * zero-row before journaling (dynamic partitionBy writes no file for
    * an empty bin), or a [[rewrite]]'s closing deletion of its scope.
    * A move with no sources is a [[rewrite]]'s publish. */
  private final case class Move(
      target: String, staged: String, sources: Seq[String])

  /** Thrown by the crash seam in place of a process death. */
  private final class SimulatedCrash extends RuntimeException

  private val crashAfterRenames = new ThreadLocal[Option[Int]] {
    override def initialValue(): Option[Int] = None
  }

  private def crashPoint(renames: Int): Unit =
    if (crashAfterRenames.get.contains(renames)) throw new SimulatedCrash

  /** The one crash-injection seam every in-place rewrite shares: run
    * `body` on this thread with the swap stopping, as a crash would, once
    * the journal is published and `renames` staged files are renamed in
    * (0 = right after the journal's publish; the k-th rename's own
    * source deletes have not run). True iff the run reached that point.
    * Production code never calls this. */
  private[graft] def crashingAfter(renames: Int)(body: => Any): Boolean = {
    crashAfterRenames.set(Some(renames))
    try { body; false }
    catch { case _: SimulatedCrash => true }
    finally crashAfterRenames.remove()
  }

  /** Filesystem + QUALIFIED root for `table`, resolved once at every
    * public entry: a relative table path would otherwise make the
    * hidden-ancestor walk compare relative against absolute (every file
    * silently classified hidden under a dotted cwd) and the journal
    * relativization throw. */
  private def fsAndRoot(
      spark: SparkSession, table: String): (FileSystem, Path) = {
    val p = new Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** Committed data files grouped by their immediate parent dir (the
    * partition leaf for `partitionBy` layouts; the root itself for flat
    * tables), PLUS every `.compact_journal` found strictly BELOW the
    * root (a crashed CHILD-scoped run — a [[compactBacklog]]
    * shard, or a user's own per-subtree maintenance — leaves its journal
    * at the child, where a later run scoped at THIS root would neither
    * heal it nor see that the child's published bins and stale undeleted
    * sources are half of one swap; planning over that listing re-bins
    * the duplicates as data, permanently). ONE recursive listing — the
    * run's only full walk of a table whose motivating problem is file
    * count. The listing ALSO refuses a `_spark_metadata` file-sink log
    * found BELOW the root: the ancestor walk at the public entries
    * only looks UP, so a sink table nested inside the given root would
    * otherwise have its part files rewritten — same desync, opposite
    * direction. The log's own files surface it here (its dir holds batch
    * files the recursive listing visits), one O(depth) walk per listed
    * file, the walk [[CommittedTable.isCommittedDataFile]] pays anyway. */
  private def listCommitted(
      fs: FileSystem, root: Path): (Map[Path, Seq[FileStatus]], Seq[Path]) = {
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer[FileStatus]()
    val journals = scala.collection.mutable.ArrayBuffer[Path]()
    while (it.hasNext) {
      val f = it.next()
      var cur = f.getPath.getParent
      while (cur != null && cur.toUri.getPath != root.toUri.getPath) {
        require(cur.getName != "_spark_metadata",
          s"${cur.getParent} (under $root) is a streaming file-sink " +
            "table (_spark_metadata): its readers resolve the file list " +
            "through the log — compact the sink's OUTPUT only via a " +
            "log-aware rewrite, not this operator")
        cur = cur.getParent
      }
      if (f.getPath.getName == JournalName &&
          f.getPath.getParent.toUri.getPath != root.toUri.getPath)
        journals += f.getPath
      if (CommittedTable.isCommittedDataFile(root, f)) buf += f
    }
    (buf.toSeq.groupBy(_.getPath.getParent), journals.toSeq)
  }

  /** Count of committed data files: the one committed-file predicate
    * the lifecycle entries and the sweep watermark's fold trigger read. */
  def committedDataFiles(spark: SparkSession, table: String): Long = {
    val (fs, root) = fsAndRoot(spark, table)
    if (!fs.exists(root)) 0L
    else listCommitted(fs, root)._1.valuesIterator.map(_.size.toLong).sum
  }

  /** First-fit-decreasing over the files smaller than `targetBytes`:
    * descending by size, each file lands in the first bin it fits (sum ≤
    * `targetBytes`) or opens a new one; bins that end up with fewer than
    * [[MinBinFiles]] files are dropped (rewriting one file buys nothing). */
  private def planBins(files: Seq[FileStatus],
      targetBytes: Long): Seq[Seq[FileStatus]] = {
    final class Bin { var size = 0L
      val members = scala.collection.mutable.ArrayBuffer[FileStatus]() }
    val bins = scala.collection.mutable.ArrayBuffer[Bin]()
    for (f <- files.filter(_.getLen < targetBytes).sortBy(-_.getLen)) {
      val bin = bins.find(_.size + f.getLen <= targetBytes).getOrElse {
        val b = new Bin; bins += b; b
      }
      bin.size += f.getLen
      bin.members += f
    }
    bins.toSeq.map(_.members.toSeq).filter(_.size >= MinBinFiles)
  }

  /** A bin of fewer files would rewrite a lone file for no layout gain. */
  private val MinBinFiles = 2

  /** The scan-side rendering of a file path — the EXACT string
    * `input_file_name()` reports for rows read from this file
    * (`FileScanRDD` publishes `PartitionedFile.urlEncodedPath`, built by
    * `SparkPath.fromFileStatus` during listing), so the file→bin map
    * joins on identity with no normalization to get wrong across
    * schemes, authorities, or percent-encoded names. */
  private def scanKey(f: FileStatus): String =
    org.apache.spark.paths.SparkPath.fromFileStatus(f).urlEncoded

  private def relativize(root: Path, p: Path): String = {
    val r = root.toUri.getPath.stripSuffix("/") + "/"
    val c = p.toUri.getPath
    require(c.startsWith(r), s"$p is not under $root")
    c.substring(r.length)
  }

  /** The journaled moves, empty when no journal was published. */
  private def readMoves(
      conf: org.apache.hadoop.conf.Configuration,
      journal: Path): Seq[Move] =
    graft.util.AtomicPublish.readFile(conf, journal,
      Some(JournalMagic)) { in =>
      Seq.fill(in.readInt()) {
        val target = in.readUTF()
        val staged = in.readUTF()
        Move(target, staged, Seq.fill(in.readInt())(in.readUTF()))
      }
    }.getOrElse(Seq.empty)

  /** Apply journaled moves in order — the one swap, run right after the
    * journal's publish and again by every heal (class doc). The journal
    * is written only after every file is staged, so "neither staged nor
    * published" is unreachable by the protocol; it is still defended:
    * a bin whose sources all survive is skipped, anything else surfaces,
    * and the throw stops the run before a later move deletes a source. */
  private def applyMoves(fs: FileSystem, root: Path, moves: Seq[Move]): Unit = {
    var renamed = 0
    for (m <- moves) {
      val sources = m.sources.map(new Path(root, _))
      val published = m.target.isEmpty || {
        val target = new Path(root, m.target)
        val staged = new Path(root, m.staged)
        if (fs.exists(target)) true
        else if (fs.exists(staged)) {
          fs.mkdirs(target.getParent): Unit
          require(fs.rename(staged, target),
            s"in-place rewrite: failed to publish $staged -> $target")
          renamed += 1
          crashPoint(renamed)
          true
        } else {
          require(sources.nonEmpty && sources.forall(fs.exists),
            s"in-place rewrite: the move to $target has neither staged " +
              "nor published file and its sources do not all survive — " +
              "manual recovery required")
          false
        }
      }
      if (published) sources.foreach(s => fs.delete(s, false): Unit)
      // a partition dir a delete-only move emptied (an IVF list whose
      // every id was tombstoned) goes too: no reader lists a rowless dir
      if (m.target.isEmpty)
        sources.map(_.getParent).distinct.foreach { d =>
          var dir = d
          while (dir.toUri.getPath != root.toUri.getPath &&
              fs.exists(dir) && fs.listStatus(dir).isEmpty) {
            fs.delete(dir, true): Unit
            dir = dir.getParent
          }
        }
    }
  }

  /** Publish the journal, then swap (class doc). On return the table
    * holds the planner's output and no protocol state. */
  private def publishAndSwap(
      spark: SparkSession, root: Path, moves: Seq[Move], staging: Path): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    graft.util.AtomicPublish.file(conf, new Path(root, JournalName),
      Some(JournalMagic)) { out =>
      out.writeInt(moves.size)
      moves.foreach { m =>
        out.writeUTF(m.target); out.writeUTF(m.staged)
        out.writeInt(m.sources.size); m.sources.foreach(out.writeUTF)
      }
    }
    crashPoint(0)
    applyMoves(fs, root, moves)
    fs.delete(new Path(root, JournalName), false): Unit
    fs.delete(staging, true): Unit
  }

  /** Heal a leftover journal FORWARD (class doc), then reclaim orphaned
    * staging dirs. Returns the number of journaled moves processed; 0
    * when no journal existed. Runs first in every run over `table`. */
  private[graft] def healJournal(
      spark: SparkSession, table: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, root) = fsAndRoot(spark, table)
    if (!fs.exists(root)) return 0L
    val journal = new Path(root, JournalName)
    // a hard kill inside the journal's own publish leaves only its
    // dot-temp: the publish lands whole or not at all, so no journal
    // means nothing was moved
    val moves = readMoves(conf, journal)
    applyMoves(fs, root, moves)
    if (moves.nonEmpty) fs.delete(journal, false): Unit
    // any staging dir is now an orphan (single-writer window): a crash
    // before its journal left sources intact; after, the heal above
    // consumed what it needed
    Option(fs.globStatus(new Path(root, s"$StagingPrefix*")))
      .getOrElse(Array.empty)
      .foreach(st => fs.delete(st.getPath, true): Unit)
    moves.size.toLong
  }

  /** Run one compaction pass over `table` (class doc for the protocol,
    * crash and concurrency contracts). No-op — beyond healing any
    * leftover journal — when no directory holds ≥ [[MinBinFiles]] files
    * smaller than `targetBytes`, so the pass is idempotent: a second run
    * over an already-compacted table rewrites nothing and every file is
    * byte-identical. */
  def compactLanded(
      spark: SparkSession,
      table: String,
      targetBytes: Long = DefaultTargetBytes): CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val (fs, root) = fsAndRoot(spark, table)
    refuseFileSinkAncestors(fs, root)
    compactScoped(spark, fs, root, targetBytes)
  }

  /** [[compactLanded]] with an automatic driver-memory bound (class
    * doc): when the committed-file count under `table`
    * exceeds `budgetFiles` (probed with an early-exit listing that never
    * holds more than `budgetFiles`+1 entries), the run recurses per
    * visible child directory — partition subtrees in a `partitionBy`
    * layout — and compacts each bounded subtree as its own scoped run
    * (own journal, own staging, own heal; they compose by construction).
    * An intermediate root's leftover journal from a prior
    * differently-sharded run is healed on the way down, and its DIRECT
    * files (rare outside flat tables) compact as one leaf at that root.
    * Equivalent to [[compactLanded]] when under budget; a FLAT
    * over-budget directory cannot shard below its own file count and
    * compacts as one leaf. Same single-writer window — one call, many
    * scoped runs, each owning its subtree. */
  def compactBacklog(
      spark: SparkSession,
      table: String,
      targetBytes: Long = DefaultTargetBytes,
      budgetFiles: Int = 100000): CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(budgetFiles >= 1, s"budgetFiles must be >= 1, got $budgetFiles")
    val (fs, root) = fsAndRoot(spark, table)
    refuseFileSinkAncestors(fs, root)
    shardOne(spark, fs, root, targetBytes, budgetFiles)
  }

  private def shardOne(
      spark: SparkSession, fs: FileSystem, root: Path,
      targetBytes: Long, budgetFiles: Int): CompactStats = {
    if (!fs.exists(root)) return CompactStats(0L, 0L, 0L, 0L, 0L)
    if (!committedFilesExceed(fs, root, budgetFiles))
      return compactScoped(spark, fs, root, targetBytes)
    // over budget: heal THIS root's protocol state first (a prior
    // unsharded — or differently-budgeted — run may have crashed with
    // its journal here; subtree runs heal only their own roots), then
    // recurse per visible child dir and finish with the root's direct
    // files as one scoped leaf
    val healed = healJournal(spark, root.toString)
    val children = fs.listStatus(root)
      .filter(st => st.isDirectory &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
    val fromChildren = children.map { child =>
      // a streaming file-sink table NESTED below the given root would be
      // waved through by the ancestor walk (it only looks up) — refuse
      // it here with the same contract before recursing into it
      require(!fs.exists(new Path(child.getPath, "_spark_metadata")),
        s"${child.getPath} carries a streaming file-sink log " +
          "(_spark_metadata): its readers resolve the file list through " +
          "the log — compact the sink's OUTPUT only via a log-aware " +
          "rewrite, not this operator")
      shardOne(spark, fs, child.getPath, targetBytes, budgetFiles)
    }
    val direct = fs.listStatus(root)
      .filter(st => CommittedTable.isCommittedDataFile(root, st)).toSeq
    val fromDirect =
      if (direct.isEmpty) CompactStats(0L, 0L, 0L, 0L, 0L)
      else compactFrom(spark, fs, root, Map(root -> direct), targetBytes,
        healedAtRoot = 0L)
    (fromChildren :+ fromDirect).foldLeft(
      CompactStats(0L, 0L, 0L, 0L, healed)) { (a, b) =>
      CompactStats(a.filesBefore + b.filesBefore,
        a.filesAfter + b.filesAfter, a.binsWritten + b.binsWritten,
        a.bytesRewritten + b.bytesRewritten, a.healedBins + b.healedBins)
    }
  }

  /** True iff more than `budgetFiles` committed data files live under
    * `root` — an EARLY-EXIT count: the listing iterator stops at
    * budget+1, so probing a 10⁶-file backlog against a 10⁴ budget holds
    * 10⁴+1 entries, never the backlog. */
  private def committedFilesExceed(
      fs: FileSystem, root: Path, budgetFiles: Int): Boolean = {
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) {
      if (CommittedTable.isCommittedDataFile(root, it.next())) {
        n += 1
        if (n > budgetFiles) return true
      }
    }
    false
  }

  /** The refusal walk shared by every public entry: no `_spark_metadata`
    * file-sink log at the root or ANY ancestor — the class doc
    * recommends per-partition-subtree runs, and a subtree of a sink
    * table carries the log at an ANCESTOR, so a root-only probe would
    * wave the subtree through and desync the log's exactly-once readers
    * all the same. The walk errs in the SAFE direction: an
    * unrelated sink cohabiting a shared ancestor (a _spark_metadata
    * directly under /tmp or a bucket root) refuses unrelated tables
    * beneath it too — a false-positive DENIAL, named in the message so
    * the operator points at the fix (move the table out from under the
    * sink) instead of reading as its own bug. */
  private def refuseFileSinkAncestors(fs: FileSystem, root: Path): Unit = {
    var probe: Path = root
    while (probe != null) {
      require(!fs.exists(new Path(probe, "_spark_metadata")),
        s"$probe carries a streaming file-sink log (_spark_metadata): " +
          "its readers resolve the file list through the log, so " +
          "rewriting files underneath it desyncs exactly-once reads — " +
          "compact the sink's OUTPUT only via a log-aware rewrite, not " +
          "this operator. (If this log belongs to an UNRELATED sink " +
          s"cohabiting a shared ancestor of $root, the refusal is a " +
          "deliberate false positive — relocate the table outside the " +
          "sink's tree.)")
      probe = probe.getParent
    }
  }

  /** Heal `root`, then list its committed data files by dir. Any
    * `.compact_journal` the listing finds BELOW the root is a crashed
    * NARROWER-scoped run's protocol state (a backlog shard, a per-subtree
    * maintenance run): heal each at ITS OWN root first — deepest first,
    * each heal is confined to its subtree — and re-list, so half-swapped
    * child state (published file + stale sources + live journal) is never
    * planned over as committed data (rewriting both halves duplicates the
    * rows permanently). Returns the moves healed and the listing. */
  private def healAndList(spark: SparkSession, fs: FileSystem,
      root: Path): (Long, Map[Path, Seq[FileStatus]]) = {
    var healed = healJournal(spark, root.toString)
    if (!fs.exists(root)) return (healed, Map.empty)
    val (byDir, nested) = listCommitted(fs, root)
    if (nested.isEmpty) return (healed, byDir)
    nested.sortBy(-_.toUri.getPath.length)
      .foreach(j => healed += healJournal(spark, j.getParent.toString))
    val again = listCommitted(fs, root)
    // healJournal deletes every journal it processes, so a survivor
    // means an unreadable/empty journal — surface it, never plan over
    // a subtree whose protocol state can't be resolved
    require(again._2.isEmpty,
      s"compaction: nested journal(s) survive healing under $root: " +
        s"${again._2.mkString(", ")} — manual recovery required")
    (healed, again._1)
  }

  /** One scoped run at `root`: heal, list, compact — [[compactLanded]]
    * minus the ancestor refusal (done once per public call), shared by
    * [[compactBacklog]]'s bounded leaves. */
  private def compactScoped(
      spark: SparkSession, fs: FileSystem, root: Path,
      targetBytes: Long): CompactStats = {
    val (healed, byDir) = healAndList(spark, fs, root)
    compactFrom(spark, fs, root, byDir, targetBytes, healed)
  }

  /** The plan → stage → journal → swap tail over an explicit `byDir`
    * listing (class doc for the protocol and crash contract). */
  private def compactFrom(
      spark: SparkSession, fs: FileSystem, root: Path,
      byDir: Map[Path, Seq[FileStatus]], targetBytes: Long,
      healedAtRoot: Long): CompactStats = {
    val filesBefore = byDir.valuesIterator.map(_.size.toLong).sum
    stageBins(spark, root, byDir, targetBytes) match {
      case None =>
        CompactStats(filesBefore, filesBefore, 0L, 0L, healedAtRoot)
      case Some((moves, rewrittenBytes, staging)) =>
        publishAndSwap(spark, root, moves, staging)
        // accounting off the run's own moves, not a second full listing
        // (the table's motivating problem IS its file count): every
        // source deleted, every non-empty target published
        CompactStats(
          filesBefore = filesBefore,
          filesAfter = filesBefore -
            moves.iterator.map(_.sources.size.toLong).sum +
            moves.count(_.target.nonEmpty).toLong,
          binsWritten = moves.size.toLong,
          bytesRewritten = rewrittenBytes,
          healedBins = healedAtRoot)
    }
  }

  /** The bin-packing planner: plan and stage the bins of `byDir`. None
    * when no directory holds a qualifying bin; otherwise the moves to
    * journal, the source bytes they rewrite, and the staging dir. The
    * live table is untouched. */
  private def stageBins(
      spark: SparkSession, root: Path,
      byDir: Map[Path, Seq[FileStatus]],
      targetBytes: Long): Option[(Seq[Move], Long, Path)] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bins: Seq[(Int, Seq[FileStatus])] = byDir.toSeq
      .sortBy { case (dir, _) => dir.toUri.getPath }
      .flatMap { case (_, files) => planBins(files, targetBytes) }
      .zipWithIndex.map(_.swap)
    if (bins.isEmpty) return None

    val runId = java.util.UUID.randomUUID().toString.take(12)
    val staging = new Path(root, s"$StagingPrefix$runId")
    // one staging job per distinct PER-DIR schema (class doc): a dir's
    // bins ride a job whose schema is the merge of exactly that dir's
    // binned files, so no bin's rewrite can absorb a column from a
    // SIBLING dir's schema drift; for the fixed-schema landing tables
    // this is one group — one job — total
    val binnedByDir: Map[Path, Seq[FileStatus]] = bins.flatMap(_._2)
      .groupBy(_.getPath.getParent)
    val dirSchema: Map[Path, org.apache.spark.sql.types.StructType] =
      binnedByDir.map { case (dir, members) =>
        dir -> spark.read
          .option("recursiveFileLookup", "true")
          .option("mergeSchema", "true")
          .parquet(members.map(_.getPath.toString): _*)
          .schema
      }
    val groups: Seq[Seq[(Int, Seq[FileStatus])]] = bins
      .groupBy { case (_, members) =>
        dirSchema(members.head.getPath.getParent).json
      }
      .toSeq.sortBy(_._1).map(_._2)
    for (group <- groups) {
      val schema = dirSchema(group.head._2.head.getPath.getParent)
      require(!schema.fieldNames.contains(BinCol),
        s"compactLanded: table carries a column named $BinCol, which " +
          "the bin-routing write would overwrite and then drop — " +
          "rename the column or compact this table another way")
      val pathToBin: Map[String, Int] = group.flatMap { case (i, members) =>
        members.map(f => scanKey(f) -> i)
      }.toMap
      spark.read
        .option("recursiveFileLookup", "true")
        .schema(schema)
        .parquet(group.flatMap(_._2).map(_.getPath.toString): _*)
        .withColumn(BinCol,
          element_at(typedlit(pathToBin), input_file_name()))
        .withColumn(BinCol,
          when(col(BinCol).isNull,
            raise_error(concat(lit("compactLanded: unmapped input file "),
              input_file_name())))
            .otherwise(col(BinCol)))
        .repartition(group.size, col(BinCol))
        .write.partitionBy(BinCol).mode("append")
        // a session-level maxRecordsPerFile would split a large bin into
        // several staged parts and wedge the one-file-per-bin invariant
        .option("maxRecordsPerFile", 0)
        .parquet(staging.toString)
    }

    // resolve each bin's single staged part file; a bin whose files were
    // all zero-row produced none (dynamic partitionBy writes only
    // partitions with rows) — verify that emptiness from the actual
    // bytes, then journal it delete-only
    val moves: Seq[Move] = bins.map { case (i, members) =>
      val binDir = new Path(staging, s"$BinCol=$i")
      val parts = Option(fs.globStatus(new Path(binDir, "part-*.parquet")))
        .getOrElse(Array.empty)
      val sources = members.map(f => relativize(root, f.getPath))
      if (parts.isEmpty) {
        require(spark.read
            .option("recursiveFileLookup", "true")
            .parquet(members.map(_.getPath.toString): _*).isEmpty,
          s"compactLanded: bin $i staged no file but its sources hold rows")
        Move("", "", sources)
      } else {
        require(parts.length == 1,
          s"compactLanded: bin $i staged ${parts.length} files (expected 1)")
        val dir = members.head.getPath.getParent
        Move(
          relativize(root, new Path(dir, s"compacted-$runId-$i.parquet")),
          relativize(root, parts.head.getPath),
          sources)
      }
    }

    Some((moves, bins.iterator.flatMap(_._2).map(_.getLen).sum, staging))
  }

  /** The rewrite planner (class doc): replace the committed rows under
    * `scope` — sub-directories of `table` relative to its root, or the
    * whole table when empty — with `f` of those rows, written
    * `partitionBy` the given columns (restate the table's own partition
    * columns, or the layout changes). The rows are read from exactly the
    * listed source files through `spark`, so the caller's session conf
    * (partition-column inference included) governs the read. Heals a
    * leftover journal first. False, with nothing staged, when the scope
    * holds no committed data file. */
  private[graft] def rewrite(spark: SparkSession, table: String,
      partitionBy: Seq[String] = Nil, scope: Seq[String] = Nil)(
      f: DataFrame => DataFrame): Boolean = {
    val (fs, root) = fsAndRoot(spark, table)
    refuseFileSinkAncestors(fs, root)
    val sources = healAndList(spark, fs, root)._2.valuesIterator.flatten
      .filter { st =>
        val rel = relativize(root, st.getPath)
        scope.isEmpty || scope.exists(d => rel.startsWith(d.stripSuffix("/") + "/"))
      }.toSeq.sortBy(_.getPath.toUri.getPath)
    if (sources.isEmpty) return false
    val staging = new Path(root,
      StagingPrefix + java.util.UUID.randomUUID().toString.take(12))
    val w = f(spark.read.option("basePath", root.toString)
      .parquet(sources.map(_.getPath.toString): _*)).write
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(staging.toString)
    // every staged file publishes at its own path under the root (Spark's
    // part names carry the write job's id, so they never collide), then
    // ONE delete-only move retires the whole scope
    val publishes = listCommitted(fs, staging)._1.valuesIterator.flatten
      .toSeq.sortBy(_.getPath.toUri.getPath).map { st =>
        val target = relativize(staging, st.getPath)
        require(!fs.exists(new Path(root, target)),
          s"in-place rewrite: $target already exists under $root")
        Move(target, relativize(root, st.getPath), Nil)
      }
    publishAndSwap(spark, root,
      publishes :+ Move("", "", sources.map(st => relativize(root, st.getPath))),
      staging)
    true
  }
}
