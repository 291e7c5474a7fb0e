package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** THE staged-publish skeleton: three protocols, each encoding a
  * different (and deliberate) guarantee:
  *
  *  - [[file]] — atomic single-file publish-with-replace: write a
  *    dot-prefixed temp (invisible to both directory listings and Spark
  *    discovery), then `FileContext.rename(OVERWRITE)` — the only rename
  *    in the Hadoop API that may atomically replace an existing target
  *    (plain `FileSystem.rename` refuses when the target exists, which
  *    is exactly what pushes callers toward the broken delete-first
  *    shape). A reader sees the old bytes or the new bytes, never a
  *    missing or half-written file. An optional MAGIC header is written
  *    first and verified by [[readFile]], so a foreign or truncated file
  *    rejects instead of mis-parsing. [[readFile]], behind a
  *    [[confirmedAbsent]] check for files that may never have been
  *    published, is the one way back in: the fingerprint store's
  *    manifest, the compaction journal, the data-batch cadence counter
  *    and the persisted Bloom index all read through it.
  *  - [[dirFresh]] — directory publish to a FRESH target (versioned
  *    names): a plain rename guarded by `!exists`, because the caller's
  *    crash-safety story depends on never replacing an existing
  *    generation (the fingerprint store's `compacted-N` bases).
  *  - [[replaceDir]] — directory replace (delete target, rename staged
  *    in). NOT atomic — HDFS has no atomic directory swap — so this is
  *    only for callers that bracket the swap with their own marker
  *    protocol and heal on restart ([[graft.operators.VectorIndex]]'s
  *    `.swap_pending` discipline); the helper keeps the two steps in one
  *    audited place rather than pretending the gap away.
  */
object AtomicPublish {

  /** Dot-prefixed sibling temp path for `target` — invisible to
    * directory listings, partition discovery, and `_`-respecting Spark
    * readers alike. UNIQUELY NAMED per publish: concurrent publishers
    * of the same target (the fingerprint store's verified manifest
    * merge races by design) must never share a staging file — with a
    * fixed name, one writer's create TRUNCATES the other's in-flight
    * temp and the loser's rename publishes the winner's half-written
    * bytes as a torn target. Unique temps make each publish atomic
    * independently; last rename wins, which is exactly the semantics
    * read-modify-write retry loops assume. A crashed publish can
    * orphan its temp — dot-invisible and bytes-small; harmless. */
  private def tmpFor(target: Path): Path =
    new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID().toString.take(12)}.tmp")

  /** Temps older than this are treated as ORPHANS (a publisher
    * hard-killed between create and rename — the catch-cleanup in
    * [[file]] never ran) and stop counting as in-flight evidence: a
    * live publish holds its temp for milliseconds, so a 10-minute-old
    * one is not a publish this probe could usefully wait for, and
    * without the age-out one orphan would tax every
    * [[existsOrInFlight]] fast path on that target forever. Orphans
    * are ignored, not reaped — deleting a foreign temp could truncate
    * a pathologically slow LIVE publish. */
  private[graft] val OrphanTempHorizonMs = 10L * 60 * 1000

  /** `target` exists OR a [[file]] publish of it is observably in
    * flight (a FRESH dot-temp sibling, [[tmpFor]]'s naming) — decided
    * from ONE parent-directory listing, not sequential exists/glob
    * probes: on Hadoop's LOCAL fs `FileContext.rename(OVERWRITE)` is
    * delete-then-rename, and at every instant of that protocol either
    * the target or the publisher's temp is present (the final POSIX
    * rename swaps them atomically) — whereas two sequential
    * single-name probes could each land in a different publish's
    * window and miss both. One listing is still not a snapshot,
    * though: a readdir racing the temp→target rename can miss BOTH
    * names of a durably published target, so an ABSENCE verdict is
    * only trusted through [[confirmedAbsent]]'s consecutive-listings
    * discipline; a positive answer here needs no second look. */
  private[graft] def existsOrInFlight(fs: FileSystem, target: Path): Boolean = {
    val statuses =
      try Option(fs.globStatus(new Path(target.getParent,
          s"{${target.getName},.${target.getName}.*.tmp}")))
        .getOrElse(Array.empty)
      catch { case _: java.io.IOException => return fs.exists(target) }
    val now = System.currentTimeMillis()
    statuses.exists(st =>
      st.getPath.getName == target.getName ||
        now - st.getModificationTime < OrphanTempHorizonMs)
  }

  /** `target` is confirmed ABSENT — neither present nor observably
    * mid-publish — by TWO consecutive [[existsOrInFlight]] listings: a
    * directory listing racing the temp→target rename is not atomic
    * (readdir can miss an entry mid-rename), so one listing can answer
    * "neither" for a durably PUBLISHED target; for two back-to-back
    * listings to both miss, two distinct renames must each straddle
    * their own listing. No sleeps — both listings are cheap readdirs,
    * so the genuinely-never-published fast path stays fast. */
  private[graft] def confirmedAbsent(fs: FileSystem, target: Path): Boolean =
    !existsOrInFlight(fs, target) && !existsOrInFlight(fs, target)

  /** Atomically publish a single file at `target`, replacing any
    * existing one: `write` fills a dot-prefixed temp, then
    * `FileContext.rename(OVERWRITE)` swaps it in. `magic` (when given)
    * is written first via `writeUTF` and demanded back by [[readFile]].
    *
    * CONCURRENT publishers of one target are absorbed, not surfaced
    * (last complete publish wins — the semantics read-modify-write
    * retry loops assume): the local/Checksum FileContext implements
    * OVERWRITE as validate → delete(target) → plain rename with no lock
    * across the steps, and on ChecksumFs the data file and its `.crc`
    * sidecar move in TWO renames — so a racing publish can (a) land the
    * target back inside our delete→rename window, surfacing as
    * FileAlreadyExists despite the OVERWRITE flag, and (b) do so on the
    * CRC leg after our data rename already CONSUMED our temp, leaving
    * the target torn (new bytes, stale sidecar). Both heal the same
    * way: the payload is buffered once (these are metadata-scale files —
    * manifests, markers, sketch indexes), and each bounded retry
    * re-stages a FRESH temp and re-runs the whole overwrite-rename,
    * which republishes data AND sidecar together; a genuinely stuck
    * filesystem still surfaces on the last attempt. Caught live by
    * FingerprintStoreSpec's racing-writers run; reproduced by
    * PublishProbesSpec's racing-publishers hammer. */
  def file(conf: Configuration, target: Path,
      magic: Option[String] = None)(
      write: java.io.DataOutputStream => Unit): Unit = {
    val fs = target.getFileSystem(conf)
    val payload = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bytes)
      magic.foreach(out.writeUTF)
      write(out)
      out.close()
      bytes.toByteArray
    }
    val fc = FileContext.getFileContext(fs.makeQualified(target).toUri, conf)
    var attempt = 0
    while (true) {
      attempt += 1
      val tmp = tmpFor(target)
      try {
        val out = fs.create(tmp, true)
        try out.write(payload) finally out.close()
        fc.rename(tmp, target, Options.Rename.OVERWRITE)
        return
      } catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException
            if attempt < 8 =>
          val _ = e // the racing-publish window (scaladoc) — re-stage
          scala.util.Try(fs.delete(tmp, false))
          Thread.sleep(5L * attempt)
        // unique temp names mean no later publish overwrites an orphan —
        // a failed publish must clean its own staging or a retried-on-a-
        // schedule writer accumulates temps without bound
        case t: Throwable =>
          scala.util.Try(fs.delete(tmp, false))
          throw t
      }
    }
  }

  /** Retry `op` bounded times over the two transient windows a
    * concurrent [[file]] publish opens for readers on filesystems
    * without a truly atomic rename-with-overwrite (HDFS has one;
    * Hadoop's LOCAL filesystem implements it delete-then-rename, and
    * checksummed filesystems swap the data file and its `.crc` sidecar
    * in two renames): ChecksumException (new bytes against the old
    * sidecar) and FileNotFoundException (the delete-then-rename blink).
    * Both converge as soon as the writer's rename lands; the real error
    * — corruption, a genuinely missing file — still surfaces, on the
    * last attempt. The ONE shared retry core: every [[readFile]] rides
    * it, so tuning it for an object store cannot silently miss a
    * hand-rolled copy. */
  private[graft] def withReadRetries[A](maxAttempts: Int = 8,
      retryFnfIf: () => Boolean = () => true)(
      op: () => A): A = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return op()
      catch {
        case e: org.apache.hadoop.fs.ChecksumException
            if attempt < maxAttempts =>
          val _ = e // transient mid-publish sidecar skew — retry
          Thread.sleep(25L * attempt)
        // the probe runs AT FNF TIME, inside the very window it must
        // witness (an in-flight publish's temp exists during the
        // delete-then-rename blink that threw this), and per attempt —
        // so the happy path pays zero extra I/O and a never-published
        // file rethrows on the first attempt with zero sleeps
        case e: java.io.FileNotFoundException
            if attempt < maxAttempts && retryFnfIf() =>
          val _ = e // the delete-then-rename absence blink — retry
          Thread.sleep(25L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Read a file published by [[file]], verifying its magic header when
    * one was written: a file that is not `magic`'s format rejects with
    * the header it DID carry instead of mis-parsing into silent garbage.
    *
    * Reads through [[withReadRetries]]: transient mid-publish races
    * with a concurrent re-save (checksum-sidecar skew, the
    * delete-then-rename absence blink) retry bounded times; the real
    * error — corruption, a genuinely missing file — still surfaces, on
    * the last attempt. An FNF retries unless [[confirmedAbsent]]
    * holds AT THE MOMENT OF THE FAILURE (the file exists, or a
    * re-publish's delete-then-rename blink is in progress — each
    * listing answers both, evaluated inside the very window it must
    * witness, so successful reads pay zero probe I/O): a genuinely
    * never-published file (e.g. loading a Bloom index from a store
    * that never had one) rethrows on the first attempt instead of
    * burning the whole ~700 ms retry budget — callers
    * that probe for maybe-unpublished files must handle FNF anyway;
    * that is what the probe means. Absence takes TWO consecutive
    * listings, never one: one torn readdir must not turn a transient
    * blink on a durably published file into a spurious FNF. */
  def readFile[A](conf: Configuration, target: Path,
      magic: Option[String] = None)(
      read: java.io.DataInputStream => A): A = {
    val fs = target.getFileSystem(conf)
    withReadRetries(retryFnfIf = () => !confirmedAbsent(fs, target)) { () =>
      val in = new java.io.DataInputStream(fs.open(target))
      try {
        magic.foreach { m =>
          val got = in.readUTF()
          require(got == m, s"$target is not a $m file (header '$got')")
        }
        read(in)
      } finally in.close()
    }
  }

  /** Publish a staged directory to a target that must NOT yet exist —
    * the versioned-generation shape (`compacted-N`): the guard turns a
    * name collision into a loud failure instead of a silent merge. */
  def dirFresh(fs: FileSystem, staged: Path, target: Path): Unit =
    require(!fs.exists(target) && fs.rename(staged, target),
      s"AtomicPublish.dirFresh: failed to publish $staged -> $target")

  /** Replace `target` with `staged` (delete, then rename). NOT atomic —
    * callers must bracket the whole multi-directory swap with their own
    * crash marker and heal on restart (class doc). */
  def replaceDir(fs: FileSystem, staged: Path, target: Path): Unit = {
    fs.delete(target, true): Unit
    require(fs.rename(staged, target),
      s"AtomicPublish.replaceDir: failed to publish $staged -> $target")
  }
}
