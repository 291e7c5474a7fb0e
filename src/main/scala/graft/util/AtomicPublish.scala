package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}

/** THE staged-publish skeleton: two protocols and one read.
  *
  *  - [[file]] — atomic single-file publish-with-replace: write a
  *    dot-prefixed temp (invisible to directory listings and Spark
  *    discovery), then rename it over the target in ONE step. A reader
  *    sees the old bytes or the new bytes, never a missing or
  *    half-written file. On `file:` the rename is the raw local
  *    filesystem's two-argument rename — one POSIX `rename(2)`, which
  *    replaces the target atomically. Not `FileContext` there: its
  *    OVERWRITE is delete-then-rename on the local filesystem, and the
  *    checksummed one moves a `.crc` sidecar in a second rename. On
  *    other schemes `FileContext.rename(OVERWRITE)`, which is atomic on
  *    HDFS.
  *  - [[dirFresh]] — directory publish to a FRESH target (versioned
  *    names, such as the fingerprint store's `compacted-N` bases and the
  *    ANN index's `gen-N`): a plain rename guarded by `!exists`, because
  *    the caller's crash-safety story depends on never replacing an
  *    existing generation.
  *  - [[readFile]] — the one way back in for a [[file]]-published file:
  *    `None` exactly when the file does not exist. The fingerprint
  *    store's manifest, the compaction journal, the data-batch cadence
  *    counter, the persisted Bloom index and the ANN index's `_current`
  *    all read through it.
  *
  * Corruption detection travels in the file: [[file]] appends a CRC32
  * of the payload (an optional MAGIC header, then the caller's bytes),
  * and [[readFile]] verifies it and the header before the caller sees a
  * byte, failing with a message naming the file. A checksum sidecar
  * cannot do that job here — it cannot move atomically with the data —
  * so on `file:` both sides use the raw local filesystem and a stale
  * sidecar is never checked against new bytes.
  *
  * Supported schemes: `file:` and HDFS. Object stores, which have no
  * rename, are out of scope.
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
    * read-modify-write retry loops assume. A hard-killed publish can
    * orphan its temp — dot-invisible and bytes-small; harmless. */
  private def tmpFor(target: Path): Path =
    new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID().toString.take(12)}.tmp")

  /** The filesystem both [[file]] and [[readFile]] use: the raw local
    * one on `file:` (no `.crc` sidecar, one-`rename(2)` replace), the
    * scheme's own elsewhere. */
  private def fsFor(conf: Configuration, target: Path): FileSystem =
    target.getFileSystem(conf) match {
      case local: LocalFileSystem => local.getRawFileSystem
      case fs => fs
    }

  private val CrcBytes = 4

  /** Atomically publish a single file at `target`, replacing any
    * existing one: `write` fills a dot-prefixed temp, followed by the
    * CRC32 trailer, and one rename swaps it in (class doc). `magic`
    * (when given) is written first via `writeUTF` and demanded back by
    * [[readFile]]. These are metadata-scale files (manifests, journals,
    * counters, sketch indexes), so the payload is buffered once.
    * Concurrent publishers of one target each rename their own temp;
    * the last complete publish wins. */
  def file(conf: Configuration, target: Path,
      magic: Option[String] = None)(
      write: java.io.DataOutputStream => Unit): Unit = {
    val fs = fsFor(conf, target)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    magic.foreach(out.writeUTF)
    write(out)
    val crc = new java.util.zip.CRC32()
    crc.update(bytes.toByteArray)
    out.writeInt(crc.getValue.toInt)
    out.close()
    val tmp = tmpFor(target)
    try {
      val tmpOut = fs.create(tmp, true)
      try bytes.writeTo(tmpOut) finally tmpOut.close()
      fs match {
        case raw: RawLocalFileSystem =>
          require(raw.rename(tmp, target),
            s"AtomicPublish.file: failed to publish $tmp -> $target")
        case _ =>
          FileContext.getFileContext(fs.getUri, conf)
            .rename(tmp, target, Options.Rename.OVERWRITE)
      }
    } catch {
      // unique temp names mean no later publish overwrites an orphan —
      // a failed publish must clean its own staging or a writer retried
      // on a schedule accumulates temps without bound
      case t: Throwable =>
        scala.util.Try(fs.delete(tmp, false))
        throw t
    }
  }

  /** Read a file published by [[file]]: `None` exactly when `open`
    * finds no file. Otherwise the CRC32 trailer and the `magic` header
    * (when given) are verified before `read` sees a byte — a flipped
    * byte or a truncated file fails with a [[ChecksumException]], a
    * file of another format with the header it DID carry, both naming
    * `target`. */
  def readFile[A](conf: Configuration, target: Path,
      magic: Option[String] = None)(
      read: java.io.DataInputStream => A): Option[A] = {
    val fs = fsFor(conf, target)
    val opened =
      try Some(fs.open(target))
      catch { case _: java.io.FileNotFoundException => None }
    opened.map { stream =>
      val bytes = try stream.readAllBytes() finally stream.close()
      val n = bytes.length - CrcBytes
      val crc = new java.util.zip.CRC32()
      if (n >= 0) crc.update(bytes, 0, n)
      if (n < 0 || java.nio.ByteBuffer.wrap(bytes, n, CrcBytes).getInt !=
          crc.getValue.toInt)
        throw new ChecksumException(
          s"$target is corrupt or truncated: its CRC32 trailer does not " +
            s"match its ${bytes.length} bytes", math.max(n, 0).toLong)
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes, 0, n))
      magic.foreach { m =>
        val got = in.readUTF()
        require(got == m, s"$target is not a $m file (header '$got')")
      }
      read(in)
    }
  }

  /** Publish a staged directory to a target that must NOT yet exist —
    * the versioned-generation shape (`compacted-N`, `gen-N`): the guard
    * turns a name collision into a loud failure instead of a silent
    * merge. */
  def dirFresh(fs: FileSystem, staged: Path, target: Path): Unit =
    require(!fs.exists(target) && fs.rename(staged, target),
      s"AtomicPublish.dirFresh: failed to publish $staged -> $target")
}
