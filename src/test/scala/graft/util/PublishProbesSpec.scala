package graft.util

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The filesystem publish contracts: [[CommittedTable]]'s
  * structural-emptiness decision, and [[AtomicPublish]]'s single-file
  * publish and its one read — atomic under racing readers and racing
  * publishers, `None` only for a never-published file, and loud on a
  * corrupt one.
  */
class PublishProbesSpec extends AnyFunSuite with SparkTestSession {

  private def conf = spark.sparkContext.hadoopConfiguration

  test("CommittedTable.hasData: missing dir, marker-only dir and _temporary-only dir are structurally empty; a committed file is data") {
    val base = graft.ScratchDir.dir("committed")
    assert(!CommittedTable.hasData(spark, s"$base/nope"),
      "missing dir has never held rows")
    // _SUCCESS alone: the all-rejected-stream shape — exists, no data
    val markerOnly = new java.io.File(s"$base/markers")
    assert(markerOnly.mkdirs())
    java.nio.file.Files.write(markerOnly.toPath.resolve("_SUCCESS"),
      Array.empty[Byte])
    assert(!CommittedTable.hasData(spark, markerOnly.toString))
    // _temporary staging alone: the crash-mid-first-write shape — a data
    // file under _temporary is NOT committed
    val tornDir = new java.io.File(s"$base/torn/_temporary/0")
    assert(tornDir.mkdirs())
    java.nio.file.Files.write(
      tornDir.toPath.resolve("part-00000.snappy.parquet"), Array[Byte](1))
    assert(!CommittedTable.hasData(spark, s"$base/torn"))
    // a part file under ANY hidden ancestor — e.g. a crash-orphaned
    // compaction staging dir — is not committed data either (r14
    // ADVICE: this predicate and TableCompaction's must agree during a
    // compaction crash window; plain Spark readers skip it too)
    val orphan = new java.io.File(s"$base/crash/.compact_staging_ab12/b=0")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(
      orphan.toPath.resolve("part-00000.snappy.parquet"), Array[Byte](1))
    assert(!CommittedTable.hasData(spark, s"$base/crash"),
      "a staged-but-unpublished compaction file must not read as data")
    // a real write — including a partitioned layout — is data
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "source")
      .write.partitionBy("source").parquet(s"$base/t")
    assert(CommittedTable.hasData(spark, s"$base/t"),
      "a committed partitioned write must read as data")
  }

  test("readFile is None exactly for a never-published file; a dot-temp sibling does not change that") {
    val base = graft.ScratchDir.dir("pubprobe")
    val target = new Path(s"$base/index.bin")
    assert(AtomicPublish.readFile(conf, target)(_.readLong()).isEmpty)
    // a hard-killed publish's orphan temp is not the file
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base, ".index.bin.deadbeefdead.tmp"),
      Array[Byte](1))
    assert(AtomicPublish.readFile(conf, target)(_.readLong()).isEmpty)
    AtomicPublish.file(conf, target)(_.writeLong(7L))
    assert(AtomicPublish.readFile(conf, target)(_.readLong()).contains(7L))
  }

  test("a flipped payload byte and a truncated file each fail the read, naming the file") {
    graft.ScratchDir.withDir("pubcorrupt") { base =>
      val target = new Path(s"$base/state.bin")
      val file = java.nio.file.Paths.get(base, "state.bin")
      def readFails(what: String): Unit = {
        val e = intercept[org.apache.hadoop.fs.ChecksumException] {
          AtomicPublish.readFile(conf, target, Some("graft-probe-v1"))(
            _.readLong())
        }
        assert(e.getMessage.contains(target.toString), s"$what: ${e.getMessage}")
      }
      AtomicPublish.file(conf, target, Some("graft-probe-v1"))(
        _.writeLong(0x0123456789abcdefL))
      val good = java.nio.file.Files.readAllBytes(file)
      val flipped = good.clone()
      flipped(good.length - 6) = (flipped(good.length - 6) ^ 0x10).toByte
      java.nio.file.Files.write(file, flipped)
      readFails("flipped byte")
      java.nio.file.Files.write(file, good.take(good.length - 3))
      readFails("truncated")
      java.nio.file.Files.write(file, Array.emptyByteArray)
      readFails("empty")
      // an intact file of another format fails on the header instead
      AtomicPublish.file(conf, target, Some("graft-other-v1"))(_.writeLong(1L))
      val e = intercept[IllegalArgumentException] {
        AtomicPublish.readFile(conf, target, Some("graft-probe-v1"))(
          _.readLong())
      }
      assert(e.getMessage.contains(target.toString) &&
        e.getMessage.contains("graft-other-v1"), e.getMessage)
    }
  }

  test("RACING reads: a bare reader never sees a missing or checksum-failing file while the target is re-published 2,000 times") {
    // one read per loop iteration, no retry around it: every read must
    // land a complete value. A publish that replaces the target in two
    // steps (delete, then rename; or data, then a `.crc` sidecar) shows
    // up here as a None or a ChecksumException.
    graft.ScratchDir.withDir("pub-reads") { base =>
      val target = new Path(s"$base/value.bin")
      AtomicPublish.file(conf, target)(_.writeLong(0L))
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val writerError =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() =>
        try (1 to 2000).foreach(i =>
          AtomicPublish.file(conf, target)(_.writeLong(i.toLong)))
        catch { case t: Throwable => writerError.set(t) }
        finally done.set(true))
      var (reads, missing, checksum, last) = (0L, 0L, 0L, 0L)
      writer.start()
      try while (!done.get()) {
        try AtomicPublish.readFile(conf, target)(_.readLong()) match {
          case Some(v) =>
            assert(v >= last, s"read went backwards: $v after $last")
            last = v; reads += 1
          case None => missing += 1
        } catch {
          case _: org.apache.hadoop.fs.ChecksumException => checksum += 1
        }
      } finally writer.join()
      assert(writerError.get() == null, s"publish threw: ${writerError.get()}")
      assert(missing == 0 && checksum == 0,
        s"$reads good reads, $missing missing, $checksum checksum errors")
      assert(reads > 0)
      assert(AtomicPublish.readFile(conf, target)(_.readLong()).contains(2000L))
    }
  }

  test("RACING publishers of one target never fail on the overwrite-" +
      "rename window; last complete value wins") {
    // a replace built from separate steps (FileContext's local
    // rename(OVERWRITE) is validate → delete → plain rename with no lock
    // across them) lets one publish land inside another's window —
    // FileAlreadyExistsException despite OVERWRITE, or a torn target.
    // Two hammering threads reproduce such a window with good
    // probability; every publish must succeed and the target must
    // always read as ONE complete value.
    graft.ScratchDir.withDir("pub-race") { base =>
      val target = new Path(s"$base/state")
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 2).map { t =>
        new Thread(() =>
          try (1 to 150).foreach { i =>
            AtomicPublish.file(conf, target)(_.writeLong(t * 1000L + i))
          } catch { case e: Throwable => errors.add(e): Unit })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errors.isEmpty, s"racing publish threw: ${errors.peek()}")
      val v = AtomicPublish.readFile(conf, target)(_.readLong()).get
      assert(v == 1150L || v == 2150L, s"unexpected final value $v")
    }
  }
}
