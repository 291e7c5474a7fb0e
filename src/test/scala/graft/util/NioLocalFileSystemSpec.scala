package graft.util

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkTestSession}

/** [[NioLocalFileSystem]]: the checkpoint, rename, `mkdirs` and parquet
  * paths start no process, and leave the same files, permission bits and
  * `FileStatus` as Hadoop's stock local filesystem. A JFR recording of
  * `jdk.ProcessStart` counts the forks; the stock filesystem's run of the
  * same operations shows the recording sees them. */
class NioLocalFileSystemSpec extends AnyFunSuite with SparkTestSession {

  private val local = URI.create("file:///")

  /** A Hadoop configuration with `GraftSession`'s filesystem settings,
    * or none (the stock local filesystem). */
  private def hadoopConf(nio: Boolean): Configuration = {
    val c = new Configuration()
    if (nio) GraftSession.localFileSystem.foreach { case (k, v) =>
      c.set(k.stripPrefix("spark.hadoop."), v)
    }
    c
  }

  /** Process starts during `body` made from Hadoop code. The recording is
    * JVM-wide, and Spark's own asynchronous cleanups (`rm -rf` of a
    * collected session's or state store's directories) may land inside
    * it; those are not the filesystem's. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(_.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.")))
    } finally { rec.close(); Files.deleteIfExists(dump): Unit }
  }

  /** The operations a drain's checkpoint and sink make, under `base`:
    * an atomic checkpoint write, `mkdirs`, both `FileContext` renames
    * and two parquet appends (through `parquet`). */
  private def exercise(conf: Configuration, base: String)(
      parquet: String => Unit): Unit = {
    val fs = FileSystem.newInstance(local, conf)
    val fc = FileContext.getFileContext(local, conf)
    val ckpt = new Path(s"$base/ckpt/offsets")
    val cfm = CheckpointFileManager.create(ckpt, conf)
    cfm.mkdirs(ckpt)
    val out = cfm.createAtomic(new Path(ckpt, "0"), overwriteIfPossible = false)
    out.write("v1\n{}".getBytes("UTF-8"))
    out.close()
    fs.mkdirs(new Path(s"$base/dirs/a/b"))
    Seq("src1", "src2").foreach { n =>
      val o = fs.create(new Path(s"$base/renames/$n"))
      o.write(n.getBytes("UTF-8")); o.close()
    }
    val dst = new Path(s"$base/renames/dst")
    fc.rename(new Path(s"$base/renames/src1"), dst, Options.Rename.NONE)
    fc.rename(new Path(s"$base/renames/src2"), dst, Options.Rename.OVERWRITE)
    parquet(s"$base/table")
    parquet(s"$base/table")
    fs.close()
  }

  private def appendParquet(dir: String, options: Map[String, String]): Unit = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.options(options).mode("append").parquet(dir)
  }

  /** The stock filesystem for one write: a fresh, uncached instance. */
  private val stockWrite = Map(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Every entry under `root`: path relative to it (part-file UUIDs
    * masked), directory or not, size, and the full `st_mode` bits. */
  private def tree(root: String): Seq[(String, Boolean, Long, Int)] = {
    val r = Paths.get(root)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val walk = Files.walk(r)
    try walk.iterator().asScala.toSeq.map { p =>
      (r.relativize(p).toString.replaceAll(uuid, "UUID"), Files.isDirectory(p),
        if (Files.isDirectory(p)) 0L else Files.size(p),
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int])
    }.sorted finally walk.close()
  }

  private def describe(s: FileStatus) =
    (s.getPath, s.isDirectory, s.isSymlink, s.getLen, s.getPermission,
      s.getOwner, s.getGroup, s.getReplication, s.getBlockSize,
      s.getModificationTime)

  test("the session and FileContext resolve file: to the nio filesystem") {
    val sessionFs = new Path(System.getProperty("java.io.tmpdir"))
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(sessionFs.isInstanceOf[NioLocalFileSystem], sessionFs.getClass)
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(local, hadoopConf(nio = true))
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("checkpoint write, mkdirs, both FileContext renames and a parquet append start no process; the stock filesystem forks for them") {
    graft.ScratchDir.withDir("nio-forks") { base =>
      val stock = processStarts(
        exercise(hadoopConf(nio = false), s"$base/stock")(
          appendParquet(_, stockWrite)))
      assert(stock.nonEmpty, "the recording must see the stock filesystem's forks")
      val nio = processStarts(
        exercise(hadoopConf(nio = true), s"$base/nio")(
          appendParquet(_, Map.empty)))
      assert(nio.isEmpty, nio.map(_.getString("command")).mkString("\n"))
      // the same operations leave the same files, sizes and mode bits
      assert(tree(s"$base/nio") == tree(s"$base/stock"))
    }
  }

  test("FileStatus, permission bits and the sticky-bit fallback match the stock filesystem") {
    graft.ScratchDir.withDir("nio-status") { base =>
      val nio = FileSystem.newInstance(local, hadoopConf(nio = true))
      val stock = FileSystem.newInstance(local, hadoopConf(nio = false))
      try {
        exercise(hadoopConf(nio = true), base)(appendParquet(_, Map.empty))
        nio.mkdirs(new Path(s"$base/sticky/n"))
        stock.mkdirs(new Path(s"$base/sticky/s"))
        nio.setPermission(new Path(s"$base/sticky/n"), new FsPermission(0x3ff.toShort))
        stock.setPermission(new Path(s"$base/sticky/s"), new FsPermission(0x3ff.toShort))
        assert(tree(s"$base/sticky/n") == tree(s"$base/sticky/s"))
        assert(tree(s"$base/sticky/n").head._4 % 0x1000 == 0x3ff)
        Seq(0x1ed, 0x1a4, 0x180, 0x1c0, 0x0).foreach { m =>
          nio.setPermission(new Path(s"$base/renames/dst"), new FsPermission(m.toShort))
          assert(Files.getAttribute(Paths.get(s"$base/renames/dst"), "unix:mode")
            .asInstanceOf[Int] % 0x200 == m, f"mode $m%o")
        }
        nio.setPermission(new Path(s"$base/renames/dst"), new FsPermission(0x1a4.toShort))
        val walk = Files.walk(Paths.get(base))
        val paths = try walk.iterator().asScala.toList finally walk.close()
        paths.foreach { p =>
          val hp = new Path(p.toString)
          assert(describe(nio.getFileStatus(hp)) == describe(stock.getFileStatus(hp)), p)
          assert(describe(nio.getFileLinkStatus(hp)) ==
            describe(stock.getFileLinkStatus(hp)), p)
        }
        intercept[java.io.FileNotFoundException](
          nio.getFileLinkStatus(new Path(s"$base/missing")))
        intercept[java.io.IOException](
          nio.setPermission(new Path(s"$base/missing"), new FsPermission(0x1a4.toShort)))
      } finally { nio.close(); stock.close() }
    }
  }

  test("a real symlink is still reported as a link, with the stock target") {
    graft.ScratchDir.withDir("nio-link") { base =>
      val nio = FileSystem.newInstance(local, hadoopConf(nio = true))
      val stock = FileSystem.newInstance(local, hadoopConf(nio = false))
      try {
        Files.createDirectories(Paths.get(base))
        Files.write(Paths.get(s"$base/target"), Array[Byte](1, 2, 3))
        Files.createSymbolicLink(Paths.get(s"$base/link"), Paths.get(s"$base/target"))
        Files.createSymbolicLink(Paths.get(s"$base/dangling"), Paths.get(s"$base/gone"))
        Seq("link", "dangling").foreach { n =>
          val p = new Path(s"$base/$n")
          val got = nio.getFileLinkStatus(p)
          assert(got.isSymlink, n)
          assert(describe(got) == describe(stock.getFileLinkStatus(p)), n)
          assert(got.getSymlink == stock.getFileLinkStatus(p).getSymlink, n)
        }
        assert(nio.getFileLinkStatus(new Path(s"$base/link")).getSymlink
          .toUri.getPath == s"$base/target")
      } finally { nio.close(); stock.close() }
    }
  }

  test("FileContext rename NONE onto an existing file still throws FileAlreadyExistsException") {
    graft.ScratchDir.withDir("nio-rename") { base =>
      val fc = FileContext.getFileContext(local, hadoopConf(nio = true))
      Files.createDirectories(Paths.get(base))
      Seq("a", "b").foreach(n => Files.write(Paths.get(s"$base/$n"), n.getBytes("UTF-8")))
      intercept[FileAlreadyExistsException](
        fc.rename(new Path(s"$base/a"), new Path(s"$base/b"), Options.Rename.NONE))
      assert(new String(Files.readAllBytes(Paths.get(s"$base/b")), "UTF-8") == "b")
      fc.rename(new Path(s"$base/a"), new Path(s"$base/b"), Options.Rename.OVERWRITE)
      assert(new String(Files.readAllBytes(Paths.get(s"$base/b")), "UTF-8") == "a")
      assert(!Files.exists(Paths.get(s"$base/a")))
    }
  }
}
