package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.operators.TableCompaction

/** The motion results table's small-file maintenance: every [[MotionPipeline
  * .runStream]] drain appends about one file per (camera_id, day), and
  * [[TableCompaction.compactLanded]] folds them between drains — over the
  * whole table or one partition subtree — without touching rows, the
  * checkpoint or the per-camera state.
  */
class ResultsCompactionSpec extends AnyFunSuite with SparkTestSession {

  private val t0 = 1701000000000L
  private val day = 24L * 3600 * 1000

  private case class Run(in: String, table: String, img: String, ckpt: String)

  private def newRun(tag: String): Run = Run(
    graft.ScratchDir.dir(s"$tag-in"), graft.ScratchDir.dir(s"$tag-out"),
    graft.ScratchDir.dir(s"$tag-img"), graft.ScratchDir.dir(s"$tag-ckpt"))

  /** Stage one wire file and drain it with runStream. Drain `i` gives camA
    * and camB frame i on one day and camC frame i on the next; the square
    * moves every frame, so each camera's frames after its first save a PNG.
    */
  private def drain(r: Run, i: Int): Unit = {
    val x = if (i % 2 == 0) FrameFixtures.PosA else FrameFixtures.PosB
    Files.write(Paths.get(r.in, s"f$i.jsonl"), String.join("\n",
      FrameFixtures.frameJson("camA", t0 + i * 1000L, x),
      FrameFixtures.frameJson("camB", t0 + i * 1000L, x),
      FrameFixtures.frameJson("camC", t0 + day + i * 1000L, x)).getBytes)
    val q = MotionPipeline.runStream(spark, r.in, r.table, r.img, r.ckpt)
    q.awaitTermination()
    assert(q.exception.isEmpty)
  }

  private def drains(r: Run, n: Int): Unit = (0 until n).foreach(drain(r, _))

  /** A rewrite must not change any value, ids and processing timestamps
    * included, so rows are compared whole. */
  private def rows(table: String): Seq[String] =
    spark.read.parquet(table).collect().map(_.mkString("|")).sorted.toSeq

  private def leafDirs(table: String): Seq[File] =
    new File(table).listFiles().filter(_.getName.startsWith("camera_id="))
      .flatMap(_.listFiles().filter(_.getName.startsWith("day="))).sortBy(_.getPath).toSeq

  private def dataFiles(dir: File): Seq[File] =
    dir.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  /** path → content of every data file below `dir`. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] =
    leafDirs(dir).flatMap(dataFiles).map(f =>
      f.getPath -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("compactLanded after three runStream drains keeps every row, one file per camera-day") {
    val r = newRun("rc-all")
    drains(r, 3)
    val before = rows(r.table)
    assert(before.length == 9)
    assert(leafDirs(r.table).map(dataFiles(_).length) == Seq(3, 3, 3))

    val stats = TableCompaction.compactLanded(spark, r.table)
    assert(stats.filesBefore == 9 && stats.filesAfter == 3)
    assert(rows(r.table) == before)
    assert(leafDirs(r.table).map(dataFiles(_).length) == Seq(1, 1, 1))
  }

  test("compacting one camera_id subtree leaves its siblings byte-identical") {
    val r = newRun("rc-sub")
    drains(r, 3)
    val before = rows(r.table)
    val camB = s"${r.table}/camera_id=camB"
    val siblings = snapshot(r.table).filter { case (p, _) => !p.startsWith(camB) }
    assert(siblings.size == 6)

    TableCompaction.compactLanded(spark, camB)
    assert(rows(r.table) == before)
    assert(snapshot(r.table).filter { case (p, _) => !p.startsWith(camB) } == siblings)
    assert(leafDirs(r.table).map(dataFiles(_).length) == Seq(3, 1, 3))
  }

  test("after compactLanded a rerun is a no-op and a fourth drain appends with restored state") {
    val r = newRun("rc-next")
    drains(r, 3)
    TableCompaction.compactLanded(spark, r.table)
    val compacted = snapshot(r.table)
    val again = TableCompaction.compactLanded(spark, r.table)
    assert(again.binsWritten == 0 && again.filesBefore == again.filesAfter)
    assert(snapshot(r.table) == compacted)

    val pngsBefore = new File(r.img).list().length
    assert(pngsBefore == 6)
    drain(r, 3)
    assert(rows(r.table).length == 12)
    // all compacted files survive the append untouched
    assert(compacted.forall { case (p, bytes) =>
      Files.readAllBytes(Paths.get(p)).toSeq == bytes })
    // each camera's frame 3 diffed against the plane restored from the
    // checkpoint (frame 2), so three more motion PNGs landed
    assert(new File(r.img).list().length == pngsBefore + 3)
  }
}
