package graft.streaming

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftFunctions, SparkTestSession}
import graft.cv.Png
import graft.model.FrameCodec

/** Live/backfill parity: the live detector ([[MotionPipeline.detectBin]]),
  * `motion_region_count` over `lag` and the batch backfill
  * ([[graft.sources.Video.withMotion]]) run one motion step, so on one
  * camera's frames they agree frame by frame — the live path writes a PNG
  * exactly where the SQL count is above zero — and they accept exactly the
  * layouts [[FrameCodec.readable]] accepts.
  */
class MotionParitySpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  GraftFunctions.register(spark)

  private val t0 = 1700300000000L

  private def wire(camId: String, millis: Long, rows: Int, cols: Int,
      matType: Int, px: Array[Byte]): String =
    s"""{"camId":"$camId","timestamp":"${java.time.Instant.ofEpochMilli(millis)}",""" +
      s""""rows":$rows,"cols":$cols,"type":$matType,""" +
      s""""data":"${java.util.Base64.getEncoder.encodeToString(px)}"}"""

  /** The fixture frame with uniform sensor noise in [-amp, amp] on every
    * sample. */
  private def noisy(squareX: Int, amp: Int, seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    FrameFixtures.pixels(squareX, 10).map(b =>
      math.max(0, math.min(255, (b & 0xff) + rnd.nextInt(2 * amp + 1) - amp)).toByte)
  }

  private def pngs(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  /** Per-frame `motion_region_count` against the previous frame by time. */
  private def sqlCounts(
      frames: Seq[(Long, Int, Int, Int, Array[Byte])]): Map[Long, Option[Int]] = {
    frames.toDF("ts", "rows", "cols", "type", "px").createOrReplaceTempView("parity_v")
    spark.sql(
      """SELECT ts, motion_region_count(lag(px) OVER (ORDER BY ts), px, rows, cols, type)
         FROM parity_v""")
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Int])).toMap
  }

  test("one camera: live PNGs, motion_region_count and the backfill agree frame by frame") {
    import FrameFixtures._
    val cam = "camP"
    val px = Seq(
      pixels(PosA, 10), pixels(PosB, 10), // a move
      pixels(PosB, 10), pixels(PosB, 10), // a static run
      pixels(PosA, 10), // a move back
      pixels(PosA + 6, 10), // a small shift: thin bands only
      noisy(PosA, 6, 1), noisy(PosA, 6, 2), // sensor noise under the threshold
      noisy(PosA, 90, 3), noisy(PosA, 90, 4)) // heavy noise over it
    val ts = px.indices.map(i => t0 + i * 1000L)
    val frames = ts.zip(px).map { case (t, p) => (t, Rows, Cols, MatTypeC3, p) }

    val img = graft.ScratchDir.dir("parity-img")
    val live = MotionPipeline.detectBin(MotionPipeline.decodeWire(
      frames.map { case (t, r, c, ty, p) => wire(cam, t, r, c, ty, p) }.toDF("value")),
      img).collect()
    assert(live.map(_.frameTimestamp.getTime).sorted.toSeq == ts)

    val counts = sqlCounts(frames)
    val backfill = graft.sources.Video.withMotion(
      frames.zipWithIndex.map { case ((_, r, c, _, p), i) => (cam, i, r, c, Channels, p) }
        .toDF("path", "frame_idx", "rows", "cols", "channels", "px"))
      .select(col("frame_idx"), col("n_regions")).collect()
      .map(r => ts(r.getInt(0)) -> Option(r.get(1)).map(_.asInstanceOf[Int])).toMap
    assert(backfill == counts)

    val written = pngs(img)
    ts.foreach { t =>
      val moved = counts(t).exists(_ > 0)
      assert(written.contains(Png.frameName(cam, t)) == moved,
        s"frame $t: count ${counts(t)}, PNG written ${!moved}")
    }
    // the sequence exercises both outcomes, and the first frame has no count
    assert(counts(ts.head).isEmpty)
    val later = ts.tail.map(counts(_).get)
    assert(later.exists(_ > 0) && later.exists(_ == 0), later)
    assert(later.take(5) == Seq(1, 0, 0, 1, 0), later)
  }

  test("1- to 5-channel layouts: a row lands iff FrameCodec.readable accepts it") {
    val (rows, cols) = (24, 24)
    // (camera, matType, payload length per frame)
    val layouts = (1 to 5).map(ch => (s"cam-c$ch", FrameCodec.matTypeOf(ch), rows * cols * ch)) :+
      (("cam-short", FrameCodec.matTypeOf(3), rows * cols * 3 - 1))
    val frames = layouts.flatMap { case (cam, ty, n) =>
      Seq(0, 255).zipWithIndex.map { case (v, i) =>
        (cam, t0 + i * 1000L, ty, Array.fill(n)(v.toByte)) }
    }
    val img = graft.ScratchDir.dir("parity-layouts")
    val landed = MotionPipeline.detectBin(MotionPipeline.decodeWire(
      frames.map { case (cam, t, ty, p) => wire(cam, t, rows, cols, ty, p) }.toDF("value")),
      img).collect().groupBy(_.cameraId).map { case (k, v) => k -> v.length }

    layouts.foreach { case (cam, ty, n) =>
      val readable = FrameCodec.readable(new Array[Byte](n), rows, cols, ty)
      assert(landed.getOrElse(cam, 0) == (if (readable) 2 else 0), s"$cam rows")
      val count = sqlCounts(frames.filter(_._1 == cam).map { case (_, t, ty2, p) =>
        (t, rows, cols, ty2, p) })(t0 + 1000L)
      assert(count == (if (readable) Some(1) else None), s"$cam motion_region_count")
      assert(pngs(img).contains(Png.frameName(cam, t0 + 1000L)) == readable, s"$cam PNG")
    }
    assert(landed.keySet == Set("cam-c1", "cam-c3", "cam-c4"))
  }
}
