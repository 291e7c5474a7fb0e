package graft.expressions

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftFunctions, SparkTestSession}
import graft.streaming.FrameFixtures

/** The custom codegen'd expression: SQL results must equal the direct
  * kernel call, nulls must propagate (including undecodable payload sizes),
  * and the window-lag batch form must reproduce the stateful pipeline's
  * per-frame motion decisions.
  */
class MotionRegionCountSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  GraftFunctions.register(spark)

  private def px(squareX: Int): Array[Byte] =
    FrameFixtures.pixels(squareX, 10)

  test("SQL expression equals the direct kernel call") {
    val a = px(FrameFixtures.PosA); val b = px(FrameFixtures.PosB)
    val expected = graft.cv.Kernels.motionRegionCount(
      a, b, FrameFixtures.Rows, FrameFixtures.Cols, FrameFixtures.MatTypeC3)
    val df = Seq((a, b)).toDF("prev", "cur")
    val got = df.selectExpr(
      s"motion_region_count(prev, cur, ${FrameFixtures.Rows}, ${FrameFixtures.Cols}, ${FrameFixtures.MatTypeC3}) AS n")
      .head.getInt(0)
    // PosA/PosB diff squares sit 2 px apart: the blur halo bridges them into
    // ONE 8-connected component — same answer from kernel and SQL.
    assert(got == expected && got == 1)
    // no motion between identical frames
    val zero = Seq((a, a)).toDF("prev", "cur").selectExpr(
      s"motion_region_count(prev, cur, ${FrameFixtures.Rows}, ${FrameFixtures.Cols}, ${FrameFixtures.MatTypeC3}) AS n")
      .head.getInt(0)
    assert(zero == 0)
  }

  test("unsupported channel layouts (CV_8UC2) yield NULL, not a crash") {
    // matType 8 → 2 channels: payload length matches but the layout is
    // not grayscale-able; the expression must return NULL
    val twoCh = Array.fill(4 * 4 * 2)(1.toByte)
    val df = Seq((twoCh, twoCh)).toDF("prev", "cur")
    val rows = df.selectExpr("motion_region_count(prev, cur, 4, 4, 8) AS n").collect()
    assert(rows.head.isNullAt(0))
  }

  test("nulls and wrong-sized payloads yield NULL") {
    val a = px(FrameFixtures.PosA)
    val df = Seq(
      (null.asInstanceOf[Array[Byte]], a),
      (a, Array[Byte](1, 2, 3)) // wrong length
    ).toDF("prev", "cur")
    val rows = df.selectExpr(
      s"motion_region_count(prev, cur, ${FrameFixtures.Rows}, ${FrameFixtures.Cols}, ${FrameFixtures.MatTypeC3}) AS n")
      .collect()
    assert(rows.forall(_.isNullAt(0)))
    // geometry whose Int product (2·715827883·3) wraps onto the payload length
    val two = Array[Byte](1, 2)
    val wrapped = Seq((two, two)).toDF("prev", "cur")
      .selectExpr("motion_region_count(prev, cur, 2, 715827883, 16) AS n").collect()
    assert(wrapped.forall(_.isNullAt(0)))
  }

  test("window-lag batch form reproduces the stateful pipeline's decisions") {
    // camA: A → B → B: motion on frame 2 only; first frame NULL (no prev)
    val frames = Seq(
      ("camA", 1L, px(FrameFixtures.PosA)),
      ("camA", 2L, px(FrameFixtures.PosB)),
      ("camA", 3L, px(FrameFixtures.PosB)),
      ("camB", 1L, px(FrameFixtures.PosA))
    ).toDF("camId", "seq", "px")
    frames.createOrReplaceTempView("frames_v")
    val got = spark.sql(
      s"""SELECT camId, seq, motion_region_count(
            lag(px) OVER (PARTITION BY camId ORDER BY seq), px,
            ${FrameFixtures.Rows}, ${FrameFixtures.Cols}, ${FrameFixtures.MatTypeC3}) AS n
          FROM frames_v ORDER BY camId, seq""")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(got == Seq(
      ("camA", 1L, -1), ("camA", 2L, 1), ("camA", 3L, 0), ("camB", 1L, -1)))
  }

  test("expression folds constants (codegen + interpreted paths agree)") {
    val a = px(FrameFixtures.PosA)
    val lit = java.util.Base64.getEncoder.encodeToString(a)
    val viaSql = spark.sql(
      s"""SELECT motion_region_count(unbase64('$lit'), unbase64('$lit'),
            ${FrameFixtures.Rows}, ${FrameFixtures.Cols}, ${FrameFixtures.MatTypeC3}) AS n""")
      .head.getInt(0)
    assert(viaSql == 0)
  }
}
