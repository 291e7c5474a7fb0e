package graft.cv

import org.scalatest.funsuite.AnyFunSuite
import graft.model.MotionRegion

/** Golden + property tests for the pure-JVM CV kernels (SURVEY.md §5.2 item 1).
  * Semantics under test mirror /root/reference/dvaf/processor/.../MotionDetector.java:
  * grayscale+blur (33-36, 50-52), absdiff (56), threshold 20→255 (58-59),
  * external regions with min area (111-131), composed by [[Motion.Step]].
  * Properties are exercised over deterministic parameter sweeps (offline
  * cache has no scalatest-scalacheck bridge).
  */
class KernelsSpec extends AnyFunSuite {

  private def gray(rows: Int, cols: Int, v: Int): Array[Byte] =
    Array.fill(rows * cols)(v.toByte)

  // ------------------------------------------------------------- grayscale

  test("grayscale of 1-channel input is a copy") {
    val px = Array[Byte](0, 50, 100, -1)
    assert(Kernels.grayscale(px, 2, 2, 1).toSeq == px.toSeq)
  }

  test("grayscale BGR integer luma matches (29B + 150G + 77R) >> 8") {
    // one pure-blue, one pure-green, one pure-red, one white pixel
    val px = Array[Byte](
      -1, 0, 0, /* B=255 */ 0, -1, 0, /* G=255 */ 0, 0, -1, /* R=255 */
      -1, -1, -1 /* white */ )
    val out = Kernels.grayscale(px, 2, 2, 3)
    assert((out(0) & 0xff) == (29 * 255) >> 8) // 28
    assert((out(1) & 0xff) == (150 * 255) >> 8) // 149
    assert((out(2) & 0xff) == (77 * 255) >> 8) // 76
    assert((out(3) & 0xff) == (256 * 255) >> 8) // 255
  }

  // ------------------------------------------------------------- blur

  test("blur of a uniform image is identity") {
    val img = gray(8, 8, 130)
    assert(Kernels.gaussianBlur3x3(img, 8, 8).toSeq == img.toSeq)
  }

  test("blur golden: single bright pixel spreads with 1-2-1 ⊗ 1-2-1 / 16 weights") {
    val img = gray(5, 5, 0)
    img(2 * 5 + 2) = 160.toByte
    val out = Kernels.gaussianBlur3x3(img, 5, 5)
    // center 4/16, edge-adjacent 2/16, corner 1/16 of 160 (+8 rounding)
    assert((out(2 * 5 + 2) & 0xff) == (4 * 160 + 8) / 16)
    assert((out(1 * 5 + 2) & 0xff) == (2 * 160 + 8) / 16)
    assert((out(1 * 5 + 1) & 0xff) == (160 + 8) / 16)
    assert((out(0 * 5 + 0) & 0xff) == 0)
  }

  test("blur preserves dimensions and range (property)") {
    for (r <- 1 to 12; c <- 1 to 12) {
      val img = Array.tabulate(r * c)(i => ((i * 37) % 256).toByte)
      val out = Kernels.gaussianBlur3x3(img, r, c)
      assert(out.length == r * c)
      assert(out.forall(b => (b & 0xff) >= 0 && (b & 0xff) <= 255))
    }
  }

  // ------------------------------------------------------------- absdiff / threshold

  test("absdiff is symmetric and zero on identical frames") {
    val a = Array[Byte](10, 200.toByte, 30)
    val b = Array[Byte](40, 100, 30)
    assert(Kernels.absDiff(a, b).toSeq == Seq[Byte](30, 100, 0))
    assert(Kernels.absDiff(b, a).toSeq == Kernels.absDiff(a, b).toSeq)
    assert(Kernels.absDiff(a, a).forall(_ == 0))
  }

  test("threshold is strict >: 20 stays 0, 21 becomes 255") {
    val img = Array[Byte](0, 20, 21, -1)
    assert(Kernels.threshold(img, 20).toSeq == Seq[Byte](0, 0, -1, -1))
  }

  // ------------------------------------------------------------- regions

  test("boundingBoxes finds two separated blobs, drops sub-minArea ones (strict >)") {
    val rows = 20; val cols = 20
    val bin = gray(rows, cols, 0)
    // blob A: 3x3 at (2,2) — area 9
    for (r <- 2 until 5; c <- 2 until 5) bin(r * cols + c) = -1
    // blob B: 2x4 at (10,12) — area 8
    for (r <- 10 until 12; c <- 12 until 16) bin(r * cols + c) = -1
    val all = Kernels.boundingBoxes(bin, rows, cols, minArea = 0)
    assert(all == Seq(MotionRegion(2, 2, 3, 3), MotionRegion(12, 10, 4, 2)))
    // strict comparison like the reference's contourArea(contour) > 300:
    // area 9 > 8 survives, area 8 > 8 does not
    assert(Kernels.boundingBoxes(bin, rows, cols, minArea = 8) ==
      Seq(MotionRegion(2, 2, 3, 3)))
    assert(Kernels.boundingBoxes(bin, rows, cols, minArea = 9).isEmpty)
  }

  test("8-connectivity merges diagonal neighbors into one region") {
    val bin = gray(4, 4, 0)
    bin(0) = -1 // (0,0)
    bin(1 * 4 + 1) = -1 // (1,1) — diagonal
    assert(Kernels.boundingBoxes(bin, 4, 4, 1) == Seq(MotionRegion(0, 0, 2, 2)))
  }

  // ------------------------------------------------------------- motion step

  /** Regions of `cur` against `prev` through one [[Motion.Step]], at the
    * deployed threshold and min area. */
  private def detect(prev: Array[Byte], cur: Array[Byte],
      rows: Int, cols: Int, ch: Int): Seq[MotionRegion] = {
    val step = new Motion.Step
    step.detect(prev, rows, cols, ch)
    step.commit()
    step.detect(cur, rows, cols, ch)
  }

  test("zero diff yields no regions (property)") {
    for (n <- 4 to 40 by 4) {
      val frame = Array.tabulate(n * n * 3)(i => (i % 251).toByte)
      assert(detect(frame, frame, n, n, 3).isEmpty)
    }
  }

  test("motion step end-to-end: a moved bright square is detected with a tight box") {
    val rows = 64; val cols = 64; val ch = 3
    def frameWithSquare(x0: Int, y0: Int): Array[Byte] = {
      val px = Array.fill(rows * cols * ch)(10.toByte)
      for (r <- y0 until y0 + 24; c <- x0 until x0 + 24; k <- 0 until ch)
        px((r * cols + c) * ch + k) = 230.toByte
      px
    }
    val boxes = detect(frameWithSquare(4, 4), frameWithSquare(30, 30), rows, cols, ch)
    assert(boxes.nonEmpty)
    // all motion is inside the union of the two squares (+1 px blur halo)
    boxes.foreach { b =>
      assert(b.x >= 3 && b.y >= 3 && b.x + b.w <= 55 && b.y + b.h <= 55)
      assert(b.w * b.h >= Motion.MinArea)
    }
  }

  test("detection is translation-covariant (property)") {
    // two disjoint 20×20 squares: each diff component is 400 px (> MinArea)
    val rows = 48; val cols = 96
    def squares(dx: Int): (Array[Byte], Array[Byte]) = {
      def f(x0: Int): Array[Byte] = {
        val px = Array.fill(rows * cols)(0.toByte)
        for (r <- 2 until 22; c <- x0 until x0 + 20) px(r * cols + c) = -1
        px
      }
      (f(2 + dx), f(26 + dx))
    }
    val (a0, b0) = squares(0)
    val ref = detect(a0, b0, rows, cols, 1)
    assert(ref.size == 2)
    for (dx <- 0 to 20) {
      val (a, b) = squares(dx)
      val base = detect(a, b, rows, cols, 1)
      assert(base.map(r => (r.x - dx, r.y, r.w, r.h)) ==
        ref.map(r => (r.x, r.y, r.w, r.h)))
    }
  }

  test("the step diffs only against a committed plane of the same geometry") {
    val a = Array.fill(8 * 40)(0.toByte)
    val b = Array.fill(8 * 40)(-1.toByte)
    val step = new Motion.Step
    assert(step.detect(a, 8, 40, 1).isEmpty) // no plane yet
    step.commit()
    // uncommitted frames leave the plane where it was
    assert(step.detect(b, 8, 40, 1).size == 1)
    assert(step.detect(b, 8, 40, 1).size == 1)
    // same pixel count, other geometry: no diff, and it becomes the plane
    assert(step.detect(b, 40, 8, 1).isEmpty)
    step.commit()
    assert(step.rows == 40 && step.cols == 8)
    assert(step.detect(a, 40, 8, 1).size == 1)
  }

  test("drawRect paints a green 1px border (OpenCV default thickness) inside the box") {
    val rows = 16; val cols = 16; val ch = 3
    val px = Array.fill(rows * cols * ch)(7.toByte)
    Kernels.drawRect(px, rows, cols, ch, MotionRegion(2, 3, 6, 5))
    def isGreen(r: Int, c: Int): Boolean = {
      val o = (r * cols + c) * ch
      px(o) == 0 && (px(o + 1) & 0xff) == 255 && px(o + 2) == 0
    }
    assert(isGreen(3, 2) && isGreen(3, 7) && isGreen(7, 2) && isGreen(7, 7)) // corners
    assert(isGreen(3, 4) && isGreen(7, 4) && isGreen(5, 2) && isGreen(5, 7)) // edges
    assert(!isGreen(4, 3)) // interior ring untouched (thickness 1, not 2)
    assert(!isGreen(5, 4)) // interior untouched
    assert(!isGreen(0, 0)) // exterior untouched
  }

  // ------------------------------------------------------------- fused forms

  test("fused absDiffThresholdInto matches threshold(absDiff(a,b)) bit-for-bit") {
    for (seed <- 1 to 5) {
      val n = 97
      val a = Array.tabulate(n)(i => ((i * 31 + seed * 7) % 256).toByte)
      val b = Array.tabulate(n)(i => ((i * 13 + seed * 3) % 256).toByte)
      val out = new Array[Byte](n)
      Kernels.absDiffThresholdInto(a, b, 20, out)
      assert(out.toSeq == Kernels.threshold(Kernels.absDiff(a, b), 20).toSeq)
    }
  }

  test("Into variants match their allocating forms; reuse tolerates dirty buffers") {
    val rows = 9; val cols = 11
    val px = Array.tabulate(rows * cols * 3)(i => ((i * 53) % 256).toByte)
    val gray = new Array[Byte](rows * cols)
    Kernels.grayscaleInto(px, rows, cols, 3, gray)
    assert(gray.toSeq == Kernels.grayscale(px, rows, cols, 3).toSeq)

    val tmp = Array.fill(rows * cols)(Int.MaxValue) // dirty scratch
    val blur = Array.fill[Byte](rows * cols)(-1)
    Kernels.gaussianBlur3x3Into(gray, rows, cols, tmp, blur)
    assert(blur.toSeq == Kernels.gaussianBlur3x3(gray, rows, cols).toSeq)

    val bin = Kernels.threshold(blur, 100)
    val labels = Array.fill(rows * cols)(true) // dirty visit marks
    val stack = new java.util.ArrayDeque[Int]()
    stack.push(42)
    assert(Kernels.boundingBoxesReuse(bin, rows, cols, 0, labels, stack) ==
      Kernels.boundingBoxes(bin, rows, cols, 0))
  }
}
