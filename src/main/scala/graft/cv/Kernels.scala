package graft.cv

import graft.model.{FrameCodec, MotionRegion}

/** Pure-JVM computer-vision kernels replacing the reference's OpenCV calls
  * (no native deps in this environment). Semantics mirror
  * /root/reference/dvaf/processor/.../service/MotionDetector.java:
  * grayscale+blur (33-36, 50-52), absdiff (56), binary threshold 20→255
  * (58-59), external contours with min area 300 (61, 111-131), bounding
  * rects (64-66).
  *
  * These run inside the per-key stateful processor, i.e. per-frame on one
  * executor core — plain byte-array loops JIT to vectorized code and avoid
  * any serialization overhead. Images are row-major byte arrays; gray planes
  * are rows*cols, interleaved color is rows*cols*channels.
  */
object Kernels {

  /** BGR/RGB (any channel order) → 8-bit luma, integer arithmetic.
    * For channels==1 this is a copy. Uses the Rec.601 integer approximation
    * (29·B + 150·G + 77·R) >> 8, i.e. weights in memory channel order
    * [c0,c1,c2] = (29,150,77) like OpenCV's BGR2GRAY with B first.
    */
  def grayscale(px: Array[Byte], rows: Int, cols: Int, channels: Int): Array[Byte] = {
    val out = new Array[Byte](rows * cols)
    grayscaleInto(px, rows, cols, channels, out)
    out
  }

  /** [[grayscale]] into a caller-provided plane — the zero-allocation form
    * used by the streaming hot path (one frame per call per camera, so the
    * state function reuses one scratch buffer for a whole micro-batch).
    */
  def grayscaleInto(
      px: Array[Byte], rows: Int, cols: Int, channels: Int, out: Array[Byte]): Unit = {
    val n = rows * cols
    if (channels == 1) {
      System.arraycopy(px, 0, out, 0, n)
    } else {
      var i = 0
      var j = 0
      while (i < n) {
        val b = px(j) & 0xff
        val g = px(j + 1) & 0xff
        val r = px(j + 2) & 0xff
        out(i) = ((29 * b + 150 * g + 77 * r) >> 8).toByte
        i += 1
        j += channels
      }
    }
  }

  /** 3×3 Gaussian blur (kernel 1-2-1 ⊗ 1-2-1 / 16), separable, replicated
    * borders — matches OpenCV GaussianBlur(src, dst, Size(3,3), 0) whose
    * sigma-from-ksize kernel is exactly [1,2,1]/4.
    */
  def gaussianBlur3x3(gray: Array[Byte], rows: Int, cols: Int): Array[Byte] = {
    val out = new Array[Byte](rows * cols)
    gaussianBlur3x3Into(gray, rows, cols, new Array[Int](rows * cols), out)
    out
  }

  /** [[gaussianBlur3x3]] with caller-provided scratch (`tmp`, length ≥
    * rows·cols) and output planes — zero-allocation hot-path form.
    */
  def gaussianBlur3x3Into(
      gray: Array[Byte], rows: Int, cols: Int, tmp: Array[Int], out: Array[Byte]): Unit = {
    // horizontal pass
    var r = 0
    while (r < rows) {
      val base = r * cols
      var c = 0
      while (c < cols) {
        val l = gray(base + (if (c == 0) 0 else c - 1)) & 0xff
        val m = gray(base + c) & 0xff
        val rr = gray(base + (if (c == cols - 1) c else c + 1)) & 0xff
        tmp(base + c) = l + 2 * m + rr
        c += 1
      }
      r += 1
    }
    // vertical pass + normalize (round-to-nearest like OpenCV's fixed-point)
    r = 0
    while (r < rows) {
      val up = (if (r == 0) 0 else r - 1) * cols
      val mid = r * cols
      val dn = (if (r == rows - 1) r else r + 1) * cols
      var c = 0
      while (c < cols) {
        out(mid + c) = ((tmp(up + c) + 2 * tmp(mid + c) + tmp(dn + c) + 8) >> 4).toByte
        c += 1
      }
      r += 1
    }
  }

  /** |a - b| per pixel (OpenCV absdiff, MotionDetector.java:56). */
  def absDiff(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) {
      out(i) = math.abs((a(i) & 0xff) - (b(i) & 0xff)).toByte
      i += 1
    }
    out
  }

  /** Binary threshold: v > thresh → 255 else 0 (THRESH_BINARY,
    * MotionDetector.java:58-59, thresh=20).
    */
  def threshold(img: Array[Byte], thresh: Int): Array[Byte] = {
    val out = new Array[Byte](img.length)
    var i = 0
    while (i < img.length) {
      out(i) = if ((img(i) & 0xff) > thresh) 255.toByte else 0
      i += 1
    }
    out
  }

  /** Fused absdiff + threshold in one pass into a caller-provided binary
    * plane: out(i) = 255 iff ||a-b|| > thresh. Bit-identical to
    * `threshold(absDiff(a, b), thresh)` (cross-checked in KernelsSpec) but
    * skips the intermediate diff plane — the streaming hot path runs this
    * once per frame per camera.
    */
  def absDiffThresholdInto(
      a: Array[Byte], b: Array[Byte], thresh: Int, out: Array[Byte]): Unit = {
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      out(i) = if (d > thresh || -d > thresh) 255.toByte else 0
      i += 1
    }
  }

  /** Connected components (8-connectivity, matching findContours
    * RETR_EXTERNAL grouping) over a binary image → bounding boxes of
    * components with area strictly > minArea, ordered by (y, x) of the box
    * corner.
    *
    * Replaces findContours+boundingRect (MotionDetector.java:111-131):
    * for axis-aligned bounding boxes of external regions the two are
    * equivalent. The comparison is strict (> minArea) like the reference's
    * `contourArea(contour) > 300` (MotionDetector.java:61); note pixel
    * count is systematically ≥ contourArea (polygon area underestimates the
    * rasterized component), so detection here is marginally MORE sensitive
    * at the boundary than OpenCV's — the close side to err on for a motion
    * alarm.
    *
    * Iterative flood fill with an explicit int stack — no recursion.
    */
  def boundingBoxes(bin: Array[Byte], rows: Int, cols: Int, minArea: Int): Seq[MotionRegion] =
    boundingBoxesReuse(
      bin, rows, cols, minArea,
      new Array[Boolean](rows * cols), new java.util.ArrayDeque[Int]())

  /** [[boundingBoxes]] with caller-provided visit-marks and stack (hot-path
    * form; `labels` length ≥ rows·cols, cleared here before use).
    */
  def boundingBoxesReuse(
      bin: Array[Byte], rows: Int, cols: Int, minArea: Int,
      labels: Array[Boolean], stack: java.util.ArrayDeque[Int]): Seq[MotionRegion] = {
    java.util.Arrays.fill(labels, 0, rows * cols, false)
    stack.clear()
    val boxes = Seq.newBuilder[MotionRegion]
    var idx = 0
    while (idx < rows * cols) {
      if (bin(idx) != 0 && !labels(idx)) {
        var minR, maxR = idx / cols
        var minC, maxC = idx % cols
        var area = 0
        stack.push(idx)
        labels(idx) = true
        while (!stack.isEmpty) {
          val p = stack.pop()
          val pr = p / cols
          val pc = p % cols
          area += 1
          if (pr < minR) minR = pr
          if (pr > maxR) maxR = pr
          if (pc < minC) minC = pc
          if (pc > maxC) maxC = pc
          var dr = -1
          while (dr <= 1) {
            var dc = -1
            while (dc <= 1) {
              val nr = pr + dr
              val nc = pc + dc
              if (nr >= 0 && nr < rows && nc >= 0 && nc < cols) {
                val np = nr * cols + nc
                if (bin(np) != 0 && !labels(np)) {
                  labels(np) = true
                  stack.push(np)
                }
              }
              dc += 1
            }
            dr += 1
          }
        }
        if (area > minArea)
          boxes += MotionRegion(minC, minR, maxC - minC + 1, maxR - minR + 1)
      }
      idx += 1
    }
    boxes.result().sortBy(b => (b.y, b.x))
  }

  /** Draw a 1px green rectangle on an interleaved BGR image in place.
    * The reference's `Imgproc.rectangle(copyFrame, rect, Scalar(0,255,0,0))`
    * (MotionDetector.java:64-66) passes no thickness argument, so OpenCV's
    * default thickness 1 applies — matched here.
    */
  def drawRect(px: Array[Byte], rows: Int, cols: Int, channels: Int, box: MotionRegion): Unit = {
    if (channels < 3) return
    def set(r: Int, c: Int): Unit = {
      if (r >= 0 && r < rows && c >= 0 && c < cols) {
        val o = (r * cols + c) * channels
        px(o) = 0
        px(o + 1) = 255.toByte
        px(o + 2) = 0
      }
    }
    val x1 = box.x; val y1 = box.y
    val x2 = box.x + box.w - 1; val y2 = box.y + box.h - 1
    var c = x1
    while (c <= x2) { set(y1, c); set(y2, c); c += 1 }
    var r = y1
    while (r <= y2) { set(r, x1); set(r, x2); r += 1 }
  }

  /** Codegen-friendly entry point for
    * [[graft.expressions.MotionRegionCount]]: the [[Motion.Step]] region
    * count between two raw frames, or -1 (SQL NULL) when either payload
    * fails [[graft.model.FrameCodec.readable]]. `matType` is the OpenCV
    * type code.
    */
  def motionRegionCount(
      prev: Array[Byte], cur: Array[Byte], rows: Int, cols: Int, matType: Int): Int =
    if (!FrameCodec.readable(prev, rows, cols, matType) ||
      !FrameCodec.readable(cur, rows, cols, matType)) -1
    else {
      val (step, channels) = (new Motion.Step, FrameCodec.channelsOf(matType))
      step.detect(prev, rows, cols, channels)
      step.commit()
      step.detect(cur, rows, cols, channels).size
    }
}
