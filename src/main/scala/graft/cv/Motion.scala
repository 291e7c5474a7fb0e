package graft.cv

import graft.model.MotionRegion

/** The motion step, the reference's MotionDetector (MotionDetector.java:
  * 23-92): gray → 3×3 Gaussian → absdiff against the previous frame's
  * blurred plane → threshold → regions above the min area. The live
  * detector, `motion_region_count` and the batch backfill all run [[Step]].
  */
object Motion {

  /** Binary threshold on the blurred absdiff (MotionDetector.java:58-59). */
  val Threshold = 20

  /** Regions count when their area is strictly above this (:61). */
  val MinArea = 300

  /** The chain over one key's frames in order, reusing its scratch planes
    * across frames. The blurred plane double-buffers: the previous plane
    * is the diff operand while the current one is written. [[plane]] may
    * alias the scratch, so never share a step across keys.
    */
  final class Step {
    private var n = -1
    private var gray, bin, blurA, blurB, next: Array[Byte] = _
    private var tmp: Array[Int] = _
    private var labels: Array[Boolean] = _
    private val stack = new java.util.ArrayDeque[Int]()
    private var nextRows, nextCols = 0

    /** The committed blurred gray plane (null before any) and its geometry. */
    var plane: Array[Byte] = _
    var rows, cols = 0

    /** Continue from a plane carried over from an earlier step. */
    def resume(plane: Array[Byte], rows: Int, cols: Int): Unit = {
      this.plane = plane; this.rows = rows; this.cols = cols
    }

    /** Regions of `px` (a [[graft.model.FrameCodec.readable]] layout)
      * against [[plane]], empty when there is none or its geometry
      * differs. The frame's own plane waits for [[commit]].
      */
    def detect(px: Array[Byte], rows: Int, cols: Int, channels: Int): Seq[MotionRegion] = {
      val m = rows * cols
      if (m != n) {
        n = m
        gray = new Array[Byte](m); bin = new Array[Byte](m)
        blurA = new Array[Byte](m); blurB = new Array[Byte](m)
        tmp = new Array[Int](m); labels = new Array[Boolean](m)
      }
      Kernels.grayscaleInto(px, rows, cols, channels, gray)
      next = if (plane eq blurA) blurB else blurA
      nextRows = rows; nextCols = cols
      Kernels.gaussianBlur3x3Into(gray, rows, cols, tmp, next)
      if (plane == null || this.rows != rows || this.cols != cols) Nil
      else {
        Kernels.absDiffThresholdInto(plane, next, Threshold, bin)
        Kernels.boundingBoxesReuse(bin, rows, cols, MinArea, labels, stack)
      }
    }

    /** The last detected frame's plane becomes the one the next diffs against. */
    def commit(): Unit = resume(next, nextRows, nextCols)
  }
}
