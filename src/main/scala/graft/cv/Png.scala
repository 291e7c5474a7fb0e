package graft.cv

import java.awt.image.BufferedImage
import java.io.File
import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageOutputStream

/** PNG side-output, replacing the reference's Imgcodecs.imwrite
  * (/root/reference/dvaf/processor/.../MotionDetector.java:133-177).
  * Deterministic filenames ({camId}-T-{epochMillis}.png, :147) make replays
  * under at-least-once delivery idempotent — same rationale as the
  * reference.
  */
object Png {

  /** Interleaved BGR (or gray) bytes → BufferedImage. */
  def toImage(px: Array[Byte], rows: Int, cols: Int, channels: Int): BufferedImage = {
    val img = new BufferedImage(cols, rows, BufferedImage.TYPE_INT_RGB)
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        val o = (r * cols + c) * channels
        val rgb = if (channels >= 3) {
          val b = px(o) & 0xff; val g = px(o + 1) & 0xff; val rr = px(o + 2) & 0xff
          (rr << 16) | (g << 8) | b
        } else {
          val v = px(o) & 0xff
          (v << 16) | (v << 8) | v
        }
        img.setRGB(c, r, rgb)
        c += 1
      }
      r += 1
    }
    img
  }

  /** Interleaved bytes → encoded PNG bytes (the binary-column form a
    * multimodal pipeline carries through parquet / binaryFile sources, and
    * what [[saveFrame]] writes). Lossless, so decode(encodeBytes(px))
    * round-trips the pixels exactly.
    */
  def encodeBytes(px: Array[Byte], rows: Int, cols: Int, channels: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    // an in-memory stream: ImageIO's default for a plain OutputStream
    // caches through a temp file; the bytes are the same either way
    val ios = new MemoryCacheImageOutputStream(bos)
    try ImageIO.write(toImage(px, rows, cols, channels), "png", ios)
    finally ios.close()
    bos.toByteArray
  }

  /** A frame's file name, `{camId}-T-{epochMillis}.png` (:147), with the
    * camId from the untrusted wire made a flat filename component (no
    * separators or traversal).
    */
  def frameName(camId: String, epochMillis: Long): String = {
    val s = Option(camId).getOrElse("null").replaceAll("[^A-Za-z0-9._-]", "_")
    s"${if (s.isEmpty || s.forall(_ == '.')) "_" else s}-T-$epochMillis.png"
  }

  /** Write [[encodeBytes]] to [[frameName]] under outputDir (mkdir -p). */
  def saveFrame(
      px: Array[Byte], rows: Int, cols: Int, channels: Int,
      camId: String, epochMillis: Long, outputDir: String): String = {
    new File(outputDir).mkdirs()
    val path = new File(outputDir, frameName(camId, epochMillis))
    java.nio.file.Files.write(path.toPath, encodeBytes(px, rows, cols, channels))
    path.getAbsolutePath
  }
}
