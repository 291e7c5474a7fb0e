package graft.cv

import java.nio.ByteBuffer
import java.util.zip.{CRC32, Inflater}

import org.scalatest.funsuite.AnyFunSuite

import graft.model.MotionRegion

/** `Png.encodeBytes` is lossless and deterministic 8-bit RGB for every
  * layout the frame path and the image corpus write: the decoded pixels are
  * the input's B,G,R (a 4th byte dropped), or v,v,v for gray input. */
class PngSpec extends AnyFunSuite {

  private val geometries = Seq((1, 1), (1, 641), (480, 1), (480, 640))

  /** A flat scene, seeded noise, or the motion path's annotated frame: a
    * bright 20×20 square with its green box (clipped to the frame). */
  private def scene(kind: String, rows: Int, cols: Int, channels: Int): Array[Byte] = {
    val n = rows * cols * channels
    kind match {
      case "flat" => Array.tabulate(n)(i => (10 + 40 * (i % channels)).toByte)
      case "noisy" =>
        val rnd = new java.util.Random(rows * 7919L + cols * 31L + channels)
        Array.fill(n)(rnd.nextInt(256).toByte)
      case "moving" =>
        val px = Array.fill(n)(10.toByte)
        for (r <- 10 until 30 if r < rows; c <- 26 until 46 if c < cols; k <- 0 until channels)
          px((r * cols + c) * channels + k) = 230.toByte
        Kernels.drawRect(px, rows, cols, channels, MotionRegion(25, 9, 22, 22))
        px
    }
  }

  /** The interleaved BGR a decoder must read back: the first three bytes of
    * a pixel when it has at least three, else its first byte three times. */
  private def expectedBgr(px: Array[Byte], rows: Int, cols: Int, channels: Int): Array[Byte] =
    Array.tabulate(rows * cols * 3) { i =>
      val o = (i / 3) * channels
      if (channels >= 3) px(o + i % 3) else px(o)
    }

  /** Chunks as (type, body), each CRC checked. */
  private def chunks(png: Array[Byte]): Seq[(String, Array[Byte])] = {
    assert(png.take(8).toSeq ==
      Seq(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte))
    val buf = ByteBuffer.wrap(png, 8, png.length - 8)
    val out = Seq.newBuilder[(String, Array[Byte])]
    while (buf.hasRemaining) {
      val n = buf.getInt()
      val kind = new Array[Byte](4); buf.get(kind)
      val body = new Array[Byte](n); buf.get(body)
      val crc = new CRC32; crc.update(kind); crc.update(body)
      val name = new String(kind, "US-ASCII")
      assert(buf.getInt() == crc.getValue.toInt, s"bad CRC in $name")
      out += name -> body
    }
    out.result()
  }

  private def inflatedLength(idat: Array[Byte]): Long = {
    val inf = new Inflater()
    try {
      inf.setInput(idat)
      val sink = new Array[Byte](1 << 16)
      var total = 0L
      while (!inf.finished()) {
        val k = inf.inflate(sink)
        assert(k > 0 || !inf.needsInput, "truncated IDAT stream")
        total += k
      }
      total
    } finally inf.end()
  }

  for (channels <- Seq(1, 3, 4); kind <- Seq("flat", "noisy", "moving")) {
    test(s"$kind scene, $channels channel(s): pixel-exact RGB, valid chunks, deterministic bytes") {
      geometries.foreach { case (rows, cols) =>
        val at = s"$rows x $cols"
        val px = scene(kind, rows, cols, channels)
        val png = Png.encodeBytes(px, rows, cols, channels)

        val img = ImageOps.decode(png).getOrElse(fail(s"$at: undecodable"))
        assert((img.rows, img.cols, img.channels) == (rows, cols, 3), at)
        assert(java.util.Arrays.equals(img.px, expectedBgr(px, rows, cols, channels)), at)

        val cs = chunks(png)
        assert(cs.head._1 == "IHDR" && cs.last._1 == "IEND" && cs.last._2.isEmpty, at)
        val ihdr = ByteBuffer.wrap(cs.head._2)
        assert((ihdr.getInt(), ihdr.getInt()) == (cols, rows), at)
        assert((ihdr.get(), ihdr.get()) == (8: Byte, 2: Byte), s"$at: depth 8, color type 2")
        val idat = cs.filter(_._1 == "IDAT").flatMap(_._2).toArray
        assert(inflatedLength(idat) == rows.toLong * (1 + 3 * cols), at)

        assert(java.util.Arrays.equals(png, Png.encodeBytes(px.clone(), rows, cols, channels)),
          s"$at: re-encoding changed the bytes")
      }
    }
  }

  test("a payload shorter than its geometry is rejected") {
    intercept[IllegalArgumentException](Png.encodeBytes(new Array[Byte](11), 2, 2, 3))
    intercept[IllegalArgumentException](Png.encodeBytes(new Array[Byte](0), 0, 1, 1))
  }
}
