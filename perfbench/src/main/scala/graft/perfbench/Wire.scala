package graft.perfbench

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession

import graft.model.VideoFrameData
import graft.streaming.FrameProducer

/** The load generator's frame rendering and file writing.
  *
  * Frames are rendered on the calling thread through the producer's own
  * code: `FrameProducer.synthPixels` for the pixels and `FrameProducer.toWire`
  * for the reference JSON wire (over a local Dataset, which Spark evaluates
  * in this JVM). Every file reaches the watched directory by an atomic
  * rename, so the file source never sees a partial line.
  */
object Wire {
  /** Width of the wire's `yyyy-MM-dd'T'HH:mm:ss.SSSXXX` UTC timestamp. */
  val StampWidth = 24
  /** Timestamp rendered into live templates, overwritten when written. */
  val PlaceholderMs = 946684800000L // 2000-01-01T00:00:00.000Z

  private val stampFormat = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(ZoneOffset.UTC)

  def stamp(ms: Long): Array[Byte] = stampFormat.format(Instant.ofEpochMilli(ms)).getBytes(US_ASCII)

  def frame(camId: String, ms: Long, seq: Long, rows: Int, cols: Int, moving: Boolean): VideoFrameData =
    VideoFrameData(camId, new Timestamp(ms), rows, cols, FrameProducer.MatTypeC3,
      java.util.Base64.getEncoder.encodeToString(
        FrameProducer.synthPixels(seq, rows, cols, moving)))

  /** Frames → wire lines (UTF-8, no newline), in input order. */
  def render(spark: SparkSession, frames: Seq[VideoFrameData], nCameras: Int): Array[Array[Byte]] = {
    import spark.implicits._
    FrameProducer.toWire(spark.createDataset(frames), nCameras)
      .select("value").as[String].collect().map(_.getBytes(UTF_8))
  }

  /** Byte offset of the timestamp value inside a rendered wire line. */
  def stampOffset(line: Array[Byte]): Int = {
    val key = "\"timestamp\":\"".getBytes(US_ASCII)
    val i = indexOf(line, key)
    require(i >= 0, "wire line has no timestamp field")
    i + key.length
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = 0
    while (i + needle.length <= hay.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}

/** Every camera's pre-rendered scene cycle: `lines(camera)(j)` is frame j
  * of the cycle on the wire, stamped with [[Wire.PlaceholderMs]]. Round k
  * of a stream shows frame `k % cycle` of every camera. */
final class Scene(lines: Array[Array[Array[Byte]]]) {
  private val offsets = lines.map(_.map(Wire.stampOffset))
  private val placeholder = Wire.stamp(Wire.PlaceholderMs).toSeq
  lines.indices.foreach { c =>
    require(lines(c)(0).slice(offsets(c)(0), offsets(c)(0) + Wire.StampWidth).toSeq == placeholder,
      "rendered wire does not carry the placeholder stamp")
  }

  def cycle: Int = lines(0).length

  /** Writes round k, every camera's frame stamped `ms` and followed by a
    * newline, to `target`: first to a temp file in `tmpDir`, then by an
    * atomic rename. */
  def writeRound(tmpDir: Path, target: Path, k: Int, ms: Long): Unit = {
    val stamp = Wire.stamp(ms)
    val tmp = Files.createTempFile(tmpDir, "round", ".tmp")
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(tmp), 1 << 20)
    try {
      lines.indices.foreach { c =>
        val (l, at) = (lines(c)(k % cycle), offsets(c)(k % cycle))
        out.write(l, 0, at)
        out.write(stamp)
        out.write(l, at + Wire.StampWidth, l.length - at - Wire.StampWidth)
        out.write('\n')
      }
    } finally out.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }
}

object Scene {
  /** Renders `cycle` frames per camera; camera c shows
    * `synthPixels(phase(c) + j)`, moving or static per `moving(c)`. */
  def render(spark: SparkSession, cams: Int, cycle: Int, rows: Int, cols: Int,
      phase: Int => Int, moving: Int => Boolean): Scene = {
    val byCycle = (0 until cycle).map { j =>
      Wire.render(spark, (0 until cams).map(c =>
        Wire.frame(s"cam$c", Wire.PlaceholderMs, phase(c) + j, rows, cols, moving(c))), cams)
    }
    new Scene(Array.tabulate(cams, cycle)((c, j) => byCycle(j)(c)))
  }
}

/** The open-loop generator of the live workload: one thread, a fixed
  * schedule that never waits for the pipeline. Tick k is due at
  * `startMs + k * periodMs`; it writes one file holding one frame per
  * camera, each stamped with the tick's due time. */
final class LiveGenerator(inDir: Path, tmpDir: Path, scene: Scene, periodMs: Double,
    ticks: Int, startMs: Long) extends Thread("perfbench-generator") {
  val lagMs = new Array[Long](ticks)
  @volatile var ticksWritten = 0
  @volatile var failure: Throwable = null

  def dueMs(k: Int): Long = startMs + math.round(k * periodMs)

  override def run(): Unit =
    try {
      var k = 0
      while (k < ticks) {
        val due = dueMs(k)
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        scene.writeRound(tmpDir, inDir.resolve(f"tick-$k%06d.json"), k, due)
        lagMs(k) = System.currentTimeMillis() - due
        k += 1
        ticksWritten = k
      }
    } catch { case t: Throwable => failure = t }
}
