package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.cv.AudioOps
import graft.sources.AudioCorpus

/** Audio clip-in-track containment (ext109): window-hash equality between
  * a standalone clip and its embedded (amplitude-scaled) copy, the planted
  * pair set with offsets and coverage, the scattered-coincidence
  * rejection the alignment vote exists for, and silence-window handling.
  */
class AudioContainmentSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private val WinSec = AudioCorpus.TrackWindowSec
  private val Win = AudioCorpus.TrackWindowSamples

  private def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)

  private def windowsOf(bytes: Array[Byte]): Seq[(Int, Long)] =
    AudioOps.windowSpectralHashes(AudioOps.decodeWav(bytes).get, WinSec)

  /** Reassemble a WAV from the given window slices of a decoded track. */
  private def reassemble(src: AudioOps.DecodedAudio,
      order: Seq[Int]): Array[Byte] = {
    val out = new Array[Short](order.size * Win)
    order.zipWithIndex.foreach { case (w, i) =>
      System.arraycopy(src.samples, w * Win, out, i * Win, Win)
    }
    AudioOps.encodeWav(src.sampleRate, 1, out)
  }

  test("embedded amplitude-scaled copy reproduces the clip's window hashes") {
    val clip = windowsOf(AudioCorpus.renderTrack(0L)) // 4 windows
    val track = windowsOf(AudioCorpus.renderTrack(3L)) // 10, embeds 0 at 3
    assert(clip.size == 4 && track.size == 10)
    clip.foreach { case (w, h) =>
      assert(hamming(h, track(w + 3)._2) <= 2,
        s"embedded window ${w + 3} drifted from clip window $w " +
          s"(dist ${hamming(h, track(w + 3)._2)})")
    }
    // non-embedded windows are uncorrelated with the clip
    assert(hamming(clip.head._2, track.head._2) > 10,
      "fixture invalid: fresh track window correlates with the clip")
  }

  test("containmentPairs reports the planted pairs with offset and coverage") {
    val ids = (0L until 20L).toDF("doc_id")
    val tracks = AudioCorpus.trackFor(ids, "doc_id")
    val got = AudioContainment.containmentPairs(
      tracks, "wav", "doc_id", windowSec = WinSec)
      .collect()
      .map(r => (r.getAs[Long]("clip_id"), r.getAs[Long]("track_id"),
        r.getAs[Int]("offset_windows").toLong, r.getAs[Double]("coverage")))
      .sortBy(p => (p._1, p._2))
    val want = Seq(0L, 4L, 8L, 12L, 16L).map(c => (c, c + 3))
    assert(got.map(p => (p._1, p._2)).toSeq == want,
      s"pair set mismatch: ${got.mkString(", ")}")
    got.foreach { case (c, t, off, cov) =>
      assert(off == 3L, s"clip $c in track $t at offset $off, expected 3")
      assert(cov >= 0.99, s"clip $c in track $t coverage $cov, expected 1.0")
    }
    // offset_seconds carries the window duration through
    val secs = AudioContainment.containmentPairs(
      tracks, "wav", "doc_id", windowSec = WinSec)
      .filter($"clip_id" === 0L).select("offset_seconds").as[Double].head()
    assert(math.abs(secs - 3 * WinSec) < 1e-9)
  }

  test("a shuffled rearrangement of the same windows is rejected") {
    val src = AudioOps.decodeWav(AudioCorpus.renderTrack(0L)).get // 4 windows
    val inOrder = reassemble(src, Seq(0, 1, 2, 3))
    val shuffled = reassemble(src, Seq(2, 0, 3, 1))
    val df = Seq((1L, inOrder), (2L, shuffled), (3L, inOrder))
      .toDF("doc_id", "wav")
    val pairs = AudioContainment.containmentPairs(
        df, "wav", "doc_id", windowSec = WinSec)
      .collect()
      .map(r => (r.getAs[Long]("clip_id"), r.getAs[Long]("track_id")))
      .toSet
    // every window of the shuffle matches SOME window of the original, but
    // no single alignment explains more than 2 of 4 — the identical copy
    // (1, 3) survives, the montage pairs do not
    assert(pairs == Set((1L, 3L)),
      s"alignment vote failed to separate montage from copy: $pairs")
  }

  test("silence windows drop from both numerator and denominator") {
    val src = AudioOps.decodeWav(AudioCorpus.renderTrack(0L)).get
    // A = [w0, silence, w1, silence]; B = [w0, w1] — informative windows
    // match at offsets 0 and 1, both inside the ±1 jitter window
    val silencePadded = {
      val out = new Array[Short](4 * Win)
      System.arraycopy(src.samples, 0, out, 0, Win)
      System.arraycopy(src.samples, Win, out, 2 * Win, Win)
      AudioOps.encodeWav(src.sampleRate, 1, out)
    }
    val plain = reassemble(src, Seq(0, 1))
    val df = Seq((1L, silencePadded), (2L, plain)).toDF("doc_id", "wav")
    val wh = AudioContainment.windowHashes(df, "wav", "doc_id", WinSec)
      .filter(TemporalAlignment.informative(org.apache.spark.sql.functions.col("whash")))
    assert(wh.filter($"id" === 1L).count() == 2,
      "silence windows were not dropped")
    val pairs = AudioContainment.containmentPairs(
        df, "wav", "doc_id", windowSec = WinSec)
      .collect()
    assert(pairs.length == 1 && pairs.head.getAs[Double]("coverage") >= 0.99,
      s"silence-padded containment not detected: ${pairs.mkString(", ")}")
  }

  test("misaligned insertion: invisible at the default grid, caught at hop = window/2") {
    val clip = AudioOps.decodeWav(AudioCorpus.renderTrack(0L)).get // 4 windows
    val host = AudioOps.decodeWav(AudioCorpus.renderTrack(1L)).get // >= 5 windows
    // embed the clip at sample offset Win/2 — a multiple of the half hop,
    // NOT of the window, so every default-grid window straddles two clip
    // windows and hashes like neither
    val half = Win / 2
    val out = new Array[Short](half + clip.samples.length + 3 * half)
    System.arraycopy(host.samples, 0, out, 0, half)
    System.arraycopy(clip.samples, 0, out, half, clip.samples.length)
    System.arraycopy(host.samples, half, out, half + clip.samples.length, 3 * half)
    val composite = AudioOps.encodeWav(clip.sampleRate, 1, out)
    val df = Seq((5L, AudioCorpus.renderTrack(0L)), (9L, composite))
      .toDF("doc_id", "wav")
    assert(AudioContainment.containmentPairs(
      df, "wav", "doc_id", windowSec = WinSec).count() == 0,
      "default non-overlapping grid should not see the misaligned insertion")
    val caught = AudioContainment.containmentPairs(
      df, "wav", "doc_id", windowSec = WinSec,
      hopSec = WinSec / 2)
      .collect()
    assert(caught.length == 1, s"got ${caught.mkString(", ")}")
    val r = caught.head
    assert(r.getAs[Long]("clip_id") == 5L && r.getAs[Long]("track_id") == 9L)
    assert(r.getAs[Int]("offset_windows") == 1,
      s"offset ${r.getAs[Int]("offset_windows")}, expected 1 half-window hop")
    assert(math.abs(r.getAs[Double]("offset_seconds") - WinSec / 2) < 1e-9)
    assert(r.getAs[Double]("coverage") >= 0.99)
  }

  test("undecodable blobs drop; query entry runs at sf0.001") {
    val junk = Seq((1L, Array[Byte](1, 2, 3)),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "wav")
    assert(AudioContainment.containmentPairs(
      junk, "wav", "doc_id", windowSec = WinSec).count() == 0)

    val q = graft.SparkEntry.queries("ext109_audio_containment")
    val rows = q(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty, "ext109 produced no rows at sf0.001")
    // every planted (c, c+3) pair is found at offset 3 with full coverage
    rows.filter(r => r.getAs[Long]("track_id") == r.getAs[Long]("clip_id") + 3)
      .foreach { r =>
        assert(r.getAs[Int]("offset_windows").toLong == 3L)
        assert(r.getAs[Double]("coverage") >= 0.99)
      }
    assert(rows.exists(r => r.getAs[Long]("clip_id") % 4 == 0),
      "no planted clip pair surfaced at sf0.001")
  }
}
