package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.cv.AudioOps
import graft.sources.AudioCorpus

/** Audio-fingerprint dedup semantics: the invariances the hash claims
  * (amplitude, resampling), family recall vs brute force through the
  * shared banded join, undecodable handling, and the cross-modal
  * agreement gate (ext103).
  */
class AudioDedupSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  private def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)

  private def hashOf(bytes: Array[Byte]): Long =
    AudioOps.spectralHash64(AudioOps.decodeWav(bytes).get)

  test("energy fingerprint is invariant to amplitude scaling and resampling") {
    val a = AudioOps.decodeWav(AudioCorpus.render(0L)).get
    val h0 = AudioOps.audioHash64(a)
    // halve the amplitude: every RMS comparison is monotone-preserved
    val quiet = a.copy(samples = a.samples.map(s => (s / 2).toShort))
    assert(AudioOps.audioHash64(quiet) == h0, "amplitude scaling changed the hash")
    // resample 8 kHz → 4 kHz: proportional segments see the same envelope
    val down = AudioOps.resample(a, 4000)
    assert(hamming(AudioOps.audioHash64(down), h0) <= 3,
      "resampling drifted past the near-dup threshold")
  }

  test("spectral fingerprint is invariant to amplitude scaling and resampling") {
    val a = AudioOps.decodeWav(AudioCorpus.render(0L)).get
    val h0 = AudioOps.spectralHash64(a)
    // ln(rms) turns scaling into a constant shift; the centroid is a ratio —
    // requantization (integer truncation) may graze a borderline comparison
    val quiet = a.copy(samples = a.samples.map(s => (s / 2).toShort))
    assert(hamming(AudioOps.spectralHash64(quiet), h0) <= 1,
      "amplitude scaling drifted the spectral hash")
    // absolute-frequency Goertzel bands see the same physical bands at 4 kHz
    val down = AudioOps.resample(a, 4000)
    assert(hamming(AudioOps.spectralHash64(down), h0) <= 3,
      "resampling drifted past the near-dup threshold")
  }

  test("spectral hash hears pitch the energy hash cannot") {
    // two clips with the IDENTICAL per-segment amplitude schedule; one holds
    // 440 Hz throughout, the other alternates 300/1200 Hz per segment — the
    // energy envelopes match sample-for-sample in RMS, so the energy hash
    // scores them as duplicates, while the spectral centroid swings ~2
    // octaves per segment and separates them decisively
    val n = AudioCorpus.NSamples
    val rate = AudioCorpus.SampleRate
    def render(freqOf: Int => Double): Array[Byte] = {
      val s = new Array[Short](n)
      var i = 0
      while (i < n) {
        val seg = (i.toLong * 65 / n).toInt
        val amp = 1000 + (seg * 251 % 16384)
        s(i) = (amp * math.sin(2 * math.Pi * freqOf(seg) * i / rate)).toShort
        i += 1
      }
      AudioOps.encodeWav(rate, 1, s)
    }
    val flat = AudioOps.decodeWav(render(_ => 440.0)).get
    val warble = AudioOps.decodeWav(
      render(seg => if (seg % 2 == 0) 300.0 else 1200.0)).get
    assert(hamming(AudioOps.audioHash64(flat), AudioOps.audioHash64(warble)) <= 3,
      "fixture invalid: envelopes must match under the energy hash")
    assert(hamming(AudioOps.spectralHash64(flat), AudioOps.spectralHash64(warble)) > 10,
      "spectral hash failed to separate same-envelope different-pitch clips")
  }

  test("family variants agree; different families are uncorrelated") {
    val base = hashOf(AudioCorpus.render(0L))
    for (v <- 1L to 2L)
      assert(hamming(base, hashOf(AudioCorpus.render(v))) <= 3,
        s"variant $v drifted past the threshold")
    val fams = (0 until 12).map(f => hashOf(AudioCorpus.render(f * 3L)))
    for (i <- fams.indices; j <- i + 1 until fams.size)
      assert(hamming(fams(i), fams(j)) > 10,
        s"families $i/$j collide at dist ${hamming(fams(i), fams(j))}")
  }

  test("nearDupPairs catches exactly the family pairs; banded == brute force") {
    val ids = (0L until 30L).toDF("doc_id")
    val clips = AudioCorpus.forIds(ids, "doc_id")
    val pairs = AudioDedup.nearDupPairs(clips, "wav", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 10L).flatMap { f =>
      val m = Seq(f * 3, f * 3 + 1, f * 3 + 2)
      for (i <- m; j <- m if i < j) yield (i, j)
    }.toSet
    assert(pairs == expected,
      s"missing=${expected -- pairs} spurious=${pairs -- expected}")

    val hs = AudioDedup.hashes(clips, "wav", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, ha) <- hs; (ib, hb) <- hs
      if ia < ib && hamming(ha, hb) <= 3
    } yield (ia, ib)).toSet
    assert(pairs == brute, "banded join diverged from brute force")
  }

  test("undecodable blobs are dropped, not crashed on") {
    val rows = Seq(
      (1L, AudioCorpus.render(1L)),
      (2L, Array[Byte](82, 73, 70, 70)), // truncated RIFF
      (3L, null.asInstanceOf[Array[Byte]]))
    val df = rows.toDF("doc_id", "wav")
    assert(AudioDedup.hashes(df, "wav", "doc_id").count() == 1)
    assert(AudioDedup.nearDupPairs(df, "wav", "doc_id").count() == 0)
  }

  test("ext103 cross-modal gate DISCRIMINATES: divergent-audio docs drop despite matching images") {
    val q = graft.queries.ExtensionQueries.defs
      .find(_.name == "ext103_multimodal_neardup").get
    val out = q.build(spark, "/root/testdata/sf0.001").collect()
    assert(out.forall(r => r.getLong(2) <= 3 && r.getLong(3) <= 3),
      "every surviving pair must sit within threshold in BOTH modalities")
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected = the aligned family pairs over the ACTUAL doc_id set, minus
    // every pair touching a divergent-audio doc (doc_id % 30 == 2)
    import spark.implicits._
    val ids: Seq[Long] = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select("doc_id").as[Long].collect().toSeq
    val expected: Set[(Long, Long)] = ids.groupBy(_ / 3).values.toSeq
      .flatMap { m =>
        val s = m.sorted
        for (i <- s; j <- s if i < j) yield (i, j)
      }.toSet
      .filterNot { case (a, b) => a % 30 == 2 || b % 30 == 2 }
    assert(expected.nonEmpty && pairs.nonEmpty)
    assert(pairs == expected,
      s"missing=${expected -- pairs} spurious=${pairs -- expected}")
  }
}
