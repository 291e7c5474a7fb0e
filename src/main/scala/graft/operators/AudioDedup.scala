package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cv.AudioOps

/** Perceptual near-duplicate detection over AUDIO binary columns — the
  * third modality of the dedup family (text → embeddings → images →
  * audio), built on the SAME Hamming-banded core as [[ImageDedup]]: one
  * map-side fingerprint pass (RIFF/WAV parse → 65-segment SPECTRAL
  * fingerprint, [[AudioOps.spectralHash64]]: per-segment log-energy +
  * Goertzel-bank log-frequency centroid, so pitch movement is audible to
  * the hash, not just loudness — the energy-only [[AudioOps.audioHash64]]
  * remains available for envelope-only matching), then
  * [[ImageDedup.hammingNearDupPairs]] for candidates (equi-join on hash
  * bit-slices, pigeonhole recall guarantee, never all-pairs) and
  * `bit_count(XOR)` verification. Undecodable blobs hash to NULL and drop
  * from pairing, as in every modality here.
  */
object AudioDedup {

  /** WAV bytes → 64-bit spectral fingerprint, NULL if undecodable. A Scala
    * UDF is the sanctioned tool (no built-in parses RIFF; per-row
    * imperative sample math — SURVEY §2 UDF policy).
    */
  private val hashUdf = udf { bytes: Array[Byte] =>
    if (bytes == null) None
    else AudioOps.decodeWav(bytes).map(AudioOps.spectralHash64)
  }.asNondeterministic() // optimizer fence — see AudioContainment.windowHashUdf

  /** Fingerprint column for an encoded-WAV column. */
  def fingerprint(audioCol: Column): Column = hashUdf(audioCol)

  /** (id, phash) for every decodable clip. */
  def hashes(audio: DataFrame, audioCol: String, idCol: String): DataFrame =
    audio.select(col(idCol).as("id"), fingerprint(col(audioCol)).as("phash"))
      .filter(col("phash").isNotNull)

  /** Verified near-duplicate clip pairs (id_a < id_b, Hamming `dist` <=
    * 3) via the shared banded candidate join. */
  def nearDupPairs(audio: DataFrame, audioCol: String,
      idCol: String): DataFrame =
    ImageDedup.hammingNearDupPairs(hashes(audio, audioCol, idCol), 3)
}
