package graft.streaming

import java.util.Base64

/** Deterministic synthetic frames (SURVEY.md §5.2): 48×48 BGR images with a
  * 20×20 bright square whose position encodes "motion" between frames.
  * Square area 400 > minArea 300, diff values 220 > threshold 20.
  */
object FrameFixtures {

  val Rows = 48
  val Cols = 48
  val Channels = 3
  val MatTypeC3 = 16 // CV_8UC3

  def pixels(squareX: Int, squareY: Int): Array[Byte] = {
    val px = Array.fill(Rows * Cols * Channels)(10.toByte)
    for (r <- squareY until squareY + 20; c <- squareX until squareX + 20; k <- 0 until Channels)
      px((r * Cols + c) * Channels + k) = 230.toByte
    px
  }

  /** Wire JSON exactly as the reference producer emits it
    * (VideoEventCreator.java:218-233): ISO-8601 instant, base64 raw pixels.
    */
  def frameJson(camId: String, epochMillis: Long, squareX: Int, squareY: Int = 10): String = {
    val b64 = Base64.getEncoder.encodeToString(pixels(squareX, squareY))
    val iso = java.time.Instant.ofEpochMilli(epochMillis).toString
    s"""{"camId":"$camId","timestamp":"$iso","rows":$Rows,"cols":$Cols,"type":$MatTypeC3,"data":"$b64"}"""
  }

  /** A well-formed record whose geometry overflows Int: 2·715827883·3 =
    * 4294967298 wraps to 2, the length of its 2-byte payload ("AAA=").
    * The size check must reject it before any rows×cols buffer exists.
    */
  def overflowJson(camId: String, epochMillis: Long): String = {
    val iso = java.time.Instant.ofEpochMilli(epochMillis).toString
    s"""{"camId":"$camId","timestamp":"$iso","rows":2,"cols":715827883,"type":$MatTypeC3,"data":"AAA="}"""
  }

  /** Position A and a disjoint position B: a 20×20 square jumping between
    * them produces two clean 400-px diff components, comfortably over the
    * 300 min-area (small shifts leave only thin bands under it).
    */
  val PosA = 4
  val PosB = 26

  /** n frames for one camera, 1 s apart from t0. `moving=true` ⇒ the square
    * teleports A↔B each frame (motion on every frame after the first);
    * `moving=false` ⇒ static square (no motion ever).
    */
  def sequence(camId: String, t0: Long, n: Int, moving: Boolean): Seq[String] =
    (0 until n).map { i =>
      val x = if (moving && i % 2 == 1) PosB else PosA
      frameJson(camId, t0 + i * 1000L, squareX = x)
    }
}
