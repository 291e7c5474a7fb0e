package graft.streaming

/** Public bridge to the package-private per-record wire decoder that
  * [[MotionPipeline.decodeWire]] runs; the perfbench harness times it.
  */
object WireCodecAccess {
  def decode(factory: com.fasterxml.jackson.core.JsonFactory,
      s: String): Option[MotionPipeline.BinFrame] =
    MotionPipeline.decodeJsonFrame(factory, s)
}
