package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, as pure column
  * expressions (zip_with/aggregate are codegen'd higher-order functions — no
  * UDF serialization, stays inside whole-stage codegen).
  *
  * All accumulation is sequential double arithmetic so results are
  * deterministic and reproducible against a SQL oracle.
  */
object VectorFunctions {

  /** Cast array<float> → array<double> (do this once, up front). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product — the codegen'd [[graft.expressions.VectorDot]] (one
    * primitive loop per pair; see its scaladoc for why not the
    * aggregate∘zip_with form, kept below as [[dotHof]] for cross-checks).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnGlue
    ColumnGlue.column(graft.expressions.VectorDot(
      ColumnGlue.expression(a), ColumnGlue.expression(b)))
  }

  /** Reference higher-order-function dot (identical semantics, slower). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, rounded to 6 dp for cross-engine hash stability. */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm2(a) * norm2(b)), 6)

  /** Cosine from precomputed norms: in pairwise joins, project `norm2(v)`
    * ONCE per vector before the join and use this — one vector reduction per
    * pair instead of three (the norms are scalar columns). Identical result:
    * the same sqrt values feed the same division and rounding.
    */
  def cosinePrenormed(dotAB: Column, normA: Column, normB: Column): Column =
    round(dotAB / (normA * normB), 6)

  /** Symmetric per-vector int8 quantization scale: round(max|x| / 127, 6),
    * falling back to the UNROUNDED max|x|/127 when the 6-dp rounding
    * underflows to 0 for a nonzero vector (max|x| below ~6.35e-5) — the
    * rounded form would silently quantize a nonzero vector to all zeros
    * while reporting zero error. Rounded (when representable) BEFORE the
    * codes are derived so a SQL oracle working from the same scale
    * reproduces the exact same codes; the fallback is an exact division,
    * so it is equally engine-portable. Input must already be array<double>
    * ([[toDouble]]).
    */
  def int8Scale(v: Column): Column = {
    val m = array_max(transform(v, x => abs(x)))
    val r = round(m / 127d, 6)
    when(r === 0 && m > 0, m / 127d).otherwise(r)
  }

  /** int8 codes under [[int8Scale]]: floor(x/scale + 0.5) — explicit
    * half-up-toward-+∞ instead of engine round(), whose tie rules differ
    * between engines — clamped to [-127, 127]. The clamp matters for
    * tiny-magnitude vectors, where the 6-dp scale rounding is NOT
    * negligible relative to max|x| (e.g. max|x| = 1.78e-4 rounds scale
    * 1.4e-6 down to 1e-6, putting the raw code at 178). Zero vectors
    * (scale 0) map to all-zero codes rather than dividing by zero.
    */
  def int8Codes(v: Column, scale: Column): Column =
    when(scale === 0, transform(v, _ => lit(0)))
      .otherwise(transform(v,
        x => greatest(lit(-127), least(lit(127), floor(x / scale + 0.5d))).cast("int")))

  /** Max absolute reconstruction error |x − clamp(code)·scale| of the
    * quantization, rounded to 6 dp. Bounded by scale/2 + scale·(relative
    * scale-rounding error) — spec-pinned. Uses the same clamped codes as
    * [[int8Codes]] so the reported error is the error of the codes a
    * reader would actually dequantize.
    */
  def int8MaxError(v: Column, scale: Column): Column =
    when(scale === 0, lit(0.0))
      .otherwise(round(array_max(transform(v,
        x => abs(x - greatest(lit(-127), least(lit(127), floor(x / scale + 0.5d))) * scale))), 6))

  /** Deterministic random-hyperplane LSH bucket for a vector: `nBits` signs
    * of dot products with pseudo-random hyperplanes derived from xxhash64 of
    * (seed, dimension index). Used to bucket candidates for approximate NN:
    * vectors in the same bucket are probed exactly.
    *
    * The hyperplane component for dim i of bit k is a deterministic value in
    * [-1, 1): (xxhash64(k * D + i) mod 2^20) / 2^19 - 1.
    */
  def hyperplaneBucket(v: Column, nBits: Int, seed: Int = 42): Column = {
    require(nBits <= 64,
      s"bucket is a single long: nBits must be <= 64, got $nBits " +
        "(Java's masked shift would silently alias bits past 63)")
    if (nBits <= 0) return lit(0L) // degenerate: one global bucket
    val bits = (0 until nBits).map { k =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) => {
          val h = pmod(xxhash64(lit(seed), lit(k), i), lit(1048576L))
          x * (h.cast("double") / 524288.0 - 1.0)
        }),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << k)).otherwise(lit(0L))
    }
    bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }
}
