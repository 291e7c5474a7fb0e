package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{dot, toDouble}

/** Distributed PCA over an embedding column — dimensionality reduction /
  * whitening for the vector side of a training-data pipeline (cheaper ANN,
  * decorrelated features, compressed storage).
  *
  * The split of labor is the classic one (same shape as the tall-skinny
  * covariance path in MLlib's `RowMatrix.computePrincipalComponents`, which
  * this re-derives without the mllib linalg dependency): everything
  * O(rows) is a single distributed pass — one typed Aggregator accumulates
  * n, Σx, and the upper triangle of Σxxᵀ in a constant d(d+3)/2+1-double
  * buffer with map-side partials — while everything O(d²)..O(d³) (the d×d
  * eigensolve) happens once on the driver, where d is the embedding
  * dimension (64 here), NEVER the corpus size. Projection back over the
  * corpus is a broadcast of k d-length literal vectors into the codegen'd
  * dot-product expression — no shuffle at all.
  *
  * Eigensolve: cyclic Jacobi on the symmetric covariance — O(d³) per sweep,
  * unconditionally stable, ~30 lines, and deterministic. Eigenvector SIGN
  * is pinned (largest-|coordinate| made positive, lowest index on ties) so
  * results are reproducible across runs and engines.
  */
object Pca {

  final case class GramBuf(acc: Array[Double])

  /** One-pass moment accumulator: acc = [n, Σx (d), upper(Σxxᵀ) (d(d+1)/2)].
    * Vectors that are null, contain nulls, or have the wrong length are
    * skipped (counted nowhere) — a malformed row must not shear the whole
    * covariance.
    */
  def gramAggregator(d: Int): Aggregator[Seq[java.lang.Double], GramBuf, GramBuf] = {
    require(d >= 1, s"dimension must be >= 1, got $d")
    val len = 1 + d + d * (d + 1) / 2
    new Aggregator[Seq[java.lang.Double], GramBuf, GramBuf] {
      override def zero: GramBuf = GramBuf(new Array[Double](len))
      override def reduce(b: GramBuf, row: Seq[java.lang.Double]): GramBuf = {
        if (row == null || row.length != d || row.exists(_ == null)) return b
        val a = b.acc
        a(0) += 1
        val x = new Array[Double](d)
        var i = 0
        while (i < d) { x(i) = row(i).doubleValue(); a(1 + i) += x(i); i += 1 }
        var k = 1 + d
        i = 0
        while (i < d) {
          var j = i
          while (j < d) { a(k) += x(i) * x(j); k += 1; j += 1 }
          i += 1
        }
        b
      }
      override def merge(x: GramBuf, y: GramBuf): GramBuf = {
        val a = x.acc; val c = y.acc
        var i = 0
        while (i < len) { a(i) += c(i); i += 1 }
        x
      }
      override def finish(b: GramBuf): GramBuf = b
      override def bufferEncoder: Encoder[GramBuf] = Encoders.product[GramBuf]
      override def outputEncoder: Encoder[GramBuf] = Encoders.product[GramBuf]
    }
  }

  /** Eigen-decomposition of a symmetric matrix by cyclic Jacobi rotations.
    * Returns (eigenvalues desc, eigenvectors as rows) with pinned signs.
    */
  private[operators] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val sweeps = 16
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1))
            }
            val c = 1.0 / math.sqrt(t * t + 1)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = order.map { i =>
      val col = Array.tabulate(d)(k => v(k)(i))
      val pivot = col.indices.maxBy(k => (math.abs(col(k)), -k))
      if (col(pivot) < 0) col.map(x => -x) else col
    }.toArray
    (evals, evecs)
  }

  final case class PcaModel(mean: Array[Double], eigenvalues: Array[Double],
      components: Array[Array[Double]], nRows: Long) {
    /** Fraction of total variance captured by the retained components. */
    def explainedVariance: Double = {
      val tot = eigenvalues.sum
      if (tot <= 0) 0.0 else components.indices.map(eigenvalues(_)).sum / tot
    }
  }

  /** Fit: one distributed pass for the moments, one driver-side d×d
    * eigensolve. `d` must be the (uniform) vector length; rows violating it
    * are skipped by the aggregator.
    */
  def fit(df: DataFrame, vecCol: String, d: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= d, s"need 1 <= k <= d, got k=$k d=$d")
    val spark = df.sparkSession
    import spark.implicits._
    val buf = df.select(toDouble(col(vecCol)).as("v"))
      .as[Seq[java.lang.Double]]
      .select(gramAggregator(d).toColumn)
      .head().acc
    val n = buf(0)
    require(n >= 2, s"PCA needs >= 2 valid vectors, saw ${n.toLong}")
    val mean = Array.tabulate(d)(i => buf(1 + i) / n)
    // covariance = Σxxᵀ/n − μμᵀ (population form; rounding-stable)
    val cov = Array.ofDim[Double](d, d)
    var kk = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = buf(kk) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        kk += 1; j += 1
      }
      i += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    PcaModel(mean, evals, evecs.take(k), n.toLong)
  }

  /** Project each vector onto the model's components: scores_j = (x−μ)·w_j,
    * all as codegen'd dot products of the vector against k+1 broadcast
    * literal arrays (μ and each w_j) — map-side only. Output keeps the id,
    * adds `scores` (array, k) and `recon_err` = √max(0, ‖x−μ‖² − Σscores²),
    * the exact L2 error of the rank-k reconstruction (Parseval).
    */
  def project(df: DataFrame, idCol: String, vecCol: String, model: PcaModel): DataFrame = {
    // cast the vector to array<double> ONCE in its own projection — the
    // k+2 dot products below reference the cast column, not k+2 copies of
    // the interpreted cast-transform
    val v = col("__v")
    val mu = typedLit(model.mean.toSeq)
    val centeredSq = dot(v, v) - lit(2.0) * dot(v, mu) + lit(model.mean.map(x => x * x).sum)
    val scores = model.components.map(w =>
      dot(v, typedLit(w.toSeq)) - lit(model.mean.zip(w).map { case (m, c) => m * c }.sum))
    val scoresArr = array(scores.toSeq.map(s => round(s, 6)): _*)
    val scoreSq = scores.map(s => s * s).reduce(_ + _)
    df.filter(col(vecCol).isNotNull && !exists(col(vecCol), _.isNull) &&
        size(col(vecCol)) === model.mean.length)
      .select(col(idCol), toDouble(col(vecCol)).as("__v"))
      .select(col(idCol), scoresArr.as("scores"),
        round(sqrt(greatest(centeredSq - scoreSq, lit(0.0))), 6).as("recon_err"))
  }
}
