package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine quality-classifier training — the GPT-3/CCNet-style pipeline
  * step where a linear classifier, trained ON the corpus, becomes the
  * quality gate for it. Reference scope: the reference has no learned
  * gating at all (its filters are fixed thresholds); this is part of the
  * LLM-pipeline extension surface, alongside the rule-based gates (EXT5,
  * EXT27) it generalizes.
  *
  * Model: logistic regression on standardized numeric features, trained by
  * full-batch gradient descent. Spark-first shape (the same iteration
  * contract as [[Similarity.kmeansDistributed]]): the weight vector (d+1
  * doubles) lives on the driver between rounds; each round is ONE pass —
  * a map-side per-row gradient contribution (codegen'd standardization, a
  * scalar sigmoid UDF) reduced by the constant-buffer
  * [[Similarity.VecSumBuf]] aggregator, so the shuffle moves O(tasks × d)
  * and nothing corpus-sized ever reaches the driver. Feature
  * standardization (one stats pass up front) keeps a fixed learning rate
  * usable across feature scales.
  *
  * Determinism: float gradient sums are partition-order dependent →
  * results are rows-only at the gate; convergence and separability are
  * spec-pinned (QualityClassifierSpec) on exact fixtures.
  */
object QualityClassifier {

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Gradient-descent step size on the standardized features. */
  private val LearningRate = 1.0

  /** Train on `featureCols` (numeric) against a 0/1 `labelCol`. Rows with
    * any NULL feature or label are excluded (a learned gate must not train
    * on undefined ratios — empty docs produce NULL ratios upstream).
    * Returns (weights incl. leading intercept, feature means, feature
    * stds) — stds floor at 1e-9 so a constant feature contributes 0, not
    * NaN.
    */
  private[graft] def train(df: DataFrame, featureCols: Seq[String],
      labelCol: String, iters: Int = 12): (Array[Double], Array[Double], Array[Double]) = {
    require(featureCols.nonEmpty, "train: no feature columns")
    require(iters >= 1, s"train: iters must be >= 1, got $iters")
    val d = featureCols.length
    val data = df
      .filter(featureCols.map(col(_).isNotNull).reduce(_ && _) && col(labelCol).isNotNull)
      .select(col(labelCol).cast("double").as("__y"),
        array(featureCols.map(col(_).cast("double")): _*).as("__x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val stats = data.select(
      (featureCols.indices.map(i => avg(col("__x")(i))) ++
        featureCols.indices.map(i => stddev_pop(col("__x")(i))) :+
        count(lit(1)).cast("double")): _*).head()
    val n = stats.getDouble(2 * d)
    require(n > 0, "train: no non-null training rows")
    val mean = Array.tabulate(d)(i => stats.getDouble(i))
    val std = Array.tabulate(d)(i => math.max(stats.getDouble(d + i), 1e-9))

    // The gradient loop drops to an RDD treeAggregate — deliberately (the
    // one place this codebase trades DataFrames for RDDs, and the same
    // trade MLlib's LogisticRegression makes): a DataFrame round would
    // re-run analysis/optimization/codegen per iteration because the
    // weight closure changes every round, and that fixed Catalyst cost
    // dominates the arithmetic at every corpus size. Rows are
    // pre-standardized once into primitive arrays (intercept slot
    // included), so a round is pure double math + one O(d) tree reduce.
    val sess = df.sparkSession
    import sess.implicits._
    val rdd = data.as[(Double, Seq[Double])].rdd
      .map { case (y, x) =>
        val f = new Array[Double](d + 1)
        f(0) = 1.0
        var i = 0
        while (i < d) { f(i + 1) = (x(i) - mean(i)) / std(i); i += 1 }
        (y, f)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var w = new Array[Double](d + 1) // intercept first
    for (_ <- 1 to iters) {
      val ws = w
      val g = rdd.treeAggregate(new Array[Double](d + 1))(
        seqOp = (acc, row) => {
          val (y, f) = row
          var z = 0.0; var i = 0
          while (i < f.length) { z += ws(i) * f(i); i += 1 }
          val e = sigmoid(z) - y
          i = 0
          while (i < f.length) { acc(i) += e * f(i); i += 1 }
          acc
        },
        combOp = (a, b) => {
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          a
        })
      w = Array.tabulate(d + 1)(i => w(i) - LearningRate * g(i) / n)
    }
    rdd.unpersist()
    data.unpersist()
    (w, mean, std)
  }

  /** Per-row predicted probability under the trained model (codegen'd
    * standardization feeding one scalar UDF).
    */
  private def probCol(featureCols: Seq[String],
      w: Array[Double], mean: Array[Double], std: Array[Double]): Column = {
    val p = udf((x: Seq[Double]) => {
      var z = w(0); var i = 0
      while (i < x.length) { z += w(i + 1) * (x(i) - mean(i)) / std(i); i += 1 }
      sigmoid(z)
    })
    p(array(featureCols.map(col(_).cast("double")): _*))
  }

  /** Train, score every row, and report the per-`groupCol` calibration
    * audit: (group, n, n_pos, mean_prob, acc) where acc = fraction of rows
    * the 0.5-threshold model classifies correctly. One training run + one
    * scoring pass + one agg.
    */
  def scoreAudit(df: DataFrame, featureCols: Seq[String], labelCol: String,
      groupCol: String, iters: Int = 12): DataFrame = {
    // cache the prepared frame ONCE: feature derivation (HOF-heavy for the
    // text-quality features) would otherwise run for the training cache
    // fill AND the scoring pass. The audit is |groups| rows — eagerly
    // localCheckpoint it so the cache can be released before returning.
    val base = df
      .filter(featureCols.map(col(_).isNotNull).reduce(_ && _) && col(labelCol).isNotNull)
      .select((col(groupCol) +: col(labelCol) +: featureCols.map(col)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (w, mean, std) = train(base, featureCols, labelCol, iters)
    val audit = base
      .withColumn("__p", probCol(featureCols, w, mean, std))
      .withColumn("__y", col(labelCol).cast("double"))
      .groupBy(col(groupCol).as("group"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__y")).cast("long").as("n_pos"),
        round(avg(col("__p")), 6).as("mean_prob"),
        round(avg(when((col("__p") >= 0.5) === (col("__y") >= 0.5), 1.0).otherwise(0.0)), 6).as("acc"))
      .localCheckpoint()
    base.unpersist()
    audit
  }
}
