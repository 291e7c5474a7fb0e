package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class QualityClassifierSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("linearly separable data trains to perfect accuracy with the right sign") {
    val d = Seq(
      (-2.0, 5.0, 0), (-1.5, 1.0, 0), (-1.0, 9.0, 0), (-0.5, 3.0, 0),
      (0.5, 2.0, 1), (1.0, 8.0, 1), (1.5, 4.0, 1), (2.0, 6.0, 1))
      .toDF("x", "noise", "y").withColumn("g", lit("all"))
    val (w, _, _) = QualityClassifier.train(d, Seq("x", "noise"), "y", iters = 40)
    assert(w(1) > 0, s"separating weight must be positive, got ${w.mkString(",")}")
    assert(math.abs(w(1)) > math.abs(w(2)),
      "the informative feature must dominate the noise feature")
    val audit = QualityClassifier.scoreAudit(d, Seq("x", "noise"), "y", "g", iters = 40)
      .collect()
    assert(audit.length == 1)
    assert(audit(0).getAs[Double]("acc") == 1.0)
    assert(audit(0).getAs[Long]("n") == 8 && audit(0).getAs[Long]("n_pos") == 4)
  }

  test("a constant feature contributes nothing instead of producing NaN") {
    val d = Seq((-1.0, 7.7, 0), (-0.5, 7.7, 0), (0.5, 7.7, 1), (1.0, 7.7, 1))
      .toDF("x", "const", "y").withColumn("g", lit("all"))
    val (w, _, _) = QualityClassifier.train(d, Seq("x", "const"), "y", iters = 40)
    assert(!w.exists(_.isNaN), s"weights must be finite, got ${w.mkString(",")}")
    // (const - mean) / flooredStd == 0 exactly, so its weight never moves
    assert(w(2) == 0.0)
    val acc = QualityClassifier.scoreAudit(d, Seq("x", "const"), "y", "g", iters = 40)
      .head().getAs[Double]("acc")
    assert(acc == 1.0)
  }

  test("rows with null features or labels are excluded from training and the audit") {
    val d = Seq(
      (Some(-1.0), Some(0)), (Some(-0.5), Some(0)), (Some(0.5), Some(1)), (Some(1.0), Some(1)),
      (None, Some(1)), (Some(2.0), None))
      .toDF("x", "y").withColumn("g", lit("all"))
    val audit = QualityClassifier.scoreAudit(d, Seq("x"), "y", "g", iters = 20).head()
    assert(audit.getAs[Long]("n") == 4)
    assert(audit.getAs[Long]("n_pos") == 2)
  }
}
