package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/** Native Catalyst expression for the hot CV kernel (SURVEY.md §4 — the one
  * place a custom expression is warranted over a Scala UDF):
  *
  * `motion_region_count(prev_px, cur_px, rows, cols, mat_type) → INT`
  *
  * counts detected motion regions between two raw frames with
  * [[graft.cv.Motion.Step]], the live detector's one motion step
  * (grayscale → 3×3 Gaussian → absdiff → threshold → connected components
  * above the min area, MotionDetector.java:33-70). Versus a UDF: inputs
  * stay primitive `byte[]`/`int` inside whole-stage codegen with no
  * Scala-function serialization or Row boxing; NULL propagates for null
  * inputs AND for any layout [[graft.model.FrameCodec.readable]] rejects.
  *
  * Batch usage (the window-lag restatement of the stateful pipeline):
  * {{{
  *   SELECT camId, motion_region_count(
  *     lag(px) OVER (PARTITION BY camId ORDER BY timestamp), px, rows, cols, type)
  *   FROM frames
  * }}}
  */
case class MotionRegionCount(
    prev: Expression, cur: Expression,
    rows: Expression, cols: Expression, matType: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(prev, cur, rows, cols, matType)

  // input typing is enforced by the registration builder
  // (GraftFunctions wraps arguments in casts to binary/int)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val expected = Seq(BinaryType, BinaryType, IntegerType, IntegerType, IntegerType)
    val ok = children.map(_.dataType).zip(expected).forall { case (a, e) => a == e }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"motion_region_count expects (binary, binary, int, int, int), " +
        s"got (${children.map(_.dataType.simpleString).mkString(", ")})")
  }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val n = graft.cv.Kernels.motionRegionCount(
        vs(0).asInstanceOf[Array[Byte]], vs(1).asInstanceOf[Array[Byte]],
        vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Int], vs(4).asInstanceOf[Int])
      if (n < 0) null else n
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = "graft.cv.Kernels$.MODULE$"
    val evs = children.map(_.genCode(ctx))
    val allNotNull = evs.map(e => s"!(${e.isNull})").mkString(" && ")
    val tmp = ctx.freshName("regionCount")
    ev.copy(code =
      code"""
        ${evs.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = true;
        int ${ev.value} = -1;
        if ($allNotNull) {
          int $tmp = $kernels.motionRegionCount(
            ${evs(0).value}, ${evs(1).value},
            ${evs(2).value}, ${evs(3).value}, ${evs(4).value});
          if ($tmp >= 0) { ${ev.isNull} = false; ${ev.value} = $tmp; }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(prev = newChildren(0), cur = newChildren(1),
      rows = newChildren(2), cols = newChildren(3), matType = newChildren(4))

  override def prettyName: String = "motion_region_count"
}
