// lives inside org.apache.spark.sql so it can extend ExpectsInputTypes
// (AbstractDataType is private[sql]); the logic is graft's own
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/**
 * Fused similarity kernels as native Catalyst expressions with whole-stage
 * codegen — the Spark-native replacement for the reference's SIMD distance
 * kernels (/root/reference/ahnlich/similarity/src/distance.rs:159-323).
 *
 * Versus the higher-order-function formulation (`aggregate(zip_with(...))`):
 * no intermediate array allocation per row, one tight JIT-friendly loop per
 * kernel, and cosine's three accumulators (dot, ‖a‖², ‖b‖²) fill in a
 * single pass — the same fusion distance.rs:159-206 hand-rolls with SIMD.
 *
 * Numeric contract: all accumulation is double, sequential left-to-right —
 * bit-identical to the HOF fold and to any oracle folding left in double
 * (pinned by NativeKernelSpec). Zero-norm cosine returns 0.0 (the
 * reference's convention) rather than NaN.
 */
sealed abstract class VecOp(val opName: String) extends Serializable
object VecOp {
  case object Dot extends VecOp("vec_dot")
  case object Cosine extends VecOp("vec_cosine")
  case object SqEuclidean extends VecOp("vec_sqeuclidean")
}

case class FloatVecKernel(left: Expression, right: Expression, op: VecOp)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = op.opName

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatVecKernel.eval(op, a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val len = s"int $n = java.lang.Math.min($a.numElements(), $b.numElements());"
      op match {
        case VecOp.Dot =>
          val acc = ctx.freshName("acc")
          s"""$len
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
             |}
             |${ev.value} = $acc;""".stripMargin
        case VecOp.Cosine =>
          val d = ctx.freshName("d"); val na = ctx.freshName("na")
          val nb = ctx.freshName("nb"); val xv = ctx.freshName("xv")
          val yv = ctx.freshName("yv")
          s"""$len
             |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $xv = (double) $a.getFloat($i);
             |  double $yv = (double) $b.getFloat($i);
             |  $d += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
             |}
             |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
             |  : $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));""".stripMargin
        case VecOp.SqEuclidean =>
          val acc = ctx.freshName("acc"); val t = ctx.freshName("t")
          s"""$len
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $t = (double) $a.getFloat($i) - (double) $b.getFloat($i);
             |  $acc += $t * $t;
             |}
             |${ev.value} = $acc;""".stripMargin
      }
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatVecKernel {

  /** The kernel's interpreted arithmetic, for driver-side scoring of rows
    * already in hand (point-read hydration) — the same double left fold
    * as the generated code, so both paths agree bit for bit. */
  def eval(op: VecOp, x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    op match {
      case VecOp.Dot =>
        var acc = 0.0; var i = 0
        while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
        acc
      case VecOp.Cosine =>
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
          d += xv * yv; na += xv * xv; nb += yv * yv; i += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
      case VecOp.SqEuclidean =>
        var acc = 0.0; var i = 0
        while (i < n) {
          val t = x.getFloat(i).toDouble - y.getFloat(i).toDouble
          acc += t * t; i += 1
        }
        acc
    }
  }
}
