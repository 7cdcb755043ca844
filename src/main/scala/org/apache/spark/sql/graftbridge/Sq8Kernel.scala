// lives inside org.apache.spark.sql so it can extend ExpectsInputTypes
// (AbstractDataType is private[sql]); the logic is graft's own
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType}

import graft.functions.Quantize

/**
 * Fused SQ8 coarse-cosine kernel: cosine over two int8-quantized vectors,
 * dequantizing inline — `x_i = mn + (q_i · (mx − mn)) / 255` — in one tight
 * codegen'd loop with no intermediate arrays. This is the hot expression of
 * the quantized top-k joins ([[graft.functions.Quantize.quantizedTopKJoin]]
 * and the SQ8×IVF composition), where the HOF formulation
 * (`aggregate(zip_with(dequantize(a), dequantize(b), ·))` + two norm folds)
 * walks each pair's arrays five times through interpreted lambda evaluators
 * and allocates three intermediate arrays per pair.
 *
 * Numeric contract — BIT-IDENTICAL to the HOF/oracle formulation
 * (QuantizeSpec pins it): per element, dequantize through
 * [[graft.functions.Quantize.dequantized]] (`mn + (q · (mx − mn)) / 255`,
 * that exact operation order — eval and codegen call the same method);
 * dot and both squared norms accumulate left-to-right in double; result is
 * `dot / (sqrt(na) · sqrt(nb))` with NO zero-norm guard (the HOF and the
 * DuckDB oracle divide unconditionally — an all-zero code vector yields
 * NaN in every engine alike, unlike the float kernel's guarded
 * [[VecOp.Cosine]]).
 */
case class Sq8Cosine(codesA: Expression, mnA: Expression, mxA: Expression,
    codesB: Expression, mnB: Expression, mxB: Expression)
    extends Expression with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(codesA, mnA, mxA, codesB, mnB, mxB)
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(LongType), DoubleType, DoubleType,
    ArrayType(LongType), DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "sq8_cosine"

  override def eval(input: InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val a = vals(0).asInstanceOf[ArrayData]
    val b = vals(3).asInstanceOf[ArrayData]
    val (amn, amx) = (vals(1).asInstanceOf[Double], vals(2).asInstanceOf[Double])
    val (bmn, bmx) = (vals(4).asInstanceOf[Double], vals(5).asInstanceOf[Double])
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xa = Quantize.dequantized(a.getLong(i).toDouble, amn, amx)
      val xb = Quantize.dequantized(b.getLong(i).toDouble, bmn, bmx)
      d += xa * xb; na += xa * xa; nb += xb * xb; i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val nullCheck =
      if (nullable) evs.map(e => e.isNull.toString).mkString(" || ") else "false"
    val (a, amn, amx, b, bmn, bmx) =
      (evs(0).value, evs(1).value, evs(2).value, evs(3).value, evs(4).value, evs(5).value)
    val n = ctx.freshName("n"); val i = ctx.freshName("i")
    val d = ctx.freshName("d"); val na = ctx.freshName("na")
    val nb = ctx.freshName("nb")
    val xa = ctx.freshName("xa"); val xb = ctx.freshName("xb")
    val dq = "graft.functions.Quantize.dequantized"
    val compute =
      s"""int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xa = $dq((double) $a.getLong($i), $amn, $amx);
         |  double $xb = $dq((double) $b.getLong($i), $bmn, $bmx);
         |  $d += $xa * $xb; $na += $xa * $xa; $nb += $xb * $xb;
         |}
         |${ev.value} = $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));""".stripMargin
    if (nullable) {
      ev.copy(code = code"""
        ${evs.map(_.code).mkString("\n")}
        boolean ${ev.isNull} = false;
        double ${ev.value} = 0.0;
        if ($nullCheck) {
          ${ev.isNull} = true;
        } else {
          $compute
        }""")
    } else {
      ev.copy(code = code"""
        ${evs.map(_.code).mkString("\n")}
        double ${ev.value} = 0.0;
        $compute""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(codesA = newChildren(0), mnA = newChildren(1), mxA = newChildren(2),
      codesB = newChildren(3), mnB = newChildren(4), mxB = newChildren(5))
}
