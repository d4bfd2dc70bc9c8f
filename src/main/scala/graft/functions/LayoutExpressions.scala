// Native data-layout expressions. Under org.apache.spark.sql for the same
// private[sql] reasons as VectorExpressions.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType}

/** Z-order (Morton) interleave of the low 31 bits of two longs: bit i of
  * `left` lands at position 2i, bit i of `right` at 2i+1, yielding a value
  * in [0, 2⁶²). Sorting by it places rows that are close in BOTH dimensions
  * into the same neighborhoods, so range-partitioned, min/max-stat'd files
  * (parquet row groups) can be skipped by predicates on EITHER column — the
  * standard multi-dimensional clustering move for scan pruning at scale.
  *
  * Inputs are taken modulo 2³¹ (negative values contribute their low bits);
  * pre-scale or rank columns whose natural order isn't dense if pruning
  * quality matters. The spread uses the O(log w) magic-number shifts, not a
  * per-bit loop.
  */
case class InterleaveBits(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "interleave_bits"

  override def nullSafeEval(a: Any, b: Any): Any =
    InterleaveBits.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val cls = InterleaveBits.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.interleave($x, $y);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object InterleaveBits {
  /** Spreads the low 31 bits of x to even positions: bit i → bit 2i. */
  def spread(x0: Long): Long = {
    var x = x0 & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

/** Hilbert-curve index of the low 31 bits of two longs (public xy→d walk:
  * per level, the quadrant contributes `s²·((3·rx) xor ry)` and the
  * coordinate frame flips/swaps for the next level). Like
  * [[InterleaveBits]] a 62-bit clustering key, but the Hilbert curve has
  * NO long jumps — consecutive keys are always adjacent cells, so
  * range-partitioned files cover tighter bounding boxes than Z-order's
  * corner-to-corner seams and min/max pruning skips more of them (why
  * modern table formats offer Hilbert alongside Z-order clustering).
  *
  * Inputs are taken modulo 2³¹, same contract as [[InterleaveBits]]. The
  * 31-level loop is a fixed 31 iterations of integer ops per row —
  * map-only, codegen'd.
  */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "hilbert_index"

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex.index(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val cls = HilbertIndex.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $cls.index($x, $y);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {
  /** xy→d for a 2³¹ × 2³¹ grid; result in [0, 2⁶²). */
  def index(x0: Long, y0: Long): Long = {
    var x = x0 & 0x7fffffffL
    var y = y0 & 0x7fffffffL
    var d = 0L
    var s = 1L << 30
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate the frame for the next level: flip (when rx=1), then swap
      if (ry == 0) {
        val fx = if (rx == 1) s - 1 - x else x
        val fy = if (rx == 1) s - 1 - y else y
        x = fy
        y = fx
      }
      s >>= 1
    }
    d
  }
}

/** Column-level entry points for layout math. */
object LayoutFunctions {
  /** Z-order key of two integral columns (see [[InterleaveBits]]). */
  def zOrderKey(a: Column, b: Column): Column =
    ExpressionUtils.column(InterleaveBits(
      ExpressionUtils.expression(a.cast("long")),
      ExpressionUtils.expression(b.cast("long"))))

  /** Hilbert-curve key of two integral columns (see [[HilbertIndex]]). */
  def hilbertKey(a: Column, b: Column): Column =
    ExpressionUtils.column(HilbertIndex(
      ExpressionUtils.expression(a.cast("long")),
      ExpressionUtils.expression(b.cast("long"))))
}
