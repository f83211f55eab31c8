package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Morton (Z-order) interleave of two integer keys: bit i of the result
  * alternates between bit i of `left` and bit i of `right`, so sorting
  * by the result clusters rows that are close in BOTH dimensions.
  * Range-partitioning a table by this value is what makes file-level
  * data skipping effective for predicates on EITHER column — a plain
  * sort by x packs files that span all of y, so y-predicates prune
  * nothing (the OPTIMIZE ZORDER idea, from the public Morton-code
  * literature).
  *
  * Inputs are the low 32 bits of each key with the sign bit flipped
  * (so negative < positive ordering survives the unsigned interleave);
  * keys wider than 32 bits keep their low 32 — fine for clustering,
  * which only needs approximate locality, never exactness.
  */
case class ZOrder(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"

  private def ok(e: Expression): Boolean = e.dataType match {
    case IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_zorder expects integral keys, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  private def toLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ZOrder.interleave(toLong(l), toLong(r))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZOrder.interleave((long) $a, (long) $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder =
    copy(left = newLeft, right = newRight)
}

object ZOrder {

  /** Spread the low 32 bits of x across the even bit positions. */
  @inline def spread(x0: Long): Long = {
    var x = x0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Morton-interleave two keys (sign bit flipped for order). Public +
    * static so generated code can call it. */
  def interleave(a: Long, b: Long): Long =
    spread((a & 0xFFFFFFFFL) ^ 0x80000000L) |
      (spread((b & 0xFFFFFFFFL) ^ 0x80000000L) << 1)

  def zorder(a: Column, b: Column): Column =
    column(ZOrder(expression(a), expression(b)))
}
