package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native MinHash signature-agreement count over two `array<bigint>`
  * columns, with whole-stage codegen: the number of positions where both
  * signatures carry the same (non-null) value.
  *
  * Semantically identical to the declarative form it replaces in
  * [[graft.operators.Dedup.minhashLshPairs]] —
  * `size(filter(zip_with(sa, sb, (x, y) => x === y), v => v))` — on
  * every input: `zip_with` pads the shorter array with nulls, a null
  * operand makes `===` null, and `filter(v => v)` drops both null and
  * false, so the composed form counts exactly the positions
  * `i < min(|a|, |b|)` with `a[i]` and `b[i]` non-null and equal
  * (ExpressionPropertySpec pins the equivalence over ragged/null cases).
  * The HOF pipeline is CodegenFallback and allocates a boxed lambda
  * frame per element; this is the [[CosineSim]] pattern — build-plan
  * preference (b), a fused compiled loop per pair row. The q46 pair
  * frame is LSH-band-bounded, so the win is per-row constant factor,
  * not asymptotics.
  */
case class SigAgree(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sig_agree"

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sig_agree expects array<bigint>, got " +
        s"${left.dataType.simpleString(10)}, ${right.dataType.simpleString(10)}")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val n = math.min(a.numElements(), b.numElements())
    var c = 0; var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |int $c = 0;
        |for (int $i = 0; $i < $n; $i++) {
        |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
        |      $a.getLong($i) == $b.getLong($i)) $c++;
        |}
        |${ev.value} = $c;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgree =
    copy(left = newLeft, right = newRight)
}

object SigAgree {
  def sigAgree(a: Column, b: Column): Column =
    column(SigAgree(expression(a), expression(b)))
}
