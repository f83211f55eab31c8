package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native cosine similarity over two `array<float>`/`array<double>`
  * columns, with whole-stage codegen (`doGenCode` emits the fused
  * dot/norm/norm loop).
  *
  * Semantically identical to the declarative form in VectorFunctions
  * (floats widened to double, sequential sums, dot/(sqrt(na2)*sqrt(nb2)))
  * and therefore to the DuckDB oracle — but ~100× faster: Spark's
  * higher-order functions (`zip_with`/`aggregate`) are CodegenFallback
  * and allocate per element, which made the O(n²) pair joins the
  * benchmark bottleneck. This is build-plan preference (b): a custom
  * `Expression` where built-in composition can't stay on the fast path.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // Null ELEMENTS make the result null regardless of child nullability;
  // without this override, non-nullable inputs give ev.isNull =
  // FalseLiteral and the generated `false = true;` fails to compile
  // (silent fallback to interpreted), and interpreted eval could return
  // null from an expression Spark believes non-nullable (ADVICE r01).
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects array<float|double>, got " +
          s"${left.dataType.simpleString(10)}, ${right.dataType.simpleString(10)}")
    }

  @inline private def get(a: ArrayData, i: Int, t: DataType): Double =
    t match {
      case FloatType => a.getFloat(i).toDouble
      case _ => a.getDouble(i)
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += get(a, i, ta) * get(b, i, tb); i += 1
    }
    var na = 0.0; i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return null
      val x = get(a, i, ta); na += x * x; i += 1
    }
    var nb = 0.0; i = 0
    while (i < b.numElements()) {
      if (b.isNullAt(i)) return null
      val x = get(b, i, tb); nb += x * x; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getterA = if (elemType(left).get == FloatType) "getFloat" else "getDouble"
    val getterB = if (elemType(right).get == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      // every local must go through freshName — a fixed identifier would
      // collide when two CosineSim calls share one codegen scope and kick
      // the whole stage back to interpreted execution
      val anyNull = ctx.freshName("anyNull")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |boolean $anyNull = false;
        |for (int $i = 0; $i < $n && !$anyNull; $i++) {
        |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
        |  $dot += (double) $a.$getterA($i) * (double) $b.$getterB($i);
        |}
        |for (int $i = 0; $i < $a.numElements() && !$anyNull; $i++) {
        |  if ($a.isNullAt($i)) { $anyNull = true; break; }
        |  double $x = (double) $a.$getterA($i); $na += $x * $x;
        |}
        |for (int $i = 0; $i < $b.numElements() && !$anyNull; $i++) {
        |  if ($b.isNullAt($i)) { $anyNull = true; break; }
        |  double $x = (double) $b.$getterB($i); $nb += $x * $x;
        |}
        |if ($anyNull) { ${ev.isNull} = true; ${ev.value} = -1.0; }
        |else { ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)); }
      """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))
}
