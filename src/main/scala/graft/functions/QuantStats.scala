package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused per-vector int8-quantization statistics for q128: one pass over
  * an `array<float>` producing `struct<n:int, e2:long, n2:long>` where
  *
  *   m  = max_d |x_d|            (per-vector symmetric scale basis)
  *   s  = m / 127.0
  *   e2 = Σ_d floor((x_d − round(x_d/s)·s)² · 2⁵⁰)   (dyadic fixed point)
  *   n2 = Σ_d floor(x_d² · 2⁵⁰)
  *
  * Every step reproduces the declarative form BIT-EXACTLY (same
  * fixed-order double chain; the same 2⁻⁵⁰ dyadic quantizer, so the
  * per-element summands are identical integers and in-row long addition
  * is order-free) — this expression exists purely to replace the
  * 64-rows-per-vector posexplode + element-row partial aggregation with
  * a single fused loop (the q45/q48 lesson: HOF folds and exploded
  * streams are the benchmark bottleneck, native codegen is ~100×).
  *
  * round() is NEAREST, TIES AWAY FROM ZERO — Spark's `round(double)`
  * (BigDecimal HALF_UP) and DuckDB's `round` agree on exactly this for
  * every double. `Math.round` would be WRONG (floor(x+0.5) misrounds
  * e.g. 0.49999999999999994 where the +0.5 addition itself rounds up);
  * the implementation compares the exact fraction v−floor(v) instead
  * (exact by Sterbenz, since v and floor(v) share a binade).
  *
  * Null result when the vector is null, any element is null, or m ≤ 0
  * (the zero vector has no scale) — mirroring q128's m > 0 filter.
  */
case class Int8QuantStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("e2", LongType, nullable = false),
    StructField("n2", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_int8_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_int8_stats expects array<float>, got ${other.simpleString(10)}")
  }

  private val Fp = 1125899906842624.0 // 2^50, exact

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = math.abs(a.getFloat(i).toDouble)
      if (x > m) m = x
      i += 1
    }
    if (m <= 0.0) return null
    val s = m / 127.0
    var e2 = 0L; var n2 = 0L
    i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val v = x / s
      val f = math.floor(v)
      val frac = v - f
      val q = if (frac > 0.5) f + 1.0
        else if (frac < 0.5) f
        else if (v > 0.0) f + 1.0 else f
      val d = x - q * s
      e2 += math.floor(d * d * Fp).toLong
      n2 += math.floor(x * x * Fp).toLong
      i += 1
    }
    InternalRow(n, e2, n2)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val s = ctx.freshName("s")
      val x = ctx.freshName("x"); val v = ctx.freshName("v")
      val f = ctx.freshName("f"); val frac = ctx.freshName("frac")
      val q = ctx.freshName("q"); val d = ctx.freshName("d")
      val e2 = ctx.freshName("e2"); val n2 = ctx.freshName("n2")
      val bad = ctx.freshName("bad")
      s"""
        |int $n = $a.numElements();
        |double $m = 0.0;
        |boolean $bad = false;
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($a.isNullAt($i)) { $bad = true; break; }
        |  double $x = java.lang.Math.abs((double) $a.getFloat($i));
        |  if ($x > $m) $m = $x;
        |}
        |if ($bad || $m <= 0.0) { ${ev.isNull} = true; }
        |else {
        |  double $s = $m / 127.0;
        |  long $e2 = 0L; long $n2 = 0L;
        |  for (int $i = 0; $i < $n; $i++) {
        |    double $x = (double) $a.getFloat($i);
        |    double $v = $x / $s;
        |    double $f = java.lang.Math.floor($v);
        |    double $frac = $v - $f;
        |    double $q = ($frac > 0.5) ? $f + 1.0
        |      : ($frac < 0.5 ? $f : ($v > 0.0 ? $f + 1.0 : $f));
        |    double $d = $x - $q * $s;
        |    $e2 += (long) java.lang.Math.floor($d * $d * $Fp);
        |    $n2 += (long) java.lang.Math.floor($x * $x * $Fp);
        |  }
        |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        |    new Object[] { java.lang.Integer.valueOf($n),
        |      java.lang.Long.valueOf($e2), java.lang.Long.valueOf($n2) });
        |}
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Int8QuantStats =
    copy(child = newChild)
}

object Int8QuantStats {
  def int8Stats(a: Column): Column = column(Int8QuantStats(expression(a)))
}
