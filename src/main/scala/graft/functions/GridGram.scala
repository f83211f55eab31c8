package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-row integer-grid moment vector for exact distributed covariance —
  * the input PCA (q182) aggregates: quantize the embedding to the 2²⁰
  * fixed-point grid and emit `[g₀..g_{d-1}, gᵢ·gⱼ for i ≤ j row-major]`
  * (d + d(d+1)/2 longs) in ONE compiled loop per row.
  *
  * Why a moment ARRAY instead of a d²-row explode-join: summing these
  * entries per index IS the corpus's first/second moment matrix, and a
  * `groupBy(idx)` hash aggregate partial-aggregates per partition — the
  * exchange carries partitions × (d + d(d+1)/2) rows, never n·d². The
  * d² blowup exists only transiently inside the generate→aggregate
  * pipeline; nothing data-proportional is ever shuffled or collected.
  *
  * Why a grid: integer sums are order-invariant, so the distributed
  * aggregate is bit-deterministic under ANY partitioning — the house
  * fixed-point discipline (q120's integer PageRank, the eval-metric
  * grids) applied to second moments. Quantization rounds half away from
  * zero, DuckDB `round()`'s rule, so the oracle's per-element grid is
  * identical; `x * 2²⁰` is a power-of-two scale of an exactly-widened
  * float — no double-rounding before the grid.
  *
  * Per-row products fit comfortably in longs for unit-scale embeddings
  * (|x| ≤ 2⁴¹⁻²⁰ = 2 million before g·g can overflow); the corpus SUMS
  * are where magnitude lives, and those ride DECIMAL(38,0) in the
  * consumer. A null element nulls the whole row ([[CosineAll]]'s
  * contract — the vector is excluded from every moment, never
  * partially counted). One eval per row over the row's own d² — the
  * O(n²) interpreted-HOF ban does not apply ([[MinHashSig]] contract).
  */
case class GridGram(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_grid_gram"

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case Some(_) => TypeCheckResult.TypeCheckSuccess
    case None => TypeCheckResult.TypeCheckFailure(
      s"graft_grid_gram expects array<float|double>, got " +
        child.dataType.simpleString(10))
  }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val d = a.numElements()
    val g = new Array[Long](d)
    var i = 0
    while (i < d) {
      if (a.isNullAt(i)) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      g(i) = GridGram.toGrid(x)
      i += 1
    }
    val out = new Array[Long](d + d * (d + 1) / 2)
    System.arraycopy(g, 0, out, 0, d)
    var k = d
    i = 0
    while (i < d) {
      val gi = g(i)
      var j = i
      while (j < d) { out(k) = gi * g(j); k += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): GridGram =
    copy(child = newChild)
}

/** The APPLY half of all-but-the-top (q183): project one grid-quantized
  * vector on the literal PC1 grid vector and emit `[dot, ‖residual‖²]`
  * as two longs — `dot = Σ gᵢvᵢ`, `rᵢ = gᵢ − trunc(dot·vᵢ / Σv²)`
  * (sign-split division, the trajectory rule), `‖r‖² = Σ rᵢ²`.
  *
  * The model rides as a literal ([[CosineAll]]'s broadcast pattern:
  * K×d-class metadata), so the corpus streams once with no join. The
  * inner arithmetic runs in BigInteger — `dot·vᵢ` can reach 2⁶⁶ for
  * unit-scale d = 64 inputs, past long — and converts out through
  * `longValueExact`, so an overflowing corpus refuses loudly instead
  * of wrapping (outputs themselves are grid-scale and fit). Elements
  * beyond the literal's length project on zero (residual keeps gᵢ);
  * a zero model (isotropic m = 0 collapse) means dot = 0 and the
  * residual is the vector itself — same as the oracle's vv = 0 CASE. */
case class GridResidual(child: Expression, model: Seq[Long])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_grid_residual"

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case Some(_) => TypeCheckResult.TypeCheckSuccess
    case None => TypeCheckResult.TypeCheckFailure(
      s"graft_grid_residual expects array<float|double>, got " +
        child.dataType.simpleString(10))
  }

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val v: Array[java.math.BigInteger] =
    model.map(java.math.BigInteger.valueOf).toArray
  @transient private lazy val vv: java.math.BigInteger =
    v.foldLeft(java.math.BigInteger.ZERO)((a, x) => a.add(x.multiply(x)))

  override def nullSafeEval(input: Any): Any = {
    import java.math.BigInteger
    val a = input.asInstanceOf[ArrayData]
    val d = a.numElements()
    val g = new Array[BigInteger](d)
    var i = 0
    var dot = BigInteger.ZERO
    while (i < d) {
      if (a.isNullAt(i)) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      g(i) = BigInteger.valueOf(GridGram.toGrid(x))
      if (i < v.length) dot = dot.add(g(i).multiply(v(i)))
      i += 1
    }
    var norm2 = BigInteger.ZERO
    i = 0
    while (i < d) {
      val proj =
        if (vv.signum == 0 || i >= v.length) BigInteger.ZERO
        else {
          val p = dot.multiply(v(i))
          // sign-split: divide non-negative, re-apply the sign (BigInteger
          // divide already truncates toward zero — stated for the oracle's
          // `//`-on-ABS mirror)
          val q = p.abs.divide(vv)
          if (p.signum < 0) q.negate else q
        }
      val r = g(i).subtract(proj)
      norm2 = norm2.add(r.multiply(r))
      i += 1
    }
    new GenericArrayData(Array(dot.longValueExact, norm2.longValueExact))
  }

  override protected def withNewChildInternal(newChild: Expression): GridResidual =
    copy(child = newChild)
}

object GridResidual {
  def gridResidual(vec: Column, model: Seq[Long]): Column =
    column(GridResidual(expression(vec), model))
}

object GridGram {
  /** The 2²⁰ quantization grid (shared with the q182 oracle SQL). */
  val Scale: Long = 1L << 20

  /** Half-away-from-zero rounding of `x · 2²⁰` — DuckDB `round()`'s tie
    * rule (JVM `Math.round` rounds half toward +∞ and would diverge on
    * negative exact-half grid points). */
  def toGrid(x: Double): Long = {
    val y = x * Scale.toDouble
    if (y >= 0) math.floor(y + 0.5).toLong else math.ceil(y - 0.5).toLong
  }

  def gridGram(vec: Column): Column = column(GridGram(expression(vec)))
}
