package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Cosine similarity of one vector against a BOUNDED literal matrix —
  * the whole score row in one compiled per-row loop.
  *
  * This is the "panel scoring" primitive: when a bounded reference set
  * (eval anchors, query panels — ≤ a few thousand × d doubles, the same
  * metadata scale as q92's codebooks or the IVF centroid cache) must be
  * scored against every corpus vector, the naive form is a broadcast
  * NESTED-LOOP join producing |corpus| × |panel| rows that each carry
  * BOTH embeddings — at 200k × 2000 that is ~400 GB of materialized row
  * traffic for ~3 GFLOP of arithmetic. Scoring in-row instead emits one
  * `array<double>` per corpus vector; the consumer explodes it into
  * NARROW (idx, score) rows that partial-aggregate before any exchange.
  * No join, no wide rows, corpus streams exactly once.
  *
  * Arithmetic is ordered exactly as [[CosineSim]] (dot over min length,
  * then each side's norm in index order, `dot / (sqrt(na)*sqrt(nb))`)
  * so score values are bit-identical to the pairwise form — differential
  * oracles stay exact. A null ELEMENT in the input vector nulls the
  * whole score row (CosineSim nulls the pair); matrix rows are
  * validated dense at construction.
  *
  * One eval call per row over a bounded matrix — the O(n²) interpreted
  * HOF ban does not apply (same contract as [[MinHashSig]]).
  */
case class CosineAll(child: Expression, matrix: Seq[Seq[Double]])
    extends UnaryExpression with CodegenFallback {

  require(matrix.nonEmpty, "graft_cosine_all needs a non-empty matrix")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true // null element => null row
  override def prettyName: String = "graft_cosine_all"

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case Some(_) => TypeCheckResult.TypeCheckSuccess
    case None => TypeCheckResult.TypeCheckFailure(
      s"graft_cosine_all expects array<float|double>, got " +
        child.dataType.simpleString(10))
  }

  @transient private lazy val rows: Array[Array[Double]] =
    matrix.map(_.toArray).toArray
  // norms in the same index-order summation CosineSim uses for its right
  // side, precomputed once per task instead of once per pair
  @transient private lazy val norms: Array[Double] = CosineAll.normsOf(rows)
  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val an = a.numElements()
    val v = new Array[Double](an)
    var na = 0.0
    var i = 0
    while (i < an) {
      if (a.isNullAt(i)) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      v(i) = x; na += x * x; i += 1
    }
    val sna = math.sqrt(na)
    val out = new Array[Double](rows.length)
    var k = 0
    while (k < rows.length) {
      val m = rows(k)
      val n = math.min(an, m.length)
      var dot = 0.0; i = 0
      while (i < n) { dot += v(i) * m(i); i += 1 }
      out(k) = dot / (sna * norms(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CosineAll =
    copy(child = newChild)
}

object CosineAll {
  /** Row norms in CosineSim's index-order summation. */
  private[functions] def normsOf(rows: Array[Array[Double]]): Array[Double] =
    rows.map { r =>
      var nb = 0.0; var i = 0
      while (i < r.length) { val x = r(i); nb += x * x; i += 1 }
      math.sqrt(nb)
    }

  /** The matrix is a constructor parameter (driver-bounded model
    * metadata, like the IVF centroid cache). */
  def cosineAll(vec: Column, matrix: Seq[Seq[Double]]): Column =
    column(CosineAll(expression(vec), matrix))
}
