package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product quantization (PQ) primitives for ANN search — the classic
  * compressed-domain scheme (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", PAMI 2011): split a d-dim vector into M
  * subvectors, quantize each against a per-subspace codebook of K
  * centroids, and score query↔code pairs with an asymmetric distance
  * table (ADC) — M table lookups instead of d multiplies per pair.
  *
  * Scale shape: the codebook is a tiny constant (M·K·(d/M) doubles) that
  * ships as a LITERAL into every task; encoding is one narrow pass over
  * the corpus producing an M-byte code per vector; at query time the
  * per-pair work is [[PqScore]], a fused codegen loop of M array reads.
  * The corpus embedding column itself never enters the candidate
  * shuffle — only (query, id, approx-score) rows do.
  *
  * Encode/table building are compiled `eval` loops (CodegenFallback is
  * fine: they run once per row/query, not per pair — the repo-wide HOF
  * rule targets pair loops); PqScore is in the pair hot path and gets
  * `doGenCode`.
  */
object ProductQuant {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  @inline private def at(a: ArrayData, i: Int, t: DataType): Double =
    t match { case FloatType => a.getFloat(i).toDouble; case _ => a.getDouble(i) }

  /** codes = per-subspace argmin-L2 codeword indices, `array<int>` of
    * length m. Ties break to the LOWEST index (deterministic). */
  case class PqEncode(left: Expression, right: Expression, m: Int, k: Int)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_pq_encode"

    override def checkInputDataTypes(): TypeCheckResult =
      (elemType(left), elemType(right)) match {
        case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<float|double>, array<float|double>)")
      }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val vec = l.asInstanceOf[ArrayData]; val cb = r.asInstanceOf[ArrayData]
      val (tv, tc) = (elemType(left).get, elemType(right).get)
      val dim = vec.numElements(); val sub = dim / m
      if (sub * m != dim || cb.numElements() != m * k * sub) return null
      val out = new Array[Int](m)
      var j = 0
      while (j < m) {
        var best = 0; var bestD = Double.MaxValue; var kk = 0
        while (kk < k) {
          var d = 0.0; var t = 0; val base = (j * k + kk) * sub
          while (t < sub) {
            if (vec.isNullAt(j * sub + t) || cb.isNullAt(base + t)) return null
            val diff = at(vec, j * sub + t, tv) - at(cb, base + t, tc)
            d += diff * diff; t += 1
          }
          if (d < bestD) { bestD = d; best = kk }
          kk += 1
        }
        out(j) = best; j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqEncode =
      copy(left = newLeft, right = newRight)
  }

  /** ADC lookup table for one query: `array<double>` of length m*k where
    * entry j*k + kk = dot(query subvector j, codeword (j, kk)). The
    * approximate dot(query, x) is then Σ_j table[j*k + codes_x(j)]. */
  case class PqAdcTable(left: Expression, right: Expression, m: Int, k: Int)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "graft_pq_table"

    override def checkInputDataTypes(): TypeCheckResult =
      (elemType(left), elemType(right)) match {
        case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<float|double>, array<float|double>)")
      }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val vec = l.asInstanceOf[ArrayData]; val cb = r.asInstanceOf[ArrayData]
      val (tv, tc) = (elemType(left).get, elemType(right).get)
      val dim = vec.numElements(); val sub = dim / m
      if (sub * m != dim || cb.numElements() != m * k * sub) return null
      val out = new Array[Double](m * k)
      var j = 0
      while (j < m) {
        var kk = 0
        while (kk < k) {
          var d = 0.0; var t = 0; val base = (j * k + kk) * sub
          while (t < sub) {
            if (vec.isNullAt(j * sub + t) || cb.isNullAt(base + t)) return null
            d += at(vec, j * sub + t, tv) * at(cb, base + t, tc); t += 1
          }
          out(j * k + kk) = d; kk += 1
        }
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqAdcTable =
      copy(left = newLeft, right = newRight)
  }

  /** Approximate dot product: Σ_j table[j*k + codes(j)]. Pair-loop hot
    * path → fused whole-stage codegen (M array reads per pair). */
  case class PqScore(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_pq_score"

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<int>, array<double>)")
      }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val codes = l.asInstanceOf[ArrayData]; val table = r.asInstanceOf[ArrayData]
      var s = 0.0; var j = 0; val m = codes.numElements()
      while (j < m) {
        val idx = j * k + codes.getInt(j)
        if (idx >= table.numElements()) return null
        s += table.getDouble(idx); j += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (codes, table) => {
        val j = ctx.freshName("j"); val s = ctx.freshName("s")
        val idx = ctx.freshName("idx"); val bad = ctx.freshName("bad")
        s"""
          |double $s = 0.0; boolean $bad = false;
          |for (int $j = 0; $j < $codes.numElements() && !$bad; $j++) {
          |  int $idx = $j * $k + $codes.getInt($j);
          |  if ($idx >= $table.numElements()) { $bad = true; break; }
          |  $s += $table.getDouble($idx);
          |}
          |if ($bad) { ${ev.isNull} = true; ${ev.value} = 0.0; }
          |else { ${ev.value} = $s; }
        """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqScore =
      copy(left = newLeft, right = newRight)
  }

  def pqEncode(vec: Column, codebook: Column, m: Int, k: Int): Column =
    column(PqEncode(expression(vec), expression(codebook), m, k))
  def pqAdcTable(vec: Column, codebook: Column, m: Int, k: Int): Column =
    column(PqAdcTable(expression(vec), expression(codebook), m, k))
  def pqScore(codes: Column, table: Column, k: Int): Column =
    column(PqScore(expression(codes), expression(table), k))
}
