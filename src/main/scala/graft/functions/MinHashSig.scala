package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** 128-permutation MinHash signature over an `array<bigint>` of element
  * hashes: sig[i] = min over h of ((a_i·(h mod P) + b_i) mod P).
  *
  * One eval call runs the full numPerm × numElements loop in compiled
  * Scala — replacing a nested `transform(sequence..., array_min(...))`
  * higher-order-function pipeline whose interpreted per-element lambdas
  * (with a literal-array lookup per step) made signature computation the
  * benchmark's 700-second outlier. The per-row output is a fixed
  * 128×8-byte signature regardless of document size, which is what keeps
  * MinHash dedup linear at 100 TB.
  */
case class MinHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {

  import MinHashSig._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<bigint>, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = Array.fill(NumPerm)(Long.MaxValue)
    var j = 0
    while (j < n) {
      if (!hs.isNullAt(j)) {
        val h = ((hs.getLong(j) % P) + P) % P
        var i = 0
        while (i < NumPerm) {
          val v = (CoefA(i) * h + CoefB(i)) % P
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  val NumPerm = 128
  val P = 2147483647L // 2^31 - 1; a*h + b stays < 2^62 (no overflow)
  // Fixed LCG-derived coefficients: deterministic across runs and rounds.
  val CoefA: Array[Long] =
    (0 until NumPerm).map(i => ((1103515245L * i + 12345L) % (P - 1)) + 1L).toArray
  val CoefB: Array[Long] =
    (0 until NumPerm).map(i => (69069L * i + 362437L) % P).toArray

  def minhashSig(hashes: Column): Column = column(MinHashSig(expression(hashes)))
}
