package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash over an `array<bigint>` of per-token hashes.
  *
  * For each of the 64 bit positions, tokens vote +1 (bit set) or -1 (bit
  * clear); the fingerprint takes the sign of each tally. Near-duplicate
  * documents differ in few bit positions, so candidate pairs are found by
  * Hamming distance (pigeonhole-blocked at scale — see Dedup.simhashPairs).
  *
  * Implemented as a native Catalyst `Expression` (preference (b) of the
  * build plan — the per-row 64×n-token bit loop has no built-in
  * composition that doesn't materialize 64 intermediate arrays). Input
  * hashing stays on the built-in `xxhash64` (TextFunctions.tokenHashes),
  * so this expression is pure bit arithmetic. Capability modeled on the
  * reference's dedup north-star (BASELINE.json), not on reference code —
  * the reference has no sketching operators (SURVEY §2.2 UDF row).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash64 expects array<bigint>, got ${other.simpleString(10)}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val tally = new Array[Int](64)
    var i = 0
    val n = hashes.numElements()
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (tally(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def simhash64(tokenHashes: Column): Column =
    column(SimHash64(expression(tokenHashes)))
}
