package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** EXACT membership test against a plan-embedded sorted long array:
  * `left` is a BIGINT key, `right` the set as a BINARY LITERAL of
  * big-endian longs, sorted ascending (built once on the driver from a
  * bounded panel — [[serialize]]). The [[BloomContains]] sibling for
  * the cases where false positives are not acceptable: q168's exact
  * contract side probes the SAME panel this way, in the SAME corpus
  * scan as the Bloom probe — no explode, no join, no shuffle.
  *
  * Same scale argument as the Bloom form: the set ships once per
  * executor inside the serialized plan (8 bytes/entry — panels are
  * eval suites, fixed-size by nature), decodes ONCE per executor
  * instance (transient lazy on the interpreted path; a driver-decoded
  * reference object on the codegen path), and the probe is an
  * allocation-free binary search per key.
  */
case class SortedLongsContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_sorted_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, BinaryType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (LongType, BinaryType) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_sorted_contains expects a FOLDABLE binary set (a " +
            "driver-built literal) — a per-row set would decode per row")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_contains expects (bigint, binary), got " +
          s"${left.dataType.simpleString(10)}, " +
          s"${right.dataType.simpleString(10)}")
    }

  @transient private lazy val set: Array[Long] =
    SortedLongsContain.deserialize(
      right.eval(null).asInstanceOf[Array[Byte]])

  override def nullSafeEval(h: Any, bytes: Any): Any =
    java.util.Arrays.binarySearch(set, h.asInstanceOf[Long]) >= 0

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("set", set, "long[]")
    nullSafeCodeGen(ctx, ev, (h, _) =>
      s"${ev.value} = java.util.Arrays.binarySearch($ref, $h) >= 0;")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongsContain =
    copy(left = newLeft, right = newRight)
}

object SortedLongsContain {
  /** Big-endian bytes of the DISTINCT values, sorted ascending. */
  def serialize(values: Array[Long]): Array[Byte] = {
    val distinct = values.distinct
    java.util.Arrays.sort(distinct)
    val bb = ByteBuffer.allocate(8 * distinct.length)
    distinct.foreach(bb.putLong)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  def sortedContains(key: Column, bytes: Column): Column =
    column(SortedLongsContain(expression(key), expression(bytes)))
}
