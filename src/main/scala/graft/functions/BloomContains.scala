package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Membership test against a SERIALIZED Bloom filter: `left` is an
  * `xxhash64`-style BIGINT key, `right` is the filter bytes as a BINARY
  * LITERAL (built once on the driver — e.g. `df.stat.bloomFilter`, a
  * distributed treeAggregate — then embedded in the plan).
  *
  * This is the 100 TB decontamination/membership shape: the filter is a
  * few MB of bits for millions of panel entries (vs a broadcast hash
  * relation's ~30 bytes/entry), ships once per executor inside the
  * serialized plan, and the probe is pure bit arithmetic in the corpus
  * scan — no join, no shuffle, no per-row allocation. Guarantee
  * direction matters and is asserted by q168's oracle contract: a Bloom
  * filter has NO false negatives, so the flagged set is a SUPERSET of
  * the exact collision set; false positives are bounded by the build
  * fpp (deterministic — Spark's sketch uses fixed hash seeds, and the
  * bit-array OR merge is partition-order independent).
  *
  * The filter deserializes ONCE per executor instance (transient lazy
  * val on the interpreted path; a driver-built reference object on the
  * codegen path) — never per row.
  */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, BinaryType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (LongType, BinaryType) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_bloom_contains expects a FOLDABLE binary filter (a " +
            "driver-built literal) — a per-row filter would deserialize " +
            "per row")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains expects (bigint, binary), got " +
          s"${left.dataType.simpleString(10)}, " +
          s"${right.dataType.simpleString(10)}")
    }

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(
      right.eval(null).asInstanceOf[Array[Byte]]))

  override def nullSafeEval(h: Any, bytes: Any): Any =
    bloom.mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the filter object itself is the codegen reference — deserialized
    // once here (driver), shipped with the generated class's references
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (h, _) =>
      s"${ev.value} = $ref.mightContainLong($h);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

object BloomContains {
  def bloomContains(hash: Column, filterBytes: Column): Column =
    column(BloomContains(expression(hash), expression(filterBytes)))

  /** Serialize a driver-side sketch for embedding as a binary literal. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }
}
