package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared packed-bigram walk for the q123 character-LM family: every
  * adjacent CODE-POINT pair of `lower(trim(text))`, packed as
  * `(cp1 << 21) | cp2` (code points are ≤ 0x10FFFF = 21 bits, so the
  * pack is exact in 42 bits). Packed ascending order equals the
  * bigram STRING's UTF8 binary ascending order — UTF-8 is
  * order-preserving per code point and prefix-free across them — which
  * is the ordering Spark's sort and DuckDB's VARCHAR ORDER BY give the
  * oracle's model tie-break, so a (count DESC, packed ASC) cut is
  * bit-identical to the oracle's (count DESC, bigram ASC). Walking the
  * decoded bytes directly (no per-bigram string, no per-doc map) is
  * the whole point: the r11 histogram form allocated a UTF8String +
  * boxed map entry per distinct bigram per document, which was the
  * measured 6.8x bench gap against the oracle's vectorized substr. */
private[functions] object BigramWalk {

  abstract class Sink { def accept(packed: Long): Unit }

  /** Walks `lower(trim(text))` (the q123 normalization, identical to
    * [[CharNgramCounts]]'s) and feeds each packed bigram to `sink`. */
  def walk(text: UTF8String, sink: Sink): Unit = {
    val bytes = text.trim().toLowerCase().getBytes
    val n = bytes.length
    var i = 0
    var prev = -1L
    while (i < n) {
      val b0 = bytes(i) & 0xFF
      var cp = b0
      var len = 1
      if (b0 < 0x80) ()
      else if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; len = 2 }
      else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; len = 3 }
      else if ((b0 & 0xF8) == 0xF0) { cp = b0 & 0x07; len = 4 }
      // else: invalid lead byte — consume 1 byte as-is, the same
      // single-unit treatment CharWalk.codepointOffsets applies
      var j = 1
      while (j < len && i + j < n) { cp = (cp << 6) | (bytes(i + j) & 0x3F); j += 1 }
      val cur = cp.toLong
      if (prev >= 0) sink.accept((prev << 21) | cur)
      prev = cur
      i += len
    }
  }
}

/** Top-K packed bigrams of a text column by (corpus count DESC, packed
  * key ASC) — the q123 model pass as ONE aggregate: update walks each
  * document's characters straight into a per-partition count map (state
  * bounded by the distinct-bigram universe, charset² — the same bound
  * the old explode-form hash aggregate carried), partials combine
  * map-side, and the exchange moves one histogram per partition instead
  * of one row per (doc, distinct bigram). eval applies the
  * deterministic total-order cut and returns the K packed keys. K ≤ 2¹⁶
  * enforced, so the downstream collect is the documented K-bounded
  * model class (the SurpriseVocabCap / centroid-matrix precedent). */
case class TopBigramsByCount(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[java.lang.Long, java.lang.Long]] {

  require(k > 0 && k <= (1 << 16), s"top_bigrams_by_count k out of range: $k")

  override def createAggregationBuffer(): java.util.HashMap[java.lang.Long, java.lang.Long] =
    new java.util.HashMap[java.lang.Long, java.lang.Long]()

  override def update(buf: java.util.HashMap[java.lang.Long, java.lang.Long],
      input: InternalRow): java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val t = child.eval(input)
    if (t != null) BigramWalk.walk(t.asInstanceOf[UTF8String],
      new BigramWalk.Sink {
        override def accept(packed: Long): Unit = {
          val key = java.lang.Long.valueOf(packed)
          val c = buf.get(key)
          buf.put(key, if (c == null) java.lang.Long.valueOf(1L)
            else java.lang.Long.valueOf(c + 1L))
        }
      })
    buf
  }

  override def merge(buf: java.util.HashMap[java.lang.Long, java.lang.Long],
      other: java.util.HashMap[java.lang.Long, java.lang.Long])
      : java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = buf.get(e.getKey)
      buf.put(e.getKey, if (c == null) e.getValue
        else java.lang.Long.valueOf(c + e.getValue))
    }
    buf
  }

  override def eval(buf: java.util.HashMap[java.lang.Long, java.lang.Long]): Any = {
    val entries = new Array[(Long, Long)](buf.size)
    val it = buf.entrySet().iterator(); var i = 0
    while (it.hasNext) {
      val e = it.next(); entries(i) = (e.getKey.longValue, e.getValue.longValue)
      i += 1
    }
    val top = entries.sortWith { case ((ka, ca), (kb, cb)) =>
      if (ca != cb) ca > cb else ka < kb
    }.take(k)
    new GenericArrayData(top.map(_._1))
  }

  override def serialize(buf: java.util.HashMap[java.lang.Long, java.lang.Long])
      : Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey); bb.putLong(e.getValue)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long](n * 2)
    var i = 0
    while (i < n) {
      m.put(java.lang.Long.valueOf(bb.getLong),
        java.lang.Long.valueOf(bb.getLong))
      i += 1
    }
    m
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(offset: Int): TopBigramsByCount =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopBigramsByCount =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "graft_top_bigrams_by_count"
}

object TopBigramsByCount {
  /** Aggregate Column: the k packed bigrams with the largest corpus
    * counts, ties to the smaller packed key (≡ the binary-smaller
    * bigram string). */
  def topBigrams(text: Column, k: Int): Column =
    column(TopBigramsByCount(expression(text), k).toAggregateExpression())
}

/** Per-document (total, in-model) bigram counts against a FIXED packed
  * model: returns `[n_bigrams, n_common]` in one pass over the text
  * with a binary search per position — the q123 scoring pass as a
  * scalar instead of explode → broadcast join → doc-keyed re-aggregate
  * (whose exchange carried one row per distinct bigram per document;
  * this carries nothing — scoring happens at scan speed and only the
  * final per-doc triple reaches the output sort). The model arrives as
  * an array<bigint> LITERAL of packed bigrams (the K-bounded cut from
  * [[TopBigramsByCount]]), sorted once at first eval. */
case class BigramModelScore(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bigram_model_score"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(LongType, _)) =>
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_bigram_model_score model must be foldable (a literal)")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bigram_model_score expects (string, array<bigint>), " +
          s"got ${l.simpleString(10)}, ${r.simpleString(10)}")
    }

  @transient private lazy val sortedKeys: Array[Long] = {
    val ad = right.eval().asInstanceOf[ArrayData]
    val ks = new Array[Long](ad.numElements())
    var i = 0
    while (i < ks.length) { ks(i) = ad.getLong(i); i += 1 }
    java.util.Arrays.sort(ks)
    ks
  }

  override def nullSafeEval(t: Any, unused: Any): Any = {
    val keys = sortedKeys
    var total = 0L; var common = 0L
    BigramWalk.walk(t.asInstanceOf[UTF8String], new BigramWalk.Sink {
      override def accept(packed: Long): Unit = {
        total += 1
        if (java.util.Arrays.binarySearch(keys, packed) >= 0) common += 1
      }
    })
    new GenericArrayData(Array(total, common))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BigramModelScore =
    copy(left = newLeft, right = newRight)
}

object BigramModelScore {
  def score(text: Column, packedModel: Column): Column =
    column(BigramModelScore(expression(text), expression(packedModel)))
}
