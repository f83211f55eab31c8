package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** The ids of a group's top-`k` rows by (score DESC, id ASC), as the
  * AGGREGATE twin of `ROW_NUMBER() OVER (PARTITION BY g ORDER BY score
  * DESC, id) <= k` + collect: identical selected set (same comparator,
  * same deterministic tie-break), returned as an id-ASC `array<long>`
  * for order-insensitive set work (`array_intersect`/`size`).
  *
  * Why not the window: a rank filter over ONE window gets Spark's
  * WindowGroupLimit partial, but a frame carrying SEVERAL rankings of
  * the same partition key (q159 scores every truncation level on one
  * corpus pass) gets no pushdown — the full |panel|×|corpus| pair frame
  * would shuffle onto |panel| hot keys. As a TypedImperativeAggregate
  * the top-k runs map-side: each partition contributes ≤ k (score, id)
  * pairs per group to the exchange, so the shuffle is |groups|×k at any
  * corpus size.
  *
  * NaN scores compare via [[java.lang.Double.compare]] — greater than
  * +∞, first under DESC — matching Spark's window sort of the same
  * frame. NULL scores are skipped (DESC NULLS LAST would rank them past
  * k for any group with ≥ k non-null rows; callers feed dense panels).
  * Ids are distinct within a group by caller contract (one row per
  * corpus vector), so partial merges never see duplicates.
  */
case class TopKIdsByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKIdsByScore.Buf] {

  require(k > 0 && k <= (1 << 12), s"graft_topk_ids k out of range: $k")

  override def createAggregationBuffer(): TopKIdsByScore.Buf =
    new TopKIdsByScore.Buf(k)

  override def update(buf: TopKIdsByScore.Buf,
      input: InternalRow): TopKIdsByScore.Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKIdsByScore.Buf,
      other: TopKIdsByScore.Buf): TopKIdsByScore.Buf = buf.mergeWith(other)

  override def eval(buf: TopKIdsByScore.Buf): Any = {
    val ids = java.util.Arrays.copyOf(buf.ids, buf.n)
    java.util.Arrays.sort(ids) // id-ASC set form
    new GenericArrayData(ids)
  }

  override def serialize(buf: TopKIdsByScore.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKIdsByScore.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new TopKIdsByScore.Buf(k)
    var i = 0
    while (i < n) { b.scores(i) = bb.getDouble; b.ids(i) = bb.getLong; i += 1 }
    b.n = n // serialize writes in rank order
    b
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren.head, id = newChildren(1))
  override def withNewMutableAggBufferOffset(offset: Int): TopKIdsByScore =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKIdsByScore =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "graft_topk_ids"
}

object TopKIdsByScore {

  /** Rank-ordered (score DESC, id ASC) parallel arrays, size ≤ k. k is
    * single-digit in every caller — linear insert beats heap overhead. */
  final class Buf(val k: Int) {
    val scores: Array[Double] = new Array[Double](k)
    val ids: Array[Long] = new Array[Long](k)
    var n: Int = 0

    /** true when (s1, i1) ranks strictly before (s2, i2). */
    @inline private def before(s1: Double, i1: Long,
        s2: Double, i2: Long): Boolean = {
      val c = java.lang.Double.compare(s2, s1) // DESC
      c < 0 || (c == 0 && i1 < i2)
    }

    def insert(s: Double, i: Long): Unit = {
      if (n == k && !before(s, i, scores(n - 1), ids(n - 1))) return
      var pos = n
      while (pos > 0 && before(s, i, scores(pos - 1), ids(pos - 1))) pos -= 1
      val keep = math.min(n, k - 1) // full: former last falls off
      System.arraycopy(scores, pos, scores, pos + 1, keep - pos)
      System.arraycopy(ids, pos, ids, pos + 1, keep - pos)
      scores(pos) = s
      ids(pos) = i
      if (n < k) n += 1
    }

    def mergeWith(other: Buf): Buf = {
      var j = 0
      while (j < other.n) { insert(other.scores(j), other.ids(j)); j += 1 }
      this
    }
  }

  /** Aggregate Column: ids of the top-`k` rows by (score DESC, id ASC),
    * returned id-ASC. */
  def topkIds(score: Column, id: Column, k: Int): Column =
    column(TopKIdsByScore(expression(score), expression(id), k)
      .toAggregateExpression())
}
