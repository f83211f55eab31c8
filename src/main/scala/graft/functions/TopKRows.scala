package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The top-`k` ROWS of a group by (score DESC, id ASC), rank-ordered,
  * carrying two long payload columns — the aggregate twin of
  * `ORDER BY score DESC, id LIMIT k` + project, as one
  * `array<struct<score, id, p1, p2>>`.
  *
  * This is [[TopKIdsByScore]] widened from an id SET to ranked rows with
  * payload: the retrieval family (q126/q131/q135/q153, r14 floor
  * rebuild) needs the rank ORDER (RRF fuses 1/(60+rank)) and per-row
  * payload (n_chars for the q135 rerank prior, n_tokens for the q153
  * token budget), so the whole fused-candidate build collapses to ONE
  * job ending in this aggregate instead of two TakeOrdered jobs plus a
  * re-join against the corpus. Map-side partials keep each partition's
  * contribution ≤ k rows, so the exchange carries |groups|×k rows at
  * any corpus size — the same scale shape as the window-with-
  * WindowGroupLimit, minus the sort.
  *
  * Determinism contract (the oracle-hash rule): the comparator is
  * [[java.lang.Double.compare]] DESC then id ASC — NaN ranks first
  * under DESC (greater than +∞), exactly like Spark's `orderBy(desc)`
  * and DuckDB's `ORDER BY ... DESC` on the same frame. NULL scores are
  * SKIPPED (callers encode population filters as `when(cond, score)` —
  * an unmatched doc contributes nothing, mirroring the oracle CTEs that
  * only materialize matched rows). Ids are distinct per group by caller
  * contract (one row per document).
  */
case class TopKRowsByScore(
    score: Expression,
    id: Expression,
    p1: Expression,
    p2: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKRowsByScore.Buf] {

  /** Analysis-time typing (ADVICE r14): the node declares no input
    * types, so no coercion applies, and without a declared check a
    * mistyped caller (int score, string id) died with a
    * ClassCastException inside aggregation. Mistyped calls now fail
    * at analysis with the expected signature spelled out. */
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val expect = Seq(("score", DoubleType), ("id", LongType),
      ("p1", LongType), ("p2", LongType))
    children.zip(expect).collectFirst {
      case (c, (name, t)) if c.dataType != t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"graft_topk_rows expects $name: " +
            s"${t.simpleString}, got ${c.dataType.simpleString} — cast " +
            "the argument explicitly")
    }.getOrElse(org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckSuccess)
  }

  require(k > 0 && k <= (1 << 12), s"graft_topk_rows k out of range: $k")

  override def createAggregationBuffer(): TopKRowsByScore.Buf =
    new TopKRowsByScore.Buf(k)

  override def update(buf: TopKRowsByScore.Buf,
      input: InternalRow): TopKRowsByScore.Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val v1 = p1.eval(input)
      val v2 = p2.eval(input)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long],
        if (v1 == null) 0L else v1.asInstanceOf[Long],
        if (v2 == null) 0L else v2.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKRowsByScore.Buf,
      other: TopKRowsByScore.Buf): TopKRowsByScore.Buf = buf.mergeWith(other)

  override def eval(buf: TopKRowsByScore.Buf): Any = {
    val rows = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) {
      rows(i) = InternalRow(buf.scores(i), buf.ids(i), buf.pay1(i), buf.pay2(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKRowsByScore.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 32 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i))
      bb.putLong(buf.pay1(i)); bb.putLong(buf.pay2(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKRowsByScore.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new TopKRowsByScore.Buf(k)
    var i = 0
    while (i < n) {
      b.scores(i) = bb.getDouble; b.ids(i) = bb.getLong
      b.pay1(i) = bb.getLong; b.pay2(i) = bb.getLong
      i += 1
    }
    b.n = n // serialize writes in rank order
    b
  }

  override def dataType: DataType = ArrayType(TopKRowsByScore.RowType,
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id, p1, p2)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren.head, id = newChildren(1),
      p1 = newChildren(2), p2 = newChildren(3))
  override def withNewMutableAggBufferOffset(offset: Int): TopKRowsByScore =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKRowsByScore =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "graft_topk_rows"
}

object TopKRowsByScore {

  val RowType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("p1", LongType, nullable = false),
    StructField("p2", LongType, nullable = false)))

  /** Rank-ordered (score DESC, id ASC) parallel arrays, size ≤ k.
    * k ≤ 100 in every caller — the shifted linear insert is one
    * arraycopy per accepted row and a single comparison per reject. */
  final class Buf(val k: Int) {
    val scores: Array[Double] = new Array[Double](k)
    val ids: Array[Long] = new Array[Long](k)
    val pay1: Array[Long] = new Array[Long](k)
    val pay2: Array[Long] = new Array[Long](k)
    var n: Int = 0

    @inline private def before(s1: Double, i1: Long,
        s2: Double, i2: Long): Boolean = {
      val c = java.lang.Double.compare(s2, s1) // DESC
      c < 0 || (c == 0 && i1 < i2)
    }

    def insert(s: Double, i: Long, v1: Long, v2: Long): Unit = {
      if (n == k && !before(s, i, scores(n - 1), ids(n - 1))) return
      var pos = n
      while (pos > 0 && before(s, i, scores(pos - 1), ids(pos - 1))) pos -= 1
      val keep = math.min(n, k - 1) // full: former last falls off
      System.arraycopy(scores, pos, scores, pos + 1, keep - pos)
      System.arraycopy(ids, pos, ids, pos + 1, keep - pos)
      System.arraycopy(pay1, pos, pay1, pos + 1, keep - pos)
      System.arraycopy(pay2, pos, pay2, pos + 1, keep - pos)
      scores(pos) = s; ids(pos) = i; pay1(pos) = v1; pay2(pos) = v2
      if (n < k) n += 1
    }

    def mergeWith(other: Buf): Buf = {
      var j = 0
      while (j < other.n) {
        insert(other.scores(j), other.ids(j), other.pay1(j), other.pay2(j))
        j += 1
      }
      this
    }
  }

  /** Aggregate Column: the top-`k` rows by (score DESC, id ASC) as a
    * rank-ordered array<struct<score,id,p1,p2>>. */
  def topkRows(score: Column, id: Column, p1: Column, p2: Column,
      k: Int): Column =
    column(TopKRowsByScore(expression(score), expression(id),
      expression(p1), expression(p2), k).toAggregateExpression())
}
