package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-anchor nearest-neighbor as ONE aggregate pass: for a bounded
  * anchor panel (ids + vectors ride along as literals — driver-bounded
  * model metadata, like the IVF centroid cache), the running
  * (best cosine, neighbor id, neighbor label) per anchor is aggregate
  * STATE — three primitive arrays of panel length — updated in place as
  * the corpus streams by. Nothing per-pair ever exists as a row: the
  * naive broadcast nested-loop join materializes |corpus| × |panel|
  * rows each carrying both embeddings (~400 GB of row traffic at
  * 200k × 2000 for ~3 GFLOP of arithmetic), and even the in-row
  * score-array + posexplode form pays |corpus| × |panel| interpreted
  * row transitions (a CodegenFallback child keeps Generate out of
  * whole-stage codegen). Here the total cost IS the FLOPs plus a
  * panel-sized compare per row, the state merges map-side like any
  * partial aggregate (compare is associative/commutative under the
  * (cos desc, id asc) total order — ids are unique, so there are no
  * ties to break arbitrarily), and the exchange carries one
  * panel-length buffer per partition.
  *
  * Scores are computed with [[CosineSim]]'s exact arithmetic order
  * (dot over min length, index-order norms, `dot/(sqrt·sqrt)`), so the
  * selected neighbors are bit-identical to the pairwise form and
  * differential oracles stay exact. Comparison mirrors Spark's SQL
  * double ordering exactly: `x == y` short-circuits first (so -0.0 and
  * +0.0 tie, as SQLOrderingUtil treats them), then
  * `java.lang.Double.compare` ranks NaN above every real value — the
  * same total order max_by/ORDER BY DESC uses.
  *
  * NULL CONTRACT (narrower than the pairwise form — callers with
  * nullable inputs must pre-clean): rows with a null vector, null
  * vector ELEMENT, or null id are skipped, matching the pairwise form
  * (those pairs null out of the join/max_by). Rows with a null LABEL
  * are ALSO skipped, which the pairwise form would not do (a
  * null-labeled row can win rank-1 there and count its anchor as
  * inconsistent) — coalesce labels first if that distinction matters.
  * Anchors that never see a valid non-self neighbor yield a NULL slot.
  *
  * Output: `array<bigint>` of best-neighbor LABELS, indexed by panel
  * position (the caller maps position → anchor id/label via its own
  * literals).
  */
case class PanelTop1(
    vec: Expression, id: Expression, label: Expression,
    qIds: Seq[Long], matrix: Seq[Seq[Double]],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PanelTop1.State] {

  require(matrix.nonEmpty && matrix.length == qIds.length,
    s"panel ids/vectors must align: ${qIds.length} vs ${matrix.length}")

  import PanelTop1.State

  @transient private lazy val rows: Array[Array[Double]] =
    matrix.map(_.toArray).toArray
  @transient private lazy val ids: Array[Long] = qIds.toArray
  @transient private lazy val norms: Array[Double] = CosineAll.normsOf(rows)
  @transient private lazy val isFloat = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def createAggregationBuffer(): State = {
    val p = qIds.length
    State(new Array[Double](p), new Array[Long](p), new Array[Long](p),
      new Array[Boolean](p))
  }

  // Spark's SQL double ordering: -0.0 == +0.0 first, then
  // Double.compare (NaN greatest). Tie on cos → smaller neighbor id.
  @inline private def better(cos: Double, n: Long,
      hit: Boolean, bufCos: Double, bufN: Long): Boolean =
    !hit || {
      val c = if (cos == bufCos) 0 else java.lang.Double.compare(cos, bufCos)
      c > 0 || (c == 0 && n < bufN)
    }

  override def update(buf: State, input: InternalRow): State = {
    val v0 = vec.eval(input)
    val i0 = id.eval(input)
    val l0 = label.eval(input)
    if (v0 == null || i0 == null || l0 == null) return buf
    val a = v0.asInstanceOf[ArrayData]
    val rowId = i0.asInstanceOf[Long]
    val rowLabel = l0.asInstanceOf[Long]
    val an = a.numElements()
    val v = new Array[Double](an)
    var na = 0.0
    var i = 0
    while (i < an) {
      if (a.isNullAt(i)) return buf // null element: pair would be null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      v(i) = x; na += x * x; i += 1
    }
    val sna = math.sqrt(na)
    var k = 0
    while (k < rows.length) {
      if (ids(k) != rowId) { // exclude the anchor itself
        val m = rows(k)
        val n = math.min(an, m.length)
        var dot = 0.0; i = 0
        while (i < n) { dot += v(i) * m(i); i += 1 }
        val cos = dot / (sna * norms(k))
        if (better(cos, rowId, buf.hit(k), buf.cos(k), buf.n(k))) {
          buf.cos(k) = cos; buf.n(k) = rowId; buf.nl(k) = rowLabel
          buf.hit(k) = true
        }
      }
      k += 1
    }
    buf
  }

  override def merge(buf: State, other: State): State = {
    var k = 0
    while (k < buf.cos.length) {
      if (other.hit(k) &&
          better(other.cos(k), other.n(k), buf.hit(k), buf.cos(k), buf.n(k))) {
        buf.cos(k) = other.cos(k); buf.n(k) = other.n(k); buf.nl(k) = other.nl(k)
        buf.hit(k) = true
      }
      k += 1
    }
    buf
  }

  override def eval(buf: State): Any = {
    val out = new Array[Any](buf.cos.length)
    var k = 0
    while (k < out.length) {
      out(k) = if (buf.hit(k)) buf.nl(k) else null
      k += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: State): Array[Byte] = {
    val p = buf.cos.length
    val bb = ByteBuffer.allocate(4 + 25 * p)
    bb.putInt(p)
    var k = 0
    while (k < p) {
      bb.putDouble(buf.cos(k)); bb.putLong(buf.n(k)); bb.putLong(buf.nl(k))
      bb.put(if (buf.hit(k)) 1.toByte else 0.toByte)
      k += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): State = {
    val bb = ByteBuffer.wrap(bytes)
    val p = bb.getInt
    val s = State(new Array[Double](p), new Array[Long](p), new Array[Long](p),
      new Array[Boolean](p))
    var k = 0
    while (k < p) {
      s.cos(k) = bb.getDouble; s.n(k) = bb.getLong; s.nl(k) = bb.getLong
      s.hit(k) = bb.get() != 0
      k += 1
    }
    s
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(vec, id, label)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), id = newChildren(1), label = newChildren(2))
  override def withNewMutableAggBufferOffset(offset: Int): PanelTop1 =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): PanelTop1 =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "graft_panel_top1"
}

object PanelTop1 {
  /** Running per-anchor best: parallel primitive arrays, panel-indexed.
    * `hit(k)` distinguishes "no valid neighbor yet" from any real id
    * (a sentinel in `n` would conflate with legitimate negative ids). */
  case class State(cos: Array[Double], n: Array[Long], nl: Array[Long],
      hit: Array[Boolean])

  /** Aggregate Column: per-panel-position best-neighbor label over the
    * aggregated rows. */
  def panelTop1(vec: Column, id: Column, label: Column,
      qIds: Seq[Long], matrix: Seq[Seq[Double]]): Column =
    column(PanelTop1(expression(vec), expression(id), expression(label),
      qIds, matrix).toAggregateExpression())
}
