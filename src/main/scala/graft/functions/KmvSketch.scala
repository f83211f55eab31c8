package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV (k-minimum-values) distinct sketch as a native
  * [[TypedImperativeAggregate]] — the AGGREGATE half of the extension
  * surface (the scalar half is CosineSim & friends). The buffer is the
  * k smallest xxhash64 values of the column's distinct inputs; buffers
  * merge by keeping the k smallest of the union, so the aggregate is
  * commutative/associative and combines map-side like any Spark
  * partial aggregate — constant ~8k bytes per group regardless of
  * group size, the property that makes sketch-joins of 100 TB audience
  * sets feasible (exact distinct sets would shuffle every member).
  *
  * From the returned sorted hash array (Beyer et al. 2007, "On synopses
  * for distinct-value estimation"):
  *   - distinct estimate: (k-1) / u_k with u_k the k-th minimum mapped
  *     to (0,1);
  *   - Jaccard of two sets: |K_k(A∪B) ∩ K(A) ∩ K(B)| / k, computable
  *     declaratively with array_intersect/slice on the two sketches.
  *
  * Deterministic (xxhash64, no RNG): the same input set always yields
  * the same sketch, so sketch-based queries stay reproducible even
  * though they have no SQL oracle.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k > 0 && k <= (1 << 16), s"kmv k out of range: $k")

  private val hasher = XxHash64(Seq(child), 42L)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val h = hasher.eval(input)
    if (h != null) {
      val v = h.asInstanceOf[Long]
      if (buf.size < k) { buf.add(v); () }
      else if (v < buf.last()) { buf.add(v); if (buf.size > k) buf.pollLast(); () }
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    buf.addAll(other)
    while (buf.size > k) buf.pollLast()
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    val it = buf.iterator(); var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(offset: Int): KmvSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvSketch =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "graft_kmv"
}

object KmvSketch {
  /** Aggregate Column: the k smallest xxhash64 values of `c`'s values. */
  def kmv(c: Column, k: Int): Column =
    column(KmvSketch(expression(c), k).toAggregateExpression())
}
