package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `sort_array(collect_list(x))` with a HARD per-group memory bound: the
  * buffer keeps only the `cap` SMALLEST values, so a pathologically hot
  * group costs cap×8 bytes instead of |group|×8 — the difference between
  * a bounded aggregation state and an OOM when one shingle ("the quick
  * brown") appears in 10⁹ documents of a 100 TB corpus, or one LSH band
  * bucket collects a degenerate near-identical corpus.
  *
  * The dedup family's df/bucket caps make this EXACT, not approximate:
  * callers filter groups to size ≤ dfMax and pass cap = dfMax + 1, so
  *   - a group with ≤ dfMax distinct values keeps ALL of them (the cap
  *     never truncates) — identical to sort_array(collect_list(x));
  *   - a group with  > dfMax values saturates at cap = dfMax + 1
  *     elements, and the caller's `size(ids) <= dfMax` filter drops it —
  *     the same outcome the unbounded form reached by materializing the
  *     full list first and inspecting its size.
  *
  * Buffers merge by keeping the cap smallest of the union (commutative,
  * associative), so partial aggregation combines map-side and the
  * SHUFFLED state is also ≤ cap — hot groups stop bloating the exchange,
  * not just the final merge.
  *
  * The buffer is a PRIMITIVE sorted long[] (binary-search insert, grown
  * geometrically from 8): this aggregate sits in the hottest shuffle of
  * the whole dedup family (every (shingle, doc_id) row passes through
  * update), and a boxed TreeSet there measurably slowed the q45 scan
  * stage. A full buffer rejects v ≥ max in O(log cap) with no copy.
  *
  * Input contract: values must be DISTINCT within a group (the set
  * semantics dedup). Both users satisfy it by construction — shingle
  * hashes are distinct per doc (WordShingles contract) so
  * (shingle, doc_id) rows are unique, and band rows carry one doc_id per
  * (band, bh). A caller with duplicate inputs would see them collapsed
  * where collect_list kept both.
  */
case class BoundedSortedList(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedSortedList.Buf] {

  require(cap > 0 && cap <= (1 << 16), s"bounded_sorted_list cap out of range: $cap")

  override def createAggregationBuffer(): BoundedSortedList.Buf =
    new BoundedSortedList.Buf(cap)

  override def update(buf: BoundedSortedList.Buf,
      input: InternalRow): BoundedSortedList.Buf = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BoundedSortedList.Buf,
      other: BoundedSortedList.Buf): BoundedSortedList.Buf =
    buf.mergeWith(other)

  override def eval(buf: BoundedSortedList.Buf): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf.arr, buf.n))

  override def serialize(buf: BoundedSortedList.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedSortedList.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new BoundedSortedList.Buf(cap)
    b.arr = new Array[Long](math.max(n, 1))
    var i = 0
    while (i < n) { b.arr(i) = bb.getLong; i += 1 }
    b.n = n // already sorted — serialize writes in order
    b
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(offset: Int): BoundedSortedList =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BoundedSortedList =
    copy(inputAggBufferOffset = offset)
  override def prettyName: String = "graft_bounded_sorted_list"
}

object BoundedSortedList {

  /** Sorted distinct long buffer, capped: keeps the `cap` smallest. */
  final class Buf(val cap: Int) {
    var arr: Array[Long] = new Array[Long](math.min(cap, 8))
    var n: Int = 0

    def insert(v: Long): Unit = {
      if (n == cap && v >= arr(n - 1)) return // full and not smaller: reject
      // binary search for the insertion point (dedup on exact hit)
      var lo = 0
      var hi = n
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (arr(m) < v) lo = m + 1 else hi = m
      }
      if (lo < n && arr(lo) == v) return // already present
      if (n == arr.length && n < cap)
        arr = java.util.Arrays.copyOf(arr, math.min(arr.length * 2, cap))
      // shift right; when full the former max falls off the end
      val keep = math.min(n, cap - 1)
      System.arraycopy(arr, lo, arr, lo + 1, keep - lo)
      arr(lo) = v
      if (n < cap) n += 1
    }

    /** Two-pointer merge of two sorted distinct arrays, keeping the cap
      * smallest of the (deduplicated) union. */
    def mergeWith(other: Buf): Buf = {
      if (other.n == 0) return this
      if (n == 0) { arr = other.arr; n = other.n; return this }
      val out = new Array[Long](math.min(n + other.n, cap))
      var i = 0; var j = 0; var k = 0
      while (k < out.length && (i < n || j < other.n)) {
        val takeLeft = j >= other.n || (i < n && arr(i) <= other.arr(j))
        val v = if (takeLeft) arr(i) else other.arr(j)
        if (takeLeft) i += 1 else j += 1
        if (k == 0 || out(k - 1) != v) { out(k) = v; k += 1 }
      }
      arr = out
      n = k
      this
    }
  }

  /** Aggregate Column: the `cap` smallest distinct values of `c`,
    * ascending. */
  def boundedSortedList(c: Column, cap: Int): Column =
    column(BoundedSortedList(expression(c), cap).toAggregateExpression())
}
