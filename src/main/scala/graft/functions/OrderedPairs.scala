package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType, StructField, StructType}

/** All ordered pairs (a, b), a-index < b-index, of a long array — the
  * in-group pair-expansion core of the dedup family (q45 rare-shingle
  * Jaccard, q46 LSH buckets, and their q81/q97/q119/q120 consumers).
  *
  * One compiled loop emits exactly C(n,2) structs; the declarative
  * equivalent (two `posexplode`s + `pj > pi` filter) materializes n² rows
  * and discards over half, and its second Generate re-evaluates against
  * every intermediate row. Consumed as `inline(ordered_pairs(ids))`, so
  * the Generate node is the codegen-capable `Inline` and the only
  * interpreted island is this expression's own tight loop.
  *
  * Callers bound n (df / band-bucket caps ≤ 256), so the quadratic
  * expansion is capped per group by construction — the same contract the
  * posexplode form relied on.
  *
  * `withSelf` additionally emits one (d, d) row per element: the r9 q45
  * fold aggregates self-rows and pair-rows in ONE (a, b)-keyed shuffle —
  * count of (d, d) = the element's group-membership cardinality, count
  * of (a, b), a<b = the pair's intersection size — replacing the
  * separate doc-keyed cardinality shuffle stage (same shuffled volume,
  * one fewer stage in the chain). The third `self` field exists so the
  * consumer can split cardinalities from intersections by filtering an
  * AGGREGATED first(self) — a filter on the (a, b) KEYS (`a = b`) would
  * be pushed below the aggregate, splitting the shared Exchange into
  * two siblings that each re-run this expansion (observed: the split
  * plan re-ran the whole reduce-side pipeline twice and erased the
  * fold's gain).
  */
case class OrderedPairs(child: Expression, withSelf: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(
      Seq(StructField("a", LongType, nullable = false),
        StructField("b", LongType, nullable = false)) ++
      (if (withSelf) Seq(StructField("self", BooleanType, nullable = false))
       else Nil)), containsNull = false)
  override def prettyName: String = "graft_ordered_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ordered_pairs expects array<bigint>, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(input: Any): Any = {
    val ids = input.asInstanceOf[ArrayData]
    val total = ids.numElements()
    // null ELEMENTS are skipped (the type-check admits containsNull
    // arrays — collect_list over a nullable column types that way even
    // though it drops nulls — and getLong on a null slot would crash)
    val vals = new Array[Long](total)
    var n = 0
    var t = 0
    while (t < total) {
      if (!ids.isNullAt(t)) { vals(n) = ids.getLong(t); n += 1 }
      t += 1
    }
    if (n < 2 && !withSelf) return new GenericArrayData(Array.empty[Any])
    val w = if (withSelf) 3 else 2
    val out = new Array[Any](n * (n - 1) / 2 + (if (withSelf) n else 0))
    var k = 0
    var i = 0
    while (i < n) {
      val a = vals(i)
      if (withSelf) {
        val self = new GenericInternalRow(3)
        self.setLong(0, a)
        self.setLong(1, a)
        self.setBoolean(2, true)
        out(k) = self.asInstanceOf[InternalRow]
        k += 1
      }
      var j = i + 1
      while (j < n) {
        val row = new GenericInternalRow(w)
        row.setLong(0, a)
        row.setLong(1, vals(j))
        if (withSelf) row.setBoolean(2, false)
        out(k) = row.asInstanceOf[InternalRow]
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): OrderedPairs =
    copy(child = newChild)
}

object OrderedPairs {
  def orderedPairs(ids: Column): Column = column(OrderedPairs(expression(ids)))

  /** Pairs PLUS one (d, d) self-row per element (see class doc). */
  def orderedPairsWithSelf(ids: Column): Column =
    column(OrderedPairs(expression(ids), withSelf = true))
}
