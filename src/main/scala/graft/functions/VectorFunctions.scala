package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.CosineSim

/** Dense-vector math over `array<float>` embedding columns, built from
  * higher-order functions (`zip_with`/`transform`/`aggregate`) so the inner
  * loops run inside codegen with no UDF boundary.
  *
  * Exactness contract: floats are widened to double BEFORE any arithmetic
  * (float*float→double is exact), and sums are sequential left folds —
  * bit-identical to DuckDB's `list_sum(list_transform(...))`, verified
  * empirically. The DuckDB counterpart of each function is documented so
  * similarity operators stay hash-checkable against the oracle:
  *   dot: list_sum(list_transform(list_zip(CAST(a AS DOUBLE[]),
  *          CAST(b AS DOUBLE[])), x -> x[1]*x[2]))
  *   norm2: list_sum(list_transform(CAST(a AS DOUBLE[]), x -> x*x))
  *   cosine: dot / (sqrt(norm2(a)) * sqrt(norm2(b)))
  */
object VectorFunctions {

  private def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  /** Squared L2 norm (sequential fold). */
  def norm2(a: Column): Column =
    aggregate(
      transform(asDouble(a), x => x * x),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity; parenthesization fixed as dot/(sqrt(na2)*sqrt(nb2))
    * on both engines so the IEEE754 result is bit-identical.
    *
    * Declarative reference form — kept as the semantic spec and for tests;
    * hot paths use [[graft.functions.CosineSim]], the codegen'd native
    * expression with identical semantics (HOFs are CodegenFallback and
    * ~100× slower in O(n²) pair joins). */
  def cosineDeclarative(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Fast path: native codegen'd cosine. */
  def cosine(a: Column, b: Column): Column = CosineSim.cosineSim(a, b)
}
