package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Multi-table random-hyperplane LSH over an `array<float|double>`
  * embedding: for each of `NumTables` independent tables, bit j of that
  * table's bucket is `sign(v · r_tj)` for `Bits` fixed pseudo-random
  * hyperplanes (Charikar's SimHash for vectors). Result:
  * `array<bigint>` of `NumTables` bucket ids.
  *
  * Multi-table is the recall lever: a candidate is found if it collides
  * in ANY table — P[found] = 1 − (1 − p^Bits)^NumTables for per-plane
  * agreement p = 1 − θ/π. Single-table 6-bit LSH measured recall@5 of
  * 0.02 on the test corpus (CorpusSpec); 12 tables lift it to ~0.4
  * while probing ~NumTables/2^Bits ≈ 19% of the corpus per query. The
  * test embeddings are near-random (true top-5 cosine ≈ 0.3, θ ≈ 70°,
  * p ≈ 0.6 — the hardest regime for LSH); clustered real-world
  * embeddings sit at far higher p and recall.
  *
  * The hyperplanes are compile-time constants — the matrix is
  * materialized once on the driver (deterministic xxhash64 folding, the
  * round-1 SQL formula extended with a table index) and shipped as a
  * codegen reference object, so the per-row cost is one fused
  * `NumTables × Bits × Dim` multiply-add loop inside whole-stage
  * codegen. The round-1 declarative form computed one table through
  * interpreted `aggregate`/`transform` HOFs re-hashing per row per
  * element — 18 s at sf0.1 vs 0.4 s brute force. Per the repo invariant
  * (CLAUDE.md), hot per-row loops are native expressions.
  */
case class HyperplaneLsh(child: Expression) extends UnaryExpression {

  import HyperplaneLsh._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // Null array ELEMENTS make the result null regardless of child
  // nullability (FalseLiteral isNull would break generated code).
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hplsh"

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case Some(_) => TypeCheckResult.TypeCheckSuccess
    case None => TypeCheckResult.TypeCheckFailure(
      s"graft_hplsh expects array<float|double>, got ${child.dataType.simpleString(10)}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val isFloat = elemType.get == FloatType
    val n = math.min(v.numElements(), Dim)
    var k = 0
    while (k < n) { if (v.isNullAt(k)) return null; k += 1 }
    val out = new Array[Long](NumTables)
    var t = 0
    while (t < NumTables) {
      var bucket = 0L
      var j = 0
      while (j < Bits) {
        var dot = 0.0
        k = 0
        while (k < n) {
          val x = if (isFloat) v.getFloat(k).toDouble else v.getDouble(k)
          dot += Mat((t * Bits + j) * Dim + k) * x
          k += 1
        }
        if (dot > 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = if (elemType.get == FloatType) "getFloat" else "getDouble"
    val mat = ctx.addReferenceObj("hpMat", Mat, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n"); val t = ctx.freshName("t")
      val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val dot = ctx.freshName("dot"); val bkt = ctx.freshName("bkt")
      val out = ctx.freshName("out"); val anyNull = ctx.freshName("anyNull")
      s"""
        |int $n = java.lang.Math.min($v.numElements(), $Dim);
        |boolean $anyNull = false;
        |for (int $k = 0; $k < $n; $k++) {
        |  if ($v.isNullAt($k)) { $anyNull = true; break; }
        |}
        |if ($anyNull) {
        |  ${ev.isNull} = true;
        |} else {
        |  long[] $out = new long[$NumTables];
        |  for (int $t = 0; $t < $NumTables; $t++) {
        |    long $bkt = 0L;
        |    for (int $j = 0; $j < $Bits; $j++) {
        |      double $dot = 0.0;
        |      for (int $k = 0; $k < $n; $k++) {
        |        $dot += $mat[($t * $Bits + $j) * $Dim + $k] * (double) $v.$getter($k);
        |      }
        |      if ($dot > 0) $bkt |= (1L << $j);
        |    }
        |    $out[$t] = $bkt;
        |  }
        |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        |}
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneLsh =
    copy(child = newChild)
}

object HyperplaneLsh {
  /** 6 bits ≈ 64 buckets per table; 12 independent tables. Sized so
    * local-test buckets stay non-trivial at measurable recall; at real
    * corpus scale raise Bits with corpus size and tune NumTables to the
    * recall target. */
  val Bits = 6
  val Dim = 64
  val NumTables = 12

  /** Deterministic hyperplane components (xxhash64 of "hp<t>_<j>_<k>"
    * folded into [-1, 1]; table 0 reproduces the round-1 single-table
    * values by keeping its original "hp<j>_<k>" seed). */
  val Mat: Array[Double] = Array.tabulate(NumTables * Bits * Dim) { i =>
    val t = i / (Bits * Dim); val j = (i / Dim) % Bits; val k = i % Dim
    val seed = if (t == 0) s"hp${j}_$k" else s"hp${t}_${j}_$k"
    val h = XxHash64(Seq(Literal.create(seed, StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    val m = 2000001L
    ((((h % m) + m) % m) - 1000000L).toDouble / 1000000.0
  }

  def hplsh(v: Column): Column = column(HyperplaneLsh(expression(v)))
}
