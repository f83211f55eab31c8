package graft

import org.apache.spark.sql.{GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType}

import graft.functions._

/** Session-extension entry point and the ONE table of graft SQL
  * function names. A user enables them with
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     // or .withExtensions(new GraftExtensions)
  * }}}
  *
  * and these names resolve from plain SQL (`SELECT graft_cosine(a,b)`)
  * in every session of that context. The DataFrame route needs no
  * registration: each Column helper in `graft.functions` builds its
  * expression directly, the same nodes these builders produce.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, arity: Int, build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      exprs => {
        require(exprs.length == arity, s"$name expects $arity arguments")
        build(exprs)
      })

  /** Argument `pos` of `name` as the constant integer its native takes:
    * a foldable TINYINT/SMALLINT/INT/BIGINT value within Int range (and
    * the DOUBLE/FLOAT constants graft_kmv has always truncated, when
    * `truncate`). A column, NULL, DECIMAL or out-of-range value raises an
    * AnalysisException naming the function and the argument position. */
  private def intArg(name: String, e: Seq[Expression], pos: Int,
      truncate: Boolean = false): Int = {
    val a = e(pos)
    val v: Option[Long] = (a.dataType, if (a.foldable) a.eval() else null) match {
      case (ByteType | ShortType | IntegerType | LongType, x: Number) =>
        Some(x.longValue)
      case (FloatType | DoubleType, x: Number) if truncate => Some(x.intValue.toLong)
      case _ => None
    }
    v.filter(_.isValidInt).map(_.toInt).getOrElse(throw GraftColumnBridge
      .analysisError(s"$name: argument ${pos + 1} must be a constant " +
        s"integer, got ${a.sql}"))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_cosine", 2, e => CosineSim(e.head, e(1))))
    ext.injectFunction(fn("graft_minhash_sig", 1, e => MinHashSig(e.head)))
    ext.injectFunction(fn("graft_simhash64", 1, e => SimHash64(e.head)))
    ext.injectFunction(fn("graft_shingles", 2,
      e => WordShingles(e.head, intArg("graft_shingles", e, 1))))
    ext.injectFunction(fn("graft_hplsh", 1, e => HyperplaneLsh(e.head)))
    ext.injectFunction(fn("graft_zorder", 2, e => ZOrder(e.head, e(1))))
    ext.injectFunction(fn("graft_pq_encode", 4,
      e => ProductQuant.PqEncode(e.head, e(1),
        intArg("graft_pq_encode", e, 2), intArg("graft_pq_encode", e, 3))))
    ext.injectFunction(fn("graft_pq_table", 4,
      e => ProductQuant.PqAdcTable(e.head, e(1),
        intArg("graft_pq_table", e, 2), intArg("graft_pq_table", e, 3))))
    ext.injectFunction(fn("graft_pq_score", 3,
      e => ProductQuant.PqScore(e.head, e(1), intArg("graft_pq_score", e, 2))))
    ext.injectFunction(fn("graft_kmv", 2,
      e => KmvSketch(e.head, intArg("graft_kmv", e, 1, truncate = true))
        .toAggregateExpression()))
    ext.injectFunction(fn("graft_bloom_contains", 2,
      e => BloomContains(e.head, e(1))))
  }
}
