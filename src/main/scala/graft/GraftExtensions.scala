package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

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

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_cosine", 2, e => CosineSim(e.head, e(1))))
    ext.injectFunction(fn("graft_minhash_sig", 1, e => MinHashSig(e.head)))
    ext.injectFunction(fn("graft_simhash64", 1, e => SimHash64(e.head)))
    ext.injectFunction(fn("graft_shingles", 2,
      e => WordShingles(e.head, e(1).eval().asInstanceOf[Int])))
    ext.injectFunction(fn("graft_hplsh", 1, e => HyperplaneLsh(e.head)))
    ext.injectFunction(fn("graft_zorder", 2, e => ZOrder(e.head, e(1))))
    ext.injectFunction(fn("graft_pq_encode", 4,
      e => ProductQuant.PqEncode(e.head, e(1),
        e(2).eval().asInstanceOf[Int], e(3).eval().asInstanceOf[Int])))
    ext.injectFunction(fn("graft_pq_table", 4,
      e => ProductQuant.PqAdcTable(e.head, e(1),
        e(2).eval().asInstanceOf[Int], e(3).eval().asInstanceOf[Int])))
    ext.injectFunction(fn("graft_pq_score", 3,
      e => ProductQuant.PqScore(e.head, e(1), e(2).eval().asInstanceOf[Int])))
    ext.injectFunction(fn("graft_kmv", 2,
      e => KmvSketch(e.head, e(1).eval().asInstanceOf[Number].intValue())
        .toAggregateExpression()))
    ext.injectFunction(fn("graft_bloom_contains", 2,
      e => BloomContains(e.head, e(1))))
  }
}
