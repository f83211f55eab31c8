package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming all-but-the-top scoring against a STATIC PC1 model — the
  * unbounded-feed twin of q183 and the third stateless member of the
  * streaming family (with [[DecontaminationStream]] and
  * [[SurpriseScoreStream]]): TRAIN runs once batch-side (q182's grid
  * moments + BigInt power iteration, K×d-class model metadata), the
  * eigenvector embeds in the plan as a literal
  * ([[graft.functions.GridResidual]]'s model argument), and APPLY is a
  * map-only pass — no state store, no watermark, no shuffle; every
  * micro-batch scores at O(1) executor memory and the plan carries
  * zero stateful operators (the spec asserts this).
  *
  * This is how embedding preprocessing deploys in production: the
  * dominant direction is versioned batch output retrained on a cadence;
  * arriving vectors are projected/scored in-flight before indexing.
  * Integer-grid arithmetic makes the streamed scores IDENTICAL to the
  * batch operator's — not approximately equal, which is what lets the
  * spec assert row-for-row equality across micro-batch boundaries.
  */
object AbttScoreStream {

  /** The PC1 grid vector from the corpus a batch session trained on
    * (q182's model — bounded collect + driver iteration). Empty when
    * the training table is empty: scoring then degrades to dot = 0,
    * residual = the vector itself, matching q183's vv = 0 rule. */
  def model(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] =
    graft.operators.Similarity.gridPc1Model(spark, dir)
      .map(_._4.map(_.bigInteger.longValueExact()).toSeq)
      .getOrElse(Seq.empty)

  /** (vec_id, embedding, …) rows — streaming OR batch (the same select
    * works on both; twin equality leans on it) → (vec_id, dot_grid,
    * res_norm2), q183's columns without its output sort (a stream has
    * no total order). */
  def scored(vecs: DataFrame, model: Seq[Long]): DataFrame = {
    vecs
      .select(col("vec_id"), graft.functions.GridResidual
        .gridResidual(col("embedding"), model).as("t"))
      .select(col("vec_id"),
        col("t").getItem(0).as("dot_grid"),
        col("t").getItem(1).as("res_norm2"))
  }
}
