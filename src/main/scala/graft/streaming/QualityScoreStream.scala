package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming quality classification against a STATIC trained model —
  * the unbounded-feed twin of q189 and the twelfth member of the
  * streaming family: TRAIN runs once batch-side (q188's one moment pass
  * + driver GD — the weights are [[graft.functions.HashedBow.Dims]]
  * longs, K-row bounded by construction), the model embeds in the plan
  * as a literal ([[graft.functions.HashedBowScore]]), and APPLY is a
  * map-only pass — no state store, no watermark, no shuffle; every
  * micro-batch scores at O(1) executor memory and the plan carries zero
  * stateful operators (the spec asserts this).
  *
  * This is exactly how a FineWeb/DCLM-style quality classifier deploys:
  * the model is versioned batch output; the scorer is a pure function
  * of (document, model). The rule label rides along so downstream
  * monitoring can track live agreement drift — on a feed the rule and
  * the classifier disagree more as the distribution moves, which is the
  * retraining signal.
  */
object QualityScoreStream {

  /** Trained grid weights from the corpus a batch session trained on —
    * delegates to q188's trainer (ONE distributed moment pass, bounded
    * collect, driver-side integer heavy-ball GD). */
  def modelWeights(docs: DataFrame): Seq[Long] =
    TextAnalysis.bowModelOf(docs).map(_._3)

  /** (doc_id, text, …) rows — streaming OR batch (the same select works
    * on both; twin equality leans on it) → q189's columns
    * (doc_id, score_grid, pred, label, correct), unordered. */
  def scored(docs: DataFrame, weights: Seq[Long]): DataFrame = {
    val t = coalesce(lower(col("text")), lit(""))
    docs
      .select(col("doc_id"),
        graft.functions.HashedBowScore.bowScore(t, weights)
          .as("score_grid"),
        regexp_count(t, lit("\\p{L}+")).cast("long").as("nt"),
        regexp_count(t, lit(TextAnalysis.StopRe)).cast("long").as("ns"))
      .select(col("doc_id"), col("score_grid"),
        when(col("nt") > 0 &&
          col("ns") * lit(TextAnalysis.BowStopMul) >= col("nt"), 1L)
          .otherwise(0L).as("label"))
      .withColumn("pred",
        (col("score_grid") >= lit(TextAnalysis.BowGrid / 2)).cast("long"))
      .withColumn("correct", (col("pred") === col("label")).cast("long"))
      .select("doc_id", "score_grid", "pred", "label", "correct")
  }
}
