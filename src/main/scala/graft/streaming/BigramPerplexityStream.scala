package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming bigram-LM perplexity scoring against a STATIC model — the
  * unbounded-feed twin of q195 and the conditional sibling of
  * [[SurpriseScoreStream]]: TRAIN runs once batch-side (top-V vocab +
  * ≤ (V+1)² class-transition counts — bounded by the SurpriseVocabCap
  * construction), the model embeds in the plan as a binary literal
  * ([[graft.functions.BigramLmBits]]), and APPLY is a map-only pass:
  * adjacent-pair bits compute IN-ROW over each document's token array —
  * where the batch query needs a lag() window (its rows are exploded
  * tokens), a streaming document arrives whole, so the scorer needs no
  * window, no state store, no watermark, no shuffle; every micro-batch
  * scores at O(model) executor memory and the plan carries zero
  * stateful operators (the spec asserts this).
  *
  * This is CCNet's perplexity-bucket filter as it deploys: the LM is
  * versioned batch output, the scorer a pure function of (document,
  * model). Words unseen in training fold into '#unk' and transitions
  * unseen take the add-1 smoothing floor — a live feed scores instead
  * of erroring (documented in the expression). */
object BigramPerplexityStream {

  /** q195's tokenization, shared verbatim. */
  private def words(c: org.apache.spark.sql.Column) =
    regexp_extract_all(lower(c), lit("\\p{L}+"), lit(0))

  /** Model bytes from the corpus a batch session trained on — the
    * SAME training code path as q195 ([[graft.operators.TextAnalysis
    * .bigramLmModel]]), serialized for the in-row scorer. */
  def modelBytes(docs: DataFrame): Array[Byte] = {
    val (topV, rows) = graft.operators.TextAnalysis.bigramLmModel(docs)
    graft.functions.BigramLmBits.serialize(topV, rows)
  }

  /** (doc_id, text, …) rows — streaming OR batch (the same select works
    * on both; twin equality leans on it) → (doc_id, n_pairs, bits,
    * mean_bits). Docs with < 2 tokens score (0, 0, 0.0). */
  def scored(docs: DataFrame, model: Array[Byte]): DataFrame = {
    docs
      .select(col("doc_id"),
        graft.functions.BigramLmBits
          .bigramLmBits(words(col("text")), lit(model)).as("pb"))
      .select(col("doc_id"),
        coalesce(col("pb").getItem(0), lit(0L)).as("n_pairs"),
        coalesce(col("pb").getItem(1), lit(0L)).as("bits"))
      .select(col("doc_id"), col("n_pairs"), col("bits"),
        when(col("n_pairs") === 0L, lit(0.0))
          .otherwise(col("bits").cast("double") /
            col("n_pairs").cast("double")).as("mean_bits"))
  }
}
