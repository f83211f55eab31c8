package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming unigram-surprise quality scoring against a STATIC model —
  * the unbounded-feed twin of q179 and, with [[DecontaminationStream]],
  * the second stateless member of the streaming family: TRAIN runs once
  * batch-side (the top-V rows of the vocabulary aggregate — K-row
  * bounded by construction, r12), the model embeds in the plan as a
  * binary literal
  * ([[graft.functions.VocabSurprise]]), and APPLY is a map-only pass —
  * no state store, no watermark, no shuffle; every micro-batch scores
  * at O(1) executor memory and the plan carries zero stateful
  * operators (the spec asserts this).
  *
  * This is exactly how a quality filter deploys in production: the
  * model is versioned batch output; the scorer is a pure function of
  * (document, model). Out-of-vocabulary words — impossible in q179's
  * self-trained batch, routine on a live feed — score the count-1
  * maximum, so unseen text reads as maximally surprising rather than
  * erroring (documented in the expression).
  */
object SurpriseScoreStream {

  /** q179's tokenization, shared verbatim. */
  private def words(c: org.apache.spark.sql.Column) =
    regexp_extract_all(lower(c), lit("\\p{L}+"), lit(0))

  /** Model bytes from the corpus a batch session trained on: the top-V
    * rows of the (word, count) vocabulary aggregate (V =
    * [[graft.operators.TextAnalysis.SurpriseVocabCap]] — BOUNDED BY
    * CONSTRUCTION, r12; a raw web-corpus vocabulary runs 10⁷–10⁹
    * entries and would break both this collect and the plan literal)
    * plus the FULL total token count. Words outside the top-V take the
    * expression's OOV path — the count-1 maximum surprise — exactly as
    * q179's capped LEFT JOIN does, so batch and stream stay twins. The
    * aggregate itself stays distributed (persist spans the two bounded
    * reads: the V-row TakeOrdered and the 1-row total). */
  def modelBytes(docs: DataFrame): Array[Byte] = {
    val vocab = docs
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .persist()
    try {
      val top = vocab.orderBy(col("c").desc, col("w"))
        .limit(graft.operators.TextAnalysis.SurpriseVocabCap)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val totRow = vocab.agg(sum("c").cast("long").as("n")).head()
      val n = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
      graft.functions.VocabSurprise.serialize(top, n)
    } finally vocab.unpersist()
  }

  /** (doc_id, text, …) rows — streaming OR batch (the same select works
    * on both; twin equality leans on it) → (doc_id, n_tok, surprise,
    * mean_surprise). Docs with no tokens score (0, 0, 0.0). */
  def scored(docs: DataFrame, model: Array[Byte]): DataFrame = {
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tok"),
        graft.functions.VocabSurprise
          .vocabSurprise(col("ws"), lit(model)).as("surprise"))
      .select(col("doc_id"), col("n_tok"), col("surprise"),
        when(col("n_tok") === 0L, lit(0.0))
          .otherwise(col("surprise").cast("double") /
            col("n_tok").cast("double")).as("mean_surprise"))
  }
}
