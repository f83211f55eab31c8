package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming decontamination against a STATIC panel Bloom filter — the
  * unbounded-feed twin of q168 (batch) and the stateless member of the
  * streaming family: the panel's sketch is built once batch-side
  * ([[graft.operators.TextAnalysis.panelBloomBytes]]) and embedded as a
  * literal, so every micro-batch is a map-only pass — NO state store,
  * no watermark, no shuffle; an unbounded document feed is flagged at
  * O(1) memory per executor and the query plan carries zero stateful
  * operators (the spec asserts this).
  *
  * Contract inherited from the filter: no false negatives — every
  * document sharing a 5-gram with the panel is flagged; false positives
  * are bounded by the build fpp. Panel updates are a NEW query with new
  * bytes (a Bloom filter cannot delete), matching how eval sets
  * version in practice.
  */
object DecontaminationStream {

  /** (doc_id, source, text) rows — streaming OR batch (the same select
    * works on both, which is what the spec's twin-equality leans on) →
    * (doc_id, source, flagged). */
  def flagged(docs: DataFrame, bloomBytes: Array[Byte]): DataFrame = {
    docs.select(col("doc_id"), col("source"),
      exists(
        graft.functions.WordShingleHashes.shingleHashes(col("text"), 5),
        h => graft.functions.BloomContains.bloomContains(h, lit(bloomBytes)))
        .as("flagged"))
  }
}
