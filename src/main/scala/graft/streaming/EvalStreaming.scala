package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.EvalMetrics

/** An embedding row as fed by a streaming source (the ingest-side twin
  * of the `embeddings` table schema). */
final case class EmbRow(vec_id: Long, embedding: Seq[Float], label: Int)

/** Streaming twins of the q137/q138 eval metrics — the live
  * metric-monitoring shape: scores stream in, the EXACT integer state
  * the batch queries aggregate (fixed-point score levels / calibration
  * bins) accumulates as a streaming aggregation, and the metric is read
  * off the running table at any time. Because the state is the same
  * integers the batch computes (the 2⁻²² level grid and 2⁻²⁶ confidence
  * grid), the streamed result after N batches is BIT-EQUAL to the batch
  * query over the same rows — EvalStreamingSpec pins that.
  *
  * Scale: both are plain streaming hash aggregations keyed on bounded
  * domains (≤2²³+1 levels, 10 bins) — state is metadata-scale no matter
  * the stream volume, the property that lets a 100 TB backfill and a
  * live tail share one query. */
object EvalStreaming {

  /** Running ROC level table (lvl, p, n) — q137's fine frame as a
    * streaming aggregation (use Complete output mode; the table is the
    * state). */
  def scoreLevels(emb: DataFrame): DataFrame =
    emb.select((col("label") === 0).cast("long").as("pos"),
        floor((EvalMetrics.scoreCol + 1.0d) * lit(EvalMetrics.LevelScale))
          .cast("long").as("lvl"))
      .groupBy("lvl")
      .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("n"))

  /** Running calibration bins (bin, n, np, sfp) — q138's integer state
    * as a streaming aggregation. */
  def calibrationBins(emb: DataFrame): DataFrame = {
    val prob = (EvalMetrics.scoreCol + 1.0d) / 2.0d
    emb.select((col("label") === 0).cast("long").as("pos"),
        least(floor(prob * 10.0d), lit(9.0d)).cast("long").as("bin"),
        floor(prob * lit(EvalMetrics.ConfScale)).cast("long").as("cfp"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("np"), sum("cfp").as("sfp"))
  }

  /** AUC read-off from a level table snapshot — the same Mann-Whitney
    * fold q137 runs distributed, here over the (bounded) running table.
    * Returns (n_pos, n_neg, auc). */
  def aucOf(levels: Seq[(Long, Long, Long)]): (Long, Long, Double) = {
    val sorted = levels.sortBy(_._1)
    // u2 in BigInt — the streaming mirror of batch q137's DECIMAL(38,0)
    // accumulator (a Long wraps at ~6e9 total rows); BigInt.toDouble
    // rounds to nearest like the Decimal→double cast, so bit-equality
    // with the batch AUC survives the widening
    var below = 0L; var u2 = BigInt(0); var np = 0L; var nn = 0L
    sorted.foreach { case (_, p, n) =>
      u2 += BigInt(p) * (2L * below + n)
      below += n; np += p; nn += n
    }
    (np, nn, u2.toDouble / (2.0d * np * nn))
  }
}
