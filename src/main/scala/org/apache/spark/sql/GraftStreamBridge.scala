package org.apache.spark.sql

import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Bridge to the `private[sql]` pieces a V1 streaming Source needs (same
  * pattern as [[GraftColumnBridge]]): the micro-batch DataFrame a
  * `Source.getBatch` returns must carry `isStreaming = true` on its
  * logical plan (MicroBatchExecution splices it into the continuous
  * query plan), and the constructors for that — `LogicalRelation(_,
  * isStreaming)` / `internalCreateDataFrame` — are sql-package-private.
  * This is exactly how Spark's own FileStreamSource builds its batches.
  */
object GraftStreamBridge {

  /** The inverse direction, for a V1 streaming SINK: `Sink.addBatch`
    * receives a DataFrame whose logical plan is flagged streaming, which
    * the normal batch writers refuse. Re-wrap the micro-batch's physical
    * rows as a plain batch frame (what Spark's own FileStreamSink
    * effectively does before handing off to the file format). */
  def batchDataFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val cs = ds.sparkSession
    cs.internalCreateDataFrame(ds.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** A computed batch DataFrame re-flagged streaming, for sources whose
    * micro-batch is more than a file scan (the CDF feed unions per-commit
    * scans with literal columns and may fall back to a multiset diff).
    * The plan boundary is the batch plan's physical rows — downstream
    * stream operators can't push filters into it, which matches the
    * bounded-by-changed-rows shape of a change feed batch. */
  def streamingFromBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val cs = ds.sparkSession
    cs.internalCreateDataFrame(ds.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** A batch relation (a Delta table's file scan) as a DataFrame flagged
    * streaming: the plan of a streaming source's micro-batch. */
  def streamingRelation(spark: SparkSession,
      relation: org.apache.spark.sql.sources.BaseRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LogicalRelation(relation, isStreaming = true))
}
