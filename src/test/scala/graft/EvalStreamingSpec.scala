package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EmbRow, EvalStreaming}

/** The streaming eval metrics must be BIT-EQUAL to their batch twins
  * (q137/q138) after consuming the same rows — the state is the same
  * integer grid, so equality is exact, not approximate. */
class EvalStreamingSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-eval-streaming-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def embBatches(nBatches: Int): Seq[Seq[EmbRow]] = {
    val rows = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .map(r => EmbRow(r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
      .sortBy(_.vec_id)
    rows.grouped((rows.length + nBatches - 1) / nBatches).map(_.toSeq).toSeq
  }

  test("streaming AUC level table after 3 micro-batches is bit-equal to " +
    "batch q137") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[EmbRow]
    val q = EvalStreaming.scoreLevels(in.toDF()).writeStream
      .outputMode("complete").format("memory").queryName("auc_levels").start()
    embBatches(3).foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    val levels = spark.table("auc_levels").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val (np, nn, auc) = EvalStreaming.aucOf(levels)

    val batch = SparkEntry.queries("q137_auc")(spark, sf).head()
    assert(np == batch.getLong(0) && nn == batch.getLong(1))
    assert(auc == batch.getDouble(2), "AUC must be bit-equal, not close")
  }

  test("streaming calibration bins after 3 micro-batches are bit-equal " +
    "to batch q138") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[EmbRow]
    val q = EvalStreaming.calibrationBins(in.toDF()).writeStream
      .outputMode("complete").format("memory").queryName("cal_bins").start()
    embBatches(3).foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    val stream = spark.table("cal_bins").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

    val batch = SparkEntry.queries("q138_calibration")(spark, sf).collect()
    assert(stream.keySet == batch.map(_.getLong(0)).toSet)
    batch.foreach { r =>
      val (n, np) = (r.getLong(1), r.getLong(2))
      val (sn, snp, sfp) = stream(r.getLong(0))
      assert(sn == n && snp == np)
      // conf re-derived from the streamed fixed-point sum must equal the
      // batch double exactly (same operand chain)
      val conf = sfp.toDouble / (n.toDouble * 67108864.0d)
      assert(conf == r.getDouble(4), "conf must be bit-equal")
    }
  }
}
