package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis
import graft.streaming.DecontaminationStream

/** The streaming decontamination twin must flag exactly the batch set on
  * the same corpus AND stay stateless — the property that lets it keep
  * up with an unbounded feed at O(1) memory. */
class DecontaminationStreamSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-decontamination-stream-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming bloom flags across micro-batches equal the batch " +
    "flags, with ZERO stateful operators in the plan") {
    val all = Tables.load(spark, sf, "documents")
      .select("doc_id", "source", "text")
    // panel: the q91/q104/q168 1-in-97 eval sample
    val bench = all.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(explode(graft.functions.WordShingleHashes
        .shingleHashes(col("text"), 5)).as("h")).distinct()
    val bytes = TextAnalysis.panelBloomBytes(bench)
    val corpus = all.filter(pmod(col("doc_id"), lit(97)) =!= 0)

    // batch truth through the SAME operator (it is a plain select)
    val want = DecontaminationStream.flagged(corpus, bytes)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(want.values.exists(identity),
      "the fixture must contain at least one flagged doc")
    assert(want.values.exists(!_),
      "the fixture must contain at least one clean doc")

    // two files split by parity, one per micro-batch
    val dir = Files.createTempDirectory("graft_decon_stream")
    Seq(0, 1).foreach { p =>
      val part = dir.resolve(s"part$p")
      corpus.filter(pmod(col("doc_id"), lit(2)) === p)
        .coalesce(1).write.mode("overwrite").parquet(part.toString)
      Files.move(
        Files.list(part).filter(_.toString.endsWith(".parquet")).findFirst.get,
        dir.resolve(s"b$p.parquet"))
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = DecontaminationStream.flagged(stream, bytes)
      .writeStream.outputMode("append")
      .format("memory").queryName("decon_out").start()
    q.processAllAvailable() // legal here: stateless, no timeout re-triggers
    val got = spark.table("decon_out")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    val batches = q.recentProgress.count(_.numInputRows > 0)
    // stateless: no state store operators ever appear in progress
    val stateOps = q.recentProgress.map(_.stateOperators.length).sum
    q.stop()
    assert(batches >= 2,
      "expected the two files to arrive in separate micro-batches")
    assert(stateOps == 0,
      s"decontamination must be stateless, saw $stateOps state operators")
    assert(got == want,
      s"streaming flags diverge from batch: ${
        (got.toSet -- want.toSet) ++ (want.toSet -- got.toSet)}")
  }
}
