package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaLog, DeltaWrite}

/** Data skipping evaluates the stats filter over a local relation: the
  * optimizer folds it in the driver, so building a `readWhere` frame on
  * a cached snapshot launches no Spark job. */
class ReadWhereJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-readwhere-jobs-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("building readWhere on a table with stats launches no Spark job") {
    val t = Files.createTempDirectory("graft-delta").resolve("t").toString
    import spark.implicits._
    DeltaWrite.write((1 to 1000).map(i => (i, s"row$i")).toDF("id", "s")
      .repartitionByRange(5, col("id")), t)
    val snap = DeltaLog.snapshot(spark, t) // cached: readWhere replays nothing
    assert(snap.files.size == 5 && snap.files.forall(_.stats.isDefined))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // the bus's waitUntilEmpty is package-private in Scala, public in
    // bytecode
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drain(); jobs.set(0)
      val point = DeltaLog.readWhere(spark, t, col("id") === 42)
      drain()
      assert(jobs.get == 0)
      assert(point.inputFiles.length == 1)
      assert(point.collect().map(_.getInt(0)).toSeq == Seq(42))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
