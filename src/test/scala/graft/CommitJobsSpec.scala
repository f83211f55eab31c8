package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaDml, DeltaDv, DeltaLog, DeltaMaintenance, DeltaWrite}

/** Pins the Spark jobs each Delta commit launches: a commit finds its
  * files and its counts in one pass, so copy-on-write DELETE/UPDATE run
  * the counting job plus the write, merge-on-read DELETE/UPDATE the
  * vectorizing job plus (UPDATE) the write, MERGE one aggregate plus its
  * two writes, an unpartitioned OPTIMIZE only its write, and checkpoints
  * none (they are written from the driver). Every count holds with
  * adaptive execution on and off. */
class CommitJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-commit-jobs")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val jobs = new AtomicInteger

  // the bus's waitUntilEmpty is package-private in Scala, public in
  // bytecode
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(10000L))
    ()
  }

  /** Jobs `op` launches, with adaptive execution set to `adaptive` for
    * the measurement and restored after it. */
  private def jobsOf[A](adaptive: Boolean)(op: => A): (Int, A) = {
    val adaptive0 = spark.conf.get("spark.sql.adaptive.enabled")
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.conf.set("spark.sql.adaptive.enabled", adaptive.toString)
    spark.sparkContext.addSparkListener(listener)
    try {
      drain(); jobs.set(0)
      val out = op
      drain()
      (jobs.get, out)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", adaptive0)
    }
  }

  /** A four-file (o, v) table of 200 rows; deletion vectors on `dv`. */
  private def table(dv: Boolean): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-commit-jobs").resolve("t").toString
    DeltaWrite.write((0 until 200).map(i => (i.toLong, i * 1.5)).toDF("o", "v")
      .repartition(4, col("o")), t)
    if (dv) DeltaMaintenance.setTblProperties(spark, t, Map(DeltaDv.Property -> "true"))
    t
  }

  private val modes = Seq(true, false)

  test("copy-on-write DELETE and UPDATE: one counting job plus the write") {
    for (adaptive <- modes) {
      val t = table(dv = false)
      val (dj, d) = jobsOf(adaptive)(DeltaDml.delete(spark, t, col("o").between(10, 30)))
      assert(d.affectedRows == 21 && d.rewrittenFiles > 0)
      assert(dj == 2, s"CoW DELETE ran $dj jobs (adaptive=$adaptive)")
      val (uj, u) = jobsOf(adaptive)(DeltaDml.update(spark, t,
        col("o").between(50, 80), Seq("v" -> lit(0.0))))
      assert(u.affectedRows == 31)
      assert(uj == 2, s"CoW UPDATE ran $uj jobs (adaptive=$adaptive)")
    }
  }

  test("deletion-vector DELETE and UPDATE: the vectorizing job plus the " +
    "write, one broadcast more once the scanned files carry vectors") {
    for (adaptive <- modes) {
      val t = table(dv = true)
      val (dj, d) = jobsOf(adaptive)(DeltaDml.delete(spark, t, col("o").between(10, 30)))
      assert(d.affectedRows == 21)
      assert(dj <= 2, s"first DV DELETE ran $dj jobs (adaptive=$adaptive)")
      // every file now carries a vector: the scan adds one broadcast
      DeltaDml.delete(spark, t, col("o") % 50 === 0)
      val (uj, u) = jobsOf(adaptive)(DeltaDml.update(spark, t,
        col("o").between(60, 90), Seq("v" -> lit(0.0))))
      assert(u.affectedRows == 31)
      assert(uj <= 2, s"DV UPDATE over vectored files ran $uj jobs (adaptive=$adaptive)")
      val (d2j, d2) = jobsOf(adaptive)(DeltaDml.delete(spark, t, col("o").between(120, 125)))
      assert(d2.affectedRows == 6)
      assert(d2j <= 2, s"DV DELETE over vectored files ran $d2j jobs (adaptive=$adaptive)")
    }
  }

  test("MERGE: one aggregate, the rewrite and the insert write — at most 8 jobs") {
    import spark.implicits._
    for (adaptive <- modes) {
      val t = table(dv = false)
      val src = ((0L until 30L).map(o => (o * 5, -1.0)) ++
        (1000L until 1010L).map(o => (o, 2.0))).toDF("o", "v")
      val (mj, m) = jobsOf(adaptive)(DeltaDml.merge(spark, t, src,
        col("t.o") === col("s.o"), matchedUpdate = Seq("v" -> col("s.v")),
        insert = true))
      assert(m.updatedRows == 30 && m.insertedRows == 10 && m.deletedRows == 0)
      assert(mj <= 8, s"MERGE ran $mj jobs (adaptive=$adaptive)")
    }
  }

  test("unpartitioned OPTIMIZE runs one job; checkpoints run none") {
    import spark.implicits._
    for (adaptive <- modes) {
      val t = table(dv = false)
      val (oj, (n, _)) = jobsOf(adaptive)(
        DeltaMaintenance.compact(spark, t, smallFileBytes = 1L << 30))
      assert(n == 4)
      assert(oj == 1, s"OPTIMIZE ran $oj jobs (adaptive=$adaptive)")
      DeltaWrite.write(Seq((500L, 1.0)).toDF("o", "v"), t, SaveMode.Append)
      val (c1, _) = jobsOf(adaptive)(DeltaWrite.checkpoint(spark, t))
      val (c2, _) = jobsOf(adaptive)(DeltaWrite.checkpoint(spark, t, parts = 3))
      assert(c1 == 0 && c2 == 0, s"checkpoint ran $c1 / $c2 jobs (adaptive=$adaptive)")
      DeltaWrite.checkpointV2(spark, t, sidecars = 2) // protocol upgrade commit
      DeltaWrite.write(Seq((501L, 1.0)).toDF("o", "v"), t, SaveMode.Append)
      // with a prior manifest: its sidecars are read for reuse
      val (c3, _) = jobsOf(adaptive)(DeltaWrite.checkpointV2(spark, t, sidecars = 2))
      assert(c3 == 0, s"checkpointV2 ran $c3 jobs (adaptive=$adaptive)")
      assert(DeltaLog.read(spark, t).count() == 202)
    }
  }
}
