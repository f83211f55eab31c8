package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaLog, DeltaWrite}

/** Every Delta scan builds on the snapshot's file index: building a
  * read lists nothing (no Spark job, however many files), and a point
  * predicate opens one file of a range-laid-out table whichever way it
  * arrives — `read().where`, `readWhere`, or SQL over `delta_scan`. */
class DeltaFileIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-file-index-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 64 files with disjoint id ranges of 100 ids each; the snapshot is
    * cached by the time a test reads it. */
  lazy val table: String = {
    val t = Files.createTempDirectory("graft-file-index").resolve("t").toString
    DeltaWrite.write(spark.range(0, 6400).toDF("id")
      .withColumn("s", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("row"), col("id").cast("string")))
      .repartitionByRange(64, col("id")), t)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.size == 64 && snap.files.forall(_.stats.isDefined))
    t
  }

  /** Spark jobs launched while building `body` (the bus is drained
    * before and after; its waitUntilEmpty is package-private in Scala,
    * public in bytecode). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    }
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain()
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      drain()
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Files the frame's parquet scan selects, as planned. */
  private def filesSelected(df: DataFrame): Long =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.selectedPartitions.totalNumberOfFiles
    }.sum

  test("DeltaLog.read builds with no Spark job, its scan over all 64 files") {
    val t = table
    (1 to 3).foreach { rep =>
      val (df, jobs) = jobsDuring(DeltaLog.read(spark, t))
      assert(jobs == 0, s"rep $rep: building the read launched $jobs job(s)")
      assert(filesSelected(df) == 64)
    }
  }

  test("a point predicate selects one file through read().where, " +
    "readWhere and delta_scan ... WHERE, with the rows of an unpruned read") {
    val t = table
    val whereRead = DeltaLog.read(spark, t).where(col("id") === 42)
    val readWhere = DeltaLog.readWhere(spark, t, col("id") === 42)
    val sql = DuckDialect.sql(spark,
      s"SELECT id, s FROM delta_scan('$t') WHERE id = 42")
    assert(filesSelected(whereRead) == 1)
    assert(filesSelected(readWhere) == 1)
    assert(readWhere.inputFiles.length == 1)
    assert(filesSelected(sql) == 1)
    val all = DeltaLog.read(spark, t).collect()
    val want = all.filter(_.getLong(0) == 42L).map(r => (r.getLong(0), r.getString(1))).toSet
    assert(want == Set((42L, "row42")))
    Seq(whereRead, readWhere, sql).foreach { df =>
      assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSet == want)
    }
    // a range across one file boundary: two files, the same rows as a
    // filter over the full scan
    val range = DeltaLog.read(spark, t).where(col("id").between(190, 210))
    assert(filesSelected(range) == 2)
    assert(range.collect().map(_.getLong(0)).sorted.toSeq ==
      all.map(_.getLong(0)).filter(i => i >= 190 && i <= 210).sorted.toSeq)
    assert(DeltaLog.read(spark, t).count() == 6400)
  }

  test("decimal columns never skip on their footer stats, which record " +
    "unscaled integers") {
    val t = Files.createTempDirectory("graft-file-index").resolve("d").toString
    import spark.implicits._
    DeltaWrite.write(Seq((1, BigDecimal("1.50")), (2, BigDecimal("2.25"))).toDF("id", "price")
      .select(col("id"), col("price").cast("decimal(9,2)")).coalesce(1), t)
    assert(DeltaLog.snapshot(spark, t).files.forall(_.stats.isDefined))
    val hit = DeltaLog.readWhere(spark, t, col("price") === BigDecimal("1.50"))
    assert(hit.collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(DeltaLog.read(spark, t).where(col("price") > BigDecimal("2.00"))
      .collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("string bounds merged across row groups keep UTF-8 byte order, " +
    "so no matching file is skipped") {
    val t = Files.createTempDirectory("graft-file-index").resolve("u").toString
    // U+FFFD sorts before U+1F600 in UTF-8 bytes, after it in UTF-16
    val (bmp, astral) = ("�", "😀")
    spark.conf.set("parquet.block.size", "1024") // several row groups per file
    try DeltaWrite.write(spark.range(0, 400).toDF("id")
      .withColumn("s", org.apache.spark.sql.functions.when(col("id") < 200,
        org.apache.spark.sql.functions.lit(bmp))
        .otherwise(org.apache.spark.sql.functions.lit(astral)))
      .coalesce(1).sortWithinPartitions("id"), t)
    finally spark.conf.unset("parquet.block.size")
    assert(DeltaLog.snapshot(spark, t).files.size == 1)
    assert(DeltaLog.readWhere(spark, t, col("s") === astral).count() == 200)
    assert(DeltaLog.read(spark, t).where(col("s") > bmp).count() == 200)
    assert(DeltaLog.read(spark, t).where(col("s") < astral).count() == 200)
  }

  test("a file whose add.stats bounds are inverted (min > max) is kept") {
    import spark.implicits._
    val written = Files.createTempDirectory("graft-file-index").resolve("w")
    DeltaWrite.write(Seq((1, "a"), (2, "m"), (3, "z")).toDF("id", "s").coalesce(1),
      written.toString)
    // a byte copy whose commit records min "z" and max "a" for s
    val t = Files.createTempDirectory("graft-file-index").resolve("t")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val walk = Files.walk(written)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val rel = written.relativize(p).toString
      val dst = t.resolve(rel)
      Files.createDirectories(dst.getParent)
      if (rel.endsWith(".crc")) ()
      else if (rel.startsWith("_delta_log/") && rel.endsWith(".json"))
        Files.write(dst, Files.readAllLines(p).asScala.map { line =>
          val node = mapper.readTree(line)
          Option(node.get("add")).foreach { add =>
            val stats = mapper.readTree(add.get("stats").asText)
            stats.get("minValues").asInstanceOf[ObjectNode].put("s", "z")
            stats.get("maxValues").asInstanceOf[ObjectNode].put("s", "a")
            add.asInstanceOf[ObjectNode].put("stats", mapper.writeValueAsString(stats))
          }
          mapper.writeValueAsString(node)
        }.asJava)
      else Files.copy(p, dst)
    } finally walk.close()
    val stats = DeltaLog.snapshot(spark, t.toString).files.flatMap(_.stats)
    assert(stats.size == 1 && stats.head.contains("\"minValues\":{\"id\":1,\"s\":\"z\""),
      stats.mkString)
    assert(DeltaLog.readWhere(spark, t.toString, col("s") === "m")
      .select("id").as[Int].collect().toSeq == Seq(2))
    assert(DeltaLog.read(spark, t.toString).where(col("s") === "m").count() == 1)
  }
}
