package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaDml, DeltaDv, DeltaLog, DeltaMaintenance, DeltaWrite}

/** Partition values come from `add.partitionValues`, never from the
  * file layout: a partitioned table whose files do not sit in hive
  * `p=k/` directories (writers may lay files out this way, e.g. under
  * column mapping) reads, skips and checkpoints its partition column
  * from the log. */
class DeltaPartitionValuesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-partition-values-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmpDir(): JPath = Files.createTempDirectory("graft-pvalues")

  /** A copy of table `from` at `to`: `p=k/` directories become `dir_k/`,
    * the log's add and remove paths follow them, `add.partitionValues`
    * stays as written, and the version checksums are dropped. */
  private def unhive(from: JPath, to: JPath): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val rel = from.relativize(p).toString
      if (!rel.endsWith(".crc")) {
        val dst = to.resolve(rel.replaceAll("""^p=(\d+)/""", "dir_$1/"))
        Files.createDirectories(dst.getParent)
        if (rel.startsWith("_delta_log/") && rel.endsWith(".json")) {
          val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          Files.write(dst, text.replaceAll(""""path":"p=(\d+)/""", "\"path\":\"dir_$1/")
            .getBytes(StandardCharsets.UTF_8))
        } else Files.copy(p, dst)
      }
    } finally walk.close()
  }

  private def copyTree(from: JPath, to: JPath): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      Files.createDirectories(dst.getParent)
      Files.copy(p, dst)
    } finally walk.close()
  }

  test("non-hive file paths: read, readWhere and a checkpoint's cold " +
    "replay take the partition column from add.partitionValues") {
    val hive = tmpDir().resolve("t")
    val rows = (0 until 30).map(i => (i, i % 3))
    DeltaWrite.write(rows.toDF("id", "p"), hive.toString, partitionBy = Seq("p"))
    val t = tmpDir().resolve("t")
    unhive(hive, t)
    val snap = DeltaLog.snapshot(spark, t.toString)
    assert(snap.files.nonEmpty && snap.files.forall(a =>
      a.path.startsWith("dir_") && a.partitionValues.keySet == Set("p")),
      "fixture: non-hive paths with intact partitionValues")

    val back = DeltaLog.read(spark, t.toString).as[(Int, Int)].collect()
    assert(back.sorted.toSeq == rows.sorted, "every row keeps its partition value")

    val one = DeltaLog.readWhere(spark, t.toString, col("p") === 1)
    assert(one.as[(Int, Int)].collect().sorted.toSeq == rows.filter(_._2 == 1).sorted)
    assert(one.inputFiles.nonEmpty && one.inputFiles.forall(_.contains("/dir_1/")),
      one.inputFiles.mkString(", "))

    DeltaWrite.checkpoint(spark, t.toString)
    val copy = tmpDir().resolve("t")
    copyTree(t, copy)
    val before = DeltaLog.coldReplays.get
    val cold = DeltaLog.snapshot(spark, copy.toString)
    assert(DeltaLog.coldReplays.get == before + 1, "the copy replays cold")
    assert(Files.exists(Paths.get(copy.toString, "_delta_log",
      f"${cold.version}%020d.checkpoint.parquet")))
    assert(cold.files.map(a => a.path -> a.partitionValues).toSet ==
      snap.files.map(a => a.path -> a.partitionValues).toSet)
    assert(DeltaLog.read(spark, copy.toString).as[(Int, Int)].collect().sorted.toSeq ==
      rows.sorted)
  }

  /** 30 rows (id, p) with p = id % 3, except p is null where id % 5 = 0,
    * written partitioned on p. */
  private def withNulls(): (String, Seq[(Int, Option[Int])]) = {
    val t = tmpDir().resolve("t").toString
    val rows = (0 until 30).map(i => (i, if (i % 5 == 0) None else Some(i % 3)))
    DeltaWrite.write(rows.toDF("id", "p"), t, partitionBy = Seq("p"))
    (t, rows)
  }

  test("partition predicates the stats cannot model still filter rows " +
    "exactly: <>, NOT, arithmetic, LIKE over a cast, null partitions") {
    val (t, rows) = withNulls()
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.select("id").as[Int].collect().sorted.toSeq
    def want(f: Option[Int] => Boolean): Seq[Int] = rows.filter(r => f(r._2)).map(_._1).sorted
    val cases: Seq[(org.apache.spark.sql.Column, Option[Int] => Boolean)] = Seq(
      (col("p") =!= 1, _.exists(_ != 1)),
      (!(col("p") === 1), _.exists(_ != 1)),
      (col("p") === 1, _.contains(1)),
      (col("p").isNotNull, _.isDefined),
      (col("p").isNull, _.isEmpty),
      (col("p") % 2 === 0, _.exists(_ % 2 == 0)),
      (col("p").cast("string").like("2%"), _.contains(2)))
    cases.foreach { case (c, f) =>
      assert(ids(DeltaLog.read(spark, t).where(c)) == want(f), s"read().where($c)")
      assert(ids(DeltaLog.readWhere(spark, t, c)) == want(f), s"readWhere($c)")
    }
  }

  test("DELETE WHERE p <> 1 removes exactly the other partitions, " +
    "copy-on-write and with deletion vectors") {
    Seq(false, true).foreach { dv =>
      val (t, rows) = withNulls()
      if (dv) DeltaMaintenance.setTblProperties(spark, t, Map(DeltaDv.Property -> "true"))
      val res = DeltaDml.delete(spark, t, col("p") =!= 1)
      val hit = rows.count(_._2.exists(_ != 1))
      assert(res.affectedRows == hit, s"dv=$dv")
      assert(DeltaLog.read(spark, t).select("id").as[Int].collect().sorted.toSeq ==
        rows.filterNot(_._2.exists(_ != 1)).map(_._1).sorted, s"dv=$dv")
    }
  }
}
