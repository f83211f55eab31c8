package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaDml, DeltaDv, DeltaLog, DeltaMaintenance, DeltaWrite, RoaringDv}

/** DML over files that several tasks read: data files hold many row
  * groups and `spark.sql.files.maxPartitionBytes` is small, so one file
  * splits across tasks and its matched rows (and deleted positions)
  * arrive on the driver in several pieces. Seeded DELETE / UPDATE /
  * MERGE sequences on a copy-on-write and a deletion-vector table must
  * match a plain-collection model: result counts, table contents, and
  * every vector's cardinality equal to its bitmap's distinct positions.
  * The driver-written checkpoints must then bootstrap a cold replay of
  * a byte copy, and read back with `spark.read.parquet`. */
class SplitFileDmlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-split-file-dml")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // ~100-row row groups, ~one row group per scan split
    .config("parquet.block.size", "1024")
    .config("spark.sql.files.maxPartitionBytes", "2048")
    .config("spark.sql.files.openCostInBytes", "0")
    .getOrCreate()

  private def rows(t: String): Map[Long, Double] =
    DeltaLog.read(spark, t).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Every vector's cardinality is its bitmap's distinct positions. */
  private def checkVectors(t: String): Unit =
    DeltaLog.snapshot(spark, t).files.flatMap(_.dv).foreach { d =>
      val ps =
        if (d.inline)
          RoaringDv.deserialize(RoaringDv.z85DecodeTo(d.raw, d.sizeInBytes.toInt))
        else RoaringDv.unframe(Files.readAllBytes(JPath.of(t, d.path)),
          d.offset, d.sizeInBytes)
      assert(ps.distinct.length.toLong == d.cardinality,
        s"descriptor cardinality ${d.cardinality} vs ${ps.distinct.length} positions")
    }

  private def copyTree(from: JPath, to: JPath): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  private def run(dv: Boolean, seed: Long): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val t = Files.createTempDirectory("graft-split-dml").resolve("t").toString
    var model = (0L until 3000L).map(i => i -> i * 0.5).toMap
    DeltaWrite.write(model.toSeq.sortBy(_._1).toDF("id", "v").repartition(3), t)
    if (dv) DeltaMaintenance.setTblProperties(spark, t, Map(DeltaDv.Property -> "true"))
    val snap0 = DeltaLog.snapshot(spark, t)
    assert(DeltaLog.read(spark, t).rdd.getNumPartitions > 2 * snap0.files.size,
      "files must split across scan tasks")
    var nextId = 3000L

    (1 to 10).foreach { _ =>
      val ids = model.keys.toIndexedSeq.sorted
      val lo = ids(rnd.nextInt(ids.size))
      val hi = lo + 50 + rnd.nextInt(700)
      def inRange(id: Long) = id >= lo && id <= hi
      rnd.nextInt(3) match {
        case 0 =>
          val res = DeltaDml.delete(spark, t, col("id").between(lo, hi))
          assert(res.affectedRows == model.keys.count(inRange))
          model = model.filter { case (id, _) => !inRange(id) }
        case 1 =>
          val res = DeltaDml.update(spark, t, col("id").between(lo, hi),
            Seq("v" -> (col("v") + 100.0)))
          assert(res.affectedRows == model.keys.count(inRange))
          model = model.map { case (id, v) => id -> (if (inRange(id)) v + 100.0 else v) }
        case _ =>
          // matched source rows with v < 0 delete, the rest update;
          // unmatched source rows insert
          val hitIds = rnd.shuffle(ids).take(1 + rnd.nextInt(400))
          val src = hitIds.map(id => id -> (if (rnd.nextInt(4) == 0) -1.0 else id * 3.0)) ++
            (nextId until nextId + 1 + rnd.nextInt(30)).map(id => id -> id * 2.0)
          nextId += 40
          val res = DeltaDml.merge(spark, t, src.toDF("id", "v"),
            col("t.id") === col("s.id"),
            matchedUpdate = Seq("v" -> col("s.v")),
            matchedDelete = Some(col("s.v") < 0), insert = true)
          val (matched, fresh) = src.partition { case (id, _) => model.contains(id) }
          val (del, upd) = matched.partition(_._2 < 0)
          assert((res.deletedRows, res.updatedRows, res.insertedRows) ==
            ((del.size.toLong, upd.size.toLong, fresh.size.toLong)))
          model = model -- del.map(_._1) ++ upd ++ fresh
      }
      assert(rows(t) == model)
      if (dv) checkVectors(t)
    }

    // driver-written checkpoints bootstrap a cold replay of a byte copy
    if (dv) DeltaWrite.checkpointV2(spark, t, sidecars = 2)
    else DeltaWrite.checkpoint(spark, t, parts = 2)
    val copy = Files.createTempDirectory("graft-split-dml-copy").resolve("t")
    copyTree(JPath.of(t), copy)
    val cold = DeltaLog.snapshot(spark, copy.toString)
    val warm = DeltaLog.snapshot(spark, t)
    assert(cold.version == warm.version)
    assert(cold.files.sortBy(_.path) == warm.files.sortBy(_.path))
    assert(rows(copy.toString) == model)
    // ... and read back through Spark's parquet reader
    val addSchema = StructType(Seq(StructField("add", StructType(Seq(
      StructField("path", StringType), StructField("size", LongType))))))
    val ckpts = Files.list(copy.resolve("_delta_log")).toArray.map(_.toString)
      .filter(n => n.contains(".checkpoint") && n.endsWith(".parquet"))
    val adds = spark.read.schema(addSchema).parquet(ckpts.toIndexedSeq: _*)
      .where(col("add").isNotNull).select("add.path", "add.size")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    val sidecars = Option(copy.resolve("_delta_log/_sidecars").toFile.listFiles)
      .toSeq.flatten.map(_.toString).filter(_.endsWith(".parquet"))
    val sidecarAdds =
      if (sidecars.isEmpty) Set.empty[(String, Long)]
      else spark.read.schema(addSchema).parquet(sidecars: _*)
        .where(col("add").isNotNull).select("add.path", "add.size")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(adds ++ sidecarAdds == warm.files.map(a => a.path -> a.size).toSet)
  }

  test("a MERGE clause condition that evaluates to NULL acts on nothing: " +
    "the row is kept, not silently dropped") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-split-dml").resolve("t").toString
    // one file, so the rewrite carries all three rows
    DeltaWrite.write(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v").coalesce(1), t)
    val src = Seq[(Long, Option[Double])]((1L, None), (2L, Some(-1.0)), (3L, Some(9.0)))
      .toDF("id", "v")
    val res = DeltaDml.merge(spark, t, src, col("t.id") === col("s.id"),
      matchedUpdate = Seq("v" -> col("s.v")),
      matchedUpdateCond = Some(col("s.v") > 0),
      matchedDelete = Some(col("s.v") < 0))
    assert((res.deletedRows, res.updatedRows) == ((1L, 1L)))
    assert(rows(t) == Map(1L -> 1.0, 3L -> 9.0))
  }

  test("copy-on-write DELETE/UPDATE/MERGE over split files match the model") {
    run(dv = false, seed = 20261019L)
  }

  test("deletion-vector DELETE/UPDATE/MERGE over split files match the " +
    "model; every vector's cardinality is its bitmap's") {
    run(dv = true, seed = 20261020L)
  }
}
