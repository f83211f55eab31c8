package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaDml, DeltaDv, DeltaLog, DeltaMaintenance, DeltaWrite, RowTracking}

/** Incremental snapshots: `DeltaLog.snapshot` applies only the commits
  * after the newest snapshot it replayed for a log. Every snapshot it
  * returns must equal a cold replay of the same version, which these
  * tests take from a byte copy of the `_delta_log` directory (a
  * different log, so nothing cached applies to it). */
class DeltaSnapshotCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-snapshot-cache")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-snapcache").resolve("t").toString

  /** A second path naming the same table directory: writes through it
    * stand in for another writer, because the cache keys on the path
    * and never sees them. */
  private def aliasOf(t: String): String = {
    val link = Files.createTempDirectory("graft-snapcache-alias").resolve("t")
    Files.createSymbolicLink(link, Paths.get(t))
    link.toString
  }

  private def copyTree(from: JPath, to: JPath): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally walk.close()
  }

  /** Cold replay of `t` at `version` (default latest), from a copy of
    * its log, reported under `t`'s path. */
  private def cold(t: String, version: Option[Long] = None): DeltaLog.Snapshot = {
    val copy = Files.createTempDirectory("graft-snapcache-cold").resolve("t")
    copyTree(Paths.get(t, "_delta_log"), copy.resolve("_delta_log"))
    DeltaLog.snapshot(spark, copy.toString, version).copy(tablePath = t)
  }

  private def assertSame(got: DeltaLog.Snapshot, want: DeltaLog.Snapshot,
      clue: String): Unit = {
    assert(got.version == want.version, clue)
    assert(got.files == want.files,
      s"$clue: live files, in order, with DV descriptors and row-tracking fields")
    assert(got.schema == want.schema, clue)
    assert(got.partitionColumns == want.partitionColumns, clue)
    assert(got.configuration == want.configuration, clue)
    assert(got.protocol == want.protocol, clue)
    assert(got.txns == want.txns, clue)
    assert(got.domainMetadata == want.domainMetadata, clue)
    assert(got.metaDataId == want.metaDataId, clue)
    assert(got == want.copy(tablePath = got.tablePath), clue)
  }

  /** Runs `body` and counts the Spark jobs it launched on this thread.
    * A sentinel job run afterwards orders the count: the listener bus
    * delivers events in order, so once the sentinel's start is seen,
    * every job of `body` has been counted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"snapcache-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job not seen")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def ids(t: String, version: Option[Long] = None): Set[Int] =
    DeltaLog.read(spark, t, versionAsOf = version).select("id").as[Int]
      .collect().toSet

  test("incremental snapshots equal a cold replay over random DML, " +
    "maintenance and checkpoints, on copy-on-write and DV tables") {
    Seq(false, true).foreach { dv =>
      val rnd = new scala.util.Random(if (dv) 20261017L else 20261016L)
      val t = tmpTable()
      val other = aliasOf(t)
      var nextId = 0
      def fresh(n: Int) = {
        val b = (nextId until nextId + n).map(i => (i, i * 1.5))
        nextId += n
        b.toDF("id", "v")
      }
      DeltaWrite.write(fresh(4), t)
      if (dv) DeltaMaintenance.setTblProperties(spark, t,
        Map(DeltaDv.Property -> "true"))
      var txn = 0L
      (1 to 14).foreach { step =>
        // 1-3 operations, each through this path or the other writer's
        (1 to 1 + rnd.nextInt(3)).foreach { _ =>
          val p = if (rnd.nextBoolean()) t else other
          val k = 2 + rnd.nextInt(3)
          val hit = pmod(col("id"), lit(k)) === rnd.nextInt(k)
          rnd.nextInt(10) match {
            case 0 => DeltaWrite.write(fresh(1 + rnd.nextInt(3)), p, SaveMode.Append)
            case 1 => DeltaDml.delete(spark, p, hit)
            case 2 => DeltaDml.update(spark, p, hit, Seq("v" -> (col("v") + 100)))
            case 3 =>
              val src = Seq((rnd.nextInt(nextId), -1.0)).toDF("id", "v").union(fresh(2))
              DeltaDml.merge(spark, p, src, col("t.id") === col("s.id"),
                matchedUpdate = Seq("v" -> col("s.v")), insert = true)
            case 4 => DeltaMaintenance.compact(spark, p, smallFileBytes = 1L << 30)
            case 5 => DeltaMaintenance.setTblProperties(spark, p,
              if (rnd.nextBoolean()) Map(s"graft.test.k${rnd.nextInt(3)}" -> s"$step")
              else Map("delta.checkpointInterval" -> s"${2 + rnd.nextInt(3)}"))
            case 6 => DeltaWrite.checkpoint(spark, p)
            case 7 =>
              txn += 1
              DeltaWrite.transactionalAppend(fresh(1), p, s"app${rnd.nextInt(2)}", txn)
            case 8 => RowTracking.setDomainMetadata(spark, p,
              s"graft.test${rnd.nextInt(2)}", s"""{"step":$step}""")
            case 9 => RowTracking.enable(spark, p)
          }
        }
        val clue = s"dv=$dv step $step"
        val (inc, jobs) = jobsDuring(DeltaLog.snapshot(spark, t))
        assertSame(inc, cold(t), clue)
        assert(jobs == 0, s"$clue: a cached log replays JSON commits only")
        val back = rnd.nextInt(inc.version.toInt + 1).toLong
        assertSame(DeltaLog.snapshot(spark, t, Some(back)), cold(t, Some(back)),
          s"$clue, as of $back")
      }
    }
  }

  test("a snapshot right after a commit on a checkpointed table launches " +
    "no Spark job; a cold replay of the same log does") {
    val t = tmpTable()
    DeltaWrite.write(Seq((1, 1.0), (2, 2.0)).toDF("id", "v"), t)
    DeltaMaintenance.setTblProperties(spark, t,
      Map("delta.checkpointInterval" -> "2"))
    (3 to 4).foreach(i => DeltaWrite.write(Seq((i, i.toDouble)).toDF("id", "v"), t,
      SaveMode.Append))
    DeltaDml.delete(spark, t, col("id") === 1)
    assert(new java.io.File(s"$t/_delta_log/${"%020d".format(4)}.checkpoint.parquet").isFile)
    DeltaWrite.write(Seq((5, 5.0)).toDF("id", "v"), t, SaveMode.Append)
    val (snap, jobs) = jobsDuring(DeltaLog.snapshot(spark, t))
    assert(jobs == 0)
    val (ref, coldJobs) = jobsDuring(cold(t))
    assert(coldJobs > 0, "the cold replay reads the checkpoint with Spark")
    assertSame(snap, ref, "after commit 5")
    assert(ids(t) == Set(2, 3, 4, 5))
  }

  test("a table deleted and recreated at the same path is replayed cold, " +
    "at the same version and at a higher one") {
    val t = tmpTable()
    def build(path: String, rows: Seq[Int]): Unit = rows.zipWithIndex.foreach {
      case (id, i) => DeltaWrite.write(Seq((id, 0.0)).toDF("id", "v"), path,
        if (i == 0) SaveMode.ErrorIfExists else SaveMode.Append)
    }
    build(t, Seq(1, 2))
    assert(DeltaLog.snapshot(spark, t).version == 1)
    // built beside the table, then moved into its place: no snapshot of
    // `t` sees the new log before the swap
    def replaceWith(rows: Seq[Int]): Unit = {
      val staged = tmpTable()
      build(staged, rows)
      Files.walk(Paths.get(t)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      Files.move(Paths.get(staged), Paths.get(t))
    }
    replaceWith(Seq(10, 20))
    val same = DeltaLog.snapshot(spark, t)
    assert(same.version == 1)
    assertSame(same, cold(t), "recreated at the same version")
    assert(ids(t) == Set(10, 20))
    replaceWith(Seq(100, 200, 300, 400))
    val higher = DeltaLog.snapshot(spark, t)
    assert(higher.version == 3)
    assertSame(higher, cold(t), "recreated at a higher version")
    assert(ids(t) == Set(100, 200, 300, 400))
  }

  test("cleanupLog past the cached version falls back to the checkpoint") {
    val t = tmpTable()
    val other = aliasOf(t)
    DeltaWrite.write(Seq((0, 0.0)).toDF("id", "v"), t)
    (1 to 2).foreach(i => DeltaWrite.write(Seq((i, 0.0)).toDF("id", "v"), t,
      SaveMode.Append))
    assert(DeltaLog.snapshot(spark, t).version == 2)
    (3 to 4).foreach(i => DeltaWrite.write(Seq((i, 0.0)).toDF("id", "v"), other,
      SaveMode.Append))
    DeltaWrite.checkpoint(spark, other)
    assert(DeltaMaintenance.cleanupLog(spark, other) > 0)
    assert(!new java.io.File(s"$t/_delta_log/${"%020d".format(2)}.json").exists)
    DeltaWrite.write(Seq((5, 0.0)).toDF("id", "v"), other, SaveMode.Append)
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.version == 5)
    assertSame(snap, cold(t), "after cleanup")
    assert(ids(t) == (0 to 5).toSet)
  }

  test("time travel below the cached version replays cold and keeps the " +
    "newest snapshot cached") {
    val t = tmpTable()
    DeltaWrite.write(Seq((0, 0.0)).toDF("id", "v"), t)
    DeltaMaintenance.setTblProperties(spark, t,
      Map("delta.checkpointInterval" -> "2"))
    (2 to 5).foreach(i => DeltaWrite.write(Seq((i, 0.0)).toDF("id", "v"), t,
      SaveMode.Append))
    val latest = DeltaLog.snapshot(spark, t)
    assert(latest.version == 5)
    (0L to 4L).foreach { v =>
      assertSame(DeltaLog.snapshot(spark, t, Some(v)), cold(t, Some(v)), s"as of $v")
    }
    assert(ids(t, Some(1L)) == Set(0))
    assert(ids(t, Some(3L)) == Set(0, 2, 3))
    // with the commits up to the checkpoint at 4 gone, only a cache still
    // holding version 5 answers without reading the checkpoint
    assert(DeltaMaintenance.cleanupLog(spark, t) > 0)
    val (again, jobs) = jobsDuring(DeltaLog.snapshot(spark, t))
    assert(jobs == 0, "time travel must not evict the newest snapshot")
    assertSame(again, latest, "latest after time travel")
  }

  test("concurrent readers see snapshots equal to a cold replay of their " +
    "version") {
    val t = tmpTable()
    DeltaWrite.write(Seq((0, 0.0)).toDF("id", "v"), t)
    DeltaMaintenance.setTblProperties(spark, t,
      Map("delta.checkpointInterval" -> "3"))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writer = Future((1 to 6).foreach(i =>
        DeltaWrite.write(Seq((i, 0.0)).toDF("id", "v"), t, SaveMode.Append)))
      val readers = (1 to 3).map(_ => Future((1 to 8).map(_ => DeltaLog.snapshot(spark, t))))
      Await.result(writer, 5.minutes)
      val seen = readers.flatMap(Await.result(_, 5.minutes))
      assert(seen.map(_.version).max >= 1L)
      seen.groupBy(_.version).foreach { case (v, snaps) =>
        val ref = cold(t, Some(v))
        snaps.foreach(s => assertSame(s, ref, s"reader at version $v"))
      }
      assertSame(DeltaLog.snapshot(spark, t), cold(t), "after the writer")
    } finally pool.shutdown()
  }
}
