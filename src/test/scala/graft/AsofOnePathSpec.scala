package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ASOF has one path: the session-aware chain expansion in
  * `DuckDialect.sql`, where a single join is a one-member chain. The
  * pure-text `rewrite` leaves ASOF alone, and the corpus's ASOF
  * statements launch exactly as many Spark jobs while their DataFrame is
  * built as they did when a single join still went through a text
  * bridge with its own scale probe. */
class AsofOnePathSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-asof-one-path-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("rewrite is pure text and leaves every ASOF shape unchanged") {
    val single = "SELECT l.k, r.v FROM asof_l l ASOF JOIN asof_r r " +
      "ON l.k = r.k AND l.ts >= r.ts ORDER BY l.k"
    val chain = "SELECT t.sym, q.px, f.fts FROM trades t " +
      "ASOF JOIN quotes q ON q.sym = t.sym AND q.qts <= t.tts " +
      "ASOF LEFT JOIN fills f ON f.sym = q.sym AND f.fts >= q.qts"
    val nested = "SELECT s.k, count(*) AS n FROM (SELECT l.k, r.v " +
      "FROM asof_l l ASOF JOIN asof_r r ON l.k = r.k AND l.ts >= r.ts) s " +
      "GROUP BY s.k"
    for (q <- Seq(single, chain, nested))
      assert(DuckDialect.rewrite(q) == q, q)
  }

  test("a single join is a one-member chain: alias.* expands from the " +
    "live schema and an aggregate over the pick needs no wrapper — " +
    "every expected answer is the installed DuckDB's") {
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW asof_l AS SELECT * FROM " +
      "VALUES ('a', 10),('a', 20),('b', 15),('c', 5) t(k, ts)")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW asof_r AS SELECT * FROM " +
      "VALUES ('a', 8, 100),('a', 10, 200),('a', 18, 300),('b', 20, 400) " +
      "t(k, ts, v)")
    val star = DuckDialect.sql(spark, "SELECT r.*, l.ts AS lts FROM asof_l l " +
      "ASOF LEFT JOIN asof_r r ON l.k = r.k AND l.ts >= r.ts ORDER BY l.k, l.ts")
    assert(star.columns.toSeq == Seq("k", "ts", "v", "lts"))
    assert(star.collect().map(_.toSeq).toSeq == Seq(Seq("a", 10, 200, 10),
      Seq("a", 18, 300, 20), Seq(null, null, null, 15), Seq(null, null, null, 5)))
    val agg = DuckDialect.sql(spark, "SELECT count(*) AS n, sum(r.v) AS sv " +
      "FROM asof_l l ASOF JOIN asof_r r ON l.k = r.k AND l.ts >= r.ts")
    assert(agg.collect().map(_.toSeq).toSeq == Seq(Seq(2L, 500L)))
  }

  /** Jobs each corpus ASOF statement launches inside `DuckDialect.sql`
    * (schema reads, scale-guard probes) with adaptive execution on and
    * off, measured on the sf0.001 fixture before the single-join text
    * bridge was folded into the chain path. */
  private val buildJobs = Map(
    "q171_duckdb_asof" -> (4, 2),
    "q196_duckdb_asof_chain" -> (4, 1),
    "q197_duckdb_asof_mixed" -> (6, 1),
    "q198_duckdb_asof_subq" -> (6, 1),
    "q199_duckdb_asof_right" -> (7, 1),
    "q200_duckdb_asof_tree" -> (4, 1),
    "q202_duckdb_asof_natural" -> (6, 1),
    "q203_duckdb_asof_nested" -> (4, 2),
    "q204_duckdb_asof_multitree" -> (6, 1),
    "q205_duckdb_asof_using" -> (4, 2))

  test("corpus ASOF statements launch the same number of Spark jobs " +
    "while their DataFrame is built") {
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
    def buildJobsOf(name: String, adaptive: Boolean): Int = {
      spark.conf.set("spark.sql.adaptive.enabled", adaptive.toString)
      drain(); jobs.set(0)
      val df = DuckDialect.sql(spark, SparkEntry.oracleSql(name))
      drain()
      assert(df.columns.nonEmpty, name)
      jobs.get
    }
    for (t <- Seq("documents", "nation"))
      Tables.load(spark, sf, t).createOrReplaceTempView(t)
    val adaptive0 = spark.conf.get("spark.sql.adaptive.enabled")
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = buildJobs.keys.toSeq.sorted.map { name =>
        name -> (buildJobsOf(name, adaptive = true),
          buildJobsOf(name, adaptive = false))
      }.toMap
      assert(got == buildJobs)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", adaptive0)
    }
  }
}
