package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The SQL builders in GraftExtensions read their integer parameters
  * through one argument check: integral constants within Int range are
  * accepted, anything else is an AnalysisException naming the function,
  * the argument position and the expected constant integer. */
class GraftExtensionsArgSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-extensions-args-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `f` in a NEW session on the shared context with the graft
    * names injected (getOrCreate would return the active session as
    * is), then restores the previous session. */
  private def withExtensions[T](f: SparkSession => T): T = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-extensions-args-test")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try f(s2)
    finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("integral constants of every width are accepted with today's " +
    "results") {
    withExtensions { s =>
      val r = s.sql("SELECT size(graft_shingles('a b c d', 3)) AS i, " +
        "size(graft_shingles('a b c d', 3L)) AS l, " +
        "size(graft_shingles('a b c d', CAST(3 AS SMALLINT))) AS sm, " +
        "size(graft_shingles('a b c d', CAST(3 AS TINYINT))) AS ti, " +
        "graft_pq_score(array(0, 1), array(10.0D, 20.0D, 30.0D, 40.0D), 2L) AS ps")
        .head
      assert((0 to 3).map(r.getInt) == Seq(2, 2, 2, 2))
      assert(r.getDouble(4) == 50.0)
      val k = s.sql("SELECT size(graft_kmv(x, 8)), size(graft_kmv(x, 8L)), " +
        "size(graft_kmv(x, 8.0D)) FROM VALUES (1), (2), (2) AS t(x)").head
      assert((0 to 2).map(k.getInt) == Seq(2, 2, 2))
    }
  }

  test("a wider literal, a DECIMAL and a column raise an AnalysisException " +
    "naming the function, the position and a constant integer") {
    withExtensions { s =>
      s.sql("CREATE OR REPLACE TEMPORARY VIEW ext_args AS SELECT * FROM " +
        "VALUES ('a b c', 2) t(t, n)")
      for ((q, fn, pos) <- Seq(
          ("SELECT graft_kmv(x, 8.5) FROM VALUES (1) AS t(x)", "graft_kmv", 2),
          ("SELECT graft_shingles(t, n) FROM ext_args", "graft_shingles", 2),
          ("SELECT graft_shingles('a b', 3000000000L)", "graft_shingles", 2),
          ("SELECT graft_pq_encode(array(1.0D), array(1.0D), NULL, 1)",
            "graft_pq_encode", 3))) {
        val e = intercept[AnalysisException](s.sql(q).collect())
        assert(e.getMessage.contains(fn) &&
          e.getMessage.contains(s"argument $pos") &&
          e.getMessage.contains("constant integer"), q + " -> " + e.getMessage)
      }
    }
  }
}
