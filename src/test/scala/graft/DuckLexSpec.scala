package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** DuckDialect has one lexer: comments are blanked once on entry, so a
  * comment — even one holding an apostrophe — never breaks a statement
  * bridge, and the pure-text rewrite is total on arbitrary token soup. */
class DuckLexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-duck-lex-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sql("CREATE OR REPLACE TEMPORARY VIEW lex_t AS SELECT * FROM VALUES " +
      "(1, 10), (1, 20), (2, 30), (2, 5), (3, 7) t(a, b)")
    s.sql("CREATE OR REPLACE TEMPORARY VIEW lex_l AS SELECT * FROM " +
      "VALUES ('a', 10),('a', 20),('b', 15),('c', 5) t(k, ts)")
    s.sql("CREATE OR REPLACE TEMPORARY VIEW lex_r AS SELECT * FROM " +
      "VALUES ('a', 8, 100),('a', 10, 200),('a', 18, 300),('b', 20, 400) " +
      "t(k, ts, v)")
    s
  }

  private def rows(sql: String): Seq[Row] =
    DuckDialect.sql(spark, sql).collect().toSeq

  /** The statement returns the same rows with the comment as without. */
  private def sameRows(withComment: String, without: String): Seq[Row] = {
    val got = rows(withComment)
    assert(got == rows(without), withComment)
    got
  }

  test("QUALIFY with a trailing line comment in the select list") {
    val q = "SELECT a, b%sFROM lex_t QUALIFY row_number() OVER " +
      "(PARTITION BY a ORDER BY b) = 1 ORDER BY a"
    assert(sameRows(q.format(" -- first col\n"), q.format(" ")) ==
      Seq(Row(1, 10), Row(2, 5), Row(3, 7)))
  }

  test("DISTINCT ON with a trailing line comment in the select list") {
    val q = "SELECT DISTINCT ON (a) a, b%sFROM lex_t ORDER BY a, b DESC"
    assert(sameRows(q.format(" -- note\n"), q.format(" ")) ==
      Seq(Row(1, 20), Row(2, 30), Row(3, 7)))
  }

  test("USING SAMPLE n ROWS in a subquery after a comment with an " +
    "apostrophe") {
    val q = "SELECT count(*) AS n%sFROM (SELECT * FROM lex_t USING SAMPLE " +
      "3 ROWS)"
    for (c <- Seq(" -- don't\n", " /* don't */ "))
      assert(sameRows(q.format(c), q.format(" ")) == Seq(Row(3L)), c)
  }

  test("comma-lateral generate_series after a line comment") {
    val q = "SELECT t.a, g.x FROM lex_t t,%sgenerate_series(1, 3) g(x) " +
      "WHERE t.b = 7 ORDER BY g.x"
    assert(sameRows(q.format(" -- don't\n "), q.format(" ")) ==
      Seq(Row(3, 1), Row(3, 2), Row(3, 3)))
  }

  test("COPY TO preceded by a comment line") {
    val dir = Files.createTempDirectory("graft-lex-copy")
    def copy(prefix: String, name: String): Long = {
      val out = dir.resolve(name).toString
      val n = DuckDialect.sql(spark, prefix + "COPY (SELECT a, b FROM lex_t " +
        s"WHERE a < 3) TO '$out' (HEADER, DELIMITER ',')").head.getLong(0)
      assert(spark.read.option("header", "true").csv(out).count() == n)
      n
    }
    assert(copy("-- export the small keys\n", "c.csv") == 4L)
    assert(copy("", "p.csv") == 4L)
  }

  test("a nested ASOF group after a comment with an apostrophe") {
    val q = "SELECT s.k, count(*) AS n%sFROM (SELECT l.k, r.v FROM lex_l l " +
      "ASOF JOIN lex_r r ON l.k = r.k AND l.ts >= r.ts) s GROUP BY s.k " +
      "ORDER BY s.k"
    assert(sameRows(q.format(" -- don't\n"), q.format(" ")) ==
      Seq(Row("a", 2L)))
  }

  test("rewrite leaves a comment-only change as written and blanks " +
    "comments once it bridges something") {
    val plain = "SELECT a /* don't */ FROM t -- done"
    assert(DuckDialect.rewrite(plain) == plain)
    assert(DuckDialect.rewrite("SELECT [1, 2] -- list\n FROM t") ==
      "SELECT array(1, 2)  \n FROM t")
  }

  test("rewrite is total: a relation named by the USING keyword, and " +
    "seeded token soup over quotes, comment openers, brackets and the " +
    "bridged keywords") {
    assert(DuckDialect.rewrite("FROM USING SAMPLE 3") == "FROM USING SAMPLE 3")
    val tokens = Gen.oneOf("'", "\"", "`", "--", "/*", "*/", "\n", "(", ")",
      "[", "]", "{", "}", ",", ":", "::INT", "QUALIFY", "USING", "SAMPLE",
      "3", "ROWS", "PERCENT", "%", "reservoir", "DISTINCT", "ON", "FOR",
      "IN", "IF", "UNPIVOT", "INTO", "NAME", "VALUE", "ORDER", "BY",
      "LIMIT", "generate_series", "unnest", "SELECT", "FROM", "WHERE",
      "AS", "t", "x", "=", "*", "EXCLUDE", "REPLACE", "list_slice", "-1")
    val soup = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n,
      Gen.zip(tokens, Gen.oneOf("", " ")).map { case (t, s) => t + s }))
      .map(_.mkString)
    for (seed <- 1L to 20000L) {
      val text = soup.apply(Gen.Parameters.default, Seed(seed)).get
      try DuckDialect.rewrite(text)
      catch { case e: Throwable => fail(s"seed $seed: rewrite threw $e on <$text>") }
    }
  }

  test("DuckDialect.sql on a relation named USING raises guidance or an " +
    "analysis error") {
    val e = intercept[Exception](
      DuckDialect.sql(spark, "SELECT 1 FROM USING SAMPLE 3").collect())
    assert(e.isInstanceOf[IllegalArgumentException] ||
      e.isInstanceOf[AnalysisException], e.toString)
  }
}
