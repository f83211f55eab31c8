package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HashedBow, HashedBowGram, HashedBowScore}

/** The q188/q189 feature map and moment layout, pinned against
  * independent derivations: the bucket function against Spark's own
  * md5()+conv() columns (the oracle's two-hex-char formula), the gram
  * layout against a brute-force z_i·z_j loop, and the score against a
  * hand dot product. */
class HashedBowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-hashedbow-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bucket = low 6 bits of the first md5 byte == the oracle's " +
    "two-hex-char strpos formula (via Spark md5/conv columns)") {
    import spark.implicits._
    val words = Seq("the", "spark", "join", "Straße", "日本語", "x",
      "zzzz", "a", "an", "of", "qqunseen", "émigré")
    val viaSql = words.toDF("w")
      .select(col("w"),
        (conv(substring(md5(col("w")), 1, 2), 16, 10).cast("long") % 64)
          .as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(HashedBow.bucket(w).toLong == viaSql(w),
        s"bucket mismatch for '$w'")
    }
  }

  test("features: bias always 1, counts land in md5 buckets, clip at " +
    "CountCap, empty text is bias-only") {
    val f = HashedBow.features("the the the spark")
    assert(f(0) == 1L)
    assert(f.sum == 1L + 4L) // 3×the + 1×spark, no clipping yet
    assert(f(1 + HashedBow.bucket("the")) == 3L)
    assert(f(1 + HashedBow.bucket("spark")) == 1L)
    val many = HashedBow.features(Array.fill(99)("the").mkString(" "))
    assert(many(1 + HashedBow.bucket("the")) == HashedBow.CountCap)
    val empty = HashedBow.features("")
    assert(empty(0) == 1L && empty.drop(1).forall(_ == 0L))
    // non-letter runs are not tokens
    assert(HashedBow.features("123 !!! --")(0) == 1L)
    assert(HashedBow.features("123 !!! --").drop(1).forall(_ == 0L))
  }

  test("gram emits [z, z_i*z_j row-major upper] — brute-force equality") {
    import spark.implicits._
    val text = "the quick brown fox the lazy dog the end"
    val y = 1L
    val got = Seq((text, y)).toDF("t", "y")
      .select(HashedBowGram.bowGram(col("t"), col("y")).as("g"))
      .collect()(0).getSeq[Long](0)
    val x = HashedBow.features(text)
    val z = x :+ y
    val d = z.length
    assert(d == HashedBow.Dims + 1)
    val want = z.toIndexedSeq ++
      (for (i <- 0 until d; j <- i until d) yield z(i) * z(j))
    assert(got == want)
    assert(got.length == d + d * (d + 1) / 2)
  }

  test("score is the literal-model dot product; null text scores null") {
    import spark.implicits._
    val w = (0 until HashedBow.Dims).map(i => (i * 7 - 50).toLong)
    val text = "alpha beta beta gamma"
    val got = Seq(Some(text), None).toDF("t")
      .select(HashedBowScore.bowScore(col("t"), w).as("s"))
      .collect()
    val x = HashedBow.features(text)
    val want = x.indices.map(i => w(i) * x(i)).sum
    assert(got(0).getLong(0) == want)
    assert(got(1).isNullAt(0))
  }

  test("property: 200 seeded random texts — gram equals the brute-force " +
    "moment vector of features(), score equals the hand dot product") {
    import spark.implicits._
    val rnd = new scala.util.Random(188)
    val alphabets = Seq("abcdefgh", "the a of to in", "αβγδ", "日本語漢字",
      "x1 y2 z3 !?", "  ", "ÄÖÜäöü", "mixed 语言 text")
    val texts = (1 to 200).map { _ =>
      val alpha = alphabets(rnd.nextInt(alphabets.length))
      (1 to rnd.nextInt(40)).map { _ =>
        val n = 1 + rnd.nextInt(8)
        (1 to n).map(_ => alpha.charAt(rnd.nextInt(alpha.length))).mkString
      }.mkString(" ").toLowerCase
    }
    val w = (0 until HashedBow.Dims).map(i => ((i * 131) % 97 - 48).toLong)
    val rows = texts.zipWithIndex.map { case (t, i) => (t, (i % 2).toLong) }
      .toDF("t", "y")
      .select(col("t"), col("y"),
        HashedBowGram.bowGram(col("t"), col("y")).as("g"),
        HashedBowScore.bowScore(col("t"), w).as("s"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(0); val y = r.getLong(1)
      val x = HashedBow.features(t)
      val z = x :+ y
      val d = z.length
      val wantG = z.toIndexedSeq ++
        (for (i <- 0 until d; j <- i until d) yield z(i) * z(j))
      assert(r.getSeq[Long](2) == wantG, s"gram mismatch on '$t'")
      val wantS = x.indices.map(i => w(i) * x(i)).sum
      assert(r.getLong(3) == wantS, s"score mismatch on '$t'")
    }
  }

  test("model shorter than Dims scores the missing tail as zero " +
    "(the empty-corpus degenerate)") {
    import spark.implicits._
    val got = Seq("anything here").toDF("t")
      .select(HashedBowScore.bowScore(col("t"), Seq.empty[Long]).as("s"))
      .collect()(0).getLong(0)
    assert(got == 0L)
  }
}
