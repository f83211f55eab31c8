package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The native-function surface needs no registration:
  *  - every public Column helper in `graft.functions` resolves and
  *    evaluates in a session that has registered nothing (each helper
  *    builds its expression directly);
  *  - the 11 SQL names `GraftExtensions` injects return what the
  *    matching Column helper returns on the same inputs;
  *  - `DuckCompat.register` puts its names once per session, so a
  *    second `DuckDialect.sql` leaves the first builders in place. */
class NativeColumnsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-native-columns-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val bloomBytes: Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(8L, 0.01)
    Seq(1L, 3L).foreach(bf.putLong)
    BloomContains.serialize(bf)
  }

  private def seq[T](r: Row, name: String): Seq[T] =
    r.getSeq[T](r.fieldIndex(name))

  private def frame(s: SparkSession) = s.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog", Seq(1.0, 0.5, -0.25, 2.0),
      Seq(1.0f, -2.0f, 0.5f), Seq(3L, 1L, 2L), Seq("a", "b", "a"), 0L, 0.5),
    (2L, "a b c d e f", Seq(0.0, 1.0, 1.0, 0.0),
      Seq(0.25f, 0.25f, 4.0f), Seq(7L, 5L), Seq("b", "c"), 1L, 0.9),
    (3L, "the end of the line", Seq(2.0, -1.0, 0.0, 1.0),
      Seq(-1.0f, 0.0f, 1.0f), Seq(9L), Seq("a"), 0L, 0.1)
  )).toDF("id", "text", "vec", "fvec", "ids", "words", "y", "score")

  test("every Column helper resolves and evaluates in a session with " +
    "no registration") {
    val fresh = spark.newSession()
    val graftNames = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftNames.isEmpty, s"nothing registered, got $graftNames")
    val df = frame(fresh)

    val scalars: Seq[(String, Column)] = Seq(
      "cosine_sim" -> CosineSim.cosineSim(col("vec"), col("vec")),
      "cosine" -> VectorFunctions.cosine(col("vec"), col("vec")),
      "cosine_all" -> CosineAll.cosineAll(col("vec"),
        Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))),
      "minhash_sig" -> MinHashSig.minhashSig(col("ids")),
      "simhash64" -> SimHash64.simhash64(col("ids")),
      "sig_agree" -> SigAgree.sigAgree(col("ids"), col("ids")),
      "ordered_pairs" -> OrderedPairs.orderedPairs(col("ids")),
      "ordered_pairs_self" -> OrderedPairs.orderedPairsWithSelf(col("ids")),
      "hplsh" -> HyperplaneLsh.hplsh(col("vec")),
      "zorder" -> ZOrder.zorder(col("id"), col("y")),
      "pq_encode" -> ProductQuant.pqEncode(typedLit(Seq(1.0, 9.0)),
        typedLit(Seq(1.0, 5.0, 2.0, 9.0)), 2, 2),
      "pq_table" -> ProductQuant.pqAdcTable(typedLit(Seq(1.0, 9.0)),
        typedLit(Seq(1.0, 5.0, 2.0, 9.0)), 2, 2),
      "pq_score" -> ProductQuant.pqScore(typedLit(Seq(0, 1)),
        typedLit(Seq(10.0, 20.0, 30.0, 40.0)), 2),
      "int8_stats" -> Int8QuantStats.int8Stats(col("fvec")),
      "grid_gram" -> GridGram.gridGram(col("vec")),
      "grid_residual" -> GridResidual.gridResidual(col("vec"),
        Seq(GridGram.Scale, 0L, 0L, 0L)),
      "gopher_stats" -> GopherStats.gopherStats(col("text")),
      "shingles" -> WordShingles.wordShingles(col("text"), 3),
      "shingle_hashes" -> WordShingleHashes.shingleHashes(col("text"), 3),
      "char_ngrams" -> CharNgrams.charNgrams(col("text"), 2),
      "char_ngram_counts" -> CharNgramCounts.charNgramCounts(col("text"), 2),
      "window_md5" -> WindowKeyHashes.windowKeyHashes(col("text"), 3),
      "window_md5_raw" -> WindowKeyDigests.windowKeyDigests(col("text"), 3),
      "bow_gram" -> HashedBowGram.bowGram(col("text"), col("y")),
      "bow_score" -> HashedBowScore.bowScore(col("text"),
        Seq.fill(HashedBow.Dims)(1L)),
      "bloom_contains" -> BloomContains.bloomContains(col("id"),
        lit(bloomBytes)),
      "sorted_contains" -> SortedLongsContain.sortedContains(col("id"),
        lit(SortedLongsContain.serialize(Array(1L, 3L)))),
      // inside a higher-order function's lambda (the q168 shape)
      "sorted_contains_lambda" -> exists(col("ids"), h =>
        SortedLongsContain.sortedContains(h,
          lit(SortedLongsContain.serialize(Array(2L))))),
      "bigram_model_score" -> BigramModelScore.score(col("text"),
        typedLit(Seq(1L, 2L))),
      "bigram_lm_bits" -> BigramLmBits.bigramLmBits(col("words"),
        lit(BigramLmBits.serialize(Seq("a", "b"), Seq(("a", "b", 2L))))),
      "vocab_surprise" -> VocabSurprise.vocabSurprise(col("words"),
        lit(VocabSurprise.serialize(Seq(("a", 2L)), 4L))))
    val rows = df.orderBy("id")
      .select(col("id") +: scalars.map { case (n, c) => c.as(n) }: _*)
      .collect()
    assert(rows.length == 3)
    val r = rows.head
    scalars.foreach { case (n, _) =>
      assert(!r.isNullAt(r.fieldIndex(n)), s"$n evaluated to null")
    }
    assert(r.getAs[Double]("cosine_sim") == 1.0)
    assert(r.getAs[Double]("cosine") == 1.0)
    assert(seq[Double](r, "cosine_all").length == 2)
    assert(seq[Row](r, "ordered_pairs").length == 3)
    assert(seq[Row](r, "ordered_pairs_self").length == 6)
    assert(seq[String](r, "shingles").length == 7)
    assert(seq[Int](r, "pq_encode") == Seq(0, 1))
    assert(r.getAs[Double]("pq_score") == 50.0)
    assert(r.getAs[Boolean]("bloom_contains"))
    assert(r.getAs[Boolean]("sorted_contains"))
    assert(r.getAs[Boolean]("sorted_contains_lambda"))
    assert(!rows(1).getAs[Boolean]("sorted_contains"))

    val aggs: Seq[(String, Column)] = Seq(
      "kmv" -> KmvSketch.kmv(col("id"), 8),
      "bounded" -> BoundedSortedList.boundedSortedList(col("id"), 2),
      "topk_ids" -> TopKIdsByScore.topkIds(col("score"), col("id"), 2),
      "topk_rows" -> TopKRowsByScore.topkRows(col("score"), col("id"),
        col("id"), col("y"), 2),
      "top_bigrams" -> TopBigramsByCount.topBigrams(col("text"), 4),
      "panel_top1" -> PanelTop1.panelTop1(col("vec"), col("id"), col("y"),
        Seq(1L), Seq(Seq(1.0, 0.5, -0.25, 2.0))))
    val a = df.agg(aggs.head._2.as(aggs.head._1),
      aggs.tail.map { case (n, c) => c.as(n) }: _*).head
    assert(seq[Long](a, "kmv").length == 3)
    assert(seq[Long](a, "bounded") == Seq(1L, 2L))
    assert(seq[Long](a, "topk_ids") == Seq(1L, 2L))
    assert(seq[Row](a, "topk_rows").map(_.getLong(1)) == Seq(2L, 1L))
    assert(seq[Long](a, "top_bigrams").length == 4)
    // anchor id 1's best non-self neighbor is id 3 (label 0)
    assert(seq[Long](a, "panel_top1") == Seq(0L))

    // an aggregate helper over a window
    val w = df.select(col("id"),
      size(KmvSketch.kmv(col("id"), 8).over(Window.partitionBy("y"))).as("n"))
      .orderBy("id").collect().map(_.getInt(1))
    assert(w.toSeq == Seq(2, 1, 2))
  }

  test("the 11 GraftExtensions SQL names equal their Column helpers on " +
    "the same inputs") {
    // a NEW session on the shared context, built with the extensions
    // (getOrCreate would otherwise return the active session as is)
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-native-columns-ext")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val names = s2.sessionState.functionRegistry.listFunction()
        .map(_.funcName).filter(_.startsWith("graft_")).sorted
      assert(names == Seq("graft_bloom_contains", "graft_cosine", "graft_hplsh",
        "graft_kmv", "graft_minhash_sig", "graft_pq_encode", "graft_pq_score",
        "graft_pq_table", "graft_shingles", "graft_simhash64", "graft_zorder"))
      frame(s2)
        .withColumn("p", typedLit(Seq(1.0, 9.0)))
        .withColumn("cb", typedLit(Seq(1.0, 5.0, 2.0, 9.0)))
        .withColumn("c", typedLit(Seq(0, 1)))
        .withColumn("tb", typedLit(Seq(10.0, 20.0, 30.0, 40.0)))
        .createOrReplaceTempView("native_in")
      val hex = bloomBytes.map(b => f"$b%02X").mkString
      val viaSql = s2.sql(
        "SELECT id, graft_cosine(vec, vec) AS a1, graft_minhash_sig(ids) AS a2, " +
          "graft_simhash64(ids) AS a3, graft_shingles(text, 3) AS a4, " +
          "graft_hplsh(vec) AS a5, graft_zorder(id, y) AS a6, " +
          "graft_pq_encode(p, cb, 2, 2) AS a7, " +
          "graft_pq_table(p, cb, 2, 2) AS a8, " +
          "graft_pq_score(c, tb, 2) AS a9, " +
          s"graft_bloom_contains(id, X'$hex') AS a10 " +
          "FROM native_in ORDER BY id").collect().toSeq
      val viaCols = s2.table("native_in").select(col("id"),
        CosineSim.cosineSim(col("vec"), col("vec")),
        MinHashSig.minhashSig(col("ids")),
        SimHash64.simhash64(col("ids")),
        WordShingles.wordShingles(col("text"), 3),
        HyperplaneLsh.hplsh(col("vec")),
        ZOrder.zorder(col("id"), col("y")),
        ProductQuant.pqEncode(col("p"), col("cb"), 2, 2),
        ProductQuant.pqAdcTable(col("p"), col("cb"), 2, 2),
        ProductQuant.pqScore(col("c"), col("tb"), 2),
        BloomContains.bloomContains(col("id"), lit(bloomBytes)))
        .orderBy("id").collect().toSeq
      assert(viaSql == viaCols)
      val kmvSql = s2.sql(
        "SELECT y, graft_kmv(id, 8) AS k FROM native_in GROUP BY y ORDER BY y")
        .collect().toSeq
      val kmvCol = s2.table("native_in").groupBy("y")
        .agg(KmvSketch.kmv(col("id"), 8)).orderBy("y").collect().toSeq
      assert(kmvSql == kmvCol)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("DuckCompat registers once per session: a second DuckDialect.sql " +
    "keeps the first builders") {
    val s = spark.newSession()
    val fn = FunctionIdentifier("list_sum")
    val tf = FunctionIdentifier("delta_scan")
    DuckDialect.sql(s, "SELECT 1 AS x").collect()
    val first = s.sessionState.functionRegistry.lookupFunctionBuilder(fn)
    val firstTf = s.sessionState.tableFunctionRegistry.lookupFunctionBuilder(tf)
    assert(first.isDefined && firstTf.isDefined)
    assert(DuckDialect.sql(s, "SELECT list_sum(array(1, 2)) AS x")
      .head.getLong(0) == 3L)
    assert(s.sessionState.functionRegistry.lookupFunctionBuilder(fn).get eq
      first.get)
    assert(s.sessionState.tableFunctionRegistry.lookupFunctionBuilder(tf).get eq
      firstTf.get)
    // another session gets its own registration (its builders close
    // over that session)
    val other = spark.newSession()
    DuckDialect.sql(other, "SELECT 1 AS x").collect()
    assert(!(other.sessionState.tableFunctionRegistry
      .lookupFunctionBuilder(tf).get eq firstTf.get))
  }
}
