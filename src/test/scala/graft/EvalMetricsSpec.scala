package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant specs for the q137–q141 eval-metrics family (the exactness
  * vs the DuckDB oracle is the driver's gate; these pin the metric
  * semantics themselves). */
class EvalMetricsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-eval-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def q(name: String, dir: String = sf) =
    SparkEntry.queries(name)(spark, dir)

  test("q137 AUC ∈ [0,1]; counts partition the corpus; AUC matches a " +
    "direct quadratic computation at sf0.001") {
    val row = q("q137_auc").head()
    val (np, nn, auc) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    val total = Tables.load(spark, sf, "embeddings").count()
    assert(np + nn == total && np > 0 && nn > 0)
    assert(auc >= 0.0 && auc <= 1.0)

    // quadratic reference: score every vector against the same probe via
    // the same expression, then count concordant/tied pairs directly
    val lvl = Tables.load(spark, sf, "embeddings").select(
      (col("label") === 0).cast("int").as("pos"),
      floor((element_at(graft.functions.CosineAll.cosineAll(col("embedding"),
        Seq((0 until 64).map(i =>
          (((i * 2654435761L) & 0xFFL) - 128L) / 256.0))), 1)
        + 1.0d) * lit(4194304.0d)).cast("long").as("lvl"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val posL = lvl.filter(_._1 == 1).map(_._2)
    val negL = lvl.filter(_._1 == 0).map(_._2)
    var u2 = 0L
    for (p <- posL; n <- negL) {
      if (p > n) u2 += 2L else if (p == n) u2 += 1L
    }
    val expected = u2.toDouble / (2.0 * posL.length * negL.length)
    assert(math.abs(auc - expected) < 1e-12, s"auc=$auc expected=$expected")
  }

  test("q138 calibration: bins cover the corpus, acc/conf ∈ [0,1], " +
    "gap = |acc − conf|") {
    val rows = q("q138_calibration").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.load(spark, sf, "embeddings").count())
    rows.foreach { r =>
      val (bin, acc, conf, gap) =
        (r.getLong(0), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(bin >= 0 && bin <= 9)
      assert(acc >= 0.0 && acc <= 1.0)
      assert(conf >= 0.0 && conf <= 1.0)
      assert(math.abs(gap - math.abs(acc - conf)) == 0.0)
      // fixed-point conf sits within one 2^-26 step of the bin's range
      assert(conf > bin / 10.0 - 1e-6 && conf < (bin + 1) / 10.0 + 1e-6)
    }
  }

  test("q139 class metrics: one row per label, support sums to corpus, " +
    "prototypes classify themselves (tp ≥ 1), f1 is the harmonic mean") {
    val rows = q("q139_class_metrics", sf01).collect()
    val e = Tables.load(spark, sf01, "embeddings")
    assert(rows.length == e.select("label").distinct().count())
    assert(rows.map(_.getLong(1)).sum == e.count())
    assert(rows.map(_.getLong(3)).sum == e.count()) // predictions partition too
    rows.foreach { r =>
      val (support, tp, predicted) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (p, rec, f1) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(tp >= 1, s"label ${r.getLong(0)}: prototype must self-classify")
      assert(tp <= support && tp <= predicted)
      if (p + rec > 0)
        assert(math.abs(f1 - 2 * p * rec / (p + rec)) < 1e-15)
    }
  }

  test("q140 kappa: marginals consistent, kappa ≤ 1, and agreement " +
    "rebuilt from a direct cross-tab") {
    val r = q("q140_rater_agreement").head()
    val (n, n11, n00, po, pe, kappa) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(n11 + n00 <= n)
    assert(math.abs(po - (n11 + n00).toDouble / n) < 1e-15)
    assert(kappa <= 1.0 && pe > 0.0 && pe < 1.0)
    // direct recount of the 2x2 table
    val d = Tables.load(spark, sf, "documents").select(
      (col("n_chars") >= 306).as("ra"),
      (regexp_count(col("text"), lit("\\S+")) >= 60).as("rb"))
      .groupBy("ra", "rb").count().collect()
      .map(x => (x.getBoolean(0), x.getBoolean(1)) -> x.getLong(2)).toMap
    assert(n11 == d.getOrElse((true, true), 0L))
    assert(n00 == d.getOrElse((false, false), 0L))
  }

  test("q142 k-anonymity: every reported group violates k or l; l_div ≤ n; " +
    "matches a direct recount") {
    val rows = q("q142_k_anonymity").collect()
    rows.foreach { r =>
      val (n, l) = (r.getLong(3), r.getLong(4))
      assert(n < 5 || l < 2)
      assert(l >= 1 && l <= n)
    }
    val direct = Tables.load(spark, sf, "documents")
      .groupBy(col("lang"), col("source"),
        floor(col("n_chars") / lit(50)).cast("long").as("b"))
      .agg(count(lit(1)).as("n"), countDistinct(col("text")).as("l"))
      .filter(col("n") < 5 || col("l") < 2).count()
    assert(rows.length == direct)
  }

  test("q143 cluster quality: one row per label, n sums to corpus, " +
    "means ∈ [-1,1], separation = mean_own − mean_other and is positive " +
    "on average (labels are genuine clusters)") {
    val rows = q("q143_cluster_quality", sf01).collect()
    val e = Tables.load(spark, sf01, "embeddings")
    assert(rows.length == e.select("label").distinct().count())
    assert(rows.map(_.getLong(1)).sum == e.count())
    rows.foreach { r =>
      val (own, other, sep) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(own >= -1.0 && own <= 1.0 && other >= -1.0 && other <= 1.0)
      assert(math.abs(sep - (own - other)) < 1e-12)
    }
    assert(rows.map(_.getDouble(4)).sum > 0.0,
      "clustered synthetic labels must be closer to their own centroid on average")
  }

  test("q144 split contamination: only eval docs, 0 < n_leaked ≤ n_shingles, " +
    "ratio consistent; a leaked shingle really exists in some train doc") {
    val rows = q("q144_split_contamination").collect()
    assert(rows.nonEmpty, "shared 3-grams must straddle the hash split")
    def split(id: Long): String = {
      val h2 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      if (h2 < "cd") "train" else if (h2 < "e6") "val" else "test"
    }
    rows.foreach { r =>
      val (id, tot, lk, ratio) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(split(id) != "train", s"doc $id is a train doc")
      assert(lk >= 1 && lk <= tot)
      assert(math.abs(ratio - lk.toDouble / tot) < 1e-15)
    }
  }

  test("q145 leak-proof split: docs partition exactly, train is the " +
    "majority, and NO near-dup component straddles splits") {
    val rows = q("q145_leakproof_split").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.load(spark, sf, "documents")
    assert(rows.values.map(_._2).sum == docs.count())
    assert(rows("train")._2 > rows.getOrElse("val", (0L, 0L))._2)
    assert(rows("train")._2 > rows.getOrElse("test", (0L, 0L))._2)
    // group counts: every doc follows its component rep, so total groups
    // = singletons + components
    val comp = graft.operators.Dedup.nearDupComponents(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val inGraph = comp.map(_._1).toSet
    val nComponents = comp.map(_._2).distinct.length
    val expectedGroups = (docs.count() - inGraph.size) + nComponents
    assert(rows.values.map(_._1).sum == expectedGroups)
  }

  test("q146 brier: n = corpus size, 0 ≤ brier ≤ 1, and matches a direct " +
    "per-row recount on the same grid") {
    val r = q("q146_brier").head()
    val (n, brier) = (r.getLong(0), r.getDouble(1))
    assert(n == Tables.load(spark, sf, "embeddings").count())
    assert(brier >= 0.0 && brier <= 1.0)
    val proto = (0 until 64).map(i => (((i * 2654435761L) & 0xFFL) - 128L) / 256.0)
    val terms = Tables.load(spark, sf, "embeddings").select(
      floor((((element_at(graft.functions.CosineAll.cosineAll(
        col("embedding"), Seq(proto)), 1) + 1.0d) / 2.0d
        - (col("label") === 0).cast("double"))
        * ((element_at(graft.functions.CosineAll.cosineAll(
          col("embedding"), Seq(proto)), 1) + 1.0d) / 2.0d
          - (col("label") === 0).cast("double"))
        * lit(1073741824.0d)) + 0.5d).cast("long"))
      .collect().map(_.getLong(0))
    assert(brier == terms.sum.toDouble / 1073741824.0 / terms.length)
  }

  test("q147 forecast eval: one row per event type, rmse ≥ mae ≥ 0, " +
    "n_hours = hours minus one per type") {
    val rows = q("q147_forecast_eval").collect()
    assert(rows.nonEmpty)
    val hoursPerType = Tables.load(spark, sf, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")))
      .count().groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.length == hoursPerType.size)
    rows.foreach { r =>
      val (tpe, n, mae, rmse) =
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(n == hoursPerType(tpe) - 1)
      assert(mae >= 0.0 && rmse >= mae) // RMS ≥ mean of |e| always
    }
  }

  test("q148 MMR rerank: 10 distinct picks from the RRF candidates; " +
    "first pick is the top-RRF doc with mmr = 0.7·rel; every pick's mmr " +
    "≤ 0.7·rel (the diversity penalty only subtracts when sims ≥ 0)") {
    val rows = q("q148_mmr_rerank", sf01).collect()
    assert(rows.length == 10)
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length == 10)
    val byRank = rows.sortBy(_.getLong(0))
    val first = byRank.head
    assert(first.getDouble(3) == 0.7 * first.getDouble(2))
    // rank-1 = argmax rel (maxSim term is zero on the first pick)
    assert(byRank.forall(r => first.getDouble(2) >= r.getDouble(2)))
    // the candidate pool is the q131 fusion: every pick appears there
    val fusedIds = SparkEntry.queries("q131_hybrid_rrf")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    assert(fusedIds.contains(byRank.head.getLong(1)),
      "the first (undiversified) pick must be q131's rrf argmax head")
  }

  test("q149 dataset card: figures recount from the raw table; " +
    "ratios consistent") {
    val r = q("q149_dataset_card").head()
    val docs = Tables.load(spark, sf, "documents")
    assert(r.getLong(0) == docs.count())
    assert(r.getLong(1) == docs.select("source").distinct().count())
    assert(r.getLong(2) == docs.select("lang").distinct().count())
    assert(r.getLong(3) == docs.agg(sum("n_chars")).head.getLong(0))
    assert(r.getLong(5) == docs.select("text").distinct().count())
    assert(math.abs(r.getDouble(6) -
      (1.0 - r.getLong(5).toDouble / r.getLong(0))) == 0.0)
    assert(r.getDouble(8) >= 0.0 && r.getDouble(8) <= 1.0)
  }

  test("q150 event transitions: probabilities sum to 1 per prev_type; " +
    "pair counts sum to events minus one per user") {
    val rows = q("q150_event_transitions").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(math.abs(g.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    }
    val e = Tables.load(spark, sf, "events")
    val expectedPairs = e.count() - e.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == expectedPairs)
  }

  test("q141 zipf coverage: top-100 mass ≤ total, coverage consistent, " +
    "and equals a direct recount") {
    val r = q("q141_zipf_coverage").head()
    val (total, top, cov) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(top <= total && cov > 0.0 && cov <= 1.0)
    assert(math.abs(cov - top.toDouble / total) < 1e-15)
    val counts = Tables.load(spark, sf, "documents")
      .select(explode(split(lower(col("text")), "\\s+")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").count().collect().map(_.getLong(1)).sortBy(-_)
    assert(total == counts.sum)
    assert(top == counts.take(100).sum)
  }
}
