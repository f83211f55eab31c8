package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.CosineAll
import graft.functions.TextFunctions.tokenCount

/** Model-evaluation and governance metrics over the synthetic corpus —
  * the measurement half of a training-data pipeline (SURVEY §4.3: the
  * reference has no eval surface; this extends the q118/q136 axis) plus
  * the release-audit side (k-anonymity, cluster quality). Every metric is exact
  * versus the DuckDB oracle: scores are bit-identical doubles (the
  * [[CosineAll]] fixed-order arithmetic contract), every accumulation
  * happens in integers (counts, fixed-point score sums), and the final
  * ratios are single mirrored double-op chains.
  *
  * Scale notes (the 100 TB brief):
  *   - q137's ROC accumulation is the distributed-prefix-sum shape: scores
  *     quantize to ≤2²³+1 fixed-point levels, coarse-bucket totals (≤2049
  *     rows — model metadata, a bounded collect) broadcast the cross-bucket
  *     offsets, and the per-level prefix sum runs as a window PARTITIONED
  *     by coarse bucket — no global single-partition window anywhere.
  *   - q138/q140 are one hash-aggregation each; q139's confusion matrix is
  *     ≤|labels|² rows after one agg exchange.
  *   - The label-0-prototype "classifier" is deliberately deterministic
  *     (a literal weight vector / per-label exemplar vectors) so the
  *     metrics are reproducible fixtures, the same discipline as q122's
  *     benchmark panel.
  */
object EvalMetrics {

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")

  private val Dim = 64

  /** Deterministic dyadic probe weights (k/256 with k ∈ [-128,127]) — the
    * "model" whose score we evaluate. Dyadic rationals make w, w², and Σw²
    * exact in double on both engines; the SQL literal renders each weight
    * as `(<k>e0/256)` (e-notation keeps DuckDB in DOUBLE — bare decimal
    * literals parse as DECIMAL and can convert one ulp off, the q136
    * lesson). */
  private[graft] val proto: IndexedSeq[Double] =
    (0 until Dim).map(i => (((i * 2654435761L) & 0xFFL) - 128L) / 256.0)

  private val protoSqlList: String =
    proto.map(w => s"(${(w * 256).toLong}e0/256)").mkString("[", ", ", "]")

  /** Bit-exact SQL mirror of `CosineAll(embedding, Seq(proto))`: dot and
    * both norms accumulate in index order; denominator is
    * sqrt(child)*sqrt(row), the expression's own order. */
  private val scoreSql: String =
    s"""list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), $protoSqlList), z -> z[1]*z[2]))
       | / (sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), z -> z*z)))
       |    * sqrt(list_sum(list_transform($protoSqlList, z -> z*z))))"""
      .stripMargin.replace("\n", " ")

  private[graft] def scoreCol = element_at(
    CosineAll.cosineAll(col("embedding"), Seq(proto)), 1)

  // score ∈ [-1,1] → fixed-point level ∈ [0, 2²³]; 2⁻²² granularity is the
  // documented tie-quantization of the ROC sweep (analogous to the money
  // DECIMAL contract — deterministic, engine-identical).
  private[graft] val LevelScale = 4194304.0 // 2^22
  private val CoarseShift = 12       // 2^23 levels → ≤2^11+1 coarse buckets

  // calibration confidence accumulates at 2⁻²⁶ fixed point: exact integer
  // sums, and a per-bin BIGINT holds ~1.4e11 rows before overflow.
  private[graft] val ConfScale = 67108864.0 // 2^26

  // Cohen-kappa rater thresholds (fixed, corpus-independent fixtures).
  private val KappaChars = 306L
  private val KappaToks = 60L

  val all: Seq[GraftQuery] = Seq(

    // Exact ROC-AUC of the probe score against the label=0 class, via the
    // Mann-Whitney U statistic: U2 = Σ_levels (2·pos·neg_below + pos·neg)
    // (the +pos·neg term is the ½-credit for ties), AUC = U2 / (2·P·N).
    // All integer until the one final division.
    GraftQuery("q137_auc",
      (s, d) => {
        import s.implicits._
        val fine = emb(s, d)
          .select((col("label") === 0).cast("long").as("pos"),
            floor((scoreCol + 1.0d) * lit(LevelScale)).cast("long").as("lvl"))
          .groupBy("lvl")
          .agg(sum("pos").as("p"), (count(lit(1)) - sum("pos")).as("n"))
          .withColumn("cb", shiftright(col("lvl"), CoarseShift))
          .persist() // bounded: ≤2²³ level rows; feeds two jobs
        // distributed prefix sum: coarse totals (≤2049 rows, bounded by
        // construction) collect → cumulative offsets broadcast back
        val coarseTotals = fine.groupBy("cb").agg(sum("n").as("cn"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val offsets = coarseTotals
          .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (cb, cn)) => (cb, acc + cn) }
          .sliding(2).collect { case Array((_, below), (cb, _)) => (cb, below) }
          .toSeq
        val offDf = offsets.toDF("cb", "off")
        val w = Window.partitionBy("cb").orderBy("lvl")
          .rowsBetween(Window.unboundedPreceding, -1)
        // u2 terms accumulate through DECIMAL(38,0): at 100 TB scale
        // u2 ≈ n²/4 overflows BIGINT (~6e9 rows) where the oracle's
        // HUGEINT sums do not — the q143/q146 wide-accumulator
        // discipline applies here too. p·(2·nb+n) ≡ 2·p·nb + p·n
        // exactly in integer arithmetic; the per-term factors stay in
        // BIGINT range (p, n, nb ≤ corpus size).
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val result = fine.join(broadcast(offDf), Seq("cb"))
          .withColumn("nb", col("off") + coalesce(sum("n").over(w), lit(0L)))
          .agg(sum("p").as("np"), sum("n").as("nn"),
            sum(col("p").cast(dec38) *
              (lit(2L) * col("nb") + col("n")).cast(dec38)).as("u2"))
          .select(col("np").as("n_pos"), col("nn").as("n_neg"),
            (col("u2").cast("double") /
              (lit(2.0d) * col("np") * col("nn"))).as("auc"))
        // materialize the single summary row so the cached level frame can
        // be released NOW — a lazy return would pin it across the whole
        // 150-query corpus run (ADVICE r7)
        val rows = result.collect().toSeq
        fine.unpersist()
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), result.schema)
      },
      Some(s"""WITH s AS (SELECT CAST(label = 0 AS BIGINT) AS pos,
        |CAST(floor(($scoreSql + 1.0) * 4194304.0) AS BIGINT) AS lvl FROM embeddings),
        |f AS (SELECT lvl, SUM(pos) AS p, COUNT(*) - SUM(pos) AS n FROM s GROUP BY lvl),
        |w AS (SELECT p, n, COALESCE(SUM(n) OVER (ORDER BY lvl ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb FROM f)
        |SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n_neg,
        |CAST(SUM(2*p*nb + p*n) AS DOUBLE) / (2e0 * SUM(p) * SUM(n)) AS auc FROM w"""
        .stripMargin.replace("\n", " "))),

    // Reliability diagram + ECE terms: probe score → probability
    // (score+1)/2, 10 fixed-width bins; per bin the mean confidence
    // accumulates as a 2⁻²⁶ fixed-point integer so the bin mean is exact,
    // and accuracy/confidence/|gap| are mirrored double chains.
    GraftQuery("q138_calibration",
      (s, d) => {
        val prob = (scoreCol + 1.0d) / 2.0d
        emb(s, d)
          .select((col("label") === 0).cast("long").as("pos"),
            least(floor(prob * 10.0d), lit(9.0d)).cast("long").as("bin"),
            floor(prob * lit(ConfScale)).cast("long").as("cfp"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("pos").as("np"), sum("cfp").as("sfp"))
          .select(col("bin"), col("n"), col("np"),
            (col("np").cast("double") / col("n").cast("double")).as("acc"),
            (col("sfp").cast("double") /
              (col("n").cast("double") * lit(ConfScale))).as("conf"))
          .withColumn("gap", abs(col("acc") - col("conf")))
          .orderBy("bin")
      },
      Some(s"""WITH s AS (SELECT CAST(label = 0 AS BIGINT) AS pos, ($scoreSql + 1.0) / 2.0 AS prob FROM embeddings),
        |b AS (SELECT pos, CAST(LEAST(floor(prob * 10.0), 9.0) AS BIGINT) AS bin,
        |CAST(floor(prob * 67108864.0) AS BIGINT) AS cfp FROM s),
        |g AS (SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS np, SUM(cfp) AS sfp FROM b GROUP BY bin)
        |SELECT bin, n, np, CAST(np AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
        |CAST(sfp AS DOUBLE) / (CAST(n AS DOUBLE) * 67108864e0) AS conf,
        |abs(CAST(np AS DOUBLE) / CAST(n AS DOUBLE) - CAST(sfp AS DOUBLE) / (CAST(n AS DOUBLE) * 67108864e0)) AS gap
        |FROM g ORDER BY bin"""
        .stripMargin.replace("\n", " "))),

    // Per-class precision/recall/F1 of a nearest-prototype classifier
    // (per-label exemplar = the min-vec_id vector of each label: a K×d
    // bounded collect, model metadata like the IVF centroids). Prediction
    // is an in-row argmax over the literal prototype matrix — the corpus
    // streams once, no join; the confusion matrix is ≤|labels|² rows.
    GraftQuery("q139_class_metrics",
      (s, d) => {
        val e = emb(s, d)
        val protos = e.groupBy("label").agg(min("vec_id").as("pid"))
          .select("pid").as("p")
          .join(e.as("e"), col("p.pid") === col("e.vec_id"))
          .select(col("e.label").cast("long").as("plabel"),
            col("e.embedding").cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
          .sortBy(_._1)
        if (protos.isEmpty)
          s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL(
              "label BIGINT, support BIGINT, tp BIGINT, predicted BIGINT, " +
                "prec DOUBLE, rec DOUBLE, f1 DOUBLE"))
        else {
          val pLabels = typedLit(protos.map(_._1).toSeq)
          val cs = CosineAll.cosineAll(col("embedding"),
            protos.map(_._2).toIndexedSeq)
          // array_position returns the FIRST max ⇒ ties break to the
          // smaller label, mirroring ORDER BY cos DESC, plabel.
          // r14 floor rebuild (the q131 lesson): the confusion matrix is
          // ≤|labels|² rows — collect it in ONE job and compose the
          // per-class metrics driver-side instead of recomputing the cm
          // subtree through two aggregate branches plus a join and sort
          // (the r13 plan's extra exchanges were pure scheduler floor).
          // The driver arithmetic replays the oracle's exact double
          // chain: prec = tp/predicted (0 when unpredicted), rec =
          // tp/support, f1 = ((2*prec)*rec)/(prec+rec) with the same
          // left-associated IEEE ops.
          val cm = e.select(col("label").cast("long").as("label"),
              element_at(pLabels,
                array_position(cs, array_max(cs)).cast("int")).as("pred"))
            .groupBy("label", "pred").agg(count(lit(1)).as("cnt"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          val labels = cm.map(_._1).distinct.sorted
          val rows = labels.map { l =>
            val support = cm.filter(_._1 == l).map(_._3).sum
            val tp = cm.filter(c => c._1 == l && c._2 == l).map(_._3).sum
            val predicted = cm.filter(_._2 == l).map(_._3).sum
            val prec =
              if (predicted > 0) tp.toDouble / predicted.toDouble else 0.0
            val rec = tp.toDouble / support.toDouble
            val f1 =
              if (prec + rec > 0) 2.0 * prec * rec / (prec + rec) else 0.0
            org.apache.spark.sql.Row(l, support, tp, predicted, prec, rec, f1)
          }
          s.createDataFrame(
            scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava,
            org.apache.spark.sql.types.StructType.fromDDL(
              "label BIGINT, support BIGINT, tp BIGINT, predicted BIGINT, " +
                "prec DOUBLE, rec DOUBLE, f1 DOUBLE"))
        }
      },
      Some("""WITH proto AS (SELECT label AS plabel, min(vec_id) AS pid FROM embeddings GROUP BY label),
        |pv AS (SELECT p.plabel, e.embedding FROM proto p JOIN embeddings e ON e.vec_id = p.pid),
        |sc AS (SELECT c.vec_id, c.label, p.plabel,
        |list_sum(list_transform(list_zip(CAST(c.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])), z -> z[1]*z[2]))
        | / (sqrt(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), z -> z*z)))
        |    * sqrt(list_sum(list_transform(CAST(p.embedding AS DOUBLE[]), z -> z*z)))) AS cos
        |FROM embeddings c CROSS JOIN pv p),
        |pr AS (SELECT vec_id, label, plabel, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, plabel) AS rnk FROM sc),
        |cm AS (SELECT CAST(label AS BIGINT) AS label, CAST(plabel AS BIGINT) AS pred, COUNT(*) AS cnt FROM pr WHERE rnk = 1 GROUP BY 1, 2),
        |bt AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS support,
        |CAST(SUM(CASE WHEN pred = label THEN cnt ELSE 0 END) AS BIGINT) AS tp FROM cm GROUP BY label),
        |bp AS (SELECT pred AS label, CAST(SUM(cnt) AS BIGINT) AS predicted FROM cm GROUP BY pred),
        |j AS (SELECT bt.label, bt.support, bt.tp, COALESCE(bp.predicted, 0) AS predicted FROM bt LEFT JOIN bp USING (label)),
        |m AS (SELECT label, support, tp, predicted,
        |CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE) ELSE 0e0 END AS prec,
        |CAST(tp AS DOUBLE) / CAST(support AS DOUBLE) AS rec FROM j)
        |SELECT label, support, tp, predicted, prec, rec,
        |CASE WHEN prec + rec > 0 THEN 2e0 * prec * rec / (prec + rec) ELSE 0e0 END AS f1
        |FROM m ORDER BY label"""
        .stripMargin.replace("\n", " "))),

    // Cohen's kappa between two deterministic raters (char-length vs
    // token-count quality thresholds) — inter-annotator agreement, the
    // labeling-QA step of a data pipeline. One aggregation; marginals stay
    // integer, po/pe/kappa are mirrored double chains (rates first, so
    // nothing overflows at any corpus size).
    GraftQuery("q140_rater_agreement",
      (s, d) => {
        val base = docs(s, d).select(
          (col("n_chars") >= KappaChars).cast("long").as("ra"),
          (tokenCount(col("text")) >= KappaToks).cast("long").as("rb"))
        val agg = base.agg(
          count(lit(1)).as("n"),
          sum(col("ra") * col("rb")).as("n11"),
          sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("n00"),
          sum("ra").as("na"), sum("rb").as("nb"))
        val nD = col("n").cast("double")
        val pA = col("na").cast("double") / nD
        val pB = col("nb").cast("double") / nD
        val po = (col("n11") + col("n00")).cast("double") / nD
        val pe = pA * pB + (lit(1.0d) - pA) * (lit(1.0d) - pB)
        agg.select(col("n"), col("n11"), col("n00"),
            po.as("po"), pe.as("pe"))
          .withColumn("kappa",
            (col("po") - col("pe")) / (lit(1.0d) - col("pe")))
      },
      Some(s"""WITH r AS (SELECT CAST(n_chars >= $KappaChars AS BIGINT) AS ra,
        |CAST(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) >= $KappaToks AS BIGINT) AS rb FROM documents),
        |a AS (SELECT COUNT(*) AS n, CAST(SUM(ra * rb) AS BIGINT) AS n11,
        |CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00,
        |CAST(SUM(ra) AS BIGINT) AS na, CAST(SUM(rb) AS BIGINT) AS nb FROM r),
        |m AS (SELECT n, n11, n00,
        |CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |(CAST(na AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
        | + (1e0 - CAST(na AS DOUBLE) / CAST(n AS DOUBLE)) * (1e0 - CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)) AS pe
        |FROM a)
        |SELECT n, n11, n00, po, pe, (po - pe) / (1e0 - pe) AS kappa FROM m"""
        .stripMargin.replace("\n", " "))),

    // k-anonymity / l-diversity audit — the privacy-governance gate a
    // dataset release runs before publication: quasi-identifier groups
    // (lang, source, coarse length bucket) smaller than k, or carrying
    // fewer than l distinct sensitive values (the text itself), violate
    // the release policy. One hash aggregation on the natural QI key —
    // the same shuffle a 100 TB release audit pays; the distinct count
    // runs over md5 digests (identical in both engines) so document
    // bodies never shuffle, the Dedup.scala discipline.
    GraftQuery("q142_k_anonymity",
      (s, d) => docs(s, d)
        .groupBy(col("lang"), col("source"),
          floor(col("n_chars") / lit(50)).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(md5(col("text"))).as("l_div"))
        .filter(col("n") < 5 || col("l_div") < 2)
        .orderBy("lang", "source", "len_bucket"),
      Some("""SELECT lang, source, CAST(floor(n_chars / 50) AS BIGINT) AS len_bucket,
        |COUNT(*) AS n, COUNT(DISTINCT md5(text)) AS l_div
        |FROM documents GROUP BY 1, 2, 3
        |HAVING COUNT(*) < 5 OR COUNT(DISTINCT md5(text)) < 2
        |ORDER BY lang, source, len_bucket"""
        .stripMargin.replace("\n", " "))),

    // Cluster-quality separation — are the label clusters actually
    // separated in embedding space? Per label: mean cosine of members to
    // their OWN label centroid vs the mean over all OTHER centroids (the
    // synthetic labels are weak clusters — own ≈ 0.14 vs other ≈ 0.00 —
    // so a best-other max would drown in max-of-9 noise). Centroids come
    // from the q108 dyadic 2⁻³⁰ grid (bit-identical across engines), ride
    // as a K×d literal matrix, and scoring is in-row CosineAll — corpus
    // streams once, no explode, no row-id shuffle. Every per-pair score
    // quantizes to the 2⁻³⁰ grid BEFORE summing (integer-valued doubles:
    // the in-row fold and the oracle's group aggregation sum the same
    // integers, so summation order cannot matter), then accumulates
    // through DECIMAL(38,0).
    GraftQuery("q143_cluster_quality",
      (s, d) => {
        val cents = emb(s, d)
          .select(col("label").cast("long").as("label"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "pos")
          .agg((sum(floor(col("v").cast("double") * 1073741824.0d + 0.5d)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / 1073741824.0d / count(lit(1))).as("c"))
          .collect().groupBy(_.getLong(0))
          .map { case (l, rows) =>
            (l, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq)
          }.toSeq.sortBy(_._1)
        if (cents.size < 2)
          s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL(
              "label BIGINT, n BIGINT, mean_own DOUBLE, mean_other DOUBLE, " +
                "separation DOUBLE"))
        else {
          val k = cents.size
          val labelsLit = typedLit(cents.map(_._1))
          val cs = CosineAll.cosineAll(col("embedding"), cents.map(_._2))
          val idx = array_position(labelsLit,
            col("label").cast("long")).cast("int")
          // per-pair scores onto the 2^-30 integer grid, in-row: the fold
          // sums integer-valued doubles (≤ K·2³⁰ ≪ 2⁵³ — exact, order-free)
          val fpArr = transform(cs,
            x => floor(x * lit(1073741824.0d) + lit(0.5d)))
          val totFp = aggregate(fpArr, lit(0.0d), (acc, x) => acc + x)
          val dec = org.apache.spark.sql.types.DecimalType(38, 0)
          emb(s, d)
            .select(col("label").cast("long").as("label"),
              element_at(fpArr, idx).as("own_fp"),
              (totFp - element_at(fpArr, idx)).as("other_fp"))
            .groupBy("label")
            .agg(count(lit(1)).as("n"),
              (sum(col("own_fp").cast(dec)).cast("double")
                / 1073741824.0d / count(lit(1))).as("mean_own"),
              (sum(col("other_fp").cast(dec)).cast("double")
                / 1073741824.0d / (count(lit(1)) * lit((k - 1).toLong)))
                .as("mean_other"))
            .withColumn("separation", col("mean_own") - col("mean_other"))
            .orderBy("label")
        }
      },
      Some("""WITH e AS (SELECT label, unnest(embedding) AS v,
        |unnest(generate_series(0, len(embedding)-1)) AS pos FROM embeddings),
        |cent AS (SELECT label AS clabel, pos,
        |CAST(SUM(CAST(floor(CAST(v AS DOUBLE)*1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)/1073741824.0/COUNT(*) AS c
        |FROM e GROUP BY 1, 2),
        |cl AS (SELECT clabel, list(c ORDER BY pos) AS cv FROM cent GROUP BY clabel),
        |sc AS (SELECT m.vec_id, m.label, l.clabel = m.label AS is_own,
        |CAST(floor((list_sum(list_transform(list_zip(CAST(m.embedding AS DOUBLE[]), l.cv), z -> z[1]*z[2]))
        | / (sqrt(list_sum(list_transform(CAST(m.embedding AS DOUBLE[]), z -> z*z)))
        |    * sqrt(list_sum(list_transform(l.cv, z -> z*z)))))*1073741824.0 + 0.5) AS BIGINT) AS fp
        |FROM embeddings m CROSS JOIN cl l),
        |g AS (SELECT CAST(label AS BIGINT) AS label,
        |CAST(COUNT(CASE WHEN is_own THEN 1 END) AS BIGINT) AS n,
        |CAST(SUM(CASE WHEN is_own THEN fp END) AS DOUBLE)/1073741824.0/COUNT(CASE WHEN is_own THEN 1 END) AS mean_own,
        |CAST(SUM(CASE WHEN NOT is_own THEN fp END) AS DOUBLE)/1073741824.0/COUNT(CASE WHEN NOT is_own THEN 1 END) AS mean_other
        |FROM sc GROUP BY 1)
        |SELECT label, n, mean_own, mean_other, mean_own - mean_other AS separation
        |FROM g ORDER BY label"""
        .stripMargin.replace("\n", " "))),

    // Cross-split n-gram contamination — the leakage audit q89's hash
    // split needs: an eval-split document whose 3-gram shingles also
    // appear in SOME train document carries memorizable supervision
    // across the boundary. Unlike q91/q104 (external benchmark, broadcast
    // panel), the eval split is CORPUS-SIZED, so this is the inverted-list
    // shape: one shingle-keyed aggregation (df ≤ 20 cap — ubiquitous
    // shingles are not leakage evidence, the q45 universe), eval members
    // of train-containing groups explode back out as narrow (long) rows,
    // and the denominator is a doc-keyed count of the eval shingle
    // stream. Shingles hash in-row (WordShingleHashes); the string-keyed
    // oracle doubles as the 64-bit collision check, exactly as q45.
    GraftQuery("q144_split_contamination",
      (s, d) => {
        val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
        val split = when(h2 < "cd", "train").when(h2 < "e6", "val")
          .otherwise("test")
        // r13 (the q178 lesson): the per-shingle (nt, df) come from
        // WINDOW aggregates over the s partition — never a posting
        // list, ONE shingle explode and ONE s-keyed exchange where the
        // earlier aggregate+re-join shape exploded the corpus three
        // times and exchanged s twice. r14 honesty note: WindowExec
        // buffers each shingle group in a spillable row array (the df
        // cap filters AFTER the window), so a ubiquitous shingle costs
        // O(group) on disk in one task, not O(1) counters — measured
        // exponent 0.74 at 100×, and
        // spark.graft.windowCount=twoPhase restores the aggregate+join
        // shape for unknown-skew corpora (see [[WindowCount]]). Denominators come straight off the
        // shingle ARRAY (shingles are distinct per doc — the
        // WordShingles contract q101 also trades on), no explode.
        // r16 (guide §2.4 — one pass, no re-derive): the denominator
        // used to be a SECOND full corpus scan re-shingling every doc
        // (size(shingleHashes)) joined back on doc_id; the window pass
        // already carries every eval shingle, so ONE doc-keyed
        // conditional aggregate yields numerator AND denominator —
        // count(*) per eval doc IS its shingle count (explode emits one
        // row per distinct shingle), and the inner join's row set is
        // exactly the n_leaked >= 1 filter (lk ⊆ tot by construction).
        // Measured: jobs 3 → 2, stages 6 → 5, exec 1.54 → 1.09-1.12 s
        // on the closing pairs — the second scan and the join are gone.
        val sh = docs(s, d).select(col("doc_id"), split.as("split"),
          explode(graft.functions.WordShingleHashes
            .shingleHashes(col("text"), 3)).as("s"))
        WindowCount.attach(sh, Seq("s"), Seq(
            (sum((col("split") === "train").cast("long")), "nt"),
            (count(lit(1)), "df")))
          .filter(col("split") =!= "train")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            count(when(col("nt") >= 1 && col("df") <= 20, lit(1)))
              .as("n_leaked"))
          .filter(col("n_leaked") >= 1)
          .select(col("doc_id"), col("n_shingles"), col("n_leaked"),
            (col("n_leaked").cast("double") /
              col("n_shingles").cast("double")).as("leak_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks,
        |CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val' ELSE 'test' END AS split
        |FROM documents),
        |b AS (SELECT doc_id, split, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |  FOR i IN generate_series(1, len(toks)-2)])) AS s FROM t),
        |g AS (SELECT s, SUM(CAST(split = 'train' AS BIGINT)) AS nt, COUNT(*) AS df FROM b GROUP BY s),
        |lk AS (SELECT b.doc_id, COUNT(*) AS n_leaked FROM b JOIN g ON b.s = g.s
        |  WHERE b.split != 'train' AND g.nt >= 1 AND g.df <= 20 GROUP BY 1),
        |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM b WHERE split != 'train' GROUP BY 1)
        |SELECT tot.doc_id AS doc_id, tot.n_shingles, lk.n_leaked,
        |CAST(lk.n_leaked AS DOUBLE) / CAST(tot.n_shingles AS DOUBLE) AS leak_ratio
        |FROM tot JOIN lk ON tot.doc_id = lk.doc_id ORDER BY tot.doc_id"""
        .stripMargin.replace("\n", " "))),

    // Leak-proof split — the FIX for q144: split assignment follows the
    // near-dup COMPONENT representative (q81's canonical; singletons are
    // their own rep), so an entire duplicate cluster lands in one split
    // by construction. The q89 hash rule runs on the rep key; summary is
    // groups/docs per split. Reuses the jaccardPairs/union-find machinery
    // — one extra doc-keyed left join over q81's cost.
    GraftQuery("q145_leakproof_split",
      (s, d) => {
        val comp = Dedup.nearDupComponents(s, d)
        val rep = docs(s, d).select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("canonical"), col("doc_id")).as("rep"))
        val h2 = substring(md5(col("rep").cast("string")), 1, 2)
        rep.select(when(h2 < "cd", "train").when(h2 < "e6", "val")
            .otherwise("test").as("split"), col("rep"))
          .groupBy("split")
          .agg(countDistinct("rep").as("n_groups"),
            count(lit(1)).as("n_docs"))
          .orderBy("split")
      },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |  FOR i IN generate_series(1, len(toks)-2)])) AS s FROM t),
        |df AS (SELECT s FROM (SELECT s, COUNT(*) AS d FROM sh GROUP BY s) WHERE d BETWEEN 2 AND 20),
        |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN df ON sh.s = df.s),
        |card AS (SELECT doc_id, COUNT(*) AS c FROM shf GROUP BY doc_id),
        |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i FROM shf x
        |  JOIN shf y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
        |jp AS (SELECT a, b FROM (
        |  SELECT inter.a, inter.b, CAST(i AS DOUBLE)/(ca.c + cb.c - i) AS jaccard
        |  FROM inter JOIN card ca ON inter.a = ca.doc_id JOIN card cb ON inter.b = cb.doc_id)
        |  WHERE jaccard >= 0.1),
        |und AS (SELECT a, b FROM jp UNION SELECT b, a FROM jp),
        |reach(src, dst) AS (
        |  SELECT DISTINCT a, a FROM und
        |  UNION
        |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
        |comp AS (SELECT src AS doc_id, MIN(dst) AS canonical FROM reach GROUP BY src),
        |asg AS (SELECT d.doc_id, COALESCE(c.canonical, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
        |a AS (SELECT CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < 'e6' THEN 'val' ELSE 'test' END AS split, rep
        |FROM asg)
        |SELECT split, COUNT(DISTINCT rep) AS n_groups, COUNT(*) AS n_docs
        |FROM a GROUP BY split ORDER BY split"""
        .stripMargin.replace("\n", " "))),

    // Brier score — the squared-error companion of q138's reliability
    // bins (log-loss needs ln(), which is libm-dependent and breaks
    // cross-engine exactness — q126's rational-idf precedent; the Brier
    // decomposition carries the same calibration signal with pure
    // arithmetic). Per-row (prob − y)² is a deterministic double chain;
    // each term quantizes to the 2⁻³⁰ grid BEFORE summing (the q143
    // discipline), so accumulation order cannot matter.
    GraftQuery("q146_brier",
      (s, d) => {
        val prob = (scoreCol + 1.0d) / 2.0d
        val err = prob - (col("label") === 0).cast("double")
        emb(s, d)
          .select(floor(err * err * lit(1073741824.0d) + 0.5d)
            .cast("long").as("t"))
          .agg(count(lit(1)).as("n"),
            (sum(col("t").cast(
              org.apache.spark.sql.types.DecimalType(38, 0)))
              .cast("double") / 1073741824.0d / count(lit(1))).as("brier"))
      },
      Some(s"""WITH s AS (SELECT CAST(floor(
        |(($scoreSql + 1.0) / 2.0 - CAST(label = 0 AS DOUBLE))
        | * (($scoreSql + 1.0) / 2.0 - CAST(label = 0 AS DOUBLE))
        | * 1073741824.0 + 0.5) AS BIGINT) AS t FROM embeddings)
        |SELECT COUNT(*) AS n,
        |CAST(SUM(t) AS DOUBLE) / 1073741824.0 / COUNT(*) AS brier FROM s"""
        .stripMargin.replace("\n", " "))),

    // Forecast-quality evaluation — MAE/RMSE of the lag-1 persistence
    // forecast on hourly event counts, the baseline every traffic
    // forecaster is judged against (and the drift monitor a 100 TB
    // event pipeline runs hourly). Errors are INTEGER (count − previous
    // count), so Σ|e| and Σe² are exact; one hourly rollup, one
    // per-type lag window over ≤ hours-per-type rows, one aggregate.
    GraftQuery("q147_forecast_eval",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("h")
        ev(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n"))
          .withColumn("e", col("n") - lag("n", 1).over(w))
          .filter(col("e").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_hours"),
            (sum(abs(col("e"))).cast("double") /
              count(lit(1)).cast("double")).as("mae"),
            sqrt(sum(col("e") * col("e")).cast("double") /
              count(lit(1)).cast("double")).as("rmse"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |COUNT(*) AS n FROM events GROUP BY 1, 2),
        |e AS (SELECT event_type, n - lag(n) OVER (PARTITION BY event_type ORDER BY h) AS e FROM hourly)
        |SELECT event_type, COUNT(*) AS n_hours,
        |CAST(SUM(abs(e)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
        |sqrt(CAST(SUM(e * e) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS rmse
        |FROM e WHERE e IS NOT NULL GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replace("\n", " "))),

    // Dataset card — the one-row datasheet a corpus release ships with
    // (docs/tokens/chars, language & source spread, exact-dup rate,
    // English share). One scan, one aggregate (the distinct count over
    // md5 digests is the only expand); every figure is integer-exact
    // with mirrored double ratios.
    GraftQuery("q149_dataset_card",
      (s, d) => {
        val agg = docs(s, d).agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum("n_chars").cast("long").as("total_chars"),
          sum(tokenCount(col("text"))).as("total_tokens"),
          countDistinct(md5(col("text"))).as("distinct_texts"),
          sum((col("lang") === "en").cast("long")).as("n_en"))
        val nD = col("n_docs").cast("double")
        agg.select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("total_chars"), col("total_tokens"), col("distinct_texts"),
          (lit(1.0d) - col("distinct_texts").cast("double") / nD)
            .as("dup_rate"),
          (col("total_chars").cast("double") / nD).as("mean_chars"),
          (col("n_en").cast("double") / nD).as("pct_en"))
      },
      Some(s"""SELECT COUNT(*) AS n_docs,
        |COUNT(DISTINCT source) AS n_sources, COUNT(DISTINCT lang) AS n_langs,
        |CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |CAST(SUM(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS BIGINT) AS total_tokens,
        |COUNT(DISTINCT md5(text)) AS distinct_texts,
        |1e0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
        |CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars,
        |CAST(SUM(CAST(lang = 'en' AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pct_en
        |FROM documents"""
        .stripMargin.replace("\n", " "))),

    // Zipf head coverage: what fraction of the total token mass the 100
    // most frequent terms carry — the vocabulary-concentration diagnostic
    // behind tokenizer/vocab sizing. Term counts partial-aggregate before
    // the one exchange; the head is a TakeOrdered(100), not a global sort.
    GraftQuery("q141_zipf_coverage",
      (s, d) => {
        val terms = docs(s, d)
          .select(explode(split(lower(col("text")), "\\s+")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("term").agg(count(lit(1)).as("cnt"))
        val total = terms.agg(sum("cnt").as("total_tokens"))
        val head = terms.orderBy(col("cnt").desc, col("term")).limit(100)
          .agg(sum("cnt").as("top100_tokens"))
        total.crossJoin(head)
          .select(col("total_tokens"), col("top100_tokens"),
            (col("top100_tokens").cast("double") /
              col("total_tokens").cast("double")).as("coverage"))
      },
      Some("""WITH t AS (SELECT term, COUNT(*) AS cnt FROM (
        |SELECT unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents) WHERE len(term) > 0 GROUP BY term),
        |h AS (SELECT CAST(SUM(cnt) AS BIGINT) AS top100_tokens FROM (
        |SELECT cnt FROM t ORDER BY cnt DESC, term LIMIT 100)),
        |tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM t)
        |SELECT tt.total_tokens, h.top100_tokens,
        |CAST(h.top100_tokens AS DOUBLE) / CAST(tt.total_tokens AS DOUBLE) AS coverage FROM tt, h"""
        .stripMargin.replace("\n", " ")))
  )
}
