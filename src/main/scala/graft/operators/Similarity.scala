package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (BASELINE.json north_star capability; SURVEY §4.3.4 — absent from the
  * reference itself, SURVEY §2.2 UDF row).
  *
  *   - Brute-force top-k: broadcast the (small) query set against the
  *     (huge) corpus — a BroadcastNestedLoopJoin where every executor scans
  *     only its corpus partitions; per-query top-k via window rank. This is
  *     the exactness baseline and is oracle-checked bit-for-bit.
  *   - Random-hyperplane LSH (SimHash for vectors): 6 deterministic
  *     pseudo-hyperplanes → 6-bit bucket per vector (sized so local test buckets are non-trivial; at real scale raise bits with corpus size); candidates share a
  *     bucket, then exact cosine re-ranks. At 100 TB the bucket join
  *     replaces the full scan per query with |bucket|-sized probes; recall
  *     is tuned by bits/probes (single-probe here; multi-probe is a
  *     parameter change, not a redesign).
  */
object Similarity {

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  private val QueryCount = 20 // vec_id < 20 are the query vectors
  private val TopK = 5
  // q159's prefix-truncation levels (of the fixture's 64 dims); a
  // literal constant — the per-level corpus pass count is fixed
  private val TruncDims = Seq(4, 8, 16)
  // q118's anchor panel: every 10th vec_id below this — ≤ 2000 anchors
  // at ANY corpus size (all test corpora sit below the cap, so results
  // are unchanged there; beyond it the panel stays fixed and the eval
  // cost is linear in the corpus).
  private val AnchorCap = 20000
  // q122's benchmark panel: vec_id % 25 == 7 below this cap — ≤ 40
  // benchmark vectors at ANY corpus size (eval suites are fixed-size).
  private val BenchCap = 1000
  // contamination threshold, tuned to the synthetic embeddings the
  // same way q48's 0.3 near-dup threshold is
  private val ContamTau = 0.35
  // q182's power-iteration depth: a LITERAL constant (the oracle unrolls
  // it), so both engines compute the identical fixed-length trajectory.
  // 12 rounds pin the top component to cos ≈ 1 - 1e-13 of the double
  // eigenvector whenever a dominant direction exists (CorpusSpec's
  // planted-direction construction); on a near-isotropic corpus the
  // result is simply "12 exact steps from ones" — still hash-identical
  // cross-engine.
  private val Pc1Iters = 12

  /** Lloyd's output is deterministic in (corpus dir, K, iters,
    * sampleMod), so the trained quantizer is cached like any model
    * artifact — q58 and q102 share one training run per corpus instead
    * of re-paying ~2 iterations × 2 jobs of driver-coordinated k-means
    * each. (Production shape: centroids are table-adjacent metadata,
    * trained once per corpus version.) */
  private val centroidCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, Int, Int, Int), Seq[(Long, Seq[Double])]]

  private def trainedCentroids(spark: SparkSession, d: String, K: Int,
      iters: Int, sampleMod: Int): Seq[(Long, Seq[Double])] =
    centroidCache.getOrElseUpdate((d, K, iters, sampleMod),
      trainCentroids(spark, emb(spark, d), K, iters, sampleMod))

  /** Lloyd's k-means over the embedding column, cosine-assigned: seed
    * centroids are the first K vectors, and each iteration re-assigns a
    * deterministic hash-sampled training subset (the 100 TB shape —
    * training never needs the full corpus) and recomputes per-dimension
    * means. Per iteration: one broadcast-scored narrow pass + one
    * (cid, dim)-keyed aggregation; only the K×d centroid matrix (model
    * metadata, not data) moves through the driver. Empty clusters keep
    * their previous centroid. */
  private def trainCentroids(spark: SparkSession, e: DataFrame, K: Int,
      iters: Int, sampleMod: Int): Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    val train = e.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    var cent: Map[Long, Seq[Double]] = e.filter(col("vec_id") < K)
      .orderBy("vec_id")
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    try {
      for (_ <- 1 to iters) {
        val cdf = cent.toSeq.sortBy(_._1).toDF("cid", "cv")
        val assigned = train.crossJoin(broadcast(cdf))
          .select(col("vec_id"), col("v"), col("cid"),
            cosine(col("v"), col("cv")).as("sim"))
          .groupBy("vec_id")
          .agg(max_by(struct(col("cid"), col("v")),
            struct(col("sim"), (-col("cid")).as("nc"))).as("best"))
        val means = assigned
          .select(col("best.cid").cast("long").as("cid"),
            posexplode(col("best.v")))
          .toDF("cid", "pos", "x")
          .groupBy("cid", "pos").agg(avg("x").as("m"))
          .collect().groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          }
        cent = cent.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
      }
      cent.toSeq.sortBy(_._1)
    } finally { train.unpersist(); () }
  }

  /** Empty result with an explicit schema — the empty-panel degenerate
    * case of the panel-scoring queries (an empty corpus used to produce
    * an empty broadcast side; the literal-matrix primitives reject
    * empty matrices instead, so the operator short-circuits). */
  private def emptyResult(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** q49's exact brute-force top-k (the recall ground truth): the query
    * panel is a bounded collect (QueryCount rows), scored in-row against
    * the whole corpus via the native CosineAll matrix loop. */
  private[graft] def bruteTopK(s: SparkSession, d: String): DataFrame = {
    val panel = emb(s, d).filter(col("vec_id") < QueryCount)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    if (panel.isEmpty)
      emptyResult(s, "q BIGINT, n BIGINT, rnk BIGINT, cos DOUBLE")
    else {
      val qIds = typedLit(panel.map(_._1).toSeq)
      val pairs = emb(s, d)
        .select(col("vec_id").as("n"),
          posexplode(graft.functions.CosineAll.cosineAll(col("embedding"),
            panel.map(_._2).toIndexedSeq)).as(Seq("aidx", "cos")))
        .select(element_at(qIds, col("aidx") + 1).as("q"), col("n"),
          col("cos"))
        .filter(col("q") =!= col("n"))
      topkPerQuery(pairs)
    }
  }

  /** q50's operational top-k frame: hyperplane-LSH bucketed candidates
    * (native multi-table expression, fused codegen over a constant
    * matrix), deduplicated before the exact rerank. */
  private[graft] def lshTopK(s: SparkSession, d: String): DataFrame = {
    val sigs = emb(s, d)
      .select(col("vec_id"), col("embedding"),
        posexplode(graft.functions.HyperplaneLsh.hplsh(col("embedding"))))
      .toDF("vec_id", "embedding", "tb", "bkt")
    val q = sigs.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q"), col("embedding").as("qv"),
        col("tb"), col("bkt"))
    val c = sigs.select(col("vec_id").as("n"), col("embedding").as("nv"),
      col("tb"), col("bkt"))
    val pairs = c.join(broadcast(q), Seq("tb", "bkt"))
      .filter(col("q") =!= col("n"))
      .dropDuplicates("q", "n")
      .select(col("q"), col("n"), cosine(col("qv"), col("nv")).as("cos"))
    topkPerQuery(pairs)
  }

  /** q92's operational top-k frame: product-quantization codes against a
    * broadcast-literal codebook, ADC-scored candidates, exact rerank.
    * The codebook collect is K=16 seed vectors — metadata, not data. */
  private[graft] def pqTopK(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ProductQuant.{pqAdcTable, pqEncode, pqScore}
    val M = 8; val K = 16; val Cand = 60
    val e = emb(s, d)
    val norm = e.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => x / sqrt(norm2(col("embedding")))).as("nv"))
    val seeds = norm.filter(col("vec_id") < K).orderBy("vec_id")
      .select("nv").collect().map(_.getSeq[Double](0).toArray)
    val sub = seeds(0).length / M
    val flat = new Array[Double](M * K * sub)
    for (j <- 0 until M; kk <- 0 until K; t <- 0 until sub)
      flat((j * K + kk) * sub + t) = seeds(kk)(j * sub + t)
    val cb = typedLit(flat.toSeq)
    val codes = norm.select(col("vec_id").as("n"),
      pqEncode(col("nv"), cb, M, K).as("codes"))
    val queries = norm.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q"), pqAdcTable(col("nv"), cb, M, K).as("tbl"))
    val scored = codes.join(broadcast(queries), col("q") =!= col("n"))
      .select(col("q"), col("n"), pqScore(col("codes"), col("tbl"), K).as("approx"))
    val wCand = Window.partitionBy("q").orderBy(col("approx").desc, col("n"))
    val cands = scored.withColumn("crn", row_number().over(wCand))
      .filter(col("crn") <= Cand).select("q", "n")
    val qv = norm.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q"), col("nv").as("qv"))
    val pairs = norm.select(col("vec_id").as("n"), col("nv").as("cv"))
      .join(broadcast(cands), Seq("n"))
      .join(broadcast(qv), Seq("q"))
      .select(col("q"), col("n"), cosine(col("qv"), col("cv")).as("cos"))
    topkPerQuery(pairs)
  }

  /** The ANN sketch entries' ORACLED RECALL ROW (VERDICT r8 item 7):
    * n_exact — the exact top-k row count — is a REAL differential column
    * (DuckDB recomputes it from the q49 SQL), and meets_floor certifies
    * recall@k = |approx ∩ exact| / n_exact ≥ floorPct/100. The sketch
    * output itself stays engine-specific; a recall regression now breaks
    * the CORRECTNESS hash instead of only a spec. Counts are driver
    * scalars (two bounded aggregates). */
  private def annRecallRow(s: SparkSession, d: String,
      approx: DataFrame, floorPct: Int): DataFrame = {
    import s.implicits._
    val exact = bruteTopK(s, d).select("q", "n")
    // one job (see q46): the exact brute-force pipeline runs once, not
    // once per count; distinct() keeps the left join row-preserving
    val r = exact.join(
        approx.select("q", "n").distinct().withColumn("_hit", lit(1)),
        Seq("q", "n"), "left")
      .agg(count(lit(1)).as("n"), count(col("_hit")).as("hits")).head
    val (n, hit) = (r.getLong(0), r.getLong(1))
    val meets = if (n == 0 || hit * 100 >= n * floorPct) 1L else 0L
    Seq((n, floorPct.toLong, meets))
      .toDF("n_exact", "recall_floor_pct", "meets_floor")
  }

  /** The matching oracle text: n_exact from the q49 SQL, gates literal. */
  private def annRecallSql(floorPct: Int): String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       |CAST($floorPct AS BIGINT) AS recall_floor_pct,
       |CAST(1 AS BIGINT) AS meets_floor FROM (
       |WITH p AS (SELECT q.vec_id AS q, c.vec_id AS n, $cosSql AS cos
       |FROM embeddings q JOIN embeddings c ON q.vec_id < $QueryCount AND q.vec_id != c.vec_id)
       |SELECT q, n FROM (SELECT q, n, ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rnk FROM p)
       |WHERE rnk <= $TopK)""".stripMargin.replace("\n", " ")

  private def topkPerQuery(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("q").orderBy(col("cos").desc, col("n"))
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopK)
      .select("q", "n", "rnk", "cos")
      .orderBy("q", "rnk")
  }

  private val cosSql =
    """list_sum(list_transform(list_zip(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), z -> z[1]*z[2]))
      |/ (sqrt(list_sum(list_transform(CAST(q.embedding AS DOUBLE[]), z -> z*z)))
      |   * sqrt(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), z -> z*z))))"""
      .stripMargin.replace("\n", " ")

  // ---- shared RRF fusion core (q131 + its q135/q148/q153 successors) ----

  /** Fused retrieval candidates as a LOCAL literal frame: doc_id, r_lex,
    * r_dense (nullable ranks from the two top-100 lists), the dense
    * cosine, the RRF score — plus n_chars and n_tokens carried through
    * so the q135 rerank prior and the q153 token budget need NO further
    * corpus scan. Empty (with schema) when the query vector is absent.
    *
    * r14 floor rebuild (VERDICT r13 item 1): the r13 shape ran 4–6 jobs
    * per query (qv collect, stats + df broadcasts off a persisted
    * posting frame, two TakeOrdered branches, an outer fuse join, rank
    * windows) — a ~1 s scheduler floor against DuckDB's 0.1 s. Now TWO
    * bounded one-row collects (each may carry one planner-chosen
    * broadcast-build job for the candidate join):
    *
    *  1. stats+qv — ONE job: a union of the BM25 stats aggregate over
    *     the candidate join (one row: n_docs, sum_dl, per-term df) and
    *     the vec_id=0 query-vector row — CACHED per corpus dir
    *     ([[rrfPre]]: index metadata, the centroidCache precedent), so
    *     a session's repeated retrievals pay it once.
    *  2. both top-100 lists — ONE job PER QUERY: per-doc BM25 score
    *     (in-row, the stats folded to literals —
    *     [[TextAnalysis.bm25InRowScore]]) and cosine in one codegen
    *     projection over the candidate join, feeding two
    *     [[graft.functions.TopKRowsByScore]] aggregates (map-side
    *     bounded: each partition ships ≤100 rows per list).
    *
    * Rank assignment and RRF fusion then run on ≤200 collected rows
    * driver-side — the same bounded-by-construction class as the eval
    * panels — with the oracle's exact double ops (1.0/(60.0+rank),
    * missing branch → 0.0, summed lex+dense). Values are bit-identical
    * to the r13 shape: same integers through the same IEEE chains, same
    * (score DESC, doc_id) / (cos DESC, doc_id) comparators (NaN first,
    * as both engines sort DESC). At 100 TB the corpus streams through
    * two scans with constant-size aggregation state and nothing
    * data-proportional ever reaches the driver. */
  /** rrfFused's job-1 products, cached per corpus dir (the
    * centroidCache / bm25DocStats precedent): the query vector and the
    * candidate-population BM25 stats are versioned index metadata — one
    * 5-number row plus one d-dim vector, bounded. The bench's
    * first_build_wall carries the cold cost (q188-class convention);
    * the per-query work that remains per execution is the real
    * retrieval scan (job 2). */
  private val rrfPreCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long), (Seq[Double], TextAnalysis.Bm25Stats)]

  /** Probe-only (graft.ScaleCheck cold mode): see
    * [[TextAnalysis.clearStampedCaches]]. */
  private[graft] def clearStampedCaches(): Unit = rrfPreCache.clear()

  private def rrfPre(s: SparkSession, d: String)
      : (Seq[Double], TextAnalysis.Bm25Stats) =
    TextAnalysis.stampCached(rrfPreCache, (d,
      TextAnalysis.sourceStamp(d, "documents"),
      TextAnalysis.sourceStamp(d, "embeddings")))(_._1 == d) {
      val terms = TextAnalysis.QueryTerms
      val cand = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .join(emb(s, d).filter(col("vec_id") =!= 0)
          .select(col("vec_id")), col("doc_id") === col("vec_id"))
      // ONE job: BM25 stats over cand + the query vector, one union,
      // one collect (≤2 rows)
      val statsLeg = TextAnalysis.bm25StatsAgg(cand, terms)
        .select(lit("s").as("tag"), col("n_docs").cast("long").as("n_docs"),
          col("sum_dl").cast("long").as("sum_dl"),
          col("df0").cast("long").as("df0"), col("df1").cast("long").as("df1"),
          col("df2").cast("long").as("df2"),
          lit(null).cast("array<double>").as("qv"))
      val qvLeg = emb(s, d).filter(col("vec_id") === 0).limit(1)
        .select(lit("q").as("tag"), lit(null).cast("long").as("n_docs"),
          lit(null).cast("long").as("sum_dl"), lit(null).cast("long").as("df0"),
          lit(null).cast("long").as("df1"), lit(null).cast("long").as("df2"),
          col("embedding").cast("array<double>").as("qv"))
      val pre = statsLeg.unionByName(qvLeg).collect()
      val qv = pre.find(_.getString(0) == "q")
        .map(_.getSeq[Double](6)).getOrElse(Seq.empty)
      val st = pre.find(_.getString(0) == "s")
        .map(r => TextAnalysis.Bm25Stats(
          if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2),
          (3 to 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
            .toIndexedSeq))
        .getOrElse(TextAnalysis.Bm25Stats(0L, 0L, IndexedSeq(0L, 0L, 0L)))
      (qv, st)
    }

  private def rrfFused(s: SparkSession, d: String): DataFrame = {
    val terms = TextAnalysis.QueryTerms
    val wideSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, r_lex BIGINT, r_dense BIGINT, cos DOUBLE, " +
        "rrf DOUBLE, n_chars BIGINT, n_tokens BIGINT")
    val cand = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .join(emb(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
    val (qv, st) = rrfPre(s, d)
    if (qv.isEmpty)
      s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        wideSchema)
    else {
      // job 2: one codegen projection (score, cos, payload), two
      // bounded top-100 aggregates, one one-row collect
      val lowered = lower(col("text"))
      val scored = cand.select(col("doc_id"),
        (if (st.nDocs == 0L) lit(null).cast("double")
         else TextAnalysis.bm25InRowScore(lowered, terms, st)).as("score"),
        graft.functions.CosineSim
          .cosineSim(typedLit(qv), col("embedding")).as("cos"),
        col("n_chars").cast("long").as("nc"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("nt"))
      val tops = scored.agg(
        graft.functions.TopKRowsByScore.topkRows(
          col("score"), col("doc_id"), col("nc"), col("nt"), 100).as("lex"),
        graft.functions.TopKRowsByScore.topkRows(
          col("cos"), col("doc_id"), col("nc"), col("nt"), 100).as("dense"))
        .collect().head
      val lex = tops.getSeq[org.apache.spark.sql.Row](0)
      val dense = tops.getSeq[org.apache.spark.sql.Row](1)
      // driver fusion on ≤200 rows: rank = 1-based position in each
      // rank-ordered list; the oracle's exact RRF double chain
      val lexRank = lex.zipWithIndex.map { case (r, i) =>
        r.getLong(1) -> ((i + 1).toLong, r.getLong(2), r.getLong(3))
      }.toMap
      val denseRank = dense.zipWithIndex.map { case (r, i) =>
        r.getLong(1) -> ((i + 1).toLong, r.getDouble(0), r.getLong(2),
          r.getLong(3))
      }.toMap
      val rows = (lexRank.keySet ++ denseRank.keySet).toSeq.sorted.map { id =>
        val l = lexRank.get(id)
        val dn = denseRank.get(id)
        val rrf = l.map(x => 1.0 / (60.0 + x._1.toDouble)).getOrElse(0.0) +
          dn.map(x => 1.0 / (60.0 + x._1.toDouble)).getOrElse(0.0)
        val nc = l.map(_._2).orElse(dn.map(_._3)).get
        val nt = l.map(_._3).orElse(dn.map(_._4)).get
        org.apache.spark.sql.Row(id,
          l.map(x => java.lang.Long.valueOf(x._1)).orNull,
          dn.map(x => java.lang.Long.valueOf(x._1)).orNull,
          dn.map(x => java.lang.Double.valueOf(x._2)).orNull,
          rrf, nc, nt)
      }
      s.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, wideSchema)
    }
  }

  /** DuckDB CTE chain ending in `fused(doc_id, r_lex, r_dense, cos,
    * rrf)` — the oracle twin of [[rrfFused]]. */
  private def rrfFusedSqlCtes: String =
    "cand AS (SELECT d.doc_id, d.text, c.embedding FROM documents d " +
      "  JOIN embeddings c ON d.doc_id = c.vec_id AND c.vec_id <> 0), " +
      "q AS (SELECT embedding FROM embeddings WHERE vec_id = 0), " +
      "dense AS (SELECT c.doc_id, " + cosSql + " AS cos FROM cand c, q), " +
      "dtop AS (SELECT doc_id, cos, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS r_dense " +
      "  FROM (SELECT * FROM dense ORDER BY cos DESC, doc_id LIMIT 100)), " +
      TextAnalysis.bm25SqlCtes("cand", TextAnalysis.QueryTerms) + ", " +
      "ltop AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex " +
      "  FROM (SELECT * FROM bm25 ORDER BY score DESC, doc_id LIMIT 100)), " +
      "fused AS (SELECT COALESCE(ltop.doc_id, dtop.doc_id) AS doc_id, " +
      "r_lex, r_dense, cos, " +
      "COALESCE(1.0 / (60.0 + CAST(r_lex AS DOUBLE)), 0.0) " +
      "+ COALESCE(1.0 / (60.0 + CAST(r_dense AS DOUBLE)), 0.0) AS rrf " +
      "FROM ltop FULL OUTER JOIN dtop ON ltop.doc_id = dtop.doc_id)"

  // ---- q136 nDCG constants (identical literal strings both engines) ----

  /** 1/log2(i+1) for ranks 1..10 as DOUBLES, emitted through Java's
    * shortest-round-trip repr — both engines parse the literal to the
    * same bits. (A DECIMAL formulation was tried first and failed by
    * one ulp: DuckDB's decimal→double conversion divides the scaled
    * integer in floating point, which is not correctly rounded the way
    * Java's BigDecimal.doubleValue is.) Computed once at class init —
    * driver-side libm on constants, not per-row. */
  private val Gains: IndexedSeq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Ideal-DCG prefixes: sequential left-to-right double sums of the
    * gains — the same fold order both engines' list_sum/aggregate use. */
  private val GainPrefix: IndexedSeq[Double] =
    Gains.scanLeft(0.0)(_ + _).tail

  /** CASE over a rank column yielding the double gain literal — in
    * SCIENTIFIC notation (`...e0`): both engines parse an exponent
    * literal directly as DOUBLE (correctly rounded), whereas a plain
    * literal parses as DECIMAL first, and DuckDB's decimal→double hop
    * is off by an ulp for some 17-digit values (measured:
    * 0.38685280723454163 → the neighboring double). */
  private def gainCaseSql(rnkCol: String): String =
    s"CASE $rnkCol " + (1 to 10).map(i =>
      s"WHEN $i THEN ${Gains(i - 1)}e0").mkString(" ") + " ELSE 0.0e0 END"

  /** CASE over LEAST(n_rel, 10) yielding the ideal-DCG prefix. */
  private def idcgCaseSql(nRelCol: String): String =
    s"CASE LEAST($nRelCol, 10) " + (1 to 10).map(i =>
      s"WHEN $i THEN ${GainPrefix(i - 1)}e0").mkString(" ") + " ELSE 1.0e0 END"

  val all: Seq[GraftQuery] = Seq(

    // Brute-force ANN baseline. The query panel scores IN-ROW via
    // [[graft.functions.CosineAll]] (no join: a broadcast NLJ would
    // materialize corpus×panel rows each carrying both embeddings);
    // posexplode emits narrow (q, n, cos) rows into the top-k window.
    GraftQuery("q49_ann_brute",
      (s, d) => bruteTopK(s, d),
      Some(s"""WITH p AS (SELECT q.vec_id AS q, c.vec_id AS n, $cosSql AS cos
        |FROM embeddings q JOIN embeddings c ON q.vec_id < $QueryCount AND q.vec_id != c.vec_id),
        |r AS (SELECT q, n, cos, CAST(ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, n) AS BIGINT) AS rnk FROM p)
        |SELECT q, n, rnk, cos FROM r WHERE rnk <= $TopK ORDER BY q, rnk"""
        .stripMargin.replace("\n", " ")),
    ),

    // Hard-negative mining — for each anchor, the top-k most-similar
    // vectors with a DIFFERENT label: the pair-construction step of
    // contrastive training (the negatives that actually move the loss
    // are the similar-but-wrong ones). Same distributed shape as q49 —
    // the anchor set broadcasts WITH its labels, the corpus streams
    // once, and the label inequality prunes inside the codegen join
    // condition before any cosine is scored.
    GraftQuery("q116_hard_negatives",
      (s, d) => {
        val panel = emb(s, d).filter(col("vec_id") < QueryCount)
          .select(col("vec_id"), col("label").cast("long"),
            col("embedding").cast("array<double>"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
          .sortBy(_._1)
        if (panel.isEmpty)
          emptyResult(s, "q BIGINT, n BIGINT, rnk BIGINT, cos DOUBLE")
        else {
          val qIds = typedLit(panel.map(_._1).toSeq)
          val qLabels = typedLit(panel.map(_._2).toSeq)
          // in-row panel scoring, same shape as q49; the label
          // inequality (which also excludes the anchor itself) prunes
          // the narrow exploded rows before the top-k window
          val pairs = emb(s, d)
            .select(col("vec_id").as("n"), col("label").cast("long").as("nl"),
              posexplode(graft.functions.CosineAll.cosineAll(col("embedding"),
                panel.map(_._3).toIndexedSeq)).as(Seq("aidx", "cos")))
            .filter(element_at(qLabels, col("aidx") + 1) =!= col("nl"))
            .select(element_at(qIds, col("aidx") + 1).as("q"), col("n"),
              col("cos"))
          topkPerQuery(pairs)
        }
      },
      Some(s"""WITH p AS (SELECT q.vec_id AS q, c.vec_id AS n, $cosSql AS cos
        |FROM embeddings q JOIN embeddings c ON q.vec_id < $QueryCount AND q.label != c.label),
        |r AS (SELECT q, n, cos, CAST(ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, n) AS BIGINT) AS rnk FROM p)
        |SELECT q, n, rnk, cos FROM r WHERE rnk <= $TopK ORDER BY q, rnk"""
        .stripMargin.replace("\n", " ")),
    ),

    // Embedding-quality evaluation by nearest-neighbor label
    // consistency: for a bounded anchor panel (every 10th vector among
    // the first [[AnchorCap]] — a fixed-size eval sample; the estimate's
    // confidence depends on panel size, not corpus size, so the panel
    // must NOT scale with the corpus), does the top-1 neighbor share
    // the anchor's label? Reported per label — the cheap, label-only
    // proxy for "are these embeddings good enough to train on" that
    // corpus builders run before committing to a crawl.
    //
    // Shape: the panel (≤ AnchorCap/10 rows — driver-bounded model
    // metadata, the same collect scale as the IVF centroid cache) rides
    // into [[graft.functions.PanelTop1]] as literals; the corpus
    // streams ONCE through the aggregate, whose state is the running
    // per-anchor best — nothing per-pair ever exists as a row (the
    // naive broadcast NLJ materializes corpus×panel rows each carrying
    // both embeddings — ~400 GB of row traffic at 200k×2000 — and even
    // an in-row score array + posexplode pays corpus×panel interpreted
    // row transitions; measured 538 s and 380 s there vs ~35 s here).
    // The exchange carries one panel-length buffer per partition. Cost
    // is anchors × corpus FLOPs = LINEAR in the corpus (the g1→g10
    // probe's exp 2.06 was the pre-cap anchors-∝-corpus form).
    GraftQuery("q118_knn_label_eval",
      (s, d) => {
        // anchor panel to the driver in deterministic vec_id order:
        // ≤ AnchorCap/10 × d doubles, bounded by construction
        val panel = emb(s, d)
          .filter(pmod(col("vec_id"), lit(10)) === 0 &&
            col("vec_id") < AnchorCap)
          .select(col("vec_id").cast("long"), col("label").cast("long"),
            col("embedding").cast("array<double>"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
          .sortBy(_._1)
        if (panel.isEmpty)
          emptyResult(s,
            "label BIGINT, n_anchors BIGINT, n_consistent BIGINT")
        else {
          val qLabels = typedLit(panel.map(_._2).toSeq)
          emb(s, d)
            .agg(graft.functions.PanelTop1.panelTop1(
              col("embedding"), col("vec_id").cast("long"),
              col("label").cast("long"),
              panel.map(_._1).toIndexedSeq,
              panel.map(_._3).toIndexedSeq).as("best"))
            .select(posexplode(col("best")).as(Seq("aidx", "nl")))
            .filter(col("nl").isNotNull)
            .select(element_at(qLabels, col("aidx") + 1).as("label"),
              col("nl"))
            .groupBy("label")
            .agg(count(lit(1)).as("n_anchors"),
              sum(when(col("label") === col("nl"), 1L).otherwise(0L))
                .cast("long").as("n_consistent"))
            .orderBy("label")
        }
      },
      Some(s"""WITH p AS (SELECT q.vec_id AS q, q.label AS ql, c.vec_id AS n, c.label AS nl, $cosSql AS cos
        |FROM embeddings q JOIN embeddings c ON q.vec_id % 10 = 0 AND q.vec_id < $AnchorCap AND q.vec_id != c.vec_id),
        |r AS (SELECT q, ql, nl, ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, n) AS rnk FROM p)
        |SELECT CAST(ql AS BIGINT) AS label, COUNT(*) AS n_anchors,
        |CAST(SUM(CASE WHEN ql = nl THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent
        |FROM r WHERE rnk = 1 GROUP BY 1 ORDER BY label"""
        .stripMargin.replace("\n", " ")),
    ),

    // IVF-style ANN: partition the corpus into K inverted lists around
    // k-means-TRAINED centroids (Lloyd's on a deterministic hash sample,
    // seeded from the first K vectors), probe the nprobe nearest lists
    // per query, exact-rerank inside them. At scale the cluster
    // assignment is a narrow broadcast-scored map and each query touches
    // |corpus|·nprobe/K candidates instead of all; training cost is
    // iters × (sampled scan + (cid,dim) aggregation), independent of
    // query volume, and amortizes across every query served.
    // Assignment is a map-side-combined max_by per vec_id: the corpus ×
    // K-centroid scoring collapses to one row per vector BEFORE the
    // groupBy shuffle (broadcast cross-join keeps corpus partitioning), so
    // the shuffle carries |corpus| rows, not the K-fold blowup a
    // row_number window over the scored pairs would materialize.
    // IVF recall row: the k-means-trained inverted-list probe must find
    // ≥ 50% of the exact top-5 (CorpusSpec floor; 2/16 lists probed).
    // Operational top-k frame: [[ivfQuery]].
    GraftQuery("q58_ann_ivf",
      (s, d) => annRecallRow(s, d, ivfQuery(s, d, trainIters = 2), 50),
      Some(annRecallSql(50))),

    // Product-quantization ANN (Jégou et al. 2011): corpus vectors are
    // compressed to M=8 codeword indices against a broadcast-literal
    // codebook (training-free: first-K seed subvectors, like q58's
    // centroid seeds); each query carries an ADC lookup table, and the
    // pair-scoring is the native codegen PqScore — M array reads instead
    // of a d-dim dot product. Scale shape: the candidate shuffle carries
    // (q, n, approx) ONLY — the embedding column never enters it; the
    // exact rerank joins the tiny candidate set back to the corpus.
    // Vectors are L2-normalized up front so approximate dot ≡
    // approximate cosine.
    // PQ recall row: ADC-scored 60-candidate rerank must find ≥ 60% of
    // the exact top-5 (measured 0.82 at sf0.01 / 0.65 at sf0.1 — the
    // floor holds at both). Operational top-k frame: [[pqTopK]].
    GraftQuery("q92_ann_pq",
      (s, d) => annRecallRow(s, d, pqTopK(s, d), 60),
      Some(annRecallSql(60))),

    // LSH-bucketed ANN: same output shape as q49 so recall is directly
    // comparable; approximation is engine-specific → rows-only check
    // (recall@5 vs q49 ground truth asserted in CorpusSpec).
    // Bucketing is the native multi-table HyperplaneLsh expression
    // (fused codegen loop over a constant matrix); the round-1
    // interpreted single-table HOF form was the bench's worst query at
    // 18 s AND had recall@5 of 0.02. A candidate qualifies by colliding
    // in ANY of the 12 tables; duplicates collapse before the exact
    // rerank so each surviving pair is scored once.
    // LSH recall row: single-probe 12-table bucketing must find ≥ 25% of
    // the exact top-5 (CorpusSpec floor; ~1/64 of the corpus per bucket
    // at 6 bits). Operational top-k frame: [[lshTopK]].
    GraftQuery("q50_ann_lsh",
      (s, d) => annRecallRow(s, d, lshTopK(s, d), 25),
      Some(annRecallSql(25)))
    ,

    // Per-label embedding centroids — class prototypes / topic vectors,
    // the aggregation side of embedding pipelines (SemDeDup's cluster
    // means, nearest-class-mean classifiers). Declarative and
    // oracle-exact: posexplode to (label, pos, v), one exchange whose
    // map-side combine collapses every partition to ≤ labels×dim
    // partial sums — the shuffle is INDEPENDENT of corpus size, which
    // is the property that makes this the 100 TB shape (a collect-based
    // or driver-side mean would not be). Determinism: float addition
    // does not commute, and a decimal CAST round-trips through decimal
    // ROUNDING, whose half-way rule differs across engines (one tie in
    // this corpus's 32k roundings broke hash-equality at DECIMAL(27,10)).
    // Instead each element quantizes to a 2^-30 grid with pure IEEE
    // double ops — floor(v·2^30 + 0.5) is bit-identical everywhere —
    // and the grid integers sum exactly through DECIMAL(38,0) (BIGINT
    // would hold ~2^33 rows per (label,pos) before overflow; decimal
    // removes even that bound).
    GraftQuery("q108_label_centroids",
      (s, d) => emb(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("v").cast("double") * 1073741824.0 + 0.5)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / 1073741824.0 / count(lit(1))).as("c"))
        .select(col("label").cast("long").as("label"),
          col("pos").cast("long").as("pos"), col("n"), col("c"))
        .orderBy("label", "pos"),
      Some("WITH e AS (SELECT label, unnest(embedding) AS v, " +
        "unnest(generate_series(0, len(embedding)-1)) AS pos FROM embeddings) " +
        "SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos, COUNT(*) AS n, " +
        "CAST(SUM(CAST(floor(CAST(v AS DOUBLE)*1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)" +
        "/1073741824.0/COUNT(*) AS c " +
        "FROM e GROUP BY 1, 2 ORDER BY label, pos"))
    ,

    // Semantic decontamination — the embedding-space member of the
    // decontamination family (q91 prefix containment, q104 n-gram
    // collision): flag every corpus vector whose nearest BENCHMARK
    // vector scores >= tau, reporting which benchmark item it leaks.
    // The benchmark panel is id-capped (<= BenchCap/25 vectors at ANY
    // corpus size — eval suites are fixed-size; they do not grow with
    // the crawl) and rides in as a literal matrix, so the corpus
    // streams ONCE through in-row [[graft.functions.CosineAll]]
    // scoring — no join, no exploded pair rows, nothing shuffles but
    // the contaminated survivors feeding the output sort. argmax is
    // in-row too: array_position over the score array picks the
    // LOWEST panel index among exact ties, which is bench-id
    // ascending — the oracle's (cos DESC, bench_id) order.
    GraftQuery("q122_semantic_decontamination",
      (s, d) => {
        val isBench =
          pmod(col("vec_id"), lit(25)) === 7 && col("vec_id") < BenchCap
        val panel = emb(s, d).filter(isBench)
          .select(col("vec_id").cast("long"),
            col("embedding").cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
          .sortBy(_._1)
        if (panel.isEmpty)
          emptyResult(s, "vec_id BIGINT, bench_id BIGINT, cos DOUBLE")
        else {
          val bIds = typedLit(panel.map(_._1).toSeq)
          emb(s, d).filter(!isBench)
            .select(col("vec_id").cast("long").as("vec_id"),
              graft.functions.CosineAll.cosineAll(col("embedding"),
                panel.map(_._2).toIndexedSeq).as("cs"))
            .select(col("vec_id"),
              element_at(bIds,
                array_position(col("cs"), array_max(col("cs"))).cast("int"))
                .as("bench_id"),
              array_max(col("cs")).as("cos"))
            .filter(col("cos") >= ContamTau)
            .orderBy("vec_id")
        }
      },
      Some(s"""WITH p AS (SELECT c.vec_id AS vec_id, q.vec_id AS bench_id, $cosSql AS cos
        |FROM embeddings q JOIN embeddings c
        |ON q.vec_id % 25 = 7 AND q.vec_id < $BenchCap
        |AND NOT (c.vec_id % 25 = 7 AND c.vec_id < $BenchCap)),
        |r AS (SELECT vec_id, bench_id, cos, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rnk FROM p)
        |SELECT vec_id, bench_id, cos FROM r WHERE rnk = 1 AND cos >= $ContamTau ORDER BY vec_id"""
        .stripMargin.replace("\n", " ")),
    ),

    // Scalar int8 quantization audit — the storage-compression step of
    // an embedding pipeline (4× smaller than float32): per vector,
    // symmetric per-vector scale s = max|x|/127, q_i = round(x_i/s),
    // and the report is per-label relative reconstruction error
    // Σ(x−x̂)²/Σx². Determinism: every per-element term is a fixed-order
    // double chain (float→double casts are exact; round() is
    // half-away-from-zero in BOTH engines, and a double can never sit
    // exactly on a decimal tie, so the per-term doubles are
    // bit-identical); each term is then fixed-point quantized at 2⁻⁵⁰ —
    // ×2⁵⁰ is a pure exponent shift (exact in double) and floor() is
    // IEEE-exact, so the summands are identical INTEGERS and the sums
    // are order-independent (a DECIMAL(s>0) quantizer would NOT be:
    // DuckDB's double→decimal cast multiplies by 10^s in double, which
    // re-rounds differently than Spark's exact BigDecimal expansion —
    // measured one-ulp drift at sf0.01). The one final division happens
    // in double on identical integers. Scale shape: the whole
    // per-vector computation is ONE fused native codegen loop
    // ([[graft.functions.Int8QuantStats]] — per-element summands are
    // identical integers, so in-row long addition is order-free and
    // bit-equal to the exploded form); the exchange carries per-label
    // decimal partials, never element rows.
    GraftQuery("q128_int8_quant",
      (s, d) => {
        emb(s, d)
          .select(col("label"),
            graft.functions.Int8QuantStats.int8Stats(col("embedding"))
              .as("st"))
          .filter(col("st").isNotNull)
          .groupBy("label")
          .agg(sum(col("st.n").cast("long")).cast("long").as("n_elems"),
            (sum(col("st.e2").cast("decimal(38,0)")).cast("double") /
              sum(col("st.n2").cast("decimal(38,0)")).cast("double"))
              .as("rel_err"))
          .orderBy("label")
      },
      Some("WITH e AS (SELECT vec_id, label, " +
        "CAST(list_max(list_transform(embedding, v -> abs(v))) AS DOUBLE) AS m, " +
        "UNNEST(embedding) AS x FROM embeddings), " +
        "t AS (SELECT label, " +
        "CAST(floor((CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / (m / 127.0)) * (m / 127.0)) " +
        " * (CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / (m / 127.0)) * (m / 127.0)) " +
        " * 1125899906842624.0) AS BIGINT) AS e2, " +
        "CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1125899906842624.0) AS BIGINT) AS n2 " +
        "FROM e WHERE m > 0.0) " +
        "SELECT label, COUNT(*) AS n_elems, " +
        "CAST(SUM(e2) AS DOUBLE) / CAST(SUM(n2) AS DOUBLE) AS rel_err " +
        "FROM t GROUP BY label ORDER BY label")
    ),

    // Hybrid retrieval with reciprocal-rank fusion — the fusion step of
    // a modern search stack: the lexical ranking (q126's rational-idf
    // BM25) and the dense ranking (cosine against one query vector)
    // each produce their top-100 list, and candidates fuse by
    // Σ 1/(60+rank) — the standard RRF constant, integer ranks, so the
    // two-term double sum is a fixed-order exact chain. Fusing
    // FIXED-SIZE retrieved lists (not whole-corpus ranks) is both the
    // real system semantics and the scale story: each branch ends in a
    // TakeOrdered (no global window over the corpus), the rank windows
    // run on 100-row bounded frames, and the only data-sized work is
    // the two retrieval branches themselves (term-filtered lexical
    // stream; one in-row cosine pass). The full-outer fuse join is
    // 100×100 rows, bounded by construction; the query-vector collect
    // is a 1-row documented exception.
    GraftQuery("q131_hybrid_rrf",
      (s, d) => rrfFused(s, d)
        .select(col("doc_id"), col("r_lex"), col("r_dense"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20),
      Some("WITH " + rrfFusedSqlCtes +
        " SELECT doc_id, r_lex, r_dense, rrf FROM fused " +
        "ORDER BY rrf DESC, doc_id LIMIT 20")
    ),

    // Cross-encoder-style RERANKING over the RRF candidates — q131's
    // natural successor in a retrieval stack: first-stage retrieval
    // fuses cheap rankings, then a (here: deterministic) scorer with
    // richer per-(query,doc) features reorders the SHORT list. The
    // stand-in scorer is a fixed-weight feature dot-product — inverse
    // lexical rank, inverse dense rank, the raw dense cosine, and a
    // rational length prior — evaluated as one left-associated double
    // chain on inputs both engines compute identically (ranks are
    // integers, cos is the q48/q49-established bit-exact expression,
    // the length prior is a rational in BIGINT n_chars). The 100 TB
    // shape is the point: the expensive model runs on ≤200 fused rows
    // regardless of corpus size — r14: the fused frame CARRIES n_chars
    // out of the candidate scan (rrfFused's payload columns), so the
    // rerank is pure local arithmetic on the ≤200-row literal frame;
    // the former broadcast-join re-scan of documents is gone. (The
    // oracle still spells the join — doc_id is unique in documents, so
    // carrying the column is equivalent.)
    GraftQuery("q135_rerank",
      (s, d) => {
        val fused = rrfFused(s, d)
        fused
          .select(col("doc_id"), col("r_lex"), col("r_dense"),
            (lit(2.0) * coalesce(lit(1.0) /
                (lit(1.0) + col("r_lex").cast("double")), lit(0.0)) +
              lit(1.5) * coalesce(lit(1.0) /
                (lit(1.0) + col("r_dense").cast("double")), lit(0.0)) +
              lit(1.0) * coalesce(col("cos"), lit(0.0)) +
              lit(0.25) * (lit(1000.0) /
                (lit(1000.0) + col("n_chars").cast("double"))))
              .as("ce_score"))
          .orderBy(col("ce_score").desc, col("doc_id")).limit(10)
      },
      Some("WITH " + rrfFusedSqlCtes +
        " SELECT f.doc_id, r_lex, r_dense, " +
        "2.0 * COALESCE(1.0 / (1.0 + CAST(r_lex AS DOUBLE)), 0.0) " +
        "+ 1.5 * COALESCE(1.0 / (1.0 + CAST(r_dense AS DOUBLE)), 0.0) " +
        "+ 1.0 * COALESCE(cos, 0.0) " +
        "+ 0.25 * (1000.0 / (1000.0 + CAST(n_chars AS DOUBLE))) AS ce_score " +
        "FROM fused f JOIN documents dd ON f.doc_id = dd.doc_id " +
        "ORDER BY ce_score DESC, f.doc_id LIMIT 10")
    ),

    // MMR diversified rerank — the third reranking shape of the stack
    // (q131 fuses rankings, q135 rescores pointwise, MMR selects a SET):
    // greedy Maximal Marginal Relevance over the top-100 RRF candidates,
    // score(d) = λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s), λ = 0.7 — the
    // near-duplicate suppression step a RAG context builder runs so 10
    // slots aren't spent on 10 copies of one passage. The greedy loop is
    // BOUNDED model-side compute (≤100 candidates × k=10 picks, like the
    // centroid training and eval panels — a documented-exception driver
    // collect; the corpus streamed only in the first stage), and every
    // pick is deterministic: rel is q131's bit-exact RRF double, the
    // pairwise cosine replicates CosineSim's index-order arithmetic, the
    // λ-chain is the same double ops both engines run, ties break by
    // doc_id. The oracle replays the identical greedy via a recursive
    // CTE with a LATERAL argmax, carrying the selected embeddings as
    // list-typed state.
    GraftQuery("q148_mmr_rerank",
      (s, d) => {
        val outSchema = "rnk BIGINT, doc_id BIGINT, rel DOUBLE, mmr DOUBLE"
        val cands = rrfFused(s, d)
          .join(emb(s, d).select(col("vec_id").as("doc_id"),
            col("embedding").cast("array<double>").as("emb")), Seq("doc_id"))
          .select(col("doc_id"), col("rrf"), col("emb"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(100)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2)))
          // a zero-norm embedding makes every cosine NaN, and NaN
          // ordering DIVERGES between engines (Scala total order sorts
          // it last, SQL DESC sorts it first) — excluded identically on
          // both sides so the greedy argmax stays comparable
          .filter(_._3.exists(_ != 0.0))
        if (cands.isEmpty) emptyResult(s, outSchema)
        else {
          // CosineSim's exact arithmetic order (dot over min length,
          // each norm in index order, dot / (sqrt·sqrt))
          def cosPair(a: Seq[Double], b: Seq[Double]): Double = {
            val n = math.min(a.length, b.length)
            var dot = 0.0; var i = 0
            while (i < n) { dot += a(i) * b(i); i += 1 }
            var na = 0.0; i = 0
            while (i < a.length) { na += a(i) * a(i); i += 1 }
            var nb = 0.0; i = 0
            while (i < b.length) { nb += b(i) * b(i); i += 1 }
            dot / (math.sqrt(na) * math.sqrt(nb))
          }
          val sel = scala.collection.mutable.Buffer[(Long, Double, Double)]()
          val selEmb = scala.collection.mutable.Buffer[Seq[Double]]()
          val remaining = scala.collection.mutable.Buffer(cands: _*)
          while (sel.size < 10 && remaining.nonEmpty) {
            val scored = remaining.map { case (id, rel, e) =>
              var maxSim = 0.0
              if (selEmb.nonEmpty) {
                maxSim = cosPair(e, selEmb.head)
                selEmb.tail.foreach(se =>
                  maxSim = math.max(maxSim, cosPair(e, se)))
              }
              (id, rel, e, 0.7 * rel - 0.3 * maxSim)
            }
            val best = scored.minBy { case (id, _, _, sc) => (-sc, id) }
            sel += ((best._1, best._2, best._4))
            selEmb += best._3
            remaining.remove(remaining.indexWhere(_._1 == best._1))
          }
          import s.implicits._
          sel.zipWithIndex.map { case ((id, rel, mmr), i) =>
            ((i + 1).toLong, id, rel, mmr)
          }.toSeq.toDF("rnk", "doc_id", "rel", "mmr")
        }
      },
      Some("WITH RECURSIVE " + rrfFusedSqlCtes + ", " +
        "cembs AS (SELECT f.doc_id, f.rrf, CAST(c.embedding AS DOUBLE[]) AS emb " +
        "  FROM fused f JOIN embeddings c ON f.doc_id = c.vec_id), " +
        "top AS (SELECT * FROM (SELECT * FROM cembs ORDER BY rrf DESC, doc_id LIMIT 100) " +
        "  WHERE list_sum(list_transform(emb, z -> z*z)) > 0), " +
        "sel(step, docs, embs, doc_id, rel, mmr) AS ( " +
        "  SELECT 0, CAST([] AS BIGINT[]), CAST([] AS DOUBLE[][]), " +
        "    CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) " +
        "  UNION ALL " +
        "  SELECT s.step + 1, list_append(s.docs, p.doc_id), " +
        "    list_append(s.embs, p.emb), p.doc_id, p.rrf, p.score " +
        "  FROM sel s, LATERAL ( " +
        "    SELECT t.doc_id, t.rrf, t.emb, " +
        "      0.7e0 * t.rrf - 0.3e0 * COALESCE(list_max(list_transform(s.embs, e -> " +
        "        list_sum(list_transform(list_zip(t.emb, e), z -> z[1]*z[2])) " +
        "        / (sqrt(list_sum(list_transform(t.emb, z -> z*z))) " +
        "           * sqrt(list_sum(list_transform(e, z -> z*z)))))), 0.0e0) AS score " +
        "    FROM top t WHERE NOT list_contains(s.docs, t.doc_id) " +
        "    ORDER BY score DESC, t.doc_id LIMIT 1) p " +
        "  WHERE s.step < 10) " +
        "SELECT CAST(step AS BIGINT) AS rnk, doc_id, rel, mmr FROM sel " +
        "WHERE step >= 1 ORDER BY step")
    ),

    // RAG context assembly under a token budget — the step AFTER
    // reranking: the top candidates fill the prompt's context window in
    // rank order until the next document would overflow the budget
    // (prefix semantics — cumulative tokens are monotone, so the
    // cum ≤ 512 filter IS the greedy prefix). Token counts use q40's
    // \S+ tokenizer; candidates are q131's fused ranking. Scale shape:
    // the corpus streams only inside rrfFused's two bounded jobs; r14:
    // n_tokens is CARRIED on the fused literal frame (computed by the
    // same \S+ tokenizer inside the candidate scan), so the packing is
    // a window over the ≤20-row local frame — the former broadcast-join
    // re-scan of document bodies is gone.
    GraftQuery("q153_context_packing",
      (s, d) => {
        val ranked = rrfFused(s, d)
          .orderBy(col("rrf").desc, col("doc_id")).limit(20)
        val withTok = ranked
          .select(col("doc_id"), col("rrf"), col("n_tokens"))
        val w = Window.orderBy(col("rrf").desc, col("doc_id"))
        withTok
          .withColumn("pos", row_number().over(w).cast("long"))
          .withColumn("cum_tokens", sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum_tokens") <= 512)
          .select(col("pos"), col("doc_id"), col("n_tokens"),
            col("cum_tokens"))
          .orderBy("pos")
      },
      Some("WITH " + rrfFusedSqlCtes + ", " +
        "ranked AS (SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 20), " +
        "tok AS (SELECT r.doc_id, r.rrf, " +
        "  CAST(len(regexp_extract_all(dd.text, '\\S+')) AS BIGINT) AS n_tokens " +
        "  FROM ranked r JOIN documents dd ON r.doc_id = dd.doc_id), " +
        "packed AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS pos, " +
        "  doc_id, n_tokens, " +
        "  CAST(SUM(n_tokens) OVER (ORDER BY rrf DESC, doc_id " +
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens " +
        "  FROM tok) " +
        "SELECT pos, doc_id, n_tokens, cum_tokens FROM packed " +
        "WHERE cum_tokens <= 512 ORDER BY pos")
    ),

    // Retrieval-quality EVAL vs a fixed qrels panel — MRR and nDCG@10,
    // the metrics a retrieval pipeline reports before its index config
    // ships. Queries are the fixed panel vec_id < 16; qrels are
    // label-derived (a candidate is relevant iff it shares the query's
    // label — deterministic, corpus-intrinsic ground truth). Scoring
    // reuses q49's in-row CosineAll shape (corpus streams ONCE against
    // the broadcast panel matrix; no NLJ row blowup), ranks are
    // per-query row_numbers over the bounded panel×corpus stream, and
    // the top-10 cut feeds the metric arithmetic. Determinism: DCG
    // gains 1/log2(i+1) are shared e-notation DOUBLE literals folded in
    // rank order on both sides (see [[Gains]]/[[gainCaseSql]] — a
    // DECIMAL formulation was tried and is off by one ulp through
    // DuckDB's decimal→double hop); ideal-DCG prefixes are the same
    // literals pre-summed left-to-right; rr is an exact rational.
    // Per-query rows, no cross-query mean: the output IS the eval
    // table, and a mean would reintroduce unordered double summation.
    GraftQuery("q136_retrieval_eval",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val panel = emb(s, d).filter(col("vec_id") < 16)
          .select(col("vec_id"), col("label").cast("long"),
            col("embedding").cast("array<double>"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
          .sortBy(_._1)
        if (panel.isEmpty)
          emptyResult(s, "qid BIGINT, n_rel BIGINT, first_rank BIGINT, " +
            "rr DOUBLE, dcg DOUBLE, ndcg DOUBLE")
        else {
          val qIds = typedLit(panel.map(_._1).toSeq)
          val qLabels = typedLit(panel.map(_._2).toSeq)
          val cands = emb(s, d).filter(col("vec_id") >= 16)
            .select(col("vec_id").as("n"), col("label").cast("long").as("nl"),
              col("embedding"))
          val ranked = cands
            .select(col("n"), col("nl"),
              posexplode(graft.functions.CosineAll.cosineAll(col("embedding"),
                panel.map(_._3).toIndexedSeq)).as(Seq("aidx", "cos")))
            .select(element_at(qIds, col("aidx") + 1).as("qid"),
              element_at(qLabels, col("aidx") + 1).as("ql"),
              col("n"), col("nl"), col("cos"))
            .withColumn("rnk", row_number().over(
              Window.partitionBy("qid").orderBy(col("cos").desc, col("n")))
              .cast("long"))
            .filter(col("rnk") <= 10)
          val nRel = cands.groupBy("nl").agg(count(lit(1)).as("cnt"))
            .join(
              s.createDataFrame(panel.map(p => (p._1, p._2)).toSeq)
                .toDF("qid", "ql"),
              col("ql") === col("nl"), "right")
            .select(col("qid"), coalesce(col("cnt"), lit(0L)).as("n_rel"))
          // DCG: fold the per-rank gains in RANK ORDER — double
          // addition is order-dependent, so the fold order is pinned to
          // match DuckDB's list_sum over a rank-ordered list exactly
          // (10-element arrays over |panel| rows: trivially bounded).
          val agg = ranked.groupBy("qid")
            .agg(min(when(col("nl") === col("ql"), col("rnk"))).as("fr"),
              sort_array(collect_list(struct(col("rnk"),
                when(col("nl") === col("ql"), expr(gainCaseSql("rnk")))
                  .otherwise(lit(0.0)).as("g")))).as("gs"))
            .select(col("qid"), col("fr"),
              aggregate(col("gs"), lit(0.0), (a, x) =>
                a + x.getField("g")).as("dcgd"))
          nRel.join(agg, Seq("qid"), "left")
            .select(col("qid"), col("n_rel"),
              coalesce(col("fr"), lit(0L)).cast("long").as("first_rank"),
              when(col("fr").isNull, lit(0.0))
                .otherwise(lit(1.0) / col("fr").cast("double")).as("rr"),
              coalesce(col("dcgd"), lit(0.0)).as("dcg"),
              when(col("n_rel") === 0, lit(0.0))
                .otherwise(coalesce(col("dcgd"), lit(0.0)) /
                  expr(idcgCaseSql("n_rel"))).as("ndcg"))
            .orderBy("qid")
        }
      },
      Some("WITH q AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS ql, " +
        "embedding FROM embeddings WHERE vec_id < 16), " +
        "c AS (SELECT vec_id AS n, CAST(label AS BIGINT) AS nl, embedding " +
        "FROM embeddings WHERE vec_id >= 16), " +
        "p AS (SELECT q.qid, q.ql, c.n, c.nl, " + cosSql + " AS cos FROM c, q), " +
        "t AS (SELECT * FROM (SELECT qid, ql, n, nl, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, n) AS BIGINT) AS rnk " +
        "FROM p) WHERE rnk <= 10), " +
        "nr AS (SELECT q.qid, CAST(COUNT(c.n) AS BIGINT) AS n_rel " +
        "FROM q LEFT JOIN c ON q.ql = c.nl GROUP BY q.qid), " +
        "agg AS (SELECT qid, MIN(CASE WHEN nl = ql THEN rnk END) AS fr, " +
        "list_sum(list(CASE WHEN nl = ql THEN " + gainCaseSql("rnk") +
        " ELSE 0.0 END ORDER BY rnk)) AS dcgd FROM t GROUP BY qid) " +
        "SELECT nr.qid, n_rel, CAST(COALESCE(fr, 0) AS BIGINT) AS first_rank, " +
        "CASE WHEN fr IS NULL THEN 0.0 ELSE 1.0 / CAST(fr AS DOUBLE) END AS rr, " +
        "COALESCE(dcgd, 0.0) AS dcg, " +
        "CASE WHEN n_rel = 0 THEN 0.0 ELSE " +
        "COALESCE(dcgd, 0.0) / " + idcgCaseSql("n_rel") + " END AS ndcg " +
        "FROM nr LEFT JOIN agg ON nr.qid = agg.qid ORDER BY nr.qid")
    ),

    // Per-dimension embedding statistics — the whitening/normalization
    // diagnostic of an embedding pipeline (means far from 0 or wildly
    // uneven variances say "normalize before indexing"; a near-zero
    // variance says the dimension is dead). Same dyadic 2⁻⁵⁰
    // fixed-point discipline as q128: Σx and Σx² aggregate identical
    // INTEGERS on both engines (exponent shift + floor, then exact
    // decimal sums), min/max are order-independent exact floats, and
    // the mean/variance arithmetic is a fixed-order double chain on
    // identical inputs. Scale shape: one posexplode (columnar), partial
    // agg collapses to 64 per-dimension partials before the single
    // exchange — the shuffle is dimension-cardinality, not data-sized.
    GraftQuery("q129_dim_stats",
      (s, d) => {
        val xd = col("x").cast("double")
        val fp = lit(1125899906842624.0) // 2^50, exact
        val nD = col("n").cast("double")
        emb(s, d)
          .select(posexplode(col("embedding")).as(Seq("i", "x")))
          .select(col("i").cast("long").as("i"),
            col("x"),
            floor(xd * fp).cast("decimal(38,0)").as("x1"),
            floor(xd * xd * fp).cast("decimal(38,0)").as("x2"))
          .groupBy("i")
          .agg(count(lit(1)).as("n"),
            sum("x1").as("s1"), sum("x2").as("s2"),
            min("x").as("mn"), max("x").as("mx"))
          .select(col("i"), col("n"),
            (col("s1").cast("double") / fp / nD).as("mean"),
            (col("s2").cast("double") / fp / nD -
              (col("s1").cast("double") / fp / nD) *
                (col("s1").cast("double") / fp / nD)).as("variance"),
            col("mn"), col("mx"))
          .orderBy("i")
      },
      Some("WITH e AS (SELECT UNNEST(generate_series(0, len(embedding) - 1)) AS i, " +
        "UNNEST(embedding) AS x FROM embeddings), " +
        "t AS (SELECT CAST(i AS BIGINT) AS i, x, " +
        "CAST(floor(CAST(x AS DOUBLE) * 1125899906842624.0) AS BIGINT) AS x1, " +
        "CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1125899906842624.0) AS BIGINT) AS x2 " +
        "FROM e), " +
        "a AS (SELECT i, COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2, " +
        "MIN(x) AS mn, MAX(x) AS mx FROM t GROUP BY i) " +
        "SELECT i, n, " +
        "CAST(s1 AS DOUBLE) / 1125899906842624.0 / CAST(n AS DOUBLE) AS mean, " +
        "CAST(s2 AS DOUBLE) / 1125899906842624.0 / CAST(n AS DOUBLE) - " +
        "(CAST(s1 AS DOUBLE) / 1125899906842624.0 / CAST(n AS DOUBLE)) * " +
        "(CAST(s1 AS DOUBLE) / 1125899906842624.0 / CAST(n AS DOUBLE)) AS variance, " +
        "mn, mx FROM a ORDER BY i")
    ),

    // Dimension-truncation recall — the Matryoshka-representation
    // question: how much of the full-dimension neighborhood survives if
    // vectors are cut to their first 4 / 8 / 16 of 64 dims? The scorer a
    // storage-budget decision reads before shipping truncated embeddings
    // (prefix-truncation IS the deployment mechanism for MRL-trained
    // models; for non-MRL embeddings this measures the damage). Exact,
    // not a sketch: recall@k of the truncated top-k against the q49
    // full-dimension top-k over the same bounded query panel, as an
    // integer hit count and its ratio. Scale shape (r11, VERDICT r9/r10
    // carry): the corpus streams ONCE — every truncation level's scores
    // ride the same row (one CosineAll per level over the in-row sliced
    // prefix; levels are a literal constant, so the extra arithmetic is
    // 4+8+16 of 64 dims ≈ 1.4×, not extra scans) — and the per-query
    // top-k is the [[graft.functions.TopKIdsByScore]] AGGREGATE, not a
    // window: a multi-ranking frame gets no WindowGroupLimit pushdown,
    // so the window form would shuffle the full |panel|×|corpus| pair
    // frame onto |panel| hot keys, where the aggregate's map-side
    // partials bound the exchange at |panel|×k×levels ids. Hit counting
    // is array_intersect over the ≤k id sets — the r9/r10 form's
    // per-level semi-joins and their three extra corpus streams are
    // gone. Final 1-row collect is bounded by construction (4 numbers),
    // same class as the panel collect above it.
    GraftQuery("q159_dim_truncation_recall",
      (s, d) => {
        val panel = emb(s, d).filter(col("vec_id") < QueryCount)
          .select(col("vec_id"), col("embedding").cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
          .sortBy(_._1)
        if (panel.isEmpty)
          emptyResult(s,
            "trunc_dim BIGINT, n_hits BIGINT, n_possible BIGINT, recall DOUBLE")
        else {
          import graft.functions.TopKIdsByScore.topkIds
          val qIds = typedLit(panel.map(_._1).toSeq)
          val v = col("embedding").cast("array<double>")
          def pv(trunc: Option[Int]) =
            panel.map(t => trunc.fold(t._2)(k => t._2.take(k))).toIndexedSeq
          val scored = emb(s, d)
            .select((Seq(col("vec_id").as("n")) ++
              TruncDims.map(k => graft.functions.CosineAll
                .cosineAll(slice(v, 1, k), pv(Some(k))).as(s"c$k")) ++
              Seq(posexplode(graft.functions.CosineAll.cosineAll(v, pv(None)))
                .as(Seq("aidx", "cosF")))): _*)
            .select((Seq(element_at(qIds, col("aidx") + 1).as("q"),
              col("n"), col("cosF")) ++
              TruncDims.map(k =>
                element_at(col(s"c$k"), col("aidx") + 1).as(s"cos$k"))): _*)
            .filter(col("q") =!= col("n"))
          val tops = scored.groupBy("q").agg(
            topkIds(col("cosF"), col("n"), TopK).as("idsF"),
            TruncDims.map(k =>
              topkIds(col(s"cos$k"), col("n"), TopK).as(s"ids$k")): _*)
          val row = tops.select(
            (Seq(sum(size(col("idsF")).cast("long")).as("possible")) ++
              TruncDims.map(k => sum(size(
                array_intersect(col(s"ids$k"), col("idsF"))).cast("long"))
                .as(s"h$k"))): _*)
            .collect()(0)
          val possible = row.getLong(0)
          val levels = TruncDims.zipWithIndex.map { case (k, i) =>
            val hits = row.getLong(i + 1)
            (k.toLong, hits, possible,
              if (possible == 0) 0.0 else hits.toDouble / possible.toDouble)
          }
          import s.implicits._
          levels.toDF("trunc_dim", "n_hits", "n_possible", "recall")
            .orderBy("trunc_dim")
        }
      },
      Some {
        def cosT(k: String) =
          (s"""list_sum(list_transform(list_zip(q.v[1:$k], c.v[1:$k]), z -> z[1]*z[2]))
            |/ (sqrt(list_sum(list_transform(q.v[1:$k], z -> z*z)))
            |   * sqrt(list_sum(list_transform(c.v[1:$k], z -> z*z))))"""
            ).stripMargin.replace("\n", " ")
        def level(k: Int) =
          s"t$k AS (SELECT q.vec_id AS q, c.vec_id AS n, ${cosT(k.toString)} AS cos " +
            s"FROM e q JOIN e c ON q.vec_id < $QueryCount AND q.vec_id != c.vec_id), " +
            s"r$k AS (SELECT q, n FROM (SELECT q, n, ROW_NUMBER() OVER " +
            s"(PARTITION BY q ORDER BY cos DESC, n) AS rnk FROM t$k) WHERE rnk <= $TopK), " +
            s"h$k AS (SELECT COUNT(*) AS c FROM r$k JOIN fullr USING (q, n))"
        def row(k: Int) =
          s"SELECT CAST($k AS BIGINT) AS trunc_dim, CAST(h$k.c AS BIGINT) AS n_hits, " +
            "(SELECT CAST(COUNT(*) AS BIGINT) FROM fullr) AS n_possible, " +
            s"CAST(h$k.c AS DOUBLE) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM fullr) AS recall " +
            s"FROM h$k"
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
          s"fullp AS (SELECT q.vec_id AS q, c.vec_id AS n, ${cosT("len(q.v)")} AS cos " +
          s"FROM e q JOIN e c ON q.vec_id < $QueryCount AND q.vec_id != c.vec_id), " +
          "fullr AS (SELECT q, n FROM (SELECT q, n, ROW_NUMBER() OVER " +
          s"(PARTITION BY q ORDER BY cos DESC, n) AS rnk FROM fullp) WHERE rnk <= $TopK), " +
          TruncDims.map(level).mkString(", ") + " " +
          "SELECT * FROM (" + TruncDims.map(row).mkString(" UNION ALL ") +
          ") ORDER BY trunc_dim"
      })
    ,

    // Input PCA on the integer grid (r11) — the "all-but-the-top"
    // preprocessing step (Mu & Viswanath 2018, arXiv:1702.01417):
    // embedding corpora carry a large common mean/dominant direction
    // that washes out cosine contrast, and the standard fix is to
    // center and remove the top principal component before indexing.
    // This query computes the two model artifacts that step needs —
    // the per-dimension grid sums (the mean, undivided) and the top
    // covariance eigenvector — EXACTLY, with the eval-metric trick
    // applied to linear algebra: quantize to the 2²⁰ grid, keep every
    // moment and every power-iteration step in integer arithmetic, and
    // both engines walk bit-identical trajectories (float PCA never
    // hash-matches across engines: per-partition sum order differs).
    //
    // Scale shape: ONE narrow corpus pass ([[graft.functions.GridGram]]
    // emits the row's d + d(d+1)/2 moment entries in a compiled loop),
    // one groupBy(idx) whose map-side partials bound the exchange at
    // partitions × 2,144 rows, one bounded collect (the moment matrix
    // is K×d-class model metadata — the documented collect exception),
    // then d×d BigInt power iteration on the driver: the iteration's
    // work is d² = 4,096 multiplies × 12 rounds, microseconds — running
    // it distributed would spend 12 job rounds of pure scheduler
    // constant on a 64-row frame (the q81 adaptive-path lesson).
    // DECIMAL(38,0) sums carry the n·2⁴⁰-magnitude second moments
    // exactly at any corpus size (the 100 TB overflow case).
    GraftQuery("q182_embedding_pca",
      (s, d) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val schema = StructType(Seq(
          StructField("dim", LongType, nullable = false),
          StructField("sum_grid", LongType, nullable = false),
          StructField("pc1_grid", LongType, nullable = false)))
        gridPc1Model(s, d) match {
          case None =>
            s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
          case Some((dDim, _, sS, v)) =>
            // longValueExact: a silent BigInt.toLong truncation would be
            // a wrong answer; overflow must refuse loudly
            val rows = (0 until dDim).map(i => Row(
              (i + 1).toLong,
              sS(i).bigInteger.longValueExact(),
              v(i).bigInteger.longValueExact()))
            s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
              .orderBy("dim")
        }
      },
      Some(pc1OracleSql))
    ,

    // The APPLY half of all-but-the-top (r11): project every vector on
    // the q182 eigenvector and emit (dot, residual-norm²) on the grid —
    // the per-vector transform an indexing pipeline runs after training
    // the artifacts. The model (v, vv) rides into
    // [[graft.functions.GridResidual]] as a literal (K×d-class
    // metadata, the CosineAll broadcast pattern), so the corpus
    // streams ONCE through a compiled per-row loop — no join, no
    // shuffle except the output ORDER BY. Residuals divide per element
    // (sign-split, r_i = g_i − (dot·v_i)/vv) so every intermediate and
    // output fits the integer grid; both engines compute the identical
    // truncation.
    GraftQuery("q183_abtt_transform",
      (s, d) => {
        val model = gridPc1Model(s, d)
        val v = model.map(_._4.map(_.bigInteger.longValueExact()).toSeq)
          .getOrElse(Seq.empty)
        emb(s, d)
          .select(col("vec_id"), graft.functions.GridResidual
            .gridResidual(col("embedding"), v).as("t"))
          .select(col("vec_id"),
            col("t").getItem(0).as("dot_grid"),
            col("t").getItem(1).as("res_norm2"))
          .orderBy("vec_id")
      },
      Some(abttOracleSql))
  )

  /** The q182/q183 shared model: (d, n, grid sums S, PC1 grid vector v).
    * ONE narrow corpus pass (GridGram), one partial-combined exchange,
    * one bounded collect (d + d(d+1)/2 rows — K×d-class model metadata,
    * the documented collect exception), then 12 rounds of d×d BigInt
    * power iteration on the driver (distributing 4,096 multiplies would
    * spend 12 job rounds of scheduler constant on a 64-row frame — the
    * q81 adaptive-path lesson). None on an empty embeddings table. */
  private[graft] def gridPc1Model(s: SparkSession, d: String)
      : Option[(Int, BigInt, Array[BigInt], Array[BigInt])] = {
    import org.apache.spark.sql.types.DecimalType
    val moments = emb(s, d)
      .select(posexplode(
        graft.functions.GridGram.gridGram(col("embedding")))
        .as(Seq("idx", "v")))
      .groupBy("idx")
      .agg(sum(col("v").cast(DecimalType(38, 0))).as("sv"),
        count(lit(1)).as("cnt"))
      .collect() // bounded by construction: d + d(d+1)/2 rows
    if (moments.isEmpty) return None
    val total = moments.length
    val dDim = ((math.sqrt(9.0 + 8.0 * total) - 3) / 2).round.toInt
    require(dDim + dDim * (dDim + 1) / 2 == total,
      s"q182: $total moment indices do not form d + d(d+1)/2 — " +
        "ragged embedding column")
    val cnts = moments.map(_.getLong(2)).distinct
    require(cnts.length == 1,
      s"q182: per-index row counts differ (${cnts.toSeq}) — " +
        "ragged embedding column")
    val n = BigInt(cnts.head)
    // NULL symmetry (ADVICE r11): GridGram nulls the WHOLE row on any
    // NULL element, so a NULL-bearing vector silently leaves every
    // moment AND this n while the oracle's `n AS (… COUNT(*) FROM e)`
    // still counts it — the engines would hash-diverge without either
    // side erring. Refuse loudly instead (count(*) here is the
    // parquet-metadata count — no data pass).
    val corpusN = emb(s, d).count()
    require(n == BigInt(corpusN),
      s"q182: $corpusN embedding rows but only $n contributed moments — " +
        "NULL-bearing embedding vectors are unsupported (drop or impute " +
        "them upstream; the DuckDB oracle counts them asymmetrically)")
    val sums = new Array[BigInt](total)
    moments.foreach(r =>
      sums(r.getInt(0)) = BigInt(r.getDecimal(1).toBigIntegerExact))
    val S = Array.tabulate(dDim)(sums(_))
    // covariance × n (stays integer): C = n·G − S·Sᵀ
    val C = Array.ofDim[BigInt](dDim, dDim)
    var k = dDim
    for (i <- 0 until dDim; j <- i until dDim) {
      val cij = n * sums(k) - S(i) * S(j)
      C(i)(j) = cij; C(j)(i) = cij; k += 1
    }
    val grid = BigInt(graft.functions.GridGram.Scale)
    var v = Array.fill(dDim)(grid)
    for (_ <- 1 to Pc1Iters) {
      val w = Array.tabulate(dDim) { i =>
        var acc = BigInt(0); var j = 0
        while (j < dDim) { acc += C(i)(j) * v(j); j += 1 }
        acc
      }
      val m = w.map(_.abs).max
      // sign-split division: both engines divide NON-NEGATIVE integers
      // (trunc ≡ floor), so DuckDB `//` and BigInt `/` agree; the sign
      // is re-applied after
      v = if (m == 0) Array.fill(dDim)(BigInt(0))
      else w.map { x =>
        val q = x.abs * grid / m
        if (x < 0) -q else q
      }
    }
    Some((dDim, n, S, v))
  }

  /** The q182 oracle: the SAME grid moments and 12-step integer power
    * iteration, stated in DuckDB SQL. HUGEINT carries what the Spark
    * side carries in DECIMAL(38,0)/BigInt; `ABS(w)*grid // m` mirrors
    * the sign-split division. The per-iteration CTEs are MATERIALIZED:
    * `v_k` feeds both `w_{k+1}` and `m_k`-via-`w_k`, and DuckDB's
    * default inlining re-expands the whole chain per reference —
    * measured 88 s inlined vs 0.27 s materialized at sf0.01. The n·d²
    * self-join Gram is fine AT ORACLE SCALE; the Spark side's GridGram
    * aggregate is the form that survives 100 TB. */
  private def pc1CteChain: String = {
    def iter(k: Int): String = {
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"w$k AS MATERIALIZED (SELECT c.i, SUM(c.c * $prev.v) AS w " +
        s"FROM c JOIN $prev ON c.j = $prev.i GROUP BY 1), " +
        s"m$k AS (SELECT MAX(ABS(w)) AS m FROM w$k), " +
        s"v$k AS MATERIALIZED (SELECT i, CASE WHEN m.m = 0 THEN CAST(0 AS HUGEINT) " +
        s"WHEN w < 0 THEN -((ABS(w)*1048576)//m.m) " +
        s"ELSE (ABS(w)*1048576)//m.m END AS v FROM w$k CROSS JOIN m$k AS m)"
    }
    "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
      "g AS (SELECT vec_id, CAST(i AS BIGINT) AS i, " +
      "CAST(round(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT) AS g " +
      "FROM e, unnest(generate_series(1, len(embedding))) AS u(i)), " +
      "n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM e), " +
      "s AS (SELECT i, CAST(SUM(g) AS HUGEINT) AS s FROM g GROUP BY i), " +
      "gr AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.g*b.g) AS HUGEINT) AS p " +
      "FROM g AS a JOIN g AS b USING (vec_id) GROUP BY 1, 2), " +
      "c AS MATERIALIZED (SELECT gr.i, gr.j, n.n * gr.p - sa.s * sb.s AS c " +
      "FROM gr CROSS JOIN n JOIN s AS sa ON gr.i = sa.i JOIN s AS sb ON gr.j = sb.i), " +
      "v0 AS (SELECT i, CAST(1048576 AS HUGEINT) AS v FROM s), " +
      (1 to Pc1Iters).map(iter).mkString(", ")
  }

  private def pc1OracleSql: String =
    pc1CteChain + " " +
      s"SELECT CAST(s.i AS BIGINT) AS dim, CAST(s.s AS BIGINT) AS sum_grid, " +
      s"CAST(v$Pc1Iters.v AS BIGINT) AS pc1_grid " +
      s"FROM s JOIN v$Pc1Iters USING (i) ORDER BY dim"

  /** q183's oracle: extend the q182 chain with the per-vector apply —
    * dot against v12, sign-split per-element residual, exact norm². */
  private def abttOracleSql: String =
    pc1CteChain + ", " +
      s"vv AS (SELECT SUM(v*v) AS vv FROM v$Pc1Iters), " +
      s"dotv AS (SELECT g.vec_id, SUM(g.g * v$Pc1Iters.v) AS dot " +
      s"FROM g JOIN v$Pc1Iters ON g.i = v$Pc1Iters.i GROUP BY 1), " +
      s"r AS (SELECT g.vec_id, g.g - (CASE WHEN vv.vv = 0 THEN CAST(0 AS HUGEINT) " +
      s"WHEN dotv.dot * v$Pc1Iters.v < 0 THEN -((ABS(dotv.dot * v$Pc1Iters.v))//vv.vv) " +
      s"ELSE (dotv.dot * v$Pc1Iters.v)//vv.vv END) AS r " +
      s"FROM g JOIN v$Pc1Iters ON g.i = v$Pc1Iters.i " +
      "JOIN dotv ON g.vec_id = dotv.vec_id CROSS JOIN vv) " +
      "SELECT dotv.vec_id, CAST(dotv.dot AS BIGINT) AS dot_grid, " +
      "CAST(rn.n AS BIGINT) AS res_norm2 " +
      "FROM dotv JOIN (SELECT vec_id, SUM(r*r) AS n FROM r GROUP BY 1) AS rn " +
      "USING (vec_id) ORDER BY vec_id"

  /** Quantizer quality probes for the CorpusSpec training assertion:
    * (largest-list corpus fraction, mean assigned cosine). The fraction
    * bounds the worst single-probe cost (a degenerate quantizer puts
    * most of the corpus in one list — "probe 2 lists" becomes a full
    * scan); the mean assigned cosine is the spherical-k-means objective
    * Lloyd's iterations improve. */
  private[graft] def ivfStats(s: SparkSession, d: String,
      trainIters: Int): (Double, Double) = {
    import s.implicits._
    val K = 16
    val e = emb(s, d)
    val cent = trainedCentroids(s, d, K, iters = trainIters, sampleMod = 2)
      .toDF("cid", "cv")
    val assigned = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        cosine(col("embedding"), col("cv")).as("sim"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cid"), col("sim")),
        struct(col("sim"), (-col("cid")).as("nc"))).as("best"))
    val r = assigned.agg(avg(col("best.sim")).as("msim")).head
    val sizes = assigned.groupBy("best.cid").count()
      .select(max("count"), sum("count")).head
    (sizes.getLong(0).toDouble / sizes.getLong(1), r.getDouble(0))
  }

  /** Trained-centroid MULTI-PROBE cluster assignment: one row per
    * (vector, probed cluster) for the vector's `probes` nearest
    * centroids — the shared clustering front of SemDeDup (q102).
    * The centroid matrix is a bounded literal (K×d model metadata, like
    * q92's codebook), and the top-`probes` selection happens IN-ROW
    * (score array → struct sort → slice), so no corpus×K intermediate
    * ever shuffles — the output carries probes× the corpus, nothing
    * more. The per-row HOFs here run once per VECTOR over K elements
    * (bounded, like MinHashSig), not per pair — the O(n²) HOF ban does
    * not apply.
    *
    * K SCALES WITH THE CORPUS (`K < 0` = auto): constant cluster SIZE
    * (~256 members incl. multi-probe), i.e. K ≈ probes·n/256, floored
    * at 16 — the published SemDeDup shape. A FIXED K is quadratic in
    * disguise: per-cluster pair groups grow as (probes·n/K)², which
    * graft.ScaleCheck measured as exponent 1.83 (80 s at 20k vectors)
    * before this scaling; with size-scaled K the downstream pair join
    * is linear in n. Past K = 64 the flat K-way scoring is itself the
    * next quadratic (O(n·K) per-row work), so assignment goes TWO-LEVEL
    * (IVF practice): a sqrt(K)-centroid coarse quantizer over the
    * centroids picks 3 cells in-row, and only those cells' fine
    * centroids are scored — O(n·sqrt(K)) per-row work, measured exp
    * ~1 at the 2k→20k decade. The 4096 cap bounds the centroid literal
    * (~2 MB at d=64); past it (~350k vectors per corpus at the default
    * target) the same trick recurses.
    *
    * TRAINING cost is O(sample·K) per corpus version and is NOT in the
    * per-query exponent: centroids are cached model artifacts (trained
    * once per corpus, like a production quantizer — see centroidCache),
    * so the measured scaling covers assignment + pairs, the recurring
    * cost. At the cap point the one-off training pass is ~1e8 native
    * cosines; the coarse two-level trick applies to it as the next
    * rung if that one-off ever dominates. */
  private[graft] def clusterAssign(s: SparkSession, d: String,
      trainIters: Int, K: Int = -1, probes: Int = 3): DataFrame = {
    val e = emb(s, d)
    val k =
      if (K > 0) K
      else math.min(4096,
        math.max(16, (probes * e.count() / 256.0).ceil.toInt))
    val cent = trainedCentroids(s, d, k, iters = trainIters, sampleMod = 2)
    val ordered = cent.sortBy(_._1).toIndexedSeq
    if (k <= 64) {
      val centLit = typedLit(ordered.map(_._2))
      // struct(-sim, cid) sorts ascending == sim desc with cid tie-break
      val ranked = array_sort(zip_with(centLit,
        sequence(lit(0L), lit(k - 1L)),
        (c, i) => struct((-cosine(col("embedding"), c)).as("nsim"),
          i.as("cid"))))
      e.select(col("vec_id"), col("embedding").as("v"),
          explode(slice(ranked, 1, probes)).as("pick"))
        .select(col("vec_id"), col("v"), col("pick.cid").as("cid"))
    } else {
      // two-level: coarse k-means over the CENTROIDS themselves
      // (model-on-model, driver-side — k x d doubles), then per row:
      // rank sqrt(K) coarse cells, flatten the top-3 cells' fine lists,
      // score only those. Both HOF passes are O(sqrt(K)) per row.
      val nCoarse = math.ceil(math.sqrt(k.toDouble)).toInt
      val coarse = kmeansSmall(ordered.map(_._2), nCoarse, iters = 5)
      val cells: Seq[Seq[(Long, Seq[Double])]] = {
        val byCell = ordered.groupBy { case (_, v) => nearestOf(coarse, v) }
        (0 until nCoarse).map(ci =>
          byCell.getOrElse(ci, IndexedSeq.empty).toSeq)
      }
      val coarseLit = typedLit(coarse)
      val cellsLit = typedLit(cells)
      val rankedCoarse = array_sort(zip_with(coarseLit,
        sequence(lit(0L), lit(nCoarse - 1L)),
        (c, i) => struct((-cosine(col("embedding"), c)).as("nsim"),
          i.as("ci"))))
      val cands = flatten(transform(
        slice(rankedCoarse, 1, math.min(3, nCoarse)),
        p => element_at(cellsLit, (p.getField("ci") + 1).cast("int"))))
      val rankedFine = array_sort(transform(cands,
        p => struct((-cosine(col("embedding"), p.getField("_2"))).as("nsim"),
          p.getField("_1").as("cid"))))
      e.select(col("vec_id"), col("embedding").as("v"),
          explode(slice(rankedFine, 1, probes)).as("pick"))
        .select(col("vec_id"), col("v"), col("pick.cid").as("cid"))
    }
  }

  private def cosSmall(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  private def nearestOf(cs: IndexedSeq[Seq[Double]], v: Seq[Double]): Int =
    cs.indices.maxBy(i => (cosSmall(cs(i), v), -i))

  /** Deterministic driver-side Lloyd's over a SMALL vector set (the
    * coarse quantizer trains on at most 4096 centroids — model
    * metadata, never data): seeds are the first C vectors, cosine
    * assignment, mean recompute, empty cells keep their seed. */
  private def kmeansSmall(vs: IndexedSeq[Seq[Double]], c: Int,
      iters: Int): IndexedSeq[Seq[Double]] = {
    var cent = vs.take(c)
    for (_ <- 1 to iters) {
      val assign = vs.map(v => nearestOf(cent, v))
      cent = cent.indices.map { ci =>
        val members = vs.indices.filter(assign(_) == ci)
        if (members.isEmpty) cent(ci)
        else {
          val d = vs.head.length
          val sum = new Array[Double](d)
          members.foreach { m =>
            val v = vs(m); var i = 0
            while (i < d) { sum(i) += v(i); i += 1 }
          }
          sum.map(_ / members.size).toSeq
        }
      }
    }
    cent
  }

  /** The IVF search behind q58; `trainIters = 0` keeps the raw seed
    * centroids (the CorpusSpec comparison shows training buys list
    * BALANCE — bounded worst-probe cost — while recall stays above the
    * gate). */
  private[graft] def ivfQuery(s: SparkSession, d: String,
      trainIters: Int, nProbe: Int = 3): DataFrame = {
    import s.implicits._
    val K = 16; val NProbe = nProbe
    val e = emb(s, d)
    val centSeq = trainedCentroids(s, d, K, iters = trainIters, sampleMod = 2)
      .sortBy(_._1)
    // r15 opt (guide §2.4): the corpus-side list assignment used to
    // crossJoin e × K centroids (16× row expansion, each row carrying
    // the 64-double embedding) and collapse back through a vec_id-keyed
    // max_by aggregate — a full-corpus Exchange whose only job was an
    // argmax each row can compute LOCALLY. The K×d centroid matrix is a
    // bounded literal (the clusterAssign precedent), so the best cid is
    // now an in-row array_sort over K=16 scored structs: same
    // (sim DESC, cid ASC) total order — struct(-sim, cid) ascending —
    // same native cosine, zero exchange, no expansion. Plan diff
    // (plans/r15): the corpus branch loses its Exchange + 2
    // HashAggregates. Probe lists (query panel only) keep the
    // crossJoin+window shape — QueryCount × K rows.
    val centLit = typedLit(centSeq.map(_._2))
    // idx is the position in the cid-ASCENDING centroid list, so the
    // (nsim, idx) tie-break equals the original (sim DESC, cid ASC);
    // the idx→cid lookup keeps non-contiguous cid sets correct.
    val cidLit = typedLit(centSeq.map(_._1))
    val rankedCent = array_sort(zip_with(centLit,
      sequence(lit(0L), lit(centSeq.size - 1L)),
      (c, i) => struct((-cosine(col("embedding"), c)).as("nsim"),
        i.as("idx"))))
    // empty-quantizer degenerate case (empty corpus): no lists exist —
    // same empty frame the old crossJoin+max_by shape produced
    val corpusList =
      if (centSeq.isEmpty)
        e.select(col("vec_id").as("n"), col("embedding").as("nv"),
          lit(0L).as("cid")).filter(lit(false))
      else e.select(col("vec_id").as("n"),
        col("embedding").as("nv"),
        element_at(cidLit,
          (element_at(rankedCent, 1).getField("idx") + 1L).cast("int"))
          .as("cid"))
    val cent = centSeq.toDF("cid", "cv")
    val scored = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("cid"),
        cosine(col("embedding"), col("cv")).as("sim"))
    // Probe lists only exist for the tiny query set — the window here
    // runs over QueryCount × K rows, not the corpus.
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim").desc, col("cid"))
    val probes = scored.filter(col("vec_id") < QueryCount)
      .withColumn("arn", row_number().over(wProbe))
      .filter(col("arn") <= NProbe)
      .select(col("vec_id").as("q"), col("embedding").as("qv"), col("cid"))
    val pairs = corpusList.join(broadcast(probes), Seq("cid"))
      .filter(col("q") =!= col("n"))
      .select(col("q"), col("n"), cosine(col("qv"), col("nv")).as("cos"))
    topkPerQuery(pairs)
  }
}
