package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SessionCaches.TrackedPersist
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table: token statistics,
  * quality scoring, language identification, and fingerprinting — the
  * per-document preprocessing stage of a training-data pipeline
  * (BASELINE.json north_star; beyond the reference surface, SURVEY §4.3.4).
  *
  * All are single-pass narrow transforms + one hash aggregation: at 100 TB
  * they scan once, aggregate with map-side combine, and never shuffle the
  * document text itself (only small per-doc/per-group rows). Every query
  * here is oracle-checked; ratios divide exact integers in double, so the
  * results are bit-identical across engines.
  */
object TextAnalysis {

  /** q121's operational sketch frame: per-source 256-value KMV word
    * synopses compared pairwise — (sa, sb, jaccard_est). */
  private[graft] def vocabOverlapSketch(s: SparkSession, d: String): DataFrame = {
    val k = 256
    val sk = docs(s, d)
      .select(col("source"),
        explode(regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0)))
          .as("word"))
      .groupBy("source")
      .agg(graft.functions.KmvSketch.kmv(col("word"), k).as("sk"))
    val x = sk.select(col("source").as("sa"), col("sk").as("ka"))
    val y = sk.select(col("source").as("sb"), col("sk").as("kb"))
    x.join(y, col("sa") < col("sb"))
      .select(col("sa"), col("sb"),
        slice(array_sort(array_union(col("ka"), col("kb"))), 1, k).as("ku"),
        col("ka"), col("kb"))
      .select(col("sa"), col("sb"),
        (size(array_intersect(array_intersect(col("ku"), col("ka")), col("kb")))
          .cast("double") / size(col("ku"))).as("jaccard_est"))
  }

  /** Serialized Bloom bytes for a panel's distinct hash column `h`
    * (q168's build; also the static side of the streaming
    * decontamination twin). Bounded by construction: the panel is the
    * eval set; the sketch builds DISTRIBUTED (df.stat.bloomFilter
    * treeAggregate) and only its bits (~0.5 MB) reach the driver. The
    * capacity FLOOR matters: Spark's sketch double-hashes a 32-bit
    * (h1, h2) pair, and at tiny bit arrays the measured FP rate floors
    * ~1e-4 regardless of the requested fpp (measured: 400 keys / 11k
    * bits → 1.3e-4; same keys in a 4.3M-bit array → 0 FPs in 2e7
    * probes) — so the filter is sized for ≥1e5 entries even when the
    * panel is smaller. At a real panel (millions of n-grams) the
    * natural sizing dominates and the floor is moot. */
  /** q195's trained bigram-LM pieces over a (doc_id, text) frame:
    * (top-V vocabulary words, class-transition count rows (u, v, c)) —
    * both bounded by the [[SurpriseVocabCap]] construction (rows ≤
    * (V+1)²). Shared by the batch query and the streaming twin
    * ([[graft.streaming.BigramPerplexityStream]]) so both train on the
    * identical code path. One token pass for the vocab cut, one lagged
    * window pass for the transitions. */
  private[graft] def bigramLmModel(docsDf: DataFrame)
      : (Seq[String], Seq[(String, String, Long)]) = {
    // r15 opt (guide §2.4): word-to-word transitions are ADJACENT array
    // elements, so they come from an in-row arrays_zip of two slices
    // (the q132 bigram shape) — the old posexplode + lag-over-
    // (doc, pos) window paid a doc-keyed exchange + sort of every
    // token just to rediscover adjacency the tokenizer array already
    // encodes. Same pair multiset (consecutive tokens per doc; docs
    // with < 2 tokens contribute nothing either way), zero window.
    val toks = docsDf.select(
      regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0))
        .as("ws"))
    val topV: Seq[String] = toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(SurpriseVocabCap)
      .collect().map(_.getString(0)).toSeq
    def cls(c: Column) =
      when(c.isin(topV: _*), c).otherwise(lit("#unk"))
    val rows = toks.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "arrays_zip(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1))"))
        .as("p"))
      .select(cls(col("p").getField("0")).as("u"),
        cls(col("p").getField("1")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cuv"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    (topV, rows)
  }

  def panelBloomBytes(panelHashes: DataFrame): Array[Byte] =
    panelBloomBytesOf(panelHashes.collect().map(_.getLong(0)))

  /** Driver-side twin of [[panelBloomBytes]] over an ALREADY-COLLECTED
    * panel (r13): `BloomFilter.create(n, fpp)` + putLong yields
    * bit-identical filters to `df.stat.bloomFilter` (same parameters →
    * same numBits/numHashes; putLong's hashing is deterministic and the
    * merge is a bit-OR, so partitioning never mattered) — letting q168
    * build the Bloom AND the exact set literal from ONE bounded collect
    * instead of three jobs (count + treeAggregate + collect) over the
    * same panel frame. */
  def panelBloomBytesOf(hashes: Array[Long]): Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(
      math.max(hashes.length.toLong, 100000L), 1e-9)
    hashes.foreach(bf.putLong)
    graft.functions.BloomContains.serialize(bf)
  }

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  // Marker regexes shared verbatim (RE2 ∩ Java syntax) with the oracle.
  private[graft] val StopRe = "\\b(the|a|an|and|or|of|to|in|is|it)\\b"
  private val EnRe = "\\b(the|and|of|to|is)\\b"
  private val DeRe = "\\b(der|die|das|und|ist)\\b"
  private val EsRe = "\\b(el|la|los|de|y|es)\\b"
  private val FrRe = "\\b(le|la|les|et|est)\\b"
  private val ZhRe = "[\\x{4e00}-\\x{9fff}]"
  // q91's bench panel: every 97th doc_id below this — ≤ 207 prefixes at
  // ANY corpus size (all test corpora sit below the cap, so results are
  // unchanged there; an external eval suite is fixed-size by nature).
  private[operators] val BenchCap = 20000

  /** q179 / [[graft.streaming.SurpriseScoreStream]] vocabulary-model
    * cap: the surprise model keeps only the top-V words by (count DESC,
    * word ASC) — everything rarer scores the count-1 maximum through
    * the OOV path. This makes the broadcast/literal model K-ROW-BOUNDED
    * BY CONSTRUCTION (VERDICT r11 item 1): a raw web-corpus unigram
    * vocabulary runs 10⁷–10⁹ entries (mojibake, URLs, hashes) and a
    * Heap's-law "sublinear" argument does not cap a broadcast — this
    * constant does, same class as the CosineAll panels. 16 is chosen to
    * BIND on the 31-word synthetic corpus so the OOV arithmetic is
    * exercised against the oracle, not dead code; production would use
    * a few hundred thousand (still K-bounded). PlanAuditSpec's census
    * whitelists q179 under the capped-vocab class keyed to THIS
    * constant. */
  val SurpriseVocabCap = 16

  /** Merge rounds trained by q184/q185 — the model is K-bounded by
    * construction (K pairs of short strings). Declared above `all`:
    * the oracle-SQL builders read it during `all`'s initialization. */
  private[graft] val BpeMergeRounds = 12

  // ---- q188/q189 trained quality classifier (r12) ----
  // All declared above `all` (the BpeMergeRounds initialization-order
  // lesson: the oracle-SQL builders read them while `all` initializes).
  /** Gradient-descent rounds of the q188 trainer — the model is the
    * fixed point the K rounds walk toward; K bounds BOTH the driver
    * iteration and the oracle's unrolled CTE chain. 64 heavy-ball
    * rounds reach 79% rule agreement on the synthetic corpus (the
    * least-squares ceiling of the feature map is 82%); plain GD at the
    * same K sits at 67% — the measured basis for the momentum term. */
  private[graft] val BowGdRounds = 64
  /** Heavy-ball momentum β = 15/16 (integer rational — exact in both
    * engines; stable for any β < 1 with the 1/rowmax step below). */
  private[graft] val BowMomNum = 15L
  private[graft] val BowMomDen = 16L
  /** The weight grid (2²⁰ fixed point, the GridGram scale). */
  private[graft] val BowGrid = 1L << 20
  /** Label rule: y = 1 iff BowStopMul·n_stop ≥ n_tok (stopword density
    * ≥ 1/16) — the deterministic integer cross-multiplication rule the
    * classifier distills (16 balances the synthetic corpus ~50/50). */
  private[graft] val BowStopMul = 16L

  private def reCount(c: Column, re: String): Column =
    regexp_count(c, lit(re)).cast("long")

  /** The fixed 3-term query q126 and q131's lexical branch share. */
  private[graft] val QueryTerms = Seq("spark", "join", "window")

  /** Shared rational-idf Okapi BM25 core (k1=1.2, b=0.75), r14 IN-ROW
    * form (VERDICT r13 item 1 — the retrieval-family floor rebuild).
    *
    * The r13 shape tokenized the corpus into posting lists (explode →
    * filter → groupBy → persist) and rode df/stats back in as two
    * broadcasts — 4–6 jobs per query, a ~1 s scheduler floor against
    * DuckDB's 0.1 s. The r14 shape is two jobs total: (1) ONE bounded
    * stats collect (n_docs, sum_dl, per-term df — a single row), then
    * (2) per-doc scores computed IN-ROW from the stats folded to
    * literals, no explode, no persist, no broadcast, no posting
    * exchange.
    *
    * The in-row tf is `regexp_count(lower(text), '(?<!\p{L})t(?!\p{L})')`
    * — for a pure-letter term this counts exactly the maximal
    * `\p{L}+` runs equal to `t` (a match needs no letter on either
    * side, i.e. the whole token; matches cannot overlap because runs
    * are disjoint), so it equals the tokenize-then-count the oracle
    * CTEs ([[bm25SqlCtes]], unchanged) still spell. `dl` is
    * `regexp_count(lower(text), '\p{L}+')` — one count per maximal
    * run. All four counts are native codegen scans, no array
    * materialization.
    *
    * Determinism (the oracle-hash rule): idf and avgdl are computed
    * DRIVER-side with the identical IEEE op sequence the oracle's CTE
    * chain runs — idf_t = ((n_docs − df_t) exact-int → double + 0.5) /
    * (df_t → double + 0.5); avgdl = sum_dl→double / n_docs→double —
    * and embedded as exact double literals; the per-row chain
    * (idf·(tf·2.2)) / (tf + 1.2·(0.25 + 0.75·(dl/avgdl))) then sums in
    * WRITTEN term order, unmatched terms contributing literal 0.0
    * exactly like the oracle's COALESCE(MAX(...), 0.0). Bit-identical
    * scores to the r13 shape (same integers through the same double
    * ops). */
  private[graft] final case class Bm25Stats(
      nDocs: Long, sumDl: Long, dfs: IndexedSeq[Long])

  private[graft] def bm25Tf(lowered: Column, term: String): Column = {
    require(term.matches("[a-z]+"),
      s"bm25 terms must be pure lowercase letters (got '$term') — the " +
        "letter-boundary regexp_count identity only holds there")
    regexp_count(lowered, lit("(?<!\\p{L})" + term + "(?!\\p{L})"))
      .cast("long")
  }

  private[graft] def bm25Dl(lowered: Column): Column =
    regexp_count(lowered, lit("\\p{L}+")).cast("long")

  /** Corpus-stats cache, keyed by corpus dir (the mergesCache /
    * bowModelCache / centroidCache precedent): BM25's (n_docs, sum_dl,
    * per-term df) are versioned statistics of the INDEXED corpus —
    * production refreshes them by reindexing, not per query — so q126
    * and a long-lived session's repeated searches share ONE stats
    * collect. The cached value is one 5-number row — bounded. The
    * bench reports the cold cost through first_build_wall (the
    * q188-class convention). */
  private val bm25StatsCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Bm25Stats]

  /** Explicit byte bound on a decontamination panel's exact shingle
    * set before it becomes a plan literal (ADVICE r11): 8 B/shingle,
    * 16 MiB ≈ a 2M-shingle suite. With the panels' id cap (mod-97 ∧ <
    * [[BenchCap]]) this is a BACKSTOP, not the primary bound. */
  private[graft] def boundedPanelSet(query: String, panel: Array[Long]): Array[Long] = {
    require(panel.length.toLong * 8 <= (16L << 20),
      s"$query: exact-probe set literal is ${panel.length.toLong * 8} " +
        "bytes (> 16 MiB) — the decontamination panel is no longer " +
        "eval-suite-bounded; keep the exact side to a fixed panel")
    panel
  }

  /** q168's decontamination-panel shingle set, per corpus dir — the
    * same versioned-eval-suite class, bounded BY CONSTRUCTION (r15):
    * the panel docs are id-capped (mod-97 ∧ < [[BenchCap]], ≤207 docs
    * at any SF) with the use site's 16 MiB set-literal refusal as a
    * backstop. */
  private val decontPanelCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Array[Long]]

  /** q195's trained bigram LM, per corpus dir (r15 opt): (top-V vocab,
    * bigram counts) — ≤ (V+1)² rows, bounded by construction (the
    * SurpriseVocabCap stance). Same versioned-model class as
    * bowModelCache/mergesCache, with the r15 stamp discipline. */
  private val bigramLmCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, Long), (Seq[String], Seq[(String, String, Long)])]

  /** q192's holdout classifier (trained on the md5 train split), per
    * corpus dir (r15 opt): 17 bounded model rows — the bowModelCache
    * class; kept separate because the full-corpus q188 model and the
    * split-trained holdout model are different artifacts. */
  private val bowHoldoutCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, Long), IndexedSeq[(Long, Long, Long)]]

  /** Cache keys carry the source's last-modified stamp (r14 review
    * follow-up, hardened r15 per ADVICE): a corpus dir REWRITTEN IN
    * PLACE re-collects instead of serving stale index metadata — one
    * metadata stat pass per call, far cheaper than the collect it
    * guards. For a `<table>.parquet` DIRECTORY the stamp folds the max
    * CHILD mtime and the child count: overwriting part files under the
    * same names does not bump the directory's own mtime, and a part
    * added or removed changes the count even when mtimes collide. A
    * stat failure yields a fresh NEGATIVE stamp per call (never the
    * old r14 constant 0L, which pinned the first entry forever) — the
    * caller recomputes every time and caches nothing reusable. */
  private[graft] def sourceStamp(d: String, table: String): Long =
    try {
      val p = java.nio.file.Paths.get(d, s"$table.parquet")
      if (java.nio.file.Files.isDirectory(p)) {
        val children = java.nio.file.Files.list(p)
        try {
          var maxM = java.nio.file.Files.getLastModifiedTime(p).toMillis
          var n = 0L
          children.forEach { c =>
            n += 1
            val m = java.nio.file.Files.getLastModifiedTime(c).toMillis
            if (m > maxM) maxM = m
          }
          maxM * 65537L + n
        } finally children.close()
      } else java.nio.file.Files.getLastModifiedTime(p).toMillis
    } catch {
      case scala.util.control.NonFatal(_) => StampFailures.getAndDecrement()
    }

  /** Distinct negative stamps for unstat-able sources: each failure
    * misses the cache instead of aliasing onto one shared key. */
  private val StampFailures =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Stamped-cache lookup shared by the per-dir metadata caches: builds
    * BEFORE inserting (a build that throws — e.g. the q168 panel bound
    * — pins nothing) and EVICTS superseded stamps of the same dir, so a
    * long-lived session holds at most one model per (cache, dir). */
  private[graft] def stampCached[K, V](
      cache: scala.collection.concurrent.TrieMap[K, V], key: K)(
      sameDir: K => Boolean)(build: => V): V =
    cache.get(key) match {
      case Some(v) => v
      case None =>
        val v = build
        cache.keys.filter(k => k != key && sameDir(k)).foreach(cache.remove)
        cache.putIfAbsent(key, v).getOrElse(v)
    }

  /** Probe-only (graft.ScaleCheck cold mode): drop the per-dir caches
    * so a rep re-pays the stats first-build. */
  private[graft] def clearStampedCaches(): Unit = {
    bm25StatsCache.clear(); decontPanelCache.clear()
    bigramLmCache.clear(); bowHoldoutCache.clear()
  }

  private[graft] def bm25DocStats(s: SparkSession, d: String): Bm25Stats =
    stampCached(bm25StatsCache, (d, sourceStamp(d, "documents")))(_._1 == d)(
      bm25StatsOf(bm25StatsAgg(docs(s, d), QueryTerms).collect().head,
        QueryTerms.size))

  /** One-row aggregate feeding [[Bm25Stats]]: n_docs, sum_dl, df per
    * term (in `terms` order) over a frame carrying `text`. */
  private[graft] def bm25StatsAgg(src: DataFrame,
      terms: Seq[String]): DataFrame = {
    val lowered = lower(col("text"))
    src.select(bm25Dl(lowered).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          (bm25Tf(lowered, t) > 0).cast("long").as(s"m$i")
        }: _*)
      .agg(count(lit(1)).as("n_docs"),
        (sum("dl").as("sum_dl") +:
          terms.indices.map(i => sum(s"m$i").as(s"df$i"))): _*)
  }

  private[graft] def bm25StatsOf(row: org.apache.spark.sql.Row,
      nTerms: Int): Bm25Stats =
    Bm25Stats(
      if (row.isNullAt(0)) 0L else row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1),
      (0 until nTerms).map(i =>
        if (row.isNullAt(2 + i)) 0L else row.getLong(2 + i)).toIndexedSeq)

  /** In-row per-doc BM25 score for `terms` given collected stats; NULL
    * (for the top-k aggregate's skip contract) when no term matches. */
  private[graft] def bm25InRowScore(lowered: Column, terms: Seq[String],
      st: Bm25Stats): Column = {
    require(terms.size == 3, "bm25InRowScore: fixed 3-term query shape")
    val avgdl = st.sumDl.toDouble / st.nDocs.toDouble
    def termScore(t: String, dft: Long): Column = {
      val idf = ((st.nDocs - dft).toDouble + 0.5) / (dft.toDouble + 0.5)
      val tf = bm25Tf(lowered, t)
      val tfd = tf.cast("double")
      when(tf > 0,
        (lit(idf) * (tfd * lit(2.2))) /
          (tfd + lit(1.2) * (lit(0.25) +
            lit(0.75) * (bm25Dl(lowered).cast("double") / lit(avgdl)))))
        .otherwise(lit(0.0))
    }
    val s = termScore(terms(0), st.dfs(0)) +
      termScore(terms(1), st.dfs(1)) + termScore(terms(2), st.dfs(2))
    val matched = terms.zip(st.dfs).map { case (t, _) =>
      bm25Tf(lowered, t) > 0
    }.reduce(_ || _)
    when(matched, s)
  }

  /** DuckDB mirror of [[bm25Scores]] as a CTE chain ending in
    * `bm25(doc_id, score)`; `srcRel` must expose (doc_id, text). */
  private[operators] def bm25SqlCtes(srcRel: String,
      terms: Seq[String]): String = {
    val in = terms.map("'" + _ + "'").mkString(", ")
    s"bw AS (SELECT doc_id, regexp_extract_all(lower(text), '\\p{L}+') AS ws FROM $srcRel), " +
      "bd AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM bw), " +
      "bst AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM bd), " +
      "btfc AS (SELECT doc_id, dl, word, CAST(COUNT(*) AS DOUBLE) AS tf " +
      "  FROM (SELECT doc_id, dl, unnest(ws) AS word FROM bd) " +
      s"  WHERE word IN ($in) GROUP BY 1, 2, 3), " +
      "bdfc AS (SELECT word, COUNT(*) AS df FROM btfc GROUP BY 1), " +
      "bsc AS (SELECT doc_id, word, " +
      "  (bst.n_docs - bdfc.df + 0.5) / (bdfc.df + 0.5) * (tf * 2.2) / " +
      "  (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / " +
      "    (CAST(bst.sum_dl AS DOUBLE) / CAST(bst.n_docs AS DOUBLE))))) AS s " +
      "  FROM btfc JOIN bdfc USING (word), bst), " +
      "bm25 AS (SELECT doc_id, " +
      terms.map(t => s"COALESCE(MAX(CASE WHEN word = '$t' THEN s END), 0.0)")
        .mkString(" + ") +
      " AS score FROM bsc GROUP BY doc_id)"
  }

  val all: Seq[GraftQuery] = Seq(

    // The Gopher/MassiveWeb quality-rule set (Rae et al. 2021, table A1
    // — the de-facto standard web-corpus filter battery, public): word
    // count 50..100k, mean word length 3..10, symbol-to-word ratio
    // ("#" or "...") <= 0.1, < 90% of lines bullet-led, <= 30% of lines
    // ellipsis-ended, >= 80% of words with an alphabetic character,
    // >= 2 distinct Gopher stop words. Every rule is INTEGER
    // cross-multiplication (3*n <= chars <= 10*n, 10*sym <= n, ...) so
    // the row is hash-exact cross-engine — no doubles, no libm. Pure
    // per-row scalars, no shuffle — per-row-linear at any corpus size.
    // r13: the nine counters compute in ONE compiled byte pass
    // ([[graft.functions.GopherStats]], semantics-equivalence proof in
    // its Scaladoc, property-pinned against the original column stack)
    // — the former projection stacked regexp_extract_all, two
    // regexp_replace passes, three interpreted filter() lambdas, an
    // aggregate() lambda, a per-word rlike and eight array_contains,
    // which measured 3.7x the oracle at bench scale (the ADVICE-r10
    // "fold when it matters" note, cashed). (The repetition-rule
    // siblings are q87; q41 is the lightweight length/ratio panel.) On
    // THIS corpus the battery rejects everything via stops_ok (a bag of
    // 31 jargon words contains only 'the' of the 8 stop words —
    // correct: it is not English prose) while wc_ok still splits
    // 277/500, so the oracle certifies discriminating columns, not
    // constants.
    GraftQuery("q177_gopher_rules",
      (s, d) => {
        def bool2l(c: org.apache.spark.sql.Column) = c.cast("long")
        docs(s, d).select(col("doc_id"),
            graft.functions.GopherStats.gopherStats(col("text")).as("g"))
          .select(col("doc_id"),
            col("g").getItem(0).as("n_words"),
            col("g").getItem(1).as("n_word_chars"),
            col("g").getItem(2).as("n_hash"),
            col("g").getItem(3).as("n_ellipsis"),
            col("g").getItem(4).as("n_lines"),
            col("g").getItem(5).as("n_bullet"),
            col("g").getItem(6).as("n_ell_lines"),
            col("g").getItem(7).as("n_alpha_words"),
            col("g").getItem(8).as("n_stops"))
          .select(col("doc_id"), col("n_words"),
            bool2l(col("n_words").between(50L, 100000L)).as("wc_ok"),
            bool2l(col("n_word_chars") >= col("n_words") * 3 &&
              col("n_word_chars") <= col("n_words") * 10).as("mwl_ok"),
            bool2l((col("n_hash") + col("n_ellipsis")) * 10 <=
              col("n_words")).as("sym_ok"),
            bool2l(col("n_bullet") * 10 < col("n_lines") * 9).as("bullet_ok"),
            bool2l(col("n_ell_lines") * 10 <= col("n_lines") * 3).as("ell_ok"),
            bool2l(col("n_alpha_words") * 5 >= col("n_words") * 4)
              .as("alpha_ok"),
            bool2l(col("n_stops") >= 2L).as("stops_ok"))
          .withColumn("pass",
            bool2l(col("wc_ok") + col("mwl_ok") + col("sym_ok") +
              col("bullet_ok") + col("ell_ok") + col("alpha_ok") +
              col("stops_ok") === 7L))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id,
        |  regexp_extract_all(text, '\S+') AS ws,
        |  string_split(text, chr(10)) AS ls,
        |  lower(text) AS lt, text FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS n_word_chars,
        |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |  CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ellipsis,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(list_filter(ls, l -> ltrim(l) LIKE '•%' OR ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) AS BIGINT) AS n_bullet,
        |  CAST(len(list_filter(ls, l -> rtrim(l) LIKE '%...')) AS BIGINT) AS n_ell_lines,
        |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |  CAST((CASE WHEN list_contains(regexp_extract_all(lt, '\S+'), 'the') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(regexp_extract_all(lt, '\S+'), 'be') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(regexp_extract_all(lt, '\S+'), 'to') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(regexp_extract_all(lt, '\S+'), 'of') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(regexp_extract_all(lt, '\S+'), 'and') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(regexp_extract_all(lt, '\S+'), 'that') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(regexp_extract_all(lt, '\S+'), 'have') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(regexp_extract_all(lt, '\S+'), 'with') THEN 1 ELSE 0 END) AS BIGINT) AS n_stops
        |  FROM b)
        |SELECT doc_id, n_words,
        |  CAST(n_words BETWEEN 50 AND 100000 AS BIGINT) AS wc_ok,
        |  CAST(n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10 AS BIGINT) AS mwl_ok,
        |  CAST((n_hash + n_ellipsis) * 10 <= n_words AS BIGINT) AS sym_ok,
        |  CAST(n_bullet * 10 < n_lines * 9 AS BIGINT) AS bullet_ok,
        |  CAST(n_ell_lines * 10 <= n_lines * 3 AS BIGINT) AS ell_ok,
        |  CAST(n_alpha_words * 5 >= n_words * 4 AS BIGINT) AS alpha_ok,
        |  CAST(n_stops >= 2 AS BIGINT) AS stops_ok,
        |  CAST(CAST(n_words BETWEEN 50 AND 100000 AS INT)
        |     + CAST(n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10 AS INT)
        |     + CAST((n_hash + n_ellipsis) * 10 <= n_words AS INT)
        |     + CAST(n_bullet * 10 < n_lines * 9 AS INT)
        |     + CAST(n_ell_lines * 10 <= n_lines * 3 AS INT)
        |     + CAST(n_alpha_words * 5 >= n_words * 4 AS INT)
        |     + CAST(n_stops >= 2 AS INT) = 7 AS BIGINT) AS pass
        |FROM m ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    GraftQuery("q40_text_tokens",
      (s, d) => docs(s, d)
        .select(col("source"), tokenCount(col("text")).as("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("total_tokens"),
          min("tok").as("min_tokens"), max("tok").as("max_tokens"))
        .orderBy("source"),
      Some("""WITH t AS (SELECT source, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok FROM documents)
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |MIN(tok) AS min_tokens, MAX(tok) AS max_tokens FROM t GROUP BY source ORDER BY source"""
        .stripMargin.replace("\n", " "))),

    GraftQuery("q41_text_quality",
      (s, d) => {
        val base = docs(s, d).select(
          col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          reCount(col("text"), "[.,;:!?]").as("n_punct"),
          length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_glyphs"),
          length(col("text")).cast("long").as("len"),
          reCount(lower(col("text")), StopRe).as("n_stop"))
        base.select(
          col("doc_id"), col("n_tokens"),
          (col("n_glyphs").cast("double") / nullif(col("n_tokens"), lit(0)))
            .as("avg_token_len"),
          (col("n_punct").cast("double") / nullif(col("len"), lit(0)))
            .as("punct_ratio"),
          (col("n_stop").cast("double") / nullif(col("n_tokens"), lit(0)))
            .as("stop_ratio"))
          .withColumn("quality",
            least(lit(1.0), col("n_tokens").cast("double") / 100) *
              (lit(1.0) - col("punct_ratio")) *
              (lit(0.5) + lit(0.5) * col("stop_ratio")))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
        |CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_glyphs,
        |CAST(length(text) AS BIGINT) AS len,
        |CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS BIGINT) AS n_stop
        |FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |CAST(n_glyphs AS DOUBLE)/NULLIF(n_tokens,0) AS avg_token_len,
        |CAST(n_punct AS DOUBLE)/NULLIF(len,0) AS punct_ratio,
        |CAST(n_stop AS DOUBLE)/NULLIF(n_tokens,0) AS stop_ratio FROM b)
        |SELECT doc_id, n_tokens, avg_token_len, punct_ratio, stop_ratio,
        |least(1.0, CAST(n_tokens AS DOUBLE)/100) * (1.0 - punct_ratio) * (0.5 + 0.5*stop_ratio) AS quality
        |FROM r ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // n-gram-marker language ID; deterministic argmax with fixed tie order.
    GraftQuery("q42_text_langid",
      (s, d) => {
        val t = lower(col("text"))
        docs(s, d).select(
          col("doc_id"), col("lang"),
          reCount(t, EnRe).as("sen"), reCount(t, DeRe).as("sde"),
          reCount(t, EsRe).as("ses"), reCount(t, FrRe).as("sfr"),
          reCount(col("text"), ZhRe).as("szh"))
          .select(col("doc_id"), col("lang"),
            when(col("szh") > 0, "zh")
              .when(greatest(col("sen"), col("sde"), col("ses"), col("sfr")) === 0, "und")
              .when(col("sen") >= col("sde") && col("sen") >= col("ses") &&
                col("sen") >= col("sfr"), "en")
              .when(col("sde") >= col("ses") && col("sde") >= col("sfr"), "de")
              .when(col("ses") >= col("sfr"), "es")
              .otherwise("fr").as("pred_lang"))
          .orderBy("doc_id")
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
        |CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS BIGINT) AS sen,
        |CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT) AS sde,
        |CAST(len(regexp_extract_all(lower(text), '\b(el|la|los|de|y|es)\b')) AS BIGINT) AS ses,
        |CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS BIGINT) AS sfr,
        |CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS szh
        |FROM documents)
        |SELECT doc_id, lang, CASE WHEN szh > 0 THEN 'zh'
        |WHEN greatest(sen, sde, ses, sfr) = 0 THEN 'und'
        |WHEN sen >= sde AND sen >= ses AND sen >= sfr THEN 'en'
        |WHEN sde >= ses AND sde >= sfr THEN 'de'
        |WHEN ses >= sfr THEN 'es' ELSE 'fr' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // BPE-style pre-tokenization count (GPT-2-ish pattern restricted to
    // the RE2 ∩ Java-regex subset — no lookahead): letters / digits /
    // punctuation runs with optional leading space. The ratio to
    // whitespace tokens is the usual tokens-per-word fertility estimate.
    GraftQuery("q59_bpe_tokens",
      (s, d) => {
        val bpeRe = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
        docs(s, d).select(col("source"),
          reCount(col("text"), bpeRe).as("bpe"),
          tokenCount(col("text")).as("ws"))
          .groupBy("source")
          .agg(sum("bpe").as("total_bpe"), sum("ws").as("total_ws"),
            (sum("bpe").cast("double") / sum("ws")).as("fertility"))
          .orderBy("source")
      },
      Some("""WITH t AS (SELECT source,
        |CAST(len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS bpe,
        |CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws FROM documents)
        |SELECT source, CAST(SUM(bpe) AS BIGINT) AS total_bpe,
        |CAST(SUM(ws) AS BIGINT) AS total_ws,
        |CAST(CAST(SUM(bpe) AS BIGINT) AS DOUBLE)/CAST(SUM(ws) AS BIGINT) AS fertility
        |FROM t GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))),

    // Normalized-content fingerprint (rolling-hash stand-in: md5 over
    // whitespace/case-normalized text — same capability, oracle-exact).
    GraftQuery("q43_text_fingerprint",
      (s, d) => docs(s, d)
        .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "))),

    // Normalization-aware exact dedup: case-fold, strip punctuation,
    // collapse whitespace BEFORE hashing — catches trivially-reformatted
    // duplicates byte-exact dedup (q44) misses. Same one-shuffle shape:
    // only (digest, id) rows move.
    GraftQuery("q82_dedup_normalized",
      (s, d) => {
        val canon = regexp_replace(
          regexp_replace(lower(trim(col("text"))), "[^\\p{L}\\p{N}\\s]", ""),
          "\\s+", " ")
        docs(s, d)
          .groupBy(sha2(canon, 256).as("h"))
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_cnt"))
          .select("doc_id", "h", "dup_cnt")
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id, regexp_replace(regexp_replace(
        |lower(trim(text)), '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g') AS canon
        |FROM documents)
        |SELECT MIN(doc_id) AS doc_id, sha256(canon) AS h, COUNT(*) AS dup_cnt
        |FROM c GROUP BY sha256(canon) ORDER BY doc_id"""
        .stripMargin.replace("\n", " "))),

    // Deterministic EXACT-n sampling — the bottom-k hash sketch
    // ([[graft.streaming.ReservoirSampleStream]] holds the full design
    // note): every doc's priority is md5(doc_id-as-string) and the
    // sample IS the n smallest priorities. Uniform over the id space,
    // reproducible across runs AND engines (the md5 determinism q89's
    // splits use), mergeable (union-then-bottom-n == bottom-n of the
    // union — the 1000-executor property), duplicate-safe. Contrast
    // q173: DuckDB's USING SAMPLE draws a DIFFERENT random sample per
    // run, so only its aggregate contracts can be oracled — this form
    // is row-for-row hash-exact. Plan: one TakeOrdered pass (per-
    // partition bounded heaps, no sort, no shuffle of the corpus).
    GraftQuery("q176_deterministic_sample",
      (s, d) => graft.streaming.ReservoirSampleStream.batchSample(
        docs(s, d).select(col("doc_id"), col("text").as("payload")), 100),
      Some("SELECT md5(CAST(doc_id AS VARCHAR)) AS priority, doc_id, " +
        "text AS payload FROM documents ORDER BY priority, doc_id " +
        "LIMIT 100")),

    // Deterministic stratified sampling: keep ~10% per language via a
    // residue predicate on a key-derived value — reproducible across
    // runs/engines (what rand() sampling can never give a pipeline),
    // no shuffle at all for the sample itself (narrow filter), one
    // aggregation to report per-stratum rates.
    GraftQuery("q83_stratified_sample",
      (s, d) => {
        val keep = pmod(col("doc_id") * 2654435761L, lit(100)) < 10
        docs(s, d)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
            sum(when(keep, 1L).otherwise(0L)).as("n_sampled"))
          .orderBy("lang")
      },
      Some("SELECT lang, COUNT(*) AS n_total, " +
        "CAST(SUM(CASE WHEN ((doc_id * 2654435761) % 100 + 100) % 100 < 10 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled " +
        "FROM documents GROUP BY lang ORDER BY lang")),

    // Per-language document-length histogram (512-char buckets, capped):
    // the distribution diagnostic every corpus build runs before
    // filtering. Bucketing is a narrow projection; one shuffle on
    // (lang, bucket) with map-side combine.
    GraftQuery("q84_length_histogram",
      (s, d) => docs(s, d)
        .select(col("lang"),
          least(floor(col("n_chars") / 512), lit(8L)).as("bucket"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "bucket"),
      Some("SELECT lang, LEAST(CAST(FLOOR(n_chars / 512) AS BIGINT), 8) AS bucket, " +
        "COUNT(*) AS n FROM documents GROUP BY 1, 2 ORDER BY lang, bucket"))
    ,

    // Repetition filters (the Gopher/MassiveText rules every corpus build
    // applies): duplicate-line fraction and top-word mass per document,
    // with the usual reject thresholds. Explode → count is the scale
    // form: a document's exploded lines/words land in the producing
    // partition, so map-side combine collapses them to per-doc distincts
    // BEFORE the (doc_id, token) shuffle — the shuffle carries ~unique
    // tokens per doc, never the raw token stream. Ratios are exact-int
    // divisions in double: bit-identical across engines.
    GraftQuery("q87_repetition_filters",
      (s, d) => {
        val base = docs(s, d)
        val lineFrac = base
          .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
          .groupBy("doc_id", "line").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(((sum("c") - count(lit(1))).cast("double") / sum("c"))
            .as("dup_line_frac"))
        val wordFrac = base
          .select(col("doc_id"),
            explode(regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0)))
              .as("word"))
          .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg((max("c").cast("double") / sum("c")).as("top_word_frac"),
            sum("c").cast("long").as("n_words"))
        base.select("doc_id")
          .join(lineFrac, Seq("doc_id"), "left")
          .join(wordFrac, Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("dup_line_frac"),
            coalesce(col("top_word_frac"), lit(0.0)).as("top_word_frac"),
            coalesce(col("n_words"), lit(0L)).as("n_words"),
            (col("dup_line_frac") > 0.3 ||
              coalesce(col("top_word_frac"), lit(0.0)) > 0.2).as("repetitive"))
          .orderBy("doc_id")
      },
      Some("""WITH l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
        |lc AS (SELECT doc_id, line, COUNT(*) AS c FROM l GROUP BY 1, 2),
        |lf AS (SELECT doc_id, CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup_line_frac FROM lc GROUP BY doc_id),
        |w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\p{L}+')) AS word FROM documents),
        |wc AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
        |wf AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_word_frac,
        |CAST(SUM(c) AS BIGINT) AS n_words FROM wc GROUP BY doc_id)
        |SELECT d.doc_id, lf.dup_line_frac,
        |COALESCE(wf.top_word_frac, 0.0) AS top_word_frac,
        |CAST(COALESCE(wf.n_words, 0) AS BIGINT) AS n_words,
        |(lf.dup_line_frac > 0.3 OR COALESCE(wf.top_word_frac, 0.0) > 0.2) AS repetitive
        |FROM documents d LEFT JOIN lf USING (doc_id) LEFT JOIN wf USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin.replace("\n", " ")))
    ,

    // Deterministic train/val/test split — the assignment every corpus
    // build needs to be REPRODUCIBLE and shard-local: hash the stable
    // doc key, never rand(). Bucketing by the first md5 byte gives a
    // content-independent ~80/10/10 split identical on any engine and
    // any partitioning; at 100 TB it is a narrow map + one tiny
    // aggregation (3 groups), no shuffle of document data.
    GraftQuery("q89_train_split",
      (s, d) => {
        val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
        docs(s, d)
          .select(when(h2 < "cd", "train").when(h2 < "e6", "val")
            .otherwise("test").as("split"), col("n_chars"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").cast("long").as("total_chars"))
          .orderBy("split")
      },
      Some("WITH b AS (SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val' ELSE 'test' END AS split, n_chars FROM documents) " +
        "SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars " +
        "FROM b GROUP BY split ORDER BY split"))
    ,

    // Type-token ratio (vocabulary richness) — a quality signal the
    // ratio suite (q41) does not cover: distinct-word count per doc.
    // Exact integers only (the ratio is left to the consumer), so the
    // result is engine-independent. Narrow per-row work; the distinct
    // happens INSIDE the row (array_distinct), never as a shuffle.
    GraftQuery("q90_ttr",
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_types"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("lexically_poor", col("n_types") * 5 < col("n_tokens"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "(len(list_distinct(string_split(text, ' '))) * 5 < len(string_split(text, ' '))) AS lexically_poor " +
        "FROM documents ORDER BY doc_id"))
    ,

    // Benchmark decontamination — before training, count which corpus
    // documents contain a benchmark document's opening passage (here the
    // bench set is a deterministic 1-in-97 sample OF THE FIRST 20000
    // doc_ids, standing in for an external eval set — which is
    // fixed-size by nature, so the stand-in must be bounded by
    // construction too; unbounded, the probe's bench∝corpus made this
    // measure n²/97 at the g1→g10 decade, exp 1.46). Scale shape: the
    // ≤207 bench prefixes are a tiny BROADCAST side; the corpus streams
    // through a codegen `contains` (substring search, no regex) exactly
    // once — no shuffle of text, the per-bench counts aggregate
    // map-side, and cost is bench × corpus = LINEAR in the corpus.
    // q104 is the collision-driven form for when the bench set itself
    // is large.
    // Global heavy hitters — the corpus-wide vocabulary profile (top-k
    // terms by document frequency) that drives stopword lists and
    // tokenizer audits. Scale shape: explode → per-partition partial
    // counts (map-side combine collapses each partition's repeats of a
    // word BEFORE the shuffle) → one (word)-keyed exchange →
    // TakeOrderedAndProject for the top-k. The per-doc distinct for df
    // happens inside the (doc_id, word) pre-aggregation, which shares
    // the word-keyed shuffle.
    GraftQuery("q95_heavy_hitters",
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0)))
            .as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .groupBy("word")
        .agg(sum("c").cast("long").as("total"),
          count(lit(1)).as("df"))
        .orderBy(col("total").desc, col("word"))
        .limit(50),
      Some("WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\p{L}+')) AS word FROM documents), " +
        "dc AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2) " +
        "SELECT word, CAST(SUM(c) AS BIGINT) AS total, COUNT(*) AS df " +
        "FROM dc GROUP BY word ORDER BY total DESC, word LIMIT 50"))
    ,

    GraftQuery("q91_decontamination",
      (s, d) => {
        val base = docs(s, d)
        val bench = base
          .filter(pmod(col("doc_id"), lit(97)) === 0 &&
            col("doc_id") < BenchCap)
          .select(col("doc_id").as("bench_id"),
            substring(col("text"), 1, 60).as("prefix"))
        val hits = base.join(broadcast(bench),
            contains(col("text"), col("prefix")) &&
              col("doc_id") =!= col("bench_id"))
          .groupBy("bench_id")
          .agg(count(lit(1)).as("n_contaminated"))
        bench.select("bench_id")
          .join(hits, Seq("bench_id"), "left")
          .select(col("bench_id"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
          .orderBy("bench_id")
      },
      Some(s"WITH bench AS (SELECT doc_id AS bench_id, substr(text, 1, 60) AS prefix FROM documents WHERE doc_id % 97 = 0 AND doc_id < $BenchCap), " +
        "hits AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated FROM documents d " +
        "JOIN bench b ON d.doc_id <> b.bench_id AND contains(d.text, b.prefix) GROUP BY bench_id) " +
        "SELECT b.bench_id, CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated " +
        "FROM bench b LEFT JOIN hits h USING (bench_id) ORDER BY b.bench_id"))
    ,

    // PII detection + redaction — the scrub stage of a corpus build.
    // The synthetic corpus carries no PII, so the query plants a
    // deterministic contact suffix per document (both engines build the
    // SAME enriched column) and then detects/redacts with RE2∩Java
    // regexes: counts per kind plus a fingerprint of the redacted text
    // prove the rewrite is byte-identical. Single-pass narrow; the
    // redacted text collapses to an md5 before any ORDER BY, so document
    // bodies never move between stages.
    GraftQuery("q98_pii_redaction",
      (s, d) => {
        val enriched = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com phone 555-867-5309 ip 10.0.0."),
          pmod(col("doc_id"), lit(250)).cast("string"))
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
        val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        docs(s, d)
          .select(col("doc_id"), enriched.as("t"))
          .select(col("doc_id"),
            regexp_count(col("t"), lit(email)).cast("long").as("n_emails"),
            regexp_count(col("t"), lit(phone)).cast("long").as("n_phones"),
            md5(regexp_replace(
              regexp_replace(
                regexp_replace(col("t"), email, "<EMAIL>"),
                ip, "<IP>"),
              phone, "<PHONE>")).as("redacted_fp"))
          .orderBy("doc_id")
      },
      Some("WITH e AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example.com phone 555-867-5309 ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR) AS t FROM documents) " +
        "SELECT doc_id, CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS BIGINT) AS n_phones, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(t, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
        "'\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g')) AS redacted_fp " +
        "FROM e ORDER BY doc_id"))
    ,

    // Sequence packing — grouping documents into context-window-sized
    // training sequences. Distributed shape: documents hash-shard by
    // the first md5 nibble of the stable key (16 independent partitions
    // — no global-order bottleneck), then a per-shard running token sum
    // assigns each doc to the window it starts in (greedy contiguous
    // fill, 2048-token budget, oversize docs overflow their own bin).
    // Only (shard, doc_id, tok) rows enter the window shuffle — text
    // stays at the scan.
    GraftQuery("q99_seq_packing",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val shard = substring(md5(col("doc_id").cast("string")), 1, 1)
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, d)
          .select(shard.as("shard"), col("doc_id"),
            tokenCount(col("text")).as("tok"))
          .withColumn("cum", sum("tok").over(w))
          .select(col("shard"),
            floor((col("cum") - col("tok")) / 2048.0).cast("long").as("bin"),
            col("tok"))
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"), sum("tok").cast("long").as("sum_tokens"))
          .orderBy("shard", "bin")
      },
      Some("WITH t AS (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard, doc_id, " +
        "CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tok FROM documents), " +
        "c AS (SELECT shard, doc_id, tok, SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t) " +
        "SELECT shard, CAST(FLOOR((cum - tok) / 2048.0) AS BIGINT) AS bin, " +
        "COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS sum_tokens " +
        "FROM c GROUP BY shard, bin ORDER BY shard, bin"))
    ,

    // Deterministic source mixing — re-weight training domains by
    // sampling each source at its mixture rate (here: src0–4 kept
    // whole, src5–9 at 1/2, the rest at 1/4), with the keep decision a
    // pure function of doc_id (md5 bucket < rate threshold, the q89
    // trick) so reruns and both engines agree row-for-row. Distributed
    // shape: rate and keep are computed inside the scan's projection
    // (the filter prunes before anything moves), then one agg shuffle
    // on the low-cardinality source key. Text never shuffles; at 100 TB
    // this is a single pass that drops (1 - blended rate) of the input
    // at the mapper.
    GraftQuery("q103_source_mixing",
      (s, d) => {
        val srcNum = substring(col("source"), 4, 8).cast("int")
        val thr = when(srcNum < 5, "g").when(srcNum < 10, "80").otherwise("40")
        docs(s, d)
          .withColumn("keep",
            substring(md5(col("doc_id").cast("string")), 1, 2) < thr)
          .where(col("keep"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum("n_chars").cast("long").as("kept_chars"))
          .orderBy("source")
      },
      Some("WITH r AS (SELECT source, n_chars, " +
        "CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 'g' " +
        "WHEN CAST(substr(source, 4) AS INT) < 10 THEN '80' ELSE '40' END AS thr, " +
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2 FROM documents) " +
        "SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars " +
        "FROM r WHERE h2 < thr GROUP BY source ORDER BY source"))
    ,

    // N-gram-collision decontamination — the published stronger form of
    // q91's prefix containment (GPT-3 appendix C / PaLM style): a corpus
    // document is contaminated if it shares any word 5-gram with the
    // bench set (same 1-in-97 bench sample as q91). Distributed shape
    // (r16, guide §2.4 — the q168 set-literal precedent): the bench
    // side's DISTINCT 5-gram hash set is an eval-suite constant
    // (id-capped ≤207 docs at ANY SF — the documented bounded-panel
    // collect class), so it rides the plan as a sorted-long-array
    // literal probed per shingle by an allocation-free binary search
    // ([[graft.functions.SortedLongsContain]]) — the broadcast-build
    // job, its exchange, and the left join are gone, and the corpus
    // explodes its (in-row distinct) shingles ONCE into a single
    // map-side-combined doc_id aggregation. Text never shuffles; only
    // (doc_id, 8-byte hash) rows exist past the scan, and the hit
    // filter keeps the result proportional to the contamination, not
    // the corpus. Measured: Exchange 3 → 2, Scan 2 → 1, join gone;
    // exec 0.91 → 0.45-0.53 s; wall 0.35 → 0.22-0.32 across the r16
    // pairs (the in-window panel collect replaces the broadcast-build
    // job one-for-one, so job count holds at 3 while the second
    // corpus-side shingle pass disappears).
    GraftQuery("q104_ngram_decontamination",
      (s, d) => {
        // bounded collect (≤207 bench docs by construction — the q156
        // panel-class exception); empty panel ⇒ nothing is contaminated
        val panel: Array[Long] = docs(s, d)
          .filter(pmod(col("doc_id"), lit(97)) === 0 &&
            col("doc_id") < BenchCap)
          .select(explode(graft.functions.WordShingleHashes
            .shingleHashes(col("text"), 5)).as("s"))
          .distinct().collect().map(_.getLong(0))
        val benchSet = lit(graft.functions.SortedLongsContain
          .serialize(boundedPanelSet("q104", panel)))
        docs(s, d).filter(pmod(col("doc_id"), lit(97)) =!= 0)
          .select(col("doc_id"),
            explode(graft.functions.WordShingleHashes
              .shingleHashes(col("text"), 5)).as("s"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("total_ngrams"),
            sum(graft.functions.SortedLongsContain
              .sortedContains(col("s"), benchSet).cast("long"))
              .cast("long").as("hit_ngrams"))
          .filter(col("hit_ngrams") > 0)
          .select(col("doc_id"), col("total_ngrams"), col("hit_ngrams"),
            (col("hit_ngrams").cast("double") / col("total_ngrams"))
              .as("contamination"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
        |  FOR i IN generate_series(1, len(toks)-4)])) AS s FROM t),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0 AND doc_id < $BenchCap),
        |per AS (SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
        |  CAST(SUM(CASE WHEN bench.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_ngrams
        |  FROM sh LEFT JOIN bench ON sh.s = bench.s WHERE sh.doc_id % 97 <> 0 GROUP BY sh.doc_id)
        |SELECT doc_id, total_ngrams, hit_ngrams,
        |  CAST(hit_ngrams AS DOUBLE)/total_ngrams AS contamination
        |FROM per WHERE hit_ngrams > 0 ORDER BY doc_id""".stripMargin.replace("\n", " ")))
    ,

    // Deterministic mixture upsampling — q103's complement: sources with
    // epoch weight > 1 (Pile/LLaMA-style domain re-weighting) repeat
    // fractionally, floor(rate) whole epochs plus one more for the
    // md5-bucket fraction of documents (src0–4 at 2.5 epochs, src5–9 at
    // 1.5, the rest at 1.0). The repetition is an IN-ROW
    // explode(sequence(1, epochs)) — no shuffle, no driver loop — and
    // each copy carries an epoch tag so a downstream packer (q99) can
    // interleave epochs. At 100 TB the blowup is the blended rate
    // (~1.6× here), paid at the mapper; the only exchange is the final
    // low-cardinality source aggregation.
    GraftQuery("q105_mixture_upsampling",
      (s, d) => {
        val srcNum = substring(col("source"), 4, 8).cast("int")
        val base = lit(1L) + when(srcNum < 5, 1L).otherwise(0L)
        val extra = (substring(md5(col("doc_id").cast("string")), 1, 2) < "80")
          .and(srcNum < 10).cast("long")
        docs(s, d)
          .select(col("source"), col("n_chars"),
            explode(sequence(lit(1L), base + extra)).as("epoch"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_rows"),
            sum("n_chars").cast("long").as("total_chars"),
            max("epoch").cast("long").as("max_epoch"))
          .orderBy("source")
      },
      Some("WITH r AS (SELECT source, n_chars, unnest(generate_series(1, " +
        "(CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 2 WHEN CAST(substr(source, 4) AS INT) < 10 THEN 1 ELSE 1 END) " +
        "+ (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80' AND CAST(substr(source, 4) AS INT) < 10 THEN 1 ELSE 0 END))) AS epoch " +
        "FROM documents) " +
        "SELECT source, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
        "CAST(MAX(epoch) AS BIGINT) AS max_epoch FROM r GROUP BY source ORDER BY source"))
    ,

    // Quality filtering at a GLOBAL percentile threshold — drop the
    // bottom decile by token count (the corpus-relative form of q41's
    // absolute-ratio filters). The threshold is a one-row aggregate
    // broadcast back over the corpus (scalar-subquery shape, q27): the
    // corpus streams twice — once to learn the threshold, once to apply
    // it (inherent to any global-percentile filter; DuckDB's CTE form
    // does the same) — and only (doc_id, tok) pairs move. The
    // exact global percentile buffers the value column on one reducer —
    // fine for a threshold over a numeric column, and q74's
    // approx_percentile is the documented sketch twin at 100 TB.
    GraftQuery("q109_quality_percentile_filter",
      (s, d) => {
        val scored = docs(s, d)
          .select(col("doc_id"), tokenCount(col("text")).as("tok"))
        val thr = scored.agg(expr("percentile(tok, 0.1)").as("thr"))
        scored.crossJoin(broadcast(thr))
          .filter(col("tok") < col("thr"))
          .select(col("doc_id"), col("tok"))
          .orderBy("doc_id")
      },
      Some("WITH s AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tok FROM documents), " +
        "t AS (SELECT quantile_cont(tok, 0.1) AS thr FROM s) " +
        "SELECT doc_id, tok FROM s, t WHERE tok < thr ORDER BY doc_id"))
    ,

    // Deterministic per-source cap — balance a corpus by keeping at most
    // K documents per source, chosen by md5 order so the "sample" is
    // stable across runs and engines (no RAND(), no first-K-by-arrival).
    // One exchange on source; the rank is a window over that
    // partitioning and rows beyond K never leave the window stage.
    GraftQuery("q110_source_cap",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        docs(s, d).select(col("source"), col("doc_id"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 10)
          .orderBy("source", "rn")
      },
      Some("SELECT source, doc_id, rn FROM (SELECT source, doc_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn " +
        "FROM documents) WHERE rn <= 10 ORDER BY source, rn"))
    ,

    // Pairwise source similarity — cosine between the unigram count
    // vectors of every source pair, the domain-similarity matrix a
    // mixture designer reads before setting q103/q105 weights. All
    // arithmetic is engine-stable: counts are integers, the dot/norm
    // sums are exact 64-bit integer additions (≤ 2^53 here; DECIMAL is
    // the documented upgrade at larger scale), and the final
    // dot/sqrt/divide is a fixed-order IEEE expression. Shape: one
    // (source, word) count exchange; the word-keyed pair join's groups
    // are bounded by the SOURCE count (≤ 20 rows per word, so the
    // "hot stopword" group explodes to at most C(20,2) pairs — the df
    // cap problem q45 has does not exist here); pair sums exchange on
    // (sa, sb), 190 cells.
    GraftQuery("q114_source_similarity",
      (s, d) => {
        val wc = docs(s, d)
          .select(col("source"),
            explode(regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0)))
              .as("word"))
          .groupBy("source", "word").agg(count(lit(1)).as("c"))
          .persistTracked() // vocab×sources-bounded; 3 consumers, 1 corpus pass
        val norms = wc.groupBy("source")
          .agg(sum(col("c") * col("c")).as("n2"))
        val dots = wc.select(col("source").as("sa"), col("word"), col("c").as("ca"))
          .join(wc.select(col("source").as("sb"), col("word"), col("c").as("cb")),
            "word")
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(sum(col("ca") * col("cb")).as("dot"))
        dots
          .join(broadcast(norms.select(col("source").as("sa"), col("n2").as("na"))), "sa")
          .join(broadcast(norms.select(col("source").as("sb"), col("n2").as("nb"))), "sb")
          .select(col("sa"), col("sb"),
            (col("dot").cast("double") / sqrt(col("na").cast("double"))
              / sqrt(col("nb").cast("double"))).as("cos"))
          .orderBy("sa", "sb")
      },
      Some("WITH w AS (SELECT source, unnest(regexp_extract_all(lower(text), '\\p{L}+')) AS word FROM documents), " +
        "wc AS (SELECT source, word, COUNT(*) AS c FROM w GROUP BY 1, 2), " +
        "n AS (SELECT source, SUM(c * c) AS n2 FROM wc GROUP BY 1), " +
        "dots AS (SELECT a.source AS sa, b.source AS sb, SUM(a.c * b.c) AS dot " +
        "  FROM wc a JOIN wc b ON a.word = b.word AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT sa, sb, CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE)) / sqrt(CAST(nb.n2 AS DOUBLE)) AS cos " +
        "FROM dots JOIN n na ON dots.sa = na.source JOIN n nb ON dots.sb = nb.source " +
        "ORDER BY sa, sb"))
    ,

    // Distinctive terms per source — top-5 words by LIFT (in-source rate
    // over corpus rate), the rational-arithmetic stand-in for TF-IDF:
    // log() is libm-dependent and breaks cross-engine exactness, while
    // lift's multiply-then-divide chain is exact-rounded IEEE in a fixed
    // order on both engines and yields the same "what makes this domain
    // different" ranking. tf ≥ 3 drops hapax noise. Shape: the
    // (source, word) rollup feeds both the word-level corpus counts and
    // the per-source totals (two small reuses of one exchange); ranking
    // is a row_number window on the source partitioning.
    GraftQuery("q115_distinctive_terms",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wc = docs(s, d)
          .select(col("source"),
            explode(regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0)))
              .as("word"))
          .groupBy("source", "word").agg(count(lit(1)).as("tf"))
          .persistTracked() // vocab×sources-bounded; 4 consumers, 1 corpus pass
        val srcTot = wc.groupBy("source").agg(sum("tf").as("st"))
        val wordTot = wc.groupBy("word").agg(sum("tf").as("ctf"))
        val corpusTot = wc.agg(sum("tf").as("ct"))
        val w = Window.partitionBy("source")
          .orderBy(col("lift").desc, col("word"))
        wc.filter(col("tf") >= 3)
          .join(wordTot, "word")
          .join(broadcast(srcTot), "source")
          .crossJoin(broadcast(corpusTot))
          .select(col("source"), col("word"), col("tf"),
            (col("tf").cast("double") * col("ct") / col("st") / col("ctf"))
              .as("lift"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .orderBy("source", "rn")
      },
      Some("WITH w AS (SELECT source, unnest(regexp_extract_all(lower(text), '\\p{L}+')) AS word FROM documents), " +
        "wc AS (SELECT source, word, COUNT(*) AS tf FROM w GROUP BY 1, 2), " +
        "st AS (SELECT source, SUM(tf) AS st FROM wc GROUP BY 1), " +
        "wt AS (SELECT word, SUM(tf) AS ctf FROM wc GROUP BY 1), " +
        "ct AS (SELECT SUM(tf) AS ct FROM wc), " +
        "l AS (SELECT wc.source, wc.word, wc.tf, " +
        "  CAST(wc.tf AS DOUBLE) * ct.ct / st.st / wt.ctf AS lift " +
        "  FROM wc JOIN wt ON wc.word = wt.word JOIN st ON wc.source = st.source, ct WHERE wc.tf >= 3), " +
        "r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY lift DESC, word) AS BIGINT) AS rn FROM l) " +
        "SELECT source, word, tf, lift, rn FROM r WHERE rn <= 5 ORDER BY source, rn"))
    ,

    // Overlapping-window document chunking — the retrieval-pipeline
    // (RAG) segmentation step: 200-char windows on a 150-char stride
    // (50-char overlap so no boundary-straddling passage is lost).
    // Chunk offsets and slices are pure IN-ROW arithmetic
    // (explode(sequence) + substr — no shuffle, no driver loop); each
    // chunk collapses to its md5 in the same projection, so document
    // text never outlives the scan stage and the output is
    // embedding-ready (chunk id + fingerprint + length). The 1-in-50
    // doc sample keeps the dump small; the plan is identical without it.
    GraftQuery("q117_chunking",
      (s, d) => docs(s, d)
        .filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(1L), col("n_chars"), lit(150L)))
            .as(Seq("chunk_idx", "off")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          expr("substring(text, off, 200)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("fp"))
        .orderBy("doc_id", "chunk_idx"),
      Some("WITH c AS (SELECT doc_id, " +
        "unnest(generate_series(1, n_chars, 150)) AS off, " +
        "unnest(generate_series(0, CAST(CEIL(n_chars / 150.0) AS BIGINT) - 1)) AS chunk_idx, " +
        "text FROM documents WHERE doc_id % 50 = 0) " +
        "SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, " +
        "CAST(len(substr(text, CAST(off AS BIGINT), 200)) AS BIGINT) AS chunk_len, " +
        "md5(substr(text, CAST(off AS BIGINT), 200)) AS fp " +
        "FROM c ORDER BY doc_id, chunk_idx"))
    ,

    // Vocabulary-overlap sketches — pairwise Jaccard of the sources'
    // word sets estimated from 256-value KMV sketches (the
    // TypedImperativeAggregate in functions/KmvSketch): q114's exact
    // similarity matrix needs a word-keyed join over the full
    // vocabulary; the sketch form aggregates each source to a CONSTANT
    // 2 KB synopsis map-side and compares synopses pairwise — the only
    // shape that survives when "source" is a thousand crawls and the
    // vocabulary is billions of n-grams.
    //
    // r9: ORACLED ERROR-BOUND ROW — the exact set Jaccard IS
    // SQL-expressible (distinct-word counts + one word-keyed
    // intersection join, the q114 shape), so it rides along as a REAL
    // differential column and `est_ok` certifies the KMV estimate
    // within 0.15 of it (the CorpusSpec worst-pair bound); the sketch
    // itself stays engine-specific and available as
    // [[vocabOverlapSketch]]. At the test SFs every source pair shares
    // vocabulary, so the inner intersection join keeps all 190 pairs —
    // the same row set on both engines.
    GraftQuery("q121_vocab_overlap_sketch",
      (s, d) => {
        val est = vocabOverlapSketch(s, d)
        // r15 opt (guide §2.4 — the word self-join is an exchange the
        // data's shape never needed): ONE word-keyed aggregate collects
        // each word's source SET (bounded by the source universe, the
        // q154 20×20 argument), and both downstream frames are narrow
        // in-row passes over it — per-source cardinality by exploding
        // the set, pairwise intersections by expanding each set's
        // ordered pairs IN-ROW (≤ C(|sources|,2) per word — the
        // bounded-per-row HOF class, clusterAssign precedent). The old
        // shape distinct-shuffled (source, word), then self-joined on
        // word (2 more exchanges + SMJ) and re-aggregated; values are
        // identical (same distinct (source, word) universe), the
        // vocab×vocab join machinery is gone. Plan diff in plans/r15:
        // 8 exchanges → 5, SMJ gone.
        val ws = docs(s, d)
          .select(col("source"),
            explode(regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0)))
              .as("word"))
          .groupBy("word")
          .agg(collect_set(col("source")).as("ss"))
          .persistTracked() // vocab-bounded; two consumers
        val card = ws.select(explode(col("ss")).as("source"))
          .groupBy("source").agg(count(lit(1)).as("c"))
        val sorted = array_sort(col("ss"))
        val pairRows = flatten(transform(sorted, (x, i) =>
          transform(slice(sorted, i + 2, size(sorted)),
            y => struct(x.as("sa"), y.as("sb")))))
        val inter = ws.select(explode(pairRows).as("p"))
          .select(col("p.sa").as("sa"), col("p.sb").as("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("i"))
        val exact = inter
          .join(broadcast(card.select(col("source").as("sa"), col("c").as("ca"))), "sa")
          .join(broadcast(card.select(col("source").as("sb"), col("c").as("cb"))), "sb")
          .select(col("sa"), col("sb"),
            (col("i").cast("double") / (col("ca") + col("cb") - col("i")))
              .as("jaccard_exact"))
        est.join(exact, Seq("sa", "sb"))
          .select(col("sa"), col("sb"), col("jaccard_exact"),
            (abs(col("jaccard_est") - col("jaccard_exact")) <= 0.15)
              .cast("long").as("est_ok"))
          .orderBy("sa", "sb")
      },
      Some("WITH w AS (SELECT DISTINCT source, " +
        "unnest(regexp_extract_all(lower(text), '\\p{L}+')) AS word FROM documents), " +
        "c AS (SELECT source, COUNT(*) AS n FROM w GROUP BY 1), " +
        "i AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS i FROM w a " +
        "JOIN w b ON a.word = b.word AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT sa, sb, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard_exact, " +
        "CAST(1 AS BIGINT) AS est_ok " +
        "FROM i JOIN c ca ON i.sa = ca.source JOIN c cb ON i.sb = cb.source " +
        "ORDER BY sa, sb"))
    ,

    // Character-LM quality score (CCNet-style gibberish filter, integer
    // form): train a corpus-level char-bigram frequency model, keep the
    // top-K bigrams (total order (count DESC, bigram ASC) makes the cut
    // deterministic), and score each document by how many of its bigrams
    // fall in that common set — text whose character statistics diverge
    // from the corpus (mojibake, binary spill, wrong-language noise)
    // scores low. Integer counts only, so the result is bit-identical to
    // the oracle; the ratio threshold (coverage < 0.9) is cross-
    // multiplied to stay in integers. Scale shape (r13 — replaces the
    // r11 persist + explode + broadcast-join + doc-keyed re-aggregate,
    // whose scoring exchange carried one row per distinct bigram per
    // document and whose wall sat 6.8x over the oracle at bench scale;
    // bigrams are PACKED code-point pairs throughout, see BigramWalk's
    // order-equivalence proof):
    //   - MODEL pass: one scan; TopBigramsByCount walks each document's
    //     characters straight into a per-partition count map (state
    //     bounded by charset², the same bound the old explode-form hash
    //     aggregate carried) with map-side combine, so the exchange
    //     moves one histogram per partition; eval applies the
    //     (count DESC, bigram ASC) cut in-place. The 100-key collect is
    //     the documented K-bounded model class (the SurpriseVocabCap /
    //     centroid-matrix precedent).
    //   - SCORING pass: one scan; BigramModelScore computes each doc's
    //     (n_bigrams, n_common) against the 100-key literal in one
    //     compiled walk with a binary search per position — no map, no
    //     join, no cache, no data-sized exchange; only the final
    //     (doc_id, 2 longs) triple reaches the output sort.
    // Document text never shuffles; nothing persists across the passes.
    GraftQuery("q123_char_bigram_quality",
      (s, d) => {
        val model: Seq[Long] = docs(s, d)
          .agg(graft.functions.TopBigramsByCount
            .topBigrams(col("text"), 100).as("ks"))
          .head().getSeq[Long](0)
        val sc = graft.functions.BigramModelScore.score(
          col("text"), typedLit(model))
        docs(s, d).select(col("doc_id"), sc.as("sc"))
          .select(col("doc_id"),
            coalesce(col("sc").getItem(0), lit(0L)).as("n_bigrams"),
            coalesce(col("sc").getItem(1), lit(0L)).as("n_common"))
          .withColumn("gibberish", col("n_common") * 10 < col("n_bigrams") * 9)
          .orderBy("doc_id")
      },
      Some("WITH norm AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
        "bg AS (SELECT doc_id, substr(t, CAST(i AS INTEGER), 2) AS b " +
        "FROM norm, unnest(range(1, length(t))) AS u(i)), " +
        "topb AS (SELECT b, 1 AS hit FROM (SELECT b, COUNT(*) AS c FROM bg " +
        "GROUP BY b ORDER BY c DESC, b LIMIT 100)), " +
        "sc AS (SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(topb.hit) AS n_common " +
        "FROM bg LEFT JOIN topb USING (b) GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams, " +
        "COALESCE(n_common, 0) AS n_common, " +
        "(COALESCE(n_common, 0) * 10 < COALESCE(n_bigrams, 0) * 9) AS gibberish " +
        "FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"))
    ,

    // Deterministic shard export — the final stage of a corpus build
    // assigns every document to one of N output shards so that (a) the
    // assignment is a pure function of the stable doc key (rebuildable,
    // engine- and partitioning-independent — same md5 discipline as
    // q89's split) and (b) the shards are statistically balanced. Two
    // hex nibbles of md5 give a uniform 0..255 draw; mod 64 folds it to
    // the shard id (the nibble lookup via instr on a charset literal is
    // the hex→int bridge both engines share). The report is the shard
    // balance sheet an export job checks before writing. Scale shape:
    // one narrow scan, 64-group aggregate with map-side combine — the
    // exchange carries 64 rows per partition regardless of corpus size.
    GraftQuery("q124_shard_export",
      (s, d) => {
        val hx = md5(col("doc_id").cast("string"))
        def nib(i: Int) = call_function("instr",
          lit("0123456789abcdef"), substring(hx, i, 1)).cast("long") - 1L
        docs(s, d)
          .select(((nib(1) * 16L + nib(2)) % 64L).as("shard"),
            col("doc_id"), col("n_chars"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").cast("long").as("total_chars"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("shard")
      },
      Some("WITH h AS (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents), " +
        "sh AS (SELECT CAST(((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16 " +
        "+ (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) % 64 AS BIGINT) AS shard, " +
        "n_chars, doc_id FROM h) " +
        "SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
        "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc " +
        "FROM sh GROUP BY shard ORDER BY shard"))
    ,

    // BM25 keyword retrieval — top-20 documents for a fixed 3-term query,
    // the lexical-search half of a retrieval pipeline (q49/q58 are the
    // dense half). Okapi saturation (k1=1.2, b=0.75) with the RATIONAL
    // idf (N−df+0.5)/(df+0.5): ln() is libm-dependent and breaks
    // cross-engine exactness (q115's precedent), and the rational form
    // keeps the whole score a fixed-order multiply/divide chain over
    // exact integers — bit-identical across engines. Per-doc scores
    // combine via per-term conditional aggregates added in WRITTEN
    // order (a double SUM over a shuffled stream would be
    // order-nondeterministic). Scale shape (r14, in-row BM25 — see
    // [[bm25InRowScore]]): TWO jobs total — a one-row stats collect,
    // then one scan scoring every doc in-row (native regexp_count, no
    // explode/persist/broadcast) ending in the map-side-bounded
    // [[graft.functions.TopKRowsByScore]] aggregate; the exchange
    // carries ≤ 20 rows per partition at any corpus size.
    GraftQuery("q126_bm25_search",
      (s, d) => {
        val src = docs(s, d)
        val st = bm25DocStats(s, d)
        val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, score DOUBLE")
        if (st.nDocs == 0L)
          s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            outSchema)
        else {
          // score in a codegen PROJECTION (subexpression-eliminated
          // regex counts); the aggregate's interpreted update then
          // evals plain attribute refs only
          val lowered = lower(col("text"))
          val top = src
            .select(col("doc_id"),
              bm25InRowScore(lowered, QueryTerms, st).as("score"))
            .agg(graft.functions.TopKRowsByScore.topkRows(
              col("score"), col("doc_id"), lit(0L), lit(0L), 20).as("t"))
            .collect().head.getSeq[org.apache.spark.sql.Row](0)
          // rank order IS (score DESC, doc_id) — emit it as the rows
          val rows = top.map(r =>
            org.apache.spark.sql.Row(r.getLong(1), r.getDouble(0)))
          s.createDataFrame(
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
            outSchema)
        }
      },
      Some("WITH " + bm25SqlCtes("documents", QueryTerms) +
        " SELECT doc_id, score FROM bm25 " +
        "ORDER BY score DESC, doc_id LIMIT 20"))
    ,

    // BPE merge-candidate counting — the first iteration of byte-pair
    // encoding vocabulary induction: corpus-weighted counts of adjacent
    // symbol (character) pairs inside words, the statistic whose argmax
    // IS the first BPE merge (q59 counts tokens with a FIXED
    // tokenizer; this is how the tokenizer itself gets built). Scale
    // shape — the reason this works at 100 TB: the corpus-sized stream
    // collapses FIRST (word-frequency rollup, map-side combine, one
    // exchange of distinct-word rows); pair generation then explodes
    // only the VOCABULARY table (distinct words ≪ corpus) and the
    // weighted pair rollup aggregates vocabulary-scale rows. Real BPE
    // iterates this loop; each pass is this same plan with a re-encoded
    // vocabulary, so linear-in-corpus cost is paid once, not per merge.
    // Integer-exact everywhere.
    GraftQuery("q130_bpe_merges",
      (s, d) => {
        val words = docs(s, d)
          .select(explode(regexp_extract_all(lower(col("text")),
            lit("\\p{L}+"), lit(0))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("freq"))
        words.filter(length(col("word")) >= 2)
          .select(col("word"), col("freq"),
            explode(sequence(lit(1), length(col("word")) - 1)).as("off"))
          .select(expr("substring(word, off, 2)").as("pair"), col("freq"))
          .groupBy("pair").agg(sum("freq").cast("long").as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(20)
      },
      Some("WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '\\p{L}+')) AS word FROM documents), " +
        "wf AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY 1), " +
        "p AS (SELECT substr(word, CAST(off AS INT), 2) AS pair, freq " +
        "  FROM (SELECT word, freq, UNNEST(generate_series(1, len(word) - 1)) AS off " +
        "        FROM wf WHERE len(word) >= 2)) " +
        "SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM p " +
        "GROUP BY pair ORDER BY n DESC, pair LIMIT 20"))
    ,

    // Collocation mining — top word bigrams by PMI lift
    // c(ab)·U²/(B·c(a)·c(b)), the multi-word-expression detector of a
    // phrase/tokenizer pipeline (q130 ranks CHARACTER merges; this
    // ranks WORD merges). Rational lift instead of log-PMI (q115's
    // libm rule); the multiply/divide chain runs in one mirrored order
    // on exact integer counts, so it is bit-identical cross-engine.
    // Scale shape: adjacent pairs come from an in-row arrays_zip of two
    // slices (no self-join, no window); the (a,b) rollup map-side
    // combines into a vocabulary²-bounded exchange; unigram counts and
    // totals ride in as broadcasts; top-k is a TakeOrdered.
    GraftQuery("q132_pmi_bigrams",
      (s, d) => {
        val toks = docs(s, d).select(
          regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0))
            .as("ws"))
        // Both count frames persist (vocabulary- / vocabulary²-bounded):
        // uni feeds its total + two broadcast sides, bi feeds its total +
        // the scored stream — unpersisted, each consumer would re-run the
        // full corpus tokenization (6 passes instead of 2).
        val uni = toks.select(explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
          .persistTracked()
        val uniTot = uni.agg(sum("c").cast("long").as("u"))
        val bi = toks.filter(size(col("ws")) >= 2)
          .select(explode(expr(
            "arrays_zip(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1))"))
            .as("p"))
          .select(col("p").getField("0").as("a"),
            col("p").getField("1").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n"))
          .persistTracked()
        val biTot = bi.agg(sum("n").cast("long").as("t"))
        bi.filter(col("n") >= 5)
          .join(broadcast(uni.select(col("w").as("a"), col("c").as("ca"))), "a")
          .join(broadcast(uni.select(col("w").as("b"), col("c").as("cb"))), "b")
          .crossJoin(broadcast(uniTot)).crossJoin(broadcast(biTot))
          .select(col("a"), col("b"), col("n"),
            (col("n").cast("double") * col("u").cast("double") /
              col("t").cast("double") *
              (col("u").cast("double") / col("ca").cast("double")) /
              col("cb").cast("double")).as("lift"))
          .orderBy(col("lift").desc, col("a"), col("b")).limit(20)
      },
      Some("WITH w AS (SELECT regexp_extract_all(lower(text), '\\p{L}+') AS ws FROM documents), " +
        "uc AS (SELECT w, COUNT(*) AS c FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1), " +
        "ut AS (SELECT CAST(SUM(c) AS BIGINT) AS u FROM uc), " +
        "bc AS (SELECT a, b, COUNT(*) AS n FROM " +
        "  (SELECT unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b " +
        "   FROM w WHERE len(ws) >= 2) GROUP BY 1, 2), " +
        "bt AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM bc) " +
        "SELECT a, b, n, " +
        "CAST(n AS DOUBLE) * CAST(u AS DOUBLE) / CAST(t AS DOUBLE) * " +
        "(CAST(u AS DOUBLE) / CAST(ca.c AS DOUBLE)) / CAST(cb.c AS DOUBLE) AS lift " +
        "FROM bc JOIN uc ca ON bc.a = ca.w JOIN uc cb ON bc.b = cb.w, ut, bt " +
        "WHERE n >= 5 ORDER BY lift DESC, a, b LIMIT 20"))
    ,

    // Per-source distribution drift — the chi-square statistic of each
    // source's word distribution against the corpus distribution, the
    // domain-shift monitor of a mixture pipeline (which source stopped
    // looking like the corpus?). Chi-square, not KL: KL needs log
    // (libm-banned), while Σ(o−e)²/e is a rational chain. Zero-count
    // cells still contribute e, so the statistic sums over the FULL
    // source×vocabulary grid (both engines enumerate it via a cross
    // join of two aggregate-scale frames). Per-cell terms are dyadically
    // quantized at 2⁻³⁰ (exponent shift + floor, IEEE-exact) so the
    // per-source sums aggregate identical integers in any order.
    // Scale shape: ONE corpus-sized rollup exchange; everything after
    // is vocabulary×sources-bounded.
    GraftQuery("q133_source_drift",
      (s, d) => {
        val fp = lit(1073741824.0) // 2^30, exact
        val wc = docs(s, d).select(col("source"),
            explode(regexp_extract_all(lower(col("text")), lit("\\p{L}+"),
              lit(0))).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("o"))
          .persistTracked()
        val srcTot = wc.groupBy("source").agg(sum("o").cast("long").as("st"))
        val wordTot = wc.groupBy("w").agg(sum("o").cast("long").as("cw"))
        val tot = wc.agg(sum("o").cast("long").as("tt"))
        val grid = srcTot.crossJoin(broadcast(wordTot))
          .crossJoin(broadcast(tot))
          .join(wc, Seq("source", "w"), "left")
          .select(col("source"), col("st"), col("cw"), col("tt"),
            coalesce(col("o"), lit(0L)).as("o"))
        val expd = col("st").cast("double") * col("cw").cast("double") /
          col("tt").cast("double")
        val dev = col("o").cast("double") - expd
        grid.select(col("source"), floor(dev * dev / expd * fp).as("q"))
          .groupBy("source")
          .agg((sum(col("q").cast("decimal(38,0)")).cast("double") / fp)
            .as("chi2"))
          .orderBy("source")
      },
      Some("WITH wfull AS (SELECT source, unnest(regexp_extract_all(lower(text), '\\p{L}+')) AS w FROM documents), " +
        "wc AS (SELECT source, w, COUNT(*) AS o FROM wfull GROUP BY 1, 2), " +
        "st AS (SELECT source, CAST(SUM(o) AS BIGINT) AS st FROM wc GROUP BY 1), " +
        "cw AS (SELECT w, CAST(SUM(o) AS BIGINT) AS cw FROM wc GROUP BY 1), " +
        "tt AS (SELECT CAST(SUM(o) AS BIGINT) AS tt FROM wc), " +
        "grid AS (SELECT st.source, st.st, cw.w, cw.cw, tt.tt, " +
        "  COALESCE(wc.o, 0) AS o FROM st CROSS JOIN cw CROSS JOIN tt " +
        "  LEFT JOIN wc ON wc.source = st.source AND wc.w = cw.w), " +
        "t AS (SELECT source, CAST(floor(" +
        "  (CAST(o AS DOUBLE) - CAST(st AS DOUBLE) * CAST(cw AS DOUBLE) / CAST(tt AS DOUBLE)) * " +
        "  (CAST(o AS DOUBLE) - CAST(st AS DOUBLE) * CAST(cw AS DOUBLE) / CAST(tt AS DOUBLE)) / " +
        "  (CAST(st AS DOUBLE) * CAST(cw AS DOUBLE) / CAST(tt AS DOUBLE)) " +
        "  * 1073741824.0) AS BIGINT) AS q FROM grid) " +
        "SELECT source, CAST(SUM(q) AS DOUBLE) / 1073741824.0 AS chi2 " +
        "FROM t GROUP BY source ORDER BY source"))
    ,

    // Importance weighting against a target distribution (DSIR-shaped):
    // score every document by how much its unigrams look like the
    // TARGET slice (here lang='en') relative to the whole corpus — the
    // data-selection step that upsamples in-domain text before training.
    // Laplace-smoothed rate ratio instead of log-likelihood (the
    // libm-ban rule): per-token lift
    //   (tw+1)(ct+V) / ((cw+1)(tt+V)),
    // dyadically quantized at 2^-30 (q133's grid trick) so the per-doc
    // mean aggregates exact integers in any order; the doc score is the
    // token-mean lift. Scale shape: word stats are one vocabulary-
    // bounded rollup riding in as a broadcast; the corpus token stream
    // passes twice (learn stats, apply them — inherent to any
    // corpus-relative scorer, q109's pattern); top-k is a TakeOrdered.
    GraftQuery("q155_importance_weights",
      (s, d) => {
        val fp = lit(1073741824.0) // 2^30, exact
        val tok = docs(s, d).select(col("doc_id"), col("lang"),
          explode(regexp_extract_all(lower(col("text")), lit("\\p{L}+"),
            lit(0))).as("w"))
        val ws = tok.groupBy("w").agg(count(lit(1)).as("cw"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long")
            .as("tw"))
          .persistTracked() // vocab-bounded; feeds totals + the scoring join
        val tot = ws.agg(sum("cw").cast("long").as("ct"),
          sum("tw").cast("long").as("tt"), count(lit(1)).as("v"))
        val lift = (col("tw").cast("double") + lit(1.0)) *
          (col("ct").cast("double") + col("v").cast("double")) /
          ((col("cw").cast("double") + lit(1.0)) *
            (col("tt").cast("double") + col("v").cast("double")))
        tok.join(broadcast(ws), "w")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), floor(lift * fp).as("q"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            (sum(col("q").cast("decimal(38,0)")).cast("double") / fp /
              count(lit(1)).cast("double")).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some("WITH tok AS (SELECT doc_id, lang, " +
        "unnest(regexp_extract_all(lower(text), '\\p{L}+')) AS w FROM documents), " +
        "ws AS (SELECT w, COUNT(*) AS cw, " +
        "SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tw FROM tok GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS ct, " +
        "CAST(SUM(tw) AS BIGINT) AS tt, COUNT(*) AS v FROM ws), " +
        "q AS (SELECT doc_id, CAST(floor(" +
        "(CAST(tw AS DOUBLE) + 1.0) * (CAST(ct AS DOUBLE) + CAST(v AS DOUBLE)) / " +
        "((CAST(cw AS DOUBLE) + 1.0) * (CAST(tt AS DOUBLE) + CAST(v AS DOUBLE))) " +
        "* 1073741824.0) AS BIGINT) AS q " +
        "FROM tok JOIN ws ON tok.w = ws.w CROSS JOIN tot) " +
        "SELECT doc_id, COUNT(*) AS n_tok, " +
        "CAST(SUM(q) AS DOUBLE) / 1073741824.0 / CAST(COUNT(*) AS DOUBLE) AS score " +
        "FROM q GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20")),

    // Bloom-filter decontamination — q104's collision test in the shape
    // that actually runs at 100 TB. q104 broadcast-joins the panel's
    // distinct 5-gram hashes (~30 bytes/entry as a hash relation); here
    // the panel builds a Bloom filter (bits: ~1.2 MB for a MILLION
    // entries at fpp 1e-6) via the distributed df.stat.bloomFilter
    // treeAggregate, and the corpus streams ONCE through a native
    // membership probe inside exists() — no join, no shuffle on the
    // corpus side at all; the only exchange is the final per-source
    // rollup. The contract this trades on is directional and the oracle
    // PINS it: Bloom filters have no false negatives, so the flagged
    // set must be a SUPERSET of the exact collision set (superset_ok),
    // and false positives stay under 1% of the corpus (fp_ok; fpp 1e-6
    // × ~400 shingles/doc ≈ 4e-4 per doc). Both booleans are
    // deterministic — Spark's sketch hashes with fixed seeds and the
    // bit-OR merge is partition-order independent — so DuckDB verifies
    // them as constants while recomputing n_docs/n_flagged_exact from
    // first principles (same 5-gram text join as q104's oracle).
    // The exact side exists here to FEED the contract; a production
    // pipeline runs only the Bloom pass. r11 shape: the exact probe is
    // a [[graft.functions.SortedLongsContain]] set-literal expression in
    // the SAME in-row exists() as the Bloom probe — the r10 form's
    // explode + broadcast semi-join + distinct + doc-keyed re-join are
    // gone; the corpus makes ONE pass and the only exchange left is the
    // per-source rollup. The exact set is the SAME bounded panel the
    // Bloom bits already embed (8 B/entry vs ~1.2 B/entry — same
    // eval-suite boundedness class, both collected once).
    GraftQuery("q168_bloom_decontamination",
      (s, d) => {
        // ONE bounded collect feeds BOTH probe literals (r13): the
        // driver-built Bloom is bit-identical to the old
        // df.stat.bloomFilter (see panelBloomBytesOf), and the former
        // count + treeAggregate + collect trio re-ran the panel
        // subplan three times per rep. r14: the panel is CACHED per
        // corpus dir (the bm25DocStats / centroidCache class — a
        // decontamination panel is a fixed, versioned eval suite in
        // production), which also retires the r10 persistTracked
        // shared frame: the panel build no longer shares a subplan
        // with the corpus scan, so the warm path is ONE corpus pass.
        val panel = stampCached(decontPanelCache,
          (d, sourceStamp(d, "documents")))(_._1 == d) {
          // Panel bounded BY CONSTRUCTION (r15, VERDICT r14 item 2):
          // q91's id cap joins the mod-97 slice — ≤207 docs at ANY SF,
          // so the collect is an eval-suite constant like q122's
          // ≤40-vector panel, not a corpus-proportional stance.
          val p = docs(s, d).filter(pmod(col("doc_id"), lit(97)) === 0 &&
              col("doc_id") < BenchCap)
            .select(explode(graft.functions.WordShingleHashes
              .shingleHashes(col("text"), 5)).as("h"))
            .distinct().collect().map(_.getLong(0)) // panel-bounded
          // The bound sits INSIDE the cache build (r15): a panel that
          // fails it must refuse WITHOUT staying pinned in driver memory.
          // The Bloom bits are fixed-size; this exact set is not.
          boundedPanelSet("q168", p)
        }
        val bytes = panelBloomBytesOf(panel)
        val exactBytes = graft.functions.SortedLongsContain.serialize(panel)
        val flags = docs(s, d)
          .filter(pmod(col("doc_id"), lit(97)) =!= 0)
          .select(col("doc_id"), col("source"),
            graft.functions.WordShingleHashes
              .shingleHashes(col("text"), 5).as("hs"))
          .select(col("doc_id"), col("source"),
            exists(col("hs"), h => graft.functions.BloomContains
              .bloomContains(h, lit(bytes))).cast("long").as("bf"),
            exists(col("hs"), h => graft.functions.SortedLongsContain
              .sortedContains(h, lit(exactBytes))).cast("long").as("ex"))
        flags.groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ex")).cast("long").as("n_flagged_exact"),
            coalesce(min(when(col("ex") === 1L, col("bf"))), lit(1L))
              .cast("long").as("superset_ok"),
            sum(when(col("ex") === 0L, col("bf")).otherwise(lit(0L)))
              .as("fp_extra"))
          .select(col("source"), col("n_docs"), col("n_flagged_exact"),
            col("superset_ok"),
            (col("fp_extra") * 100 <= col("n_docs")).cast("long")
              .as("fp_ok"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
        |  FOR i IN generate_series(1, len(toks)-4)])) AS s FROM t),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0 AND doc_id < $BenchCap),
        |flags AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bench ON sh.s = bench.s
        |  WHERE sh.doc_id % 97 <> 0),
        |base AS (SELECT doc_id, source FROM t WHERE doc_id % 97 <> 0)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(SUM(CASE WHEN flags.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_exact,
        |CAST(1 AS BIGINT) AS superset_ok, CAST(1 AS BIGINT) AS fp_ok
        |FROM base LEFT JOIN flags ON base.doc_id = flags.doc_id
        |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "))),

    // Count-Min heavy terms — the frequency member of the sketch family
    // (HLL distincts, KMV set overlap, MinHash/SimHash similarity, Bloom
    // membership, and now CMS counts). The sketch builds with the
    // distributed df.stat.countMinSketch treeAggregate (counter-matrix
    // ADDITION merge — partition-order invariant, verified) and is a
    // fixed ~224 KB (depth 14 × width 2000 at eps 1e-3 / conf 0.9999)
    // regardless of corpus size; at 100 TB it replaces the full-width
    // term groupBy wherever an eps·N-accurate count suffices. The
    // CONTRACT is one-sided and the oracle pins it: CMS never
    // undercounts (hash collisions only ADD), and the top terms stay
    // within eps·N over truth. Both booleans are deterministic (fixed
    // seed, additive merge), so DuckDB verifies them as constants while
    // recomputing the exact top-20 from first principles (q104's
    // tokenization pairing). Bounded collects: the 20-row exact panel,
    // one count scalar, and the fixed-size sketch.
    GraftQuery("q170_countmin_heavy_terms",
      (s, d) => {
        import s.implicits._
        val terms = docs(s, d)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
          .filter(length(col("t")) > 0)
        val cms = terms.stat.countMinSketch("t", 0.001, 0.9999, 42)
        // the sketch tracks its own stream length — no separate count()
        // pass over the tokens (the corpus streams twice total: sketch
        // build + the exact contract side)
        val slack = math.ceil(0.001 * cms.totalCount()).toLong
        val top = terms.groupBy("t").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), col("t")).limit(20).collect()
        top.toSeq.map { r =>
          val (t, c) = (r.getString(0), r.getLong(1))
          val est = cms.estimateCount(t)
          (t, c, if (est >= c) 1L else 0L,
            if (est <= c + slack) 1L else 0L)
        }.toDF("term", "true_cnt", "no_undercount", "eps_bound_ok")
          .orderBy(desc("true_cnt"), col("term"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t FROM documents),
        |tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM tok
        |  WHERE len(t) > 0 GROUP BY t ORDER BY true_cnt DESC, t LIMIT 20)
        |SELECT t AS term, true_cnt, CAST(1 AS BIGINT) AS no_undercount,
        |CAST(1 AS BIGINT) AS eps_bound_ok
        |FROM tc ORDER BY true_cnt DESC, term""".stripMargin.replace("\n", " "))),

    // Unigram-LM surprise scoring (r11) — the word-level sibling of
    // q123's char-bigram gibberish filter and the CCNet quality-bucket
    // idea: score each document by how SURPRISING its words are under
    // the corpus's own unigram model. The log2 is INTEGER-EXACT on both
    // engines: floor(log2(x)) = length(bin(x)) - 1 for x > 0 (bit
    // length, no libm — the q115 rational-idf lesson applied to logs),
    // so per-word surprise = flog2(N) - flog2(count(w)) is a BIGINT and
    // the whole row hash-compares; the one double is the final mean
    // (single IEEE division, the money-AVG precedent). High mean
    // surprise = rare-word-dense text (jargon spill, wrong-language
    // noise, mojibake); low = stopword soup. Scale shape: one token
    // explode feeds the vocab groupBy (map-side combine before the
    // exchange — shuffle-side, never collected); only its top-V LIMIT
    // ([[SurpriseVocabCap]] rows — BOUNDED BY CONSTRUCTION, r12) and
    // the 1-row total broadcast back over the SAME stream; words below
    // the cap take the OOV path (count-1 maximum surprise, the
    // SurpriseScoreStream contract). Per-doc aggregate pre-combines
    // before the doc-keyed exchange; top-20 is TakeOrdered. Document
    // text never shuffles, and no data-proportional frame ever
    // broadcasts.
    GraftQuery("q179_unigram_surprise",
      (s, d) => {
        def flog2(c: org.apache.spark.sql.Column) =
          (length(bin(c)) - 1).cast("long")
        val tok = docs(s, d).select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")),
            lit("\\p{L}+"), lit(0))).as("w"))
        // persistTracked: vocab feeds BOTH the top-V model and the
        // 1-row total — unpersisted, the total re-runs the whole token
        // scan + vocab aggregate (a third corpus pass). Distributed
        // cache only; the broadcasts below are the V-row LIMIT and the
        // 1-row total. Released via SessionCaches.
        val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
          .persistTracked()
        val tot = vocab.agg(sum("c").cast("long").as("n"))
        // top-V by (count DESC, word ASC) — deterministic boundary,
        // TakeOrdered (no full sort); OOV joins to NULL → count 1
        val topV = vocab.orderBy(col("c").desc, col("w"))
          .limit(SurpriseVocabCap)
        tok.join(broadcast(topV), Seq("w"), "left")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            (flog2(col("n")) - flog2(coalesce(col("c"), lit(1L))))
              .as("sbits"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum("sbits").cast("long").as("surprise"))
          .select(col("doc_id"), col("n_tok"), col("surprise"),
            (col("surprise").cast("double") / col("n_tok").cast("double"))
              .as("mean_surprise"))
          .orderBy(col("mean_surprise").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH tok AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '\\p{L}+')) AS w FROM documents),
        |v AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
        |tv AS (SELECT w, c FROM v ORDER BY c DESC, w LIMIT $SurpriseVocabCap),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM v),
        |s AS (SELECT doc_id,
        |  CAST((length(bin(n)) - 1) - (length(bin(COALESCE(tv.c, 1))) - 1) AS BIGINT) AS sbits
        |  FROM tok LEFT JOIN tv USING (w) CROSS JOIN t)
        |SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(sbits) AS BIGINT) AS surprise,
        |CAST(SUM(sbits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_surprise
        |FROM s GROUP BY doc_id
        |ORDER BY mean_surprise DESC, doc_id LIMIT 20"""
        .stripMargin.replace("\n", " ")))
    ,

    // Bigram-LM perplexity scoring (r13) — the CONDITIONAL sibling of
    // q179 and the integer-grid form of CCNet's KenLM perplexity
    // filter (Wenzek et al. 2020): train a bigram language model over
    // the capped vocabulary (words outside the top-V fold into ONE
    // '#unk' class — the SurpriseVocabCap stance, so the model is
    // ≤ (V+1)² rows BOUNDED BY CONSTRUCTION) and score each document
    // by the mean -log2 of its word-to-word transitions under add-1
    // smoothing: bits(u→v) = flog2(c(u) + (V+1)) - flog2(c(u,v) + 1),
    // integer-exact via bit length on both engines (the q179 rule).
    // High mean = transitions the corpus LM finds improbable (shuffled
    // text, wrong-language runs, template spill) — exactly what a
    // perplexity bucket cut removes. Scale shape: TWO passes over the
    // token stream (model, score — recomputing the lag window beats
    // caching a corpus-sized pair frame, the q123 stance), each one
    // doc-keyed window exchange; the model collects ≤ (V+1)² rows and
    // rides back as LITERAL maps (no joins, no broadcast of anything
    // data-proportional); context counts c(u) derive from the same 289
    // rows on the driver — no extra pass. Per-doc aggregate
    // pre-combines before the doc exchange; top-20 is TakeOrdered.
    //
    // 100 TB cost honesty (r16, VERDICT r15 item 9): the stamped LM
    // cache amortizes repeat sessions only — a first session against a
    // changed corpus dir pays the training pass (measured cold: 1.38 s
    // at g1, exponent 0.72 at the 10× sweep). The model is exact
    // (full-stream counts over the capped vocabulary), so there is no
    // sampled shortcut that keeps declared results identical; the cold
    // cost is the training protocol's price, carried in bench_detail's
    // first_build_wall and swept by SPARK_GRAFT_SCALE_COLD.
    GraftQuery("q195_bigram_perplexity",
      (s, d) => {
        def flog2(c: org.apache.spark.sql.Column) =
          (length(bin(c)) - 1).cast("long")
        val v1 = SurpriseVocabCap + 1 // classes incl. '#unk' (smoothing)
        // training via the shared helper (the streaming twin trains on
        // the identical code path — BigramPerplexityStream); the
        // trained LM is a versioned model artifact like the q188
        // classifier, so it rides the stamped per-dir cache (r15 opt —
        // the bowModelCache precedent; first_build_wall carries the
        // cold training cost, SPARK_GRAFT_SCALE_COLD sweeps it)
        val (topV, model) = stampCached(bigramLmCache,
          (d, sourceStamp(d, "documents")))(_._1 == d)(
          bigramLmModel(docs(s, d)))
        val cuv: Map[String, Long] = model.map { case (u, v, c) =>
          (u + "\u0001" + v) -> c }.toMap
        val cu: Map[String, Long] = model.groupBy(_._1)
          .map { case (u, rs) => u -> rs.map(_._3).sum }
        def cls(c: org.apache.spark.sql.Column) =
          when(c.isin(topV: _*), c).otherwise(lit("#unk"))
        // scoring pass: in-row adjacent pairs (see the bigramLmModel
        // r15 note — no posexplode, no lag window, no doc-keyed sort)
        val pairs = docs(s, d).select(col("doc_id"),
            regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0))
              .as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(col("doc_id"), explode(expr(
            "arrays_zip(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1))"))
            .as("p"))
          .select(col("doc_id"), cls(col("p").getField("0")).as("u"),
            cls(col("p").getField("1")).as("v"))
        pairs
          .select(col("doc_id"),
            (flog2(element_at(typedLit(cu), col("u")) + v1) -
              flog2(coalesce(element_at(typedLit(cuv),
                concat_ws("\u0001", col("u"), col("v"))), lit(0L)) + 1L))
              .as("bits"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_pairs"), sum("bits").cast("long").as("bits"))
          .select(col("doc_id"), col("n_pairs"), col("bits"),
            (col("bits").cast("double") / col("n_pairs").cast("double"))
              .as("mean_bits"))
          .orderBy(col("mean_bits").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH t0 AS (SELECT doc_id, regexp_extract_all(lower(text), '\\p{L}+') AS toks FROM documents),
        |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INTEGER)] AS w
        |  FROM t0, unnest(generate_series(1, len(toks))) AS un(i)),
        |v AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
        |tv AS (SELECT w FROM v ORDER BY c DESC, w LIMIT $SurpriseVocabCap),
        |ct AS (SELECT doc_id, pos, CASE WHEN tv.w IS NOT NULL THEN tok.w ELSE '#unk' END AS v
        |  FROM tok LEFT JOIN tv ON tok.w = tv.w),
        |pr AS (SELECT doc_id, lag(v) OVER (PARTITION BY doc_id ORDER BY pos) AS u, v FROM ct),
        |pp AS (SELECT doc_id, u, v FROM pr WHERE u IS NOT NULL),
        |bg AS (SELECT u, v, COUNT(*) AS cuv FROM pp GROUP BY 1, 2),
        |cx AS (SELECT u, SUM(cuv) AS cu FROM bg GROUP BY 1),
        |sc AS (SELECT doc_id,
        |  CAST((length(bin(cx.cu + ${SurpriseVocabCap + 1})) - 1)
        |    - (length(bin(bg.cuv + 1)) - 1) AS BIGINT) AS bits
        |  FROM pp JOIN bg USING (u, v) JOIN cx USING (u))
        |SELECT doc_id, COUNT(*) AS n_pairs, CAST(SUM(bits) AS BIGINT) AS bits,
        |CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_bits
        |FROM sc GROUP BY doc_id
        |ORDER BY mean_bits DESC, doc_id LIMIT 20"""
        .stripMargin.replace("\n", " ")))
    ,

    // BPE tokenizer TRAINING (r12, VERDICT r11 item 2) — the full
    // iterative byte-pair-encoding vocabulary induction (Sennrich 2016,
    // arXiv:1508.07909) whose FIRST round q130 computes: K rounds of
    // (count adjacent symbol pairs weighted by word frequency → merge
    // the argmax), integer-exact with a deterministic tie-break on the
    // pair bytes (count DESC, pair ASC — binary UTF-8 order in both
    // engines). Scale shape: the corpus-sized stream collapses ONCE
    // (word-frequency rollup, map-side combine); each round then runs
    // entirely on the DISTRIBUTED vocabulary frame — re-segment via a
    // chain of `replace` calls (leftmost non-overlapping in both
    // engines = Sennrich's greedy apply), explode adjacent pairs,
    // aggregate, and collect ONE row (the argmax — bounded by
    // construction). The vocab frame itself never broadcasts and never
    // collects (the q114/q115 shuffle-side stance); the trained model
    // is K pairs — a bounded literal, the CosineAll class. The oracle
    // unrolls the same K rounds as MATERIALIZED per-level CTEs (the
    // q182 precedent) and was validated round-by-round against a
    // direct Sennrich implementation.
    GraftQuery("q184_bpe_train",
      (s, d) => {
        import s.implicits._
        bpeMerges(s, d, BpeMergeRounds).zipWithIndex
          .map { case ((a, b, n), i) => ((i + 1).toLong, a, b, n) }
          .toDF("merge_rank", "lhs", "rhs", "n")
          .orderBy("merge_rank")
      },
      Some(bpeTrainOracleSql))
    ,

    // BPE ENCODE (r12) — the apply half: re-segment the corpus with the
    // q184 merges and emit the resulting token (symbol) frequencies —
    // what a tokenizer-build pipeline ships alongside the merge table.
    // The merges ride as K-bounded literals in a replace chain (the
    // VocabSurprise model-as-literal pattern); the corpus-sized word
    // rollup is the SAME plan q184 cached, so training + encode pay one
    // corpus pass total. Top-30 is a TakeOrdered.
    GraftQuery("q185_bpe_encode",
      (s, d) => {
        val ms = bpeMerges(s, d, BpeMergeRounds).map(m => (m._1, m._2))
        bpeWordFreq(s, d)
          .select(explode(bpeSyms(bpeSeg(col("word"), ms))).as("token"),
            col("freq"))
          .groupBy("token").agg(sum("freq").cast("long").as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(30)
      },
      Some(bpeEncodeOracleSql))
    ,

    // Tokenizer fertility by language (r12) — the standard tokenizer
    // EVAL metric (tokens-per-word and chars-per-token) computed with
    // the TRAINED q184 merges, per the corpus's lang label: a tokenizer
    // trained on mixed text compresses its majority languages best, and
    // this is the table a tokenizer-build pipeline reports (q59's
    // regex-fertility is the pre-tokenizer estimate; this is the real
    // thing). Scale shape: ONE corpus pass to the (lang, word) rollup
    // (map-side combine; lang×vocab-bounded, the q114 shuffle-side
    // stance), the K-bounded merge chain applied per DISTINCT
    // (lang, word) row — never per token — and a lang-keyed final
    // aggregate. All counts integer-exact; the two ratios are single
    // IEEE divisions (the money-AVG precedent).
    GraftQuery("q187_bpe_fertility",
      (s, d) => {
        val ms = bpeMerges(s, d, BpeMergeRounds).map(m => (m._1, m._2))
        docs(s, d)
          .select(col("lang"), explode(regexp_extract_all(
            lower(col("text")), lit("\\p{L}+"), lit(0))).as("word"))
          .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
          .select(col("lang"), col("freq"),
            size(bpeSyms(bpeSeg(col("word"), ms))).cast("long").as("tok"),
            length(col("word")).cast("long").as("nch"))
          .groupBy("lang")
          .agg(sum("freq").cast("long").as("n_words"),
            sum(col("freq") * col("tok")).cast("long").as("n_tokens"),
            sum(col("freq") * col("nch")).cast("long").as("n_chars"))
          .select(col("lang"), col("n_words"), col("n_tokens"),
            col("n_chars"),
            (col("n_tokens").cast("double") / col("n_words").cast("double"))
              .as("fertility"),
            (col("n_chars").cast("double") / col("n_tokens").cast("double"))
              .as("chars_per_token"))
          .orderBy("lang")
      },
      Some(bpeFertilityOracleSql))
    ,

    // Trained quality classifier, TRAIN half (r12) — the
    // FineWeb/DCLM-style rule-distillation component the corpus was
    // still missing: a linear model over hashed bag-of-words features
    // ([[graft.functions.HashedBow]]: 64 md5-bit buckets, clipped
    // counts) fit to the stopword-density rule by least squares, with
    // EVERY arithmetic step on the integer grid so both engines walk
    // the identical weight trajectory (the q182 discipline applied to
    // gradient descent). Scale shape: ONE compiled corpus pass emits
    // the 2,277 normal-equation moment entries per row (HashedBowGram),
    // the groupBy(idx) exchange is partitions × 2,277 rows, ONE bounded
    // collect (z + z(z+1)/2 rows, z-dim 66 — K×d-class model metadata,
    // the documented exception), then 64 rounds of 65×65 BigInt
    // heavy-ball GD on the driver (step 1/maxRowSum(A): all A entries
    // are ≥ 0, so the max row sum bounds λmax above — Gershgorin —
    // and the descent is stable for any β < 1; distributing ~4k
    // multiplies would be pure scheduler cost — the q81 lesson).
    // Clipped counts bound every moment at n·Cap² — DECIMAL(38,0)
    // holds them at any corpus size. The oracle unrolls the SAME K
    // rounds as MATERIALIZED CTEs over the sparse self-join Gram (fine
    // at oracle scale; the compiled moment pass is the 100 TB form).
    GraftQuery("q188_quality_classifier_train",
      (s, d) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val schema = StructType(Seq(
          StructField("dim", LongType, nullable = false),
          StructField("xty", LongType, nullable = false),
          StructField("w_grid", LongType, nullable = false)))
        val rows = bowModel(s, d).map { case (i, b, w) => Row(i, b, w) }
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
          .orderBy("dim")
      },
      Some(bowTrainOracleSql))
    ,

    // Trained quality classifier, APPLY half (r12) — score every doc
    // with the q188 weights and emit (score, prediction, rule label,
    // agreement): the table a filtering pipeline thresholds on. The
    // model rides as a 17-long literal into a compiled per-row dot
    // ([[graft.functions.HashedBowScore]] — the CosineAll
    // model-as-literal pattern), so the corpus streams ONCE, join-free,
    // no shuffle except the output ORDER BY; training is shared with
    // q188 through the per-dir model cache (the centroidCache /
    // mergesCache precedent — a production classifier is versioned
    // corpus-adjacent metadata). Prediction thresholds at grid 0.5
    // (score_grid ≥ 2¹⁹ — exact integer compare in both engines).
    GraftQuery("q189_quality_classifier_apply",
      (s, d) => {
        val w = bowModel(s, d).map(_._3)
        val t = coalesce(lower(col("text")), lit(""))
        docs(s, d)
          .select(col("doc_id"), t.as("t"),
            reCount(t, "\\p{L}+").as("nt"), reCount(t, StopRe).as("ns"))
          .select(col("doc_id"),
            graft.functions.HashedBowScore.bowScore(col("t"), w)
              .as("score_grid"),
            when(col("nt") > 0 && col("ns") * lit(BowStopMul) >= col("nt"),
              1L).otherwise(0L).as("label"))
          .withColumn("pred",
            (col("score_grid") >= lit(BowGrid / 2)).cast("long"))
          .withColumn("correct", (col("pred") === col("label")).cast("long"))
          .select("doc_id", "score_grid", "pred", "label", "correct")
          .orderBy("doc_id")
      },
      Some(bowApplyOracleSql))
    ,

    // HELD-OUT classifier evaluation (r12) — the ML-hygiene row: train
    // the q188 model on the md5 TRAIN split only (q89's deterministic
    // split rule) and report rule agreement per split. Train vs
    // val/test accuracy is the generalization check a filtering
    // pipeline reads before trusting the classifier on unseen data —
    // with hashed-count features and a deterministic rule the gap is
    // small, and the whole table is hash-exact because training stays
    // on the integer grid (same trajectory both engines, just a
    // filtered base relation). Scale shape: the training pass scans the
    // train slice once (the q188 shape), scoring + label + split are
    // one join-free corpus pass, and the aggregate is 3 rows.
    //
    // 100 TB cost honesty (r16, VERDICT r15 item 9): the stamped model
    // cache only amortizes REPEAT sessions against an unchanged corpus
    // dir — the first session pays the full training moment pass, and
    // that pass is NEAR-LINEAR in the corpus (measured cold exponent
    // 0.91 at the 10× sweep; cold wall 3.19 s at g1). That price is the
    // training protocol's, not an inefficiency this query can shed: the
    // model is exact (integer-grid moments over every train-split row),
    // so a sampled/approximate trainer would change declared results
    // and is off the table. Read any warm q192 bench figure alongside
    // bench_detail's first_build_wall, which carries the train cost.
    GraftQuery("q192_classifier_holdout",
      (s, d) => {
        val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
        // trained on the SPLIT, not the corpus — its own stamped
        // per-dir cache (r15 opt; the full-corpus q188 model lives in
        // bowModelCache, this artifact is the split-trained twin)
        val w = stampCached(bowHoldoutCache,
          (d, sourceStamp(d, "documents")))(_._1 == d)(
          bowModelOf(docs(s, d).filter(h2 < lit("cd")))).map(_._3)
        val t = coalesce(lower(col("text")), lit(""))
        docs(s, d)
          .select(
            when(h2 < "cd", "train").when(h2 < "e6", "val")
              .otherwise("test").as("split"),
            graft.functions.HashedBowScore.bowScore(t, w).as("sc"),
            reCount(t, "\\p{L}+").as("nt"), reCount(t, StopRe).as("ns"))
          .select(col("split"),
            (col("sc") >= lit(BowGrid / 2)).cast("long").as("pred"),
            when(col("nt") > 0 && col("ns") * lit(BowStopMul) >= col("nt"),
              1L).otherwise(0L).as("y"))
          .groupBy("split")
          .agg(count(lit(1)).as("n"),
            sum((col("pred") === col("y")).cast("long")).cast("long")
              .as("n_correct"))
          .select(col("split"), col("n"), col("n_correct"),
            (col("n_correct").cast("double") / col("n").cast("double"))
              .as("accuracy"))
          .orderBy("split")
      },
      Some(bowHoldoutOracleSql))
  )

  // ---- BPE tokenizer induction (r12, VERDICT r11 item 2) ----
  // (BpeMergeRounds itself is declared ABOVE `all`: the oracle builders
  // run during `all`'s initialization, and a constant declared below it
  // would still read 0 there — object vals initialize in declaration
  // order.)

  /** The corpus word-frequency table — the ONLY corpus-sized pass of
    * the BPE family. q184's trainer persists this plan; q185's encoder
    * rebuilds the identical plan, so Spark's cache manager serves both
    * from one materialization. */
  private def bpeWordFreq(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("\\p{L}+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Boundary-form segmentation with `merges` applied in learned order:
    * every char wrapped `|c|` (so "he" → "|h||e|"), then each merge
    * (a,b) is ONE `replace` of `|a||b|` → `|ab|`. `replace` is leftmost
    * non-overlapping in both engines (verified: "|b||a||b||a||b|" with
    * (b,a) → "|ba||ba||b|") — exactly Sennrich's greedy apply — and
    * symbols are \p{L} chars, so '|' can never occur inside one.
    * Rebuilding from scratch with merges 1..r replays the exact
    * training state: a later merge's symbols cannot appear in an
    * earlier round's segmentation. */
  private[graft] def bpeSeg(word: Column,
      merges: Seq[(String, String)]): Column =
    merges.foldLeft(regexp_replace(word, "(.)", "|$1|")) {
      case (c, (a, b)) =>
        replace(c, lit("|" + a + "||" + b + "|"), lit("|" + a + b + "|"))
    }

  /** Symbol array of a boundary-form segmentation. */
  private[graft] def bpeSyms(seg: Column): Column =
    split(trim(seg, "|"), "\\|\\|")

  /** Training output is deterministic in (corpus dir, K), so the merge
    * table is cached like any model artifact — q184, q185 and q187
    * share ONE training run per corpus instead of each re-paying the K
    * argmax rounds (the centroidCache precedent in Similarity: a
    * production tokenizer is versioned corpus-adjacent metadata,
    * trained once). The cached value is K pairs — bounded. */
  private val mergesCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, Int), Seq[(String, String, Long)]]

  /** Sennrich BPE training: K argmax rounds over the distributed
    * word-frequency frame; each round collects exactly ONE row (the
    * best pair — bounded by construction). Stops early when no pair is
    * left (all words fully merged). Returns (lhs, rhs, weighted count)
    * in merge order. */
  private[graft] def bpeMerges(s: SparkSession, d: String, k: Int)
      : Seq[(String, String, Long)] =
    mergesCache.getOrElseUpdate((d, k), bpeMergesUncached(s, d, k))

  private def bpeMergesUncached(s: SparkSession, d: String, k: Int)
      : Seq[(String, String, Long)] = {
    val wf = bpeWordFreq(s, d).persistTracked()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (!done && merges.length < k) {
      val best = wf
        .select(bpeSyms(bpeSeg(col("word"),
          merges.toSeq.map(m => (m._1, m._2)))).as("a"), col("freq"))
        .filter(size(col("a")) >= 2)
        .select(explode(arrays_zip(
          slice(col("a"), lit(1), size(col("a")) - 1),
          slice(col("a"), lit(2), size(col("a")) - 1))).as("p"),
          col("freq"))
        .select(concat_ws(" ", col("p").getField("0"),
          col("p").getField("1")).as("pair"), col("freq"))
        .groupBy("pair").agg(sum("freq").cast("long").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(1).collect() // ONE row per round — the argmax
      if (best.isEmpty) done = true
      else {
        val sp = best(0).getString(0).split(" ", 2)
        merges += ((sp(0), sp(1), best(0).getLong(1)))
      }
    }
    merges.toSeq
  }

  /** The q184/q185 oracle chain: the SAME K-round induction unrolled as
    * MATERIALIZED per-level CTEs — DuckDB's default CTE inlining
    * re-expands the whole chain per reference and goes exponential in K
    * without MATERIALIZED (the q182 lesson; see BENCH_NOTES). `range`
    * is DuckDB's EXCLUSIVE-end list constructor, so range(1, len(a))
    * indexes exactly the adjacent-pair starts of the 1-based array. */
  private def bpeCteChain(k: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH wf AS MATERIALIZED (SELECT word, COUNT(*) AS freq ")
      .append("FROM (SELECT unnest(regexp_extract_all(lower(text), ")
      .append("'\\p{L}+')) AS word FROM documents) GROUP BY 1), ")
      .append("l0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', ")
      .append("'|\\1|', 'g') AS seg, freq FROM wf)")
    for (i <- 1 to k) {
      val prev = s"l${i - 1}"
      sb.append(s", p$i AS (SELECT unnest(list_transform(range(1, len(a)), ")
        .append("x -> a[x] || ' ' || a[x+1])) AS pair, freq ")
        .append("FROM (SELECT string_split(trim(seg, '|'), '||') AS a, ")
        .append(s"freq FROM $prev)), ")
        .append(s"m$i AS MATERIALIZED (SELECT pair, CAST(SUM(freq) AS BIGINT) ")
        .append(s"AS n FROM p$i GROUP BY 1 ORDER BY n DESC, pair LIMIT 1), ")
        .append(s"l$i AS MATERIALIZED (SELECT replace(seg, ")
        .append("'|' || replace(m.pair, ' ', '||') || '|', ")
        .append("'|' || replace(m.pair, ' ', '') || '|') AS seg, freq ")
        .append(s"FROM $prev CROSS JOIN m$i AS m)")
    }
    sb.toString
  }

  private def bpeTrainOracleSql: String =
    bpeCteChain(BpeMergeRounds) + " " +
      (1 to BpeMergeRounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_rank, " +
          s"split_part(pair, ' ', 1) AS lhs, " +
          s"split_part(pair, ' ', 2) AS rhs, n FROM m$i")
        .mkString(" UNION ALL ") +
      " ORDER BY merge_rank"

  private def bpeEncodeOracleSql: String =
    bpeCteChain(BpeMergeRounds) +
      " SELECT sym AS token, CAST(SUM(freq) AS BIGINT) AS n " +
      "FROM (SELECT unnest(string_split(trim(seg, '|'), '||')) AS sym, " +
      s"freq FROM l$BpeMergeRounds) " +
      "GROUP BY 1 ORDER BY n DESC, token LIMIT 30"

  /** q187's oracle: the q184 training chain (merges m1..mK), then the
    * SAME replace chain applied to the (lang, word) rollup — a second
    * unrolled chain a0..aK — and the per-lang totals. */
  private def bpeFertilityOracleSql: String = {
    val k = BpeMergeRounds
    val apply = (1 to k).map { i =>
      val prev = if (i == 1) "a0" else s"a${i - 1}"
      s"a$i AS MATERIALIZED (SELECT lang, replace(seg, " +
        "'|' || replace(m.pair, ' ', '||') || '|', " +
        "'|' || replace(m.pair, ' ', '') || '|') AS seg, freq, nch " +
        s"FROM $prev CROSS JOIN m$i AS m)"
    }.mkString(", ")
    bpeCteChain(k) +
      ", wfl AS MATERIALIZED (SELECT lang, word, COUNT(*) AS freq " +
      "FROM (SELECT lang, unnest(regexp_extract_all(lower(text), " +
      "'\\p{L}+')) AS word FROM documents) GROUP BY 1, 2), " +
      "a0 AS (SELECT lang, regexp_replace(word, '(.)', '|\\1|', 'g') " +
      "AS seg, freq, CAST(len(word) AS BIGINT) AS nch FROM wfl), " +
      apply + ", " +
      s"ft AS (SELECT lang, freq, CAST(len(string_split(trim(seg, '|'), " +
      s"'||')) AS BIGINT) AS tok, nch FROM a$k) " +
      "SELECT lang, CAST(SUM(freq) AS BIGINT) AS n_words, " +
      "CAST(SUM(freq * tok) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(freq * nch) AS BIGINT) AS n_chars, " +
      "CAST(CAST(SUM(freq * tok) AS BIGINT) AS DOUBLE) / " +
      "CAST(SUM(freq) AS BIGINT) AS fertility, " +
      "CAST(CAST(SUM(freq * nch) AS BIGINT) AS DOUBLE) / " +
      "CAST(SUM(freq * tok) AS BIGINT) AS chars_per_token " +
      "FROM ft GROUP BY lang ORDER BY lang"
  }

  // ---- q188/q189 trained quality classifier (r12) ----

  /** Trained-model cache, keyed by corpus dir (the mergesCache /
    * centroidCache precedent): q188, q189 and the streaming scorer
    * share ONE training run per corpus. The cached value is 17 rows of
    * (dim, Xᵀy, w_grid) — bounded. */
  private val bowModelCache =
    scala.collection.concurrent.TrieMap
      .empty[String, IndexedSeq[(Long, Long, Long)]]

  private[graft] def bowModel(s: SparkSession, d: String)
      : IndexedSeq[(Long, Long, Long)] =
    bowModelCache.getOrElseUpdate(d, bowModelOf(docs(s, d)))

  /** One moment pass + driver-side integer GD (the gridPc1Model shape).
    * Takes the documents FRAME so the streaming twin can train on the
    * same code path. Total by construction: text coalesces to '' and
    * the label rule yields 0/1 on every row, so every doc contributes
    * exactly one moment row — no NULL asymmetry to refuse (the q182
    * lesson, avoided instead of gated). An empty corpus yields the
    * zero model (the oracle's zero-initialized w frame with t = 0). */
  private[graft] def bowModelOf(docsDf: DataFrame)
      : IndexedSeq[(Long, Long, Long)] = {
    import org.apache.spark.sql.types.DecimalType
    val dDim = graft.functions.HashedBow.Dims // 65: bias + 64 buckets
    val zDim = dDim + 1                       // + the label
    val t = coalesce(lower(col("text")), lit(""))
    val labeled = docsDf
      .select(t.as("t"), reCount(t, "\\p{L}+").as("nt"),
        reCount(t, StopRe).as("ns"))
      .select(col("t"),
        when(col("nt") > 0 && col("ns") * lit(BowStopMul) >= col("nt"), 1L)
          .otherwise(0L).as("y"))
    val moments = labeled
      .select(posexplode(graft.functions.HashedBowGram
        .bowGram(col("t"), col("y"))).as(Seq("idx", "v")))
      .groupBy("idx")
      .agg(sum(col("v").cast(DecimalType(38, 0))).as("sv"))
      .collect() // bounded by construction: z + z(z+1)/2 = 2,277 rows
    if (moments.isEmpty)
      return (0 until dDim).map(i => (i.toLong, 0L, 0L)).toIndexedSeq
    val total = zDim + zDim * (zDim + 1) / 2
    require(moments.length == total,
      s"q188: ${moments.length} moment indices, expected $total")
    val sums = new Array[BigInt](total)
    moments.foreach(r =>
      sums(r.getInt(0)) = BigInt(r.getDecimal(1).toBigIntegerExact))
    // GridGram pair layout: pos(i,j) = z + Σ_{t<i}(z−t) + (j−i)
    def pos(i: Int, j: Int): Int =
      zDim + i * zDim - i * (i - 1) / 2 + (j - i)
    val A = Array.tabulate(dDim, dDim)((i, j) =>
      if (i <= j) sums(pos(i, j)) else sums(pos(j, i)))
    // b = Xᵀy: the cross terms of each feature with the label slot
    val b = Array.tabulate(dDim)(i => sums(pos(i, zDim - 1)))
    // Gershgorin step bound: every A entry is ≥ 0 (counts × counts),
    // so the max ROW SUM both bounds λmax above (safe) and sits within
    // d× of it below (fast) — measured 4× fewer rounds than 1/trace
    val rowMax = (0 until dDim).map(i => A(i).sum).max
    val grid = BigInt(BowGrid)
    // sign-split division (the trajectory rule): both engines divide
    // non-negative integers, then re-apply the sign
    def sdiv(x: BigInt, t: BigInt): BigInt = {
      val q = x.abs / t
      if (x < 0) -q else q
    }
    var w = Array.fill(dDim)(BigInt(0))
    var wp = w
    for (_ <- 1 to BowGdRounds; if rowMax != 0) {
      val g = Array.tabulate(dDim) { i =>
        var acc = -grid * b(i); var j = 0
        while (j < dDim) { acc += A(i)(j) * w(j); j += 1 }
        acc
      }
      // heavy ball: w' = w − g/T + β(w − wprev), β = 15/16
      val next = Array.tabulate(dDim)(i =>
        w(i) - sdiv(g(i), rowMax) +
          sdiv(BigInt(BowMomNum) * (w(i) - wp(i)), BigInt(BowMomDen)))
      wp = w
      w = next
    }
    (0 until dDim).map(i => (i.toLong,
      b(i).bigInteger.longValueExact(),
      w(i).bigInteger.longValueExact())).toIndexedSeq
  }

  /** The shared q188/q189 oracle chain: per-doc label + sparse clipped
    * features, the self-join Gram `a`, `Xᵀy`, the max-row-sum step
    * bound, then K unrolled MATERIALIZED heavy-ball rounds —
    * `w_k = w_{k−1} − signsplit(A·w − W·b)/T + signsplit(β·(w_{k−1} −
    * w_{k−2}))`, HUGEINT throughout, `ABS(g)//t` mirroring the
    * sign-split. The
    * LEFT JOINs + COALESCE keep never-fired features at gradient 0, and
    * `COALESCE(SUM(x*x), 0)` keeps the empty corpus on the zero-model
    * path instead of NULL-poisoning the chain. */
  /** The per-doc label + sparse clipped-feature CTEs over `base`
    * (a relation SQL snippet), names suffixed `sfx` — the feature map
    * stated ONCE and reused by the training chain (sfx "", base
    * `documents`), q192's train-split chain, and q192's all-docs
    * scoring pass (the fertility-oracle second-chain precedent). */
  private def bowFeatureCtes(sfx: String, base: String): String = {
    val sb = new StringBuilder
    sb.append(s"lb$sfx AS (SELECT doc_id, ")
      .append("CAST(len(regexp_extract_all(lower(coalesce(text,'')), ")
      .append("'\\p{L}+')) AS BIGINT) AS nt, ")
      .append("CAST(len(regexp_extract_all(lower(coalesce(text,'')), ")
      .append("'\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS BIGINT) AS ns ")
      .append(s"FROM $base), ")
      .append(s"lbl$sfx AS MATERIALIZED (SELECT doc_id, CASE WHEN nt > 0 AND ")
      .append(s"$BowStopMul*ns >= nt THEN 1 ELSE 0 END AS y FROM lb$sfx), ")
      .append(s"tok$sfx AS (SELECT doc_id, unnest(regexp_extract_all(")
      .append(s"lower(coalesce(text,'')), '\\p{L}+')) AS w FROM $base), ")
      .append(s"fc$sfx AS (SELECT doc_id, CAST(((strpos('0123456789abcdef', ")
      .append("substr(md5(w),1,1))-1)*16 + strpos('0123456789abcdef', ")
      .append("substr(md5(w),2,1))-1) % 64 + 1 AS BIGINT) AS i, ")
      .append(s"LEAST(COUNT(*), ${graft.functions.HashedBow.CountCap}) ")
      .append(s"AS x FROM tok$sfx GROUP BY 1, 2), ")
      .append(s"xs$sfx AS MATERIALIZED (SELECT doc_id, CAST(0 AS BIGINT) AS i, ")
      .append(s"CAST(1 AS HUGEINT) AS x FROM $base ")
      .append(s"UNION ALL SELECT doc_id, i, CAST(x AS HUGEINT) FROM fc$sfx)")
    sb.toString
  }

  private def bowCteChain: String = bowCteChainFor("documents")

  /** The training chain over an arbitrary base relation (q192 trains
    * on the md5 train split; everything else trains on `documents`). */
  private def bowCteChainFor(base: String): String = {
    val sb = new StringBuilder
    sb.append("WITH ").append(bowFeatureCtes("", base)).append(", ")
      .append("a AS MATERIALIZED (SELECT p.i, q.i AS j, SUM(p.x*q.x) AS v ")
      .append("FROM xs p JOIN xs q USING (doc_id) GROUP BY 1, 2), ")
      .append("xty AS MATERIALIZED (SELECT xs.i, SUM(xs.x * lbl.y) AS b ")
      .append("FROM xs JOIN lbl USING (doc_id) GROUP BY 1), ")
      .append("tr AS (SELECT COALESCE(MAX(s), 0) AS t FROM ")
      .append("(SELECT i, SUM(v) AS s FROM a GROUP BY 1)), ")
      .append("dims AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, ")
      .append(s"${graft.functions.HashedBow.Dims})), ")
      .append("w0 AS (SELECT i, CAST(0 AS HUGEINT) AS w, ")
      .append("CAST(0 AS HUGEINT) AS wp FROM dims)")
    for (k <- 1 to BowGdRounds) {
      val prev = s"w${k - 1}"
      sb.append(s", g$k AS (SELECT d.i, COALESCE(aw.aw, 0) - ")
        .append(s"$BowGrid*COALESCE(xty.b, 0) AS g FROM dims d ")
        .append("LEFT JOIN (SELECT a.i, SUM(a.v*w.w) AS aw FROM a ")
        .append(s"JOIN $prev w ON a.j = w.i GROUP BY 1) aw ON d.i = aw.i ")
        .append("LEFT JOIN xty ON d.i = xty.i), ")
        .append(s"w$k AS MATERIALIZED (SELECT g.i, w.w - (CASE ")
        .append("WHEN tr.t = 0 THEN CAST(0 AS HUGEINT) ")
        .append("WHEN g.g < 0 THEN -(ABS(g.g)//tr.t) ")
        .append("ELSE g.g//tr.t END) + (CASE ")
        .append(s"WHEN w.w < w.wp THEN -(($BowMomNum*(w.wp - w.w))//$BowMomDen) ")
        .append(s"ELSE ($BowMomNum*(w.w - w.wp))//$BowMomDen END) AS w, ")
        .append(s"w.w AS wp FROM g$k g JOIN $prev w ")
        .append("USING (i) CROSS JOIN tr)")
    }
    sb.toString
  }

  /** The chain WITHOUT the leading `WITH ` — for composition into
    * another query's CTE list (q191 in Dedup). */
  private[graft] def bowCteBody: String = bowCteChain.stripPrefix("WITH ")

  /** q192's oracle: the SAME training chain over the md5 train split,
    * then a SECOND feature pass (suffix 2) over ALL documents for
    * scoring + labels, the split tag, and the 3-row accuracy rollup. */
  private def bowHoldoutOracleSql: String = {
    val wK = s"w$BowGdRounds"
    bowCteChainFor("(SELECT * FROM documents WHERE " +
      "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd')") + ", " +
      bowFeatureCtes("2", "documents") + ", " +
      s"sc AS (SELECT x.doc_id, SUM(x.x * w.w) AS s FROM xs2 x " +
      s"JOIN $wK w ON x.i = w.i GROUP BY 1), " +
      "j AS (SELECT CASE " +
      "WHEN substr(md5(CAST(sc.doc_id AS VARCHAR)), 1, 2) < 'cd' " +
      "THEN 'train' " +
      "WHEN substr(md5(CAST(sc.doc_id AS VARCHAR)), 1, 2) < 'e6' " +
      "THEN 'val' ELSE 'test' END AS split, " +
      s"CASE WHEN sc.s >= ${BowGrid / 2} THEN 1 ELSE 0 END AS pred, " +
      "lbl2.y AS y FROM sc JOIN lbl2 USING (doc_id)) " +
      "SELECT split, COUNT(*) AS n, " +
      "CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_correct, " +
      "CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS DOUBLE) / " +
      "COUNT(*) AS accuracy " +
      "FROM j GROUP BY 1 ORDER BY 1"
  }

  private def bowTrainOracleSql: String =
    bowCteChain + " " +
      "SELECT d.i AS dim, CAST(COALESCE(xty.b, 0) AS BIGINT) AS xty, " +
      s"CAST(w$BowGdRounds.w AS BIGINT) AS w_grid " +
      "FROM dims d LEFT JOIN xty ON d.i = xty.i " +
      s"JOIN w$BowGdRounds ON d.i = w$BowGdRounds.i ORDER BY dim"

  private def bowApplyOracleSql: String =
    bowCteChain + ", " +
      s"sc AS (SELECT x.doc_id, SUM(x.x * w.w) AS s FROM xs x " +
      s"JOIN w$BowGdRounds w ON x.i = w.i GROUP BY 1) " +
      "SELECT sc.doc_id, CAST(sc.s AS BIGINT) AS score_grid, " +
      s"CAST(CASE WHEN sc.s >= ${BowGrid / 2} THEN 1 ELSE 0 END AS BIGINT) " +
      "AS pred, CAST(lbl.y AS BIGINT) AS label, " +
      s"CAST(CASE WHEN (CASE WHEN sc.s >= ${BowGrid / 2} THEN 1 ELSE 0 END) " +
      "= lbl.y THEN 1 ELSE 0 END AS BIGINT) AS correct " +
      "FROM sc JOIN lbl USING (doc_id) ORDER BY doc_id"
}
