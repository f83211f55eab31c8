package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator specs over the sf0.001 fixtures. One session per suite. */
class CorpusSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("driver contract: unique names, oracle keys ⊆ query keys") {
    val names = SparkEntry.corpus.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every corpus query runs at sf0.001 with a non-empty schema") {
    SparkEntry.corpus.foreach { q =>
      val df = q.run(spark, sf)
      assert(df.schema.nonEmpty, q.name)
      df.limit(1).collect() // forces planning + execution of a sliver
    }
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q44 exact dedup groups equal distinct texts") {
    val docs = Tables.load(spark, sf, "documents")
    val groups = SparkEntry.queries("q44_dedup_exact")(spark, sf).count()
    assert(groups == docs.select("text").distinct().count())
    // group sizes add back up to the table size
    val total = SparkEntry.queries("q44_dedup_exact")(spark, sf)
      .agg(sum("dup_cnt")).head.getLong(0)
    assert(total == docs.count())
  }

  test("q101 duplicated passages: exact docs share ALL their shingles; " +
    "ratios bounded; unique docs absent") {
    val out = SparkEntry.queries("q101_dup_passages")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.nonEmpty)
    out.values.foreach { case (total, dup, ratio) =>
      assert(dup >= 1 && dup <= total)
      assert(math.abs(ratio - dup.toDouble / total) < 1e-12)
    }
    // exact duplicates (same text, different doc_id) must both appear
    // with dup_ratio == 1 (every shingle is shared)
    val docs = Tables.load(spark, sf, "documents")
    val exactDup = docs.groupBy("text")
      .agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("doc_id"))
      .collect().map(_.getLong(0))
    // only docs long enough to HAVE a 5-gram participate
    val longEnough = docs
      .filter(size(split(lower(trim(col("text"))), "\\s+")) >= 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    exactDup.filter(longEnough).foreach { id =>
      val (total, dup, _) = out(id)
      assert(total == dup, s"doc $id: exact dup must share all shingles")
    }
  }

  test("q102 SemDeDup: found pairs are a subset of the exact q48 pairs " +
    "(precision 1) with a recall floor; the corpus recall row agrees") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SparkEntry.queries("q48_dedup_embedding")(spark, sf))
    val sem = pairs(graft.operators.Dedup.semanticPairs(spark, sf))
    assert(sem.nonEmpty)
    assert(sem.subsetOf(exact),
      s"${(sem -- exact).size} pairs not in the exact set")
    val recall = sem.size.toDouble / exact.size
    info(f"q102 recall vs exact q48: $recall%.3f (${sem.size}/${exact.size})")
    // measured 0.810 at sf0.01 with K=16, 3 probes; floor leaves noise room
    assert(recall >= 0.65, f"recall $recall%.3f below floor")
    // the r9 ORACLED recall row must agree with this first-principles
    // computation: n_truth = |exact|, gate green
    val row = SparkEntry.queries("q102_dedup_semantic")(spark, sf).head()
    assert(row.getLong(0) == exact.size && row.getLong(2) == 1L, row.toString)
  }

  test("q156/q157 manifest pipeline: the funnel is monotone, every stage " +
    "bites on the fixture, the manifest is the funnel's final stage, and " +
    "no source exceeds its cap") {
    // sf0.01: at sf0.001 (~50 docs over 20 sources) the 15-per-source
    // cap never binds and the stage-bites assertions would be vacuous
    val sf = "/root/testdata/sf0.01"
    val funnel = SparkEntry.queries("q157_pipeline_funnel")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(funnel.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // stages only remove documents, and on this fixture each one does
    funnel.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 < a._3, s"stage ${b._2} did not shrink ${a._2}")
      assert(b._4 < a._4)
    }
    val manifest = SparkEntry.queries("q156_training_manifest")(spark, sf)
      .collect()
    val Some((_, _, nCapped, charsCapped)) = funnel.find(_._2 == "capped")
    assert(manifest.map(_.getLong(2)).sum == nCapped,
      "manifest cells must partition the capped set")
    assert(manifest.map(_.getLong(3)).sum == charsCapped)
    // per-source totals (across splits) respect the 15-doc cap
    manifest.groupBy(_.getString(1)).foreach { case (src, cells) =>
      assert(cells.map(_.getLong(2)).sum <= 15, s"$src exceeds the cap")
    }
    // both splits present beyond train — the salted cap hash must not
    // correlate with the split hash (the bug this pipeline fixes)
    val splits = manifest.map(_.getString(0)).toSet
    assert(splits == Set("train", "val", "test"),
      s"split correlation regression: only $splits present")
  }

  test("q157 one-pass flag funnel equals the staged-frame aggregates " +
    "(the r15 rewrite's equivalence pin)") {
    // sf0.01 — every stage bites there (see the test above); the funnel
    // now computes monotone flags in one pass, and this recomputes the
    // pre-r15 form (five aggregates over Dedup.manifestStages) to prove
    // the two shapes value-identical beyond the oracle hash.
    val sf01 = "/root/testdata/sf0.01"
    val (base, quality, deduped, decon, capped) =
      operators.Dedup.manifestStages(spark, sf01)
    def cs(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum("n_chars"), lit(0L)).cast("long")).head
      (r.getLong(0), r.getLong(1))
    }
    val expected = Seq(cs(base), cs(quality), cs(deduped), cs(decon),
      cs(capped))
    val got = SparkEntry.queries("q157_pipeline_funnel")(spark, sf01)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("q159 truncation recall: three levels, hit counts bounded by the " +
    "possible set, and the full-dim baseline is the q49 panel top-k") {
    val rows = SparkEntry.queries("q159_dim_truncation_recall")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(4L, 8L, 16L))
    val possible = rows.head._3
    assert(possible > 0 && rows.forall(_._3 == possible))
    rows.foreach { case (_, hits, p, recall) =>
      assert(hits >= 0 && hits <= p)
      assert(math.abs(recall - hits.toDouble / p.toDouble) < 1e-12)
    }
    // the denominator IS the q49 full-dim top-k row count
    val q49 = SparkEntry.queries("q49_ann_brute")(spark, sf).count()
    assert(possible == q49)
  }

  test("q182 integer-grid PCA recovers a PLANTED dominant direction: " +
    "|cos| vs the converged double eigenvector ≥ 0.999") {
    import spark.implicits._
    // x = 0.05·noise + s·u with s ~ N(0, 3): one strong direction, so
    // 12 power-iteration rounds converge (the fixture corpus is
    // near-isotropic — there the contract is trajectory-exactness vs
    // the oracle, which Verify certifies; THIS pins usefulness)
    val rnd = new scala.util.Random(421)
    val d = 16
    val u0 = Array.tabulate(d)(i => math.sin(1.7 * i + 0.3))
    val un = { val n = math.sqrt(u0.map(x => x * x).sum); u0.map(_ / n) }
    val vecs = (0 until 300).map { id =>
      val strength = rnd.nextGaussian() * 3.0
      (id.toLong,
        Array.tabulate(d)(i =>
          (rnd.nextGaussian() * 0.05 + strength * un(i)).toFloat).toSeq,
        0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-q182").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val res = SparkEntry.queries("q182_embedding_pca")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(res.length == d && res.map(_.getLong(0)).toSeq == (1 to d).map(_.toLong))
    val pc = res.map(_.getLong(2).toDouble)
    // converged double reference on the same rows (300 rounds)
    val x = vecs.map(_._2.map(_.toDouble).toArray).toArray
    val mu = Array.tabulate(d)(i => x.map(_(i)).sum / x.length)
    val cov = Array.tabulate(d, d)((i, j) =>
      x.map(r => (r(i) - mu(i)) * (r(j) - mu(j))).sum)
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to 300) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val n = math.sqrt(w.map(y => y * y).sum)
      v = w.map(_ / n)
    }
    val dot = (0 until d).map(i => pc(i) * v(i)).sum
    val cos = math.abs(dot) /
      (math.sqrt(pc.map(y => y * y).sum) * math.sqrt(v.map(y => y * y).sum))
    assert(cos >= 0.999, s"cos=$cos")
    // grid sums are the exact first moments of the grid vectors
    val gs = res.map(_.getLong(1))
    val expect = Array.tabulate(d)(i => vecs.map(r =>
      graft.functions.GridGram.toGrid(r._2(i).toDouble)).sum)
    assert(gs.toSeq == expect.toSeq)

    // q183 on the same fixture: dot is the exact grid inner product
    // against q182's vector, and removing the planted direction kills
    // almost all the energy (residual share ≈ (0.05/3)² — bound 5%)
    val pcL = res.map(_.getLong(2))
    val t = SparkEntry.queries("q183_abtt_transform")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(t.length == vecs.length)
    var energy = BigInt(0); var residual = BigInt(0)
    t.foreach { row =>
      val id = row.getLong(0).toInt
      val g = vecs(id)._2.map(x =>
        graft.functions.GridGram.toGrid(x.toDouble)).toArray
      val dotRef = (0 until d).map(i => BigInt(g(i)) * BigInt(pcL(i))).sum
      assert(BigInt(row.getLong(1)) == dotRef, s"vec $id dot")
      energy += g.map(x => BigInt(x) * BigInt(x)).sum
      residual += BigInt(row.getLong(2))
    }
    assert(residual * 20 < energy,
      s"residual share ${residual.toDouble / energy.toDouble}")
  }

  test("q119 degree orientation enumerates the same per-node triangle " +
    "counts as the id orientation (sf0.1 — skew-safe plan, same answer)") {
    val sf01 = "/root/testdata/sf0.1"
    // the shipped (degree-oriented, skew-bounded) form
    val byDegree = SparkEntry.queries("q119_triangles")(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the simple id-oriented reference form (a < b < c wedge join) —
    // group sizes bounded only by id-orientation out-degree, so fine as
    // a TEST oracle, not as the shipped plan
    val e = graft.operators.Dedup.jaccardPairs(spark, sf01)
      .select("a", "b").persist()
    val e2 = e.select(col("a").as("b2"), col("b").as("c"))
    val e3 = e.select(col("a").as("a3"), col("b").as("c3"))
    val byId = e.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    e.unpersist()
    assert(byDegree.nonEmpty, "sf0.1 near-dup graph must contain triangles")
    assert(byDegree == byId,
      s"orientations disagree: ${byDegree.size} vs ${byId.size} rows")
  }

  test("q121 KMV sketch: pairwise Jaccard estimates track exact vocabulary " +
    "overlap within 0.15") {
    val sf01 = "/root/testdata/sf0.01"
    val est = graft.operators.TextAnalysis.vocabOverlapSketch(spark, sf01)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(est.size == 190, "20 sources -> 190 pairs")
    // the r9 oracled entry: exact-jaccard column + every est_ok gate green
    val entry = SparkEntry.queries("q121_vocab_overlap_sketch")(spark, sf01)
      .collect()
    assert(entry.length == 190 && entry.forall(_.getLong(3) == 1L))
    val words = Tables.load(spark, sf01, "documents")
      .select(col("source"),
        explode(regexp_extract_all(lower(col("text")), lit("\\p{L}+"), lit(0)))
          .as("word"))
      .distinct().collect()
      .groupBy(_.getString(0)).map { case (s0, rs) => s0 -> rs.map(_.getString(1)).toSet }
    val errs = est.map { case ((a, b), e) =>
      val exact = words(a).intersect(words(b)).size.toDouble / words(a).union(words(b)).size
      math.abs(e - exact)
    }
    assert(errs.max <= 0.15, s"worst sketch error ${errs.max}")
    assert(errs.sum / errs.size <= 0.05, s"mean sketch error ${errs.sum / errs.size}")
  }

  test("q81 components: driver union-find and the distributed min-label " +
    "loop yield identical canonicals") {
    val sf01 = "/root/testdata/sf0.01"
    val fast = graft.operators.Dedup.nearDupComponents(spark, sf01)
    val dist = graft.operators.Dedup
      .nearDupComponents(spark, sf01, driverEdgeCap = 0)
    assert(fast.count() > 0, "needs a non-trivial pair graph")
    assert(fast.except(dist).count() == 0 && dist.except(fast).count() == 0,
      "the two component paths must agree row-for-row")
  }

  test("q152 incremental dedup: every new-batch doc reports exactly its " +
    "best old-corpus match from the q45 pair graph (jaccard desc, id asc)") {
    val sf01 = "/root/testdata/sf0.01"
    val pairs = SparkEntry.queries("q45_dedup_ngram_jaccard")(spark, sf01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val inc = SparkEntry.queries("q152_incremental_dedup")(spark, sf01)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3))))
    def isNew(id: Long) = id % 10 == 7
    val best = pairs.flatMap { case ((a, b), j) => Seq((a, b, j), (b, a, j)) }
      .filter { case (n, o, _) => isNew(n) && !isNew(o) }
      .groupBy(_._1).map { case (n, ms) =>
        val m = ms.minBy(t => (-t._3, t._2)); n -> ((m._2, m._3))
      }
    assert(inc.nonEmpty, "needs near-dups straddling the batch boundary")
    assert(inc.toMap == best, s"got ${inc.length}, want ${best.size}")
  }

  test("q48 gate: the exact all-pairs join refuses inputs above the " +
    "vector cap instead of planning the n^2 join") {
    val ex = intercept[IllegalStateException] {
      graft.operators.Dedup.exactEmbeddingPairs(spark, sf, vectorCap = 1)
    }
    assert(ex.getMessage.contains("q46_dedup_minhash_lsh") &&
      ex.getMessage.contains("q102_dedup_semantic"),
      "the refusal must point at the scale-safe twins")
    // under the cap, the gated form still serves as the oracle baseline
    assert(graft.operators.Dedup.exactEmbeddingPairs(spark, sf).count() > 0)
  }

  test("q49 brute-force ANN returns exactly top-5 per query, ranks 1..5") {
    val r = SparkEntry.queries("q49_ann_brute")(spark, sf)
      .groupBy("q").agg(count(lit(1)).as("c"),
        min("rnk").as("lo"), max("rnk").as("hi"))
      .collect()
    assert(r.nonEmpty)
    r.foreach(row => {
      assert(row.getLong(1) == 5)
      assert(row.getLong(2) == 1 && row.getLong(3) == 5)
    })
  }

  test("q50 LSH ANN candidates are a subset-quality result: cos ∈ [-1,1]") {
    val r = graft.operators.Similarity.lshTopK(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(math.abs(row.getDouble(3)) <= 1.0 + 1e-12))
  }

  test("approximate ANN recall vs exact brute force (q50 LSH, q58 IVF, " +
    "q92 PQ)") {
    // Recall@5 against q49's exact ground truth. Approximation quality is
    // the operator's contract at 100 TB — a fast ANN that finds nothing
    // is not an ANN. Thresholds are loose (single-probe LSH at 6 bits
    // keeps ~1/64 of the corpus per bucket; IVF probes 2/16 lists; PQ
    // 8×16 codes rerank a 60-candidate set, measured 0.82 here / 0.65 at
    // sf0.1).
    val exact = SparkEntry.queries("q49_ann_brute")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(approx0: org.apache.spark.sql.DataFrame): Double = {
      val approx = approx0
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      approx.intersect(exact).size.toDouble / exact.size
    }
    val rLsh = recall(graft.operators.Similarity.lshTopK(spark, sf))
    val rIvf = recall(graft.operators.Similarity.ivfQuery(spark, sf, 2))
    val rPq = recall(graft.operators.Similarity.pqTopK(spark, sf))
    assert(rLsh >= 0.25, s"LSH recall@5 too low: $rLsh")
    assert(rIvf >= 0.5, s"IVF recall@5 too low: $rIvf")
    assert(rPq >= 0.7, s"PQ recall@5 too low: $rPq")
    // the r9 ORACLED recall rows must agree with the first-principles
    // numbers: n_exact matches, every gate green
    for (name <- Seq("q50_ann_lsh", "q58_ann_ivf", "q92_ann_pq")) {
      val row = SparkEntry.queries(name)(spark, sf).head()
      assert(row.getLong(0) == exact.size && row.getLong(2) == 1L,
        s"$name: $row")
    }
    // k-means training must improve the quantizer objective (mean
    // assigned cosine — vectors sit closer to their list centroid) while
    // the worst-probe bound holds: no list may swallow the corpus
    // ("probe n lists" must prune, not re-scan).
    val (fSeed, simSeed) =
      graft.operators.Similarity.ivfStats(spark, sf, trainIters = 0)
    val (fTrained, simTrained) =
      graft.operators.Similarity.ivfStats(spark, sf, trainIters = 2)
    assert(simTrained >= simSeed - 1e-9,
      s"training worsened the quantizer: mean cos $simSeed -> $simTrained")
    assert(fTrained <= 0.5,
      s"trained largest list holds $fTrained of the corpus — no pruning " +
        s"(seed was $fSeed)")
  }

  test("q92 PQ is deterministic and well-formed: 5 ranked rows per query, " +
    "cosines in [-1,1]") {
    val r1 = graft.operators.Similarity.pqTopK(spark, sf).collect()
    val r2 = graft.operators.Similarity.pqTopK(spark, sf).collect()
    assert(r1.sameElements(r2), "PQ result must be run-to-run deterministic")
    val byQ = r1.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length == 5))
    byQ.values.foreach(rows =>
      assert(rows.map(_.getLong(2)).sorted.sameElements(1L to 5L)))
    r1.foreach(row => assert(math.abs(row.getDouble(3)) <= 1.0 + 1e-12))
  }

  test("q74 approx percentiles track the exact q39 form") {
    // r9 shape: the entry carries the EXACT percentiles plus an
    // approx_ok gate; verify the exact columns against an independent
    // computation and every gate green (the gate is the ≤1% bound)
    val rows = SparkEntry.queries("q74_percentiles_approx")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getLong(4))).toMap
    val exact = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows.keySet == exact.keySet)
    rows.foreach { case (k, (e50, e95, ok)) =>
      assert(e50 == exact(k)._1 && e95 == exact(k)._2, s"$k exact mismatch")
      assert(ok == 1L, s"$k: approx outside the 1% bound")
    }
  }

  test("q46 minhash estimates stay in [0.5, 1] and pairs are ordered") {
    val r = graft.operators.Dedup.minhashLshPairs(spark, sf).collect()
    r.foreach { row =>
      assert(row.getLong(0) < row.getLong(1))
      val est = row.getDouble(2)
      assert(est >= 0.5 && est <= 1.0)
    }
  }

  test("WordShingleHashes ≡ transform(WordShingles, xxhash64) bit-exactly " +
    "over the corpus (the r7 fused shingle-hash loop changes nothing)") {
    import graft.functions.{WordShingleHashes, WordShingles}
    for (n <- Seq(1, 3, 5)) {
      val mismatch = Tables.load(spark, sf, "documents")
        .select(col("doc_id"),
          WordShingleHashes.shingleHashes(col("text"), n).as("fused"),
          transform(WordShingles.wordShingles(col("text"), n),
            t => xxhash64(t)).as("twoStep"))
        .filter(col("fused") =!= col("twoStep"))
        .count()
      assert(mismatch == 0, s"n=$n: fused hashes diverge from two-step")
    }
    // whitespace edge semantics follow String.split: leading non-space
    // whitespace yields the empty first token; dup shingles dedup
    import spark.implicits._
    val edge = Seq("\tlead tab  double  space", "", " ", "one",
      "a a a a", "xé café xé café").toDF("text")
    val bad = edge.select(
        WordShingleHashes.shingleHashes(col("text"), 2).as("fused"),
        transform(WordShingles.wordShingles(col("text"), 2),
          t => xxhash64(t)).as("twoStep"))
      .filter(col("fused") =!= col("twoStep")).count()
    assert(bad == 0)
  }

  test("minhash estimates track exact jaccard on shared candidate pairs") {
    // q46's signature estimate vs true FULL-shingle-set jaccard for its
    // candidate pairs (not q45's df-filtered variant — minhash signatures
    // sketch the complete set). Sketch theory: stderr ≈ 1/√128 ≈ 0.09.
    import graft.functions.WordShingles
    val est = graft.operators.Dedup.minhashLshPairs(spark, sf)
      .select(col("a"), col("b"), col("est_jaccard"))
    val sh = Tables.load(spark, sf, "documents").select(col("doc_id"),
      explode(WordShingles.wordShingles(col("text"), 3)).as("s"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    val card = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val exact = inter
      .join(card.select(col("doc_id").as("a"), col("c").as("ca")), "a")
      .join(card.select(col("doc_id").as("b"), col("c").as("cb")), "b")
      .select(col("a"), col("b"),
        (col("i").cast("double") / (col("ca") + col("cb") - col("i"))).as("jac"))
    val joined = est.join(exact, Seq("a", "b")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (e, j) = (r.getAs[Double]("est_jaccard"), r.getAs[Double]("jac"))
      assert(math.abs(e - j) < 0.25, s"pair (${r.get(0)},${r.get(1)}): est=$e exact=$j")
    }
  }

  test("q47 simhash pairs respect the hamming threshold AND the blocking " +
    "is complete vs brute force (pigeonhole, sub-cap buckets)") {
    import graft.functions.SimHash64
    val r = graft.operators.Dedup.simhashPairs(spark, sf)
      .orderBy("a", "b").collect()
    r.foreach(row => assert(row.getLong(2) <= 3))
    // the corpus entry is the r10 oracled recall row over these pairs
    val rec = SparkEntry.queries("q47_dedup_simhash")(spark, sf).head()
    assert(rec.getLong(2) == 1L, s"recall floor missed: $rec")
    // completeness: at sf0.001 every bucket is far below the 256 cap, so
    // the pigeonhole guarantee must hold exactly — brute-force all pairs
    // with hamming ≤ 3 over the same fingerprints and compare sets
    val fps = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), SimHash64.simhash64(
        graft.functions.TextFunctions.tokenHashes(
          graft.functions.TextFunctions.tokens(col("text")))).as("sh"))
      .collect().map(row => (row.getLong(0), row.getLong(1)))
    val brute = (for {
      (a, sa) <- fps; (b, sb) <- fps if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val got = r.map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(got == brute,
      s"missing ${(brute -- got).size}, extra ${(got -- brute).size}")
  }

  test("q47 blocking is BOUNDED on a degenerate near-identical corpus " +
    "(the r9 skew cap): hot buckets saturate instead of going quadratic") {
    import spark.implicits._
    // 600 near-identical docs: every fingerprint block collides, so the
    // old segment self-join would have planned 600² pair rows in ONE
    // group; the capped form drops the hot buckets (≥ 2 docs per bucket
    // > 256) and still completes. The r9 contract is the BOUND, not the
    // pair count — such a corpus belongs to exact dedup (q44).
    val dir = java.nio.file.Files.createTempDirectory("graft-q47").toString
    (0 until 600).map(i => (i.toLong, "the same words repeated " * 10 +
        (if (i % 2 == 0) "" else "x"), "en", s"src$i", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.simhashPairs(spark, dir).collect()
    // every bucket is hot (> 256) -> dropped -> no pairs, but NO failure
    // and no quadratic group; the exact-dup twin still catches these docs
    assert(out.isEmpty)
    val exact = SparkEntry.queries("q44_dedup_exact")(spark, dir).count()
    assert(exact == 2, "exact dedup still collapses the degenerate corpus")
  }

  test("two CosineSim calls in one projection stay codegen-compatible " +
    "and match the declarative form") {
    import graft.functions.{CosineSim, VectorFunctions}
    val e = Tables.load(spark, sf, "embeddings").limit(50)
    val x = e.select(col("embedding").as("v"),
      org.apache.spark.sql.functions.reverse(col("embedding")).as("w"))
    // two native cosines side by side: generated locals must not collide
    val native = x.select(
      CosineSim.cosineSim(col("v"), col("w")).as("c1"),
      CosineSim.cosineSim(col("w"), col("v")).as("c2"),
      VectorFunctions.cosineDeclarative(col("v"), col("w")).as("cd"))
      .collect()
    native.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(2)) // native ≡ declarative, bit-exact
      assert(r.getDouble(0) == r.getDouble(1)) // cosine is symmetric
    }
  }

  test("Int8QuantStats matches the declarative explode form bit-exactly " +
    "(incl. negative values and round ties), and nulls the zero vector") {
    import graft.functions.Int8QuantStats
    val fp = lit(1125899906842624.0) // 2^50
    // real corpus vectors + adversarial rows: negatives, a value sitting
    // exactly on a round() tie (x = m/254 → x/s = 0.5), and a zero vector
    val extra = Seq(
      Array(-1.5f, 2.54f, 0.01f, 2.54f / 254f, -2.54f / 254f),
      Array(0.0f, 0.0f, 0.0f))
    import spark.implicits._
    val e = Tables.load(spark, sf, "embeddings").limit(50)
      .select(col("embedding"))
      .union(extra.toDF("embedding").select(col("embedding")))
    val native = e.select(Int8QuantStats.int8Stats(col("embedding")).as("st"))
      .select(col("st.n"), col("st.e2"), col("st.n2")).collect()
    val xd = col("x").cast("double")
    val scale = col("m").cast("double") / lit(127.0)
    val dq = round(xd / scale) * scale
    val decl = e
      .select(col("embedding"), monotonically_increasing_id().as("rid"))
      .select(col("rid"),
        array_max(transform(col("embedding"), v => abs(v))).as("m"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .filter(col("m").cast("double") > lit(0.0))
      .groupBy("rid")
      .agg(count(lit(1)).cast("int").as("n"),
        sum(floor((xd - dq) * (xd - dq) * fp)).as("e2"),
        sum(floor(xd * xd * fp)).as("n2"))
      .collect()
    // the zero vector must be null on the native side and absent here
    assert(native.count(_.isNullAt(0)) == 1)
    assert(decl.length == native.length - 1)
    val ns = native.filterNot(_.isNullAt(0))
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    val ds = decl.map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).sorted
    assert(ns.toSeq == ds.toSeq)
  }

  test("CosineAll scores a panel bit-identically to per-pair CosineSim") {
    import graft.functions.{CosineAll, CosineSim}
    val e = Tables.load(spark, sf, "embeddings")
    val panel = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val matrix = panel.map(_._2).toIndexedSeq
    val got = e.limit(50)
      .select(col("vec_id"), col("embedding"),
        CosineAll.cosineAll(col("embedding"), matrix).as("scores"))
      .collect()
    // reference: the pairwise expression, panel side as a literal
    got.foreach { r =>
      val scores = r.getSeq[Double](2)
      assert(scores.size == matrix.size)
      panel.zipWithIndex.foreach { case ((_, pv), i) =>
        val pair = e.filter(col("vec_id") === r.getLong(0))
          .select(CosineSim.cosineSim(typedlit(pv), col("embedding")))
          .head.getDouble(0)
        assert(scores(i) == pair, // bit-exact, no tolerance
          s"vec ${r.getLong(0)} anchor $i: ${scores(i)} != $pair")
      }
    }
  }

  test("PanelTop1 matches the pairwise max_by top-1 (labels, bit-exact)") {
    import graft.functions.{CosineAll, PanelTop1}
    val e = Tables.load(spark, sf, "embeddings")
    val panel = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"), col("label").cast("long"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
      .sortBy(_._1)
    val ids = panel.map(_._1).toIndexedSeq
    val matrix = panel.map(_._3).toIndexedSeq
    val agg = e.agg(PanelTop1.panelTop1(col("embedding"),
        col("vec_id"), col("label").cast("long"), ids, matrix).as("best"))
      .head.getSeq[java.lang.Long](0)
    assert(agg.size == ids.size)
    // reference: explode the CosineAll scores and take max_by per anchor
    val qIdsLit = typedlit(ids)
    val ref = e
      .select(col("vec_id").as("n"), col("label").cast("long").as("nl"),
        posexplode(CosineAll.cosineAll(col("embedding"), matrix))
          .as(Seq("aidx", "cos")))
      .filter(element_at(qIdsLit, col("aidx") + 1) =!= col("n"))
      .groupBy("aidx")
      .agg(max_by(col("nl"), struct(col("cos"), (-col("n")).as("nt"))).as("nl"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    ids.indices.foreach { i =>
      assert(Option(agg(i)).map(_.longValue) == ref.get(i),
        s"anchor $i: agg=${agg(i)} ref=${ref.get(i)}")
    }
  }

  test("SimHash64 of a single token hash is that hash") {
    import graft.functions.SimHash64
    val h = -6574323520724709867L
    val out = spark.range(1)
      .select(SimHash64.simhash64(typedlit(Seq(h))).as("s"))
      .head.getLong(0)
    assert(out == h)
  }

  test("q51 asof join: every purchase appears exactly once") {
    val purchases = Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase").count()
    val r = SparkEntry.queries("q51_asof_join")(spark, sf)
    assert(r.count() == purchases)
    assert(r.select("event_id").distinct().count() == purchases)
  }

  test("q52 sessionize: session count bounded by event count") {
    val bad = SparkEntry.queries("q52_sessionize")(spark, sf)
      .filter(col("n_sessions") > col("n_events") || col("n_sessions") < 1)
      .count()
    assert(bad == 0)
  }

  test("q88 skyline: no survivor dominated, every dropped point dominated " +
    "by a survivor, result independent of partitioning") {
    import graft.operators.{Skyline, SkyPoint}
    import spark.implicits._
    val parts = Tables.load(spark, sf, "part")
      .select(col("p_partkey").cast("long"), col("p_retailprice"), col("p_size"))
      .as[(Long, Double, Int)].collect().map(t => SkyPoint(t._1, t._2, t._3))
    val sky = SparkEntry.queries("q88_skyline")(spark, sf)
      .as[(Long, Double, Int)].collect().map(t => SkyPoint(t._1, t._2, t._3))
    def dominates(q: SkyPoint, p: SkyPoint): Boolean =
      q.price <= p.price && q.size >= p.size &&
        (q.price < p.price || q.size > p.size)
    // soundness: nothing in the skyline is dominated by any input point
    sky.foreach(p => assert(!parts.exists(q => dominates(q, p)), s"dominated: $p"))
    // completeness: every non-skyline point is dominated by some survivor
    val skyKeys = sky.map(_.key).toSet
    parts.filterNot(p => skyKeys(p.key)).foreach(p =>
      assert(sky.exists(q => dominates(q, p)), s"wrongly dropped: $p"))
    // partition-count invariance (local sweep + merge is exact, not approx)
    val repartitioned = Skyline.skyline2d(
      spark.createDataset(parts.toSeq).repartition(7))
      .collect().map(_.key).sorted.toSeq
    assert(repartitioned == sky.map(_.key).sorted.toSeq)
    // duplicate coordinates: all copies survive together
    val dup = Skyline.skyline2d(spark.createDataset(Seq(
      SkyPoint(1, 5.0, 10), SkyPoint(2, 5.0, 10), SkyPoint(3, 6.0, 10),
      SkyPoint(4, 4.0, 3), SkyPoint(5, 7.0, 11))))
      .collect().map(_.key).sorted.toSeq
    assert(dup == Seq(1L, 2L, 4L, 5L), s"got $dup")
  }

  test("skyline distributed merge (VERDICT r8 item 5): anti-correlated " +
    "data — where the skyline is O(n) — bypasses the single-task sweep " +
    "and still returns the exact frontier") {
    import graft.operators.{Skyline, SkyPoint}
    import spark.implicits._
    // fully anti-correlated for (min price, max size): price=i, size=i —
    // every point pays more and gets more, so EVERY point is Pareto-
    // optimal, no local sweeping shrinks the candidates, and the
    // adaptive branch must range-partition the merge
    val n = 5000
    val anti = (0 until n).map(i => SkyPoint(i.toLong, i.toDouble, i))
    val got = Skyline.skyline2d(
        spark.createDataset(anti).repartition(13), mergeBound = 500)
      .collect().map(_.key).sorted.toSeq
    assert(got == (0L until n.toLong), s"lost ${n - got.size} frontier points")
    // mixed fixture through the SAME forced-distributed path: dominated
    // points must still die across range-partition boundaries (the
    // prefix-max cut), coordinate duplicates must survive together
    val mixed = anti ++ Seq(
      SkyPoint(90001, 10.5, 8), // dominated by (10, 10.0, 10)
      SkyPoint(90002, 2500.0, 2500), // duplicate of key 2500
      SkyPoint(90003, 4999.5, 1)) // dominated by (e.g.) (2, 2.0, 2)
    val got2 = Skyline.skyline2d(
        spark.createDataset(mixed).repartition(11), mergeBound = 500)
      .collect().map(_.key).sorted.toSeq
    assert(got2 == ((0L until n.toLong) :+ 90002L), s"got ${got2.size}")
    // the two branches agree on the same input (adaptive ≡ single-task)
    val single = Skyline.skyline2d(spark.createDataset(mixed))
      .collect().map(_.key).sorted.toSeq
    assert(single == got2)
  }

  test("q98 redaction finds every planted contact; q99 packing bins are " +
    "contiguous per shard and respect the budget start rule") {
    val pii = SparkEntry.queries("q98_pii_redaction")(spark, sf).collect()
    // every doc got exactly the planted email+phone (corpus text itself
    // carries none), and redaction fingerprints are well-formed md5 hex
    assert(pii.nonEmpty)
    assert(pii.forall(r => r.getLong(1) == 1L && r.getLong(2) == 1L))
    assert(pii.forall(_.getString(3).matches("[0-9a-f]{32}")))

    val packs = SparkEntry.queries("q99_seq_packing")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // bins within a shard are consecutive from 0 (greedy contiguous fill)
    packs.groupBy(_._1).foreach { case (shard, rows) =>
      val bins = rows.map(_._2).sorted.toSeq
      assert(bins == (0L until bins.size).toSeq, s"shard $shard bins $bins")
    }
    // every bin except a shard's last must have crossed the 2048 budget
    // (otherwise the next doc would have started in it)
    packs.groupBy(_._1).foreach { case (shard, rows) =>
      val last = rows.map(_._2).max
      rows.filter(_._2 != last).foreach { case (_, bin, _, sum) =>
        assert(sum >= 2048, s"shard $shard bin $bin closed early at $sum")
      }
    }
  }

  test("CharNgrams: all positions, normalized, codepoint-indexed; " +
    "CharNgramCounts is its exact histogram") {
    import spark.implicits._
    import graft.functions.CharNgrams.charNgrams
    import graft.functions.CharNgramCounts.charNgramCounts
    val out = Seq("  AbC ", "x", "", "héllo").toDF("t")
      .select(charNgrams(col("t"), 2).as("g")).collect()
      .map(_.getSeq[String](0).toList).toList
    assert(out == List(List("ab", "bc"), Nil, Nil,
      List("hé", "él", "ll", "lo")))
    // histogram ≡ groupBy of the position stream, on real corpus text
    val docs = Tables.load(spark, sf, "documents").limit(50)
    val fromArray = docs
      .select(col("doc_id"), explode(charNgrams(col("text"), 2)).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val fromMap = docs
      .select(col("doc_id"), explode(charNgramCounts(col("text"), 2)).as(Seq("b", "c")))
    assert(fromArray.except(fromMap).isEmpty && fromMap.except(fromArray).isEmpty)
  }

  test("q123 bigram quality: counts tie out per doc, flag matches the " +
    "threshold, and the flag discriminates on the fixture") {
    val r = SparkEntry.queries("q123_char_bigram_quality")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val expected = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        greatest(length(lower(trim(col("text")))) - 1, lit(0)).cast("long").as("nb"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.foreach { case (id, nb, nc, gib) =>
      assert(nb == expected(id), s"doc $id bigram count")
      assert(nc <= nb, s"doc $id common > total")
      assert(gib == (nc * 10 < nb * 9), s"doc $id flag")
    }
    val flagged = r.count(_._4)
    assert(flagged > 0 && flagged < r.length,
      s"threshold should split the fixture, flagged=$flagged/${r.length}")
  }

  test("q124 shard export: partition of the corpus, 64 balanced shards") {
    val r = SparkEntry.queries("q124_shard_export")(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.map(_._1).toList == (0L until 64L).toList)
    val docs = Tables.load(spark, sf, "documents")
      .agg(count(lit(1)), sum("n_chars")).collect()(0)
    assert(r.map(_._2).sum == docs.getLong(0), "every doc in exactly one shard")
    assert(r.map(_._3).sum == docs.getLong(1), "chars conserved")
    val (mn, mx) = (r.map(_._2).min, r.map(_._2).max)
    assert(mx <= 8 * mn, s"shard skew $mn..$mx")
  }

  test("q179 unigram surprise: bit-length log2 is exact, surprise bounds " +
    "hold, mean ordering is correct") {
    // the integer-log2 identity the whole row rests on
    (1L to 4097L).foreach { x =>
      val got = java.lang.Long.toBinaryString(x).length - 1
      assert(got == math.floor(math.log(x.toDouble) / math.log(2.0)).toInt,
        s"flog2($x)")
    }
    val r = SparkEntry.queries("q179_unigram_surprise")(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3)))
    assert(r.nonEmpty && r.length <= 20)
    // per-word surprise ∈ [0, flog2(N)] ⇒ 0 ≤ surprise ≤ n_tok·flog2(N)
    val nTotal = Tables.load(spark, sf, "documents")
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("\\p{L}+"), lit(0))).as("w")).count()
    val maxBits = java.lang.Long.toBinaryString(nTotal).length - 1
    r.foreach { case (id, nTok, s, m) =>
      assert(nTok > 0 && s >= 0 && s <= nTok * maxBits, s"doc $id bounds")
      assert(math.abs(m - s.toDouble / nTok) < 1e-12, s"doc $id mean")
    }
    // descending mean with doc_id tie-break (the oracle's total order)
    r.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 > b._4 || (a._4 == b._4 && a._1 < b._1), "ordering")
    case _ => }
  }

  test("q195 bigram perplexity: smoothed bits are bounded, pair counts " +
    "tie to token counts, mean ordering is total (r13)") {
    val r = SparkEntry.queries("q195_bigram_perplexity")(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3)))
    assert(r.nonEmpty && r.length <= 20)
    // add-1 smoothing bounds: 0 ≤ bits(u→v) ≤ flog2(maxCu + V+1) per
    // pair, where maxCu ≤ total pair count
    val tok = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), explode(regexp_extract_all(lower(col("text")),
        lit("\\p{L}+"), lit(0))).as("w"))
    val pairTotal = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .agg(sum(greatest(col("n") - 1L, lit(0L)))).collect()(0).getLong(0)
    val maxBits = java.lang.Long.toBinaryString(
      pairTotal + graft.operators.TextAnalysis.SurpriseVocabCap + 1).length - 1
    r.foreach { case (id, nPairs, bits, m) =>
      assert(nPairs > 0 && bits >= 0 && bits <= nPairs * maxBits,
        s"doc $id bounds: $nPairs pairs, $bits bits")
      assert(math.abs(m - bits.toDouble / nPairs) < 1e-12, s"doc $id mean")
    }
    // each reported doc's n_pairs equals its token count − 1 (docs in
    // the top-20 have ≥ 1 pair so ≥ 2 tokens)
    val nTok = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.foreach { case (id, nPairs, _, _) =>
      assert(nPairs == nTok(id) - 1, s"doc $id pair count")
    }
    // descending mean with doc_id tie-break (the oracle's total order)
    r.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 > b._4 || (a._4 == b._4 && a._1 < b._1), "ordering")
    case _ => }
  }

  test("q180 edit-distance verify: dist is a metric on the prefixes, " +
    "confirm matches the cross-multiplied threshold") {
    val rows = SparkEntry.queries("q180_editdist_verify")(spark, sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    assert(rows.nonEmpty, "fixture has near-dup candidates")
    val pref = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 200).as("p"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    // reference implementation (classic DP) — independent of both engines
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val t = prev(j)
          prev(j) = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
            diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
          diag = t
        }
      }
      prev(b.length)
    }
    rows.foreach { case (a, b, d, ml, cf) =>
      assert(d == lev(pref(a), pref(b)), s"($a,$b) distance")
      assert(ml == math.max(pref(a).length, pref(b).length), s"($a,$b) maxlen")
      assert(cf == (if (d * 4 <= ml) 1L else 0L), s"($a,$b) confirm")
    }
    // candidates are genuinely similar text: the fixture's near-dups
    // must confirm at a majority rate (a broken prefix join would zero it)
    assert(rows.count(_._5 == 1L) * 2 >= rows.length,
      s"confirm rate ${rows.count(_._5 == 1L)}/${rows.length}")
  }
}
