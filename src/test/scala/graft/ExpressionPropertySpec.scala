package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based pins for the native-expression algebra — the claims
  * the operator Scaladocs lean on, checked over seeded random inputs
  * (deterministic across runs, ScdPropertySpec's style):
  *
  *   - OrderedPairs emits exactly the naive C(n,2) ordered pairs;
  *   - MinHash signatures satisfy sig(A ∪ B) = elementwise-min(sig A,
  *     sig B) — the property LSH banding's recall math rests on;
  *   - KMV sketches are partition-invariant (the mergeability claim:
  *     map-side combine cannot change the result);
  *   - CosineAll rows are bit-equal to pairwise CosineSim (the
  *     fixed-order arithmetic contract the differential oracles use);
  *   - dyadic 2⁻³⁰ grid sums are partition-invariant (the determinism
  *     discipline behind q108/q128/q129/q143);
  *   - GridGram rows are the naive grid products and their sums are
  *     partition-invariant (q182's exact-covariance contract).
  */
class ExpressionPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-expr-prop-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("OrderedPairs ≡ naive C(n,2) expansion over random id arrays") {
    import spark.implicits._
    val gen = Gen.chooseNum(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000000L, 1000000L)))
    (1 to 40).foreach { i =>
      val ids = sample(gen, 1000L + i).distinct
      val got = Seq(Tuple1(ids)).toDF("ids")
        .select(inline(graft.functions.OrderedPairs.orderedPairs(
          array_sort(col("ids")))))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val sorted = ids.sorted
      val expected = for {
        a <- sorted.indices; b <- (a + 1) until sorted.size
      } yield (sorted(a), sorted(b))
      assert(got == expected, s"case $i: ids=$ids")
    }
    // null ELEMENTS are skipped, not crashed on (the registered SQL
    // function admits containsNull array types)
    val withNulls = Seq(Tuple1(Seq[java.lang.Long](5L, null, 1L, 3L)))
      .toDF("ids")
      .select(inline(graft.functions.OrderedPairs.orderedPairs(
        array_sort(col("ids")))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(withNulls == Seq((1L, 3L), (1L, 5L), (3L, 5L)))
  }

  test("OrderedPairs withSelf: pairs plus one marked (d, d) row per " +
    "element — the q45 single-shuffle cardinality fold's contract") {
    import spark.implicits._
    val gen = Gen.chooseNum(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000000L, 1000000L)))
    (1 to 25).foreach { i =>
      val ids = sample(gen, 7000L + i).distinct
      val rows = Seq(Tuple1(ids)).toDF("ids")
        .select(inline(graft.functions.OrderedPairs.orderedPairsWithSelf(
          array_sort(col("ids")))))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val selfs = rows.filter(_._3).map(_._1).toSeq
      val pairs = rows.filterNot(_._3).map(t => (t._1, t._2)).toSeq
      val sorted = ids.sorted
      assert(selfs == sorted, s"case $i: self rows must be the elements")
      assert(rows.filter(_._3).forall(t => t._1 == t._2))
      val expected = for {
        a <- sorted.indices; b <- (a + 1) until sorted.size
      } yield (sorted(a), sorted(b))
      assert(pairs == expected, s"case $i: pair rows must be C(n,2)")
    }
  }

  test("BoundedSortedList ≡ sort_array(collect_list) below the cap; " +
    "saturates AT the cap above it; partition-invariant merge") {
    import spark.implicits._
    val gen = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000000L, 1000000L)))
    (1 to 25).foreach { i =>
      val vals = sample(gen, 9000L + i).distinct
      val cap = 21
      // 1 vs 7 partitions: the mergeable-buffer claim (map-side combine
      // cannot change the result), the same pin KMV carries
      val got = Seq(1, 7).map { parts =>
        vals.toDF("v").repartition(parts)
          .agg(graft.functions.BoundedSortedList
            .boundedSortedList(col("v"), cap).as("ids"))
          .head.getSeq[Long](0).toSeq
      }
      assert(got(0) == got(1), s"case $i: partition-variant result")
      val expected = vals.sorted.take(cap)
      assert(got(0) == expected, s"case $i: vals=${vals.size}")
      // the df-cap contract: ≤ dfMax (= cap-1) distinct values are kept
      // EXACTLY; more saturate at cap so a size ≤ dfMax filter drops them
      if (vals.size <= cap - 1) assert(got(0) == vals.sorted)
      else assert(got(0).size == cap)
    }
    // null inputs are skipped (collect_list's behavior)
    val withNull = Seq[java.lang.Long](5L, null, 1L).toDF("v")
      .agg(graft.functions.BoundedSortedList
        .boundedSortedList(col("v"), 4).as("ids"))
      .head.getSeq[Long](0).toSeq
    assert(withNull == Seq(1L, 5L))
  }

  test("MinHash: sig(A ∪ B) = elementwise min(sig(A), sig(B))") {
    import spark.implicits._
    val gen = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)))
    def sig(hs: Seq[Long]): Seq[Long] =
      Seq(Tuple1(hs)).toDF("hs")
        .select(graft.functions.MinHashSig.minhashSig(col("hs")))
        .head().getSeq[Long](0)
    (1 to 15).foreach { i =>
      val a = sample(gen, 2000L + i)
      val b = sample(gen, 3000L + i)
      val (sa, sb, su) = (sig(a), sig(b), sig(a ++ b))
      assert(su == sa.zip(sb).map { case (x, y) => math.min(x, y) },
        s"case $i")
    }
  }

  test("KMV sketch is partition-invariant: 1 vs 7 partitions, shuffled " +
    "input order — identical sketch") {
    import spark.implicits._
    val gen = Gen.listOfN(5000, Gen.chooseNum(0L, 800L)) // heavy dups
    (1 to 5).foreach { i =>
      val vs = sample(gen, 4000L + i)
      def sketch(part: Int, seq: Seq[Long]): Seq[Long] =
        seq.toDF("v").repartition(part)
          .agg(graft.functions.KmvSketch.kmv(col("v"), 256))
          .head().getSeq[Long](0)
      val s1 = sketch(1, vs)
      assert(sketch(7, vs) == s1, s"case $i: partitioning changed the sketch")
      assert(sketch(7, new scala.util.Random(i).shuffle(vs)) == s1,
        s"case $i: input order changed the sketch")
    }
  }

  test("CosineAll row k is bit-equal to pairwise CosineSim against " +
    "matrix row k") {
    import spark.implicits._
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-100, 100).map(_ / 16.0))
    (1 to 15).foreach { i =>
      val v = sample(vecGen, 5000L + i)
      val rows = (0 until 5).map(j => sample(vecGen, 6000L + 10 * i + j))
      val all = Seq(Tuple1(v)).toDF("v")
        .select(graft.functions.CosineAll.cosineAll(col("v"),
          rows.map(_.toSeq)))
        .head().getSeq[Double](0)
      rows.zipWithIndex.foreach { case (r, j) =>
        val pair = Seq((v, r)).toDF("a", "b")
          .select(graft.functions.CosineSim.cosineSim(col("a"), col("b")))
          .head().getDouble(0)
        assert(java.lang.Double.doubleToRawLongBits(all(j)) ==
          java.lang.Double.doubleToRawLongBits(pair), s"case $i row $j")
      }
    }
  }

  test("dyadic 2⁻³⁰ grid sums are partition-invariant") {
    import spark.implicits._
    val gen = Gen.listOfN(4000, Gen.chooseNum(-1.0e6, 1.0e6))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    (1 to 5).foreach { i =>
      val vs = sample(gen, 7000L + i)
      def gridSum(part: Int): BigDecimal =
        vs.toDF("v").repartition(part)
          .agg(sum(floor(col("v") * 1073741824.0d + 0.5d).cast(dec)))
          .head().getDecimal(0)
      assert(gridSum(1) == gridSum(7), s"case $i")
    }
  }

  test("GridGram ≡ naive toGrid products over random float vectors, " +
    "and its moment sums are partition-invariant") {
    import spark.implicits._
    val vecGen = Gen.chooseNum(1, 12).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-2.0, 2.0).map(_.toFloat)))
    (1 to 5).foreach { i =>
      val v = sample(vecGen, 9100L + i).toArray
      val got = Seq(Tuple1(v)).toDF("e")
        .select(graft.functions.GridGram.gridGram(col("e")))
        .head().getSeq[Long](0)
      val g = v.map(x => graft.functions.GridGram.toGrid(x.toDouble))
      val d = g.length
      val ref = g.toSeq ++ (for (a <- 0 until d; b <- a until d)
        yield g(a) * g(b))
      assert(got == ref, s"case $i")
    }
    // partition invariance of the aggregated moments (the property the
    // q182 collect depends on): integer sums commute
    val frameGen = Gen.listOfN(200,
      Gen.listOfN(8, Gen.chooseNum(-2.0, 2.0).map(_.toFloat)))
    val rows = sample(frameGen, 9200L)
    def moments(part: Int): Map[Int, Long] =
      rows.toDF("e").repartition(part)
        .select(posexplode(graft.functions.GridGram.gridGram(col("e")))
          .as(Seq("idx", "v")))
        .groupBy("idx").agg(sum("v").as("s"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(moments(1) == moments(7))
  }

  test("DuckDialect literal translation: a random DuckDB literal, " +
    "rewritten, evaluates in Spark to the SAME raw characters " +
    "(DuckDB literals are escape-free; Spark's process C escapes)") {
    val chars = Gen.oneOf('a', 'z', '\\', 'n', 't', 's', ' ', '\'',
      '"', '`', '/', '-', '%', '$')
    val gen = Gen.chooseNum(0, 24).flatMap(n =>
      Gen.listOfN(n, chars).map(_.mkString))
    (1 to 60).foreach { i =>
      val raw = sample(gen, 7000L + i)
      // DuckDB quoting: only '' needs escaping; everything else is raw
      val duck = "SELECT '" + raw.replace("'", "''") + "' AS x"
      val got = spark.sql(graft.DuckDialect.rewrite(duck)).head.getString(0)
      assert(got == raw,
        s"case $i: raw=${raw.toList} got=${got.toList} sql=$duck")
    }
  }

  test("BloomContains: NO false negatives over random key sets, " +
    "serialization round-trips through the expression, and the flag " +
    "is partition-count invariant (q168's superset contract)") {
    import spark.implicits._
    val gen = Gen.chooseNum(1, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Long.MinValue, Long.MaxValue)))
    (1 to 20).foreach { i =>
      val keys = sample(gen, 9000L + i).distinct
      val bf = org.apache.spark.util.sketch.BloomFilter
        .create(math.max(keys.length.toLong, 100000L), 1e-9)
      keys.foreach(bf.putLong)
      val bytes = graft.functions.BloomContains.serialize(bf)
      for (parts <- Seq(1, 7)) {
        val hits = keys.toDF("h").repartition(parts)
          .select(graft.functions.BloomContains
            .bloomContains(col("h"), lit(bytes)).as("m"))
          .where(col("m")).count()
        assert(hits == keys.length,
          s"case $i parts=$parts: a Bloom filter returned a false " +
            s"negative ($hits of ${keys.length})")
      }
      // absent keys at the oversized-filter operating point stay
      // (nearly) all negative — the measured-floor rationale in q168
      val absent = sample(gen, 90000L + i).distinct
        .filterNot(keys.toSet)
      if (absent.nonEmpty) {
        val fp = absent.toDF("h")
          .select(graft.functions.BloomContains
            .bloomContains(col("h"), lit(bytes)).as("m"))
          .where(col("m")).count()
        assert(fp == 0, s"case $i: $fp false positives in " +
          s"${absent.length} probes at the ≥1e5-capacity sizing")
      }
    }
  }

  test("DuckDateSub month-walk invariant: a + n·unit <= b < a + (n+1)·unit " +
    "for forward ranges, and backward ranges negate (random timestamps)") {
    import spark.implicits._
    graft.functions.DuckCompat.register(spark)
    val parts = Seq("month" -> 1, "quarter" -> 3, "year" -> 12)
    val genTs = for {
      y <- Gen.chooseNum(1975, 2035); m <- Gen.chooseNum(1, 12)
      d <- Gen.chooseNum(1, 31); h <- Gen.chooseNum(0, 23)
      mi <- Gen.chooseNum(0, 59)
    } yield java.time.LocalDateTime.of(y, m,
      math.min(d, java.time.YearMonth.of(y, m).lengthOfMonth), h, mi, 0)
    (1 to 60).foreach { i =>
      val a = sample(genTs, 5000L + i)
      val b = sample(genTs, 9000L + i)
      val (pname, u) = parts(i % parts.length)
      val n = Seq((a.toString, b.toString)).toDF("a", "b")
        .select(expr(s"date_sub('$pname', CAST(a AS TIMESTAMP), " +
          "CAST(b AS TIMESTAMP))")).head.getLong(0)
      if (!a.isAfter(b)) {
        // the defining inequality of "complete clamped units"
        assert(!a.plusMonths(n * u).isAfter(b),
          s"$pname: a+$n*$u months overshoots ($a -> $b)")
        assert(a.plusMonths((n + 1) * u).isAfter(b),
          s"$pname: $n undercounts ($a -> $b)")
      } else {
        val fwd = Seq((b.toString, a.toString)).toDF("a", "b")
          .select(expr(s"date_sub('$pname', CAST(a AS TIMESTAMP), " +
            "CAST(b AS TIMESTAMP))")).head.getLong(0)
        assert(n == -fwd, s"$pname: backward != negated forward ($a -> $b)")
      }
    }
  }

  test("DuckListSlice 4-arg ≡ a reference walk model over random " +
    "(list, bounds, step) inputs — beyond the fixed DuckDB matrix") {
    import spark.implicits._
    graft.functions.DuckCompat.register(spark)
    // the DuckDB-verified walk model (TierASpec + the 80-case matrix
    // certify the model itself equals DuckDB; this property extends the
    // input space to sizes/bounds the matrix never drew)
    def model(arr: Seq[Int], b: Int, e: Int, st: Int): Seq[Int] = {
      val sz = arr.size
      def fromEnd(i: Int) = if (i < 0) sz + i + 1 else i
      if (st > 0) {
        val bb = math.max(fromEnd(b), 1)
        val ee = math.min(fromEnd(e), sz)
        if (bb > ee) Seq.empty
        else (bb to ee by st).map(i => arr(i - 1))
      } else {
        val bp = fromEnd(b)
        if (bp < 1) Seq.empty
        else {
          val bb = math.min(bp, sz)
          val ee = math.max(fromEnd(e), 1)
          if (bb < ee) Seq.empty
          else (bb to ee by st).map(i => arr(i - 1))
        }
      }
    }
    val gen = for {
      n <- Gen.chooseNum(0, 12)
      arr <- Gen.listOfN(n, Gen.chooseNum(-99, 99))
      b <- Gen.chooseNum(-20, 20); e <- Gen.chooseNum(-20, 20)
      st <- Gen.oneOf(-4, -3, -2, -1, 1, 2, 3, 4)
    } yield (arr, b, e, st)
    val cases = (1 to 200).map(i => sample(gen, 7700L + i))
    val got = cases.toDF("arr", "b", "e", "st")
      .select(expr("list_slice(arr, b, e, st)")).collect()
      .map(_.getSeq[Int](0).toSeq)
    cases.zip(got).foreach { case ((arr, b, e, st), g) =>
      assert(g == model(arr, b, e, st),
        s"list_slice($arr, $b, $e, $st): got $g, model ${model(arr, b, e, st)}")
    }
  }

  test("SortedLongsContain: EXACT membership over random key sets — no " +
    "false positives, no false negatives (the Bloom sibling's missing " +
    "half), duplicate-tolerant serialize") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(0, 400)
      members <- Gen.listOfN(n, Gen.chooseNum(-100000L, 100000L))
      probes <- Gen.listOfN(300, Gen.chooseNum(-100000L, 100000L))
    } yield (members, probes)
    (1 to 15).foreach { i =>
      val (members, probes) = sample(gen, 9100L + i)
      // serialize tolerates duplicates and any order
      val bytes = graft.functions.SortedLongsContain.serialize(
        (members ++ members.reverse).toArray)
      val truth = members.toSet
      val got = (probes ++ members).toDF("k")
        .select(col("k"), graft.functions.SortedLongsContain
          .sortedContains(col("k"), lit(bytes)).as("m"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1))
      got.foreach { case (k, m) =>
        assert(m == truth(k), s"seed ${9100 + i} key $k")
      }
    }
  }

  test("TopKIdsByScore ≡ ROW_NUMBER()<=k window over random scored rows, " +
    "and is partition-invariant (map-side partial merge cannot change it)") {
    import spark.implicits._
    // scores drawn from a SMALL grid so ties are common — the
    // (score DESC, id ASC) tie-break is the claim under test; ids unique
    // per group (the caller contract)
    val gen = for {
      nGroups <- Gen.chooseNum(1, 6)
      rows <- Gen.listOfN(nGroups * 30, Gen.zip(
        Gen.chooseNum(0, nGroups - 1),
        Gen.chooseNum(0, 7).map(_ / 4.0)))
    } yield rows.zipWithIndex.map { case ((g, s), i) => (g, s, i.toLong) }
    (1 to 20).foreach { i =>
      val rows = sample(gen, 4200L + i)
      Seq(1, 7).foreach { parts =>
        val df = rows.toDF("g", "s", "id").repartition(parts)
        val got = df.groupBy("g")
          .agg(graft.functions.TopKIdsByScore
            .topkIds(col("s"), col("id"), 5).as("ids"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSeq).toMap
        val expected = rows.groupBy(_._1).map { case (g, rs) =>
          g -> rs.sortBy(t => (-t._2, t._3)).take(5).map(_._3).sorted.toSeq
        }
        assert(got == expected, s"seed ${4200 + i} parts $parts")
      }
    }
  }

  test("packed bigram model ≡ string histogram model: TopBigramsByCount's " +
      "cut equals the explode+groupBy+(count DESC, bigram ASC)+limit cut, " +
      "and BigramModelScore's [total, common] equals the histogram sums " +
      "(the q123 r13 contract, incl. pack-order ≡ UTF8-binary-order)") {
    import spark.implicits._
    import graft.functions.CharNgramCounts.charNgramCounts
    def unpack(p: Long): String =
      new String(Character.toChars((p >> 21).toInt)) +
        new String(Character.toChars((p & 0x1FFFFF).toInt))
    // mixed-width code points: ASCII, accents, CJK, astral (emoji) —
    // the widths where a pack-vs-UTF8 order divergence would hide
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", " ", "\t"),
      2 -> Gen.oneOf("é", "ß", "ñ", "ü"),
      1 -> Gen.oneOf("中", "文", "は"),
      1 -> Gen.oneOf("😀", "🍎"),
      1 -> Gen.oneOf("A", "Z", "É"))
    val textGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    (1 to 12).foreach { i =>
      val texts = sample(Gen.listOfN(25, textGen), 6100L + i)
      val df = texts.toDF("text")
      val k = 5 + (i % 7)
      // model: packed cut vs string cut
      val packed = df.agg(graft.functions.TopBigramsByCount
        .topBigrams(col("text"), k)).collect().head.getSeq[Long](0)
      val strings = df
        .select(explode(charNgramCounts(col("text"), 2)).as(Seq("b", "c")))
        .groupBy("b").agg(sum("c").as("c"))
        .orderBy(col("c").desc, col("b").asc).limit(k)
        .collect().map(_.getString(0)).toSeq
      assert(packed.map(unpack) == strings,
        s"case $i: packed cut ${packed.map(unpack)} != string cut $strings")
      // scoring: walk-with-binary-search vs histogram sums
      val got = df.select(graft.functions.BigramModelScore
        .score(col("text"), typedLit(packed)).as("s"))
        .collect().map(_.getSeq[Long](0)).map(s => (s(0), s(1)))
      val modelSet = strings.toSet
      val want = df.select(charNgramCounts(col("text"), 2).as("h"))
        .collect().map(_.getMap[String, Long](0)).map { h =>
          (h.values.sum, h.filter(e => modelSet(e._1)).values.sum)
        }
      assert(got.toSeq == want.toSeq, s"case $i scoring")
    }
  }

  test("GopherStats ≡ the original declarative counter stack over seeded " +
      "random text (bullets, ellipses, hashes, tabs, unicode, stops — " +
      "the q177 r13 contract)") {
    import spark.implicits._
    val tokenGen = Gen.frequency(
      5 -> Gen.alphaStr.map(_.take(8)),
      2 -> Gen.oneOf(graft.functions.GopherStats.Stops),
      2 -> Gen.oneOf("THE", "The", "Be", "WITH", "that."),
      1 -> Gen.oneOf("#", "##", "...", "....", ".....", "#..."),
      1 -> Gen.oneOf("•", "-", "*", "• x", "-x", "héllo", "中文", "😀"),
      1 -> Gen.oneOf("", " ", "  "))
    val sepGen = Gen.frequency(6 -> Gen.const(" "), 2 -> Gen.const("\n"),
      1 -> Gen.const("\t"), 1 -> Gen.const("\n  "), 1 -> Gen.const(" \n"),
      1 -> Gen.const("...\n"))
    val textGen = for {
      k <- Gen.chooseNum(0, 30)
      ts <- Gen.listOfN(k, tokenGen)
      ss <- Gen.listOfN(k, sepGen)
    } yield ts.zip(ss).map { case (t, s) => t + s }.mkString
    val texts = (1 to 120).map(i => sample(textGen, 7300L + i)) ++
      Seq("", " ", "\n", "...", "  • x\n* y\nz ...  ", "a#b...c")
    val df = texts.toDF("text")
    val words = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
    val lines = split(col("text"), lit("\n"))
    val declarative = df.select(
      size(words).cast("long"),
      aggregate(words, lit(0L), (acc, w) => acc + length(w).cast("long")),
      (length(col("text")) -
        length(regexp_replace(col("text"), lit("#"), lit("")))).cast("long"),
      ((length(col("text")) -
        length(regexp_replace(col("text"), lit("\\.\\.\\."), lit("")))) / 3)
        .cast("long"),
      size(lines).cast("long"),
      size(filter(lines, l => ltrim(l).startsWith("•") ||
        ltrim(l).startsWith("-") || ltrim(l).startsWith("*"))).cast("long"),
      size(filter(lines, l => rtrim(l).endsWith("..."))).cast("long"),
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long"),
      graft.functions.GopherStats.Stops.map(t =>
        array_contains(split(lower(col("text")), lit("\\s+")), t)
          .cast("long")).reduce(_ + _)).collect()
      .map(r => (0 until 9).map(r.getLong))
    val native = df.select(graft.functions.GopherStats
      .gopherStats(col("text"))).collect().map(_.getSeq[Long](0))
    texts.indices.foreach { i =>
      assert(native(i).toSeq == declarative(i).toSeq,
        s"text ${texts(i).replace("\n", "\\n")}: " +
          s"native=${native(i)} declarative=${declarative(i)}")
    }
  }

  test("SigAgree ≡ size(filter(zip_with(a,b,===),id)) over ragged/null " +
      "random signature arrays (the q46 est_jaccard contract)") {
    import spark.implicits._
    // Ragged lengths and null elements exercise the zip_with padding
    // semantics (pad-null → === null → filtered); values drawn from a
    // SMALL domain so equal positions actually occur.
    val arrGen = for {
      n <- Gen.chooseNum(0, 12)
      xs <- Gen.listOfN(n, Gen.frequency(
        9 -> Gen.chooseNum(0L, 5L).map(java.lang.Long.valueOf),
        1 -> Gen.const(null: java.lang.Long)))
    } yield xs
    (1 to 60).foreach { i =>
      val a = sample(arrGen, 5200L + i)
      val b = sample(arrGen, 9300L + i)
      val df = Seq((a, b)).toDF("sa", "sb")
      val got = df.select(
        graft.functions.SigAgree.sigAgree(col("sa"), col("sb")).as("g"),
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          v => v)).as("e")).collect().head
      assert(got.getInt(0) == got.getInt(1),
        s"case $i: a=$a b=$b native=${got.getInt(0)} hof=${got.getInt(1)}")
    }
    // null ARRAY operand → null result on both forms
    val nulls = Seq((null: Seq[java.lang.Long], Seq[java.lang.Long](1L)))
      .toDF("sa", "sb")
      .select(
        graft.functions.SigAgree.sigAgree(col("sa"), col("sb")).as("g"),
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          v => v)).as("e")).collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }
}
