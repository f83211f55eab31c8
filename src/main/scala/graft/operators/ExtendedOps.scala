package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Implied-surface rows VERDICT r01 flagged with no passing query:
  * right/full outer join (q68), CUBE (q69), MapType construction +
  * access (q70). Scale notes: q68's right join broadcasts the filtered
  * 2-row region dim; the full join shuffles both sides once on the join
  * key (outer joins can't broadcast the preserved side). q69 is one
  * shuffle with partial aggregation (CUBE expands grouping ids
  * map-side). q70 is a narrow projection — maps never shuffle.
  */
object ExtendedOps {

  private def T(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  // q151's text — declared BEFORE `all` (object vals initialize in
  // declaration order; `Some(DuckDialectSql)` would capture null below)
  private val DuckDialectSql: String =
    """SELECT source,
      |CAST(COUNT(*) AS BIGINT) AS n_docs,
      |arg_max(doc_id, n_chars * 1000000 + doc_id) AS longest_doc,
      |quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med_chars,
      |CAST(SUM(CAST(list_contains(string_split_regex(lower(text), '\s+'), 'the') AS BIGINT)) AS BIGINT) AS docs_with_the,
      |CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
      |CAST(MAX("doc_id") // 7 AS BIGINT) AS id_bucket,
      |CAST(SUM(CAST(regexp_matches(text, '[0-9]+') AS BIGINT)) AS BIGINT) AS docs_with_digit,
      |MAX(array_to_string(list_sort(list_distinct(list_value(lang, source))), '|')) AS tag
      |FROM documents GROUP BY source ORDER BY source"""
      .stripMargin.replace("\n", " ")

  // q158's text — every r8 CONDITIONAL bridge in one statement: the
  // oracle executes this natively in DuckDB while the Spark side goes
  // through DuckDialect.rewrite, so the hash match certifies each
  // translation against the real engine (not just unit probes):
  // * EXCLUDE wrap, string_split literal-space separator, list_slice
  // literal bounds, quantile_disc (DOUBLE input so the type widening is
  // a no-op), struct_pack field access, list_prepend arg swap via
  // list_extract (NOT bracket indexing — DuckDB's [i] is 1-based,
  // Spark's 0-based), regexp_full_match literal pattern, and the
  // strftime / epoch / epoch_us constants.
  private val DuckDialect2Sql: String =
    """SELECT * EXCLUDE (dummy) FROM (SELECT source,
      |CAST(COUNT(*) AS BIGINT) AS dummy,
      |CAST(COUNT(*) AS BIGINT) AS n_docs,
      |quantile_disc(CAST(n_chars AS DOUBLE), 0.5) AS med_disc,
      |CAST(SUM(CAST(regexp_full_match(lang, '[a-z]{2}') AS BIGINT)) AS BIGINT) AS two_letter_langs,
      |CAST(SUM(CAST(list_contains(list_slice(string_split(text, ' '), 1, 3), 'the') AS BIGINT)) AS BIGINT) AS the_in_first3,
      |MAX(struct_pack(a := lang, b := source).a) AS max_lang,
      |CAST(SUM(list_extract(list_prepend(CAST(n_chars AS BIGINT), list_value(CAST(0 AS BIGINT))), 1)) AS BIGINT) AS total_chars,
      |strftime(TIMESTAMP '2021-08-03 14:05:04', '%Y/%m') AS stamp,
      |CAST(epoch(TIMESTAMP '1970-01-01 00:02:00') AS DOUBLE) AS ep,
      |CAST(epoch_us(TIMESTAMP '1970-01-01 00:00:01') AS BIGINT) AS epus
      |FROM documents GROUP BY source) ORDER BY source"""
      .stripMargin.replace("\n", " ")

  // q160's text — the r9 ANALYZE-LEVEL bridges in one statement, the
  // constructs a text rewrite cannot reach (VERDICT r8 item 1): len on
  // a STRING and a LIST in the same expression tree, list_sum/list_avg/
  // list_aggregate over lambda-derived BIGINT lists, list_reduce's
  // seedless fold, 2-arg array_length, a NON-LITERAL regexp_full_match
  // pattern ('[a-z]{' || len(lang) || '}'), plus the date_diff('part',…)
  // boundary-crossing text bridge (month AND hour parts — the month case
  // is where complete-interval semantics would differ), the ADVICE-r8
  // clamped both-negative list_slice, and the outer `* REPLACE
  // (expr AS col)` star modifier (same values; the replaced column moves
  // to the end of the projection, which the column-name-keyed oracle
  // compare is insensitive to). The Spark side goes through
  // DuckDialect.sql — the REAL entry (register DuckCompat, parse,
  // rewrite-retry) — while the oracle executes the same text natively in
  // DuckDB; every aggregate is pinned to BIGINT (the one FP value goes
  // through FLOOR(x * 64), a power-of-2 scale that keeps the double
  // exact) so the hash match is bit-sharp.
  private val DuckDialect3Sql: String =
    """SELECT * REPLACE (CAST(n_docs * 2 AS BIGINT) AS n_docs) FROM (
      |SELECT source,
      |CAST(COUNT(*) AS BIGINT) AS n_docs,
      |CAST(SUM(list_reduce(list_transform(string_split(text, ' '), w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b)) AS BIGINT) AS red_wordlen,
      |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words,
      |CAST(SUM(list_sum(list_transform(string_split(text, ' '), w -> CAST(length(w) AS BIGINT)))) AS BIGINT) AS sum_wordlen,
      |CAST(SUM(CAST(FLOOR(list_avg(list_transform(string_split(text, ' '), w -> CAST(length(w) AS BIGINT))) * 64) AS BIGINT)) AS BIGINT) AS avg64,
      |CAST(SUM(list_aggregate(list_transform(string_split(text, ' '), w -> CAST(length(w) AS BIGINT)), 'max')) AS BIGINT) AS max_wordlen,
      |CAST(SUM(len(list_slice(string_split(text, ' '), -2, -1))) AS BIGINT) AS last2,
      |CAST(SUM(array_length(string_split(text, ' '), 1)) AS BIGINT) AS words2,
      |CAST(SUM(date_diff('month', DATE '2021-06-15', make_date(2021, CAST(doc_id % 12 AS INT) + 1, CAST(n_chars % 28 AS INT) + 1))) AS BIGINT) AS mdiff,
      |CAST(SUM(date_diff('hour', TIMESTAMP '2021-01-01 05:30:00', make_timestamp(2021, 1, 1, CAST(doc_id % 24 AS INT), 59, 30.0))) AS BIGINT) AS hdiff,
      |CAST(SUM(CAST(regexp_full_match(lang, '[a-z]{' || CAST(len(lang) AS VARCHAR(8)) || '}') AS BIGINT)) AS BIGINT) AS full_langs
      |FROM documents GROUP BY source) ORDER BY source"""
      .stripMargin.replace("\n", " ")

  // q162's text — the r9 BRACKET bridges in one statement: list
  // comprehensions with and without IF (→ transform/filter), list
  // literals (→ array), a struct literal with field access
  // (→ named_struct), composed with the registered list_sum/len and the
  // bridged list_extract/string_split/regexp_full_match so the bracket
  // output feeds every bridge family. The Spark side goes through
  // DuckDialect.sql (the REAL entry point) while the oracle executes
  // the same text natively in DuckDB; every aggregate is BIGINT-pinned
  // so the hash match is bit-sharp. Scale shape: per-row lambda work
  // and ONE groupBy shuffle on source — nothing quadratic, nothing
  // collected. (Declared BEFORE `all`: a forward reference from the
  // GraftQuery seq would read null during object init.)
  private val DuckDialect4Sql: String =
    """SELECT source,
      |CAST(COUNT(*) AS BIGINT) AS n_docs,
      |CAST(SUM(list_sum([CAST(length(w) AS BIGINT) FOR w IN string_split(text, ' ') IF length(w) > 3])) AS BIGINT) AS long_wordlen,
      |CAST(SUM(len([w FOR w IN string_split(text, ' ') IF regexp_full_match(w, '[a-z]+')])) AS BIGINT) AS alpha_words,
      |CAST(SUM(list_extract([CAST(n_chars AS BIGINT), CAST(doc_id AS BIGINT)], 1)) AS BIGINT) AS chars_again,
      |CAST(SUM({'a': CAST(n_chars AS BIGINT), 'b': CAST(doc_id % 7 AS BIGINT)}.b) AS BIGINT) AS b_sum,
      |CAST(SUM(len([x*2 FOR x IN [CAST(doc_id % 5 AS BIGINT), CAST(n_chars % 3 AS BIGINT)]])) AS BIGINT) AS lit_len
      |FROM documents GROUP BY source ORDER BY source"""
      .stripMargin.replace("\n", " ")

  // q163–q165 — the r9 STATEMENT bridges, certified end-to-end: the
  // Spark side goes through DuckDialect.sql (parse failure → rewrite)
  // while the oracle executes the same text natively in DuckDB.
  // q163 QUALIFY: the canonical top-k-per-group one-liner → bridged to
  // a wrapped post-window filter; one window shuffle on the partition
  // key, WindowGroupLimit prunes below the rank cap at scale.
  private val QualifySql: String =
    """SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
      |CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents
      |QUALIFY row_number() OVER (
      |  PARTITION BY source ORDER BY n_chars DESC, doc_id) <= 2
      |ORDER BY source, doc_id""".stripMargin.replace("\n", " ")

  // q164 DISTINCT ON: keep the first row per key of the ORDER BY stream
  // (DuckDB semantics, verified) → row_number()=1 per key. doc_id makes
  // the pick deterministic; the outer ORDER BY is a total order.
  private val DistinctOnSql: String =
    """SELECT DISTINCT ON (source) source,
      |CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents ORDER BY n_chars DESC, doc_id"""
      .stripMargin.replace("\n", " ")

  // q165 unnest + generate_series: row-multiplying unnest → explode,
  // inclusive-end series → sequence; per-row fan-out is ≤3 (bounded by
  // the %3), then ONE groupBy shuffle on the bucket.
  private val SeriesUnnestSql: String =
    """SELECT CAST(u AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars
      |FROM (SELECT n_chars, unnest(generate_series(1,
      |  CAST(n_chars % 3 AS INT) + 1)) AS u FROM documents)
      |GROUP BY u ORDER BY u""".stripMargin.replace("\n", " ")

  // q186 comma-lateral generate_series (r12, VERDICT r11 item 4): the
  // most common remaining DuckDB FROM idiom, in BOTH spellings — the
  // constant-argument TVF `FROM t, generate_series(2, 4) AS g(i)` and
  // the correlated `FROM t, unnest(generate_series(1, expr)) AS u(j)`
  // (DuckDB 1.0 itself refuses lateral column params on the bare TVF).
  // The bridge emits chained LATERAL VIEW explode(sequence(…)) items;
  // per-row fan-out is ≤ 3×3 (bounded), the filter stays below the
  // generators, and the only exchange is the total ORDER BY. CASTs pin
  // BIGINT on both engines (Spark's constant sequence(2,4) is
  // array<int> where DuckDB's TVF yields BIGINT).
  private val CommaSeriesSql: String =
    """SELECT d.doc_id, CAST(g.i AS BIGINT) AS series_i,
      |CAST(u.j AS BIGINT) AS rep_j
      |FROM documents d, generate_series(2, 4) AS g(i),
      |  unnest(generate_series(1, d.doc_id % 3 + 1)) AS u(j)
      |WHERE d.doc_id < 7 ORDER BY d.doc_id, series_i, rep_j"""
      .stripMargin.replace("\n", " ")

  // q166 PIVOT statement (dynamic column discovery): the bridge
  // resolves the lang columns with ONE bounded distinct collect then
  // emits count(*) FILTER items — one shuffle on source at any column
  // count. count(*) is BIGINT in both engines, so the hash is clean.
  private val PivotSql: String =
    "PIVOT documents ON lang GROUP BY source ORDER BY source"

  // q167 UNPIVOT statement → Spark's UNPIVOT clause. ORDER BY (k, v,
  // source, lang, text) is hash-total: the only possible ties are
  // between rows identical in EVERY projected column.
  private val UnpivotSql: String =
    """UNPIVOT documents ON n_chars, doc_id INTO NAME k VALUE v
      |ORDER BY k, v, source, lang, text""".stripMargin.replace("\n", " ")

  // q169 COLUMNS star expression: the wrapped-aggregate form replicates
  // per matching column and names by the SOURCE column (DuckDB
  // semantics, verified) — the bridge expands from the live schema with
  // find-anywhere regex matching. One groupBy shuffle; the expansion
  // itself is pure planning.
  private val ColumnsSql: String =
    """SELECT source, max(COLUMNS('n_chars|doc_id')) FROM documents
      |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // q171 ASOF JOIN statement: the self-asof "previous document in my
  // source" shape — a one-member chain (DuckDialect.asofChainExpand):
  // an equi+range join with a synthesized per-left-row id and a
  // row_number()=1 pick (one shuffle on the equi key; the range side is
  // tie-free on the unique doc_id, so the pick is deterministic), gated
  // by the exact equi-group pair probe. CAST(r.doc_id) keeps the picked
  // columns BIGINT in both engines.
  private val AsofSql: String =
    """SELECT l.doc_id AS d, CAST(r.doc_id AS BIGINT) AS prev_doc,
      |CAST(r.n_chars AS BIGINT) AS prev_chars
      |FROM documents l ASOF JOIN documents r
      |ON l.source = r.source AND l.doc_id > r.doc_id ORDER BY d"""
      .stripMargin.replace("\n", " ")


  // q196 ASOF multi-join CHAIN (r14, VERDICT r13 item 3): q171's
  // tie-free self-asof extended one step — "previous document in my
  // source, then the previous of THAT" — with the second join
  // referencing the FIRST pick's alias (the chain property: later ONs
  // see every earlier alias) and spelled ASOF LEFT with the
  // inequality flipped (q.doc_id < p.doc_id) to exercise side
  // normalization and null-extension. Each step bridges to a nested
  // equi+range row_number pick over a schema-prefixed flattening
  // (DuckDialect.asofChainExpand — a LATERAL spelling was tried and
  // rejected for planning a corpus-sized BNLJ domain join, see the
  // chain Scaladoc); doc_id is unique, so both picks are
  // deterministic, and the oracle runs the identical text in DuckDB's
  // native ASOF operator.
  private val AsofChainSql: String =
    """SELECT l.doc_id AS d, CAST(p.doc_id AS BIGINT) AS prev_doc,
      |CAST(q.doc_id AS BIGINT) AS prev2_doc,
      |CAST(q.n_chars AS BIGINT) AS prev2_chars
      |FROM documents l
      |ASOF JOIN documents p ON l.source = p.source AND l.doc_id > p.doc_id
      |ASOF LEFT JOIN documents q ON p.source = q.source AND q.doc_id < p.doc_id
      |ORDER BY d"""
      .stripMargin.replace("\n", " ")

  // q197 MIXED asof+plain chain (r14 second pass): the q196 self-asof
  // followed by a PLAIN dimension join whose equality references the
  // ASOF pick's alias (n_nationkey = p.doc_id % 25) — the
  // "asof-enrich then dimension-join" statement shape the chain bridge
  // now runs as written (plain steps join the accumulated flattening;
  // DuckDialect.asofChainExpand). nation's key is unique and the pick
  // is doc_id-tie-free, so the row set is deterministic; the oracle is
  // DuckDB's native left-deep chain on the identical text.
  private val AsofMixedSql: String =
    """SELECT l.doc_id AS d, CAST(p.doc_id AS BIGINT) AS prev_doc, n.n_name
      |FROM documents l
      |ASOF JOIN documents p ON l.source = p.source AND l.doc_id > p.doc_id
      |JOIN nation n ON n.n_nationkey = p.doc_id % 25
      |ORDER BY d"""
      .stripMargin.replace("\n", " ")

  // q198 SUBQUERY MEMBERS in an ASOF chain (r15, VERDICT r14 item 4):
  // the quote-stream-filtered-then-chained statement — the first ASOF
  // member is a FILTERED subquery (even doc_ids), the second a
  // differently-filtered subquery whose ON references the FIRST pick's
  // alias. Each grouped member's schema comes from analyzing the
  // rewritten subquery (DuckDialect.asofChainExpand.colsOf); the
  // per-step pair gates probe the subqueries themselves. doc_id is
  // unique so both picks are tie-free, and the oracle runs the
  // identical text in DuckDB's native left-deep chain.
  private val AsofSubqSql: String =
    """SELECT l.doc_id AS d, CAST(p.doc_id AS BIGINT) AS prev_even,
      |CAST(p.n_chars AS BIGINT) AS prev_chars,
      |CAST(q.doc_id AS BIGINT) AS prev_small
      |FROM documents l
      |ASOF JOIN (SELECT doc_id, source, n_chars FROM documents
      |  WHERE doc_id % 2 = 0) p
      |  ON l.source = p.source AND l.doc_id > p.doc_id
      |ASOF LEFT JOIN (SELECT doc_id, source FROM documents
      |  WHERE n_chars < 500) q
      |  ON p.source = q.source AND q.doc_id < p.doc_id
      |ORDER BY d"""
      .stripMargin.replace("\n", " ")

  // q199 RIGHT plain member in a mixed ASOF chain (r15): the asof pick
  // feeds a RIGHT dimension join whose unmatched nation rows (keys
  // 10-24 — the pick's %10 bucket never reaches them) must surface
  // with every accumulated column NULL, exactly DuckDB's left-deep
  // null-extension (the flattened-accumulator embedding gives it by
  // construction — DuckDialect.asofChainExpand). doc_id unique ⇒ the
  // pick is tie-free; ORDER BY (n_name, d NULLS LAST) is total.
  private val AsofRightSql: String =
    """SELECT n.n_name, l.doc_id AS d, CAST(p.doc_id AS BIGINT) AS prev_doc
      |FROM documents l
      |ASOF JOIN documents p ON l.source = p.source AND l.doc_id > p.doc_id
      |RIGHT JOIN nation n ON n.n_nationkey = p.doc_id % 10
      |ORDER BY n.n_name, d NULLS LAST"""
      .stripMargin.replace("\n", " ")

  // q200 RIGHT-DEEP tree member (r15 second pass): the inner
  // (p ASOF LEFT r) pick runs FIRST — every p carries its own
  // predecessor independent of l — then the outer ASOF picks the
  // nearest enriched p per l. Provably different from the left-deep
  // q196 spelling (there the r-pick runs per OUTER pick). The bridge
  // synthesizes the inner pick as a prefixed subquery and exposes BOTH
  // inner aliases (the select reads p and r); doc_id unique ⇒ tie-free;
  // oracle = identical text in DuckDB's native right-deep plan.
  // q202 NATURAL member in an ASOF chain (r15 second pass): the
  // implied equality (`source`, the one name shared between l and the
  // derived per-source stats subquery) is synthesized from live
  // schemas at expansion (DuckDialect.asofChainExpand) — the member
  // must come BEFORE the self-asof step because afterwards `source`
  // is exposed by two aliases and DuckDB binder-errors (the bridge
  // refuses exactly there, matrix-pinned). doc_id unique ⇒ the asof
  // pick is tie-free; the oracle runs the identical text in DuckDB's
  // native NATURAL + ASOF chain.
  private val AsofNaturalSql: String =
    """SELECT l.doc_id AS d, CAST(sd.nsrc AS BIGINT) AS nsrc,
      |CAST(p.doc_id AS BIGINT) AS prev_doc
      |FROM documents l
      |NATURAL JOIN (SELECT source, count(*) AS nsrc FROM documents
      |  GROUP BY source) sd
      |ASOF LEFT JOIN documents p
      |  ON l.source = p.source AND l.doc_id > p.doc_id
      |ORDER BY d"""
      .stripMargin.replace("\n", " ")

  // q203 NESTED asof (r15 third pass): the wrap-then-aggregate shape —
  // an ASOF join inside a DERIVED TABLE with a GROUP BY outside.
  // DuckDialect.expandAsof expands parenthesized SELECT/WITH groups
  // deepest-first through the same chain expansion (and scale guard)
  // as a top-level statement, so the subquery body arrives expanded;
  // the pick sits inside its own derived table, so the outer aggregate
  // never meets the row_number. doc_id unique ⇒ the pick is tie-free;
  // the oracle runs the identical text natively.
  private val AsofNestedSql: String =
    """SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n,
      |CAST(SUM(s.prev) AS BIGINT) AS sum_prev
      |FROM (SELECT l.source, p.doc_id AS prev FROM documents l
      |  ASOF JOIN documents p
      |  ON l.source = p.source AND l.doc_id > p.doc_id) s
      |GROUP BY s.source ORDER BY s.source"""
      .stripMargin.replace("\n", " ")

  // q204 MULTI-JOIN tree member (r15 third pass): the parenthesized
  // group is itself a CHAIN — per-p predecessor pick (inner ASOF LEFT)
  // then a plain dimension join — evaluated inner-first, then the
  // outer ASOF picks the nearest enriched p per l. The bridge
  // enumerates the inner chain's alias→column map from live schemas,
  // synthesizes a prefixed select over the inner text and recurses
  // through asofChainExpand; the pair gate recurses the same walk and
  // takes the inner chain's final row bound as the member's m. doc_id
  // unique ⇒ both picks tie-free; oracle = identical text natively.
  private val AsofMultiTreeSql: String =
    """SELECT l.doc_id AS d, CAST(p.doc_id AS BIGINT) AS prev_doc,
      |CAST(r.doc_id AS BIGINT) AS prev_prev, n.n_name
      |FROM documents l
      |ASOF JOIN (documents p ASOF LEFT JOIN documents r
      |  ON r.source = p.source AND r.doc_id < p.doc_id
      |  JOIN nation n ON n.n_nationkey = p.doc_id % 25)
      |ON p.source = l.source AND p.doc_id < l.doc_id
      |ORDER BY d"""
      .stripMargin.replace("\n", " ")

  // q205 ASOF USING (r15 third pass): DuckDB's USING shorthand —
  // equality on every column but the last, INCLUSIVE inequality on the
  // last — over a SHIFTED subquery member (doc_id + 1), so the pick is
  // each document's per-source predecessor: the meaningful composition
  // of the USING bridge (textual right-side keys, owners resolved at
  // expansion) with a subquery member. doc_id unique ⇒ tie-free;
  // oracle = identical text natively.
  private val AsofUsingSql: String =
    """SELECT l.doc_id AS d, CAST(p.pd AS BIGINT) AS prev_doc,
      |CAST(p.doc_id AS BIGINT) AS shifted
      |FROM documents l
      |ASOF JOIN (SELECT source, doc_id + 1 AS doc_id, doc_id AS pd
      |  FROM documents) p USING (source, doc_id)
      |ORDER BY d"""
      .stripMargin.replace("\n", " ")

  private val AsofTreeSql: String =
    """SELECT l.doc_id AS d, CAST(p.doc_id AS BIGINT) AS prev_doc,
      |CAST(r.doc_id AS BIGINT) AS prev_prev,
      |CAST(r.n_chars AS BIGINT) AS pp_chars
      |FROM documents l
      |ASOF JOIN (documents p ASOF LEFT JOIN documents r
      |  ON r.source = p.source AND r.doc_id < p.doc_id)
      |ON p.source = l.source AND p.doc_id < l.doc_id
      |ORDER BY d"""
      .stripMargin.replace("\n", " ")

  // q172 — the r10 ANALYSIS-LEVEL bridges in one statement: date_sub
  // (complete clamped intervals), list_extract on STRINGS (1-based
  // character access, '' out of range), list_slice on STRINGS, the
  // 4-arg STEP slice (negative step reverses), and list_value. The
  // oracle runs the identical text natively in DuckDB — a hash match
  // certifies every semantic edge (clamping, '' vs NULL, walk order)
  // end-to-end, not constant-by-constant. The two LIST outputs (rev,
  // walk) are serialized through array_to_string on BOTH sides: the
  // driver's checker canonicalizes through pandas, which cannot sort
  // ndarray cells (the r10 red row) — corpus outputs stay scalar.
  // array_to_string is a DuckCompat NATIVE (implicit element cast,
  // empty-list→NULL like DuckDB's string_agg macro), so the statement
  // still resolves on the FIRST parse — a text-rewrite fallback would
  // rename list_extract→try_element_at and break the STRING forms.
  private val Dialect5Sql: String =
    """SELECT event_id,
      |CAST(date_sub('month', TIMESTAMP '2021-01-31 05:00:00', ts) AS BIGINT) AS m,
      |CAST(date_sub('day', ts, TIMESTAMP '2022-01-01 00:00:00') AS BIGINT) AS d,
      |list_extract(event_type, 2) AS c2,
      |list_extract(event_type, -1) AS clast,
      |list_extract(event_type, 99) AS cnone,
      |list_slice(event_type, 2, -2) AS mid,
      |array_to_string(list_slice(list_value(CAST(event_id AS BIGINT),
      |  CAST(user_id AS BIGINT), CAST(event_id + user_id AS BIGINT),
      |  CAST(event_id * 2 AS BIGINT)), 4, 1, -2), ',') AS rev,
      |array_to_string(list_slice(list_value(CAST(user_id AS BIGINT),
      |  CAST(event_id AS BIGINT)), 1, 99, 1), ',') AS walk
      |FROM events ORDER BY event_id LIMIT 500"""
      .stripMargin.replace("\n", " ")

  // q173 — USING SAMPLE n [ROWS] (random reservoir, bridged to
  // ORDER BY rand() LIMIT n — TakeOrdered, no full sort): both engines
  // draw DIFFERENT random rows, so the oracled contract is the
  // aggregate shape — exact counts (min(n, |input|)), distinctness
  // (real rows, no duplication), and sample-before-WHERE bounds. All
  // BIGINT-cast so the hash compares across engines.
  private val SampleRowsSql: String =
    """SELECT
      |(SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM documents USING SAMPLE 40 ROWS)) AS n40,
      |(SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM (SELECT * FROM documents USING SAMPLE 40 ROWS)) AS d40,
      |(SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM documents USING SAMPLE 1000000 ROWS)) AS nall,
      |(SELECT CAST(count(*) AS BIGINT) FROM documents) AS ntotal"""
      .stripMargin.replace("\n", " ")

  // q174 — COPY (query) TO 'path' (FORMAT PARQUET): the statement
  // bridge executes the dialect-tolerant inner query, writes parquet,
  // and returns DuckDB's one-row Count shape. Spark writes a DIRECTORY
  // of part files where DuckDB writes one file (the documented
  // scale-correct divergence) — both report the same Count, and the
  // spec reads the written data back to prove the bytes landed. The
  // engines write to DIFFERENT paths so the driver's DuckDB oracle run
  // never collides with the Verify dump.
  // the SPARK-side output path carries an input-dir slug: concurrent
  // graft processes (runjava probe + sbt verify — the documented
  // workflow) at DIFFERENT SFs would otherwise overwrite each other's
  // directory between this query's write and its read-back count. The
  // oracle's DuckDB path stays static (only its Count column compares,
  // computed by DuckDB's own COPY return, never a read-back).
  private def copyToSparkSql(d: String): String = {
    val slug = d.replaceAll("[^A-Za-z0-9]", "_")
    s"""COPY (SELECT doc_id, n_chars FROM documents WHERE lang = 'en'
      |ORDER BY doc_id) TO '/tmp/graft_q174_spark_out_$slug' (FORMAT PARQUET)"""
      .stripMargin.replace("\n", " ")
  }
  // The oracle is SELECT-shaped ON PURPOSE (r10 red row: the driver's
  // duckdb harness calls .df() on the statement result, and a bare
  // COPY returns None). The Spark side still executes the real COPY
  // bridge — the thing under test — and its one-row Count return is
  // certified against this SELECT computing the same count; the
  // byte-level proof that the parquet landed is CopyToSpec's
  // read-back, not the oracle.
  private val CopyToDuckSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS Count FROM documents
      |WHERE lang = 'en'"""
      .stripMargin.replace("\n", " ")

  // r14 (VERDICT r13 item 8): the q175/q194 fixture paths carry a
  // PER-PROCESS suffix. Both engines read the path out of the same SQL
  // string (the Spark side executes it through the bridge; Verify dumps
  // the identical string into oracle_sql.json for the driver's DuckDB
  // run), so a pid suffix stays consistent within one session while two
  // concurrent sessions on one box can no longer race the same /tmp
  // file name — the previous static-path design relied on the content
  // being SF-invariant to make the race benign; now there is no race.
  private val FixtureSlug: String = ProcessHandle.current().pid().toString
  private val Q175CsvPath = s"/tmp/graft_q175_fixture_$FixtureSlug.csv"
  private val Q175NdPath = s"/tmp/graft_q175_fixture_$FixtureSlug.ndjson"
  private val Q194CsvPath = s"/tmp/graft_q194_fixture_$FixtureSlug.csv"
  private val Q201CsvZstPath = s"/tmp/graft_q201_fixture_$FixtureSlug.csv.zst"
  private val Q201NdZstPath =
    s"/tmp/graft_q201_fixture_$FixtureSlug.ndjson.zst"

  // q175 — read_csv / read_json table functions over a fixture BOTH
  // engines read from the same path: the query builder materializes a
  // deterministic CSV+NDJSON pair from the nation dim (25 rows —
  // bounded by construction, a dim-table collect) and the statement
  // round-trips them with options (header, delim) and a join. Every
  // column is CAST explicitly: DuckDB infers BIGINT where Spark's CSV
  // sampler picks INT — the documented width divergence the casts
  // neutralize.
  private val ReadFilesSql: String =
    s"""SELECT CAST(c.k AS BIGINT) AS k, c.name AS cname, j.name AS jname,
      |CAST(c.rk AS BIGINT) + CAST(j.rk AS BIGINT) AS rk2
      |FROM read_csv('$Q175CsvPath', header = true, delim = '|') c
      |JOIN read_json('$Q175NdPath') j ON c.k = j.k
      |ORDER BY k"""
      .stripMargin.replace("\n", " ")

  // q194 — the SNIFFED (option-free) read_csv form (r13, VERDICT r12
  // item 3): the fixture is ';'-delimited WITH a header, and neither
  // engine is told either fact — DuckDB runs its own auto-detection,
  // the bridge runs [[graft.functions.DuckCompat.sniffCsv]], and the
  // row is green only when both detect (';', header) AND parse the
  // quoted fields identically (names are quoted and one embeds the
  // delimiter — the dialect case a wrong sniff corrupts first). Same
  // width-divergence casts as q175.
  private val SniffedCsvSql: String =
    s"""SELECT CAST(k AS BIGINT) AS k, name, CAST(rk AS BIGINT) AS rk
      |FROM read_csv('$Q194CsvPath')
      |ORDER BY k"""
      .stripMargin.replace("\n", " ")

  // q201 — transparent zstd reads (r15 second pass): an OPTION-FREE
  // read_csv over a '.csv.zst' (both engines must auto-detect the codec
  // AND the dialect from the decompressed head — DuckDB natively, the
  // bridge through sniffCsv over a zstd-jni stream, the same library
  // Spark 4's HadoopCodecStreams read fallback decodes with) joined to
  // a read_json over a '.ndjson.zst'. A wrong codec decision corrupts
  // byte 1, a wrong dialect corrupts column 1 — the hash row certifies
  // both ends. Same width-divergence casts as q175/q194.
  private val ZstdReadSql: String =
    s"""SELECT CAST(c.k AS BIGINT) AS k, c.name AS cname, j.name AS jname,
      |CAST(c.rk AS BIGINT) + CAST(j.rk AS BIGINT) AS rk2
      |FROM read_csv('$Q201CsvZstPath') c
      |JOIN read_json('$Q201NdZstPath') j ON c.k = j.k
      |ORDER BY k"""
      .stripMargin.replace("\n", " ")

  val all: Seq[GraftQuery] = Seq(

    // Right outer (all nations survive a filtered region dim) feeding a
    // full outer against per-nation customer counts over a disjoint key
    // range — rows exist on the left only, right only, and both.
    GraftQuery("q68_outer_joins",
      (s, d) => {
        val r2 = T(s, d, "region").filter(col("r_regionkey") < 2)
        val rj = r2.join(T(s, d, "nation"),
            r2("r_regionkey") === col("n_regionkey"), "right")
          .select(col("n_nationkey"), coalesce(col("r_name"), lit("NONE")).as("r_name"))
          .filter(col("n_nationkey") >= 5)
        val cn = T(s, d, "customer").filter(col("c_nationkey") < 10)
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
        rj.join(cn, rj("n_nationkey") === cn("c_nationkey"), "full")
          .select(
            coalesce(col("n_nationkey"), col("c_nationkey")).as("k"),
            coalesce(col("r_name"), lit("??")).as("r_name"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"))
          .orderBy("k")
      },
      Some("""WITH rj AS (
        |  SELECT n_nationkey, COALESCE(r_name, 'NONE') AS r_name
        |  FROM (SELECT * FROM region WHERE r_regionkey < 2) r
        |  RIGHT JOIN nation ON r.r_regionkey = nation.n_regionkey
        |  WHERE n_nationkey >= 5),
        |cn AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
        |  WHERE c_nationkey < 10 GROUP BY c_nationkey)
        |SELECT COALESCE(n_nationkey, c_nationkey) AS k,
        |  COALESCE(r_name, '??') AS r_name, COALESCE(n_cust, 0) AS n_cust
        |FROM rj FULL JOIN cn ON rj.n_nationkey = cn.c_nationkey
        |ORDER BY k""".stripMargin.replace("\n", " "))),

    // Runtime-filter join as an ORACLED query: a bloom filter built over
    // the selective dim side's join keys ships into the fact scan as a
    // codegen literal probe (BloomFilterMightContain), dropping fact
    // rows that cannot join BEFORE the fact side moves — at 100 TB the
    // difference between shuffling the whole fact table and its
    // join-selective fraction. Bloom filters have NO false negatives
    // (false positives only pass extra rows into the join, which still
    // filters exactly), so the result is bit-identical to the plain
    // join and DuckDB's plain join is a valid oracle — the scale
    // pattern itself is correctness-gated, not just spec'd.
    GraftQuery("q125_bloom_join",
      (s, d) => {
        val dim = T(s, d, "part").filter(col("p_brand") === "Brand#1")
          .select("p_partkey", "p_type")
        val li = T(s, d, "lineitem").select("l_partkey", "l_quantity")
        ScaleOps.bloomPrefilteredJoin(li, dim, "l_partkey", "p_partkey",
            expectedDimRows = 100000L)
          .groupBy("p_type")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast("double").as("sq"))
          .orderBy("p_type")
      },
      Some("SELECT p_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand = 'Brand#1' GROUP BY p_type ORDER BY p_type")),

    // CUBE over (returnflag, linestatus): all four grouping combinations
    // in one pass. NULLS FIRST pinned — Spark/DuckDB defaults differ.
    GraftQuery("q69_cube",
      (s, d) => T(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("c"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sq"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some("SELECT l_returnflag, l_linestatus, COUNT(*) AS c, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST")),

    // MapType: build a map per row, read it back via element_at, count
    // keys. The oracle states the equivalent result without maps (DuckDB
    // map-extract returns lists in 1.0 — semantics differ, results must
    // not).
    // The sketch form of q39: approx_percentile's fixed-size QuantileSummaries
    // sketch replaces exact percentile's per-group value buffer (which is
    // O(group size) memory — the VERDICT r01 flag). r9: ORACLED
    // ERROR-BOUND ROW — the exact percentiles are SQL-expressible
    // (quantile_cont, the q39 precedent), so they ride along as REAL
    // differential columns and `approx_ok` certifies the sketch within
    // 1% of them (the CorpusSpec bound); a sketch regression now breaks
    // the hash. Both aggregates compute in ONE groupBy pass.
    GraftQuery("q74_percentiles_approx",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // r14: the exact DIFFERENTIAL side now uses q39's sort +
        // bracketing-rank form (disk-spillable window buffer) instead
        // of percentile()'s value→count map, whose entries ≈ rows for
        // the continuous price column — the same data-proportional
        // executor-heap state q39 shed. The sketch branch aggregates
        // the raw scan (map-side-combined QuantileSummaries); the two
        // 3-row flag frames join at the end.
        val w = Window.partitionBy("l_returnflag")
        val ps = Seq(0.5 -> "p50_exact", 0.95 -> "p95_exact")
        val ranked = T(s, d, "lineitem")
          .select(col("l_returnflag"),
            col("l_extendedprice").cast("double").as("__p"))
          .withColumn("__rn", row_number().over(w.orderBy("__p")).cast("long"))
          .withColumn("__n", count(lit(1)).over(w))
        def idx(p: Double) = (col("__n") - 1L).cast("double") * lit(p)
        def loRn(p: Double) = floor(idx(p)).cast("long") + 1L
        def hiRn(p: Double) = least(loRn(p) + 1L, col("__n"))
        val keep = ps.map { case (p, _) =>
          col("__rn") === loRn(p) || col("__rn") === hiRn(p)
        }.reduce(_ || _)
        val aggs = ps.flatMap { case (p, nm) => Seq(
          max(when(col("__rn") === loRn(p), col("__p"))).as(s"__lo_$nm"),
          max(when(col("__rn") === hiRn(p), col("__p"))).as(s"__hi_$nm"))
        } :+ max("__n").as("__n")
        val exact = ranked.filter(keep).groupBy("l_returnflag")
          .agg(aggs.head, aggs.tail: _*)
          .select(col("l_returnflag") +: ps.map { case (p, nm) =>
            val ix = (col("__n") - 1L).cast("double") * lit(p)
            val fr = ix - floor(ix)
            (col(s"__lo_$nm") + fr * (col(s"__hi_$nm") - col(s"__lo_$nm")))
              .as(nm)
          }: _*)
        val sketch = T(s, d, "lineitem").groupBy("l_returnflag")
          .agg(percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.95)), lit(10000)).as("pap"),
            count(lit(1)).as("n"))
        exact.join(sketch, Seq("l_returnflag"))
          .select(col("l_returnflag"),
            col("p50_exact"), col("p95_exact"), col("n"),
            (abs(col("pap")(0) - col("p50_exact")) <=
              col("p50_exact") * 0.01 &&
              abs(col("pap")(1) - col("p95_exact")) <=
                col("p95_exact") * 0.01)
              .cast("long").as("approx_ok"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, " +
        "quantile_cont(l_extendedprice, 0.5) AS p50_exact, " +
        "quantile_cont(l_extendedprice, 0.95) AS p95_exact, " +
        "COUNT(*) AS n, CAST(1 AS BIGINT) AS approx_ok " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Struct build + field access (Tier B map/struct row, struct half):
    // named_struct round-trips through projection; oracle states the
    // equivalent flat result.
    GraftQuery("q75_struct_access",
      (s, d) => T(s, d, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey"),
          struct(col("o_custkey").as("ck"), col("o_totalprice").as("tp"),
            struct(col("o_orderstatus").as("st")).as("nest")).as("rec"))
        .select(col("o_orderkey"),
          col("rec.ck").as("ck"),
          col("rec.tp").as("tp"),
          col("rec.nest.st").as("st"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_custkey AS ck, o_totalprice AS tp, " +
        "o_orderstatus AS st FROM orders WHERE o_orderkey <= 500 " +
        "ORDER BY o_orderkey")),

    // Skew-salted fact⋈dim join in the graded corpus (previously only
    // spec-covered in ScaleOpsSpec): the salt splinters every fact key
    // across `salt` sub-keys and explodes the dim to match, so one hot
    // partkey cannot own a shuffle partition. Salt values come from
    // monotonically_increasing_id — NONDETERMINISTIC per run, but the
    // join RESULT is salt-invariant, which is what the oracle checks.
    GraftQuery("q85_salted_join",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val li = T(s, d, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice")
        val p = T(s, d, "part").select("p_partkey", "p_brand")
        ScaleOps.saltedJoin(li, p, "l_partkey", "p_partkey", salt = 8)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast("double").as("sq"))
          .orderBy("p_brand")
      },
      Some("SELECT p_brand, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand")),

    GraftQuery("q70_map_access",
      (s, d) => T(s, d, "events")
        .filter(col("event_id") <= 100)
        .select(col("event_id"),
          map(lit("value"), col("value"),
            lit("uid"), col("user_id").cast("double")).as("m"))
        .select(col("event_id"),
          element_at(col("m"), "value").as("mv"),
          element_at(col("m"), "uid").as("mu"),
          size(map_keys(col("m"))).cast("long").as("nk"))
        .orderBy("event_id"),
      Some("SELECT event_id, value AS mv, CAST(user_id AS DOUBLE) AS mu, " +
        "CAST(2 AS BIGINT) AS nk FROM events WHERE event_id <= 100 " +
        "ORDER BY event_id")),

    // A6 DuckDB-dialect parity (VERDICT r7 item 2): ONE query written in
    // DuckDB's OWN dialect — list_* names, arg_max, quantile_cont, `//`
    // division, "double-quoted" identifiers, strlen, regexp_matches,
    // escape-free '\s+' literals — run through DuckDialect.rewrite on the
    // Spark side while the oracle executes the SAME text natively in
    // DuckDB. A hash match here certifies the whole shim end-to-end, not
    // just name-by-name. arg_max keys on n_chars*1000000+doc_id (unique)
    // so the argmax is deterministic in both engines.
    GraftQuery("q151_duckdb_dialect",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        s.sql(graft.DuckDialect.rewrite(DuckDialectSql))
      },
      Some(DuckDialectSql))
    ,

    // q151's round-8 sibling: the CONDITIONAL bridges (see
    // DuckDialect2Sql's comment for the construct list). Same contract —
    // the oracle runs the identical text natively; a hash mismatch means
    // a translation changed semantics.
    GraftQuery("q158_duckdb_dialect2",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        s.sql(graft.DuckDialect.rewrite(DuckDialect2Sql))
      },
      Some(DuckDialect2Sql)),

    // q151/q158's round-9 sibling: the ANALYZE-LEVEL bridges (see
    // DuckDialect3Sql's comment). Unlike its siblings this one runs
    // DuckDialect.sql — parse attempt, DuckCompat registration, rewrite
    // retry — because the whole point of these constructs is that
    // rewrite() alone CANNOT translate them.
    GraftQuery("q160_duckdb_dialect3",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, DuckDialect3Sql)
      },
      Some(DuckDialect3Sql)),

    GraftQuery("q162_duckdb_dialect4",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, DuckDialect4Sql)
      },
      Some(DuckDialect4Sql)),

    GraftQuery("q163_duckdb_qualify",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, QualifySql)
      },
      Some(QualifySql)),

    GraftQuery("q164_duckdb_distinct_on",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, DistinctOnSql)
      },
      Some(DistinctOnSql)),

    GraftQuery("q165_duckdb_series_unnest",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, SeriesUnnestSql)
      },
      Some(SeriesUnnestSql)),

    GraftQuery("q166_duckdb_pivot",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, PivotSql)
      },
      Some(PivotSql)),

    GraftQuery("q167_duckdb_unpivot",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, UnpivotSql)
      },
      Some(UnpivotSql)),

    GraftQuery("q169_duckdb_columns",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, ColumnsSql)
      },
      Some(ColumnsSql)),

    GraftQuery("q171_duckdb_asof",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, AsofSql)
      },
      Some(AsofSql)),

    GraftQuery("q196_duckdb_asof_chain",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, AsofChainSql)
      },
      Some(AsofChainSql)),

    GraftQuery("q197_duckdb_asof_mixed",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        T(s, d, "nation").createOrReplaceTempView("nation")
        graft.DuckDialect.sql(s, AsofMixedSql)
      },
      Some(AsofMixedSql)),

    GraftQuery("q198_duckdb_asof_subq",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, AsofSubqSql)
      },
      Some(AsofSubqSql)),

    GraftQuery("q199_duckdb_asof_right",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        T(s, d, "nation").createOrReplaceTempView("nation")
        graft.DuckDialect.sql(s, AsofRightSql)
      },
      Some(AsofRightSql)),

    GraftQuery("q200_duckdb_asof_tree",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, AsofTreeSql)
      },
      Some(AsofTreeSql)),

    GraftQuery("q202_duckdb_asof_natural",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, AsofNaturalSql)
      },
      Some(AsofNaturalSql)),

    GraftQuery("q203_duckdb_asof_nested",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, AsofNestedSql)
      },
      Some(AsofNestedSql)),

    GraftQuery("q204_duckdb_asof_multitree",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        T(s, d, "nation").createOrReplaceTempView("nation")
        graft.DuckDialect.sql(s, AsofMultiTreeSql)
      },
      Some(AsofMultiTreeSql)),

    GraftQuery("q205_duckdb_asof_using",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, AsofUsingSql)
      },
      Some(AsofUsingSql)),

    GraftQuery("q172_duckdb_dialect5",
      (s, d) => {
        T(s, d, "events").createOrReplaceTempView("events")
        graft.DuckDialect.sql(s, Dialect5Sql)
      },
      Some(Dialect5Sql)),

    GraftQuery("q173_duckdb_sample_rows",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, SampleRowsSql)
      },
      Some(SampleRowsSql)),

    GraftQuery("q174_duckdb_copy_to",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, copyToSparkSql(d))
      },
      Some(CopyToDuckSql)),

    GraftQuery("q175_duckdb_read_files",
      (s, d) => {
        // deterministic fixture from the nation DIM (25 rows — a
        // bounded-by-construction driver collect, like the eval panels)
        val rows = T(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect()
        val csv = new StringBuilder("k|name|rk\n")
        val nd = new StringBuilder
        rows.foreach { r =>
          val (k, nm, rk) = (r.getAs[Number](0).longValue,
            r.getString(1), r.getAs[Number](2).longValue)
          csv.append(s"$k|$nm|$rk\n")
          nd.append(s"""{"k":$k,"name":"$nm","rk":$rk}\n""")
        }
        // ATOMIC writes at the per-process path (r14): the atomic
        // move still guards against a reader inside THIS session seeing
        // a half-written file; cross-session collisions are gone with
        // the pid suffix.
        def atomicWrite(path: String, bytes: Array[Byte]): Unit = {
          val target = java.nio.file.Paths.get(path)
          val tmp = java.nio.file.Files.createTempFile(
            target.getParent, ".graft_q175_", ".tmp")
          java.nio.file.Files.write(tmp, bytes)
          java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        atomicWrite(Q175CsvPath,
          csv.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        atomicWrite(Q175NdPath,
          nd.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        graft.DuckDialect.sql(s, ReadFilesSql)
      },
      Some(ReadFilesSql)),

    GraftQuery("q194_duckdb_sniffed_csv",
      (s, d) => {
        // the q175 fixture discipline: deterministic 25-row nation dim,
        // atomic write at the per-process path embedded in both
        // engines' SQL (r14).
        // ';' delimiter, quoted name field (one value embeds a ';') —
        // the shapes a wrong sniff corrupts first.
        val rows = T(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect()
        val csv = new StringBuilder("k;name;rk\n")
        rows.foreach { r =>
          val (k, nm, rk) = (r.getAs[Number](0).longValue,
            r.getString(1), r.getAs[Number](2).longValue)
          val quoted = "\"" + nm.replace("\"", "\"\"") +
            (if (k % 5 == 0) ";x" else "") + "\""
          csv.append(s"$k;$quoted;$rk\n")
        }
        val target = java.nio.file.Paths.get(Q194CsvPath)
        val tmp = java.nio.file.Files.createTempFile(
          target.getParent, ".graft_q194_", ".tmp")
        java.nio.file.Files.write(tmp,
          csv.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.DuckDialect.sql(s, SniffedCsvSql)
      },
      Some(SniffedCsvSql)),

    GraftQuery("q201_duckdb_zstd_read",
      (s, d) => {
        // q175/q194 fixture discipline: deterministic 25-row nation
        // dim, atomic write at the per-process path embedded in both
        // engines' SQL — compressed with zstd-jni, the same library
        // Spark's read fallback decodes with. '|' delimiter, header,
        // no options in the SQL: codec AND dialect are auto-detected
        // end to end on both sides.
        val rows = T(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey").collect()
        val csv = new StringBuilder("k|name|rk\n")
        val nd = new StringBuilder
        rows.foreach { r =>
          val (k, nm, rk) = (r.getAs[Number](0).longValue,
            r.getString(1), r.getAs[Number](2).longValue)
          csv.append(s"$k|$nm|$rk\n")
          nd.append(s"""{"k":$k,"name":"$nm","rk":$rk}\n""")
        }
        def atomicWriteZst(path: String, text: String): Unit = {
          val target = java.nio.file.Paths.get(path)
          val tmp = java.nio.file.Files.createTempFile(
            target.getParent, ".graft_q201_", ".tmp")
          val out = new com.github.luben.zstd.ZstdOutputStream(
            java.nio.file.Files.newOutputStream(tmp))
          try out.write(
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        atomicWriteZst(Q201CsvZstPath, csv.toString)
        atomicWriteZst(Q201NdZstPath, nd.toString)
        graft.DuckDialect.sql(s, ZstdReadSql)
      },
      Some(ZstdReadSql)),

    GraftQuery("q186_duckdb_comma_series",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents")
        graft.DuckDialect.sql(s, CommaSeriesSql)
      },
      Some(CommaSeriesSql))
  )
}
