package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.fixtures.FixtureCorpus
import graft.fm.{QueryEngine, Settings}

/** Frontmatter-engine queries (SURVEY.md §2 Tier A, A1–A7 + B10–B12):
  * every entry runs the FULL product path — glob scan → distributed
  * frontmatter parse → Python-parity serialization → union-of-keys
  * `files` view → DuckDB-dialect SQL through [[QueryEngine.query]] — over
  * a corpus deterministically derived from `documents.parquet`, so the
  * DuckDB oracle can reconstruct the same table from `documents` (the
  * shared [[FixtureCorpus.filesCte]] prefix).
  */
object FrontmatterQueries {

  private val engines =
    graft.QueryCaches.register(TrieMap.empty[(Int, String), QueryEngine])

  private def engine(s: SparkSession, d: String): QueryEngine =
    engines.getOrElseUpdate((Tables.sessionKey(s), d), {
      val base = FixtureCorpus.ensure(s, d)
      new QueryEngine(s, Settings(base.toString, enableSemantic = false, "", None))
    })

  private def run(sql: String): (SparkSession, String) => DataFrame =
    (s, d) => engine(s, d).query("**/*.md", sql).results

  private val cte = FixtureCorpus.filesCte

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // README.md:101 flagship shape: string-compared date filter + ORDER DESC
    "q_fm_flagship" -> run(
      """SELECT path, created FROM files
        |WHERE created >= '2025-06-01' ORDER BY created DESC, path""".stripMargin),

    // B8 over the files table
    "q_fm_count" -> run("SELECT COUNT(*) AS n, COUNT(score) AS n_scored FROM files"),

    // B4: missing keys and absent frontmatter are NULL (tests/test_query.py:146-160)
    "q_fm_null" -> run(
      "SELECT path FROM files WHERE score IS NULL ORDER BY path"),

    // serializer-visible projection: ints, bools, floats as Python strings
    "q_fm_mixed_types" -> run(
      """SELECT path, id, published, score, n_chars, tags FROM files
        |ORDER BY path""".stripMargin),

    // B9: GROUP BY over a frontmatter property
    "q_fm_group_lang" -> run(
      """SELECT lang, COUNT(*) AS n FROM files
        |WHERE lang IS NOT NULL GROUP BY lang ORDER BY lang""".stripMargin),

    // B10+B11: README.md:304-310 verbatim idiom — FROM-position UNNEST over
    // a JSON-encoded array column, with the DuckDB schema-hint literal
    "q_fm_unnest_tags" -> run(
      """SELECT tag, COUNT(*) AS n
        |FROM files, UNNEST(from_json(tags, '["VARCHAR"]')) AS t(tag)
        |GROUP BY tag ORDER BY n DESC, tag""".stripMargin),

    // B12: list_contains alias (tests/test_query.py:98)
    "q_fm_list_contains" -> run(
      """SELECT path FROM files
        |WHERE list_contains(from_json(tags, '["VARCHAR"]'), 'spark')
        |ORDER BY path""".stripMargin),

    // JSON -> / ->> operators (VERDICT r12 item 2): the most-typed DuckDB
    // JSON idiom over the ADR-0006 JSON-encoded tags column and built
    // documents — chaining, from-the-back paths, ->-vs->> quoting, the
    // named-function spelling, and yyjson double re-serialization.
    "q_fm_json_ops" -> run(
      """SELECT path,
        |  tags ->> 0 AS t0,
        |  tags -> '$[#-1]' AS tl,
        |  tags -> 1 AS t1j,
        |  ('{"l": "' || lang || '", "n": ' || n_chars || '}') ->> '$.l' AS l,
        |  TRY_CAST(('{"l": "' || lang || '", "n": ' || n_chars || '}') ->> 'n' AS BIGINT) AS n,
        |  ('{"s": ' || score || '}') -> 's' AS s,
        |  ('{"o": {"t": ' || tags || '}}') -> 'o' -> 't' ->> 0 AS nest,
        |  json_extract_string(tags, '$[0]') AS named
        |FROM files ORDER BY path""".stripMargin),

    // B13: TRY_CAST typed ops over the all-strings schema (README.md:295-300)
    "q_fm_try_cast" -> run(
      """SELECT path, TRY_CAST(score AS DOUBLE) AS score_num
        |FROM files WHERE TRY_CAST(n_chars AS INT) > 300
        |ORDER BY path""".stripMargin),

    // B3+B5: LIKE patterns over derived string columns
    "q_fm_like" -> run(
      """SELECT path, category FROM files
        |WHERE category LIKE 'cat%' AND created LIKE '2025-0%'
        |ORDER BY path""".stripMargin),

    // B6+B7: top-k on string ordering (lexicographic in both engines)
    "q_fm_topk" -> run(
      "SELECT path, n_chars FROM files ORDER BY n_chars DESC, path LIMIT 20"),

    // Long-tail dialect: DuckDB QUALIFY (the most-used construct the
    // reference's verbatim passthrough grants that Spark SQL lacks) —
    // rewritten by Dialect.rewriteQualify into a window-in-subquery +
    // filter. Top-2 files per category; NULL placement is explicit on
    // both sides (Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST).
    "q_fm_qualify" -> run(
      """SELECT path, category, n_chars FROM files
        |QUALIFY row_number() OVER (PARTITION BY category ORDER BY n_chars DESC NULLS LAST, path) <= 2
        |ORDER BY category NULLS FIRST, path""".stripMargin),

    // Long-tail dialect: DuckDB's simplified PIVOT statement →
    // conditional aggregation via Dialect.rewritePivot, with the hidden
    // DISTINCT value-discovery pass made explicit (QueryEngine supplies
    // it from the files view). Lang is NULL for every doc_id%100==7
    // file — NULLs pivot to no column (DuckDB semantics) but their rows
    // still group, so the NULL-source group row shows all-zero cells.
    "q_fm_pivot" -> run(
      """PIVOT files ON lang USING count(*)
        |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin),

    // Long-tail dialect: DuckDB's simplified UNPIVOT statement →
    // Spark's native UNPIVOT clause via Dialect.rewriteUnpivot (pure
    // syntax mapping; both engines drop NULL cells by default). Every
    // frontmatter property except path folds into (prop, val) rows.
    "q_fm_unpivot" -> run(
      """UNPIVOT files
        |ON id, lang, source, n_chars, created, tags, published, score, category
        |INTO NAME prop VALUE val
        |ORDER BY path, prop LIMIT 60""".stripMargin),

    // Long-tail dialect: DuckDB's `SUMMARIZE` statement → one-pass
    // per-column profile via Dialect.rewriteSummarize (schema from the
    // files view; exact distinct counts where DuckDB estimates).
    "q_fm_summarize" -> run("SUMMARIZE files"),

    // Long-tail dialect: ASOF JOIN in user SQL → Dialect.rewriteAsof
    // desugars to the union + ordered-carry shape (same plan family as
    // ops/AsOfJoin — one shuffle on the key, no range probe, build row
    // carried as ONE struct). The two sides are session views derived
    // from events; DuckDB's native ASOF JOIN is the oracle. Inner form:
    // purchases with no prior signup are dropped on both engines.
    "q_fm_asof" -> ((s, d) => {
      Tables.load(s, d, "events")
        .filter(col("event_type") === "purchase")
        .selectExpr("event_id", "user_id", "unix_micros(ts) AS tsu")
        .createOrReplaceTempView("graft_asof_p")
      Tables.load(s, d, "events")
        .filter(col("event_type") === "signup")
        .selectExpr("event_id AS sid", "user_id AS suser",
          "unix_micros(ts) AS stsu")
        .createOrReplaceTempView("graft_asof_s")
      engine(s, d).query("**/*.md",
        """SELECT * FROM graft_asof_p p ASOF JOIN graft_asof_s m
          |ON p.user_id = m.suser AND p.tsu >= m.stsu
          |ORDER BY event_id""".stripMargin).results
    }),

    // Long-tail dialect: DuckDB `* EXCLUDE (...)` star modifier →
    // Spark's `* EXCEPT (...)` via Dialect.rewriteExclude.
    "q_fm_exclude" -> run(
      "SELECT * EXCLUDE (tags, score) FROM files ORDER BY path LIMIT 25"),

    // Long-tail dialect: `* REPLACE (expr AS col)` star modifier →
    // EXCEPT + re-projection via Dialect.rewriteReplace. Replaced
    // columns land at the END of the projection here but stay in place
    // in DuckDB — the compare keys on column NAME, and the engine's
    // response surface is name-keyed dicts, so both are the same result.
    "q_fm_replace" -> run(
      """SELECT * REPLACE (upper(category) AS category, n_chars || '!' AS n_chars)
        |FROM files ORDER BY path LIMIT 25""".stripMargin),

    // Long-tail dialect: DuckDB list comprehension (with IF filter) →
    // transform/filter higher-order functions via Dialect.rewriteListComp,
    // plus the array_to_string → array_join alias.
    "q_fm_listcomp" -> run(
      """SELECT path,
        |  array_to_string([upper(t) FOR t IN from_json(tags, '["VARCHAR"]') IF t <> 'the'], '|') AS tags_up
        |FROM files WHERE tags IS NOT NULL ORDER BY path""".stripMargin),

    // Long-tail dialect: DuckDB/Postgres DISTINCT ON → row_number window
    // + filter via Dialect.rewriteDistinctOn. One row per category (the
    // longest doc, path tie-break), result ordered like DuckDB orders it.
    "q_fm_distinct_on" -> run(
      """SELECT DISTINCT ON (category) category, path, n_chars FROM files
        |WHERE category IS NOT NULL
        |ORDER BY category, n_chars DESC, path""".stripMargin),

    // Long-tail dialect: the DuckDB list_* function family as aliases —
    // list_filter/list_transform (lambdas through the alias seam),
    // list_distinct + list_sort (sort normalizes the two engines'
    // distinct ordering), array_to_string.
    "q_fm_listfns" -> run(
      """SELECT path,
        |  array_to_string(list_sort(list_distinct(
        |    list_transform(list_filter(from_json(tags, '["VARCHAR"]'), t -> t <> 'the'),
        |                   t -> upper(t)))), ',') AS tags_norm
        |FROM files WHERE tags IS NOT NULL ORDER BY path""".stripMargin),

    // Long-tail dialect: strftime %-codes translated to a java pattern at
    // function-resolution time (Dialect.register), plus GROUP BY ALL /
    // ORDER BY ALL — both native in Spark 4 AND DuckDB, so the same text
    // runs verbatim on both sides.
    "q_fm_strftime" -> run(
      """SELECT strftime(CAST(created AS DATE), '%Y-%m') AS ym, COUNT(*) AS n
        |FROM files WHERE created IS NOT NULL
        |GROUP BY ALL ORDER BY ALL""".stripMargin),

    // Long-tail dialect: WITH RECURSIVE runs NATIVELY in Spark 4 (no
    // rewrite) — prove the passthrough end-to-end with a recursive
    // generator joined back to the files view.
    "q_fm_recursive" -> run(
      """WITH RECURSIVE r(n) AS (SELECT 0 UNION ALL SELECT n + 1 FROM r WHERE n < 6)
        |SELECT 'cat' || CAST(r.n AS STRING) AS category, COUNT(f.path) AS n_files
        |FROM r LEFT JOIN files f ON f.category = 'cat' || CAST(r.n AS STRING)
        |GROUP BY r.n ORDER BY r.n""".stripMargin),

    // Long-tail dialect: DuckDB bracket syntax with exact 1-based
    // semantics — literals → array(), indexing → element_at (1-based in
    // both engines), inclusive slices → slice() — via
    // Dialect.rewriteBrackets. The same text runs verbatim on DuckDB.
    "q_fm_bracket" -> run(
      """SELECT path,
        |  from_json(tags, '["VARCHAR"]')[1] AS tag1,
        |  string_split(path, '/')[2] AS fname,
        |  array_to_string(string_split(path, '/')[1:2], '|') AS both_parts,
        |  ['x', lang][2] AS lang2
        |FROM files WHERE tags IS NOT NULL ORDER BY path""".stripMargin),

    // Long-tail dialect: COLUMNS('regex') star expansion resolved against
    // the files view schema (Dialect.rewriteColumns; DuckDB runs it
    // natively). Anchored regex so RE2-partial and find() agree trivially.
    "q_fm_columns" -> run(
      """SELECT COLUMNS('^(path|n_chars|category)$') FROM files
        |ORDER BY path LIMIT 25""".stripMargin),

    // COLUMNS lambda form: the predicate runs over the column NAMES
    // (Dialect.evalColumnsLambda — LIKE/SIMILAR TO/equality shapes).
    "q_fm_columns_lambda" -> run(
      """SELECT path, COLUMNS(c -> c LIKE 'c%') FROM files
        |WHERE category IS NOT NULL ORDER BY path LIMIT 25""".stripMargin),

    // COLUMNS in one-arg function position — DuckDB's per-column
    // aggregate idiom, expanded to one call per matched column with an
    // explicit `AS col` alias: DuckDB names the expansion after the
    // bare COLUMN (n_chars, not min(n_chars)), and the rewrite must
    // mirror that for the exact-name oracle compare. The files view is
    // all-strings, so min/max are lexicographic in both engines.
    "q_fm_columns_agg" -> run(
      """SELECT category, COUNT(*) AS n, min(COLUMNS('^(n_chars|id)$'))
        |FROM files WHERE category IS NOT NULL
        |GROUP BY category ORDER BY category""".stripMargin),

    // Long-tail dialect: the combined `* EXCLUDE (...) REPLACE (...)`
    // star-modifier spelling merges into one EXCEPT + re-projection
    // (Dialect.rewriteReplace's combined path).
    "q_fm_exclude_replace" -> run(
      """SELECT * EXCLUDE (tags, score, source) REPLACE (upper(category) AS category)
        |FROM files ORDER BY path LIMIT 25""".stripMargin),

    // Long-tail dialect: DuckDB struct literals → named_struct via
    // Dialect.rewriteStructLit; field access on the rewritten struct is
    // native in both engines.
    "q_fm_struct" -> run(
      """SELECT path,
        |  ({'cat': category, 'len': TRY_CAST(n_chars AS INT)}).cat AS cat2,
        |  ({'cat': category, 'len': TRY_CAST(n_chars AS INT)}).len AS len2
        |FROM files WHERE category IS NOT NULL ORDER BY path""".stripMargin),

    // Long-tail dialect: arg_max/arg_min → max_by/min_by aliases. The
    // ordering key is made UNIQUE (n_chars scaled + id) so the pick is
    // deterministic in both engines.
    "q_fm_aggfns" -> run(
      """SELECT category,
        |  arg_max(path, TRY_CAST(n_chars AS BIGINT) * 1000000 + TRY_CAST(id AS BIGINT)) AS longest,
        |  arg_min(path, TRY_CAST(n_chars AS BIGINT) * 1000000 + TRY_CAST(id AS BIGINT)) AS shortest,
        |  COUNT(*) AS n
        |FROM files WHERE category IS NOT NULL
        |GROUP BY category ORDER BY category""".stripMargin),

    // Long-tail dialect: strptime (strftime's inverse, same %-code
    // translation) and epoch_us/epoch_ms → unix_micros/unix_millis.
    // Both engines parse the naive date under UTC, so the micros agree.
    // date_diff('day', …) rides the DuckDB alias → Spark timestampdiff;
    // complete-unit vs boundary-crossing semantics coincide on the
    // midnight-aligned created dates.
    "q_fm_datefns" -> run(
      """SELECT strftime(strptime(created, '%Y-%m-%d'), '%Y/%m') AS ym,
        |  MIN(epoch_us(strptime(created, '%Y-%m-%d'))) AS first_us,
        |  date_diff('day', strptime(MIN(created), '%Y-%m-%d'),
        |            strptime(MAX(created), '%Y-%m-%d')) AS span_days,
        |  COUNT(*) AS n
        |FROM files WHERE created IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // DuckDB's FROM-first statement form (bare FROM selects *, SELECT
    // reordered after the table expression) — Dialect.rewriteFromFirst.
    "q_fm_fromfirst" -> run(
      """FROM files SELECT lang, COUNT(*) AS n
        |WHERE lang IS NOT NULL GROUP BY lang ORDER BY lang""".stripMargin),

    // SIMILAR TO (full regex match) and GLOB (fnmatch-style, full match),
    // both Dialect rewrites to anchored RLIKE. The '\.' survives because
    // the engine parses dialect SQL in raw-literal mode (DuckDB keeps
    // backslashes in strings; QueryEngine scopes escapedStringLiterals).
    "q_fm_similar" -> run(
      """SELECT path,
        |  path SIMILAR TO 'web/.*' AS in_web,
        |  path GLOB '*/doc_000??.md' AS low_id
        |FROM files
        |WHERE path GLOB '*.md' AND category IS NOT NULL
        |  AND path NOT SIMILAR TO '.*[05]\.md'
        |ORDER BY path LIMIT 40""".stripMargin),

    // DuckDB arithmetic operators: // integer division (Spark DIV), and
    // ** / ^ power — Dialect.rewriteMathOps, semantics pinned against
    // DuckDB (left-assoc, tighter than *, unary minus binds tighter).
    "q_fm_mathops" -> run(
      """SELECT path,
        |  TRY_CAST(n_chars AS BIGINT) // 100 AS hundreds,
        |  (TRY_CAST(id AS BIGINT) % 7) ** 2 AS pow7,
        |  (TRY_CAST(id AS BIGINT) % 5) ^ 3 AS cube5,
        |  -2 ** 2 AS neg_sq
        |FROM files WHERE id IS NOT NULL ORDER BY path LIMIT 50""".stripMargin),

    // CREATE MACRO: scalar + table macros, connection-scoped, expanded
    // textually at call sites (DuckDB's documented model); multi-statement
    // script through the engine's splitStatements path.
    "q_fm_macro" -> run(
      """CREATE OR REPLACE MACRO char_share(a, b) AS
        |  TRY_CAST(a AS DOUBLE) / NULLIF(TRY_CAST(b AS DOUBLE), 0);
        |CREATE OR REPLACE MACRO in_cat(c) AS TABLE
        |  SELECT path AS cpath, n_chars AS cn FROM files WHERE category = c;
        |SELECT f.path,
        |  CAST(FLOOR(char_share(f.id, f.n_chars) * 1000) AS BIGINT) AS permille
        |FROM files f JOIN in_cat('cat0') t ON t.cpath = f.path
        |ORDER BY f.path""".stripMargin),

    // Window-frame EXCLUDE — all three non-default modes in one
    // statement (rewriteWindowExclude + rewriteExcludePeers): CURRENT
    // ROW over a bounded frame with a unique order key; GROUP and TIES
    // over tied order keys with peer-group-aligned frames (the only
    // frames deterministic under ties in EITHER engine — see the fuzz
    // family note). Pinned here so the driver's CORRECTNESS artifact
    // covers the construct, not just the fuzzer (VERDICT r10 item 1).
    // The window sum projects through CAST(... AS BIGINT) in an outer
    // select: DuckDB's sum(BIGINT) is HUGEINT, which the driver's gate
    // materializes as float64 against Spark's int64 — equal values,
    // dtype-sensitive hash mismatch (verdict r11). The outer wrap keeps
    // the EXCLUDE rewrite's input window call textually untouched.
    "q_fm_win_exclude" -> run(
      """SELECT path, CAST(s_excl AS BIGINT) AS s_excl, n_grp, a_ties FROM (
        |SELECT path,
        |  sum(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY path
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS s_excl,
        |  count(*) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS n_grp,
        |  avg(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS a_ties
        |FROM files) ORDER BY path""".stripMargin),

    // RANGE-frame EXCLUDE (rewriteExcludeRange): peer-aligned frames
    // make every mode deterministic under tied order keys, and the
    // value-offset frame exercises the numeric-key path.
    "q_fm_win_exclude_range" -> run(
      """SELECT path,
        |  sum(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS s_grp,
        |  count(*) OVER (PARTITION BY category ORDER BY TRY_CAST(n_chars AS BIGINT) % 7 NULLS LAST
        |    RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE TIES) AS n_ties,
        |  avg(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
        |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS a_cur
        |FROM files ORDER BY path""".stripMargin),

    // min/max over EXCLUDE GROUP/TIES and RANGE EXCLUDE CURRENT ROW —
    // the two-layer restructure (Dialect.restructureMinMaxExclude):
    // extremes don't recombine by subtraction, so the enclosing SELECT
    // gains an inner helper-window layer. Peer-aligned frames keep
    // every column deterministic under tied order keys.
    "q_fm_win_exclude_minmax" -> run(
      """SELECT path,
        |  min(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS mn_grp,
        |  max(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS mx_ties,
        |  min(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mn_cur
        |FROM files ORDER BY path""".stripMargin),

    // MAP literals + the map/struct function family
    // (rewriteMapLiteral/rewriteStructLit + registered aliases); lookup
    // forms are deliberately absent — DuckDB 1.0 (the checker) returns
    // one-element lists where the engine follows modern scalar
    // semantics (documented divergence, unit-spec covered).
    // List outputs project through array_to_string: the driver's gate
    // cannot sort LIST-valued result cells (pandas "unhashable
    // numpy.ndarray", verdict r11), and both engines' array_to_string
    // shares string_agg semantics (NULL elements skipped, all-NULL →
    // NULL), so the joined form is value-identical.
    "q_fm_map_fns" -> run(
      """SELECT path,
        |  array_to_string(map_keys(MAP {'lang': lang, 'cat': category}), ',') AS mkeys,
        |  array_to_string(map_values(MAP {'lang': lang, 'cat': category}), ',') AS mvals,
        |  cardinality(MAP {'lang': lang, 'cat': category}) AS mcard,
        |  ({'cat2': category, 'len2': TRY_CAST(n_chars AS INT)}).len2 AS slen,
        |  struct_extract({'cat2': category, 'len2': TRY_CAST(n_chars AS INT)}, 'cat2') AS scat
        |FROM files WHERE category IS NOT NULL ORDER BY path LIMIT 40""".stripMargin),

    // DuckDB-semantics regexp_replace (graft.fm.DuckRegexpReplace):
    // first-match-only default, 'g' global, 'i' fold, RE2 single-digit
    // backreference spelling.
    "q_fm_regexp_replace" -> run(
      """SELECT path,
        |  regexp_replace(path, '[0-9]', 'N') AS first_only,
        |  regexp_replace(path, '[0-9]', 'N', 'g') AS all_digits,
        |  regexp_replace(path, '(doc)_([0-9]+)', '\2-\1', 'g') AS swapped,
        |  regexp_replace(path, 'SRC', 'S#', 'i') AS folded
        |FROM files ORDER BY path LIMIT 40""".stripMargin),

    // Session-scoped table DDL in a user script (CTAS + INSERT INTO +
    // query over the table — the DuckDB connection model). CREATE OR
    // REPLACE keeps the script idempotent across the bench's repeated
    // passes over one engine instance.
    "q_fm_session_ddl" -> run(
      """CREATE OR REPLACE TABLE fm_sess AS
        |  SELECT path, category, TRY_CAST(n_chars AS BIGINT) AS len
        |  FROM files WHERE category IN ('cat0', 'cat1');
        |INSERT INTO fm_sess
        |  SELECT path, category, TRY_CAST(n_chars AS BIGINT) AS len
        |  FROM files WHERE category = 'cat2';
        |SELECT category, COUNT(*) AS n, CAST(SUM(len) AS BIGINT) AS chars
        |FROM fm_sess GROUP BY category ORDER BY category""".stripMargin),

    // GROUPING SETS + grouping() through the passthrough surface —
    // grouping() distinguishes rolled-up NULLs from the data NULLs the
    // nullable keys produce (identical spelling both engines).
    "q_fm_grouping_sets" -> run(
      """SELECT lang, category, grouping(lang) AS gl, grouping(category) AS gc,
        |  COUNT(*) AS n
        |FROM files
        |GROUP BY GROUPING SETS ((lang), (category), (lang, category), ())
        |ORDER BY gl, gc, lang NULLS FIRST, category NULLS FIRST""".stripMargin),

    // In-aggregate ORDER BY (DuckDB) → WITHIN GROUP (Spark listagg) —
    // Dialect.rewriteOrderedAgg; DISTINCT composes in both engines.
    "q_fm_stringagg" -> run(
      """SELECT category,
        |  string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
        |  COUNT(*) AS n
        |FROM files WHERE category IS NOT NULL AND lang IS NOT NULL
        |GROUP BY category ORDER BY category""".stripMargin),

    // ILIKE (native both engines) + starts_with/ends_with/split_part
    // parity (registered aliases for Spark's startswith/endswith).
    "q_fm_ilike" -> run(
      """SELECT path, split_part(path, '/', 2) AS fname
        |FROM files
        |WHERE path ILIKE '%.MD' AND ends_with(path, '.md')
        |  AND starts_with(path, 'src') AND category IS NOT NULL
        |ORDER BY path LIMIT 30""".stripMargin),

    // DuckDB's bare SEMI JOIN / ANTI JOIN keywords (left variants) —
    // Spark 4.1 parses the unprefixed forms natively, no rewrite.
    "q_fm_semijoin" -> run(
      """SELECT f.path, f.lang FROM files f
        |SEMI JOIN (SELECT path AS p FROM files WHERE lang IN ('en','fr')) e
        |  ON f.path = e.p
        |ANTI JOIN (SELECT path AS q FROM files WHERE category = 'cat0') c
        |  ON f.path = c.q
        |ORDER BY f.path LIMIT 40""".stripMargin),

    // DuckDB's UNION ALL BY NAME: name-matched set union, missing
    // columns NULL — Dialect.rewriteUnionByName (LIMIT-0 schema probes
    // through the full rewrite chain, then aligned projections).
    "q_fm_union_byname" -> run(
      """SELECT lang, COUNT(*) AS n
        |FROM files WHERE lang IS NOT NULL GROUP BY lang
        |UNION ALL BY NAME
        |SELECT category, COUNT(*) AS n, 'cat' AS kind
        |FROM files WHERE category IS NOT NULL GROUP BY category
        |ORDER BY kind NULLS FIRST, lang NULLS FIRST,
        |  category NULLS FIRST, n""".stripMargin),

    // Distributional aggregates (DuckDB names Spark lacks): exact
    // grouped quantiles — interpolated (DOUBLE out), discrete over a
    // BIGINT and over strings (type-generic CountsAggregate) — plus the
    // quantile alias and median. Fractions stay on quarters so the
    // interpolation products are integer-exact in a double (see
    // DistributionalExpressions); the `dist_agg` fuzz family covers the
    // wider fraction/shape space.
    "q_fm_quantiles" -> run(
      """SELECT lang,
        |  quantile_cont(TRY_CAST(n_chars AS BIGINT), 0.25) AS qc,
        |  quantile_disc(TRY_CAST(n_chars AS BIGINT), 0.3) AS qd,
        |  quantile(path, 0.5) AS qp,
        |  median(TRY_CAST(n_chars AS BIGINT)) AS med,
        |  COUNT(*) AS n
        |FROM files WHERE lang IS NOT NULL
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Quantile LISTS (list in → list out), negative from-the-end
    // fractions, and median over DATEs (interpolated TIMESTAMP out).
    // The list-typed quantiles stay under test in the inner select; the
    // outer select indexes them back to scalars (1-based brackets on
    // both engines) because the driver's gate cannot sort LIST cells.
    "q_fm_quantile_list" -> run(
      """SELECT qs[1] AS q1, qs[2] AS q2, qs[3] AS q3,
        |  qn[1] AS qn1, qn[2] AS qn2, qneg, mdate FROM (
        |SELECT
        |  quantile_cont(TRY_CAST(n_chars AS BIGINT), [0.25, 0.5, 0.75]) AS qs,
        |  quantile_disc(TRY_CAST(n_chars AS BIGINT), [-0.75, -0.25]) AS qn,
        |  quantile_disc(TRY_CAST(n_chars AS BIGINT), -0.25) AS qneg,
        |  median(TRY_CAST(created AS DATE)) AS mdate
        |FROM files)""".stripMargin),

    // histogram(): exact value→count MAP with ascending keys, projected
    // through map_keys/map_values (the gate's canonical row form
    // stringifies a raw MAP differently per engine, lists identically).
    // (the ascending-key lists then join to strings for the driver's
    // gate, which cannot sort LIST cells — order is deterministic, so
    // the joined form is a faithful canonical projection).
    "q_fm_histogram" -> run(
      """SELECT source,
        |  array_to_string(map_keys(histogram(lang)), ',') AS langs,
        |  array_to_string(map_values(histogram(lang)), ',') AS lang_counts,
        |  array_to_string(map_keys(histogram(TRY_CAST(n_chars AS BIGINT) % 5)), ',') AS mods,
        |  array_to_string(map_values(histogram(TRY_CAST(n_chars AS BIGINT) % 5)), ',') AS mod_counts
        |FROM files WHERE source IS NOT NULL
        |GROUP BY source ORDER BY source""".stripMargin),

    // mode() (Spark's builtin, DuckDB semantics; the CASE keeps the max
    // structurally unique — a tie's winner is scan-order in both
    // engines) and product() (DOUBLE; powers of two stay order-exact).
    "q_fm_mode_product" -> run(
      """SELECT
        |  mode(CASE WHEN TRY_CAST(n_chars AS BIGINT) % 2 = 0 THEN 'even' ELSE path END) AS mo,
        |  product(CASE WHEN TRY_CAST(n_chars AS BIGINT) % 7 = 0 THEN 2.0 ELSE 1.0 END) AS pr,
        |  product(CASE WHEN id IS NULL THEN NULL ELSE 0.5 END) AS ph
        |FROM files""".stripMargin),

    // generate_series/range as TABLE functions (FROM position →
    // Dialect.rewriteSeriesFrom explode subquery) and as SCALAR list
    // functions, inclusive vs exclusive ends, len() over a real LIST.
    // (the scalar range() list joins to a string for the driver's gate,
    // which cannot sort LIST cells; the list construct stays under test.)
    "q_fm_series" -> run(
      """SELECT f.path AS p, gs.generate_series AS n,
        |  array_to_string(range(1, 1 + gs.generate_series), ',') AS r,
        |  len(range(0, gs.generate_series)) AS ln
        |FROM files f CROSS JOIN generate_series(1, 3) gs
        |WHERE f.category IS NOT NULL
        |ORDER BY p, n LIMIT 60""".stripMargin),

    // WITH RECURSIVE joined on a COMPUTED key (modulo bucket) — the
    // existing q_fm_recursive covers the bare construct; this one makes
    // the recursion's output a join key derived from corpus data.
    "q_fm_recursive_seq" -> run(
      """WITH RECURSIVE seq(n) AS (
        |  SELECT 1 UNION ALL SELECT n + 1 FROM seq WHERE n < 8)
        |SELECT seq.n AS n, COUNT(f.path) AS docs
        |FROM seq LEFT JOIN files f
        |  ON TRY_CAST(f.n_chars AS BIGINT) % 8 + 1 = seq.n
        |GROUP BY seq.n ORDER BY seq.n""".stripMargin),

    // String-similarity family (codegen'd kernels; Spark ships only
    // levenshtein). Similarity DOUBLES round to 9 digits on both sides:
    // the engines agree on the standard formulas but may order the Jaro
    // term sum differently, and the gate compares bits.
    "q_fm_strdist" -> run(
      """SELECT path,
        |  levenshtein(path, reverse(path)) AS lv,
        |  editdist3(substr(path, 1, 8), 'src-doc!') AS ed,
        |  damerau_levenshtein(coalesce(lang, 'xx'), 'end') AS dl,
        |  round(jaccard(path, 'source/dmc.0123456789'), 9) AS jc,
        |  round(jaro_similarity(path, upper(path)), 9) AS js,
        |  round(jaro_winkler_similarity(path, substr(path, 1, 10)), 9) AS jw,
        |  hamming(substr(path, 1, 6), substr(upper(path), 1, 6)) AS hm
        |FROM files ORDER BY path LIMIT 50""".stripMargin),

    // list_* reductions: a sequential left fold inside each row, so
    // even fractional averages are order-identical across engines.
    // list_sum casts to BIGINT: DuckDB's fold yields HUGEINT, which the
    // driver's gate float64-materializes against Spark's int64 (equal
    // values, dtype-sensitive hash — the q_fm_session_ddl convention).
    "q_fm_list_fns" -> run(
      """SELECT path,
        |  CAST(list_sum(generate_series(1, 1 + (len(path) % 5))) AS BIGINT) AS ls,
        |  list_count(from_json(tags, '["VARCHAR"]')) AS lc,
        |  list_min(string_split(path, '/')) AS lmin,
        |  list_aggregate(from_json(tags, '["VARCHAR"]'), 'string_agg', '|') AS lsa,
        |  round(list_avg([len(path), TRY_CAST(n_chars AS BIGINT) % 7, 3]), 9) AS lav
        |FROM files WHERE tags IS NOT NULL ORDER BY path LIMIT 40""".stripMargin),

    // r12 breadth-parity batch (fn_parity fuzz family's pinned row):
    // math kernels (gcd/lcm/even/fdiv/fmod, TINYINT sign, type-
    // preserving trunc, log10-meaning log), BIGINT date extraction
    // (century/isodow/isoyear/yearweek), boundary-counting date_diff vs
    // complete-counting date_sub, DATE-preserving date_trunc, DuckDB-
    // order trim, byte-length strlen, codepoint chr, and a negative-
    // bound list slice projected through array_to_string.
    "q_fm_fn_parity" -> run(
      """SELECT path,
        |  gcd(len(path) + 24, 18) AS g1,
        |  lcm(len(path) % 7, 6) AS g2,
        |  even((len(path) % 19) / CAST(4.0 AS DOUBLE)) AS ev,
        |  fdiv(TRY_CAST(n_chars AS BIGINT) - 50, 7) AS fd,
        |  fmod(TRY_CAST(n_chars AS BIGINT) - 50, 7) AS fm,
        |  sign(TRY_CAST(n_chars AS BIGINT) - 250) AS sg,
        |  trunc((TRY_CAST(n_chars AS BIGINT) - 250) / CAST(4.0 AS DOUBLE)) AS tr,
        |  round(log(len(path) + 2), 9) AS lg,
        |  century(TRY_CAST(created AS DATE)) AS ce,
        |  isodow(TRY_CAST(created AS DATE)) AS idw,
        |  isoyear(TRY_CAST(created AS DATE)) AS iy,
        |  yearweek(TRY_CAST(created AS DATE)) AS yw,
        |  date_diff('month', TRY_CAST(created AS DATE), DATE '2025-06-15') AS dd,
        |  date_sub('month', TRY_CAST(created AS DATE), DATE '2025-06-15') AS ds,
        |  date_trunc('week', TRY_CAST(created AS DATE)) AS dtw,
        |  strlen(path) AS sl,
        |  ltrim(path, 'srcd/') AS lt,
        |  trim(path, 'srcd/.m') AS tm2,
        |  nfc_normalize(path || 'e' || chr(769)) AS nfc,
        |  array_to_string(list_slice(string_split(path, '/'), -2, -1), '|') AS sli
        |FROM files ORDER BY path LIMIT 60""".stripMargin),

    // r12 aggregate-parity batch (dist_agg fuzz family cases 6/7):
    // Shannon entropy (bits, 0.0 on empty), exact interpolated MAD,
    // bias-corrected sample skewness/kurtosis (DuckDB's G1/G2 vs
    // Spark's biased moments — converted over the same pass), and the
    // Kahan-named fsum. Moment doubles round(5)+0.0: streaming-vs-
    // direct accumulation differs near cancellation and -0.0 folds in.
    "q_fm_agg_parity" -> run(
      """SELECT category AS g,
        |  round(entropy(TRY_CAST(n_chars AS BIGINT) % 5), 9) AS en,
        |  round(entropy(lang), 9) AS el,
        |  mad(TRY_CAST(n_chars AS BIGINT)) AS md,
        |  round(skewness(TRY_CAST(n_chars AS BIGINT)), 5) + 0.0 AS sk,
        |  round(kurtosis(TRY_CAST(n_chars AS BIGINT)), 5) + 0.0 AS ku,
        |  fsum(TRY_CAST(n_chars AS BIGINT) / 4.0) AS fs,
        |  COUNT(*) AS n
        |FROM files GROUP BY category ORDER BY g NULLS FIRST""".stripMargin),

    // LATERAL correlated subqueries + VALUES relations (native both
    // engines; proves the passthrough composes with the rewrites).
    "q_fm_lateral_values" -> run(
      """SELECT t.v AS v, t.k AS k, COUNT(f.path) AS n, l.tag AS tag
        |FROM (VALUES ('en', 1), ('fr', 2), ('zz', 3)) t(v, k)
        |LEFT JOIN files f ON f.lang = t.v
        |LEFT JOIN LATERAL (SELECT t.v || '-' || CAST(t.k AS STRING) AS tag) l ON true
        |GROUP BY t.v, t.k, l.tag ORDER BY t.k""".stripMargin),

    // Scalar parity batch: fmt-style format + strictly-typed printf
    // (NULL anywhere → NULL), strip_accents, unicode/ord, to_base
    // (uppercase, zero-padded), format_bytes (truncated decimal),
    // dayname/monthname, origin-aligned time_bucket, negative-n
    // left/right.
    "q_fm_scalar_parity" -> run(
      """SELECT path,
        |  format('{:05d}|{:>4}|{:,}', TRY_CAST(n_chars AS BIGINT) % 431,
        |         substr(path, 1, 3), len(path) * 123456) AS f1,
        |  format('{:.2f}', (TRY_CAST(n_chars AS BIGINT) % 64) / 4.0) AS f2,
        |  printf('%s=%x', substr(path, 1, 6), len(path)) AS p1,
        |  printf('%d', TRY_CAST(id AS BIGINT)) AS p2,
        |  strip_accents(path) AS sa, unicode(path) AS uc,
        |  to_base(len(path), 16, 4) AS tb,
        |  format_bytes(TRY_CAST(n_chars AS BIGINT) * 797) AS fb,
        |  dayname(TRY_CAST(created AS DATE)) AS dn,
        |  monthname(TRY_CAST(created AS DATE)) AS mn,
        |  time_bucket(INTERVAL 1 WEEK, TRY_CAST(created AS DATE)) AS tw,
        |  time_bucket(INTERVAL 3 MONTH, TRY_CAST(created AS DATE)) AS tm,
        |  left(path, -8) AS lf, right(path, -8) AS rt
        |FROM files ORDER BY path LIMIT 50""".stripMargin),

    // POSITIONAL JOIN (DuckDB ordinal alignment; no Spark operator) —
    // both sides materialize through a zipWithIndex full-outer join on
    // the ordinal, shorter side NULL-padded. Sides are ORDER BY'd: the
    // only row order that exists in both engines.
    "q_fm_positional" -> run(
      """SELECT * FROM
        |  (SELECT path AS p, n_chars AS nc FROM files ORDER BY path LIMIT 8)
        |POSITIONAL JOIN
        |  (SELECT path AS q, lang AS lg FROM files ORDER BY path DESC LIMIT 5)
        |ORDER BY p NULLS FIRST""".stripMargin),

    // DuckDB's DESCRIBE statement (subquery table-function form, with a
    // deterministic ORDER BY per the gate contract) —
    // Dialect.rewriteDescribe resolves the files view's schema through a
    // LIMIT-0 probe and splices the six-column DuckDB shape.
    "q_fm_describe" -> run(
      """SELECT column_name, column_type
        |FROM (DESCRIBE SELECT * FROM files)
        |ORDER BY column_name""".stripMargin),

    // A7: query_inspect schema inference, one fold over the cached records
    "q_fm_inspect" -> ((s, d) => {
      val (_, schemaDf, _) = engine(s, d).inspect("**/*.md")
      schemaDf.orderBy("property")
    }),

    // B15 over the product surface: the parsed files view joins other
    // warehouse tables — frontmatter `id` (a string, per the all-strings
    // model) cast and equi-joined to documents.doc_id, with dims
    // broadcast-able; the switch-over story is "your corpus metadata
    // participates in ordinary SQL against the rest of the lake".
    "q_fm_join_docs" -> ((s, d) => {
      val e = engine(s, d)
      val (files, _) = e.filesTable("**/*.md")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang").as("d_lang"), col("n_chars").as("d_chars"))
      files
        .join(docs, expr("CAST(id AS BIGINT)") === col("doc_id"))
        .filter(col("published") === "True")
        .groupBy(col("d_lang").as("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("d_chars")).as("chars_total"))
        .orderBy("lang")
    }),

    // A12–A19 end-to-end: copy the src0 subtree, run a deterministic
    // mutation pipeline (array add → sort → unique → update/unset →
    // array remove), then query the mutated corpus. The oracle replays
    // the same decision tables in SQL over `documents`.
    "q_fm_mutations" -> ((s, d) => {
      import graft.fm.Mutations
      val base = FixtureCorpus.ensure(s, d)
      val work = java.nio.file.Paths.get(
        "/tmp/graft_fm_mut_" + d.replaceAll("[^A-Za-z0-9.]+", "_"))
      deleteRecursively(work)
      copyTree(base.resolve("src0"), work.resolve("src0"))
      Mutations.batchArrayAdd(work, "**/*.md", "tags", "newtag")
      Mutations.batchArraySort(work, "**/*.md", "tags")
      Mutations.batchArrayUnique(work, "**/*.md", "tags")
      Mutations.batchUpdate(work, "**/*.md",
        setValues = Map("status" -> "reviewed"), unset = Seq("score"))
      Mutations.batchArrayRemove(work, "**/*.md", "tags", "the")
      val e = new QueryEngine(s, Settings(work.toString, enableSemantic = false, "", None))
      e.query("**/*.md",
        "SELECT path, tags, status, n_chars FROM files ORDER BY path").results
    }),

    // A14's SCALE path under the same oracle discipline as the driver
    // loop: the update runs through batchUpdateDistributed (path list
    // shipped to executors, per-partition file rewrites, no cross-file
    // state), then the mutated corpus is queried back. Semantics are
    // identical to batchUpdate — set creates frontmatter where absent,
    // unset pops — so the oracle replays the same decision table.
    "q_fm_mutations_dist" -> ((s, d) => {
      import graft.fm.Mutations
      val base = FixtureCorpus.ensure(s, d)
      val work = java.nio.file.Paths.get(
        "/tmp/graft_fm_mutd_" + d.replaceAll("[^A-Za-z0-9.]+", "_"))
      deleteRecursively(work)
      copyTree(base.resolve("src0"), work.resolve("src0"))
      val res = Mutations.batchUpdateDistributed(s, work, "**/*.md",
        setValues = Map("status" -> "dist-reviewed"), unset = Seq("score"))
      require(res.warnings.isEmpty, s"distributed update warned: ${res.warnings}")
      val e = new QueryEngine(s, Settings(work.toString, enableSemantic = false, "", None))
      e.query("**/*.md",
        "SELECT path, status, n_chars FROM files ORDER BY path").results
    }),

    // DuckDB file-reading table functions (TableFunctions rewrite):
    // passthrough SQL can read external parquet/csv/json next to the
    // corpus — the reference's DuckDB connection grants exactly this.
    // The fixture's data/ exports are the (doc_id, lang, n_chars)
    // projection of `documents`, so the oracle reproduces each query
    // from the documents view directly. Types are pinned with columns=
    // where inference could diverge (DuckDB BIGINT vs Spark INT
    // stringify the same, but explicit is sturdier).
    "q_fm_read_csv" -> run(
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total
        |FROM read_csv('data/export.csv',
        |  columns={'doc_id': 'BIGINT', 'lang': 'VARCHAR', 'n_chars': 'BIGINT'})
        |GROUP BY lang ORDER BY lang""".stripMargin),

    "q_fm_read_parquet" -> run(
      """SELECT doc_id, lang, n_chars
        |FROM read_parquet('data/export.parquet')
        |WHERE n_chars % 10 = 3 ORDER BY doc_id LIMIT 40""".stripMargin),

    "q_fm_read_json" -> run(
      """SELECT lang, MAX(n_chars) AS mx, MIN(doc_id) AS mn, COUNT(*) AS n
        |FROM read_json('data/export.json')
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // glob() table function: one .md per document row, so the match
    // count equals the documents count.
    "q_fm_glob_fn" -> run(
      "SELECT COUNT(*) AS n FROM glob('**/*.md')"),

    // external file joined against the parsed corpus view — the
    // switch-over story in one statement (files is markdown-derived,
    // the CSV is lake-side metadata).
    "q_fm_read_join" -> run(
      """SELECT c.lang, COUNT(*) AS n
        |FROM files f
        |JOIN read_csv('data/export.csv',
        |  columns={'doc_id': 'BIGINT', 'lang': 'VARCHAR', 'n_chars': 'BIGINT'}) c
        |  ON TRY_CAST(f.id AS BIGINT) = c.doc_id
        |WHERE f.published = 'True'
        |GROUP BY c.lang ORDER BY c.lang""".stripMargin)
  )

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    val s = Files.walk(src)
    try s.forEach { f =>
      val t = dst.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(f, t) }
    } finally s.close()
  }

  val oracleSql: Map[String, String] = Map(
    "q_fm_scalar_parity" ->
      s"""$cte
         |SELECT path,
         |  format('{:05d}|{:>4}|{:,}', TRY_CAST(n_chars AS BIGINT) % 431,
         |         substr(path, 1, 3), len(path) * 123456) AS f1,
         |  format('{:.2f}', (TRY_CAST(n_chars AS BIGINT) % 64) / 4.0) AS f2,
         |  printf('%s=%x', substr(path, 1, 6), len(path)) AS p1,
         |  printf('%d', TRY_CAST(id AS BIGINT)) AS p2,
         |  strip_accents(path) AS sa, unicode(path) AS uc,
         |  to_base(len(path), 16, 4) AS tb,
         |  format_bytes(TRY_CAST(n_chars AS BIGINT) * 797) AS fb,
         |  dayname(TRY_CAST(created AS DATE)) AS dn,
         |  monthname(TRY_CAST(created AS DATE)) AS mn,
         |  time_bucket(INTERVAL 1 WEEK, TRY_CAST(created AS DATE)) AS tw,
         |  time_bucket(INTERVAL 3 MONTH, TRY_CAST(created AS DATE)) AS tm,
         |  left(path, -8) AS lf, right(path, -8) AS rt
         |FROM files ORDER BY path LIMIT 50""".stripMargin,
    "q_fm_positional" ->
      s"""$cte
         |SELECT * FROM
         |  (SELECT path AS p, n_chars AS nc FROM files ORDER BY path LIMIT 8)
         |POSITIONAL JOIN
         |  (SELECT path AS q, lang AS lg FROM files ORDER BY path DESC LIMIT 5)
         |ORDER BY p NULLS FIRST""".stripMargin,
    "q_fm_strdist" ->
      s"""$cte
         |SELECT path,
         |  levenshtein(path, reverse(path)) AS lv,
         |  editdist3(substr(path, 1, 8), 'src-doc!') AS ed,
         |  damerau_levenshtein(coalesce(lang, 'xx'), 'end') AS dl,
         |  round(jaccard(path, 'source/dmc.0123456789'), 9) AS jc,
         |  round(jaro_similarity(path, upper(path)), 9) AS js,
         |  round(jaro_winkler_similarity(path, substr(path, 1, 10)), 9) AS jw,
         |  hamming(substr(path, 1, 6), substr(upper(path), 1, 6)) AS hm
         |FROM files ORDER BY path LIMIT 50""".stripMargin,
    "q_fm_list_fns" ->
      s"""$cte
         |SELECT path,
         |  CAST(list_sum(generate_series(1, 1 + (len(path) % 5))) AS BIGINT) AS ls,
         |  list_count(from_json(tags, '["VARCHAR"]')) AS lc,
         |  list_min(string_split(path, '/')) AS lmin,
         |  list_aggregate(from_json(tags, '["VARCHAR"]'), 'string_agg', '|') AS lsa,
         |  round(list_avg([len(path), TRY_CAST(n_chars AS BIGINT) % 7, 3]), 9) AS lav
         |FROM files WHERE tags IS NOT NULL ORDER BY path LIMIT 40""".stripMargin,
    "q_fm_agg_parity" ->
      s"""$cte
         |SELECT category AS g,
         |  round(entropy(TRY_CAST(n_chars AS BIGINT) % 5), 9) AS en,
         |  round(entropy(lang), 9) AS el,
         |  mad(TRY_CAST(n_chars AS BIGINT)) AS md,
         |  round(skewness(TRY_CAST(n_chars AS BIGINT)), 5) + 0.0 AS sk,
         |  round(kurtosis(TRY_CAST(n_chars AS BIGINT)), 5) + 0.0 AS ku,
         |  fsum(TRY_CAST(n_chars AS BIGINT) / 4.0) AS fs,
         |  COUNT(*) AS n
         |FROM files GROUP BY category ORDER BY g NULLS FIRST""".stripMargin,
    "q_fm_fn_parity" ->
      s"""$cte
         |SELECT path,
         |  gcd(len(path) + 24, 18) AS g1,
         |  lcm(len(path) % 7, 6) AS g2,
         |  even((len(path) % 19) / CAST(4.0 AS DOUBLE)) AS ev,
         |  fdiv(TRY_CAST(n_chars AS BIGINT) - 50, 7) AS fd,
         |  fmod(TRY_CAST(n_chars AS BIGINT) - 50, 7) AS fm,
         |  sign(TRY_CAST(n_chars AS BIGINT) - 250) AS sg,
         |  trunc((TRY_CAST(n_chars AS BIGINT) - 250) / CAST(4.0 AS DOUBLE)) AS tr,
         |  round(log(len(path) + 2), 9) AS lg,
         |  century(TRY_CAST(created AS DATE)) AS ce,
         |  isodow(TRY_CAST(created AS DATE)) AS idw,
         |  isoyear(TRY_CAST(created AS DATE)) AS iy,
         |  yearweek(TRY_CAST(created AS DATE)) AS yw,
         |  date_diff('month', TRY_CAST(created AS DATE), DATE '2025-06-15') AS dd,
         |  date_sub('month', TRY_CAST(created AS DATE), DATE '2025-06-15') AS ds,
         |  date_trunc('week', TRY_CAST(created AS DATE)) AS dtw,
         |  strlen(path) AS sl,
         |  ltrim(path, 'srcd/') AS lt,
         |  trim(path, 'srcd/.m') AS tm2,
         |  nfc_normalize(path || 'e' || chr(769)) AS nfc,
         |  array_to_string(list_slice(string_split(path, '/'), -2, -1), '|') AS sli
         |FROM files ORDER BY path LIMIT 60""".stripMargin,
    "q_fm_lateral_values" ->
      s"""$cte
         |SELECT t.v AS v, t.k AS k, COUNT(f.path) AS n, l.tag AS tag
         |FROM (VALUES ('en', 1), ('fr', 2), ('zz', 3)) t(v, k)
         |LEFT JOIN files f ON f.lang = t.v
         |LEFT JOIN LATERAL (SELECT t.v || '-' || CAST(t.k AS STRING) AS tag) l ON true
         |GROUP BY t.v, t.k, l.tag ORDER BY t.k""".stripMargin,
    "q_fm_quantiles" ->
      s"""$cte
         |SELECT lang,
         |  quantile_cont(TRY_CAST(n_chars AS BIGINT), 0.25) AS qc,
         |  quantile_disc(TRY_CAST(n_chars AS BIGINT), 0.3) AS qd,
         |  quantile(path, 0.5) AS qp,
         |  median(TRY_CAST(n_chars AS BIGINT)) AS med,
         |  COUNT(*) AS n
         |FROM files WHERE lang IS NOT NULL
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_fm_quantile_list" ->
      s"""$cte
         |SELECT qs[1] AS q1, qs[2] AS q2, qs[3] AS q3,
         |  qn[1] AS qn1, qn[2] AS qn2, qneg, mdate FROM (
         |SELECT
         |  quantile_cont(TRY_CAST(n_chars AS BIGINT), [0.25, 0.5, 0.75]) AS qs,
         |  quantile_disc(TRY_CAST(n_chars AS BIGINT), [-0.75, -0.25]) AS qn,
         |  quantile_disc(TRY_CAST(n_chars AS BIGINT), -0.25) AS qneg,
         |  median(TRY_CAST(created AS DATE)) AS mdate
         |FROM files)""".stripMargin,
    "q_fm_histogram" ->
      s"""$cte
         |SELECT source,
         |  array_to_string(map_keys(histogram(lang)), ',') AS langs,
         |  array_to_string(map_values(histogram(lang)), ',') AS lang_counts,
         |  array_to_string(map_keys(histogram(TRY_CAST(n_chars AS BIGINT) % 5)), ',') AS mods,
         |  array_to_string(map_values(histogram(TRY_CAST(n_chars AS BIGINT) % 5)), ',') AS mod_counts
         |FROM files WHERE source IS NOT NULL
         |GROUP BY source ORDER BY source""".stripMargin,
    "q_fm_mode_product" ->
      s"""$cte
         |SELECT
         |  mode(CASE WHEN TRY_CAST(n_chars AS BIGINT) % 2 = 0 THEN 'even' ELSE path END) AS mo,
         |  product(CASE WHEN TRY_CAST(n_chars AS BIGINT) % 7 = 0 THEN 2.0 ELSE 1.0 END) AS pr,
         |  product(CASE WHEN id IS NULL THEN NULL ELSE 0.5 END) AS ph
         |FROM files""".stripMargin,
    "q_fm_series" ->
      s"""$cte
         |SELECT f.path AS p, gs.generate_series AS n,
         |  array_to_string(range(1, 1 + gs.generate_series), ',') AS r,
         |  len(range(0, gs.generate_series)) AS ln
         |FROM files f CROSS JOIN generate_series(1, 3) gs
         |WHERE f.category IS NOT NULL
         |ORDER BY p, n LIMIT 60""".stripMargin,
    // the statement owns a WITH, so the files CTE merges into its
    // RECURSIVE list rather than prepending a second WITH
    "q_fm_recursive_seq" ->
      s"""${cte.replaceFirst("WITH files AS", "WITH RECURSIVE files AS")},
         |seq(n) AS (
         |  SELECT 1 UNION ALL SELECT n + 1 FROM seq WHERE n < 8)
         |SELECT seq.n AS n, COUNT(f.path) AS docs
         |FROM seq LEFT JOIN files f
         |  ON TRY_CAST(f.n_chars AS BIGINT) % 8 + 1 = seq.n
         |GROUP BY seq.n ORDER BY seq.n""".stripMargin,
    "q_fm_flagship" ->
      s"""$cte
         |SELECT path, created FROM files
         |WHERE created >= '2025-06-01' ORDER BY created DESC, path""".stripMargin,
    "q_fm_count" ->
      s"""$cte
         |SELECT COUNT(*) AS n, COUNT(score) AS n_scored FROM files""".stripMargin,
    "q_fm_null" ->
      s"""$cte
         |SELECT path FROM files WHERE score IS NULL ORDER BY path""".stripMargin,
    "q_fm_mixed_types" ->
      s"""$cte
         |SELECT path, id, published, score, n_chars, tags FROM files
         |ORDER BY path""".stripMargin,
    "q_fm_group_lang" ->
      s"""$cte
         |SELECT lang, COUNT(*) AS n FROM files
         |WHERE lang IS NOT NULL GROUP BY lang ORDER BY lang""".stripMargin,
    "q_fm_unnest_tags" ->
      s"""$cte
         |SELECT tag, COUNT(*) AS n
         |FROM files, UNNEST(from_json(tags, '["VARCHAR"]')) AS t(tag)
         |GROUP BY tag ORDER BY n DESC, tag""".stripMargin,
    "q_fm_list_contains" ->
      s"""$cte
         |SELECT path FROM files
         |WHERE list_contains(from_json(tags, '["VARCHAR"]'), 'spark')
         |ORDER BY path""".stripMargin,
    "q_fm_try_cast" ->
      s"""$cte
         |SELECT path, TRY_CAST(score AS DOUBLE) AS score_num
         |FROM files WHERE TRY_CAST(n_chars AS INT) > 300
         |ORDER BY path""".stripMargin,
    "q_fm_json_ops" ->
      s"""$cte
         |SELECT path,
         |  tags ->> 0 AS t0,
         |  tags -> '$$[#-1]' AS tl,
         |  tags -> 1 AS t1j,
         |  ('{"l": "' || lang || '", "n": ' || n_chars || '}') ->> '$$.l' AS l,
         |  TRY_CAST(('{"l": "' || lang || '", "n": ' || n_chars || '}') ->> 'n' AS BIGINT) AS n,
         |  ('{"s": ' || score || '}') -> 's' AS s,
         |  ('{"o": {"t": ' || tags || '}}') -> 'o' -> 't' ->> 0 AS nest,
         |  json_extract_string(tags, '$$[0]') AS named
         |FROM files ORDER BY path""".stripMargin,
    "q_fm_like" ->
      s"""$cte
         |SELECT path, category FROM files
         |WHERE category LIKE 'cat%' AND created LIKE '2025-0%'
         |ORDER BY path""".stripMargin,
    "q_fm_topk" ->
      s"""$cte
         |SELECT path, n_chars FROM files ORDER BY n_chars DESC, path LIMIT 20""".stripMargin,
    "q_fm_qualify" ->
      s"""$cte
         |SELECT path, category, n_chars FROM files
         |QUALIFY row_number() OVER (PARTITION BY category ORDER BY n_chars DESC NULLS LAST, path) <= 2
         |ORDER BY category NULLS FIRST, path""".stripMargin,
    // The oracle replays the pivot as conditional aggregation over the
    // same reconstructed files table — the value set {de,en,es,fr,zh}
    // is the generator's fixed language alphabet at every SF.
    "q_fm_pivot" ->
      s"""$cte
         |SELECT source,
         |  COUNT(CASE WHEN lang = 'de' THEN 1 END) AS de,
         |  COUNT(CASE WHEN lang = 'en' THEN 1 END) AS en,
         |  COUNT(CASE WHEN lang = 'es' THEN 1 END) AS es,
         |  COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
         |  COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS zh
         |FROM files GROUP BY source ORDER BY source NULLS FIRST""".stripMargin,
    // The q_fm_asof oracle is DuckDB's NATIVE ASOF JOIN over the same
    // derived sides — the strongest possible check of the desugaring.
    "q_fm_asof" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
         |  FROM events WHERE event_type = 'purchase'),
         |m AS (SELECT event_id AS sid, user_id AS suser, epoch_us(ts) AS stsu
         |  FROM events WHERE event_type = 'signup')
         |SELECT p.event_id, p.user_id, p.tsu, m.sid, m.suser, m.stsu
         |FROM p ASOF JOIN m ON p.user_id = m.suser AND p.tsu >= m.stsu
         |ORDER BY p.event_id""".stripMargin,

    // The oracle replays SUMMARIZE column by column with the engine's
    // exact semantics (lexicographic min/max, exact distinct, NULL
    // numeric stats for VARCHAR, basis-point-rounded null percentage).
    "q_fm_summarize" -> {
      val cols = Seq("path", "id", "lang", "source", "n_chars", "created",
        "tags", "published", "score", "category")
      val arms = cols.map { c =>
        s"""SELECT '$c' AS column_name, 'VARCHAR' AS column_type,
           |  MIN($c) AS min, MAX($c) AS max,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS approx_unique,
           |  CAST(NULL AS DOUBLE) AS avg, CAST(NULL AS DOUBLE) AS std,
           |  CAST(NULL AS DOUBLE) AS q25, CAST(NULL AS DOUBLE) AS q50,
           |  CAST(NULL AS DOUBLE) AS q75, COUNT(*) AS count,
           |  CAST(ROUND(CAST((COUNT(*) - COUNT($c)) * 10000 AS DOUBLE)
           |             / COUNT(*)) AS BIGINT)
           |    / CAST(100 AS DOUBLE) AS null_percentage
           |FROM files""".stripMargin
      }
      s"""$cte
         |${arms.mkString("\nUNION ALL\n")}
         |ORDER BY column_name""".stripMargin
    },

    // The oracle replays the unpivot as the explicit UNION ALL it
    // desugars to (NULL cells dropped, like both engines' default).
    "q_fm_unpivot" -> {
      val props = Seq("id", "lang", "source", "n_chars", "created",
        "tags", "published", "score", "category")
      val arms = props.map(c =>
        s"SELECT path, '$c' AS prop, $c AS val FROM files WHERE $c IS NOT NULL")
      s"""$cte
         |${arms.mkString("\nUNION ALL\n")}
         |ORDER BY path, prop LIMIT 60""".stripMargin
    },
    "q_fm_exclude" ->
      s"""$cte
         |SELECT * EXCLUDE (tags, score) FROM files ORDER BY path LIMIT 25""".stripMargin,
    "q_fm_replace" ->
      s"""$cte
         |SELECT * REPLACE (upper(category) AS category, n_chars || '!' AS n_chars)
         |FROM files ORDER BY path LIMIT 25""".stripMargin,
    "q_fm_listcomp" ->
      s"""$cte
         |SELECT path,
         |  array_to_string([upper(t) FOR t IN from_json(tags, '["VARCHAR"]') IF t <> 'the'], '|') AS tags_up
         |FROM files WHERE tags IS NOT NULL ORDER BY path""".stripMargin,
    "q_fm_distinct_on" ->
      s"""$cte
         |SELECT DISTINCT ON (category) category, path, n_chars FROM files
         |WHERE category IS NOT NULL
         |ORDER BY category, n_chars DESC, path""".stripMargin,
    "q_fm_listfns" ->
      s"""$cte
         |SELECT path,
         |  array_to_string(list_sort(list_distinct(
         |    list_transform(list_filter(from_json(tags, '["VARCHAR"]'), t -> t <> 'the'),
         |                   t -> upper(t)))), ',') AS tags_norm
         |FROM files WHERE tags IS NOT NULL ORDER BY path""".stripMargin,
    "q_fm_strftime" ->
      s"""$cte
         |SELECT strftime(CAST(created AS DATE), '%Y-%m') AS ym, COUNT(*) AS n
         |FROM files WHERE created IS NOT NULL
         |GROUP BY ALL ORDER BY ALL""".stripMargin,
    "q_fm_recursive" ->
      (cte.replaceFirst("WITH files AS", "WITH RECURSIVE files AS") +
        """, r(n) AS (SELECT 0 UNION ALL SELECT n + 1 FROM r WHERE n < 6)
          |SELECT 'cat' || CAST(r.n AS STRING) AS category, COUNT(f.path) AS n_files
          |FROM r LEFT JOIN files f ON f.category = 'cat' || CAST(r.n AS STRING)
          |GROUP BY r.n ORDER BY r.n""".stripMargin),
    "q_fm_bracket" ->
      s"""$cte
         |SELECT path,
         |  from_json(tags, '["VARCHAR"]')[1] AS tag1,
         |  string_split(path, '/')[2] AS fname,
         |  array_to_string(string_split(path, '/')[1:2], '|') AS both_parts,
         |  ['x', lang][2] AS lang2
         |FROM files WHERE tags IS NOT NULL ORDER BY path""".stripMargin,
    "q_fm_columns" ->
      s"""$cte
         |SELECT COLUMNS('^(path|n_chars|category)$$') FROM files
         |ORDER BY path LIMIT 25""".stripMargin,
    "q_fm_columns_lambda" ->
      s"""$cte
         |SELECT path, COLUMNS(c -> c LIKE 'c%') FROM files
         |WHERE category IS NOT NULL ORDER BY path LIMIT 25""".stripMargin,
    "q_fm_columns_agg" ->
      s"""$cte
         |SELECT category, COUNT(*) AS n, min(COLUMNS('^(n_chars|id)$$'))
         |FROM files WHERE category IS NOT NULL
         |GROUP BY category ORDER BY category""".stripMargin,
    "q_fm_exclude_replace" ->
      s"""$cte
         |SELECT * EXCLUDE (tags, score, source) REPLACE (upper(category) AS category)
         |FROM files ORDER BY path LIMIT 25""".stripMargin,
    "q_fm_struct" ->
      s"""$cte
         |SELECT path,
         |  ({'cat': category, 'len': TRY_CAST(n_chars AS INT)}).cat AS cat2,
         |  ({'cat': category, 'len': TRY_CAST(n_chars AS INT)}).len AS len2
         |FROM files WHERE category IS NOT NULL ORDER BY path""".stripMargin,
    "q_fm_aggfns" ->
      s"""$cte
         |SELECT category,
         |  arg_max(path, TRY_CAST(n_chars AS BIGINT) * 1000000 + TRY_CAST(id AS BIGINT)) AS longest,
         |  arg_min(path, TRY_CAST(n_chars AS BIGINT) * 1000000 + TRY_CAST(id AS BIGINT)) AS shortest,
         |  COUNT(*) AS n
         |FROM files WHERE category IS NOT NULL
         |GROUP BY category ORDER BY category""".stripMargin,
    "q_fm_datefns" ->
      s"""$cte
         |SELECT strftime(strptime(created, '%Y-%m-%d'), '%Y/%m') AS ym,
         |  MIN(epoch_us(strptime(created, '%Y-%m-%d'))) AS first_us,
         |  date_diff('day', strptime(MIN(created), '%Y-%m-%d'),
         |            strptime(MAX(created), '%Y-%m-%d')) AS span_days,
         |  COUNT(*) AS n
         |FROM files WHERE created IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_fm_fromfirst" ->
      s"""$cte
         |FROM files SELECT lang, COUNT(*) AS n
         |WHERE lang IS NOT NULL GROUP BY lang ORDER BY lang""".stripMargin,
    "q_fm_similar" ->
      s"""$cte
         |SELECT path,
         |  path SIMILAR TO 'web/.*' AS in_web,
         |  path GLOB '*/doc_000??.md' AS low_id
         |FROM files
         |WHERE path GLOB '*.md' AND category IS NOT NULL
         |  AND path NOT SIMILAR TO '.*[05]\\.md'
         |ORDER BY path LIMIT 40""".stripMargin,
    "q_fm_mathops" ->
      s"""$cte
         |SELECT path,
         |  TRY_CAST(n_chars AS BIGINT) // 100 AS hundreds,
         |  (TRY_CAST(id AS BIGINT) % 7) ** 2 AS pow7,
         |  (TRY_CAST(id AS BIGINT) % 5) ^ 3 AS cube5,
         |  -2 ** 2 AS neg_sq
         |FROM files WHERE id IS NOT NULL ORDER BY path LIMIT 50""".stripMargin,
    "q_fm_macro" ->
      s"""CREATE OR REPLACE MACRO char_share(a, b) AS
         |  TRY_CAST(a AS DOUBLE) / NULLIF(TRY_CAST(b AS DOUBLE), 0);
         |CREATE OR REPLACE MACRO in_cat(c) AS TABLE
         |  SELECT path AS cpath, n_chars AS cn FROM files WHERE category = c;
         |$cte
         |SELECT f.path,
         |  CAST(FLOOR(char_share(f.id, f.n_chars) * 1000) AS BIGINT) AS permille
         |FROM files f JOIN in_cat('cat0') t ON t.cpath = f.path
         |ORDER BY f.path""".stripMargin,
    "q_fm_win_exclude" ->
      s"""$cte
         |SELECT path, CAST(s_excl AS BIGINT) AS s_excl, n_grp, a_ties FROM (
         |SELECT path,
         |  sum(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY path
         |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS s_excl,
         |  count(*) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS n_grp,
         |  avg(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS a_ties
         |FROM files) ORDER BY path""".stripMargin,
    "q_fm_win_exclude_range" ->
      s"""$cte
         |SELECT path,
         |  sum(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS s_grp,
         |  count(*) OVER (PARTITION BY category ORDER BY TRY_CAST(n_chars AS BIGINT) % 7 NULLS LAST
         |    RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE TIES) AS n_ties,
         |  avg(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
         |    RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS a_cur
         |FROM files ORDER BY path""".stripMargin,
    "q_fm_win_exclude_minmax" ->
      s"""$cte
         |SELECT path,
         |  min(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS mn_grp,
         |  max(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS mx_ties,
         |  min(TRY_CAST(n_chars AS BIGINT)) OVER (PARTITION BY category ORDER BY lang NULLS FIRST
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS mn_cur
         |FROM files ORDER BY path""".stripMargin,
    "q_fm_map_fns" ->
      s"""$cte
         |SELECT path,
         |  array_to_string(map_keys(MAP {'lang': lang, 'cat': category}), ',') AS mkeys,
         |  array_to_string(map_values(MAP {'lang': lang, 'cat': category}), ',') AS mvals,
         |  cardinality(MAP {'lang': lang, 'cat': category}) AS mcard,
         |  ({'cat2': category, 'len2': TRY_CAST(n_chars AS INT)}).len2 AS slen,
         |  struct_extract({'cat2': category, 'len2': TRY_CAST(n_chars AS INT)}, 'cat2') AS scat
         |FROM files WHERE category IS NOT NULL ORDER BY path LIMIT 40""".stripMargin,
    "q_fm_regexp_replace" ->
      s"""$cte
         |SELECT path,
         |  regexp_replace(path, '[0-9]', 'N') AS first_only,
         |  regexp_replace(path, '[0-9]', 'N', 'g') AS all_digits,
         |  regexp_replace(path, '(doc)_([0-9]+)', '\\2-\\1', 'g') AS swapped,
         |  regexp_replace(path, 'SRC', 'S#', 'i') AS folded
         |FROM files ORDER BY path LIMIT 40""".stripMargin,
    "q_fm_session_ddl" ->
      s"""CREATE OR REPLACE TABLE fm_sess AS (
         |$cte
         |  SELECT path, category, TRY_CAST(n_chars AS BIGINT) AS len
         |  FROM files WHERE category IN ('cat0', 'cat1'));
         |INSERT INTO fm_sess (
         |$cte
         |  SELECT path, category, TRY_CAST(n_chars AS BIGINT) AS len
         |  FROM files WHERE category = 'cat2');
         |SELECT category, COUNT(*) AS n, CAST(SUM(len) AS BIGINT) AS chars
         |FROM fm_sess GROUP BY category ORDER BY category""".stripMargin,
    "q_fm_grouping_sets" ->
      s"""$cte
         |SELECT lang, category, grouping(lang) AS gl, grouping(category) AS gc,
         |  COUNT(*) AS n
         |FROM files
         |GROUP BY GROUPING SETS ((lang), (category), (lang, category), ())
         |ORDER BY gl, gc, lang NULLS FIRST, category NULLS FIRST""".stripMargin,
    "q_fm_stringagg" ->
      s"""$cte
         |SELECT category,
         |  string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
         |  COUNT(*) AS n
         |FROM files WHERE category IS NOT NULL AND lang IS NOT NULL
         |GROUP BY category ORDER BY category""".stripMargin,
    "q_fm_ilike" ->
      s"""$cte
         |SELECT path, split_part(path, '/', 2) AS fname
         |FROM files
         |WHERE path ILIKE '%.MD' AND ends_with(path, '.md')
         |  AND starts_with(path, 'src') AND category IS NOT NULL
         |ORDER BY path LIMIT 30""".stripMargin,
    "q_fm_semijoin" ->
      s"""$cte
         |SELECT f.path, f.lang FROM files f
         |SEMI JOIN (SELECT path AS p FROM files WHERE lang IN ('en','fr')) e
         |  ON f.path = e.p
         |ANTI JOIN (SELECT path AS q FROM files WHERE category = 'cat0') c
         |  ON f.path = c.q
         |ORDER BY f.path LIMIT 40""".stripMargin,
    "q_fm_union_byname" ->
      s"""$cte
         |SELECT lang, COUNT(*) AS n
         |FROM files WHERE lang IS NOT NULL GROUP BY lang
         |UNION ALL BY NAME
         |SELECT category, COUNT(*) AS n, 'cat' AS kind
         |FROM files WHERE category IS NOT NULL GROUP BY category
         |ORDER BY kind NULLS FIRST, lang NULLS FIRST,
         |  category NULLS FIRST, n""".stripMargin,
    "q_fm_describe" ->
      s"""$cte
         |SELECT column_name, column_type
         |FROM (DESCRIBE SELECT * FROM files)
         |ORDER BY column_name""".stripMargin,
    "q_fm_inspect" -> FrontmatterOracle.inspectSql,
    "q_fm_join_docs" ->
      s"""$cte
         |SELECT d.lang, COUNT(*) AS n, CAST(SUM(d.n_chars) AS BIGINT) AS chars_total
         |FROM files f JOIN documents d ON CAST(f.id AS BIGINT) = d.doc_id
         |WHERE f.published = 'True'
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q_fm_mutations" ->
      """WITH files AS (
        |  SELECT
        |    source || '/doc_' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.md' AS path,
        |    CASE WHEN doc_id % 100 = 7 THEN '["newtag"]'
        |         ELSE '["' || array_to_string(
        |                list_filter(
        |                  list_sort(list_distinct(string_split(text, ' ')[1:3] || ['newtag'])),
        |                  x -> x <> 'the'),
        |                '", "') || '"]' END AS tags,
        |    'reviewed' AS status,
        |    CASE WHEN doc_id % 100 = 7 THEN NULL ELSE CAST(n_chars AS VARCHAR) END AS n_chars
        |  FROM documents WHERE source = 'src0'
        |)
        |SELECT path, tags, status, n_chars FROM files ORDER BY path""".stripMargin,

    "q_fm_mutations_dist" ->
      """WITH files AS (
        |  SELECT
        |    source || '/doc_' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.md' AS path,
        |    'dist-reviewed' AS status,
        |    CASE WHEN doc_id % 100 = 7 THEN NULL ELSE CAST(n_chars AS VARCHAR) END AS n_chars
        |  FROM documents WHERE source = 'src0'
        |)
        |SELECT path, status, n_chars FROM files ORDER BY path""".stripMargin,

    // Table-function rows: the data/ exports are exactly the
    // (doc_id, lang, n_chars) projection of `documents` (FixtureCorpus
    // .writeDataExports), so the oracle queries the view directly.
    "q_fm_read_csv" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_fm_read_parquet" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars % 10 = 3 ORDER BY doc_id LIMIT 40""".stripMargin,

    "q_fm_read_json" ->
      """SELECT lang, MAX(n_chars) AS mx, MIN(doc_id) AS mn, COUNT(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_fm_glob_fn" ->
      "SELECT COUNT(*) AS n FROM documents",

    "q_fm_read_join" ->
      s"""$cte
         |SELECT c.lang, COUNT(*) AS n
         |FROM files f
         |JOIN documents c ON TRY_CAST(f.id AS BIGINT) = c.doc_id
         |WHERE f.published = 'True'
         |GROUP BY c.lang ORDER BY c.lang""".stripMargin
  )
}

/** Generated DuckDB oracle for `query_inspect` (reference
  * `query_schema.py:19-69` semantics): per property
  * `{type, nullable, examples}` where examples are the first 5 distinct
  * serialized values in path order, rendered as a JSON string.
  */
object FrontmatterOracle {

  /** One SELECT per known fixture property, reconstructing the inference
    * result from `documents` (first-seen order = path order because the
    * engine's file scan sorts paths).
    */
  val inspectSql: String = {
    val props = Seq(
      ("category", "string"), ("created", "string"), ("id", "string"),
      ("lang", "string"), ("n_chars", "string"), ("path", "string"),
      ("published", "string"), ("score", "string"), ("source", "string"),
      ("tags", "array"))
    val perProp = props.map { case (p, typ) =>
      val nullableExpr =
        if (p == "path") "false"
        else s"(SELECT COUNT($p) FROM files) < (SELECT COUNT(*) FROM files)"
      s"""SELECT '$p' AS property, '$typ' AS type, $nullableExpr AS nullable,
         |  (SELECT '[' || string_agg('"' || replace(replace(v, '\\', '\\\\'), '"', '\\"') || '"', ', ' ORDER BY fp) || ']'
         |   FROM (SELECT $p AS v, MIN(path) AS fp FROM files WHERE $p IS NOT NULL GROUP BY $p
         |         ORDER BY fp LIMIT 5) t) AS examples""".stripMargin
    }
    s"""${FixtureCorpus.filesCte}
       |SELECT * FROM (
       |${perProp.mkString("\nUNION ALL\n")}
       |) ORDER BY property""".stripMargin
  }
}
