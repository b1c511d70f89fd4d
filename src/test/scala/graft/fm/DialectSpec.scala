package graft.fm

import org.scalatest.funsuite.AnyFunSuite

class DialectSpec extends AnyFunSuite {

  test("FROM-position UNNEST with AS t(c) — README.md:304-310 idiom") {
    val in = """SELECT tag, COUNT(*) FROM files, UNNEST(from_json(tags, '["VARCHAR"]')) AS t(tag) GROUP BY tag"""
    val out = Dialect.rewrite(in)
    assert(out.contains("LATERAL VIEW explode(from_json(tags, 'array<string>')) t AS tag"))
    assert(!out.toUpperCase.contains("UNNEST"))
  }

  test("UNNEST with AS col and bare UNNEST") {
    assert(Dialect.rewriteUnnest("SELECT x FROM t, UNNEST(a) AS x")
      .contains("LATERAL VIEW explode(a) _unnest AS x"))
    assert(Dialect.rewriteUnnest("SELECT unnest FROM t, UNNEST(a)")
      .contains("LATERAL VIEW explode(a) _unnest AS unnest"))
  }

  test("projection-position UNNEST is left alone") {
    val in = "SELECT a, UNNEST(x) FROM t"
    assert(Dialect.rewriteUnnest(in) == in)
  }

  test("from_json schema hints") {
    assert(Dialect.hintToDdl("[\"VARCHAR\"]").contains("array<string>"))
    assert(Dialect.hintToDdl("[\"\"]").contains("array<string>"))
    assert(Dialect.hintToDdl("[[\"VARCHAR\"]]").contains("array<array<string>>"))
    assert(Dialect.hintToDdl("{\"a\": \"INT\"}").contains("struct<a:bigint>"))
    assert(Dialect.hintToDdl("not a hint").isEmpty)
    // ordinary string literals survive
    assert(Dialect.rewriteFromJsonHints("SELECT '[x' FROM t") == "SELECT '[x' FROM t")
  }

  test("hint rewrite is from_json-scoped: bracketed DATA literals survive") {
    // '[]' is the JSON encoding of an empty array in the files table —
    // it must never be rewritten outside a from_json second argument
    val in = "SELECT path FROM files WHERE tags <> '[]'"
    assert(Dialect.rewrite(in) == in)
    val in2 = """SELECT * FROM files WHERE tags = '["VARCHAR"]'"""
    assert(Dialect.rewrite(in2) == in2)
    // ... while the same literal inside from_json IS the schema hint
    val mixed =
      """SELECT * FROM files WHERE from_json(tags, '[""]') IS NOT NULL AND note <> '[]'"""
    val out = Dialect.rewrite(mixed)
    assert(out.contains("from_json(tags, 'array<string>')"))
    assert(out.contains("note <> '[]'"))
    // nested from_json in the first argument still rewrites
    val nested = """SELECT from_json(concat(from_json(a, '[""]')[0], b), '["VARCHAR"]') FROM t"""
    val outN = Dialect.rewrite(nested)
    assert(outN.contains("from_json(a, 'array<string>')"))
    assert(outN.contains("'array<string>') FROM t"))
  }

  test("multiple UNNESTs rewrite iteratively") {
    val in = "SELECT * FROM t, UNNEST(a) AS x(u), UNNEST(b) AS y(v)"
    val out = Dialect.rewriteUnnest(in)
    assert(out.contains("LATERAL VIEW explode(a) x AS u"))
    assert(out.contains("LATERAL VIEW explode(b) y AS v"))
  }

  test("comment masking: quotes in comments never flip literal parity") {
    // an odd quote count inside a line comment used to make the scanner
    // believe everything after it was a string literal
    val in =
      "SELECT * -- don't touch\nFROM t, UNNEST(tags) AS x(tag)"
    val out = Dialect.rewrite(in)
    assert(out.contains("LATERAL VIEW explode(tags) x AS tag"), out)
    val in2 =
      "SELECT /* it's fine */ from_json(tags, '[\"VARCHAR\"]') FROM t"
    assert(Dialect.rewrite(in2).contains("from_json(tags, 'array<string>')"))
  }

  test("comment masking: commented-out syntax is not rewritten") {
    val in = "SELECT a FROM t -- , UNNEST(tags) AS x(tag)"
    assert(Dialect.rewrite(in) == in)
    val in2 = "SELECT a /* from_json(b, '[\"\"]') */ FROM t"
    assert(Dialect.rewrite(in2) == in2)
  }

  test("comment masking: comment between comma and UNNEST reads as whitespace") {
    val in = "SELECT * FROM t, /* lateral */ UNNEST(tags) AS x(tag)"
    assert(Dialect.rewrite(in).contains("LATERAL VIEW explode(tags) x AS tag"))
  }

  test("QUALIFY with inline window → helper column + EXCEPT wrap") {
    val in = "SELECT path, category FROM files " +
      "QUALIFY row_number() OVER (PARTITION BY category ORDER BY path) <= 2 " +
      "ORDER BY category, path"
    val out = Dialect.rewriteQualify(in)
    // the QUALIFY keyword is gone; only the __graft_qualify helper remains
    assert(!out.toUpperCase.replace("__GRAFT_QUALIFY", "").contains("QUALIFY"), out)
    assert(out.contains("SELECT * EXCEPT (__graft_qualify) FROM ("), out)
    assert(out.contains(", (row_number() OVER (PARTITION BY category ORDER BY path) <= 2) AS __graft_qualify FROM files"), out)
    assert(out.contains(") WHERE __graft_qualify ORDER BY category, path"), out)
  }

  test("rewriteQualify is idempotent on its own output") {
    // Regression (round 8): isKeywordAt treated '_' as a word boundary, so
    // the QUALIFY inside the emitted __graft_qualify identifier matched as
    // a keyword on the next scan and the block was re-wrapped into
    // unparsable SQL.
    val in = "SELECT path, category FROM files " +
      "QUALIFY row_number() OVER (PARTITION BY category ORDER BY path) <= 2 " +
      "ORDER BY category, path"
    val once = Dialect.rewriteQualify(in)
    assert(Dialect.rewriteQualify(once) == once, once)
    assert(Dialect.rewrite(Dialect.rewrite(in)) == Dialect.rewrite(in))
  }

  test("QUALIFY over a select-list window alias → plain subquery + WHERE") {
    val in = "SELECT path, row_number() OVER (ORDER BY path) AS rn FROM files " +
      "QUALIFY rn <= 3 ORDER BY path"
    val out = Dialect.rewriteQualify(in)
    assert(!out.toUpperCase.replace("__GRAFT_QUALIFY", "").contains("QUALIFY"), out)
    assert(out.contains("SELECT * FROM ( SELECT path, row_number() OVER (ORDER BY path) AS rn FROM files"), out)
    assert(out.contains(") WHERE (rn <= 3) ORDER BY path"), out)
  }

  test("QUALIFY in a subquery rewrites just that block; LIMIT survives") {
    val in = "SELECT n FROM (SELECT n FROM t QUALIFY rn = 1 LIMIT 5) u WHERE n > 0"
    val out = Dialect.rewriteQualify(in)
    assert(out.replaceAll("\\s+", " ")
      .contains("(SELECT * FROM ( SELECT n FROM t ) WHERE (rn = 1) LIMIT 5) u"), out)
  }

  test("QUALIFY inside a string literal is data") {
    val in = "SELECT 'QUALIFY x' AS c FROM t"
    assert(Dialect.rewriteQualify(in) == in)
  }

  test("star REPLACE modifier → EXCEPT + re-projection; replace() function untouched") {
    assert(Dialect.rewriteReplace("SELECT * REPLACE (lower(a) AS a) FROM t")
      == "SELECT * EXCEPT (a), lower(a) AS a FROM t")
    assert(Dialect.rewriteReplace("SELECT * REPLACE (a + 1 AS a, trim(b) AS b) FROM t")
      == "SELECT * EXCEPT (a, b), a + 1 AS a, trim(b) AS b FROM t")
    // multiplication by the replace() string function has no top-level AS
    // in its argument list — must NOT be mistaken for the star modifier
    val fn = "SELECT a * replace(b, 'x', 'y') AS c FROM t"
    assert(Dialect.rewriteReplace(fn) == fn)
    // the keyword in a string literal is data
    val lit = "SELECT 'x REPLACE (y AS z)' AS c FROM t"
    assert(Dialect.rewriteReplace(lit) == lit)
    // CAST(x AS INT) inside the expr: the LAST top-level AS wins
    assert(Dialect.rewriteReplace("SELECT * REPLACE (CAST(a AS INT) AS a) FROM t")
      == "SELECT * EXCEPT (a), CAST(a AS INT) AS a FROM t")
  }

  test("list comprehension → transform/filter; literals and indexing untouched") {
    assert(Dialect.rewriteListComp("SELECT [x + 1 FOR x IN tags] AS t2 FROM t")
      == "SELECT transform(tags, x -> x + 1) AS t2 FROM t")
    assert(Dialect.rewriteListComp("SELECT [upper(x) FOR x IN tags IF x <> ''] AS t2 FROM t")
      == "SELECT transform(filter(tags, x -> x <> ''), x -> upper(x)) AS t2 FROM t")
    // nested comprehension resolves on the re-scan pass
    assert(Dialect.rewriteListComp("SELECT [[y * 2 FOR y IN x] FOR x IN m] FROM t")
      == "SELECT transform(m, x -> transform(x, y -> y * 2)) FROM t")
    // array literal and indexing carry no FOR — pass through untouched
    val noFor = "SELECT arr[1], ['a', 'b'] FROM t WHERE s = '[x FOR x IN y]'"
    assert(Dialect.rewriteListComp(noFor) == noFor)
    assert(Dialect.rewriteListComp(Dialect.rewriteListComp(
      "SELECT [x FOR x IN tags] FROM t")) ==
      Dialect.rewriteListComp("SELECT [x FOR x IN tags] FROM t"))
  }

  test("DISTINCT ON → row_number window + filter; ORDER BY/LIMIT tail survives outside") {
    val in = "SELECT DISTINCT ON (category) path, category, n_chars FROM files " +
      "ORDER BY category, n_chars DESC LIMIT 10"
    val out = Dialect.rewriteDistinctOn(in)
    assert(out ==
      "SELECT * EXCEPT (__graft_rn) FROM ( SELECT path, category, n_chars, " +
        "row_number() OVER (PARTITION BY category ORDER BY category, n_chars DESC) AS __graft_rn " +
        "FROM files ) WHERE __graft_rn = 1 ORDER BY category, n_chars DESC LIMIT 10", out)
    // idempotent on its own output
    assert(Dialect.rewriteDistinctOn(out) == out)
    // no ORDER BY → the keys order the window (deterministic pick)
    assert(Dialect.rewriteDistinctOn("SELECT DISTINCT ON (a) b FROM t")
      .contains("OVER (PARTITION BY a ORDER BY a)"))
    // plain DISTINCT and an `on_time` column are untouched
    val plain = "SELECT DISTINCT on_time FROM t"
    assert(Dialect.rewriteDistinctOn(plain) == plain)
    // subquery form rewrites just the block
    val sub = "SELECT n FROM (SELECT DISTINCT ON (k) n FROM t LIMIT 5) u"
    assert(Dialect.rewriteDistinctOn(sub) ==
      "SELECT n FROM (SELECT * EXCEPT (__graft_rn) FROM ( SELECT n, " +
        "row_number() OVER (PARTITION BY k ORDER BY k) AS __graft_rn FROM t ) " +
        "WHERE __graft_rn = 1 LIMIT 5) u")
  }

  test("strftime format translation and USING SAMPLE rewrite") {
    assert(Dialect.strftimeToJava("%Y-%m-%d") == "yyyy-MM-dd")
    assert(Dialect.strftimeToJava("%H:%M:%S") == "HH:mm:ss")
    // literal letters are quoted so they don't act as pattern codes
    assert(Dialect.strftimeToJava("%YT%m") == "yyyy'T'MM")
    assert(Dialect.strftimeToJava("100%% %b") == "100% MMM")
    intercept[IllegalArgumentException](Dialect.strftimeToJava("%Q"))

    assert(Dialect.rewriteUsingSample("SELECT * FROM files USING SAMPLE 10%")
      == "SELECT * FROM files TABLESAMPLE (10 PERCENT)")
    assert(Dialect.rewriteUsingSample("SELECT * FROM files USING SAMPLE 50 ROWS WHERE x = 1")
      == "SELECT * FROM files TABLESAMPLE (50 ROWS) WHERE x = 1")
    // bare number means rows in DuckDB
    assert(Dialect.rewriteUsingSample("SELECT * FROM t USING SAMPLE 7")
      == "SELECT * FROM t TABLESAMPLE (7 ROWS)")
    // join USING is untouched
    val ju = "SELECT * FROM a JOIN b USING (k)"
    assert(Dialect.rewriteUsingSample(ju) == ju)
  }

  test("star EXCLUDE modifier → Spark EXCEPT, bare column gains parens") {
    assert(Dialect.rewriteExclude("SELECT * EXCLUDE (a, b) FROM t")
      == "SELECT * EXCEPT (a, b) FROM t")
    assert(Dialect.rewriteExclude("SELECT t.* EXCLUDE a FROM t")
      == "SELECT t.* EXCEPT (a) FROM t")
    // the keyword anywhere else survives
    val in = "SELECT exclude FROM t WHERE c = 'EXCLUDE x'"
    assert(Dialect.rewriteExclude(in) == in)
  }

  test("comment openers inside string literals are data") {
    val in = "SELECT '--not a comment' AS c, '/*neither*/' AS d FROM t, UNNEST(tags) AS x(tag)"
    val out = Dialect.rewrite(in)
    assert(out.contains("'--not a comment'"))
    assert(out.contains("'/*neither*/'"))
    assert(out.contains("LATERAL VIEW explode(tags) x AS tag"))
  }

  test("bracket literals → array(); 1-based indexing → try_element_at; slices → slice") {
    assert(Dialect.rewriteBrackets("SELECT ['a','b'] FROM t")
      == "SELECT array('a','b') FROM t")
    assert(Dialect.rewriteBrackets("SELECT x[1] FROM t")
      == "SELECT try_element_at(x, 1) FROM t")
    assert(Dialect.rewriteBrackets("SELECT string_split(a, ' ')[2] FROM t")
      == "SELECT try_element_at(string_split(a, ' '), 2) FROM t")
    // slices route through list_slice (DuckListSlice): DuckDB's
    // inclusive 1-based bounds with negative-from-end and clamping —
    // the old raw slice() arithmetic broke on a negative upper bound
    assert(Dialect.rewriteBrackets("SELECT x[1:3] FROM t")
      == "SELECT list_slice(x, (1), (3)) FROM t")
    assert(Dialect.rewriteBrackets("SELECT x[2:] FROM t")
      == "SELECT list_slice(x, (2), 2147483647) FROM t")
    assert(Dialect.rewriteBrackets("SELECT x[:2] FROM t")
      == "SELECT list_slice(x, 1, (2)) FROM t")
  }

  test("bracket chains, qualified bases, and operator-position literals") {
    assert(Dialect.rewriteBrackets("SELECT a.b[1][2] FROM t")
      == "SELECT try_element_at(try_element_at(a.b, 1), 2) FROM t")
    assert(Dialect.rewriteBrackets("SELECT a || ['x'] FROM t")
      == "SELECT a || array('x') FROM t")
    assert(Dialect.rewriteBrackets("SELECT [[1,2],[3]] FROM t")
      == "SELECT array(array(1,2),array(3)) FROM t")
    // parens inside a string argument never confuse the base scan
    assert(Dialect.rewriteBrackets("SELECT split(a, '(')[1] FROM t")
      == "SELECT try_element_at(split(a, '('), 1) FROM t")
    // bracketed content inside string literals is data
    assert(Dialect.rewriteBrackets("SELECT '[1]' FROM t") == "SELECT '[1]' FROM t")
    // idempotent on its own output
    val once = Dialect.rewriteBrackets("SELECT tags[1], [1,2][2] FROM t")
    assert(Dialect.rewriteBrackets(once) == once)
  }

  test("combined * EXCLUDE (...) REPLACE (...) merges into one EXCEPT") {
    val out = Dialect.rewrite(
      "SELECT * EXCLUDE (a, b) REPLACE (upper(c) AS c) FROM t")
    assert(out.contains("* EXCEPT (a, b, c), upper(c) AS c"), out)
    assert(!out.toUpperCase.contains("EXCLUDE"))
    assert(!out.toUpperCase.contains("REPLACE"))
  }

  test("struct literals → named_struct; non-struct braces untouched") {
    assert(Dialect.rewriteStructLit("SELECT {'a': x, 'b': 1 + y} FROM t")
      == "SELECT named_struct('a', x, 'b', 1 + y) FROM t")
    // nested structs resolve on the re-scan pass
    assert(Dialect.rewriteStructLit("SELECT {'o': {'i': v}} FROM t")
      == "SELECT named_struct('o', named_struct('i', v)) FROM t")
    // braces in string literals are data; an empty or non-pair brace
    // stays for the parser to reject
    assert(Dialect.rewriteStructLit("SELECT '{not: struct}' FROM t")
      == "SELECT '{not: struct}' FROM t")
    assert(Dialect.rewriteStructLit("SELECT {} FROM t") == "SELECT {} FROM t")
    // values containing colons at depth (e.g. a slice) still split on
    // the TOP-level colon only
    assert(Dialect.rewrite("SELECT {'s': a[1:2]} FROM t")
      == "SELECT named_struct('s', list_slice(a, (1), (2))) FROM t")
  }

  test("PIVOT statement rewrites to conditional aggregation / native PIVOT") {
    val provider = (t: String, c: String) => Seq("de", "en")
    // GROUP BY form → one hash aggregate of CASE cells, tail preserved
    assert(Dialect.rewritePivot(
      "PIVOT files ON lang USING count(*) GROUP BY source ORDER BY source",
      provider) ==
      "SELECT source, count(CASE WHEN CAST((lang) AS STRING) = 'de' THEN 1 END) AS `de`, " +
        "count(CASE WHEN CAST((lang) AS STRING) = 'en' THEN 1 END) AS `en` " +
        "FROM files GROUP BY source ORDER BY source")
    // USING alias → DuckDB's value_alias column names
    assert(Dialect.rewritePivot(
      "PIVOT files ON lang USING sum(n_chars) AS total GROUP BY source",
      provider).contains("AS `de_total`"))
    // ON … IN (…) pins the values — the provider must not be consulted
    val pinnedOut = Dialect.rewritePivot(
      "PIVOT files ON lang IN ('zh') USING count(*) GROUP BY source",
      (_, _) => fail("provider consulted despite pinned IN list"))
    assert(pinnedOut.contains("= 'zh'") && !pinnedOut.contains("`de`"))
    // no GROUP BY → Spark's native PIVOT clause (implicit grouping)
    assert(Dialect.rewritePivot(
      "PIVOT files ON lang USING count(*)", provider) ==
      "SELECT * FROM files PIVOT (count(*) FOR lang IN ('de' AS `de`, 'en' AS `en`))")
    // count(DISTINCT x) hoists DISTINCT outside the CASE
    assert(Dialect.rewritePivot(
      "PIVOT files ON lang USING count(DISTINCT path) GROUP BY source",
      provider).contains("count(DISTINCT CASE WHEN"))
    // non-PIVOT statements (incl. PIVOT as an identifier) pass through
    val q1 = "SELECT * FROM files"
    assert(Dialect.rewritePivot(q1, provider) == q1)
    val q2 = "SELECT pivot_count FROM files"
    assert(Dialect.rewritePivot(q2, provider) == q2)
    // the rewrite output no longer starts with PIVOT — a second pass is
    // the identity (the same idempotency contract as rewriteQualify)
    val once = Dialect.rewritePivot(
      "PIVOT files ON lang USING count(*) GROUP BY source", provider)
    assert(Dialect.rewritePivot(once, provider) == once)
  }

  test("UNPIVOT statement rewrites to Spark's native UNPIVOT clause") {
    assert(Dialect.rewriteUnpivot(
      "UNPIVOT files ON a, b INTO NAME k VALUE v ORDER BY path LIMIT 5") ==
      "SELECT * FROM files UNPIVOT (v FOR k IN (a, b)) ORDER BY path LIMIT 5")
    assert(Dialect.rewriteUnpivot(
      "UNPIVOT t ON x INTO NAME n VALUE w") ==
      "SELECT * FROM t UNPIVOT (w FOR n IN (x))")
    // non-UNPIVOT statements and identifiers pass through
    val q = "SELECT unpivot_count FROM files"
    assert(Dialect.rewriteUnpivot(q) == q)
    // the output no longer starts with UNPIVOT → second pass is identity
    val once = Dialect.rewriteUnpivot("UNPIVOT t ON x INTO NAME n VALUE w")
    assert(Dialect.rewriteUnpivot(once) == once)
  }

  test("SUMMARIZE statement rewrites to a one-pass stacked profile") {
    val out = Dialect.rewriteSummarize("SUMMARIZE files",
      Seq("a" -> "string", "emb" -> "array<float>"))
    // one scan: a single aggregate subquery + stack lateral view
    assert(out.contains("LATERAL VIEW stack(2,"))
    assert("FROM files".r.findAllIn(out).size == 1)
    // string column gets min/max/distinct via the narrow (idx, val,
    // isnull) group frame (r17: no COUNT(DISTINCT) — that shape planned
    // an Expand + SortAggregate chain); the array column only counts
    assert(out.contains("MIN(CASE WHEN __idx = 0 THEN __val END)"))
    assert(out.contains("COUNT(CASE WHEN __idx = 0 THEN __val END)"))
    assert(!out.contains("__unq_1") && !out.contains("__min_1"))
    // the array column stacks a NULL val (count/null% only), and its
    // null flag still reads the real column
    assert(out.contains("1, CAST(NULL AS STRING), CASE WHEN `emb` IS NULL"))
    assert(out.contains("'ARRAY<FLOAT>'"))
    // non-SUMMARIZE statements and identifier uses pass through
    val q = "SELECT summarize_count FROM files"
    assert(Dialect.rewriteSummarize(q, Seq("a" -> "string")) == q)
    // a trailing clause is not the simple statement form — untouched
    val q2 = "SUMMARIZE files WHERE x = 1"
    assert(Dialect.rewriteSummarize(q2, Seq("a" -> "string")) == q2)
    // output no longer starts with SUMMARIZE → second pass is identity
    assert(Dialect.rewriteSummarize(out, Seq("a" -> "string")) == out)
  }

  test("date_diff quoted unit routes to the boundary-counting registration") {
    assert(Dialect.rewriteDateDiffUnit("SELECT date_diff('day', a, b) FROM t")
      == "SELECT graft_date_diff('day', a, b) FROM t")
    // multiple calls, spacing, case; datediff alias; date_sub's
    // complete-unit pair
    assert(Dialect.rewriteDateDiffUnit(
      "SELECT DATE_DIFF( 'hour', a, b), datediff('DAY', c, d) FROM t")
      == "SELECT graft_date_diff( 'hour', a, b), graft_date_diff('DAY', c, d) FROM t")
    assert(Dialect.rewriteDateDiffUnit("SELECT date_sub('month', a, b) FROM t")
      == "SELECT graft_date_part_sub('month', a, b) FROM t")
    // Spark-style date_sub(date, n) — no quoted unit — passes through
    val q0 = "SELECT date_sub(d, 3) FROM t"
    assert(Dialect.rewriteDateDiffUnit(q0) == q0)
    // non-literal first arg and unrelated strings untouched
    val q1 = "SELECT date_diff(day, a, b) FROM t"
    assert(Dialect.rewriteDateDiffUnit(q1) == q1)
    val q2 = "SELECT 'date_diff(''day'', x, y)' FROM t"
    assert(Dialect.rewriteDateDiffUnit(q2) == q2)
    // idempotent
    val once = Dialect.rewriteDateDiffUnit("SELECT date_diff('week', a, b) FROM t")
    assert(Dialect.rewriteDateDiffUnit(once) == once)
  }

  test("ASOF JOIN rewrites to the union + ordered-carry shape") {
    val schema = Map(
      "p" -> Seq("pid" -> "bigint", "k" -> "bigint", "t" -> "bigint"),
      "b" -> Seq("bid" -> "bigint", "bk" -> "bigint", "bt" -> "bigint"))
    val out = Dialect.rewriteAsof(
      "SELECT * FROM p ASOF JOIN b ON p.k = b.bk AND p.t >= b.bt ORDER BY pid",
      schema)
    assert(out.contains("UNION ALL"), out)
    assert(out.contains("last(__graft_v, true) OVER"), out)
    assert(out.contains("__graft_m IS NOT NULL"), out) // inner form
    assert(out.contains("named_struct('bid', `bid`"), out)
    assert(out.trim.endsWith("ORDER BY pid"), out)
    // LEFT form keeps unmatched probes
    val left = Dialect.rewriteAsof(
      "SELECT * FROM p ASOF LEFT JOIN b ON p.k = b.bk AND p.t >= b.bt",
      schema)
    assert(!left.contains("IS NOT NULL"), left)
    // flipped inequality (b.t <= a.t) and swapped equality sides accepted
    val flip = Dialect.rewriteAsof(
      "SELECT * FROM p x ASOF JOIN b y ON y.bk = x.k AND y.bt <= x.t", schema)
    assert(flip.contains("UNION ALL"), flip)
    // unsupported surfaces pass through untouched
    val nonStar = "SELECT pid FROM p ASOF JOIN b ON p.k = b.bk AND p.t >= b.bt"
    assert(Dialect.rewriteAsof(nonStar, schema) == nonStar)
    val noIneq = "SELECT * FROM p ASOF JOIN b ON p.k = b.bk AND p.t = b.bt"
    assert(Dialect.rewriteAsof(noIneq, schema) == noIneq)
    val plain = "SELECT * FROM p JOIN b ON p.k = b.bk"
    assert(Dialect.rewriteAsof(plain, schema) == plain)
    // output no longer matches the grammar → second pass is identity
    assert(Dialect.rewriteAsof(out, schema) == out)
  }

  test("FROM-first statements desugar to SELECT-first") {
    assert(Dialect.rewriteFromFirst("FROM t") == "SELECT * FROM t")
    assert(Dialect.rewriteFromFirst("FROM t WHERE x > 1")
      == "SELECT * FROM t WHERE x > 1")
    assert(Dialect.rewriteFromFirst("FROM t SELECT s, x*2 AS y WHERE x >= 2 ORDER BY x")
      == "SELECT s, x*2 AS y FROM t WHERE x >= 2 ORDER BY x")
    assert(Dialect.rewriteFromFirst("FROM t ORDER BY x DESC LIMIT 1")
      == "SELECT * FROM t ORDER BY x DESC LIMIT 1")
    // after a WITH clause (DuckDB allows it)
    assert(Dialect.rewriteFromFirst("WITH c AS (SELECT x FROM t) FROM c WHERE x > 1")
      == "WITH c AS (SELECT x FROM t) SELECT * FROM c WHERE x > 1")
    // parenthesized subquery position
    assert(Dialect.rewriteFromFirst("SELECT * FROM (FROM t WHERE x > 2)")
      == "SELECT * FROM (SELECT * FROM t WHERE x > 2)")
    // join in the table expression stays inside the FROM clause
    assert(Dialect.rewriteFromFirst("FROM a JOIN b ON a.x = b.x SELECT a.x")
      == "SELECT a.x FROM a JOIN b ON a.x = b.x")
    // SELECT-first statements pass through; idempotent
    val q = "SELECT x FROM t WHERE y"
    assert(Dialect.rewriteFromFirst(q) == q)
    val once = Dialect.rewriteFromFirst("FROM t SELECT x")
    assert(Dialect.rewriteFromFirst(once) == once)
    // FROM inside a string literal is data
    val s = "SELECT 'FROM t' AS x FROM u"
    assert(Dialect.rewriteFromFirst(s) == s)
    // set-operation boundaries (review r9): the right operand's SELECT
    // is NOT this statement's reordered projection...
    assert(Dialect.rewriteFromFirst("FROM t UNION SELECT 1")
      == "SELECT * FROM t UNION SELECT 1")
    // ...and a FROM-first right operand desugars in place
    assert(Dialect.rewriteFromFirst("FROM t UNION ALL FROM u")
      == "SELECT * FROM t UNION ALL SELECT * FROM u")
    assert(Dialect.rewriteFromFirst("FROM t UNION FROM u ORDER BY 1")
      == "SELECT * FROM t UNION SELECT * FROM u ORDER BY 1")
    assert(Dialect.rewriteFromFirst("SELECT 1 EXCEPT FROM u")
      == "SELECT 1 EXCEPT SELECT * FROM u")
  }

  test("SIMILAR TO becomes an anchored RLIKE") {
    assert(Dialect.rewriteSimilarTo("SELECT x SIMILAR TO 'ab.' FROM t")
      == "SELECT x RLIKE '^(?:ab.)$' FROM t")
    assert(Dialect.rewriteSimilarTo("SELECT x NOT SIMILAR TO 'a.*' FROM t")
      == "SELECT x NOT RLIKE '^(?:a.*)$' FROM t")
    // escaped quote inside the pattern survives
    assert(Dialect.rewriteSimilarTo("SELECT x SIMILAR TO 'it''s' FROM t")
      == "SELECT x RLIKE '^(?:it''s)$' FROM t")
    // non-literal right side passes through
    val q = "SELECT x SIMILAR TO y FROM t"
    assert(Dialect.rewriteSimilarTo(q) == q)
    // inside a string literal is data
    val s = "SELECT 'a SIMILAR TO b' FROM t"
    assert(Dialect.rewriteSimilarTo(s) == s)
  }

  test("GLOB becomes an anchored RLIKE with the glob translated") {
    assert(Dialect.rewriteGlob("SELECT x GLOB '*.md' FROM t")
      == "SELECT x RLIKE '^.*\\.md$' FROM t")
    assert(Dialect.rewriteGlob("SELECT x GLOB 'a?c' FROM t")
      == "SELECT x RLIKE '^a.c$' FROM t")
    assert(Dialect.rewriteGlob("SELECT x GLOB 'a[0-9]' FROM t")
      == "SELECT x RLIKE '^a[0-9]$' FROM t")
    assert(Dialect.globToRegex("a[!0-9]b") == "a[^0-9]b")
    assert(Dialect.globToRegex("a.b") == "a\\.b")
    // a column named glob is not the operator
    val q = "SELECT glob FROM t"
    assert(Dialect.rewriteGlob(q) == q)
  }

  test("DuckDB // and ** / ^ operators map to DIV and power") {
    assert(Dialect.rewriteMathOps("SELECT a // b FROM t")
      == "SELECT a  DIV  b FROM t")
    assert(Dialect.rewriteMathOps("SELECT 2 ** 3 FROM t")
      == "SELECT power(2, 3) FROM t")
    assert(Dialect.rewriteMathOps("SELECT a ^ 2 FROM t")
      == "SELECT power(a, 2) FROM t")
    // left-associative chain, pinned against DuckDB: 2**3**2 = 64
    assert(Dialect.rewriteMathOps("SELECT 2 ** 3 ** 2")
      == "SELECT power(power(2, 3), 2)")
    // unary minus binds tighter (DuckDB: -2 ** 2 = 4)
    assert(Dialect.rewriteMathOps("SELECT -2 ** 2")
      == "SELECT power(-2, 2)")
    // binary minus stays outside
    assert(Dialect.rewriteMathOps("SELECT x -2 ** 2 FROM t")
      == "SELECT x -power(2, 2) FROM t")
    // binds tighter than *: 2 * 3 ** 2 = 18
    assert(Dialect.rewriteMathOps("SELECT 2 * 3 ** 2")
      == "SELECT 2 * power(3, 2)")
    // function-call operands on either side
    assert(Dialect.rewriteMathOps("SELECT len(s) ** abs(x) FROM t")
      == "SELECT power(len(s), abs(x)) FROM t")
    // decimals and negative exponents
    assert(Dialect.rewriteMathOps("SELECT 2.5 ** -2")
      == "SELECT power(2.5, -2)")
    // inside string literals is data
    val s = "SELECT 'a ** b // c ^ d' FROM t"
    assert(Dialect.rewriteMathOps(s) == s)
    // idempotent
    val once = Dialect.rewriteMathOps("SELECT a ** b // c FROM t")
    assert(Dialect.rewriteMathOps(once) == once)
  }

  test("in-aggregate ORDER BY moves to WITHIN GROUP for string_agg") {
    assert(Dialect.rewriteOrderedAgg("SELECT string_agg(x, ',' ORDER BY x DESC) FROM t")
      == "SELECT string_agg(x, ',') WITHIN GROUP (ORDER BY x DESC) FROM t")
    assert(Dialect.rewriteOrderedAgg("SELECT listagg(x ORDER BY y) FROM t")
      == "SELECT listagg(x) WITHIN GROUP (ORDER BY y) FROM t")
    // no in-aggregate ORDER BY → untouched; idempotent
    val q = "SELECT string_agg(x, ',') FROM t"
    assert(Dialect.rewriteOrderedAgg(q) == q)
    val once = Dialect.rewriteOrderedAgg("SELECT string_agg(x, ';' ORDER BY x) FROM t")
    assert(Dialect.rewriteOrderedAgg(once) == once)
  }

  test("quoted tokens and comments come out of every rewrite byte-identical") {
    // each token holds text the scanner must not read as syntax
    val tokens = Seq(
      "'it''s -- not /* a ( [ comment'", "'qualify from semi unnest ) ]'",
      "\"it's\"", "\"a--b\"", "\"q\"\"d\"", "\"qualify\"", "\"from (\"",
      "\"semi [\"", "`unnest(`", "`a/*b`", "`x``y`",
      "/* it's ( [ qualify */", "-- from ' unnest (\n")
    // (statement shape, text the rewrite must have produced)
    val shapes: Seq[(String => String, String)] = Seq(
      (t => s"SELECT title, $t AS c FROM files " +
        "QUALIFY row_number() OVER (PARTITION BY title ORDER BY path) = 1",
        "__graft_qualify"),
      (t => s"SELECT tag, $t AS c FROM files, " +
        "UNNEST(from_json(tags, '[\"VARCHAR\"]')) AS u(tag)",
        "LATERAL VIEW explode(from_json(tags, 'array<string>')) u AS tag"),
      (t => s"FROM files SELECT $t AS c, [x * 2 FOR x IN [1, 2]] AS l",
        "transform(array(1, 2), x -> x * 2)"),
      (t => s"SELECT DISTINCT ON (title) * EXCLUDE (tags), $t AS c FROM files ORDER BY title",
        "__graft_rn"),
      (t => s"SELECT tags ->> 0 AS t0, $t AS c, CAST(n AS VARCHAR) AS v FROM files",
        "json_extract_string(tags, 0)"),
      (t => s"SELECT {'k': 1} AS s, $t AS c, x // 2 AS d FROM files",
        "named_struct('k', 1)"),
      (t => s"SELECT f.path, $t AS c FROM files f SEMI JOIN files g ON f.path = g.path",
        "SEMI JOIN files g"))
    for ((shape, produced) <- shapes; t <- tokens) {
      val in = shape(t)
      val out = Dialect.rewrite(in)
      assert(out.contains(t), s"token lost: $t\n  in:  $in\n  out: $out")
      assert(out.contains(produced), s"rewrite missed: $produced\n  in:  $in\n  out: $out")
    }
    for (t <- tokens) {
      val in = s"SELECT $t AS c FROM read_csv('d.csv', header = true), glob('*.md') g"
      val out = TableFunctions.rewrite(in, call => s"v_${call.fn}")
      assert(out == s"SELECT $t AS c FROM v_read_csv, v_glob g", s"in: $in")
    }
  }

  test("SEMI/ANTI joins pass through unrewritten (Spark parses them natively)") {
    for (q <- Seq(
      "SELECT * FROM a SEMI JOIN b ON a.x = b.x",
      "SELECT * FROM a LEFT ANTI JOIN b ON a.x = b.x",
      "SELECT semicolon, anti_x FROM t JOIN u ON t.x = u.x"))
      assert(Dialect.rewrite(q) == q)
  }

  test("two select-list UNNESTs are refused, not cross-multiplied") {
    val e = intercept[IllegalArgumentException](
      Dialect.rewrite("SELECT UNNEST(a) AS x, UNNEST(b) AS y FROM t"))
    assert(e.getMessage.contains("UNNEST"))
    // one per select list is fine, also next to a subquery with its own
    val ok = "SELECT UNNEST(a) AS x, (SELECT max(y) FROM (SELECT UNNEST(b) AS y)) AS m FROM t"
    assert(Dialect.rewrite(ok) == ok)
  }

  test("UNION BY NAME desugars to aligned projections") {
    val cols = Map(
      "a" -> Seq("x", "n"),
      "b" -> Seq("y", "n"))
    def provider(probe: String): Seq[String] =
      cols.collectFirst { case (k, v) if probe.contains(s"FROM $k") => v }
        .getOrElse(fail(s"unexpected probe: $probe"))
    val out = Dialect.rewriteUnionByName(
      "SELECT x, n FROM a UNION ALL BY NAME SELECT y, n FROM b ORDER BY n", provider)
    assert(out ==
      "SELECT `x`, `n`, NULL AS `y` FROM (SELECT x, n FROM a) __graft_ubn_l " +
        "UNION ALL SELECT NULL AS `x`, `n`, `y` FROM (SELECT y, n FROM b) __graft_ubn_r " +
        "ORDER BY n")
    // no BY NAME → untouched; idempotent on its own output
    val q = "SELECT x FROM a UNION SELECT x FROM b"
    assert(Dialect.rewriteUnionByName(q, provider) == q)
    assert(Dialect.rewriteUnionByName(out, provider) == out)
  }

  test("UNION BY NAME inside a CTE body probes with only prior CTEs (review r9)") {
    def provider(probe: String): Seq[String] = {
      // the probe must carry CTE `w` (referenced by the operands) but
      // NOT the unrewritten BY NAME of the CTE being processed
      assert(!probe.toUpperCase.contains("BY NAME"), s"probe: $probe")
      assert(probe.startsWith("WITH w AS (SELECT 1 AS x)"), s"probe: $probe")
      if (probe.contains("FROM w")) Seq("x", "n") else Seq("y")
    }
    val sql = "WITH w AS (SELECT 1 AS x), " +
      "c AS (SELECT x, 1 AS n FROM w UNION ALL BY NAME SELECT 2 AS y) " +
      "SELECT * FROM c ORDER BY 1"
    val out = Dialect.rewriteUnionByName(sql, provider)
    assert(!out.toUpperCase.contains("BY NAME"))
    assert(out.contains("NULL AS `y`"))
  }

  test("DESCRIBE splices the DuckDB-shaped schema relation") {
    val schema = Seq("a" -> "VARCHAR", "n" -> "BIGINT")
    def provider(frag: String): Seq[(String, String)] = {
      assert(frag == "SELECT * FROM files" || frag.contains("SELECT x"))
      schema
    }
    val out = Dialect.rewriteDescribe("DESCRIBE files", provider)
    assert(out.startsWith("SELECT * FROM (VALUES ('a', 'VARCHAR', 'YES'"))
    assert(out.contains("('n', 'BIGINT', 'YES'"))
    assert(out.contains("`null`, `key`, `default`, `extra`"))
    // subquery (table-function) form, full spelling only
    val sub = Dialect.rewriteDescribe(
      "SELECT column_name FROM (DESCRIBE SELECT x FROM t) ORDER BY 1", provider)
    assert(sub.contains("FROM (SELECT * FROM (VALUES"))
    // a parenthesized expression over a column named desc is untouched,
    // and the rewrite is a no-op without DESCRIBE
    val noop = "SELECT (description) FROM t ORDER BY x DESC"
    assert(Dialect.rewriteDescribe(noop, provider) == noop)
    assert(Dialect.rewriteDescribe(out, provider) == out) // idempotent
  }

  test("SHOW TABLES lists the catalog; SHOW <table> aliases DESCRIBE") {
    assert(Dialect.rewriteShow("SHOW TABLES", Seq("files"))
      == "SELECT * FROM (VALUES ('files')) AS __graft_show(name)")
    assert(Dialect.rewriteShow("SHOW files", Seq("files")) == "DESCRIBE files")
    val q = "SELECT showcase FROM t ORDER BY 1"
    assert(Dialect.rewriteShow(q, Seq("files")) == q)
  }

  test("COLUMNS('regex') expands against the provided schema") {
    assert(Dialect.rewriteColumns("SELECT COLUMNS('^(a|b)$') FROM t", Seq("a", "b", "c"))
      == "SELECT a, b FROM t")
    // partial-match semantics like DuckDB's RE2 search
    assert(Dialect.rewriteColumns("SELECT COLUMNS('id') FROM t", Seq("doc_id", "x"))
      == "SELECT doc_id FROM t")
    // one-arg function position: per-column expansion of the call
    assert(Dialect.rewriteColumns("SELECT max(COLUMNS('a')) FROM t", Seq("a1", "a2", "b"))
      == "SELECT max(a1) AS a1, max(a2) AS a2 FROM t")
    assert(Dialect.rewriteColumns(
      "SELECT g, min(COLUMNS(*)) FROM t GROUP BY g", Seq("x", "y"))
      == "SELECT g, min(x) AS x, min(y) AS y FROM t GROUP BY g")
    // star-exclude argument form
    assert(Dialect.rewriteColumns(
      "SELECT COLUMNS(* EXCLUDE (b)) FROM t", Seq("a", "b", "c"))
      == "SELECT a, c FROM t")
    intercept[IllegalArgumentException](Dialect.rewriteColumns(
      "SELECT COLUMNS(* EXCLUDE (zzz)) FROM t", Seq("a")))
    // a bad argument in a NON-expandable position (two-arg call) still
    // passes through — the argument is only evaluated where it expands
    val wrapped = "SELECT coalesce(COLUMNS(* EXCLUDE (zzz)), x) FROM t"
    assert(Dialect.rewriteColumns(wrapped, Seq("a", "x")) == wrapped)
    // a regex matching nothing fails loudly, like DuckDB
    intercept[IllegalArgumentException](
      Dialect.rewriteColumns("SELECT COLUMNS('zzz') FROM t", Seq("a")))
    // star form: every column
    assert(Dialect.rewriteColumns("SELECT COLUMNS(*) FROM t", Seq("a", "b"))
      == "SELECT a, b FROM t")
    // lambda forms over the column NAMES
    assert(Dialect.rewriteColumns(
      "SELECT COLUMNS(c -> c LIKE 'a%') FROM t", Seq("ax", "ay", "bz"))
      == "SELECT ax, ay FROM t")
    assert(Dialect.rewriteColumns(
      "SELECT COLUMNS(c -> c NOT LIKE 'a%') FROM t", Seq("ax", "bz"))
      == "SELECT bz FROM t")
    assert(Dialect.rewriteColumns(
      "SELECT COLUMNS(x -> x SIMILAR TO '[ab]1') FROM t", Seq("a1", "b1", "c1"))
      == "SELECT a1, b1 FROM t")
    assert(Dialect.rewriteColumns(
      "SELECT COLUMNS(c -> c != 'b') FROM t", Seq("a", "b", "c"))
      == "SELECT a, c FROM t")
    // an unsupported lambda predicate passes through to fail loudly
    val hard = "SELECT COLUMNS(c -> len(c) > 2) FROM t"
    assert(Dialect.rewriteColumns(hard, Seq("abc")) == hard)
  }

  test("POSITIONAL JOIN: paren inside a string literal on the left side") {
    // advice r11: the backward scan for the left side's opening paren
    // must skip literal content or it miscounts depth and splices a
    // corrupted rewrite
    var captured: (String, String) = null
    val in = "SELECT * FROM (SELECT ')' AS c FROM files ORDER BY c) " +
      "POSITIONAL JOIN (SELECT 1 AS d)"
    val out = Dialect.rewritePositionalJoin(in, (l, r) => {
      captured = (l, r); "v1"
    })
    assert(captured._1 == "SELECT ')' AS c FROM files ORDER BY c")
    assert(captured._2 == "SELECT 1 AS d")
    assert(out == "SELECT * FROM v1")
  }

  test("min/max EXCLUDE GROUP restructures into two window layers") {
    val in = "SELECT path, min(n) OVER (PARTITION BY c ORDER BY k " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING " +
      "EXCLUDE GROUP) AS m FROM files WHERE n > 0 ORDER BY path"
    val out = Dialect.rewriteWindowExclude(in)
    assert(!out.toUpperCase.contains("EXCLUDE"))
    // inner layer: SELECT * passthrough with helper windows, aliased
    // back to the original relation name; WHERE moves inside
    assert(out.contains("FROM ( SELECT *,"))
    assert(out.contains("WHERE n > 0 ) files"))
    assert(out.contains("row_number() OVER (PARTITION BY c ORDER BY k)"))
    assert(out.contains("ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"))
    // r17: the after-group piece is a running extreme over the INVERTED
    // order (picked at the group's reverse-first row), not a
    // (1 FOLLOWING, UNBOUNDED FOLLOWING) window — Spark recomputes that
    // frame per row, quadratic in the partition size
    assert(out.contains("OVER (PARTITION BY c ORDER BY k DESC NULLS LAST)"))
    assert(out.contains("ORDER BY k DESC NULLS LAST ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"))
    assert(!out.contains("1 FOLLOWING AND UNBOUNDED FOLLOWING"))
    // outer layer: group-frame picks combined with least (min aggregate)
    assert(out.contains("least("))
    assert(out.contains("RANGE BETWEEN CURRENT ROW AND CURRENT ROW"))
    // trailing ORDER BY stays at the outer level
    assert(out.trim.endsWith("ORDER BY path"))
  }

  test("mixed-frame min/max EXCLUDE pair splices only defined helper names") {
    // ADVICE r18: the second expression reuses the first layer's
    // rn/rk/bg helpers but adds fresh inverted-order helpers whose
    // names the reused ones PREFIX (…rn prefixes …rn2) — a plain
    // substring replace during the reuse splice corrupted every rn2/rk2
    // reference into an undefined column (AnalysisException at run).
    val in = "SELECT min(n) OVER (PARTITION BY c ORDER BY k " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS m1, " +
      "max(n) OVER (PARTITION BY c ORDER BY k " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS m2 " +
      "FROM files"
    val out = Dialect.rewriteWindowExclude(in)
    assert(!out.toUpperCase.contains("EXCLUDE"))
    // every referenced helper token must have a defining `AS <name>`
    val refs = "__graft_mm\\w+".r.findAllIn(out).toSet
    val defs = "AS (__graft_mm\\w+)".r.findAllMatchIn(out).map(_.group(1)).toSet
    val undefined = refs -- defs
    assert(undefined.isEmpty, s"undefined helper references: $undefined\nin: $out")
    // the inverted-order helpers of the second expression survive intact
    assert(out.contains("ORDER BY k DESC NULLS LAST"))
  }

  test("invertOrderBy flips direction and null ordering per item") {
    assert(Dialect.invertOrderBy("PARTITION BY c ORDER BY k")
      == "PARTITION BY c ORDER BY k DESC NULLS LAST")
    assert(Dialect.invertOrderBy("ORDER BY a DESC, b ASC NULLS LAST")
      == "ORDER BY a ASC NULLS FIRST, b DESC NULLS FIRST")
    assert(Dialect.invertOrderBy("ORDER BY x NULLS LAST")
      == "ORDER BY x DESC NULLS FIRST")
    // function args with commas stay one item; DESC default nulls flip
    assert(Dialect.invertOrderBy(
      "PARTITION BY p ORDER BY coalesce(a, b) DESC")
      == "PARTITION BY p ORDER BY coalesce(a, b) ASC NULLS FIRST")
    // backtick-quoted identifiers are opaque: a column named `order`
    // in the PARTITION BY must not be misdetected as the ORDER keyword
    // (ADVICE r18), and commas inside backticks don't split items
    assert(Dialect.invertOrderBy("PARTITION BY `order by z, w` ORDER BY k")
      == "PARTITION BY `order by z, w` ORDER BY k DESC NULLS LAST")
    assert(Dialect.invertOrderBy("ORDER BY `a, order b` DESC")
      == "ORDER BY `a, order b` ASC NULLS FIRST")
  }

  test("min/max EXCLUDE envelope refusals are loud and precise") {
    // offset bound
    val off = intercept[IllegalArgumentException](Dialect.rewriteWindowExclude(
      "SELECT max(n) OVER (PARTITION BY c ORDER BY k " +
        "ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) FROM t"))
    assert(off.getMessage.contains("frame start must be UNBOUNDED"))
    // joined FROM
    val join = intercept[IllegalArgumentException](Dialect.rewriteWindowExclude(
      "SELECT min(n) OVER (PARTITION BY c ORDER BY k " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) " +
        "FROM t JOIN u ON t.id = u.id"))
    assert(join.getMessage.contains("single-relation FROM"))
    // grouped SELECT
    val grp = intercept[IllegalArgumentException](Dialect.rewriteWindowExclude(
      "SELECT min(n) OVER (PARTITION BY c ORDER BY k " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) " +
        "FROM t GROUP BY c, k, n"))
    assert(grp.getMessage.contains("grouped SELECT"))
  }

  test("min/max RANGE EXCLUDE CURRENT ROW uses the multiplicity fallback") {
    val in = "SELECT max(n) OVER (PARTITION BY c ORDER BY k RANGE BETWEEN " +
      "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS m " +
      "FROM files"
    val out = Dialect.rewriteWindowExclude(in)
    assert(!out.toUpperCase.contains("EXCLUDE"))
    // the peers-minus-current piece: group-extreme multiplicity count
    // and the second-distinct extreme under a greatest() combine
    assert(out.contains("count(CASE WHEN"))
    assert(out.contains(">= 2 THEN"))
    assert(out.contains("greatest("))
  }

  test("in-args IGNORE/RESPECT NULLS moves between the call and OVER") {
    assert(Dialect.rewriteNullsModifier(
      "SELECT lag(x IGNORE NULLS) OVER (ORDER BY i) FROM t")
      == "SELECT lag(x) IGNORE NULLS OVER (ORDER BY i) FROM t")
    assert(Dialect.rewriteNullsModifier(
      "SELECT lead(x, 2 RESPECT NULLS) OVER (ORDER BY i) FROM t")
      == "SELECT lead(x, 2) RESPECT NULLS OVER (ORDER BY i) FROM t")
    // NULLS FIRST/LAST sort modifiers and non-window calls untouched
    val q1 = "SELECT x FROM t ORDER BY x NULLS FIRST"
    assert(Dialect.rewriteNullsModifier(q1) == q1)
    val q2 = "SELECT coalesce(x IGNORE NULLS) FROM t" // no OVER — leave loud
    assert(Dialect.rewriteNullsModifier(q2) == q2)
  }

  test("DuckDB type spellings rewrite in CAST contexts only") {
    assert(Dialect.rewriteTypeNames("SELECT CAST(x AS VARCHAR) FROM t")
      == "SELECT CAST(x AS STRING) FROM t")
    assert(Dialect.rewriteTypeNames("SELECT TRY_CAST(x AS HUGEINT) FROM t")
      == "SELECT TRY_CAST(x AS DECIMAL(38,0)) FROM t")
    assert(Dialect.rewriteTypeNames("SELECT x::TEXT, y::INT8 FROM t")
      == "SELECT x::STRING, y::BIGINT FROM t")
    // VARCHAR(n) keeps its length; identifiers named like types untouched
    val q1 = "SELECT CAST(x AS VARCHAR(10)) FROM t"
    assert(Dialect.rewriteTypeNames(q1) == q1)
    val q2 = "SELECT text FROM t WHERE text = 'VARCHAR'"
    assert(Dialect.rewriteTypeNames(q2) == q2)
    // nested cast: the inner AS is not the outer's last top-level AS
    assert(Dialect.rewriteTypeNames(
      "SELECT CAST(CAST(x AS VARCHAR) AS BLOB) FROM t")
      == "SELECT CAST(CAST(x AS STRING) AS BINARY) FROM t")
  }

  test("EXCLUDE GROUP over a CURRENT..CURRENT frame is a typed NULL, no restructure") {
    val in = "SELECT min(n) OVER (PARTITION BY c ORDER BY k RANGE BETWEEN " +
      "CURRENT ROW AND CURRENT ROW EXCLUDE GROUP) AS m FROM files"
    val out = Dialect.rewriteWindowExclude(in)
    assert(!out.toUpperCase.contains("EXCLUDE"))
    assert(out.contains("CASE WHEN 1 = 0 THEN"))
    assert(!out.contains("SELECT *,"))
  }
}
