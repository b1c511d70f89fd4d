package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.fixtures.FixtureCorpus
import graft.fm.{QueryEngine, Settings}

/** Differential dialect fuzzer (VERDICT r9 item 7): generates DuckDB-
  * dialect statements per construct family, runs each through the FULL
  * engine path (glob scan → parse → files view → dialect rewrite →
  * Spark SQL) over the fixture corpus, and dumps results + an
  * `oracle_sql.json` in exactly the format `tools/oracle_check.py`
  * consumes — the oracle side replays the ORIGINAL statement natively
  * in DuckDB over the reconstructed files table, so any semantic drift
  * a rewrite introduces shows up as a row/column/hash mismatch the
  * fixed q_fm_* rows can't catch.
  *
  * Usage:  runMain graft.DialectFuzz <sfDir> <outDir> [nPerFamily]
  * then:   python3 tools/oracle_check.py <sfDir> <outDir>
  *
  * Generation is DETERMINISTIC: statement i of family f is a pure
  * function of (f, i), so a failing case replays exactly and a green
  * run is comparable across commits.
  *
  * Generator discipline (the parity rules every statement obeys):
  *  - every computed column carries an explicit lowercase alias on both
  *    sides (the compare keys on column names);
  *  - ORDER BY on a nullable column always spells NULLS FIRST/LAST
  *    (Spark defaults NULLS FIRST on ASC, DuckDB NULLS LAST);
  *  - LIMIT only ever follows a total order on `path` (unique,
  *    non-null), so the kept prefix is deterministic;
  *  - no floating-point REDUCTIONS (sum/avg over doubles) — casts and
  *    single float ops are IEEE-identical, accumulation order is not;
  *  - date_diff only over 'day' (complete-unit vs boundary-crossing
  *    semantics coincide on midnight-aligned dates).
  */
object DialectFuzz {

  final case class Stmt(engine: String, oracle: String)

  private val cte = FixtureCorpus.filesCte

  /** Statement text shared verbatim by both engines → oracle = CTE + it. */
  private def shared(sql: String): Stmt = Stmt(sql, s"$cte\n$sql")

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  // Low-cardinality group/partition keys (all nullable on %100==7 rows).
  private val keyCols = Seq("lang", "source", "category", "published")
  // Ordering/value columns disjoint from keyCols.
  private val ordCols = Seq("n_chars", "created", "id", "path")
  private val allCols = Seq("path", "id", "lang", "source", "n_chars",
    "created", "tags", "published", "score", "category")

  private def intExpr(r: Random): String = pick(r, Seq(
    "TRY_CAST(n_chars AS BIGINT)", "TRY_CAST(id AS BIGINT)", "len(path)"))

  private def predicate(r: Random): String = pick(r, Seq(
    s"${pick(r, keyCols)} IS NOT NULL",
    "lang IN ('en', 'fr')",
    s"TRY_CAST(n_chars AS INT) > ${50 * (1 + r.nextInt(6))}",
    "path LIKE '%doc%'",
    "published = 'True'",
    s"category = 'cat${r.nextInt(7)}'",
    f"created >= '2025-${1 + r.nextInt(9)}%02d-01'",
    "id IS NOT NULL"))

  private def whereOpt(r: Random): String =
    if (r.nextBoolean()) s" WHERE ${predicate(r)}" else ""

  // ---- families ---------------------------------------------------------

  /** r12 second-sweep surface promoted from the constant-expression
    * probe to corpus columns with NULL mixes (VERDICT r12 item 6):
    * encodings/hashes, JSON named functions, grapheme kernels, and
    * path-parsing functions over the nullable lang/category/tags
    * columns — fuzz catches null-handling and codegen-path drift the
    * constant probe can't.
    */
  private def fnParity2(r: Random): Stmt = {
    val nullable = pick(r, Seq("lang", "category", "source"))
    r.nextInt(5) match {
      case 0 => // encodings round-trip + hashes over nullable strings
        shared(s"""SELECT path, to_base64(encode($nullable)) AS b64,
          |  decode(from_base64(to_base64(encode($nullable)))) AS rt,
          |  sha256($nullable) AS h256, md5($nullable) AS h5
          |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case 1 => // grapheme kernels (ASCII corpus: counts equal chars, the
        // NULL path and negative-n clamps are what's under test)
        val n = 1 + r.nextInt(4)
        shared(s"""SELECT path, length_grapheme($nullable) AS lg,
          |  left_grapheme(path, $n) AS lf, right_grapheme($nullable, 2) AS rg,
          |  substring_grapheme(path, ${1 + r.nextInt(5)}, $n) AS sg
          |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case 2 => // path parsing over the real path column
        shared(s"""SELECT path, parse_filename(path) AS fn,
          |  parse_filename(path, true) AS fnt, parse_dirname(path) AS dn,
          |  parse_dirpath(path) AS dp,
          |  array_to_string(parse_path(path), '|') AS pp
          |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case 3 => // JSON named functions over tags (NULL on empty rows)
        val i = r.nextInt(3)
        shared(s"""SELECT path, json_extract_string(tags, '$$[$i]') AS je,
          |  json_type(tags) AS jt, json_valid(tags) AS jv,
          |  array_to_string(json_keys('{"a": 1, "b": {"c": 2}}'), ',') AS jk
          |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case _ => // hex/byte-length/normalize kernels over nullable columns
        shared(s"""SELECT path, to_hex(len(path) * ${3 + r.nextInt(9)}) AS hx,
          |  strlen($nullable) AS sl, nfc_normalize($nullable) AS nn,
          |  unicode($nullable) AS uc
          |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
    }
  }

  /** JSON `->` / `->>` operators + named json fns over the two JSON
    * surfaces the corpus has: the ADR-0006 JSON-encoded `tags` column
    * (a JSON array or NULL) and per-row JSON objects built by string
    * concatenation (NULL components null out the whole document on
    * both engines). Members exercise chaining, the `||`-binds-into-LHS
    * precedence pin, lambda coexistence, and numeric re-serialization
    * through yyjson's double format.
    */
  private def jsonOps(r: Random): Stmt = {
    // built JSON object: {"l": "<lang>", "n": <n_chars>} (NULL when the
    // frontmatter row is empty — both engines propagate through ||)
    val obj = """('{"l": "' || lang || '", "n": ' || n_chars || '}')"""
    // {"s": <score>} exercises double re-serialization (score nullable)
    val objS = """('{"s": ' || score || '}')"""
    r.nextInt(14) match {
      case 13 => // r16: PAREN-GROUP RHS for '->'/'->>' (the former loud
        // refusal) — paren arithmetic and dynamic-concat paths at plain
        // positions and at whitelisted argument starts, NEXT TO a real
        // lambda whose body is ALSO a paren group (must stay a lambda:
        // the LHS guard, not the RHS shape, is what disambiguates)
        shared(s"""SELECT path, tags -> (${r.nextInt(2)} + 1) AS pa,
          tags ->> ('$$[' || ${r.nextInt(3)} || ']') AS pc,
          coalesce(tags -> (1 + ${r.nextInt(2)}), '"none"') AS pw,
          array_to_string(list_transform(from_json(tags, '["VARCHAR"]'),
            x -> (upper(x) || '!')), ',') AS lam
          FROM files WHERE tags IS NOT NULL ORDER BY path LIMIT 40""")
      case 0 =>
        val i = r.nextInt(4)
        shared(s"SELECT path, tags ->> $i AS t0, tags -> '$$[#-1]' AS tl " +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
      case 12 => // r16: bare-ident-LHS arrows at argument starts of the
        // NEWLY whitelisted scalars (verdict r15 advice — these
        // positions refused before the whitelist extension). The
        // lambda-shaped position is exercised by the VARCHAR-native
        // entries (char_length/levenshtein/ascii — DuckDB binds no
        // math fn over VARCHAR, so sqrt/power take the arrow inside a
        // paren group with an explicit cast; IEEE sqrt is correctly
        // rounded and x² is exact for integer x, so both engines
        // bit-match). Derived table, NOT a CTE: shared() itself wraps
        // the statement in `WITH files AS (...)`.
        shared(s"""SELECT path, strlen(d ->> 'l') AS cl,
          levenshtein(d ->> 'l', 'en') AS lv, ascii(d ->> 'l') AS a0,
          sqrt(CAST(d ->> 'n' AS DOUBLE)) AS sq,
          power((d ->> 'n')::DOUBLE, 2) AS pw
          FROM (SELECT path,
            ('{"n": ' || TRY_CAST(n_chars AS BIGINT) || ', "l": "' || lang || '"}') AS d
            FROM files) j ORDER BY path LIMIT ${30 + r.nextInt(20)}""")
      case 11 => // r15: bare-ident-LHS arrows at argument starts of
        // WHITELISTED functions (Dialect.nonLambdaFns) — the lambda-
        // shaped position where the rewrite must still fire; an
        // UNLISTED function there is a documented loud refusal
        shared(s"SELECT path, coalesce(tags -> ${r.nextInt(3)}, '\"none\"') AS c0, " +
          s"concat('<', tags ->> 0, '>') AS c1, " +
          s"length(tags ->> ${r.nextInt(3)}) AS l0, " +
          s"upper($obj ->> 'l') AS u " +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
      case 10 => // r14: dynamic (column-expression) RHS for -> and ->> —
        // DuckDB accepts any path expression; the rewrite now admits
        // ident-chain RHS for '->' (lambda excluded by the LHS guard)
        shared(s"SELECT path, tags -> abs(TRY_CAST(n_chars AS BIGINT) % 3) AS ti, " +
          s"$obj ->> substr('nl', CAST(1 + TRY_CAST(n_chars AS BIGINT) % 2 AS INT), 1) AS dk, " +
          s"tags ->> greatest(0, TRY_CAST(n_chars AS BIGINT) % 4) AS ts " +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
      case 1 =>
        val key = pick(r, Seq("'l'", "'n'", "'$.l'", "'missing'", "'/n'"))
        shared(s"SELECT path, $obj ->> $key AS v, $obj -> 'n' AS n " +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
      case 2 => // chaining through a nested built document
        shared(s"""SELECT path, ('{"o": {"t": ' || tags || '}}') -> 'o' -> 't' ->> ${r.nextInt(3)} AS v """ +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
      case 3 => // || binds into the LHS; completed arrow concats left
        shared(s"""SELECT path, '["' || lang || '"]' ->> 0 AS l, """ +
          s"tags ->> ${r.nextInt(3)} || '!' AS bang " +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
      case 4 => // operator vs named spelling must agree
        val p = pick(r, Seq("$[0]", "$[1]", "1"))
        shared(s"SELECT path, tags ->> '$p' AS op, json_extract_string(tags, '$p') AS named, " +
          s"tags -> '$p' AS opj, json_extract(tags, '$p') AS namedj " +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
      case 5 => // lambda arrows and JSON arrows in one statement
        val body = pick(r, Seq("upper(x)", "x || 's'"))
        shared(s"""SELECT path, array_to_string(list_transform(from_json(tags, '["VARCHAR"]'), x -> $body), ',') AS xs, """ +
          s"tags ->> 0 AS t0 FROM files WHERE tags IS NOT NULL ORDER BY path LIMIT 40")
      case 6 => // WHERE usage + casts of extracted values
        shared(s"SELECT path, TRY_CAST($obj ->> 'n' AS BIGINT) % ${2 + r.nextInt(5)} AS m " +
          s"FROM files WHERE $obj ->> 'l' IS NOT NULL ORDER BY path LIMIT 40")
      case 7 => // double re-serialization + json_type/json_valid
        shared(s"SELECT path, $objS -> 's' AS s, json_type(tags) AS jt, " +
          s"json_valid(coalesce(tags, '[')) AS jv " +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
      case 8 => // r13 named tail: lengths, 2-arg type, minify, structure
        shared(s"SELECT path, json_array_length(tags) AS al, " +
          s"json_array_length($obj, 'missing') AS alm, " +
          s"json_type($obj, 'n') AS jt2, json(tags) AS jm, " +
          s"json_structure($obj) AS js " +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
      case _ => // containment, merge, constructors over corpus columns
        val probe = pick(r, Seq("'\"the\"'", "'\"spark\"'", "'\"data\"'"))
        shared(s"SELECT path, json_contains(tags, $probe) AS jc, " +
          s"""json_merge_patch($obj, '{"n": null, "z": 9}') AS jp, """ +
          s"json_array(lang, TRY_CAST(n_chars AS BIGINT), NULL) AS ja, " +
          s"json_object('l', lang, 'c', category) AS jo " +
          s"FROM files${whereOpt(r)} ORDER BY path LIMIT 40")
    }
  }

  private def qualify(r: Random): Stmt = {
    val fn = pick(r, Seq("row_number()", "rank()", "dense_rank()"))
    val part = pick(r, keyCols)
    val ord = pick(r, ordCols)
    val dir = pick(r, Seq("ASC", "DESC"))
    val nulls = pick(r, Seq("NULLS FIRST", "NULLS LAST"))
    val cmp = pick(r, Seq("<=", "=", "<"))
    val k = 1 + r.nextInt(3)
    shared(
      s"""SELECT path, $part AS p, $ord AS o FROM files${whereOpt(r)}
         |QUALIFY $fn OVER (PARTITION BY $part ORDER BY $ord $dir $nulls, path) $cmp $k""".stripMargin)
  }

  private def brackets(r: Random): Stmt = {
    def one(): String = pick(r, Seq(
      s"string_split(path, '/')[${1 + r.nextInt(3)}]",
      s"string_split(path, '_')[${1 + r.nextInt(3)}]",
      { val i = 1 + r.nextInt(3); val j = i + r.nextInt(2)
        s"array_to_string(string_split(path, '/')[$i:$j], '|')" },
      s"array_to_string(string_split(path, '/')[${1 + r.nextInt(2)}:], '-')",
      s"array_to_string(string_split(path, '/')[:${1 + r.nextInt(3)}], '-')",
      { val xs = Seq.fill(2 + r.nextInt(3))(r.nextInt(90))
        s"[${xs.mkString(", ")}][${1 + r.nextInt(4)}]" },
      s"['a', lang, category][${1 + r.nextInt(3)}]",
      "array_to_string(['x', 'y'] || [lang], ',')"))
    shared(s"SELECT path, ${one()} AS x, ${one()} AS y FROM files${whereOpt(r)}")
  }

  private def listcomp(r: Random): Stmt = {
    val src = pick(r, Seq(
      "string_split(path, '/')", "string_split(path, '_')",
      "from_json(tags, '[\"VARCHAR\"]')"))
    val body = pick(r, Seq("upper(x)", "x || 's'", "len(x)", "substr(x, 1, 3)"))
    val cond = pick(r, Seq("", " IF len(x) > 2", " IF x <> 'the'", " IF x LIKE '%a%'"))
    shared(s"SELECT path, [$body FOR x IN $src$cond] AS xs FROM files${whereOpt(r)}")
  }

  private def distinctOn(r: Random): Stmt = {
    val ks = r.shuffle(keyCols).take(1 + r.nextInt(2))
    val (vc, vd) = pick(r, Seq(("n_chars", "DESC"), ("created", "ASC"), ("id", "DESC")))
    val ordKeys = ks.map(k => s"$k NULLS FIRST").mkString(", ")
    shared(
      s"""SELECT DISTINCT ON (${ks.mkString(", ")}) ${ks.mkString(", ")}, path, n_chars
         |FROM files${whereOpt(r)}
         |ORDER BY $ordKeys, $vc $vd NULLS LAST, path""".stripMargin)
  }

  private def starMods(r: Random): Stmt = {
    val lim = 10 + r.nextInt(40)
    val repl = pick(r, Seq(
      (c: String) => s"upper($c) AS $c",
      (c: String) => s"$c || '!' AS $c",
      (c: String) => s"coalesce($c, '?') AS $c",
      (c: String) => s"substr($c, 1, 4) AS $c"))
    r.nextInt(6) match {
      case 0 =>
        val ex = r.shuffle(allCols.filter(_ != "path")).take(2 + r.nextInt(2))
        shared(s"SELECT * EXCLUDE (${ex.mkString(", ")}) FROM files ORDER BY path LIMIT $lim")
      case 1 =>
        val c = pick(r, Seq("lang", "source", "category", "created"))
        shared(s"SELECT * REPLACE (${repl(c)}) FROM files ORDER BY path LIMIT $lim")
      case 2 =>
        val ex = r.shuffle(Seq("tags", "score", "id", "n_chars")).take(2)
        val c = pick(r, Seq("lang", "source", "category"))
        shared(s"SELECT * EXCLUDE (${ex.mkString(", ")}) REPLACE (${repl(c)}) FROM files ORDER BY path LIMIT $lim")
      case 3 =>
        val cs = r.shuffle(allCols.filter(_ != "path")).take(2)
        shared(s"SELECT COLUMNS('^(path|${cs.mkString("|")})$$') FROM files ORDER BY path LIMIT $lim")
      case 4 =>
        // no pattern may match 'path': it is selected explicitly, and a
        // duplicate output column cannot round-trip parquet (DuckDB
        // itself tolerates duplicate names).
        val pat = pick(r, Seq("c%", "s%", "%d", "%g%"))
        shared(s"SELECT path, COLUMNS(c -> c LIKE '$pat') FROM files ORDER BY path LIMIT $lim")
      case _ =>
        val fn = pick(r, Seq("min", "max"))
        val cs = r.shuffle(Seq("n_chars", "id", "created", "lang")).take(2)
        val g = pick(r, Seq("category", "source"))
        shared(
          s"""SELECT $g, COUNT(*) AS n, $fn(COLUMNS('^(${cs.mkString("|")})$$'))
             |FROM files WHERE $g IS NOT NULL GROUP BY $g""".stripMargin)
    }
  }

  private def fromFirst(r: Random): Stmt = r.nextInt(4) match {
    case 0 =>
      val c = pick(r, allCols)
      shared(s"FROM files SELECT path, $c WHERE ${predicate(r)} ORDER BY path LIMIT ${5 + r.nextInt(30)}")
    case 1 =>
      shared(s"FROM files WHERE ${predicate(r)}")
    case 2 =>
      val k = pick(r, keyCols)
      shared(s"FROM files SELECT $k AS k, COUNT(*) AS n WHERE ${predicate(r)} GROUP BY $k")
    case _ =>
      shared(s"SELECT * FROM (FROM files WHERE ${predicate(r)}) q ORDER BY path LIMIT ${5 + r.nextInt(30)}")
  }

  private def semiAnti(r: Random): Stmt = {
    val kind = pick(r, Seq("SEMI", "ANTI"))
    val k = pick(r, keyCols)
    // not `path`: f.path is already selected, and a duplicate output
    // column name cannot be written to parquet (DuckDB tolerates it,
    // the differential harness cannot).
    val c = pick(r, allCols.filter(_ != "path"))
    val second =
      if (r.nextInt(3) == 0)
        s"\n${pick(r, Seq("SEMI", "ANTI"))} JOIN (SELECT path AS q2 FROM files WHERE ${predicate(r)}) c2 ON f.path = c2.q2"
      else ""
    shared(
      s"""SELECT f.path, f.$c FROM files f
         |$kind JOIN (SELECT $k AS kk FROM files WHERE ${predicate(r)}) d ON f.$k = d.kk$second""".stripMargin)
  }

  /** DuckDB double-quoted identifiers — columns, qualified columns and
    * aliases spelled with quote, comment and keyword text — next to the
    * rewrites whose text scans they used to confuse (QUALIFY, brackets,
    * FROM-first, DISTINCT ON). Aliases stay lowercase: the compare keys
    * on column names.
    */
  private def quotedIdent(r: Random): Stmt = {
    val c = pick(r, allCols.filter(_ != "path"))
    val k = pick(r, keyCols)
    val alias = pick(r, Seq("\"qualify\"", "\"it's\"", "\"a--b\"", "\"x/*y\"",
      "\"from\"", "\"q\"\"d\"", "\"semi\""))
    r.nextInt(4) match {
      case 0 => shared(
        s"""SELECT "path", "$c" AS $alias FROM files${whereOpt(r)} ORDER BY "path" LIMIT 40""")
      case 1 => shared(
        s"""SELECT f."path", f."$k" AS $alias FROM files f${whereOpt(r)}
           |QUALIFY row_number() OVER (PARTITION BY f."$k" ORDER BY f."path") <= ${1 + r.nextInt(2)}""".stripMargin)
      case 2 => shared(
        s"""FROM files SELECT "path", string_split("path", '/')[${1 + r.nextInt(2)}] AS $alias
           |WHERE "$k" IS NOT NULL ORDER BY "path" LIMIT 40""".stripMargin)
      case _ => shared(
        s"""SELECT DISTINCT ON ("$k") "$k" AS $alias, "path" FROM files
           |ORDER BY "$k" NULLS LAST, "path"""".stripMargin)
    }
  }

  /** Select-list UNNEST (one per select list): JSON-decoded tag lists
    * (NULL on the no-frontmatter rows), split paths, and bracket lists
    * holding NULL elements, bare and under an aggregate.
    */
  private def unnestSelect(r: Random): Stmt = {
    val src = pick(r, Seq("from_json(tags, '[\"VARCHAR\"]')", "string_split(path, '/')",
      "[lang, category]"))
    if (r.nextBoolean())
      shared(s"SELECT path, UNNEST($src) AS u FROM files${whereOpt(r)} ORDER BY path, u NULLS FIRST")
    else
      shared(s"SELECT u, COUNT(*) AS n FROM (SELECT UNNEST($src) AS u FROM files${whereOpt(r)}) " +
        "GROUP BY u ORDER BY u NULLS FIRST")
  }

  private def mathOps(r: Random): Stmt = {
    val ie = intExpr(r)
    val parts = mutable.Buffer(
      s"$ie // ${2 + r.nextInt(8)} AS fd",
      s"($ie % ${2 + r.nextInt(9)}) ** ${r.nextInt(3)} AS pw")
    if (r.nextBoolean()) parts += s"($ie % ${2 + r.nextInt(5)}) ^ 2 AS xr"
    if (r.nextBoolean()) parts += s"-${1 + r.nextInt(3)} ** 2 AS ns"
    shared(s"SELECT path, ${parts.mkString(", ")} FROM files${whereOpt(r)}")
  }

  private def patterns(r: Random): Stmt = {
    def one(): String = pick(r, Seq(
      "path SIMILAR TO 'src[0-9]/.*'",
      "path SIMILAR TO '(web|src1)/.*'",
      "path SIMILAR TO '.*doc_00[0-9]{2}\\.md'",
      "path NOT SIMILAR TO '.*[13579]\\.md'",
      "lang SIMILAR TO '(en|fr|de)'",
      "path GLOB '*.md'",
      "path GLOB 'src*/doc*'",
      "path GLOB '*/doc_0*'",
      // no NOT GLOB: DuckDB 1.0.0 has no NOT GLOB operator form
      "NOT (path GLOB 'src1*')",
      "path ILIKE '%DOC%'",
      "category ILIKE 'CAT%'"))
    val flag = pick(r, Seq(
      "path SIMILAR TO 'src[0-4]/.*'", "path GLOB '*/doc_00[0-4]*'", "lang SIMILAR TO '(en|zh)'"))
    shared(
      s"""SELECT path, $flag AS b FROM files
         |WHERE ${one()} AND ${one()} ORDER BY path LIMIT ${10 + r.nextInt(40)}""".stripMargin)
  }

  private def unionByName(r: Random): Stmt = {
    val a = pick(r, keyCols)
    val b = pick(r, keyCols.filter(_ != a))
    val all = if (r.nextBoolean()) "ALL " else ""
    val extra = if (r.nextBoolean()) ", 'k' AS kind" else ""
    shared(
      s"""SELECT $a AS x, COUNT(*) AS n FROM files WHERE $a IS NOT NULL GROUP BY $a
         |UNION ${all}BY NAME
         |SELECT COUNT(*) AS n, $b AS y$extra FROM files WHERE $b IS NOT NULL GROUP BY $b""".stripMargin)
  }

  /** Macro names are UNIQUE per statement: both the engine's macro map
    * and the checker's DuckDB connection are statement-spanning.
    */
  private def macros(i: Int)(r: Random): Stmt = {
    val n = s"fzm_$i"
    val (ddl, call) = pick(r, Seq(
      (s"CREATE MACRO $n(a) AS (a + 1)",
        s"$n(TRY_CAST(n_chars AS BIGINT))"),
      (s"CREATE MACRO $n(a) AS upper(a)", s"$n(coalesce(lang, '?'))"),
      (s"CREATE MACRO $n(a, b) AS (a || '-' || b)",
        s"$n(coalesce(source, 's'), coalesce(category, 'c'))"),
      (s"CREATE MACRO $n(a) AS coalesce(a, 'none')", s"$n(category)"),
      (s"CREATE MACRO $n(a) AS (len(a) * 2)", s"$n(path)")))
    val body = s"SELECT path, $call AS m FROM files${whereOpt(r)}"
    Stmt(s"$ddl;\n$body", s"$ddl;\n$cte\n$body")
  }

  /** Session-scoped table DDL (DuckDB connection model). Table names are
    * UNIQUE per statement: the engine instance and the checker's DuckDB
    * connection both span all statements.
    */
  private def ddl(i: Int)(r: Random): Stmt = {
    val t = s"fzt_$i"
    val k = pick(r, keyCols)
    def select(pred: String) = s"SELECT path, $k AS k, n_chars FROM files WHERE $pred"
    val p1 = predicate(r)
    val p2 = predicate(r)
    def o(sel: String) = s"($cte\n$sel)"
    r.nextInt(6) match {
      case 0 =>
        val fin = s"SELECT k, COUNT(*) AS n FROM $t GROUP BY k"
        Stmt(s"CREATE TABLE $t AS ${select(p1)};\n$fin",
          s"CREATE TABLE $t AS ${o(select(p1))};\n$fin")
      case 1 =>
        val fin = s"SELECT COUNT(*) AS n, COUNT(DISTINCT path) AS d FROM $t"
        Stmt(
          s"CREATE TABLE $t AS ${select(p1)};\nINSERT INTO $t ${select(p2)};\n$fin",
          s"CREATE TABLE $t AS ${o(select(p1))};\nINSERT INTO $t ${o(select(p2))};\n$fin")
      case 2 =>
        val fin = s"SELECT k, min(path) AS mn FROM $t GROUP BY k"
        Stmt(
          s"CREATE TABLE $t AS ${select(p1)};\nCREATE OR REPLACE TABLE $t AS ${select(p2)};\n$fin",
          s"CREATE TABLE $t AS ${o(select(p1))};\nCREATE OR REPLACE TABLE $t AS ${o(select(p2))};\n$fin")
      case 3 =>
        Stmt(s"CREATE TABLE $t AS ${select(p1)}",
          s"CREATE TABLE $t AS ${o(select(p1))}")
      case 4 =>
        Stmt(s"CREATE TABLE $t AS ${select(p1)};\nINSERT INTO $t ${select(p2)}",
          s"CREATE TABLE $t AS ${o(select(p1))};\nINSERT INTO $t ${o(select(p2))}")
      case _ =>
        Stmt(s"CREATE TABLE $t AS ${select(p1)};\nDROP TABLE $t",
          s"CREATE TABLE $t AS ${o(select(p1))};\nDROP TABLE $t")
    }
  }

  private def dateFns(r: Random): Stmt = r.nextInt(4) match {
    case 0 =>
      val fmt = pick(r, Seq("%Y-%m", "%d/%m/%Y", "%j", "%Y%m%d", "%Y.%d"))
      shared(s"SELECT path, strftime(CAST(created AS DATE), '$fmt') AS s FROM files WHERE created IS NOT NULL")
    case 1 =>
      shared(
        """SELECT MIN(epoch_us(strptime(created, '%Y-%m-%d'))) AS a,
          |  MAX(epoch_ms(strptime(created, '%Y-%m-%d'))) AS b,
          |  COUNT(*) AS n FROM files WHERE created IS NOT NULL""".stripMargin)
    case 2 =>
      shared(
        s"""SELECT ${pick(r, keyCols)} AS k,
           |  date_diff('day', strptime(MIN(created), '%Y-%m-%d'),
           |            strptime(MAX(created), '%Y-%m-%d')) AS span
           |FROM files WHERE created IS NOT NULL GROUP BY 1""".stripMargin)
    case _ =>
      val fmt = pick(r, Seq("%Y/%m", "%Y-%m", "%m"))
      shared(
        s"""SELECT strftime(strptime(created, '%Y-%m-%d'), '$fmt') AS ym, COUNT(*) AS n
           |FROM files WHERE created IS NOT NULL GROUP BY 1""".stripMargin)
  }

  private def pivot(r: Random): Stmt = {
    val onc = pick(r, keyCols)
    val g = pick(r, Seq("source", "lang", "category").filter(_ != onc))
    val c = pick(r, Seq("id", "n_chars", "path", "created"))
    val agg = pick(r, Seq(
      "count(*)", s"count($c)", s"min($c)", s"max($c)",
      "sum(TRY_CAST(n_chars AS BIGINT))", s"count(DISTINCT $c)"))
    val alias = if (r.nextInt(3) == 0) " AS v" else ""
    val in =
      if (onc == "lang" && r.nextBoolean()) " IN ('en', 'fr', 'zh')" else ""
    shared(s"PIVOT files ON $onc$in USING $agg$alias GROUP BY $g")
  }

  private def unpivot(r: Random): Stmt = {
    val cs = r.shuffle(Seq("id", "lang", "source", "n_chars", "created",
      "published", "score", "category")).take(2 + r.nextInt(3)).sorted
    val lim = if (r.nextBoolean()) s" ORDER BY path, k LIMIT ${20 + r.nextInt(60)}" else ""
    shared(s"UNPIVOT files ON ${cs.mkString(", ")} INTO NAME k VALUE v$lim")
  }

  private def regexFns(r: Random): Stmt = {
    def one(): String = pick(r, Seq(
      // DuckDB default replaces the FIRST match only; 'g' all; 'i' folds
      "regexp_replace(path, '[0-9]', 'N')",
      "regexp_replace(path, '[0-9]', 'N', 'g')",
      "regexp_replace(path, 'doc', 'D', 'i')",
      "regexp_replace(path, '(doc)_', '\\1-', 'g')",
      "regexp_replace(coalesce(category, 'none'), 'cat', '#', 'g')",
      s"regexp_extract(path, 'doc_([0-9]+)', 1)",
      "regexp_extract(path, '([a-z]+)/', 1)",
      "regexp_matches(path, 'DOC_00[0-9]', 'i')",
      "regexp_matches(path, 'src[0-9]+/')",
      "regexp_matches(coalesce(lang, ''), '^(en|fr)$')"))
    shared(s"SELECT path, ${one()} AS a, ${one()} AS b FROM files${whereOpt(r)}")
  }

  /** r12 breadth-parity family: the function surface the gap probe
    * (tools/fn_gap_exprs.txt) closed — math kernels, DuckDB-order trim,
    * BIGINT date extraction, boundary-counting date_diff vs
    * complete-counting date_sub across ALL units (the old "day only"
    * discipline retired with the graft_date_diff truncate-then-diff
    * registration), DATE-preserving date_trunc, the list long tail
    * (slices with negative bounds, NULLS-LAST sorts, resize/reduce/
    * unique), struct_pack, and constant_or_null. Transcendentals round
    * to 9 digits (libm last-ulp divergence); everything else compares
    * exactly.
    */
  private def fnParity(r: Random): Stmt = {
    val ie = intExpr(r)
    val dt = "TRY_CAST(created AS DATE)"
    val ts = "TRY_CAST(created AS TIMESTAMP)"
    val unit = pick(r, Seq("year", "quarter", "month", "week", "day",
      "hour", "minute", "second"))
    val l = "string_split(path, '/')"
    val body = r.nextInt(8) match {
      case 0 => // integer math kernels
        s"""gcd($ie + 24, ${2 + r.nextInt(40)}) AS a,
           |lcm($ie % 7, ${1 + r.nextInt(9)}) AS b,
           |xor($ie, ${r.nextInt(64)}) AS c,
           |sign($ie - ${30 + r.nextInt(40)}) AS d,
           |even(($ie % 19) / 4.0) AS e,
           |constant_or_null(${1 + r.nextInt(99)}, nullif($ie % 7, ${r.nextInt(7)})) AS f""".stripMargin
      case 1 => // floor-division pair, trunc, logs, gamma
        // the trunc operand divides by a DOUBLE: a DECIMAL divisor gives
        // each engine its own decimal-division result scale
        s"""fdiv($ie - 50, ${2 + r.nextInt(9)}) AS a,
           |fmod($ie - 50, ${2 + r.nextInt(9)}) AS b,
           |trunc(($ie - 50) / CAST(4.0 AS DOUBLE)) AS c,
           |round(log($ie + 2), 9) AS d,
           |round(log2($ie + 2), 9) AS e,
           |round(gamma(1 + ($ie % 8)), 9) AS f,
           |round(lgamma(2 + ($ie % 6) + 0.25), 9) AS g""".stripMargin
      case 2 => // double edges: nextafter/signbit/isfinite/isinf.
        // nextafter's input coalesces: DuckDB 1.0's VECTORIZED nextafter
        // kernel renders a NULL input as NaN (the scalar path returns
        // NULL) — we propagate NULL properly and don't mirror the bug
        s"""nextafter(CAST(coalesce($ie, 3) AS DOUBLE), ${if (r.nextBoolean()) "1e9" else "-1e9"}) AS a,
           |signbit(CAST($ie - 50 AS DOUBLE)) AS b,
           |isfinite(CAST($ie AS DOUBLE) / 4) AS c,
           |isinf(CAST('${if (r.nextBoolean()) "inf" else "-inf"}' AS DOUBLE) * ($ie + 1)) AS d,
           |isnan(CAST($ie AS DOUBLE)) AS e""".stripMargin
      case 3 => // DuckDB-order trim family, byte length, hex, full match
        s"""strlen(path) AS a,
           |to_hex(len(path) * ${1 + r.nextInt(200)}) AS b,
           |ltrim(path, '${pick(r, Seq("src/", "s", "rs"))}') AS c,
           |rtrim(path, '${pick(r, Seq(".md", "dm.", "d"))}') AS d,
           |trim(path, 'srcd/.m') AS e,
           |from_hex(substr(md5(path), 1, ${2 * (4 + r.nextInt(5))})) AS f,
           |regexp_full_match(path, '${if (r.nextBoolean()) "[a-z0-9_/.]+" else "doc.*"}') AS g,
           |nfc_normalize(path || 'e' || chr(769)) AS h""".stripMargin
      case 4 => // BIGINT date extraction + DATE-preserving trunc
        s"""century($dt) AS a, isodow($dt) AS b, isoyear($dt) AS c,
           |week($dt) AS d, yearweek($dt) AS e,
           |dayofweek($dt) AS f, weekday($dt) AS g,
           |date_trunc('${pick(r, Seq("year", "quarter", "month", "week"))}', $dt) AS h""".stripMargin
      case 5 => // boundary vs complete part counting, every unit
        s"""date_diff('$unit', $dt, DATE '2025-0${1 + r.nextInt(9)}-${10 + r.nextInt(18)}') AS a,
           |date_sub('$unit', $dt, DATE '2025-0${1 + r.nextInt(9)}-${10 + r.nextInt(18)}') AS b,
           |date_diff('$unit', $ts, TIMESTAMP '2025-03-01 12:30:00') AS c,
           |date_sub('$unit', $ts, TIMESTAMP '2025-03-01 12:30:00') AS d,
           |millisecond($ts) AS e, microsecond($ts) AS f,
           |epoch($ts) AS g, timezone($ts) AS h""".stripMargin
      case 6 => // list long tail over a real split list
        s"""list_slice($l, -2, -1) AS a,
           |($l)[${if (r.nextBoolean()) "2:" else ":2"}] AS b,
           |list_sort([TRY_CAST(n_chars AS BIGINT) % 5, NULL, 3, 1]${
             pick(r, Seq("", ", 'ASC'", ", 'DESC'", ", 'ASC', 'NULLS FIRST'"))}) AS c,
           |list_reverse_sort([$ie % 9, NULL, 2]) AS d,
           |list_unique([$ie % 3, 1, NULL, 1]) AS e,
           |flatten([$l, ['x${r.nextInt(5)}']]) AS f""".stripMargin
        // (list_resize is NOT fuzzable: DuckDB 1.0's vectorized kernel
        // dies with std::bad_array_new_length over the corpus strings —
        // the engine-side semantics stay pinned by tools/fn_gap_exprs.txt)
      case _ => // positional list ops, fold, struct_pack
        s"""list_position($l, '${pick(r, Seq("src", "docs"))}') AS a,
           |list_extract($l, ${if (r.nextBoolean()) "-1" else "2"}) AS b,
           |list_reduce($l, (x, y) -> x || '-' || y) AS c,
           |list_append(list_prepend('h', $l), 't') AS d,
           |list_concat($l, ['z']) AS e,
           |(struct_pack(a := len(path), b := upper(path))).${pick(r, Seq("a", "b"))} AS f""".stripMargin
    }
    shared(s"SELECT path, ${body.replace('\n', ' ')} FROM files${whereOpt(r)}")
  }

  private def scalarFns(r: Random): Stmt = {
    def one(): String = pick(r, Seq(
      s"split_part(path, '/', ${1 + r.nextInt(3)})",
      s"split_part(path, '_', ${1 + r.nextInt(3)})",
      s"lpad(coalesce(id, ''), ${4 + r.nextInt(4)}, '0')",
      s"rpad(coalesce(lang, ''), ${3 + r.nextInt(4)}, '.')",
      s"repeat(coalesce(lang, 'x'), ${1 + r.nextInt(3)})",
      "reverse(path)",
      "replace(path, '/', '|')",
      "translate(path, '/_.', '-+ ')",
      "strpos(path, 'doc')",
      s"substr(path, ${1 + r.nextInt(6)}, ${2 + r.nextInt(6)})",
      s"substr(path, -${2 + r.nextInt(5)})",
      s"left(path, ${1 + r.nextInt(8)})",
      s"right(path, ${1 + r.nextInt(8)})",
      "upper(coalesce(category, '?')) || lower(source)",
      "len(path) + len(coalesce(lang, ''))",
      "md5(path)",
      "contains(path, 'doc_0')",
      "trim('  ' || path || '  ')"))
    shared(s"SELECT path, ${one()} AS a, ${one()} AS b FROM files${whereOpt(r)}")
  }

  /** File-reading table functions (read_csv/read_json/read_parquet/glob)
    * over a deterministic sidecar dataset at a FIXED absolute path — the
    * statement text is identical on both sides, so DuckDB natively reads
    * the very same files the engine reads. Parity rules: never headerless
    * auto reads (DuckDB names columns `column0`, Spark `_c0`), never an
    * auto read of a non-comma delimiter (DuckDB sniffs the delimiter,
    * Spark does not), integers only (no float reductions).
    */
  private val FuzzDataDir = "/tmp/graft_fuzz_data_v1"

  /** Write the sidecar files [[readFns]] statements reference; content is
    * a pure function of the row index, so re-runs are byte-identical.
    */
  def ensureFuzzData(spark: SparkSession): Unit = {
    val d = Paths.get(FuzzDataDir)
    if (Files.exists(d.resolve(".complete"))) return
    Files.createDirectories(d)
    val rows = (0 until 60).map(i => (i.toLong, s"c${i % 5}", (i * 37L) % 500))
    def write(name: String, body: String): Unit =
      Files.write(d.resolve(name), body.getBytes("UTF-8"))
    write("rf.csv", "id,cat,n\n" +
      rows.map { case (i, c, n) => s"$i,$c,$n" }.mkString("\n") + "\n")
    write("rf_pipe.csv",
      rows.map { case (i, c, n) => s"$i|$c|$n" }.mkString("\n") + "\n")
    write("rf_skip.csv", "junk line one\njunk line two\nid,cat,n\n" +
      rows.map { case (i, c, n) => s"$i,$c,$n" }.mkString("\n") + "\n")
    write("rf_na.csv", "id,cat,n\n" +
      rows.map { case (i, c, n) =>
        s"$i,$c,${if (i % 7 == 0) "NA" else n.toString}" }.mkString("\n") + "\n")
    write("rf.json",
      rows.map { case (i, c, n) =>
        s"""{"id":$i,"cat":"$c","n":$n}""" }.mkString("\n") + "\n")
    write("rf_arr.json",
      rows.map { case (i, c, n) =>
        s"""{"id":$i,"cat":"$c","n":$n}""" }.mkString("[", ",", "]"))
    import spark.implicits._
    for ((name, slice) <- Seq("rf1" -> rows.take(30), "rf2" -> rows.drop(30))) {
      val tmp = Files.createTempDirectory("graft_fuzz_pq")
      slice.toDF("id", "cat", "n").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val found = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("no parquet part"))
      Files.move(found, d.resolve(s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Files.write(d.resolve(".complete"), "v1".getBytes("UTF-8"))
  }

  private def readFns(r: Random): Stmt = {
    val D = FuzzDataDir
    val typedCols = "columns={'id': 'BIGINT', 'cat': 'VARCHAR', 'n': 'BIGINT'}"
    shared(pick(r, Seq(
      s"SELECT cat, COUNT(*) AS n_rows, SUM(n) AS total FROM read_csv('$D/rf.csv') " +
        s"GROUP BY cat ORDER BY cat",
      s"SELECT id, cat, n FROM read_csv('$D/rf_pipe.csv', delim='|', $typedCols) " +
        s"WHERE n > ${50 * (1 + r.nextInt(8))} ORDER BY id",
      s"SELECT id, n FROM read_csv('$D/rf_skip.csv', skip=2) " +
        s"ORDER BY id LIMIT ${10 + r.nextInt(30)}",
      s"SELECT COUNT(*) AS total, COUNT(n) AS with_n, SUM(n) AS s " +
        s"FROM read_csv('$D/rf_na.csv', nullstr='NA')",
      s"SELECT cat, MAX(n) AS mx, MIN(id) AS mn FROM read_json('$D/rf.json') " +
        s"GROUP BY cat ORDER BY cat",
      s"SELECT id, cat FROM read_json_auto('$D/rf_arr.json') " +
        s"WHERE id % ${2 + r.nextInt(3)} = 0 ORDER BY id",
      s"SELECT COUNT(*) AS n_rows, SUM(id) AS id_sum " +
        s"FROM read_parquet(['$D/rf1.parquet', '$D/rf2.parquet'])",
      s"SELECT cat, COUNT(*) AS c FROM parquet_scan('$D/rf*.parquet') " +
        s"GROUP BY cat ORDER BY cat",
      s"SELECT file FROM glob('$D/*.csv') ORDER BY file",
      s"SELECT id, filename FROM read_csv('$D/rf.csv', filename=true) " +
        s"WHERE id < ${5 + r.nextInt(20)} ORDER BY id",
      s"SELECT a.cat, COUNT(*) AS n FROM read_csv('$D/rf.csv') a " +
        s"JOIN read_json('$D/rf.json') b ON a.id = b.id " +
        s"GROUP BY a.cat ORDER BY a.cat",
      s"SELECT c.cat, COUNT(*) AS n FROM files f " +
        s"JOIN read_csv('$D/rf.csv') c ON TRY_CAST(f.id AS BIGINT) % 60 = c.id " +
        s"GROUP BY c.cat ORDER BY c.cat",
      s"SELECT t.cat, t.n FROM (SELECT cat, SUM(n) AS n " +
        s"FROM read_parquet('$D/rf1.parquet') GROUP BY cat) t ORDER BY t.cat")))
  }

  private def window(r: Random): Stmt = {
    val part = pick(r, keyCols)
    val ord = "path" // unique, non-null: every frame is deterministic
    val ie = intExpr(r)
    def one(): String = pick(r, Seq(
      s"lag($ie, 1) OVER (PARTITION BY $part ORDER BY $ord)",
      s"lag($ie, ${1 + r.nextInt(2)}, -1) OVER (PARTITION BY $part ORDER BY $ord)",
      s"lead(path, 1, '?') OVER (PARTITION BY $part ORDER BY $ord)",
      s"sum($ie) OVER (PARTITION BY $part ORDER BY $ord ROWS BETWEEN ${1 + r.nextInt(3)} PRECEDING AND CURRENT ROW)",
      s"min($ie) OVER (PARTITION BY $part ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
      s"count(*) OVER (PARTITION BY $part)",
      s"max(coalesce(lang, '')) OVER (PARTITION BY $part)",
      s"ntile(${2 + r.nextInt(4)}) OVER (PARTITION BY $part ORDER BY $ord)",
      s"first_value($ie) OVER (PARTITION BY $part ORDER BY $ord)",
      s"row_number() OVER (ORDER BY $ord)",
      // rank family over a TIED key: the value is a function of the key
      // ordering alone, deterministic under ties; percent_rank/cume_dist
      // are exact small-integer ratios
      s"rank() OVER (PARTITION BY $part ORDER BY TRY_CAST(n_chars AS BIGINT) % 7 NULLS FIRST)",
      s"dense_rank() OVER (PARTITION BY $part ORDER BY lang NULLS FIRST)",
      s"percent_rank() OVER (PARTITION BY $part ORDER BY TRY_CAST(n_chars AS BIGINT) % 5 NULLS FIRST)",
      s"cume_dist() OVER (PARTITION BY $part ORDER BY lang NULLS FIRST)",
      s"nth_value($ie, ${1 + r.nextInt(3)}) OVER (PARTITION BY $part ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
      s"last_value($ie) OVER (PARTITION BY $part ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
      // DuckDB's in-args nulls modifier (rewriteNullsModifier)
      s"lag($ie IGNORE NULLS) OVER (PARTITION BY $part ORDER BY $ord)",
      s"lead($ie, ${1 + r.nextInt(2)} IGNORE NULLS) OVER (PARTITION BY $part ORDER BY $ord)"))
    shared(s"SELECT path, ${one()} AS a, ${one()} AS b FROM files${whereOpt(r)}")
  }

  /** Map/struct function family. Lookups (m['k'], map_extract,
    * element_at) are NOT in the differential set: DuckDB 1.0 (the
    * checker) returns a one-element LIST where 1.1+ and the engine
    * return the scalar — the engine follows modern semantics (unit
    * specs cover lookups).
    */
  private def mapFns(r: Random): Stmt = {
    val k1 = pick(r, Seq("lang", "source"))
    val k2 = pick(r, Seq("category", "created", "n_chars"))
    val m = s"MAP {'a': $k1, 'b': $k2}"
    val st = s"{'x': $k2, 'y': $k1}"
    def one(): String = pick(r, Seq(
      s"map_keys($m)",
      s"map_values($m)",
      s"cardinality($m)",
      s"map_entries($m)",
      s"struct_extract($st, 'y')",
      s"($st).x",
      s"map_keys(MAP {'only': path})"))
    shared(s"SELECT path, ${one()} AS a, ${one()} AS b FROM files${whereOpt(r)}")
  }

  private def winExclude(r: Random): Stmt = {
    val part = pick(r, keyCols)
    val ie = intExpr(r)
    if (r.nextInt(4) == 3) {
      // RANGE frames: peer-aligned by construction, so EVERY mode is
      // deterministic under tied keys; value-offset frames additionally
      // exercise the numeric-key path. The frame must straddle the
      // current row (the supported surface — see rewriteExcludeRange).
      val ordKey = pick(r, Seq("lang", "category",
        "TRY_CAST(n_chars AS BIGINT) % 7"))
      val numeric = ordKey.startsWith("TRY_CAST")
      val nulls = pick(r, Seq("NULLS FIRST", "NULLS LAST"))
      val fn = pick(r, Seq(s"sum($ie)", s"count($ie)", "count(*)", s"avg($ie)",
        s"min($ie)", s"max($ie)"))
      val isExtreme = fn.startsWith("min") || fn.startsWith("max")
      // min/max support peer-aligned bounds only (the two-layer
      // restructure — offset bounds make its group pieces row-dependent)
      val frame =
        if (numeric && !isExtreme && r.nextBoolean())
          s"${1 + r.nextInt(3)} PRECEDING AND ${1 + r.nextInt(3)} FOLLOWING"
        else pick(r, Seq(
          "UNBOUNDED PRECEDING AND CURRENT ROW",
          "CURRENT ROW AND UNBOUNDED FOLLOWING",
          "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
          "CURRENT ROW AND CURRENT ROW"))
      val mode = pick(r, Seq("CURRENT ROW", "GROUP", "TIES"))
      shared(
        s"""SELECT path, $fn OVER (PARTITION BY $part ORDER BY $ordKey $nulls
           |RANGE BETWEEN $frame EXCLUDE $mode) AS a FROM files${whereOpt(r)}""".stripMargin)
    } else if (r.nextInt(3) < 2) {
      // CURRENT ROW / NO OTHERS over a UNIQUE order key (every frame
      // deterministic)
      val fn = pick(r, Seq(s"sum($ie)", s"count($ie)", "count(*)",
        s"min($ie)", s"max($ie)", s"avg($ie)"))
      val frame = pick(r, Seq(
        s"${1 + r.nextInt(3)} PRECEDING AND ${1 + r.nextInt(3)} FOLLOWING",
        "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
        s"${1 + r.nextInt(3)} PRECEDING AND CURRENT ROW",
        s"CURRENT ROW AND ${1 + r.nextInt(4)} FOLLOWING",
        // no frames that exclude the current row by construction (e.g.
        // `UNBOUNDED PRECEDING AND 2 PRECEDING`): DuckDB 1.0.0 shifts the
        // frame end there instead of treating EXCLUDE as the standard
        // no-op — see rewriteWindowExclude's KNOWN DIVERGENCE note
        "CURRENT ROW AND CURRENT ROW"))
      val excl = pick(r, Seq("EXCLUDE CURRENT ROW", "EXCLUDE CURRENT ROW",
        "EXCLUDE NO OTHERS"))
      shared(
        s"""SELECT path, $fn OVER (PARTITION BY $part ORDER BY path
           |ROWS BETWEEN $frame $excl) AS a FROM files${whereOpt(r)}""".stripMargin)
    } else {
      // GROUP / TIES need a TIED order key (peers = ORDER BY ties), and
      // ties make bounded-offset ROWS frames nondeterministic in BOTH
      // engines (the current row's intra-group position depends on tie
      // order) — only frames whose row sets are functions of the key
      // ordering alone are differentially testable: full partition,
      // group-prefix, group-suffix. Those still exercise both sides of
      // the rewrite's tighter-interval picks.
      val ordKey = pick(r, Seq("lang", "category", "source",
        "TRY_CAST(n_chars AS BIGINT) % 5"))
      val nulls = pick(r, Seq("NULLS FIRST", "NULLS LAST"))
      val fn = pick(r, Seq(s"sum($ie)", s"count($ie)", "count(*)", s"avg($ie)",
        s"min($ie)", s"max($ie)"))
      val frame = pick(r, Seq(
        "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
        "UNBOUNDED PRECEDING AND CURRENT ROW",
        "CURRENT ROW AND UNBOUNDED FOLLOWING"))
      val mode = if (r.nextBoolean()) "GROUP" else "TIES"
      shared(
        s"""SELECT path, $fn OVER (PARTITION BY $part ORDER BY $ordKey $nulls
           |ROWS BETWEEN $frame EXCLUDE $mode) AS a FROM files${whereOpt(r)}""".stripMargin)
    }
  }

  private def groupSets(r: Random): Stmt = {
    val a = pick(r, keyCols)
    val b = pick(r, keyCols.filter(_ != a))
    val agg = pick(r, Seq("COUNT(*)", "COUNT(id)",
      "SUM(TRY_CAST(n_chars AS BIGINT))", "MIN(path)"))
    val form = pick(r, Seq(
      s"ROLLUP($a, $b)", s"CUBE($a, $b)",
      s"GROUPING SETS (($a), ($b), ($a, $b), ())"))
    // grouping() distinguishes a rolled-up NULL from a data NULL — the
    // keys themselves are nullable, so the compare needs it on both
    // sides (identical spelling in both engines).
    shared(
      s"""SELECT $a, $b, grouping($a) AS ga, grouping($b) AS gb, $agg AS v
         |FROM files${whereOpt(r)} GROUP BY $form""".stripMargin)
  }

  private def orderedAgg(r: Random): Stmt = {
    val g = pick(r, keyCols)
    val c = pick(r, Seq("lang", "category", "created", "n_chars").filter(_ != g))
    val sep = pick(r, Seq(",", "|", ";"))
    val dir = pick(r, Seq("", " DESC"))
    val distinct = if (r.nextBoolean()) "DISTINCT " else ""
    val aggs = mutable.Buffer(
      s"string_agg($distinct$c, '$sep' ORDER BY $c$dir) AS s", "COUNT(*) AS n")
    if (r.nextBoolean()) aggs += "arg_max(path, path) AS am"
    if (r.nextBoolean()) aggs += s"arg_min($c, path) AS an"
    shared(s"SELECT $g AS g, ${aggs.mkString(", ")} FROM files${whereOpt(r)} GROUP BY $g")
  }

  /** Distributional aggregates. Determinism discipline on top of the
    * global rules: quantile fractions are eighths/quarters only for
    * quantile_CONT (position q*(n-1) and the interpolation products stay
    * integer-exact in a double for any n, so both engines' formulas
    * agree bit-for-bit; an arbitrary fraction like 0.3 can land a ULP
    * apart and interpolate a visibly different value), while
    * quantile_DISC takes any fraction (ranks are integers); mode runs
    * unfiltered over a CASE whose hot value structurally dominates (a
    * filtered group could tie at count 1, where each engine picks its
    * own scan-order winner); product multiplies powers of two only
    * (float multiplication is order-sensitive, powers of two are exact).
    */
  private def distAgg(r: Random): Stmt = {
    val ie = intExpr(r)
    val qCont = pick(r, Seq("0.0", "0.125", "0.25", "0.5", "0.75", "0.875",
      "1.0", "-0.25", "-0.5", "-0.75"))
    val qDisc = pick(r, Seq("0.0", "0.1", "0.3", "0.5", "0.7", "0.9", "1.0",
      "-0.3", "-0.5", "-0.9", "0.25", "0.75"))
    val g = pick(r, keyCols)
    r.nextInt(8) match {
      case 6 =>
        // r12 aggregate parity: entropy (0.0 on an empty group, bits),
        // exact MAD, bias-corrected skewness/kurtosis (NULL below the
        // minimum count and on zero variance), Kahan-named reductions.
        // entropy rounds(9) — sorted-count sums differ only in ulps;
        // the MOMENT family rounds(5) + 0.0: streaming-vs-direct moment
        // accumulation diverges near cancellation (~1e-8 relative), and
        // +0.0 folds DuckDB's -0.0 rounding artifact into +0.0.
        shared(
          s"""SELECT $g AS g,
             |  round(entropy($ie % ${2 + r.nextInt(6)}), 9) AS en,
             |  mad($ie) AS md,
             |  round(skewness($ie), 5) + 0.0 AS sk,
             |  round(kurtosis($ie), 5) + 0.0 AS ku,
             |  COUNT(*) AS n
             |FROM files${whereOpt(r)} GROUP BY $g ORDER BY g NULLS FIRST""".stripMargin)
      case 7 =>
        shared(
          s"""SELECT $g AS g,
             |  fsum($ie / ${pick(r, Seq("2.0", "4.0", "8.0"))}) AS fs,
             |  round(favg($ie), 9) AS fa,
             |  round(entropy(lang), 9) AS el,
             |  round(regr_slope($ie, TRY_CAST(id AS BIGINT)), 5) + 0.0 AS rs,
             |  regr_count($ie, TRY_CAST(id AS BIGINT)) AS rn
             |FROM files GROUP BY $g ORDER BY g NULLS FIRST""".stripMargin)
      case 0 => shared(
        s"""SELECT $g AS g, quantile_cont($ie, $qCont) AS qc, COUNT(*) AS n
           |FROM files${whereOpt(r)} GROUP BY $g ORDER BY g NULLS FIRST""".stripMargin)
      case 1 => shared(
        s"""SELECT $g AS g, quantile_disc($ie, $qDisc) AS qd, quantile($ie, $qDisc) AS q2
           |FROM files GROUP BY $g ORDER BY g NULLS FIRST""".stripMargin)
      case 2 => shared(
        s"""SELECT $g AS g, quantile_disc(path, $qDisc) AS qs, median(path) AS ms
           |FROM files${whereOpt(r)} GROUP BY $g ORDER BY g NULLS FIRST""".stripMargin)
      case 3 =>
        // DuckDB rejects mixed-sign quantile lists ("consistent signs")
        val q2 = if (qDisc.startsWith("-")) "-0.5" else "0.5"
        shared(
          s"""SELECT quantile_cont($ie, [0.25, 0.5, 0.75]) AS qa,
             |  quantile_disc($ie, [$qDisc, $q2]) AS qb,
             |  median(TRY_CAST(created AS DATE)) AS md
             |FROM files${whereOpt(r)}""".stripMargin)
      case 4 =>
        // keys/values as LISTS: the gate's canonical form stringifies a
        // MAP differently per engine, lists identically — and my
        // histogram sorts keys, so the projection is deterministic
        val h = s"histogram($ie % ${2 + r.nextInt(5)})"
        shared(
          s"""SELECT $g AS g, map_keys(histogram(lang)) AS hk,
             |  map_values(histogram(lang)) AS hv,
             |  map_keys($h) AS nk, map_values($h) AS nv
             |FROM files GROUP BY $g ORDER BY g NULLS FIRST""".stripMargin)
      case _ =>
        // mode's hot arm must be structurally NON-EMPTY and dominant:
        // `id IS NOT NULL` holds on ~59 of 60 docs, every ELSE value is
        // a unique path (count 1) — a modulus arm can miss entirely
        // (len(path) % 4 is never 0 on this corpus), leaving all counts
        // at 1 and each engine picking its own scan-order winner
        shared(
          s"""SELECT product(CASE WHEN $ie % ${2 + r.nextInt(4)} = 0 THEN 2.0 ELSE ${pick(r, Seq("1.0", "0.5"))} END) AS pr,
             |  mode(CASE WHEN id IS NOT NULL THEN 'hot' ELSE ${pick(r, Seq("path", "upper(path)"))} END) AS mo,
             |  median($ie) AS me
             |FROM files""".stripMargin)
    }
  }

  /** Series table/scalar functions: FROM-position (rewritten to an
    * explode subquery), SELECT-position lists, descending/strided/
    * unreachable bounds, and DATE bounds with INTERVAL steps.
    */
  private def seriesFns(r: Random): Stmt = {
    val fn = pick(r, Seq("generate_series", "range"))
    r.nextInt(5) match {
      case 0 =>
        val a = r.nextInt(5); val b = a + r.nextInt(9)
        shared(s"SELECT gs.$fn AS n, gs.$fn * 2 AS d FROM $fn($a, $b) gs ORDER BY n")
      case 1 =>
        val a = 1 + r.nextInt(8); val b = a + r.nextInt(14); val s = 1 + r.nextInt(4)
        val (lo, hi, st) = if (r.nextBoolean()) (a, b, s.toString) else (b, a, s"-$s")
        shared(s"SELECT t.$fn AS n FROM $fn($lo, $hi, $st) t ORDER BY n")
      case 2 =>
        shared(
          s"""SELECT f.path AS p, gs.generate_series AS n
             |FROM files f CROSS JOIN generate_series(1, ${1 + r.nextInt(3)}) gs${whereOpt(r)}
             |ORDER BY p, n LIMIT ${20 + r.nextInt(50)}""".stripMargin)
      case 3 =>
        val k = 2 + r.nextInt(5)
        shared(
          s"""SELECT path, $fn(1, 1 + (${intExpr(r)} % $k)) AS xs,
             |  len($fn(0, ${r.nextInt(5)})) AS ln
             |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case _ =>
        val m = 1 + r.nextInt(8)
        val d1 = 1 + r.nextInt(20); val d2 = d1 + r.nextInt(9)
        val step = 1 + r.nextInt(3)
        shared(
          f"""SELECT d.$fn AS ts FROM $fn(DATE '2025-$m%02d-$d1%02d',
             |  DATE '2025-$m%02d-$d2%02d', INTERVAL $step DAY) d ORDER BY ts""".stripMargin)
    }
  }

  /** String-similarity functions over corpus strings. Integer-valued
    * distances (levenshtein/editdist3/damerau/hamming) compare raw;
    * similarity DOUBLES go through round(x, 9) on BOTH sides — the
    * engines agree on the standard formulas but may sum the three Jaro
    * terms in a different order, and the gate compares doubles by bit
    * pattern (a 1-ulp difference would be a false alarm, a real formula
    * divergence survives 9 digits).
    */
  private def strDist(r: Random): Stmt = {
    val sa = pick(r, Seq("path", "source || '-x'", "substr(path, 1, 8)",
      "coalesce(lang, 'xx')", "coalesce(category, 'cat9')"))
    val sb = pick(r, Seq("reverse(path)", "substr(path, 2, 8)",
      "'target-string'", "coalesce(lang, 'yy') || 'q'", "upper(path)"))
    r.nextInt(4) match {
      case 0 => shared(
        s"""SELECT path, levenshtein($sa, $sb) AS lv, editdist3($sa, $sb) AS ed,
           |  damerau_levenshtein($sa, $sb) AS dl
           |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case 1 => shared(
        s"""SELECT path, round(jaccard($sa, $sb), 9) AS jc
           |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case 2 => shared(
        s"""SELECT path, round(jaro_similarity($sa, $sb), 9) AS js,
           |  round(jaro_winkler_similarity($sa, $sb), 9) AS jw
           |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case _ => shared(
        s"""SELECT path, hamming(substr(path, 1, 6), substr(upper(path), 1, 6)) AS hm,
           |  mismatches(substr(path, 1, 5), substr(reverse(path), 1, 5)) AS mm
           |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
    }
  }

  /** list_* reductions and list_aggregate over real lists (split paths,
    * JSON tag arrays, generated series).
    */
  private def listFns(r: Random): Stmt = {
    val intList = pick(r, Seq(
      s"generate_series(1, 1 + (${intExpr(r)} % ${3 + r.nextInt(4)}))",
      s"[len(path), ${intExpr(r)} % 7, 3]"))
    val strList = pick(r, Seq(
      "string_split(path, '/')", "from_json(tags, '[\"VARCHAR\"]')"))
    r.nextInt(3) match {
      case 0 => shared(
        s"""SELECT path, list_sum($intList) AS s, list_count($intList) AS c,
           |  list_min($intList) AS mn, list_max($intList) AS mx
           |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case 1 => shared(
        s"""SELECT path, round(list_avg($intList), 9) AS av,
           |  list_aggregate($intList, 'sum') AS ls
           |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case _ => shared(
        s"""SELECT path, list_aggregate($strList, 'string_agg', '${pick(r, Seq("|", "-"))}') AS sa,
           |  list_aggregate($strList, 'min') AS mn, list_count($strList) AS c
           |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
    }
  }

  /** LATERAL correlated subqueries and VALUES relations — native in
    * both engines (Spark 3.2+ lateral joins); the family proves the
    * passthrough and its interaction with the rewrite pipeline.
    */
  private def lateralValues(r: Random): Stmt = r.nextInt(4) match {
    case 0 => shared(
      s"""SELECT f.path AS p, l.w AS w
         |FROM files f, LATERAL (SELECT upper(f.lang) || '-${r.nextInt(9)}' AS w) l
         |WHERE f.lang IS NOT NULL ORDER BY p LIMIT ${20 + r.nextInt(40)}""".stripMargin)
    case 1 =>
      val pairs = Seq("('en', 1)", "('fr', 2)", "('es', 3)").take(1 + r.nextInt(3))
      shared(
        s"""SELECT t.v AS v, t.k AS k, COUNT(f.path) AS n
           |FROM (VALUES ${pairs.mkString(", ")}) t(v, k)
           |LEFT JOIN files f ON f.lang = t.v
           |GROUP BY t.v, t.k ORDER BY t.k""".stripMargin)
    case 2 => shared(
      s"""SELECT f.path AS p, l.c AS c
         |FROM files f LEFT JOIN LATERAL (
         |  SELECT TRY_CAST(f.n_chars AS BIGINT) % ${2 + r.nextInt(5)} AS c
         |  WHERE f.n_chars IS NOT NULL) l ON true
         |ORDER BY p LIMIT ${20 + r.nextInt(40)}""".stripMargin)
    case _ => shared(
      s"""SELECT t.a AS a, t.b AS b FROM (VALUES (1, 'x'), (2, 'y'), (3, 'z${r.nextInt(50)}')) t(a, b)
         |ORDER BY a""".stripMargin)
  }

  /** Scalar parity batch: fmt-style format, printf (common C verbs),
    * strip_accents/unicode/ord, to_base, format_bytes, dayname/
    * monthname, time_bucket, negative-n left/right. Fractional format
    * inputs stay on exact quarters so `.2f` rounding never sits on a
    * representation boundary.
    */
  private def fmtFns(r: Random): Stmt = {
    val ie = intExpr(r)
    r.nextInt(5) match {
      case 0 =>
        val spec = pick(r, Seq("{:05d}", "{:>8}", "{:<8}", "{:x}", "{:X}", "{:,}"))
        shared(
          s"""SELECT path, format('$spec', $ie % ${100 + r.nextInt(900)}) AS f1,
             |  format('{}-{}', substr(path, 1, ${2 + r.nextInt(5)}), $ie % 9) AS f2,
             |  format('{:.2f}', ($ie % 64) / 4.0) AS f3
             |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case 1 =>
        // DuckDB's printf is STRICTLY typed (%s rejects an int) — each
        // verb pairs with arguments of exactly its type
        val (verb, args) = pick(r, Seq(
          ("%s=%d", s"substr(path, 1, 6), $ie % ${50 + r.nextInt(200)}"),
          ("%05d", s"$ie % ${50 + r.nextInt(200)}"),
          ("%x", s"$ie % ${50 + r.nextInt(200)}"),
          ("%s|%s", s"substr(path, 1, 6), upper(substr(path, 2, 4))")))
        shared(
          s"""SELECT path, printf('$verb', $args) AS p1
             |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case 2 =>
        shared(
          s"""SELECT path, unicode(path) AS uc, ord(substr(path, ${1 + r.nextInt(4)})) AS oc,
             |  to_base($ie % ${500 + r.nextInt(500)}, ${pick(r, Seq(2, 8, 16))}, ${r.nextInt(8)}) AS tb,
             |  format_bytes($ie * ${1 + r.nextInt(5000)}) AS fb,
             |  strip_accents(path) AS sa
             |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
      case 3 =>
        val w = pick(r, Seq("15 MINUTE", "2 HOUR", "1 DAY", "4 DAY", "1 WEEK"))
        shared(
          s"""SELECT path, dayname(TRY_CAST(created AS DATE)) AS dn,
             |  monthname(TRY_CAST(created AS DATE)) AS mn,
             |  time_bucket(INTERVAL $w, TRY_CAST(created AS TIMESTAMP)) AS tb
             |FROM files WHERE created IS NOT NULL ORDER BY path LIMIT 40""".stripMargin)
      case _ =>
        val w = pick(r, Seq("1 MONTH", "3 MONTH", "1 YEAR"))
        val n = 1 + r.nextInt(6)
        shared(
          s"""SELECT path, time_bucket(INTERVAL $w, TRY_CAST(created AS DATE)) AS tbm,
             |  left(path, ${-4 + r.nextInt(12)}) AS lf, right(path, ${-4 + r.nextInt(12)}) AS rt,
             |  left(path, $n) AS lf2
             |FROM files${whereOpt(r)} ORDER BY path LIMIT 40""".stripMargin)
    }
  }

  /** POSITIONAL JOIN over two ORDER BY'd subqueries (the only shape
    * with a deterministic row order in BOTH engines — DuckDB's
    * insertion order has no distributed equivalent), equal and unequal
    * lengths so the NULL padding is exercised.
    */
  private def positional(r: Random): Stmt = {
    val n1 = 3 + r.nextInt(10)
    val n2 = if (r.nextBoolean()) n1 else 3 + r.nextInt(10)
    val c1 = pick(r, Seq("path", "n_chars", "created"))
    val c2 = pick(r, Seq("lang", "source", "id"))
    shared(
      s"""SELECT * FROM
         |  (SELECT $c1 AS a FROM files ORDER BY path LIMIT $n1)
         |POSITIONAL JOIN
         |  (SELECT $c2 AS b FROM files ORDER BY path DESC LIMIT $n2)
         |ORDER BY a NULLS FIRST, b NULLS FIRST""".stripMargin)
  }

  /** Recursive CTEs (UNION ALL — Spark executes these natively as
    * UnionLoop): counters, accumulator strings, per-row fan-out seeded
    * from the corpus, and a recursive CTE joined against a plain one.
    * The oracle side can't prepend the files CTE as a separate WITH —
    * the statement owns one — so its definition merges INTO the
    * statement's own RECURSIVE list (RECURSIVE marks the whole list and
    * is harmless on the non-recursive member).
    */
  private def recShared(sql: String): Stmt = {
    val body = sql.trim.stripPrefix("WITH RECURSIVE ")
    Stmt(sql,
      cte.replaceFirst("WITH files AS", "WITH RECURSIVE files AS") + ",\n" + body)
  }

  private def recursive(r: Random): Stmt = r.nextInt(6) match {
    case 4 =>
      // UNION (distinct) recursion — a CYCLE that only the
      // dedup-until-fixpoint semantics terminate (engine: the
      // QueryEngine.recursiveUnionView semi-naive loop; DuckDB: native)
      val m = 3 + r.nextInt(9)
      val st = 1 + r.nextInt(m - 1)
      recShared(
        s"""WITH RECURSIVE t(n) AS (SELECT ${r.nextInt(m)} UNION
           |  SELECT (n + $st) % $m FROM t)
           |SELECT n FROM t ORDER BY n""".stripMargin)
    case 5 =>
      // UNION recursion seeded from the corpus, with a preceding plain
      // CTE the base and step both read through
      val m = 4 + r.nextInt(6)
      recShared(
        s"""WITH RECURSIVE base AS (
           |  SELECT TRY_CAST(n_chars AS BIGINT) % $m AS v FROM files WHERE ${predicate(r)}),
           |walk(v) AS (
           |  SELECT v FROM base WHERE v IS NOT NULL
           |  UNION SELECT (w.v + ${1 + r.nextInt(3)}) % $m FROM walk w)
           |SELECT v, COUNT(*) AS c FROM walk GROUP BY v ORDER BY v""".stripMargin)
    case 0 =>
      val k = 1 + r.nextInt(3); val m = 5 + r.nextInt(20)
      recShared(
        s"""WITH RECURSIVE t(n) AS (SELECT ${1 + r.nextInt(3)} UNION ALL
           |  SELECT n + $k FROM t WHERE n < $m)
           |SELECT CAST(sum(n) AS BIGINT) AS s, count(*) AS c, max(n) AS mx FROM t""".stripMargin)
    case 1 =>
      val stop = 3 + r.nextInt(6)
      recShared(
        s"""WITH RECURSIVE t(n, s) AS (SELECT 1, '${pick(r, Seq("a", "x"))}' UNION ALL
           |  SELECT n + 1, s || '${pick(r, Seq("b", "yz"))}' FROM t WHERE n < $stop)
           |SELECT n, s FROM t ORDER BY n""".stripMargin)
    case 2 =>
      recShared(
        s"""WITH RECURSIVE t(p, i) AS (
           |  SELECT path, 0 FROM files WHERE ${predicate(r)}
           |  UNION ALL SELECT p, i + 1 FROM t WHERE i < ${1 + r.nextInt(3)})
           |SELECT p, i FROM t ORDER BY p, i LIMIT ${30 + r.nextInt(40)}""".stripMargin)
    case _ =>
      recShared(
        s"""WITH RECURSIVE nums(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM nums WHERE n < ${3 + r.nextInt(5)}),
           |base AS (SELECT path, ${pick(r, keyCols)} AS k FROM files${whereOpt(r)})
           |SELECT b.path AS p, b.k AS k, nums.n AS n FROM base b CROSS JOIN nums
           |ORDER BY p, n LIMIT ${40 + r.nextInt(40)}""".stripMargin)
  }

  /** Compositional family: a statement from another family wrapped in a
    * CTE, a subquery, or a self-UNION — the string rewrites are
    * position- and depth-sensitive scans, and composition is where they
    * historically break (QUALIFY inside a WITH body, DISTINCT ON inside
    * parens, …). Inner statements come from the expression-level
    * families only (statement-level forms — PIVOT/UNPIVOT/DDL/macros —
    * cannot nest).
    */
  private val composable = Seq("qualify", "brackets", "listcomp",
    "distinct_on", "semianti", "mathops", "patterns", "scalar_fns",
    "regex_fns", "window", "win_exclude", "map_fns", "ordered_agg",
    "group_sets", "union_byname",
    // round-11 expression-level families (all shared()-built; the
    // recursive family is excluded — its statements own a WITH and
    // cannot nest inside the wrappers' CTE form)
    "dist_agg", "series_fns", "strdist", "list_fns", "lateral_values",
    "positional",
    // r12 breadth-parity family (shared()-built, expression-level)
    "fn_parity")

  private def composed(r: Random): Stmt = {
    val fam = composable(r.nextInt(composable.length))
    val inner = generate(fam, r.nextInt(200))
    // every composable family is built via shared(): its oracle is
    // exactly cte + "\n" + engine, which the wrappers below rely on
    r.nextInt(3) match {
      case 0 => Stmt(
        s"WITH gc AS (\n${inner.engine}\n) SELECT * FROM gc",
        s"WITH gc AS (\n${inner.oracle}\n) SELECT * FROM gc")
      case 1 => Stmt(
        s"SELECT * FROM (\n${inner.engine}\n) gq",
        s"SELECT * FROM (\n${inner.oracle}\n) gq")
      case _ => Stmt(
        s"SELECT * FROM (\n${inner.engine}\n) u1 UNION ALL " +
          s"SELECT * FROM (\n${inner.engine}\n) u2",
        s"$cte\nSELECT * FROM (\n${inner.engine}\n) u1 UNION ALL " +
          s"SELECT * FROM (\n${inner.engine}\n) u2")
    }
  }

  /** Depth-2 composition (VERDICT r10 item 6): a [[composed]] statement
    * wrapped ONCE MORE — the rewrites' historical breakage is at depth
    * boundaries, and depth 2 puts a boundary inside a boundary (QUALIFY
    * in a CTE in a subquery, …). Wrapper names are depth-suffixed so
    * nested CTEs never rely on shadowing.
    */
  private def composed2(r: Random): Stmt = {
    val inner = composed(r)
    r.nextInt(3) match {
      case 0 => Stmt(
        s"WITH gd2 AS (\n${inner.engine}\n) SELECT * FROM gd2",
        s"WITH gd2 AS (\n${inner.oracle}\n) SELECT * FROM gd2")
      case 1 => Stmt(
        s"SELECT * FROM (\n${inner.engine}\n) gq2",
        s"SELECT * FROM (\n${inner.oracle}\n) gq2")
      case _ => Stmt(
        s"WITH gd2 AS (\n${inner.engine}\n) " +
          "SELECT * FROM gd2 u1 UNION ALL SELECT * FROM gd2 u2",
        s"WITH gd2 AS (\n${inner.oracle}\n) " +
          "SELECT * FROM gd2 u1 UNION ALL SELECT * FROM gd2 u2")
    }
  }

  /** Session-DDL-prefix composition (VERDICT r10 item 6): CREATE TABLE t
    * AS <family statement>; query over t — the dialect rewrites run
    * inside a CTAS source here, and the final query resolves against the
    * session-table registration path instead of the files view. Inner
    * families are restricted to composables that emit a `path` column so
    * the follow-up query is schema-independent. Table names are UNIQUE
    * per statement (engine instance and checker connection both span all
    * statements).
    */
  // only families whose statements keep a `path` output column — the
  // follow-up query over the created table selects it
  private val ddlComposable = composable.filter(f =>
    !Set("union_byname", "group_sets", "ordered_agg",
      "dist_agg", "series_fns", "lateral_values", "positional").contains(f))

  private def composedDdl(i: Int)(r: Random): Stmt = {
    val t = s"fzc_$i"
    val fam = ddlComposable(r.nextInt(ddlComposable.length))
    val inner = generate(fam, r.nextInt(200))
    val fin = pick(r, Seq(
      s"SELECT COUNT(*) AS n, COUNT(DISTINCT path) AS d, min(path) AS mn FROM $t",
      s"SELECT COUNT(*) AS n, max(path) AS mx FROM $t WHERE path LIKE '%doc%'"))
    Stmt(
      s"CREATE TABLE $t AS ${inner.engine};\n$fin",
      s"CREATE TABLE $t AS (\n${inner.oracle}\n);\n$fin")
  }

  // -----------------------------------------------------------------------

  def families(i: Int): Seq[(String, Random => Stmt)] = Seq(
    "qualify" -> qualify _,
    "brackets" -> brackets _,
    "listcomp" -> listcomp _,
    "distinct_on" -> distinctOn _,
    "star_mods" -> starMods _,
    "fromfirst" -> fromFirst _,
    "semianti" -> semiAnti _,
    "mathops" -> mathOps _,
    "patterns" -> patterns _,
    "union_byname" -> unionByName _,
    "macros" -> macros(i) _,
    "ddl" -> ddl(i) _,
    "regex_fns" -> regexFns _,
    "scalar_fns" -> scalarFns _,
    "window" -> window _,
    "win_exclude" -> winExclude _,
    "map_fns" -> mapFns _,
    "composed" -> composed _,
    "composed2" -> composed2 _,
    "composed_ddl" -> composedDdl(i) _,
    "read_fns" -> readFns _,
    "dist_agg" -> distAgg _,
    "series_fns" -> seriesFns _,
    "recursive" -> recursive _,
    "strdist" -> strDist _,
    "list_fns" -> listFns _,
    "lateral_values" -> lateralValues _,
    "positional" -> positional _,
    "fmt_fns" -> fmtFns _,
    "fn_parity" -> fnParity _,
    "group_sets" -> groupSets _,
    "datefns" -> dateFns _,
    "pivot" -> pivot _,
    "unpivot" -> unpivot _,
    "ordered_agg" -> orderedAgg _,
    "json_ops" -> jsonOps _,
    "fn_parity2" -> fnParity2 _,
    "quoted_ident" -> quotedIdent _,
    "unnest_select" -> unnestSelect _)

  /** Pure generation for spec use: statement i of family `fam`. */
  def generate(fam: String, i: Int): Stmt = {
    val gen = families(i).collectFirst { case (`fam`, g) => g }
      .getOrElse(throw new IllegalArgumentException(s"unknown family: $fam"))
    gen(new Random(fam.hashCode.toLong * 100003L + i))
  }

  def familyNames: Seq[String] = families(0).map(_._1)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val nPer = args.lift(2).map(_.toInt).getOrElse(120)
    // Optional family filter (comma-separated) for reproducing one
    // family's statements in isolation — the full run stays the gate.
    val famFilter = args.lift(3).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "WARN"))
    SparkEntry.registerSessionFunctions(spark)
    new java.io.File(outDir).mkdirs()

    val base = FixtureCorpus.ensure(spark, sfDir)
    ensureFuzzData(spark)
    val engine = new QueryEngine(
      spark, Settings(base.toString, enableSemantic = false, "", None))

    val oracle = mutable.LinkedHashMap.empty[String, String]
    val stmts = mutable.LinkedHashMap.empty[String, String]
    val failed = mutable.LinkedHashMap.empty[String, String]
    for (fam <- familyNames.filter(f => famFilter.forall(_.contains(f)));
         i <- 0 until nPer) {
      val name = f"fz_${fam}_$i%03d"
      if (sys.env.contains("SPARK_GRAFT_FUZZ_TRACE"))
        System.err.println(s"[fuzz] running $name")
      val st = generate(fam, i)
      oracle(name) = st.oracle
      stmts(name) = st.engine
      try engine.query("**/*.md", st.engine).results
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[fuzz] $name FAILED: $msg\n  stmt: ${st.engine}")
        failed(name) = msg
        try {
          import spark.implicits._
          Seq(msg).toDF("_graft_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def dump(path: String, m: collection.Map[String, String]): Unit =
      Files.writeString(Paths.get(path),
        m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    dump(s"$outDir/oracle_sql.json", oracle)
    dump(s"$outDir/fuzz_stmts.json", stmts)
    dump(s"$outDir/exec_errors.json", failed)
    println(s"[fuzz] ${oracle.size} statements over ${familyNames.size} families, " +
      s"${failed.size} engine-side failures → $outDir")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
