package graft.fm

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based robustness for the DuckDB-dialect rewrites: generated
  * SQL in the supported long-tail constructs must rewrite idempotently
  * (round-8 regression class: a rewrite re-matching its own output),
  * preserve paren/bracket balance, and leave no DuckDB-only syntax
  * behind. The full rewrite pipeline runs on every sample — the passes
  * must also compose without corrupting each other's output.
  */
class DialectPropSpec extends AnyFunSuite {

  private def samples[A](gen: Gen[A], n: Int = 300): Seq[A] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val ident: Gen[String] =
    for {
      h <- Gen.alphaLowerChar
      t <- Gen.listOfN(5, Gen.oneOf(Gen.alphaLowerChar, Gen.numChar, Gen.const('_')))
    } yield (h :: t).mkString

  private val simpleExpr: Gen[String] = Gen.oneOf(
    ident,
    for (a <- ident; b <- ident) yield s"$a + $b",
    for (a <- ident) yield s"upper($a)",
    for (a <- ident; n <- Gen.chooseNum(1, 99)) yield s"$a * $n",
    for (a <- ident) yield s"coalesce($a, 'x''y')") // embedded quote in a literal

  private val comprehension: Gen[String] =
    for {
      e <- simpleExpr; v <- ident; l <- ident
      cond <- Gen.option(simpleExpr)
    } yield cond match {
      case Some(c) => s"[$e FOR $v IN $l IF $c > 0]"
      case None    => s"[$e FOR $v IN $l]"
    }

  private val replaceMod: Gen[String] =
    for {
      items <- Gen.nonEmptyListOf(Gen.zip(simpleExpr, ident)).map(_.take(3))
    } yield s"* REPLACE (${items.map { case (e, c) => s"$e AS $c" }.mkString(", ")})"

  private val distinctOn: Gen[String] =
    for {
      k <- ident; a <- ident; b <- ident
      ord <- Gen.option(Gen.const(s" ORDER BY $k, $b DESC"))
    } yield s"SELECT DISTINCT ON ($k) $a, $b FROM t${ord.getOrElse("")}"

  private val qualify: Gen[String] =
    for {
      a <- ident; k <- ident; n <- Gen.chooseNum(1, 5)
    } yield s"SELECT $a FROM t QUALIFY row_number() OVER (PARTITION BY $k ORDER BY $a) <= $n"

  private val bracketed: Gen[String] = Gen.oneOf(
    // 1-based indexing on identifiers and call results
    for (a <- ident; i <- Gen.chooseNum(1, 9)) yield s"$a[$i]",
    for (a <- ident; i <- Gen.chooseNum(1, 9)) yield s"string_split($a, ' ')[$i]",
    // inclusive slices, incl. open ends
    for (a <- ident; i <- Gen.chooseNum(1, 5); j <- Gen.chooseNum(5, 9))
      yield s"$a[$i:$j]",
    for (a <- ident; i <- Gen.chooseNum(1, 5)) yield s"$a[$i:]",
    for (a <- ident; j <- Gen.chooseNum(1, 9)) yield s"$a[:$j]",
    // array literals, nested and operator-position
    for (xs <- Gen.nonEmptyListOf(Gen.chooseNum(1, 99)).map(_.take(4)))
      yield s"[${xs.mkString(", ")}]",
    for (a <- ident) yield s"$a || ['x', 'y']")

  private val exclReplace: Gen[String] =
    for {
      e1 <- ident; e2 <- ident; item <- simpleExpr; c <- ident
    } yield s"* EXCLUDE ($e1, $e2) REPLACE ($item AS $c)"

  private val unpivot: Gen[String] =
    for {
      t <- ident; c1 <- ident; c2 <- ident; k <- ident; v <- ident
      tail <- Gen.option(Gen.const(" ORDER BY 1 LIMIT 5"))
    } yield s"UNPIVOT $t ON $c1, $c2 INTO NAME $k VALUE $v${tail.getOrElse("")}"

  private val fromFirst: Gen[String] = Gen.oneOf(
    for (t <- ident) yield s"FROM $t",
    for (t <- ident; a <- ident) yield s"FROM $t WHERE $a > 1 ORDER BY $a",
    for (t <- ident; a <- ident; b <- ident)
      yield s"FROM $t SELECT $a, $b WHERE $b >= 2 ORDER BY $a")

  private val semiAnti: Gen[String] =
    for (a <- ident; b <- ident; k <- ident; kind <- Gen.oneOf("SEMI", "ANTI"))
      yield s"SELECT * FROM $a $kind JOIN $b ON $a.$k = $b.$k ORDER BY 1"

  private val mathOps: Gen[String] = Gen.oneOf(
    for (a <- ident; b <- ident) yield s"SELECT $a // $b AS d FROM t ORDER BY d",
    for (a <- ident; n <- Gen.chooseNum(1, 5)) yield s"SELECT $a ** $n AS p FROM t",
    for (a <- ident; n <- Gen.chooseNum(1, 5)) yield s"SELECT ($a % 7) ^ $n AS p FROM t",
    for (a <- ident; n <- Gen.chooseNum(1, 5)) yield s"SELECT -$a ** $n AS p FROM t")

  private val similarGlob: Gen[String] = Gen.oneOf(
    for (a <- ident) yield s"SELECT $a FROM t WHERE $a SIMILAR TO 'ab.*c' ORDER BY 1",
    for (a <- ident) yield s"SELECT $a FROM t WHERE $a GLOB '*.m?' ORDER BY 1",
    for (a <- ident) yield s"SELECT $a FROM t WHERE $a NOT SIMILAR TO 'x[0-9]' ORDER BY 1")

  private val orderedAgg: Gen[String] =
    for (a <- ident; k <- ident)
      yield s"SELECT string_agg($a, ',' ORDER BY $a DESC) AS s FROM t GROUP BY $k ORDER BY 1"

  private val statement: Gen[String] = Gen.oneOf(
    unpivot,
    fromFirst,
    semiAnti,
    mathOps,
    similarGlob,
    orderedAgg,
    for (f <- fromFirst) yield s"SELECT * FROM ($f) q",
    for (m <- mathOps; g <- Gen.const("GLOB 'a*b'"); a <- ident)
      yield s"$m UNION ALL SELECT 1 AS p FROM u WHERE $a $g",
    comprehension.map(c => s"SELECT $c AS x FROM t ORDER BY x"),
    replaceMod.map(r => s"SELECT $r FROM t ORDER BY 1"),
    distinctOn,
    qualify,
    for (c <- comprehension; r <- replaceMod) yield s"SELECT $r, $c AS y FROM t",
    for (q <- qualify; c <- comprehension) yield s"$q UNION ALL SELECT $c FROM u",
    for (n <- Gen.chooseNum(1, 99)) yield s"SELECT a FROM t USING SAMPLE $n%",
    bracketed.map(b => s"SELECT $b AS x FROM t ORDER BY x"),
    for (b1 <- bracketed; b2 <- bracketed) yield s"SELECT $b1 AS x, $b2 AS y FROM t",
    exclReplace.map(m => s"SELECT $m FROM t ORDER BY 1"),
    // brackets inside a comprehension body/list resolve together
    for (a <- ident; v <- ident) yield s"SELECT [upper($v) FOR $v IN $a[1:3]] AS x FROM t")

  private def balance(s: String): (Int, Int) = {
    var paren = 0
    var bracket = 0
    var inStr = false
    var inTick = false // backtick identifiers may contain quotes/parens
    s.foreach {
      case '`' if !inStr => inTick = !inTick
      case '\'' if !inTick => inStr = !inStr
      case '(' if !inStr && !inTick => paren += 1
      case ')' if !inStr && !inTick => paren -= 1
      case '[' if !inStr && !inTick => bracket += 1
      case ']' if !inStr && !inTick => bracket -= 1
      case _ =>
    }
    (paren, bracket)
  }

  test("full rewrite pipeline is idempotent on generated dialect SQL") {
    samples(statement).foreach { sql =>
      val once = Dialect.rewrite(sql)
      val twice = Dialect.rewrite(once)
      assert(twice == once, s"not idempotent:\n  in:    $sql\n  once:  $once\n  twice: $twice")
    }
  }

  test("rewrites preserve paren/bracket balance") {
    samples(statement).foreach { sql =>
      val out = Dialect.rewrite(sql)
      assert(balance(out) == ((0, 0)), s"unbalanced output for: $sql\n  out: $out")
    }
  }

  test("PIVOT rewrite is idempotent and balanced on generated statements") {
    val provider = (_: String, _: String) => Seq("v1", "v'2")
    val pivotStmt: Gen[String] =
      for {
        t <- ident; c <- ident; g <- ident
        fn <- Gen.oneOf("count(*)", "sum(x)", "min(y1)", "count(DISTINCT p)")
        grp <- Gen.oneOf(true, false)
      } yield
        if (grp) s"PIVOT $t ON $c USING $fn GROUP BY $g ORDER BY $g"
        else s"PIVOT $t ON $c USING $fn"
    samples(pivotStmt, 200).foreach { sql =>
      val once = Dialect.rewritePivot(sql, provider)
      assert(Dialect.rewritePivot(once, provider) == once,
        s"not idempotent:\n  in:   $sql\n  once: $once")
      assert(balance(once) == ((0, 0)), s"unbalanced: $sql\n  out: $once")
      // the GROUP BY form must fully desugar the statement; the implicit
      // form emits Spark's (valid) PIVOT clause, which contains no ON
      if (sql.contains("GROUP BY"))
        assert(!once.toUpperCase.contains("PIVOT"), s"PIVOT survived: $once")
      else assert(!once.toUpperCase.contains(" ON "), s"ON survived: $once")
    }
  }

  test("no DuckDB-only construct survives the rewrite") {
    samples(statement).foreach { sql =>
      val u = Dialect.rewrite(sql).toUpperCase
      // scrub identifiers that legitimately contain the keywords
      val scrubbed = u.replace("__GRAFT_QUALIFY", "").replace("__GRAFT_RN", "")
      assert(!scrubbed.contains("QUALIFY"), s"QUALIFY survived: $sql")
      assert(!scrubbed.contains("DISTINCT ON"), s"DISTINCT ON survived: $sql")
      assert(!scrubbed.contains("USING SAMPLE"), s"USING SAMPLE survived: $sql")
      assert("\\[[^\\]]* FOR ".r.findFirstIn(scrubbed).isEmpty,
        s"comprehension survived: $sql")
      assert(!scrubbed.contains("EXCLUDE"), s"EXCLUDE survived: $sql")
      assert(!scrubbed.contains("INTO NAME"), s"UNPIVOT statement survived: $sql")
      // no bracket syntax survives outside string literals (the generated
      // statements never emit quoted brackets, so a plain scan suffices)
      val noLit = scrubbed.replaceAll("'[^']*'", "")
      assert(!noLit.contains("["), s"bracket survived: $sql\n  out: $scrubbed")
      // round-9 constructs
      assert(!noLit.contains("//"), s"// survived: $sql")
      assert(!noLit.contains("**"), s"** survived: $sql")
      assert(!noLit.contains("^"), s"^ survived: $sql")
      assert(!scrubbed.contains("SIMILAR TO"), s"SIMILAR TO survived: $sql")
      assert(!scrubbed.contains("GLOB"), s"GLOB survived: $sql")
      assert(!scrubbed.trim.startsWith("FROM"), s"FROM-first survived: $sql")
      assert(!"AGG\\s*\\([^)]*ORDER BY".r.findFirstIn(scrubbed).isDefined,
        s"in-aggregate ORDER BY survived: $sql")
    }
  }
}
