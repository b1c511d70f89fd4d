package graft.fm

/** One lexical pass over a SQL statement, shared by every text rewrite
  * in [[Dialect]] and [[TableFunctions]].
  *
  * Each character is classified once as code, part of a `'…'` string
  * literal (`''` escape), a `"…"` identifier (`""` escape), a `` `…` ``
  * identifier, or a comment (`--` to end of line, `/* … */`). Quoted
  * tokens, delimiters included, are opaque: keyword search, bracket
  * matching and top-level splitting never look inside them. Comments
  * read as whitespace: [[msk]] is the statement with every comment
  * character replaced by a space, so it has the same length as [[sql]]
  * and every index found on it splices into the original text. [[u]] is
  * [[msk]] upper-cased character by character (same length again).
  */
final class Scan(val sql: String) {
  import Scan._

  private val n = sql.length
  private val kind = new Array[Byte](n)

  val msk: String = {
    val a = sql.toCharArray
    var i = 0
    while (i < n) {
      val c = a(i)
      if (c == '\'' || c == '"' || c == '`') {
        val k = if (c == '\'') Str else if (c == '"') DoubleQuoted else BackQuoted
        kind(i) = k
        i += 1
        var open = true
        while (i < n && open) {
          kind(i) = k
          if (a(i) == c) {
            if (i + 1 < n && a(i + 1) == c) { kind(i + 1) = k; i += 2 }
            else { open = false; i += 1 }
          } else i += 1
        }
      } else if (c == '-' && i + 1 < n && a(i + 1) == '-') {
        while (i < n && a(i) != '\n') { a(i) = ' '; i += 1 }
      } else if (c == '/' && i + 1 < n && a(i + 1) == '*') {
        a(i) = ' '; a(i + 1) = ' '; i += 2
        while (i < n && !(a(i) == '*' && i + 1 < n && a(i + 1) == '/')) { a(i) = ' '; i += 1 }
        if (i + 1 < n) { a(i) = ' '; a(i + 1) = ' '; i += 2 }
        else if (i < n) { a(i) = ' '; i += 1 }
      } else i += 1
    }
    new String(a)
  }

  val u: String = {
    val up = msk.toUpperCase(java.util.Locale.ROOT)
    if (up.length == n) up
    else { // a character whose upper case is longer (`ß`): keep indices aligned
      val a = msk.toCharArray
      var i = 0
      while (i < n) { a(i) = Character.toUpperCase(a(i)); i += 1 }
      new String(a)
    }
  }

  def length: Int = n

  /** Inside a quoted token (literal or quoted identifier, delimiters included). */
  def lit(i: Int): Boolean = kind(i) != Code

  /** Inside a `'…'` string literal (delimiters included). */
  def str(i: Int): Boolean = kind(i) == Str

  /** Keyword `kw` (upper case) starts at `i` as a whole word of code. */
  def kwAt(i: Int, kw: String): Boolean =
    i >= 0 && i < n && !lit(i) && u.startsWith(kw, i) &&
      (i == 0 || !wordChar(u.charAt(i - 1))) &&
      (i + kw.length >= n || !wordChar(u.charAt(i + kw.length)))

  /** Keyword `kw` ends at `end` (inclusive). */
  def kwEndingAt(end: Int, kw: String): Boolean = kwAt(end - kw.length + 1, kw)

  /** Every code position where `tok` (upper case) starts, left to right. */
  def occurrences(tok: String): Iterator[Int] =
    Iterator.iterate(u.indexOf(tok))(i => u.indexOf(tok, i + 1))
      .takeWhile(_ >= 0).filter(!lit(_))

  /** Every position where `kw` starts as a keyword, left to right. */
  def sites(kw: String): Iterator[Int] = occurrences(kw).filter(kwAt(_, kw))

  /** First index at or after `i` that is not whitespace (or `length`). */
  def skipWs(i: Int): Int = {
    var j = i
    while (j < n && msk.charAt(j).isWhitespace) j += 1
    j
  }

  /** Last index at or before `i` that is not whitespace (or -1). */
  def prevNonWs(i: Int): Int = {
    var j = i
    while (j >= 0 && msk.charAt(j).isWhitespace) j -= 1
    j
  }

  /** The closer matching the `(`, `[` or `{` at `open`; -1 if unbalanced. */
  def close(open: Int): Int = {
    val o = msk.charAt(open)
    val c = Closer(o)
    var depth = 0
    var i = open
    while (i < n) {
      if (!lit(i)) {
        val ch = msk.charAt(i)
        if (ch == o) depth += 1
        else if (ch == c) { depth -= 1; if (depth == 0) return i }
      }
      i += 1
    }
    -1
  }

  /** The opener matching the `)`, `]` or `}` at `close`; -1 if unbalanced. */
  def open(close: Int): Int = {
    val c = msk.charAt(close)
    val o = Opener(c)
    var depth = 0
    var i = close
    while (i >= 0) {
      if (!lit(i)) {
        val ch = msk.charAt(i)
        if (ch == c) depth += 1
        else if (ch == o) { depth -= 1; if (depth == 0) return i }
      }
      i -= 1
    }
    -1
  }

  /** The innermost `(` left of `at` that is still open there; -1 if none. */
  def enclosingParen(at: Int): Int = {
    var depth = 0
    var i = at - 1
    while (i >= 0) {
      if (!lit(i)) {
        val ch = msk.charAt(i)
        if (ch == ')') depth += 1
        else if (ch == '(') { if (depth == 0) return i; depth -= 1 }
      }
      i -= 1
    }
    -1
  }

  /** First position in `[from, until)` at bracket depth 0 where `hit`
    * holds for a code character; -1 if none. Every bracket kind nests.
    * With `stopAtCloser`, a closer that leaves the depth `from` started
    * at is returned too.
    */
  private def topFind(from: Int, until: Int, stopAtCloser: Boolean = false)(
      hit: Int => Boolean): Int = {
    var depth = 0
    var i = from
    while (i < until) {
      if (!lit(i)) {
        val ch = msk.charAt(i)
        if (ch == '(' || ch == '[' || ch == '{') depth += 1
        else if (ch == ')' || ch == ']' || ch == '}') {
          if (depth == 0 && stopAtCloser) return i
          depth -= 1
        } else if (depth == 0 && hit(i)) return i
      }
      i += 1
    }
    -1
  }

  /** End of the clause starting at `from`: its first top-level keyword
    * of `kws`, or the closer of the bracket it sits in, or `length`.
    */
  def clauseEnd(from: Int, kws: String*): Int = {
    val e = topFind(from, n, stopAtCloser = true)(i => kws.exists(kwAt(i, _)))
    if (e < 0) n else e
  }

  /** First top-level keyword of `kws` lying wholly in `[from, until)`; -1 if none. */
  def topKeyword(from: Int, until: Int, kws: String*): Int =
    topFind(from, until)(i => kws.exists(kw => i + kw.length <= until && kwAt(i, kw)))

  /** Last top-level `kw` lying wholly in `[from, until)`; -1 if none. */
  def lastTopKeyword(from: Int, until: Int, kw: String): Int = {
    var last = -1
    var p = topKeyword(from, until, kw)
    while (p >= 0) { last = p; p = topKeyword(p + kw.length, until, kw) }
    last
  }

  /** First top-level code occurrence of `ch` in `[from, until)`; -1 if none. */
  def topIndexOf(ch: Char, from: Int, until: Int): Int =
    topFind(from, until)(i => msk.charAt(i) == ch)

  /** `[from, until)` split at its top-level `sep` characters, as spans. */
  def splitTop(from: Int, until: Int, sep: Char = ','): Seq[(Int, Int)] = {
    val spans = Seq.newBuilder[(Int, Int)]
    var start = from
    var at = topIndexOf(sep, start, until)
    while (at >= 0) {
      spans += ((start, at))
      start = at + 1
      at = topIndexOf(sep, start, until)
    }
    spans += ((start, until))
    spans.result()
  }

  /** The text of each top-level `sep`-separated piece of `[from, until)`. */
  def splitTopText(from: Int, until: Int, sep: Char = ','): Seq[String] =
    splitTop(from, until, sep).map { case (s, e) => sql.substring(s, e) }

  /** End (exclusive) of the identifier at `i`: a word, or a whole quoted
    * identifier; `i` itself when there is none.
    */
  def identEnd(i: Int): Int =
    if (i < n && (kind(i) == DoubleQuoted || kind(i) == BackQuoted) &&
      (i == 0 || kind(i - 1) != kind(i))) {
      val e = tokenEnd(i)
      if (e < 0) i else e + 1
    } else {
      var j = i
      while (j < n && wordChar(msk.charAt(j)) && !lit(j)) j += 1
      j
    }

  /** Start of the word or quoted identifier ending at `end`; -1 if none. */
  def identStart(end: Int): Int =
    if (end < 0 || end >= n) -1
    else if (kind(end) == DoubleQuoted || kind(end) == BackQuoted) {
      var j = end
      while (j > 0 && kind(j - 1) == kind(end)) j -= 1
      j
    } else if (!lit(end) && wordChar(msk.charAt(end))) {
      var j = end
      while (j > 0 && !lit(j - 1) && wordChar(msk.charAt(j - 1))) j -= 1
      j
    } else -1

  /** Index of the delimiter closing the quoted token opened at `open`
    * (doubling-aware); -1 if unterminated.
    */
  def tokenEnd(open: Int): Int = {
    val q = msk.charAt(open)
    var i = open + 1
    while (i < n) {
      if (msk.charAt(i) == q) {
        if (i + 1 < n && msk.charAt(i + 1) == q) i += 2
        else return i
      } else i += 1
    }
    -1
  }

  /** Walking back from `j`, the nearest clause keyword at the same depth
    * is FROM (not SELECT or WHERE), and no unclosed `(` comes first.
    */
  def inFrom(j: Int): Boolean = {
    var depth = 0
    var i = j
    while (i >= 0) {
      if (!lit(i)) {
        val c = u.charAt(i)
        if (c == ')') depth += 1
        else if (c == '(') { if (depth == 0) return false; depth -= 1 }
        else if (depth == 0 && kwEndingAt(i, "FROM")) return true
        else if (depth == 0 && (kwEndingAt(i, "SELECT") || kwEndingAt(i, "WHERE")))
          return false
      }
      i -= 1
    }
    false
  }
}

object Scan {
  private final val Code: Byte = 0
  private final val Str: Byte = 1
  private final val DoubleQuoted: Byte = 2
  private final val BackQuoted: Byte = 3

  private val Closer = Map('(' -> ')', '[' -> ']', '{' -> '}')
  private val Opener = Closer.map(_.swap)

  /** Most rewrite steps any one fixpoint applies to a statement. */
  private val Guard = 256

  /** A character that continues a word: letter, digit, `_` or `$`. */
  def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_' || c == '$'

  /** The trimmed, non-blank top-level comma-separated items of `text`. */
  def items(text: String): Seq[String] =
    new Scan(text).splitTopText(0, text.length).map(_.trim).filter(_.nonEmpty)

  /** `name` as a backtick-quoted Spark identifier. */
  def tick(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Apply `step` to a fresh scan of the statement until it returns
    * None (nothing left to rewrite) or [[Guard]] steps have been taken.
    * Each step rewrites one site and returns the whole new statement.
    */
  def fixpoint(sql: String)(step: Scan => Option[String]): String = {
    var out = sql
    var steps = 0
    var next = step(new Scan(out))
    while (next.isDefined) {
      out = next.get
      steps += 1
      next = if (steps < Guard) step(new Scan(out)) else None
    }
    out
  }
}
