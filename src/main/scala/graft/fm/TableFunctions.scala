package graft.fm

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{input_file_name, regexp_replace}
import org.apache.spark.sql.types._

/** DuckDB file-reading table functions, available to passthrough SQL via
  * the reference's verbatim `query` surface (`query.py:72` hands user SQL
  * to a DuckDB connection, where `read_parquet` / `read_csv[_auto]` /
  * `read_json[_auto]` / `parquet_scan` / `glob` are built in). The
  * rewriter finds FROM-position calls with LITERAL path arguments,
  * resolves each through a caller-supplied registrar (the engine
  * registers a temp view backed by the matching `spark.read`), and
  * splices the view name in place of the call.
  *
  * Semantics pinned against DuckDB 1.0.0 (see TableFunctionsSpec):
  *  - relative paths resolve against the engine base dir and are
  *    sandboxed there (the engine's one path discipline, `server.py:60`);
  *    absolute paths read anywhere, like DuckDB reading from a cwd;
  *  - glob patterns (`*?[]` and recursive `**`) expand driver-side to an
  *    explicit file list — a metadata-only listing, exactly the manifest
  *    handed to a distributed scan at 100 TB; matching files feed ONE
  *    multi-file `spark.read`, never a per-file union;
  *  - `read_csv` sniffs the header like DuckDB: with typed `columns`, the
  *    first row is a header iff some non-VARCHAR column's first value
  *    fails to parse; without `columns`, a header is assumed (DuckDB's
  *    sniffer on typed files agrees; pass `header=false` for headerless
  *    all-varchar data);
  *  - `filename=true` appends the matched path spelled the way the call
  *    spelled it (relative stays relative), DuckDB's behavior;
  *  - `read_json` auto-detects array-of-objects vs newline-delimited
  *    files from the first non-whitespace byte, DuckDB's `format='auto'`.
  *    Spark orders inferred JSON columns alphabetically where DuckDB uses
  *    first-seen order — use explicit projections where order matters;
  *  - malformed input fails loudly (FAILFAST) like DuckDB;
  *    `ignore_errors=true` drops bad records (DROPMALFORMED).
  */
object TableFunctions {

  /** One parsed call. `rawPaths` are the path strings exactly as written
    * (the `filename`/`glob` output spelling); `opts` are lowercased named
    * args with unquoted literal values; `columns` preserves declaration
    * order.
    */
  final case class Call(
      fn: String,
      rawPaths: Seq[String],
      opts: Map[String, String],
      columns: Option[Seq[(String, String)]]) {

    /** Memoization key: every semantic input, canonically ordered. */
    def canonical: String =
      fn + "(" + rawPaths.mkString("") + "|" +
        opts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("") + "|" +
        columns.fold("")(_.map { case (k, v) => s"$k:$v" }.mkString("")) + ")"

    def boolOpt(name: String): Option[Boolean] =
      opts.get(name).map(v => v.equalsIgnoreCase("true") || v == "1")
  }

  private val FnNames = Seq(
    // longest-first is irrelevant (keyword sites are whole words)
    "READ_PARQUET", "PARQUET_SCAN", "READ_CSV_AUTO", "READ_CSV",
    "READ_JSON_AUTO", "READ_JSON", "READ_NDJSON_AUTO", "READ_NDJSON",
    "GLOB")

  /** Replace each FROM-position table-function call with the view name
    * `resolve` returns for it. Calls with non-literal arguments are left
    * in place (Spark then rejects them loudly — DuckDB's path arguments
    * are almost always literals, and a dynamic path cannot be registered
    * ahead of execution).
    */
  def rewrite(sql: String, resolve: Call => String): String = Scan.fixpoint(sql) { s =>
    val calls = FnNames.flatMap { fn =>
      s.sites(fn).find { i =>
        val k = s.skipWs(i + fn.length)
        k < s.length && s.msk.charAt(k) == '(' && s.inFrom(i - 1)
      }.map(i => (i, fn))
    }
    calls.minByOption(_._1).map { case (at, fn) =>
      val open = s.skipWs(at + fn.length)
      val close = s.close(open)
      require(close > open, s"unbalanced parens in ${fn.toLowerCase}(…)")
      val view = resolve(parseCall(fn.toLowerCase, s.sql.substring(open + 1, close)))
      s.sql.substring(0, at) + view + s.sql.substring(close + 1)
    }
  }

  private def unquote(t: String): Option[String] = {
    val s = t.trim
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      Some(s.substring(1, s.length - 1).replace("''", "'"))
    else None
  }

  private[fm] def parseCall(fn: String, argsStr: String): Call = {
    val args = Scan.items(argsStr)
    require(args.nonEmpty, s"$fn requires a path argument")
    val first = args.head
    val paths: Seq[String] =
      if (first.startsWith("[")) {
        require(first.endsWith("]"), s"$fn: unterminated path list")
        Scan.items(first.substring(1, first.length - 1)).map { e =>
          unquote(e).getOrElse(
            throw new IllegalArgumentException(
              s"$fn: path list elements must be string literals, got: $e"))
        }
      } else Seq(unquote(first).getOrElse(
        throw new IllegalArgumentException(
          s"$fn: path must be a string literal, got: $first")))
    require(paths.nonEmpty, s"$fn: empty path list")
    var opts = Map.empty[String, String]
    var columns: Option[Seq[(String, String)]] = None
    for (a <- args.tail) {
      // named-arg separator: `name = value` (also `name := value`)
      val eq = new Scan(a).topIndexOf('=', 0, a.length)
      require(eq > 0, s"$fn: expected name=value argument, got: $a")
      val name = a.substring(0, eq).stripSuffix(":").trim.toLowerCase
      val value = a.substring(eq + 1).trim
      if (name == "columns") {
        require(value.startsWith("{") && value.endsWith("}"),
          s"$fn: columns must be a {'name': 'TYPE'} struct")
        columns = Some(Scan.items(value.substring(1, value.length - 1)).map { p =>
          val c = p.indexOf(':')
          require(c > 0, s"$fn: bad columns entry: $p")
          val k = unquote(p.substring(0, c)).getOrElse(p.substring(0, c).trim)
          val v = unquote(p.substring(c + 1)).getOrElse(p.substring(c + 1).trim)
          (k, v)
        })
      } else {
        opts += name -> unquote(value).getOrElse(value)
      }
    }
    Call(fn, paths, opts, columns)
  }

  /** DuckDB type spelling → Spark type, for `columns={…}`. Bounded to the
    * scalar types a CSV/JSON cell can carry; anything else is a loud
    * unsupported error rather than a silent VARCHAR.
    */
  private[fm] def duckTypeToSpark(t: String): DataType = {
    val up = t.trim.toUpperCase
    val dec = """DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
    up match {
      case "BOOLEAN" | "BOOL" | "LOGICAL" => BooleanType
      case "TINYINT" | "INT1" | "SMALLINT" | "INT2" | "INTEGER" | "INT" |
          "INT4" | "SIGNED" => IntegerType
      case "BIGINT" | "INT8" | "LONG" | "HUGEINT" => LongType
      case "FLOAT" | "REAL" | "FLOAT4" => FloatType
      case "DOUBLE" | "FLOAT8" => DoubleType
      case "VARCHAR" | "TEXT" | "STRING" | "CHAR" | "BPCHAR" => StringType
      case "DATE" => DateType
      case "TIMESTAMP" | "DATETIME" => TimestampType
      case dec(p, s) => DecimalType(p.toInt, s.toInt)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported column type in columns={…}: $other")
    }
  }

  private def hasGlobChars(s: String): Boolean =
    s.exists(c => c == '*' || c == '?' || c == '[' || c == '{')

  /** Expand one raw path to (user-form, absolute) matches. Relative paths
    * are sandboxed under `baseDir` (`FileScan.resolve` discipline);
    * absolute globs walk from the longest static directory prefix with
    * the same `**`-aware matcher the corpus scan uses.
    */
  private[fm] def expandPath(baseDir: Path, raw: String): Seq[(String, Path)] = {
    if (!hasGlobChars(raw)) {
      val abs =
        if (raw.startsWith("/")) {
          val p = Paths.get(raw)
          if (!Files.exists(p))
            throw new java.io.FileNotFoundException(s"File not found: $raw")
          p
        } else FileScan.resolve(baseDir, raw)
      Seq((raw, abs))
    } else if (raw.startsWith("/")) {
      val globIdx = raw.indexWhere(c => "*?[{".indexOf(c) >= 0)
      val lastSlash = raw.lastIndexOf('/', globIdx)
      val prefix = if (lastSlash <= 0) "/" else raw.substring(0, lastSlash)
      val rest = raw.substring(lastSlash + 1)
      FileScan.collect(Paths.get(prefix), rest)
        .map(rel => (s"${prefix.stripSuffix("/")}/$rel",
          Paths.get(prefix).resolve(rel)))
    } else {
      // relative glob: containment is structural (the walk starts at
      // baseDir and yields paths under it)
      FileScan.collect(baseDir, raw)
        .map(rel => (rel.toString, baseDir.resolve(rel)))
    }
  }

  /** All matches for a call, user-form-sorted; loud when a read_* call
    * matches nothing (DuckDB: "No files found that match the pattern").
    */
  def expandAll(baseDir: Path, call: Call): Seq[(String, Path)] = {
    val all = call.rawPaths.flatMap(expandPath(baseDir, _)).distinct
      .sortBy(_._1)
    if (all.isEmpty && call.fn != "glob")
      throw new java.io.FileNotFoundException(
        s"${call.fn}: no files found that match ${call.rawPaths.mkString(", ")}")
    all
  }

  /** Listing fingerprint — (path, mtime, size) of every match — so the
    * engine re-registers a view only when the underlying files changed
    * (the corpus mtime-cache discipline, A4).
    */
  def fingerprint(files: Seq[(String, Path)]): String =
    files.map { case (_, p) =>
      s"$p:${Files.getLastModifiedTime(p).toMillis}:${Files.size(p)}"
    }.mkString("")

  /** Build the DataFrame for a resolved call. One multi-file read over
    * the expanded list; all per-file work stays distributed.
    */
  def frame(spark: SparkSession, baseDir: Path, call: Call,
      files: Seq[(String, Path)]): DataFrame = call.fn match {
    case "glob" =>
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        files.map(f => org.apache.spark.sql.Row(f._1)).asJava,
        StructType(Seq(StructField("file", StringType))))
    case "read_parquet" | "parquet_scan" => parquetFrame(spark, baseDir, call, files)
    case "read_csv" | "read_csv_auto" => csvFrame(spark, baseDir, call, files)
    case "read_json" | "read_json_auto" | "read_ndjson" |
        "read_ndjson_auto" => jsonFrame(spark, baseDir, call, files)
    case other => throw new IllegalArgumentException(s"unknown table function $other")
  }

  private def parquetFrame(spark: SparkSession, baseDir: Path, call: Call,
      files: Seq[(String, Path)]): DataFrame = {
    var r = spark.read
    if (call.boolOpt("union_by_name").getOrElse(false))
      r = r.option("mergeSchema", "true")
    withFilename(baseDir, call,
      r.parquet(files.map(_._2.toString): _*))
  }

  private def jsonFrame(spark: SparkSession, baseDir: Path, call: Call,
      files: Seq[(String, Path)]): DataFrame = {
    val multiline = call.opts.get("format") match {
      case Some("array") => true
      case Some("newline_delimited") | Some("nd") => false
      case _ if call.fn.startsWith("read_ndjson") => false
      case _ => firstNonWs(files.head._2).contains('[')
    }
    var r = spark.read
      .option("multiLine", multiline.toString)
      .option("mode",
        if (call.boolOpt("ignore_errors").getOrElse(false)) "DROPMALFORMED"
        else "FAILFAST")
    call.columns.foreach(cs => r = r.schema(toStruct(cs)))
    withFilename(baseDir, call, r.json(files.map(_._2.toString): _*))
  }

  private def toStruct(cols: Seq[(String, String)]): StructType =
    StructType(cols.map { case (n, t) => StructField(n, duckTypeToSpark(t)) })

  private def csvFrame(spark: SparkSession, baseDir: Path, call: Call,
      files: Seq[(String, Path)]): DataFrame = {
    val o = call.opts
    val delim = o.getOrElse("delim", o.getOrElse("sep", ","))
    val quote = o.getOrElse("quote", "\"")
    // DuckDB's default escape is the RFC-4180 doubled quote, not backslash
    val escape = o.getOrElse("escape", "\"")
    val skip = o.get("skip").map(_.toInt).getOrElse(0)
    val allVarchar = call.boolOpt("all_varchar").getOrElse(false)
    val schema = call.columns.map(toStruct)
    val header = call.boolOpt("header").getOrElse(schema match {
      case Some(st) => sniffHeader(files.head._2, skip, delim.head, quote.head, st)
      case None => true
    })
    def base(r: org.apache.spark.sql.DataFrameReader, hdr: Boolean) = {
      var rr = r.option("sep", delim).option("quote", quote)
        .option("escape", escape).option("header", hdr.toString)
        .option("mode",
          if (call.boolOpt("ignore_errors").getOrElse(false)) "DROPMALFORMED"
          else "FAILFAST")
      o.get("nullstr").foreach(v => rr = rr.option("nullValue", v))
      o.get("dateformat").foreach(v => rr = rr.option("dateFormat", v))
      o.get("timestampformat").foreach(v => rr = rr.option("timestampFormat", v))
      schema match {
        case Some(st) => rr = rr.schema(st)
        case None => if (!allVarchar) rr = rr.option("inferSchema", "true")
      }
      rr
    }
    if (skip == 0) {
      withFilename(baseDir, call,
        base(spark.read, header).csv(files.map(_._2.toString): _*))
    } else {
      // DuckDB's skip drops N leading lines of EACH file before the
      // (optional) header. No Spark reader option does this, so feed the
      // reader a line Dataset with each file's leading lines dropped in
      // its first partition — the drop is per-file and the parse stays
      // distributed. Embedded newlines in quoted fields don't survive
      // line-splitting; like DuckDB, combine skip with simple rows.
      require(!call.boolOpt("filename").getOrElse(false),
        "read_csv: filename=true with skip is not supported")
      val sc = spark.sparkContext
      val dropN = skip + (if (header) 1 else 0)
      val rdds = files.map { case (_, p) =>
        sc.textFile(p.toString).mapPartitionsWithIndex(
          (i, it) => if (i == 0) it.drop(dropN) else it)
      }
      val ds: Dataset[String] =
        spark.createDataset(sc.union(rdds))(Encoders.STRING)
      val df = base(spark.read, hdr = false).csv(ds)
      if (header && schema.isEmpty) {
        val names = splitCsvLine(
          lineAt(files.head._2, skip), delim.head, quote.head)
        df.toDF(names: _*)
      } else df
    }
  }

  /** DuckDB's header sniff with typed columns: the first data row is a
    * header iff some non-VARCHAR column's value in it fails to parse as
    * the declared type (pinned against DuckDB 1.0.0 in the spec).
    */
  private[fm] def sniffHeader(first: Path, skip: Int, delim: Char,
      quote: Char, st: StructType): Boolean = {
    val line = lineAt(first, skip)
    if (line == null) return false
    val cells = splitCsvLine(line, delim, quote)
    st.fields.zip(cells).exists { case (f, cell) =>
      f.dataType match {
        case StringType => false
        case _ => !parsesAs(cell, f.dataType)
      }
    }
  }

  private def parsesAs(cell: String, dt: DataType): Boolean = {
    val v = cell.trim
    if (v.isEmpty) return true // empty → NULL, any type
    try {
      dt match {
        case IntegerType => v.toInt; true
        case LongType => v.toLong; true
        case FloatType => v.toFloat; true
        case DoubleType => v.toDouble; true
        case _: DecimalType => BigDecimal(v); true
        case BooleanType =>
          Seq("true", "false", "0", "1", "t", "f").contains(v.toLowerCase)
        case DateType => java.time.LocalDate.parse(v); true
        case TimestampType =>
          java.time.LocalDateTime.parse(v.replace(' ', 'T')); true
        case _ => true
      }
    } catch { case _: Exception => false }
  }

  /** Line `idx` (0-based) of `p`, driver-side bounded read. */
  private def lineAt(p: Path, idx: Int): String = {
    val br = Files.newBufferedReader(p)
    try {
      var i = 0
      var line = br.readLine()
      while (i < idx && line != null) { line = br.readLine(); i += 1 }
      line
    } finally br.close()
  }

  /** Naive quoted-field split of one physical line — header names and
    * sniffing only (data rows go through Spark's CSV parser).
    */
  private[fm] def splitCsvLine(line: String, delim: Char, quote: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == quote) {
          if (i + 1 < line.length && line.charAt(i + 1) == quote) { cur += quote; i += 1 }
          else inQ = false
        } else cur += c
      } else if (c == quote) inQ = true
      else if (c == delim) { out += cur.result(); cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.result()
    out.result()
  }

  /** `filename=true`: append the matched path spelled as the call spelled
    * it (DuckDB returns relative matches for relative patterns).
    * Implemented as prefix surgery on `input_file_name()` — constant
    * per-row work, no per-file plan: strip the URI scheme, and when the
    * call used relative paths, strip the resolved base-dir prefix back
    * off. A call mixing relative and absolute spellings for files under
    * the base dir gets the relative spelling for all of them (documented
    * divergence; DuckDB echoes each pattern's own spelling).
    */
  private def withFilename(baseDir: Path, call: Call,
      df: DataFrame): DataFrame = {
    if (!call.boolOpt("filename").getOrElse(false)) return df
    import java.util.regex.Pattern
    // scheme strip first: file:///abs/path → /abs/path
    var c = regexp_replace(input_file_name(), "^file:(//)?", "")
    if (call.rawPaths.exists(!_.startsWith("/"))) {
      val basePfx = baseDir.normalize().toString.stripSuffix("/") + "/"
      c = regexp_replace(c, "^" + Pattern.quote(basePfx), "")
    }
    df.withColumn("filename", c)
  }

  private def firstNonWs(p: Path): Option[Char] = {
    val in = Files.newInputStream(p)
    try {
      var b = in.read()
      while (b >= 0 && Character.isWhitespace(b)) b = in.read()
      if (b >= 0) Some(b.toChar) else None
    } finally in.close()
  }
}
