package graft.fm

import java.nio.file.{Files, Path}

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LocalTableScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Mirrors the reference's query-execution unit cases
  * (tests/test_query.py:31-218) end-to-end through the engine over a
  * temp-dir corpus, plus cache/warning behavior from tests/test_files.py.
  */
class QueryEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus(files: (String, String)*): Path = {
    val dir = Files.createTempDirectory("graft_fm_spec")
    files.foreach { case (rel, content) =>
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    dir
  }

  private def eng(dir: Path) =
    new QueryEngine(spark, Settings(dir.toString, enableSemantic = false, "", None))

  private val threeDocs = Seq(
    "a.md" -> "---\ntitle: Alpha\ndate: 2025-11-27\ntags:\n- x\n- y\n---\nbody a",
    "b.md" -> "---\ntitle: Beta\ndate: 2025-11-26\nextra: 42\n---\nbody b",
    "sub/c.md" -> "---\ntitle: Gamma\ndate: 2025-11-25\n---\nbody c")

  test("select/where/order over string dates (test_query.py:64-84)") {
    val e = eng(corpus(threeDocs: _*))
    val r = e.query("**/*.md",
      "SELECT path, date FROM files WHERE date >= '2025-11-26' ORDER BY date DESC")
    val rows = r.results.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a.md", "b.md"))
    assert(rows.head.getString(1) == "2025-11-27")
  }

  test("missing keys are NULL; union-of-keys schema (test_query.py:146-160)") {
    val e = eng(corpus(threeDocs: _*))
    val r = e.query("**/*.md", "SELECT path FROM files WHERE extra IS NULL ORDER BY path")
    assert(r.results.collect().map(_.getString(0)).toSeq == Seq("a.md", "sub/c.md"))
    assert(e.query("**/*.md", "SELECT * FROM files").columns.sorted ==
      Seq("date", "extra", "path", "tags", "title"))
  }

  test("empty corpus degenerates to path-only table (test_query.py:36-38)") {
    val e = eng(corpus())
    val r = e.query("**/*.md", "SELECT * FROM files")
    assert(r.columns == Seq("path"))
    assert(r.results.count() == 0)
  }

  test("arrays are JSON strings; UNNEST+from_json expansion works") {
    val e = eng(corpus(threeDocs: _*))
    val raw = e.query("**/*.md", "SELECT tags FROM files WHERE path = 'a.md'")
    assert(raw.results.collect()(0).getString(0) == "[\"x\", \"y\"]")
    val expanded = e.query("**/*.md",
      """SELECT tag FROM files, UNNEST(from_json(tags, '["VARCHAR"]')) AS t(tag) ORDER BY tag""")
    assert(expanded.results.collect().map(_.getString(0)).toSeq == Seq("x", "y"))
  }

  test("list_contains alias (test_query.py:98)") {
    val e = eng(corpus(threeDocs: _*))
    val r = e.query("**/*.md",
      """SELECT path FROM files WHERE list_contains(from_json(tags, '["VARCHAR"]'), 'x')""")
    assert(r.results.collect().map(_.getString(0)).toSeq == Seq("a.md"))
  }

  test("mixed types serialize to Python string forms (test_query.py:196-218)") {
    val e = eng(corpus(
      "a.md" -> "---\nvalue: string\n---\n", "b.md" -> "---\nvalue: 42\n---\n",
      "c.md" -> "---\nvalue: 3.14\n---\n", "d.md" -> "---\nvalue: true\n---\n",
      "e.md" -> "---\nvalue:\n- a\n- b\n---\n"))
    val vals = e.query("**/*.md", "SELECT path, value FROM files ORDER BY path")
      .results.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vals == Map("a.md" -> "string", "b.md" -> "42", "c.md" -> "3.14",
      "d.md" -> "True", "e.md" -> "[\"a\", \"b\"]"))
  }

  test("parse failures become warnings, not errors (files.py:70-107)") {
    val e = eng(corpus(
      "good.md" -> "---\nok: 1\n---\n",
      "bad.md" -> "---\n{ not: valid: yaml: [\n---\n"))
    val r = e.query("**/*.md", "SELECT path FROM files ORDER BY path")
    assert(r.results.collect().map(_.getString(0)).toSeq == Seq("good.md"))
    assert(r.warnings.exists(_.path == "bad.md"))
  }

  test("parse-warning list is bounded above the cap with an exact remainder count") {
    val bad = (0 until 5).map(i => f"bad$i%02d.md" -> "---\n{ not: valid: yaml: [\n---\n")
    val dir = corpus((("good.md" -> "---\nok: 1\n---\n") +: bad): _*)
    val parsed = Corpus.parse(spark, dir.toString,
      FileScan.collect(dir, "**/*.md").map(_.toString).sorted)
    // Below the cap: full reference-parity list, no summary entry.
    val (_, full) = Corpus.filesDF(spark, parsed, maxWarnings = 5)
    assert(full.length == 5 && full.forall(_.path.startsWith("bad")))
    // Above the cap: first N plus one summary row with the exact remainder.
    val (df, capped) = Corpus.filesDF(spark, parsed, maxWarnings = 2)
    assert(capped.length == 3)
    assert(capped.take(2).forall(_.path.startsWith("bad")))
    assert(capped.last.path == "(truncated)")
    assert(capped.last.error.contains("3 more parse warnings"))
    // The data frame itself is unaffected by the warning cap.
    assert(df.count() == 1)
  }

  test("response shape {results, row_count, columns} (server.py:160-169)") {
    val e = eng(corpus(threeDocs: _*))
    val resp = e.query("**/*.md", "SELECT path FROM files ORDER BY path").response()
    assert(resp("row_count") == 3)
    assert(resp("columns") == Seq("path"))
  }

  test("fingerprint cache: same corpus reuses the DataFrame; edit invalidates") {
    val dir = corpus(threeDocs: _*)
    val e = eng(dir)
    val df1 = e.filesTable("**/*.md")._1
    val df2 = e.filesTable("**/*.md")._1
    assert(df1 eq df2)
    // touch a file with a different mtime → new fingerprint
    val f = dir.resolve("a.md")
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val df3 = e.filesTable("**/*.md")._1
    assert(!(df1 eq df3))
  }

  test("glob narrows the corpus (server.py:32-36)") {
    val e = eng(corpus(threeDocs: _*))
    assert(e.query("sub/*.md", "SELECT path FROM files").results.collect()
      .map(_.getString(0)).toSeq == Seq("sub/c.md"))
    assert(e.query("*.md", "SELECT COUNT(*) AS n FROM files").results.collect()(0).getLong(0) == 2)
  }

  test("query_inspect: type/nullable/examples semantics (test_query_schema.py)") {
    val e = eng(corpus(threeDocs: _*))
    val (count, schemaDf, _) = e.inspect("**/*.md")
    assert(count == 3)
    val byProp = schemaDf.collect().map(r =>
      r.getString(0) -> (r.getString(1), r.getBoolean(2), r.getString(3))).toMap
    assert(byProp("path") == ("string", false, "[\"a.md\", \"b.md\", \"sub/c.md\"]"))
    assert(byProp("tags")._1 == "array")
    assert(byProp("extra") == ("string", true, "[\"42\"]"))
    assert(byProp("title")._2 == false)
  }

  test("examples cap at 5 first-seen distinct values") {
    val files = (1 to 8).map(i => f"f$i%02d.md" -> s"---\nk: v$i\n---\n")
    val e = eng(corpus(files: _*))
    val (_, schemaDf, _) = e.inspect("**/*.md")
    val ex = schemaDf.collect().find(_.getString(0) == "k").get.getString(3)
    assert(ex == "[\"v1\", \"v2\", \"v3\", \"v4\", \"v5\"]")
  }

  private def reads[A](f: => A): (A, Long) = {
    val before = Corpus.filesRead.get()
    val a = f
    (a, Corpus.filesRead.get() - before)
  }

  private def write(dir: Path, rel: String, content: String, mtime: Long): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
  }

  private def col(e: QueryEngine, glob: String, c: String): Seq[(String, String)] =
    e.query(glob, s"SELECT path, $c FROM files ORDER BY path").results.collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq

  test("record cache mtime semantics (files.py:19-49)") {
    val dir = corpus()
    val t0 = System.currentTimeMillis() - 60000
    write(dir, "a.md", "---\nx: 1\n---\n", t0)
    write(dir, "b.md", "---\nx: 9\n---\n", t0)
    val e = eng(dir)
    val (first, n1) = reads(col(e, "**/*.md", "x"))
    assert(first == Seq("a.md" -> "1", "b.md" -> "9") && n1 == 2)
    assert(e.cachedPaths == Set("a.md", "b.md"))
    // Unchanged (path, mtime): served from the cache, nothing read.
    assert(reads(col(e, "**/*.md", "x")) == (first, 0L))
    // New content under the SAME mtime is not re-read — the reference's
    // cache keys on mtime alone.
    write(dir, "a.md", "---\nx: 2\n---\n", t0)
    assert(reads(col(e, "**/*.md", "x")) == (first, 0L))
    // A moved mtime invalidates that entry alone.
    write(dir, "a.md", "---\nx: 3\n---\n", t0 + 1000)
    assert(reads(col(e, "**/*.md", "x")) == (Seq("a.md" -> "3", "b.md" -> "9"), 1L))
    // A deleted file leaves the cache.
    Files.delete(dir.resolve("a.md"))
    assert(reads(col(e, "**/*.md", "x")) == (Seq("b.md" -> "9"), 0L))
    assert(e.cachedPaths == Set("b.md"))
  }

  test("a one-file edit re-reads exactly one file") {
    val dir = corpus()
    val t0 = System.currentTimeMillis() - 60000
    (0 until 6).foreach(i => write(dir, s"n$i.md", s"---\nv: a$i\n---\n", t0))
    val e = eng(dir)
    assert(reads(e.filesTable("**/*.md"))._2 == 6)
    write(dir, "n3.md", "---\nv: edited\nw: new\n---\n", t0 + 1000)
    val (rows, n) = reads(col(e, "**/*.md", "v"))
    assert(n == 1)
    assert(rows == (0 until 6).map(i => s"n$i.md" -> (if (i == 3) "edited" else s"a$i")))
    // the new key joins the union of keys
    assert(col(e, "**/*.md", "w").filter(_._2 != null) == Seq("n3.md" -> "new"))
  }

  test("added and deleted files appear and disappear") {
    val dir = corpus(threeDocs: _*)
    val e = eng(dir)
    assert(col(e, "**/*.md", "title").map(_._1) == Seq("a.md", "b.md", "sub/c.md"))
    Files.write(dir.resolve("sub/d.md"), "---\ntitle: Delta\n---\n".getBytes("UTF-8"))
    val (added, n) = reads(col(e, "**/*.md", "title"))
    assert(n == 1)
    assert(added == Seq("a.md" -> "Alpha", "b.md" -> "Beta", "sub/c.md" -> "Gamma", "sub/d.md" -> "Delta"))
    Files.delete(dir.resolve("b.md"))
    val (left, n2) = reads(e.query("**/*.md", "SELECT * FROM files ORDER BY path"))
    assert(n2 == 0)
    assert(left.results.collect().map(_.getString(0)).toSeq == Seq("a.md", "sub/c.md", "sub/d.md"))
    // b.md held the only `extra` value: the key leaves the union too
    assert(!left.columns.contains("extra"))
    assert(!e.cachedPaths.contains("b.md"))
  }

  test("two overlapping globs share records") {
    val dir = corpus(threeDocs: _*)
    val e = eng(dir)
    assert(reads(e.filesTable("**/*.md"))._2 == 3)
    val (sub, n) = reads(col(e, "sub/*.md", "title"))
    assert(sub == Seq("sub/c.md" -> "Gamma") && n == 0)
    assert(reads(e.inspect("*.md"))._2 == 0)
    // A deleted file's record stays while any cached glob still lists
    // it, and goes once none does.
    Files.delete(dir.resolve("a.md"))
    e.filesTable("**/*.md")
    assert(e.cachedPaths == Set("a.md", "b.md", "sub/c.md"))
    e.filesTable("*.md")
    assert(e.cachedPaths == Set("b.md", "sub/c.md"))
  }

  test("a semantic readiness flip rebuilds the frame without re-reading") {
    val dir = corpus(threeDocs: _*)
    val flag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val provider = new SemanticProvider {
      def isReady: Boolean = flag.get()
      def dim: Int = 2
      def withEmbedding(files: org.apache.spark.sql.DataFrame) =
        files.withColumn("embedding", org.apache.spark.sql.functions.lit(null).cast("array<float>"))
      def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit = ()
    }
    val e = new QueryEngine(spark, Settings(dir.toString, enableSemantic = true, "", None), Some(provider))
    assert(!e.filesTable("**/*.md")._1.columns.contains("embedding"))
    flag.set(true)
    val (df, n) = reads(e.filesTable("**/*.md")._1)
    assert(n == 0 && df.columns.contains("embedding") && df.count() == 3)
    val (_, schemaDf, _) = e.inspect("**/*.md")
    assert(schemaDf.collect().exists(r => r.getString(0) == "embedding" && r.getString(1) == "FLOAT[2]"))
  }

  test("the warning cap keeps its exact remainder through the record builder") {
    val recs = ParsedFile("good.md", ok = true, null, Seq(ParsedField("path", "good.md", false))) +:
      (0 until 4).map(i => ParsedFile(s"bad$i.md", ok = false, s"E$i", Nil))
    val (df, exact) = Corpus.build(spark, recs, maxWarnings = 4)
    assert(exact == (0 until 4).map(i => ParseWarning(s"bad$i.md", s"E$i")))
    assert(df.count() == 1)
    val (_, capped) = Corpus.build(spark, recs, maxWarnings = 3)
    assert(capped.take(3) == exact.take(3))
    assert(capped.length == 4 && capped.last.path == "(truncated)")
    assert(capped.last.error.startsWith("... 1 more parse warnings not listed (listing capped at 3"))
    // A Dataset the adapter did not make is collected, with the same result.
    import spark.implicits._
    assert(Corpus.filesDF(spark, spark.createDataset(recs), maxWarnings = 3)._2 == capped)
  }

  private def pathRecs(n: Int): Seq[ParsedFile] = (0 until n).map { i =>
    val p = f"f$i%05d.md"
    ParsedFile(p, ok = true, null, Seq(ParsedField("path", p, false)))
  }

  test("the files frame is a LocalRelation up to LocalRows parsed files") {
    val n = Corpus.LocalRows
    for (k <- Seq(0, 1, 32, n)) {
      val (local, _) = Corpus.build(spark, pathRecs(k))
      assert(local.queryExecution.logical.isInstanceOf[LocalRelation], s"n=$k")
      assert(local.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec], s"n=$k")
      assert(local.count() == k, s"n=$k")
    }
    // The gate counts parsed rows: unparseable files do not push it over.
    val bad = (0 until 3).map(i => ParsedFile(s"bad$i.md", ok = false, "E", Nil))
    assert(Corpus.isLocal(Corpus.build(spark, pathRecs(n) ++ bad)._1))
    assert(!Corpus.isLocal(Corpus.build(spark, pathRecs(n + 1))._1))
  }

  test("the files frame keeps the parse layout's partition count") {
    // Above the local gate, the distributed frame has the parse layout.
    val recs = pathRecs(Corpus.LocalRows + 100)
    for (n <- Seq(Corpus.LocalRows + 1, Corpus.LocalRows + 100)) {
      val want = math.max(1, math.min(spark.sparkContext.defaultParallelism, n / 32 + 1))
      val df = Corpus.build(spark, recs.take(n))._1
      assert(df.rdd.getNumPartitions == want, s"n=$n")
      assert(df.count() == n, s"n=$n")
    }
  }

  /** Spark jobs `f` starts on this thread, counted by job tag. */
  private def jobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = "graft-spec-" + java.util.UUID.randomUUID()
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val a = f
      ListenerDrain(sc)
      (a, n.get())
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  test("SELECT * on a small glob runs no Spark job") {
    val e = eng(corpus(threeDocs: _*))
    e.filesTable("**/*.md")
    val (resp, n) = jobs(e.query("**/*.md", "SELECT * FROM files").response())
    assert(resp("row_count") == 3 && n == 0)
    // Project, Filter and Limit fold into the local relation too.
    val (rows, n2) = jobs(e.query("**/*.md",
      "SELECT path, upper(title) FROM files WHERE title <> 'Beta' LIMIT 5").results.collect())
    assert(rows.map(_.getString(1)).toSet == Set("ALPHA", "GAMMA") && n2 == 0)
  }

  test("a one-file edit on a small glob rebuilds with no job and caches nothing") {
    val dir = corpus()
    val t0 = System.currentTimeMillis() - 60000
    (0 until 6).foreach(i => write(dir, s"n$i.md", s"---\nv: a$i\n---\n", t0))
    spark.catalog.clearCache()
    val e = eng(dir)
    val before = e.filesTable("**/*.md")._1
    write(dir, "n3.md", "---\nv: edited\n---\n", t0 + 1000)
    val ((after, _), n) = jobs(e.filesTable("**/*.md"))
    assert(n == 0 && !(after eq before) && Corpus.isLocal(after))
    assert(col(e, "**/*.md", "v")(3) == ("n3.md" -> "edited"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a semantic readiness flip on a small glob persists the joined frame alone") {
    val dir = corpus(threeDocs: _*)
    val flag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val provider = new SemanticProvider {
      def isReady: Boolean = flag.get()
      def dim: Int = 2
      def withEmbedding(files: org.apache.spark.sql.DataFrame) = {
        import spark.implicits._
        files.join(Seq("a.md" -> Seq(1f, 2f)).toDF("path", "embedding"), Seq("path"), "left")
      }
      def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit = ()
    }
    spark.catalog.clearCache()
    val e = new QueryEngine(spark, Settings(dir.toString, enableSemantic = true, "", None), Some(provider))
    assert(!e.filesTable("**/*.md")._1.columns.contains("embedding"))
    assert(spark.sharedState.cacheManager.isEmpty)
    flag.set(true)
    val df = e.filesTable("**/*.md")._1
    assert(df.columns.contains("embedding") && !Corpus.isLocal(df))
    assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    val rows = e.query("**/*.md", "SELECT path, embedding FROM files")
      .results.collect().map(r => r.getString(0) -> Option(r.getSeq[Float](1)).map(_.toSeq)).toSeq
    assert(rows.sortBy(_._1) == Seq("a.md" -> Some(Seq(1f, 2f)), "b.md" -> None, "sub/c.md" -> None))
    // Back off: the joined frame is unpersisted and the local one caches nothing.
    flag.set(false)
    assert(Corpus.isLocal(e.filesTable("**/*.md")._1))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("inspect examples follow code-point path order, not UTF-16 order") {
    // U+1F600 is a surrogate pair (D83D DE00): it sorts BEFORE U+E000 by
    // UTF-16 code unit and AFTER it by code point.
    val astral = new String(Character.toChars(0x1F600)) + ".md"
    val bmp = "\uE000.md"
    def rec(p: String, v: String) =
      ParsedFile(p, ok = true, null, Seq(ParsedField("path", p, false), ParsedField("k", v, false)))
    val listed = Seq(rec(astral, "astral"), rec(bmp, "bmp")) // FileScan's UTF-16 order
    assert(astral < bmp)
    val (n, rows) = SchemaInfer.infer(listed)
    assert(n == 2)
    val ex = rows.map(r => r.getString(0) -> r.getString(3)).toMap
    assert(ex("k") == "[\"bmp\", \"astral\"]")
    assert(ex("path") == s"[${PyValue.jsonDumps(bmp)}, ${PyValue.jsonDumps(astral)}]")
    assert(SchemaInfer.byCodePoint.lt(bmp, astral) && SchemaInfer.byCodePoint.lt("a", "ab"))
  }

  test("mixed YAML/JSON/TOML frontmatter corpus queries uniformly") {
    val e = eng(corpus(
      "y.md" -> "---\nkind: yaml\nn: 1\n---\nbody",
      "j.md" -> "{\n\"kind\": \"json\",\n\"n\": 2\n}\nbody",
      "t.md" -> "+++\nkind = \"toml\"\nn = 3\n+++\nbody"))
    val rows = e.query("**/*.md", "SELECT path, kind, n FROM files ORDER BY n")
      .results.collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("y.md", "yaml", "1"), ("j.md", "json", "2"), ("t.md", "toml", "3")))
  }

  test("len() and regexp_matches() dialect aliases") {
    val e = eng(corpus(threeDocs: _*))
    val r = e.query("**/*.md",
      "SELECT path FROM files WHERE len(title) = 5 AND regexp_matches(title, '^A') ORDER BY path")
    assert(r.results.collect().map(_.getString(0)).toSeq == Seq("a.md"))
  }

  test("USING SAMPLE reaches TABLESAMPLE through the engine") {
    val e = eng(corpus(threeDocs: _*))
    // 100% keeps the test deterministic; the rewrite path is the point
    val r = e.query("**/*.md", "SELECT path FROM files USING SAMPLE 100% ORDER BY path")
    assert(r.results.collect().length == 3)
    val r2 = e.query("**/*.md", "SELECT path FROM files USING SAMPLE 2 ROWS")
    assert(r2.results.collect().length == 2)
  }

  test("CREATE MACRO persists on the engine and expands at call sites") {
    val e = eng(corpus(threeDocs: _*))
    // multi-statement script: scalar macro defined, used in the SAME call
    val r = e.query("**/*.md",
      """CREATE MACRO initial(s) AS upper(substr(s, 1, 1));
        |SELECT path, initial(title) AS ini FROM files ORDER BY path""".stripMargin)
    assert(r.results.collect().map(_.getString(1)).toSeq == Seq("A", "B", "G"))
    // the macro survives into LATER queries (connection-scoped, DuckDB-like)
    val r2 = e.query("**/*.md",
      "SELECT initial('zeta') AS i FROM files LIMIT 1")
    assert(r2.results.collect().head.getString(0) == "Z")
    // table macro, expanded in FROM position
    val r3 = e.query("**/*.md",
      """CREATE OR REPLACE MACRO titled(p) AS TABLE
        |  SELECT path AS tp FROM files WHERE title IS NOT NULL AND path <> p;
        |SELECT tp FROM titled('b.md') ORDER BY tp""".stripMargin)
    assert(r3.results.collect().map(_.getString(0)).toSeq == Seq("a.md", "sub/c.md"))
    // a non-macro intermediate statement is rejected loudly
    intercept[IllegalArgumentException](
      e.query("**/*.md", "SELECT 1; SELECT 2"))
  }

  test("session tables: CREATE TABLE AS / INSERT INTO / DROP TABLE") {
    val e = eng(corpus(threeDocs: _*))
    // CTAS returns DuckDB's one-row Count and registers the table
    val r = e.query("**/*.md",
      "CREATE TABLE st1 AS SELECT path, title FROM files WHERE title IS NOT NULL")
    assert(r.columns == Seq("Count"))
    assert(r.results.collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(e.query("**/*.md", "SELECT COUNT(*) AS n FROM st1")
      .results.collect().head.getLong(0) == 3L)
    // INSERT returns rows INSERTED; a self-referential insert reads the
    // pre-insert snapshot (DuckDB semantics)
    val ins = e.query("**/*.md", "INSERT INTO st1 SELECT path, title FROM st1")
    assert(ins.columns == Seq("Count") &&
      ins.results.collect().head.getLong(0) == 3L)
    assert(e.query("**/*.md", "SELECT COUNT(*) AS n FROM st1")
      .results.collect().head.getLong(0) == 6L)
    // plain CREATE on an existing name is rejected; OR REPLACE swaps
    intercept[IllegalArgumentException](
      e.query("**/*.md", "CREATE TABLE st1 AS SELECT 1 AS x"))
    val rep = e.query("**/*.md",
      "CREATE OR REPLACE TABLE st1 AS SELECT path FROM files; SELECT COUNT(*) AS n FROM st1")
    assert(rep.results.collect().head.getLong(0) == 3L)
    // the table is a SNAPSHOT: it joins like any relation in later SQL
    val j = e.query("**/*.md",
      "SELECT COUNT(*) AS n FROM files f SEMI JOIN st1 s ON f.path = s.path")
    assert(j.results.collect().head.getLong(0) == 3L)
    // DROP returns DuckDB's zero-row Success; the name is gone after
    val d = e.query("**/*.md", "DROP TABLE st1")
    assert(d.columns == Seq("Success") && d.results.count() == 0L)
    intercept[Exception](
      e.query("**/*.md", "SELECT COUNT(*) AS n FROM st1").results.collect())
    intercept[IllegalArgumentException](e.query("**/*.md", "DROP TABLE st1"))
    e.query("**/*.md", "DROP TABLE IF EXISTS st1") // no-op, no error
    // the files view cannot be shadowed
    intercept[IllegalArgumentException](
      e.query("**/*.md", "CREATE TABLE files AS SELECT 1 AS x"))
  }

  test("MAP literals and map/struct functions (modern scalar lookups)") {
    val e = eng(corpus(threeDocs: _*))
    val r = e.query("**/*.md",
      """SELECT path,
        |  MAP {'t': title}['t'] AS t1,
        |  map_extract(MAP {'t': title}, 'zz') AS missing,
        |  cardinality(MAP {'a': 1, 'b': 2}) AS n,
        |  struct_extract({'u': title, 'v': path}, 'u') AS u,
        |  array_to_string(map_keys(MAP {'a': 1, 'b': 2}), ',') AS ks
        |FROM files ORDER BY path""".stripMargin)
    val rows = r.results.collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("Alpha", "Beta", "Gamma"))
    assert(rows.forall(_.isNullAt(2)), "missing key must be NULL (modern DuckDB)")
    assert(rows.head.getInt(3) == 2)
    assert(rows.map(_.getString(4)).toSeq == Seq("Alpha", "Beta", "Gamma"))
    assert(rows.head.getString(5) == "a,b")
  }

  test("FROM-first, math operators, and SIMILAR TO work through the engine") {
    val e = eng(corpus(threeDocs: _*))
    val r = e.query("**/*.md", "FROM files WHERE title = 'Beta' SELECT path")
    assert(r.results.collect().map(_.getString(0)).toSeq == Seq("b.md"))
    val r2 = e.query("**/*.md",
      "SELECT TRY_CAST(extra AS BIGINT) // 5 AS d, 2 ** 3 AS p FROM files WHERE extra IS NOT NULL")
    val row = r2.results.collect().head
    assert(row.getLong(0) == 8L && row.getDouble(1) == 8.0)
    // raw-literal mode: '\d' reaches the regex engine as backslash-d
    val r3 = e.query("**/*.md",
      "SELECT path FROM files WHERE path SIMILAR TO '[a-z]\\.md' ORDER BY path")
    assert(r3.results.collect().map(_.getString(0)).toSeq == Seq("a.md", "b.md"))
  }

  test("bad SQL propagates as an analysis error (query.py passthrough parity)") {
    val e = eng(corpus(threeDocs: _*))
    intercept[org.apache.spark.sql.AnalysisException](
      e.query("**/*.md", "SELECT nope_column FROM files").results.collect())
    intercept[Exception](
      e.query("**/*.md", "SELEC syntax error").results.collect())
  }

  test("concurrent queries against one engine are consistent") {
    val e = eng(corpus(threeDocs: _*))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 8).map { _ =>
      Future(e.query("**/*.md", "SELECT COUNT(*) AS n FROM files")
        .results.collect()(0).getLong(0))
    }
    assert(Await.result(Future.sequence(futures), 120.seconds).forall(_ == 3L))
  }

  test("session tables shadow and un-shadow same-named parent views") {
    val e = eng(corpus(threeDocs: _*))
    spark.range(5).selectExpr("CAST(id AS STRING) AS path")
      .createOrReplaceTempView("shad")
    try {
      // the parent view resolves through the engine (mirrored)
      assert(e.query("**/*.md", "SELECT COUNT(*) AS n FROM shad")
        .results.collect()(0).getLong(0) == 5L)
      // a session table with the same name shadows it (DuckDB resolves
      // its own tables first)
      e.query("**/*.md", "CREATE TABLE shad AS SELECT path FROM files")
      assert(e.query("**/*.md", "SELECT COUNT(*) AS n FROM shad")
        .results.collect()(0).getLong(0) == 3L)
      // SHOW TABLES lists the session table
      assert(e.query("**/*.md", "SHOW TABLES").results.collect()
        .map(_.getString(0)).contains("shad"))
      // DROP TABLE un-shadows: the parent view resolves again
      e.query("**/*.md", "DROP TABLE shad")
      assert(e.query("**/*.md", "SELECT COUNT(*) AS n FROM shad")
        .results.collect()(0).getLong(0) == 5L)
      // dropping the parent view while a same-named table exists keeps
      // the table resolvable
      e.query("**/*.md", "CREATE TABLE shad AS SELECT path FROM files")
      spark.catalog.dropTempView("shad")
      assert(e.query("**/*.md", "SELECT COUNT(*) AS n FROM shad")
        .results.collect()(0).getLong(0) == 3L)
      e.query("**/*.md", "DROP TABLE shad")
    } finally spark.catalog.dropTempView("shad")
  }

  test("engine construction leaves the user session's builtins untouched") {
    // a FRESH session (other suites may have installed overrides on the
    // shared one): constructing an engine on it must not change what
    // plain Spark SQL means there
    val s2 = spark.newSession()
    val e2 = new QueryEngine(
      s2, Settings(corpus(threeDocs: _*).toString, enableSemantic = false, "", None))
    // Spark's regexp_replace (replace ALL) on the USER session
    assert(s2.sql("SELECT regexp_replace('a1b2', '[0-9]', 'N') AS r")
      .head().getString(0) == "aNbN")
    // DuckDB's (first match only) on the engine's dialect surface
    assert(e2.query("**/*.md",
      "SELECT regexp_replace('a1b2', '[0-9]', 'N') AS r FROM files LIMIT 1")
      .results.head().getString(0) == "aNb2")
  }

  test("concurrent DDL and queries don't corrupt engine state") {
    val e = eng(corpus(threeDocs: _*))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // interleave session-table DDL scripts, plain reads, and
    // rewrite-heavy reads on ONE engine; every path reports 3 rows
    val futures = (1 to 12).map { i =>
      Future {
        (i % 3) match {
          case 0 => e.query("**/*.md",
            s"CREATE OR REPLACE TABLE ct$i AS SELECT path FROM files; " +
              s"SELECT COUNT(*) AS n FROM ct$i").results.collect()(0).getLong(0)
          case 1 => e.query("**/*.md",
            "SELECT COUNT(*) AS n FROM files").results.collect()(0).getLong(0)
          case _ => e.query("**/*.md",
            """SELECT COUNT(*) AS n FROM (
              |  SELECT path FROM files
              |  QUALIFY row_number() OVER (ORDER BY path) <= 3
              |) q""".stripMargin).results.collect()(0).getLong(0)
        }
      }
    }
    assert(Await.result(Future.sequence(futures), 120.seconds).forall(_ == 3L))
  }

  test("path sandbox rejects escapes (server.py:60-84)") {
    val dir = corpus("a.md" -> "x")
    intercept[IllegalArgumentException](FileScan.resolve(dir, "../escape.md"))
    intercept[java.io.FileNotFoundException](FileScan.resolve(dir, "missing.md"))
  }

  test("SHOW TABLES lists the files view; SHOW files describes it") {
    val e = eng(corpus(threeDocs: _*))
    // contains, not equals: a DuckDB connection lists EVERY registered
    // table, so views other suites registered on the shared session
    // legitimately appear alongside `files` (view mirroring, advice r9)
    val t = e.query("**/*.md", "SHOW TABLES").results.collect()
    assert(t.map(_.getString(0)).toSeq.contains("files"))
    val d = e.query("**/*.md", "SHOW files")
    assert(d.columns.take(2) == Seq("column_name", "column_type"))
    assert(d.results.collect().map(_.getString(0)).toSet.contains("title"))
  }

  test("COPY (query) TO parquet writes ONE file and returns the Count row") {
    val dir = corpus(threeDocs: _*)
    val e = eng(dir)
    val r = e.query("**/*.md",
      "COPY (SELECT path, title FROM files WHERE date >= '2025-11-26') " +
        "TO 'out/export.parquet'")
    assert(r.columns == Seq("Count"))
    assert(r.results.collect()(0).getLong(0) == 2L)
    val f = dir.resolve("out/export.parquet")
    assert(Files.isRegularFile(f), "target must be a single FILE, not a dir")
    val back = spark.read.parquet(f.toString)
    assert(back.count() == 2 && back.columns.sorted.toSeq == Seq("path", "title"))
  }

  test("COPY table TO csv honors HEADER; format inferred from extension") {
    val dir = corpus(threeDocs: _*)
    val e = eng(dir)
    val r = e.query("**/*.md", "COPY files TO 'all.csv' (HEADER)")
    assert(r.results.collect()(0).getLong(0) == 3L)
    val lines = Files.readAllLines(dir.resolve("all.csv"))
    assert(lines.size == 4) // header + 3 rows
    assert(lines.get(0).split(",").toSet.contains("path"))
  }

  test("COPY TO csv writes a header by default, like DuckDB (advice r9)") {
    val dir = corpus(threeDocs: _*)
    val e = eng(dir)
    // no options at all: DuckDB v1.0 writes a header line by default
    e.query("**/*.md", "COPY (SELECT path FROM files) TO 'plain.csv'")
    val plain = Files.readAllLines(dir.resolve("plain.csv"))
    assert(plain.size == 4 && plain.get(0) == "path")
    // DuckDB's numeric/quoted spellings are accepted: HEADER 0 disables,
    // FORMAT 'csv' (quoted) selects the format
    e.query("**/*.md",
      "COPY (SELECT path FROM files) TO 'bare.out' (FORMAT 'csv', HEADER 0)")
    val bare = Files.readAllLines(dir.resolve("bare.out"))
    assert(bare.size == 3 && !bare.contains("path"))
    e.query("**/*.md",
      "COPY (SELECT path FROM files) TO 'on.csv' (HEADER 1)")
    assert(Files.readAllLines(dir.resolve("on.csv")).get(0) == "path")
  }

  test("a macro-only script succeeds with an empty result (DuckDB DDL)") {
    val e = eng(corpus(threeDocs: _*))
    val r = e.query("**/*.md", "CREATE MACRO twice(x) AS x * 2")
    assert(r.columns == Seq("Count") && r.results.collect().isEmpty)
    // the macro really registered: usable in the next query
    val r2 = e.query("**/*.md", "SELECT twice(21) AS v FROM files LIMIT 1")
    assert(r2.results.collect().head.getInt(0) == 42)
  }

  test("COPY TO is sandboxed and COPY FROM fails loudly") {
    val dir = corpus(threeDocs: _*)
    val e = eng(dir)
    intercept[IllegalArgumentException](
      e.query("**/*.md", "COPY files TO '../escape.parquet'"))
    // COPY ... FROM is not COPY TO — it falls through to the Spark
    // parser and fails loudly rather than silently doing nothing
    intercept[Exception](
      e.query("**/*.md", "COPY files FROM 'x.csv'"))
    // an option this engine cannot honor fails loudly instead of
    // writing a file DuckDB would not have written (review r9)
    intercept[IllegalArgumentException](
      e.query("**/*.md", "COPY files TO 'x.csv' (DELIMITER ';')"))
  }

  test("SEMI and ANTI joins run natively: bare, LEFT-prefixed, chained") {
    val e = eng(corpus(
      "a.md" -> "---\ngrp: x\nsemicolon: s1\nanti_x: t1\n---\n",
      "b.md" -> "---\ngrp: y\nsemicolon: s2\nanti_x: t2\n---\n",
      "c.md" -> "---\ngrp: x\n---\n"))
    def col(sql: String): Seq[String] =
      e.query("**/*.md", sql).results.collect().map(_.getString(0)).toSeq
    val xs = "(SELECT path AS p FROM files WHERE grp = 'x') g"
    for (prefix <- Seq("", "LEFT ")) {
      assert(col(s"SELECT f.path FROM files f ${prefix}SEMI JOIN $xs ON f.path = g.p " +
        "ORDER BY f.path") == Seq("a.md", "c.md"))
      assert(col(s"SELECT f.path FROM files f ${prefix}ANTI JOIN $xs ON f.path = g.p " +
        "ORDER BY f.path") == Seq("b.md"))
    }
    assert(col("SELECT path FROM files AS f SEMI JOIN " +
      "(SELECT path FROM files WHERE grp = 'y') g USING (path)") == Seq("b.md"))
    // chained SEMI then ANTI
    assert(col(s"SELECT f.path FROM files f SEMI JOIN $xs ON f.path = g.p " +
      "ANTI JOIN (SELECT path AS q FROM files WHERE semicolon IS NULL) h " +
      "ON f.path = h.q ORDER BY f.path") == Seq("a.md"))
    // identifiers that contain the keywords are plain columns
    assert(col("SELECT f.semicolon, f.anti_x FROM files f JOIN files g ON f.path = g.path " +
      "WHERE f.semicolon IS NOT NULL ORDER BY f.semicolon") == Seq("s1", "s2"))
    // RIGHT SEMI has no Spark spelling: it fails at parse, never flips sides
    intercept[Exception](col(s"SELECT g.p FROM files f RIGHT SEMI JOIN $xs ON f.path = g.p"))
  }

  test("double-quoted identifiers name columns, as in DuckDB") {
    val e = eng(corpus(threeDocs: _*))
    def col(sql: String): Seq[String] =
      e.query("**/*.md", sql).results.collect().map(r => String.valueOf(r.get(0))).toSeq
    assert(col("""SELECT "title" FROM files ORDER BY "path"""") == Seq("Alpha", "Beta", "Gamma"))
    assert(col("""SELECT f."title" FROM files f WHERE "title" = 'Beta'""") == Seq("Beta"))
    assert(e.query("**/*.md", """SELECT title AS "T", path AS "q""d" FROM files""").columns ==
      Seq("T", "q\"d"))
    // keyword-named aliases and aliases holding quote or comment
    // characters neither trip nor hide the QUALIFY rewrite
    assert(col("""SELECT title AS "qualify" FROM files ORDER BY 1""") ==
      Seq("Alpha", "Beta", "Gamma"))
    for (alias <- Seq("\"it's\"", "\"a--b\"", "\"x/*y\""))
      assert(col(s"SELECT title AS $alias FROM files " +
        "QUALIFY row_number() OVER (ORDER BY title DESC) = 1") == Seq("Gamma"))
    // double quotes inside string literals stay data
    assert(col("""SELECT '["a"]' AS j FROM files LIMIT 1""") == Seq("[\"a\"]"))
  }

  test("select-list UNNEST: one row per element, none for empty or NULL lists") {
    val e = eng(corpus(
      "a.md" -> "---\ntags:\n- x\n- y\n---\n",
      "b.md" -> "---\ntags: []\n---\n",
      "c.md" -> "---\ntitle: none\n---\n"))
    val rows = e.query("**/*.md", "SELECT path, UNNEST(from_json(tags, '[\"VARCHAR\"]')) AS tag " +
      "FROM files ORDER BY path, tag").results.collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("a.md", "x"), ("a.md", "y")))
    // DuckDB zips two select-list UNNESTs; Spark would cross-multiply
    val err = intercept[IllegalArgumentException](e.query("**/*.md",
      "SELECT UNNEST(from_json(tags, '[\"VARCHAR\"]')) AS t1, " +
        "UNNEST(from_json(tags, '[\"VARCHAR\"]')) AS t2 FROM files"))
    assert(err.getMessage.contains("UNNEST"))
  }
}
