package graft.fm

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Pluggable semantic extension surface (implemented in `graft.semantic`):
  * reference `semantic/context.py` gates on indexer readiness
  * (`context.py:20-23`), and when ready the `files` table gains an
  * `embedding` column via a path join (`semantic/query.py:11-65`).
  */
trait SemanticProvider {
  def isReady: Boolean
  def dim: Int
  /** Left-join the embedding column onto `files` by `path`. */
  def withEmbedding(files: DataFrame): DataFrame
  /** Register `embed(text)` and the cosine functions on the session. */
  def registerFunctions(spark: SparkSession): Unit
}

final case class QueryResult(
    results: DataFrame,
    columns: Seq[String],
    warnings: Seq[ParseWarning]) {

  /** Reference tool response shape (`server.py:160-169`, `query.py:74-83`):
    * `{results, row_count, columns}` (+ warnings). Collects — use for
    * API-sized results, not bulk extracts.
    */
  def response(): Map[String, Any] = {
    // Each row lists its keys in column order, like the reference's
    // `dict(zip(columns, row))`: a duplicated name keeps its first
    // position and takes its last value.
    val rows = results.collect().map { r =>
      columns.indices.foldLeft(VectorMap.empty[String, Any])((m, i) => m.updated(columns(i), r.get(i)))
    }.toSeq
    val base = Map(
      "results" -> rows,
      "row_count" -> rows.length,
      "columns" -> columns)
    if (warnings.nonEmpty) base + ("warnings" -> warnings) else base
  }
}

/** The product's main read API (reference `server.py:121-169`):
  * `query(glob, sql)` = glob scan → per-file parse cache → union-of-keys
  * all-strings `files` view (+ semantic embedding join when ready) →
  * dialect-translated Spark SQL.
  *
  * Serving holds per-file metadata on the driver, as the reference does:
  * one record cache, relPath → (mtime, parsed record), shared by every
  * glob, re-reads only new files and files whose mtime moved (reference
  * `files.py:19-49`). Each glob's `files` frame is built from the cached
  * records, keyed by a fingerprint of its (path, mtime) pairs; an
  * unchanged corpus reuses the frame across queries. Up to
  * [[Corpus.LocalRows]] files the frame is a driver-local relation and
  * nothing is persisted; above it the distributed frame is persisted.
  * A frame joined with semantic search's embeddings is distributed and
  * persisted at any size.
  */
final class QueryEngine(
    val spark: SparkSession,
    val settings: Settings,
    val semantic: Option[SemanticProvider] = None) {

  Dialect.register(spark)
  semantic.foreach(_.registerFunctions(spark))

  /** The dialect surface runs on a PRIVATE session clone: same
    * SparkContext, shared cache manager (persisted corpus frames still
    * hit), but its own parser conf and temp-view catalog. The
    * raw-literal parser flag (DuckDB keeps backslashes in '\.md') and
    * the double-quoted-identifier flag (DuckDB reads `"title"` as a
    * column, not a string) are set once here and never touch the
    * user's session, and the `files` view name can't collide with
    * other engine instances or other threads using the shared session
    * (advice r9).
    */
  private val sqlSession: SparkSession = {
    val s = spark.newSession()
    // newSession() re-derives SQLConf from the context conf; copy the
    // two runtime settings results must agree on.
    for (k <- Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone"))
      spark.conf.getOption(k).foreach(s.conf.set(k, _))
    s.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    s.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    Dialect.register(s)
    // Builtin-name overrides (regexp_replace, element_at) install ONLY
    // here: the user's session keeps Spark's own semantics (review r10
    // finding — an engine construction must not silently change what
    // plain Spark SQL means elsewhere in the application).
    Dialect.registerOverrides(s)
    semantic.foreach(_.registerFunctions(s))
    s
  }

  /** Instance-unique global-temp-view name bridging the corpus frame
    * (built on the user's session) into [[sqlSession]]'s catalog.
    */
  private val bridgeView: String =
    "graft_files_" + java.util.UUID.randomUUID().toString.replace("-", "")

  private case class Cached(
      fingerprint: String,
      records: Seq[ParsedFile],
      files: DataFrame,
      warnings: Seq[ParseWarning],
      semanticApplied: Boolean)

  private val cache = TrieMap.empty[String, Cached]

  /** relPath → (mtime, record), shared by every glob; guarded by the
    * engine lock.
    */
  private val records = mutable.HashMap.empty[String, (Long, ParsedFile)]

  /** Paths the record cache holds (cache tests). */
  private[fm] def cachedPaths: Set[String] = synchronized(records.keySet.toSet)

  private def semanticReady: Boolean = semantic.exists(_.isReady)

  /** The `files` DataFrame for a glob, fingerprint-cached. */
  def filesTable(glob: String): (DataFrame, Seq[ParseWarning]) = {
    val entry = cachedParse(glob)
    (entry.files, entry.warnings)
  }

  private def cachedParse(glob: String): Cached = synchronized {
    val pm = FileScan.collectWithMtime(settings.baseDir, glob)
    val fp = Corpus.fingerprint(pm)
    val wantSemantic = semanticReady
    cache.get(glob) match {
      case Some(c) if c.fingerprint == fp && c.semanticApplied == wantSemantic => c
      case prev =>
        // A readiness flip alone (same fingerprint) rebuilds the frame
        // from the cached records: no re-read.
        val recs = prev.filter(_.fingerprint == fp).map(_.records)
          .getOrElse(refresh(glob, pm))
        prev.foreach(_.files.unpersist())
        // A frame to be joined with the embeddings keeps the distributed,
        // persisted layout at any size. Served as a local relation instead,
        // vault_large's 500-file sub-tree glob cost more CPU per request
        // (median 294 -> 379 ms over 10 paired perfbench runs on 4 cores)
        // for 19 MiB less heap.
        val (base, warnings) = Corpus.build(spark, recs, allowLocal = !wantSemantic)
        val files =
          if (Corpus.isLocal(base)) base
          else (if (wantSemantic) semantic.get.withEmbedding(base) else base).persist()
        val entry = Cached(fp, recs, files, warnings, wantSemantic)
        cache.put(glob, entry)
        entry
    }
  }

  /** Records for the listing `pm` of `glob`: re-reads only files that are
    * new or whose mtime moved, then drops entries no cached glob lists.
    */
  private def refresh(glob: String, pm: Seq[(String, Long)]): Seq[ParsedFile] = {
    val stale = pm.filterNot { case (p, m) => records.get(p).exists(_._1 == m) }
    stale.zip(Corpus.parseFiles(settings.baseDir, stale.map(_._1)))
      .foreach { case ((p, m), r) => records(p) = (m, r) }
    val recs = pm.map { case (p, _) => records(p)._2 }
    val listed = mutable.HashSet.empty[String]
    pm.foreach(listed += _._1)
    for ((g, c) <- cache if g != glob; r <- c.records) listed += r.path
    records.filterInPlace((p, _) => listed(p))
    recs
  }

  /** `query` tool: run DuckDB-dialect SQL against the `files` view.
    * The view registration and SQL ANALYSIS run under the engine lock —
    * `spark.sql` resolves the session-global `files` name during analysis,
    * so once the DataFrame is returned, a concurrent query replacing the
    * view cannot redirect this plan; execution happens lock-free.
    */
  /** Session-scoped DuckDB macros (`CREATE MACRO`), name-keyed
    * case-insensitively like DuckDB's catalog. Expansion is textual
    * (Dialect.expandMacros) — the exact semantics DuckDB documents.
    */
  private val macros = TrieMap.empty[String, Dialect.Macro]

  def query(glob: String, sql: String): QueryResult = {
    val entry = cachedParse(glob)
    val (files, warnings) = (entry.files, entry.warnings)
    val fp = entry.fingerprint
    // Multi-statement scripts: every statement but the last must be a
    // CREATE MACRO (recorded, connection-scoped like DuckDB's); the last
    // statement is the query whose result is returned.
    val stmts = Dialect.splitStatements(sql)
    // Classification runs as a parse-only pass over the WHOLE script
    // before any side effect executes: DuckDB parses a multi-statement
    // script up front, so a script rejected for an invalid middle
    // statement must not have already registered the earlier statements'
    // macros/tables (advice r10).
    stmts.dropRight(1).foreach { st =>
      if (!isSideStatement(st))
        throw new IllegalArgumentException(
          "only CREATE MACRO / CREATE TABLE AS / INSERT INTO / DROP TABLE " +
            "statements may precede the final query: " + st.trim)
    }
    stmts.dropRight(1).foreach(st => sideStatement(files, fp, st))
    val lastRaw = stmts.lastOption.getOrElse(sql)
    // A script ENDING in DDL is a success in DuckDB; return its result
    // shape (macro: zero rows; CTAS/INSERT: one-row Count; DROP:
    // zero-row Success) rather than erroring after mutating state.
    sideStatement(files, fp, lastRaw).foreach { df =>
      return QueryResult(df, df.columns.toSeq, warnings)
    }
    val expanded = Dialect.expandMacros(
      lastRaw, macros.readOnlySnapshot().toMap)
    // COPY ... TO: materialize the source query through the same rewrite
    // pipeline, export ONE file at the (sandboxed) path like DuckDB, and
    // return DuckDB's single-row Count result.
    Dialect.parseCopyTo(expanded) match {
      case Some(c) =>
        val df = runRewritten(files, c.sourceSql, fp)
        val n = CopyOut.writeSingleFile(df, settings.baseDir, c)
        import spark.implicits._
        QueryResult(Seq(n).toDF("Count"), Seq("Count"), warnings)
      case None =>
        val out = runRewritten(files, expanded, fp)
        QueryResult(out, out.columns.toSeq, warnings)
    }
  }

  /** Session-scoped tables (DuckDB connection model: CREATE TABLE AS /
    * INSERT INTO / DROP TABLE in user scripts, reference passthrough
    * `query.py:72`). Each entry is an eagerly CHECKPOINTED snapshot
    * (see [[materialize]]) — DuckDB's CTAS copies data, so a later
    * corpus change must not leak into an existing table — plus its row
    * count (INSERT's Count result is rows inserted, not the new total).
    * Guarded by [[rewriteLock]].
    */
  private val sessionTables =
    TrieMap.empty[String, (DataFrame, Long)]
  private var tablesVersion = 0L
  private var registeredTables: Set[String] = Set.empty
  private var registeredTablesVersion = -1L

  /** Parse-only classification of [[sideStatement]]'s surface — no
    * side effects, used to validate a whole script before executing any
    * of it.
    */
  private def isSideStatement(st: String): Boolean =
    Dialect.parseCreateMacro(st).isDefined ||
      Dialect.parseCreateTableAs(st).isDefined ||
      Dialect.parseInsertInto(st).isDefined ||
      Dialect.parseDropTable(st).isDefined

  /** Materialize a session-table snapshot. An EAGER localCheckpoint, not
    * persist(): DuckDB's CTAS copies data, and a merely-persisted frame
    * is only cache-durable — evicted blocks recompute through lineage
    * back to the corpus source files, silently leaking a LATER corpus
    * state into an existing table (advice r10). The checkpoint job runs
    * OUTSIDE rewriteLock (callers must not hold it): it is a full Spark
    * job, and holding the lock for it would stall every concurrent
    * query's rewrite/analysis on this engine.
    */
  private def materialize(src: DataFrame): (DataFrame, Long) = {
    val snap = src.localCheckpoint(true)
    (snap, snap.count())
  }

  /** Best-effort release of a replaced/dropped snapshot. The checkpoint
    * blocks belong to the snapshot's internal RDD; once the frame is
    * unreferenced the ContextCleaner frees them on GC — unpersist()
    * handles the CacheManager side for pre-checkpoint-era frames.
    */
  private def releaseTable(df: DataFrame): Unit = df.unpersist()

  /** Execute a macro / table-DDL statement against the engine session;
    * None when `st` is not DDL (the caller then treats it as a query).
    * The returned frame is the statement's DuckDB-verified result shape.
    */
  private def sideStatement(
      files: DataFrame, fp: String, st: String): Option[DataFrame] = {
    import spark.implicits._
    Dialect.parseCreateMacro(st).map { m =>
      macros.put(m.name.toLowerCase, m)
      Seq.empty[Long].toDF("Count")
    }.orElse(Dialect.parseCreateTableAs(st).map { c =>
      val lc = c.name.toLowerCase
      require(lc != "files", "cannot shadow the files view with a session table")
      // Fail fast before doing any work; re-checked under the lock at
      // swap time (the materialize job runs lock-free).
      if (!c.orReplace && sessionTables.contains(lc))
        throw new IllegalArgumentException(s"table ${c.name} already exists")
      val src = runRewritten(files,
        Dialect.expandMacros(c.sourceSql, macros.readOnlySnapshot().toMap), fp)
      val (snap, n) = materialize(src)
      rewriteLock.synchronized {
        if (!c.orReplace && sessionTables.contains(lc)) {
          releaseTable(snap)
          throw new IllegalArgumentException(s"table ${c.name} already exists")
        }
        sessionTables.put(lc, (snap, n)).foreach(t => releaseTable(t._1))
        tablesVersion += 1
      }
      Seq(n).toDF("Count")
    }).orElse(Dialect.parseInsertInto(st).map { ins =>
      val lc = ins.name.toLowerCase
      val src = runRewritten(files,
        Dialect.expandMacros(ins.sourceSql, macros.readOnlySnapshot().toMap), fp)
      // Snapshot the current table, materialize the union OUTSIDE the
      // lock, then swap only if the table is still that same snapshot;
      // losing a race to a concurrent INSERT/CTAS on the same name
      // retries against the new snapshot (bounded by contention).
      var inserted = -1L
      while (inserted < 0) {
        val (old, oldN) = rewriteLock.synchronized {
          sessionTables.getOrElse(lc,
            throw new IllegalArgumentException(s"table ${ins.name} does not exist"))
        }
        require(src.columns.length == old.columns.length,
          s"INSERT INTO ${ins.name}: ${src.columns.length} columns, " +
            s"table has ${old.columns.length}")
        val (snap, n) = materialize(old.union(src))
        rewriteLock.synchronized {
          sessionTables.get(lc) match {
            case Some((cur, _)) if cur eq old =>
              sessionTables.put(lc, (snap, n))
              releaseTable(old)
              tablesVersion += 1
              inserted = n - oldN
            case Some(_) => releaseTable(snap) // raced; retry on the new snapshot
            case None =>
              releaseTable(snap)
              throw new IllegalArgumentException(s"table ${ins.name} does not exist")
          }
        }
      }
      Seq(inserted).toDF("Count")
    }).orElse(Dialect.parseDropTable(st).map { case (name, ifExists) =>
      rewriteLock.synchronized {
        val lc = name.toLowerCase
        sessionTables.remove(lc) match {
          case Some((df, _)) =>
            df.unpersist()
            tablesVersion += 1
            // drop the table's view NOW and reset the mirror bookkeeping
            // for a same-named parent view: the identity check would
            // otherwise see "unchanged" and never re-mirror, leaving the
            // still-existing parent view unresolvable (review r10).
            sqlSession.catalog.dropTempView(lc)
            registeredTables -= lc
            mirrored -= lc
            mirroredPlans -= lc
          case None => if (!ifExists)
            throw new IllegalArgumentException(s"table $name does not exist")
        }
        Seq.empty[String].toDF("Success")
      }
    })
  }

  /** The locked dialect-rewrite + analysis pipeline shared by the query
    * and COPY paths (see the locking note on [[query]]). Runs entirely
    * on [[sqlSession]], so the lock is per-INSTANCE: it only serializes
    * this engine's own `files` view replacement against its own
    * in-flight analysis — other engine instances and other users of the
    * shared session are unaffected by construction.
    */
  private val rewriteLock = new Object

  /** Parent temp views currently mirrored into [[sqlSession]] (guarded
    * by [[rewriteLock]]) — tracked so views DROPPED on the parent
    * disappear from the clone too instead of resolving stale.
    */
  private var mirrored: Set[String] = Set.empty

  /** Last-mirrored parent view plan objects (guarded by
    * [[rewriteLock]]) — identity-compared to skip re-mirroring
    * unchanged views.
    */
  private var mirroredPlans: Map[String, AnyRef] = Map.empty

  /** The corpus frame currently bridged as the clone's `files` view —
    * re-registering an UNCHANGED frame every query costs two catalog
    * round-trips and a plan re-analysis; the reference (like any DuckDB
    * connection) registers the table once per corpus change, not once
    * per query.
    */
  private var bridgedFiles: DataFrame = null

  /** PIVOT value-discovery results, keyed by (corpus fingerprint,
    * table, ON-expression). DuckDB's hidden DISTINCT pass runs per
    * statement; over an UNCHANGED corpus the values cannot differ, so
    * repeated pivots skip the extra job (entries for stale fingerprints
    * are pruned on corpus change — the map never outgrows one corpus).
    */
  private val pivotValues = TrieMap.empty[(String, String, String), Seq[String]]

  /** File-reading table functions (read_parquet/read_csv/read_json/glob):
    * each distinct call registers a temp view on [[sqlSession]] backed by
    * the matching `spark.read`, memoized by the call's canonical form and
    * re-registered only when the matched files' (path, mtime, size)
    * listing changes — DuckDB re-reads files per query; the fingerprint
    * gives the same freshness without re-inferring schemas for unchanged
    * data (the A4 mtime-cache discipline). Runs OUTSIDE [[rewriteLock]]:
    * CSV/JSON schema inference is a Spark job, and holding the rewrite
    * lock for it would stall every concurrent query (the CTAS advice-r10
    * lesson); the dedicated monitor below only serializes registrations.
    */
  private val tableFnViews = TrieMap.empty[String, (String, String)]
  private val tableFnCounter = new java.util.concurrent.atomic.AtomicInteger

  private def resolveTableFn(call: TableFunctions.Call): String =
    tableFnViews.synchronized {
      val matches = TableFunctions.expandAll(settings.baseDir, call)
      val fp = TableFunctions.fingerprint(matches)
      val key = call.canonical
      tableFnViews.get(key) match {
        case Some((f, v)) if f == fp => v
        case prev =>
          val df = TableFunctions.frame(sqlSession, settings.baseDir, call, matches)
          val name = prev.map(_._2).getOrElse(
            "graft_tf_" + tableFnCounter.incrementAndGet())
          df.createOrReplaceTempView(name)
          tableFnViews.put(key, (fp, name))
          name
      }
    }

  private def runRewritten(files: DataFrame, expanded: String, fingerprint: String): DataFrame = {
    val tfed = TableFunctions.rewrite(expanded, resolveTableFn)
    runRewrittenLocked(files, tfed, fingerprint)
  }

  private def runRewrittenLocked(files: DataFrame, expanded: String, fingerprint: String): DataFrame = {
    val unioned = rewriteLock.synchronized {
      // Bridge the corpus frame (a Dataset of the user's session) into
      // the clone's catalog: global temp views are SharedState-scoped,
      // so the clone sees it; the instance-unique name prevents
      // cross-engine collisions. The local `files` alias captures the
      // bridged plan at creation, so a later replacement cannot
      // redirect an already-returned DataFrame. An unchanged frame
      // (same cachedParse entry) is already bridged — skip the
      // re-registration.
      if (!(files eq bridgedFiles)) {
        files.createOrReplaceGlobalTempView(bridgeView)
        sqlSession.sql(
          s"CREATE OR REPLACE TEMPORARY VIEW files AS " +
            s"SELECT * FROM global_temp.$bridgeView")
        bridgedFiles = files
      }
      // A DuckDB connection sees every table registered on it, so user
      // SQL may reference temp views the caller created on the PARENT
      // session (q_fm_asof does). Mirror them through the same
      // global-temp bridge; drop mirrors whose parent view is gone.
      // Enumerated through the session catalog directly — the public
      // spark.catalog.listTables() materializes a Dataset of metadata
      // (a driver job) per query.
      val parentViews = spark.sessionState.catalog.listLocalTempViews("*")
        .map(_.table).filter(_ != "files").toSet
      for (v <- mirrored diff parentViews) {
        // a session table with this name owns the clone's temp view —
        // cleaning up the dropped PARENT view must not take the table's
        // registration with it (review r10)
        if (!sessionTables.contains(v)) sqlSession.catalog.dropTempView(v)
        spark.catalog.dropGlobalTempView(s"${bridgeView}_$v")
      }
      var remirrored = Set.empty[String]
      for (v <- parentViews) {
        // Re-mirror only when the parent view's definition actually
        // changed (createOrReplaceTempView swaps the stored plan
        // object): an unchanged view re-mirrored on EVERY query costs
        // two catalog round-trips plus a plan analysis per view, paid
        // by every statement that runs after any parent view exists.
        val plan: AnyRef =
          spark.sessionState.catalog.getRawTempView(v).orNull
        if (!mirrored.contains(v) || !mirroredPlans.get(v).exists(_ eq plan)) {
          spark.table(v).createOrReplaceGlobalTempView(s"${bridgeView}_$v")
          // Drop-then-create, not OR REPLACE: the bridged plan carries a
          // View marker named `v` (the parent view), and REPLACE's cyclic-
          // view check would flag view `v` defined via View(`v`) as
          // recursive even though the marker wraps an already-analyzed
          // plan. A fresh CREATE has no existing view to cycle against.
          sqlSession.catalog.dropTempView(v)
          sqlSession.sql(s"CREATE TEMPORARY VIEW $v AS " +
            s"SELECT * FROM global_temp.${bridgeView}_$v")
          mirroredPlans += v -> plan
          remirrored += v
        }
      }
      mirrored = parentViews
      mirroredPlans = mirroredPlans.filter(kv => parentViews.contains(kv._1))
      // Session-scoped tables (CREATE TABLE AS): the stored frames were
      // built ON sqlSession, so plain temp views suffice. Registered
      // AFTER the mirrors so a session table shadows a same-named
      // parent view (DuckDB resolves its own tables first), and
      // re-registered only when DDL advanced the version or a mirror
      // just overwrote a table's view name.
      if (registeredTablesVersion != tablesVersion ||
        (registeredTables & remirrored).nonEmpty) {
        for (v <- registeredTables diff sessionTables.keySet.toSet)
          sqlSession.catalog.dropTempView(v)
        for ((n, (df, _)) <- sessionTables) {
          // Drop-then-create for the same cyclic-marker reason as the
          // mirrors (an INSERT's union plan references view `n` itself).
          sqlSession.catalog.dropTempView(n)
          df.createTempView(n)
        }
        registeredTables = sessionTables.keySet.toSet
        registeredTablesVersion = tablesVersion
      }
      // PIVOT value discovery runs first (it may query the just-registered
      // view for the DISTINCT pivot values — the same hidden pass DuckDB
      // makes, one bounded driver list); then COLUMNS('regex') expands
      // against the files view's resolved schema; the schema-free
      // rewrites then run on the result.
      // SUMMARIZE resolves against the files view's schema (names +
      // types), the same provider pattern as COLUMNS/PIVOT.
      // DESCRIBE resolves through a LIMIT-0 probe (analysis only) with
      // Spark types mapped to DuckDB spellings; the result splices in as
      // a VALUES relation so the statement and subquery forms both work.
      // SHOW TABLES lists the files view, parent-session views, AND
      // session-scoped tables — a DuckDB connection lists everything it
      // registered, including tables the script just created.
      val shown = Dialect.rewriteShow(expanded,
        "files" +: (parentViews ++ sessionTables.keySet).toSeq.distinct.sorted)
      val described = Dialect.rewriteDescribe(shown, frag => {
        val probe = sqlSession.sql(Dialect.rewrite(Dialect.rewriteColumns(
          s"SELECT * FROM (\n$frag\n) __graft_desc_probe LIMIT 0",
          files.columns.toSeq)))
        probe.schema.fields.toSeq
          .map(f => f.name -> Dialect.duckTypeName(f.dataType))
      })
      val summarized = Dialect.rewriteSummarize(described,
        files.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString))
      val pivoted = Dialect.rewritePivot(summarized, (tbl, c) => {
        def discover(): Seq[String] = {
          val rows = sqlSession.sql(
            s"SELECT DISTINCT CAST(($c) AS STRING) AS v FROM $tbl " +
              s"WHERE ($c) IS NOT NULL ORDER BY v LIMIT 1001").collect()
          require(rows.length <= 1000,
            s"PIVOT ON $c would create over 1000 columns — pin the values " +
              "with ON … IN (…) instead")
          rows.map(_.getString(0)).toSeq
        }
        // The hidden DISTINCT pass over an unchanged `files` corpus is
        // memoized by fingerprint; pivots over parent views always
        // re-discover (their contents aren't fingerprinted). Pruning
        // keeps every LIVE glob's fingerprint — keying the prune on the
        // current query's fingerprint alone would make two alternating
        // globs evict each other's entries (review r10).
        if (tbl.equalsIgnoreCase("files")) {
          val live = cache.values.map(_.fingerprint).toSet
          pivotValues.filterInPlace { case ((f, _, _), _) => live.contains(f) }
          pivotValues.getOrElseUpdate((fingerprint, "files", c), discover())
        } else discover()
      })
      // ASOF JOIN desugars against the session catalog's schemas (both
      // sides must be registered tables/views).
      val asofed = Dialect.rewriteAsof(pivoted, tbl =>
        sqlSession.table(tbl).schema.fields.toSeq
          .map(f => f.name -> f.dataType.simpleString))
      // UNION BY NAME aligns both sides' schemas; each side is probed
      // with a LIMIT-0 plan (analysis only, no execution) through the
      // full rewrite chain so dialect constructs inside the operands
      // resolve too.
      Dialect.rewriteUnionByName(asofed, probe =>
        sqlSession.sql(Dialect.rewrite(
          Dialect.rewriteColumns(probe, files.columns.toSeq))).columns.toSeq)
    }
    // The fixpoint / ordinal materializations below are FULL Spark jobs
    // (per-round distributed loops, zipWithIndex round-trips). They run
    // OUTSIDE rewriteLock — the same lesson as CTAS materialization and
    // table-function registration (advice r10/r11): holding the rewrite
    // lock for a long job stalls every concurrent query's rewrite and
    // analysis. fixpointLock serializes only these materializations, so
    // two identical concurrent queries still share one run.
    val positioned = fixpointLock.synchronized {
      pruneMaterializedViews(fingerprint)
      // UNION-distinct recursive CTEs (DuckDB's dedup-until-fixpoint
      // form; Spark only runs UNION ALL recursion natively) execute as a
      // driver-paced distributed loop and splice back as a view.
      val fixpointed = Dialect.rewriteRecursiveUnion(unioned,
        (preceding, name, cols, base, step) =>
          recursiveUnionView(files, fingerprint, preceding, name, cols, base, step))
      // POSITIONAL JOIN: ordinal alignment has no Spark operator, so
      // both sides materialize through a zipWithIndex full-outer join.
      Dialect.rewritePositionalJoin(fixpointed,
        (l, r) => positionalJoinView(files, fingerprint, l, r))
    }
    rewriteLock.synchronized {
      sqlSession.sql(
        Dialect.rewrite(Dialect.rewriteColumns(positioned, files.columns.toSeq)))
    }
  }

  private val fixpointLock = new Object
  private val positionalViews = TrieMap.empty[String, String]

  /** Evict memoized recursive/positional materializations whose key no
    * longer matches a LIVE corpus fingerprint (any cached glob's — two
    * alternating globs must not evict each other, the pivotValues
    * lesson) and the CURRENT session-table version. A superseded entry's
    * temp view is dropped; the checkpointed frame behind it becomes
    * unreferenced and the ContextCleaner reclaims its blocks — without
    * this, every corpus or DDL change stranded the previous fixpoints
    * for the engine's lifetime (advice r11).
    */
  private def pruneMaterializedViews(fingerprint: String): Unit = {
    val live = cache.values.map(_.fingerprint).toSet + fingerprint
    val prefixes = live.map(f => s"$f|$tablesVersion|")
    for (m <- Seq(recursiveViews, positionalViews);
         (k, v) <- m if !prefixes.exists(k.startsWith)) {
      m.remove(k)
      try sqlSession.catalog.dropTempView(v)
      catch { case _: Exception => () }
    }
  }

  /** Materialize `left POSITIONAL JOIN right`: each side runs through
    * the full rewrite pipeline, gains a partition-ordered ordinal
    * (zipWithIndex preserves the side plan's output order — ORDER BY'd
    * sides are globally deterministic), and the sides full-outer join
    * on the ordinal (DuckDB pads the shorter side with NULLs). The
    * ordinal column is dropped inside the view, so `SELECT *` sees
    * exactly the two sides' columns. Memoized like the recursive
    * fixpoint views: same (corpus, tables, sides) key → same view.
    */
  private def positionalJoinView(
      files: DataFrame, fingerprint: String, left: String, right: String): String = {
    val key = s"$fingerprint|$tablesVersion|$left|POS|$right"
    positionalViews.get(key) match {
      case Some(v) => v
      case None =>
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.LongType
        def exec(frag: String): DataFrame =
          sqlSession.sql(Dialect.rewrite(
            Dialect.rewriteColumns(frag, files.columns.toSeq)))
        def ordinal(df: DataFrame, col: String): DataFrame = {
          val schema = df.schema.add(col, LongType, nullable = false)
          val rdd = df.rdd.zipWithIndex.map { case (row, i) =>
            Row.fromSeq(row.toSeq :+ i)
          }
          sqlSession.createDataFrame(rdd, schema)
        }
        val l = ordinal(exec(left), "__graft_pos")
        val r = ordinal(exec(right), "__graft_pos")
        val joined = l.join(r, Seq("__graft_pos"), "full_outer")
          .sort("__graft_pos").drop("__graft_pos")
        val view = s"graft_pos_${recursiveCounter.incrementAndGet()}"
        joined.createOrReplaceTempView(view)
        positionalViews.put(key, view)
        view
    }
  }

  /** Memoized materializations of UNION-distinct recursive CTEs, keyed
    * by (corpus fingerprint, tables version, the member's full text) —
    * a repeated query (the bench runs everything twice) reuses its
    * fixpoint instead of re-iterating; any corpus or session-table
    * change changes the key. Values are view names whose backing frames
    * are checkpoint-materialized unions.
    */
  private val recursiveViews = TrieMap.empty[String, String]
  private val recursiveCounter = new java.util.concurrent.atomic.AtomicLong

  /** Execute one UNION-distinct recursive CTE to its fixpoint — the
    * standard semi-naive loop, each round fully distributed:
    *
    *   total ← distinct(base);  work ← total
    *   repeat: fresh ← distinct(step(work)) EXCEPT total   (set-null
    *           equality, both engines' UNION-dedup rule)
    *           total ← total ∪ fresh;  work ← fresh
    *   until fresh is empty
    *
    * The step binds the CTE's name to the CURRENT work view by CTE
    * shadowing (`WITH <name> AS (SELECT * FROM <workView>) <step>`) —
    * no identifier substitution inside user text. Every `fresh` is an
    * eager localCheckpoint: the round's shuffle lineage is cut, and
    * `total` stays a shallow union of checkpointed increments (the
    * PageRank/k-core discipline). Rounds are capped by Spark's own
    * spark.sql.cteRecursionLevelLimit (default 100), matching the native
    * UNION ALL executor's bound.
    */
  private def recursiveUnionView(
      files: DataFrame,
      fingerprint: String,
      preceding: String,
      name: String,
      cols: Option[Seq[String]],
      base: String,
      step: String): String = {
    val key = s"$fingerprint|$tablesVersion|$preceding|$name|${cols.getOrElse(Nil)}|$base|$step"
    recursiveViews.get(key) match {
      case Some(v) => v
      case None =>
        def exec(frag: String): DataFrame =
          sqlSession.sql(Dialect.rewrite(
            Dialect.rewriteColumns(frag, files.columns.toSeq)))
        // Eager checkpoint, REBUILT from the checkpointed RDD: a bare
        // localCheckpoint's LogicalRDD carries the source plan's
        // constraints, and when the same checkpoint instance lands twice
        // in one round's plan (the step reads the work view while the
        // EXCEPT side holds it inside `total`), relation dedup re-ids
        // one side and Union's constraint rewrite dies on the stale
        // attribute ("key not found: v#N"). createDataFrame starts from
        // data + schema only — nothing to go stale. The Row round-trip
        // costs one ser/deser over the FRONTIER, not the corpus.
        def checkpointClean(df: DataFrame): DataFrame = {
          val snap = df.localCheckpoint(true)
          sqlSession.createDataFrame(snap.rdd, snap.schema)
        }
        def withPreceding(frag: String, extra: String = ""): String = {
          val ctes = Seq(preceding, extra).filter(_.nonEmpty).mkString(", ")
          // RECURSIVE always: a preceding member may be a NATIVE
          // UNION ALL recursive CTE (Spark rejects its self-reference
          // without the keyword), and the keyword is harmless on a
          // plain list.
          if (ctes.isEmpty) frag else s"WITH RECURSIVE $ctes\n$frag"
        }
        val limit = sqlSession.conf
          .getOption("spark.sql.cteRecursionLevelLimit").map(_.toInt).getOrElse(100)
        val base0 = exec(withPreceding(base)).distinct()
        var total = checkpointClean(cols.fold(base0)(cs => base0.toDF(cs: _*)))
        val outCols = total.columns.toSeq
        val workView = s"graft_rec_work_${recursiveCounter.incrementAndGet()}"
        var work = total
        var rounds = 0
        var done = work.isEmpty
        while (!done) {
          rounds += 1
          require(rounds <= limit,
            s"recursive CTE $name exceeded $limit iterations " +
              "(spark.sql.cteRecursionLevelLimit)")
          work.createOrReplaceTempView(workView)
          val colList = cols.fold("")(cs => cs.mkString("(", ", ", ")"))
          val stepFrag = withPreceding(
            step, s"$name$colList AS (SELECT * FROM $workView)")
          val fresh = checkpointClean(
            exec(stepFrag).toDF(outCols: _*).distinct().except(total))
          if (fresh.isEmpty) done = true
          else {
            total = total.union(fresh)
            work = fresh
          }
        }
        sqlSession.catalog.dropTempView(workView)
        val view = s"graft_rec_${recursiveCounter.incrementAndGet()}"
        total.createOrReplaceTempView(view)
        recursiveViews.put(key, view)
        view
    }
  }

  /** `query_inspect` tool: file count and one schema row per property,
    * one fold over the glob's cached records. Appends the
    * `embedding FLOAT[dim]` row when semantic is ready (reference
    * `semantic/query_schema.py:7-18`).
    */
  def inspectRows(glob: String): (Long, Seq[Row], Seq[ParseWarning]) = {
    val entry = cachedParse(glob)
    val (fileCount, rows) = SchemaInfer.infer(entry.records)
    val embedding = semantic.filter(_.isReady).map(p =>
      Row("embedding", s"FLOAT[${p.dim}]", false, "[]"))
    (fileCount, rows ++ embedding, entry.warnings)
  }

  /** [[inspectRows]] as a DataFrame. */
  def inspect(glob: String): (Long, DataFrame, Seq[ParseWarning]) = {
    val (fileCount, rows, warnings) = inspectRows(glob)
    (fileCount, spark.createDataFrame(rows.asJava, SchemaInfer.Schema), warnings)
  }
}
