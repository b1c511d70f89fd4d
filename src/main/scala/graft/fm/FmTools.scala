package graft.fm

import org.apache.spark.sql.SparkSession

import graft.semantic.{IndexerState, SemanticContext}

/** The reference's complete tool surface as one facade (reference
  * `server.py` tool registry + `main()` at `server.py:663-675`): every
  * MCP tool maps to a method, responses carry the reference's shapes
  * (`{results,row_count,columns}`, `{updated_count,updated_files}`,
  * `{state,message}` — `server.py:39-57`), and the semantic tools exist
  * only when `FRONTMATTER_ENABLE_SEMANTIC` is set (conditional tool
  * registration, A24) — calling them otherwise is an error, mirroring the
  * hidden-tool behavior.
  */
final class FmTools(spark: SparkSession, val settings: Settings) {

  private val semanticCtx: Option[SemanticContext] =
    if (settings.enableSemantic) Some(new SemanticContext(spark, settings)) else None

  val engine = new QueryEngine(spark, settings, semanticCtx)

  private def requireSemantic: SemanticContext =
    semanticCtx.getOrElse(throw new IllegalStateException(
      "semantic tools are disabled: set FRONTMATTER_ENABLE_SEMANTIC"))

  /** `query` (server.py:121-169). */
  def query(glob: String, sql: String): Map[String, Any] =
    engine.query(glob, sql).response()

  /** `query_inspect` (server.py:87-118). */
  def queryInspect(glob: String): Map[String, Any] = {
    val (fileCount, rows, warnings) = engine.inspectRows(glob)
    val schema = rows.map { r =>
      r.getString(0) -> Map(
        "type" -> r.getString(1),
        "nullable" -> r.getBoolean(2),
        "examples" -> r.getString(3))
    }.toMap
    val base = Map("file_count" -> fileCount, "schema" -> schema)
    if (warnings.nonEmpty) base + ("warnings" -> warnings) else base
  }

  /** `update` (server.py:237-263). */
  def update(path: String, set: Map[String, Any] = Map.empty, unset: Seq[String] = Nil): Map[String, Any] = {
    val r = Mutations.update(settings.baseDir, path, set, unset)
    Map("path" -> r.path, "frontmatter" -> r.frontmatter)
  }

  private def batchResponse(r: Mutations.BatchResult): Map[String, Any] = {
    val base = Map(
      "updated_count" -> r.updatedCount,
      "updated_files" -> r.updatedFiles)
    // Reference-parity keys only below the listing cap; the extra key
    // appears exactly when the lists were bounded (builder extension).
    val withTrunc = if (r.listTruncated) base + ("list_truncated" -> true) else base
    if (r.warnings.nonEmpty) withTrunc + ("warnings" -> r.warnings) else withTrunc
  }

  def batchUpdate(glob: String, set: Map[String, Any] = Map.empty, unset: Seq[String] = Nil): Map[String, Any] =
    batchResponse(Mutations.batchUpdate(settings.baseDir, glob, set, unset))

  def batchArrayAdd(glob: String, property: String, value: Any, allowDuplicates: Boolean = false): Map[String, Any] =
    batchResponse(Mutations.batchArrayAdd(settings.baseDir, glob, property, value, allowDuplicates))

  def batchArrayRemove(glob: String, property: String, value: Any): Map[String, Any] =
    batchResponse(Mutations.batchArrayRemove(settings.baseDir, glob, property, value))

  def batchArrayReplace(glob: String, property: String, oldValue: Any, newValue: Any): Map[String, Any] =
    batchResponse(Mutations.batchArrayReplace(settings.baseDir, glob, property, oldValue, newValue))

  def batchArraySort(glob: String, property: String, reverse: Boolean = false): Map[String, Any] =
    batchResponse(Mutations.batchArraySort(settings.baseDir, glob, property, reverse))

  def batchArrayUnique(glob: String, property: String): Map[String, Any] =
    batchResponse(Mutations.batchArrayUnique(settings.baseDir, glob, property))

  /** `index_status` (server.py:172-185) — semantic only. */
  def indexStatus(): Map[String, Any] =
    Map("state" -> requireSemantic.indexer.state.toString)

  /** `index_wait` (server.py:188-213) — semantic only. */
  def indexWait(timeoutMillis: Long = 60000): Map[String, Any] = {
    val ctx = requireSemantic
    val completed = ctx.indexer.await(timeoutMillis)
    Map("success" -> completed, "state" -> ctx.indexer.state.toString)
  }

  /** `index_refresh` (server.py:216-234) — semantic only. */
  def indexRefresh(): Map[String, Any] = requireSemantic.indexer.start()

  /** `main()` behavior (server.py:663-675): start indexing at boot when
    * semantic is enabled.
    */
  def startup(): Unit = semanticCtx.foreach(_.indexer.start())
}
